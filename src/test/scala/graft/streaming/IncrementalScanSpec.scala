package graft.streaming

import graft.ProjectorTestBase
import graft.projector.{EventLog, Sim}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Row}

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

/** The O(delta) contract, measured: a micro-batch touching a handful of
  * keys must READ a small fraction of the stored state (bucket pruning +
  * keyed semi joins), not re-scan it — the property that makes the
  * 2-second catch-up loop viable when the log is 100 TB and the state is
  * millions of entities (VERDICT r2 #1).
  */
class IncrementalScanSpec extends ProjectorTestBase {

  private val envelopeSchema = StructType.fromDDL("seq BIGINT, event_type STRING, payload STRING")

  private def toDf(rows: Seq[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, envelopeSchema)
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  test("micro-batch file reads are bounded by touched buckets, not state size") {
    val dir = Files.createTempDirectory("graft-scan").toFile
    // maxBucketBytes pins the SCALE regime: a new table starts at one
    // bucket and grows until its mean bucket fits the budget, so a truly
    // small table stays one file and is legitimately read whole. This spec
    // asserts the behavior at the size where buckets are justified: the
    // 0.7–0.85 MB installation tables grow to 64 buckets of 11–13 KB
    // (with the incompressible remarks), and a merge grows a table only
    // when a touched bucket passes 2 × 16 KB, so nothing re-layouts
    // mid-test.
    val store = new StateStore(spark, dir.getPath, maxBucketBytes = 16384)

    // seed: 4000 installations in one step → st_installation + installation
    // output populated across every bucket
    val rnd = new scala.util.Random(29)
    def remark(): String = Seq.fill(120)(('a' + rnd.nextInt(26)).toChar).mkString
    val seed = (1 to 4000).map { i =>
      val e = Sim.InstCreated(s"inst-$i", s"I-$i", Some(s"ua-$i"), "planned", Some(remark()))
      Row(i.toLong, e.typ, e.payload)
    }
    Incremental.step(store, EventLog.decode(toDf(seed)), batchId = 0L)
    val stateBytes = dirBytes(dir)
    assert(stateBytes > 200000, s"seed state unexpectedly small: $stateBytes B")
    Seq("st_installation", "installation").foreach { t =>
      assert(store.bucketCount(t) >= 32, s"$t seeded at ${store.bucketCount(t)} buckets")
    }

    // batch: 3 status updates — touches at most 3 buckets per table
    val batch = Seq("inst-17", "inst-1234", "inst-3999").zipWithIndex.map { case (id, i) =>
      val e = Sim.InstStatusChanged(id, "active")
      Row((4001 + i).toLong, e.typ, e.payload)
    }

    // attribute input bytes per stage: FILE-scan stages measure the store
    // reads (the O(delta) claim); other input (localCheckpoint block
    // round-trips) is batch-bounded by construction and counted separately
    val fileBytes = new AtomicLong(0L)
    val otherBytes = new AtomicLong(0L)
    val fileStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onStageSubmitted(s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit = {
        if (s.stageInfo.rddInfos.exists(_.name.contains("FileScanRDD"))) {
          fileStages.add(s.stageInfo.stageId); ()
        }
      }
      override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit =
        if (taskEnd.taskMetrics != null) {
          val b = taskEnd.taskMetrics.inputMetrics.bytesRead
          if (fileStages.contains(taskEnd.stageId)) { fileBytes.addAndGet(b); () }
          else { otherBytes.addAndGet(b); () }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Incremental.step(store, EventLog.decode(toDf(batch)), batchId = 1L)
      // listener delivery is async — wait for the bus to drain
      val deadline = System.currentTimeMillis() + 15000
      var last = -1L
      while (System.currentTimeMillis() < deadline && fileBytes.get() + otherBytes.get() != last) {
        last = fileBytes.get() + otherBytes.get(); Thread.sleep(500)
      }
    } finally spark.sparkContext.removeSparkListener(listener)

    val read = fileBytes.get()
    assert(read > 0, "expected some state file reads")
    assert(read < stateBytes / 4,
      s"batch file-read $read B of $stateBytes B state (cached-block traffic: " +
        s"${otherBytes.get()} B) — bucket pruning is not bounding I/O")

    // and the updates actually landed
    val out = store.readAll("installation", Incremental.outputSchema("installation"))
      .filter(org.apache.spark.sql.functions.col("status") === "active")
    assert(out.count() === 3)
  }
}
