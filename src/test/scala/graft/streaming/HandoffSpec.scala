package graft.streaming

import graft.ProjectorTestBase
import graft.projector.{Derivations, EventLog, LogGen, Sim}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Row}

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong
import scala.util.Random

/** The cold-start→catch-up phase handoff (VERDICT r3 #1): a store seeded
  * from a log prefix by [[Incremental.seed]] (the prefix folded as one
  * [[Incremental.step]]) plus incremental steps over the log TAIL must
  * equal the independent one-shot backfill ([[Derivations.deriveAll]]) of
  * the whole log — and the catch-up phase must pay I/O proportional to the
  * tail, with the seeded prefix's event files pruned to footer reads by the
  * high-water filter (the reference's dehydrate→`_bulkMode` flip,
  * `RelationalDatabaseProjection.cs:460-495`, `Worker.cs:32-48`).
  */
class HandoffSpec extends ProjectorTestBase {

  private val envelopeSchema = StructType.fromDDL("seq BIGINT, event_type STRING, payload STRING")

  private def toDf(rows: Seq[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, envelopeSchema)
  }

  private def normalized(df: DataFrame): Set[String] =
    df.collect().map { r =>
      df.columns.sorted.map(c => s"$c=${r.getAs[Any](c)}").mkString("|")
    }.toSet

  /** Write `rows` as ONE parquet file named `<name>.parquet` directly under
    * `eventsDir` (the streaming file source treats subdirectories as
    * partition columns, so chunk files must be flat siblings). */
  private def writeChunk(rows: Seq[Row], eventsDir: String, name: String): Unit = {
    val tmp = Files.createTempDirectory("graft-chunk").toFile
    toDf(rows).coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    val target = new java.io.File(eventsDir)
    target.mkdirs()
    Files.move(part.toPath, new java.io.File(target, s"$name.parquet").toPath)
    ()
  }

  /** The seed clears its own batch-0 marker, so the tail's batch 0
    * applies; a second seed on the now-warm store is refused. */
  test("step-seeded prefix [0,k] + steps over (k,n] equal the backfill of [0,n] on all 8 tables") {
    val events = LogGen.scenario(new Random(55))
    val rows = events.zipWithIndex.map { case (e, i) => Row((i + 1).toLong, e.typ, e.payload) }
    val k = rows.length / 2
    val stateDir = Files.createTempDirectory("graft-handoff").toFile.getPath
    val store = new StateStore(spark, stateDir)

    val hw = Incremental.seed(store, EventLog.decode(toDf(rows.take(k))))
    assert(hw === k.toLong)
    assert(store.highWater === k.toLong)
    assert(store.lastAppliedBatch.isEmpty)
    val reseed = intercept[IllegalArgumentException](
      Incremental.seed(store, EventLog.decode(toDf(rows.take(k)))))
    assert(reseed.getMessage.contains(stateDir), reseed.getMessage)

    // tail in 3 chunks through the batch-id path (snapshots + skip active)
    val tail = rows.drop(k)
    val bounds = (0 to 3).map(i => i * tail.length / 3)
    bounds.sliding(2).zipWithIndex.foreach { case (Seq(a, z), i) =>
      val chunk = tail.slice(a, z)
      if (chunk.nonEmpty) Incremental.step(store, EventLog.decode(toDf(chunk)), batchId = i.toLong)
    }

    val oracle = Derivations.deriveAll(EventLog.decode(toDf(rows)).cache())
    oracle.foreach { case (table, expected) =>
      val got = store.readAll(table, Incremental.outputSchema(table))
      assert(normalized(got) === normalized(expected), s"table $table diverged after handoff")
    }
  }

  /** A seed that died after its step committed leaves its bound and the
    * batch-0 marker behind, and the retry reads a log that has grown
    * since. It must record the bound of the batch the tables hold, not the
    * grown log's: the stream folds only `seq` above the high water, so a
    * larger one would drop the events in between for good. */
  test("a crashed seed retried over a grown log records the high water of the batch it folded") {
    val events = LogGen.scenario(new Random(56))
    val rows = events.zipWithIndex.map { case (e, i) => Row((i + 1).toLong, e.typ, e.payload) }
    val k = rows.length / 2
    val store = new StateStore(spark, Files.createTempDirectory("graft-reseed").toFile.getPath)

    // what a seed of [0,k] leaves when it dies between its step and its high water
    store.writeMeta("seed_bound", k.toString)
    Incremental.step(store, EventLog.decode(toDf(rows.take(k))), batchId = 0)

    assert(Incremental.seed(store, EventLog.decode(toDf(rows))) === k.toLong)
    assert(store.highWater === k.toLong)
    assert(store.lastAppliedBatch.isEmpty)
    assert(store.readMeta("seed_bound").isEmpty)
    Incremental.step(store, EventLog.decode(toDf(rows.drop(k))), batchId = 0)

    val oracle = Derivations.deriveAll(EventLog.decode(toDf(rows)).cache())
    oracle.foreach { case (table, expected) =>
      val got = store.readAll(table, Incremental.outputSchema(table))
      assert(normalized(got) === normalized(expected), s"table $table diverged after the re-seed")
    }
  }

  test("CatchUp cold start dehydrates in place, warm restarts skip it, stream folds only the tail") {
    val dir = Files.createTempDirectory("graft-cold").toFile
    val eventsDir = s"$dir/events"
    val store = new StateStore(spark, s"$dir/state")

    val events = LogGen.scenario(new Random(42))
    val rows = events.zipWithIndex.map { case (e, i) => Row((i + 1).toLong, e.typ, e.payload) }
    val k = rows.length / 2
    writeChunk(rows.take(k), eventsDir, "00")

    // cold: seeds from the existing files as one step, and leaves no
    // applied-batch marker that could mask the stream's own batch 0
    assert(CatchUp.dehydrateIfCold(spark, eventsDir, store))
    assert(store.highWater === k.toLong)
    assert(store.lastAppliedBatch.isEmpty)
    // second call is a no-op (already seeded)
    assert(!CatchUp.dehydrateIfCold(spark, eventsDir, store))

    // stream the tail; converge to the full one-shot derivation
    writeChunk(rows.drop(k), eventsDir, "01")
    val q = CatchUp.startQuery(spark, eventsDir, store, Trigger.AvailableNow())
    q.awaitTermination()
    // a checkpoint now exists → still a no-op even if high water were unset
    assert(!CatchUp.dehydrateIfCold(spark, eventsDir, store))

    val oracle = Derivations.deriveAll(EventLog.decode(toDf(rows)).cache())
    oracle.foreach { case (table, expected) =>
      val got = store.readAll(table, Incremental.outputSchema(table))
      assert(normalized(got) === normalized(expected), s"table $table diverged after cold start")
    }
  }

  test("catch-up I/O is bounded by the tail: seeded prefix files prune to footer reads") {
    val dir = Files.createTempDirectory("graft-handoff-io").toFile
    val eventsDir = s"$dir/events"
    val stateDir = s"$dir/state"
    // pin the scale regime (see IncrementalScanSpec): the seed grows each
    // new table from one bucket until its mean bucket fits 16 KB, and no
    // touched bucket nears the 2 × 16 KB merge trigger, so nothing
    // re-layouts mid-test
    val store = new StateStore(spark, stateDir, maxBucketBytes = 16384)

    // big prefix: 6000 installations with incompressible remarks
    val rnd = new Random(13)
    def remark(): String = Seq.fill(80)(('a' + rnd.nextInt(26)).toChar).mkString
    val prefix = (1 to 6000).map { i =>
      val e = Sim.InstCreated(s"inst-$i", s"I-$i", Some(s"ua-$i"), "planned", Some(remark()))
      Row(i.toLong, e.typ, e.payload)
    }
    writeChunk(prefix, eventsDir, "00-prefix")
    Incremental.seed(store, EventLog.decode(toDf(prefix)))
    Seq("st_installation", "installation").foreach { t =>
      assert(store.bucketCount(t) >= 32, s"$t seeded at ${store.bucketCount(t)} buckets")
    }

    // tail: 3 updates, written as a second file under the same source path
    val tailRows = Seq("inst-17", "inst-2345", "inst-5999").zipWithIndex.map { case (id, i) =>
      val e = Sim.InstStatusChanged(id, "active")
      Row((6001 + i).toLong, e.typ, e.payload)
    }
    writeChunk(tailRows, eventsDir, "01-tail")

    val prefixBytes = new java.io.File(eventsDir, "00-prefix.parquet").length()
    assert(prefixBytes > 200000, s"prefix unexpectedly small: $prefixBytes B")

    // run the REAL catch-up stream over the whole directory; the high-water
    // filter (seq > 6000) must prune the prefix file to footer-only reads
    val fileBytes = new AtomicLong(0L)
    val fileStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onStageSubmitted(s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (s.stageInfo.rddInfos.exists(_.name.contains("FileScanRDD"))) {
          fileStages.add(s.stageInfo.stageId); ()
        }
      override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit =
        if (taskEnd.taskMetrics != null && fileStages.contains(taskEnd.stageId)) {
          fileBytes.addAndGet(taskEnd.taskMetrics.inputMetrics.bytesRead); ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = CatchUp.startQuery(spark, eventsDir, store, Trigger.AvailableNow())
      q.awaitTermination()
      val deadline = System.currentTimeMillis() + 15000
      var last = -1L
      while (System.currentTimeMillis() < deadline && fileBytes.get() != last) {
        last = fileBytes.get(); Thread.sleep(500)
      }
    } finally spark.sparkContext.removeSparkListener(listener)

    val read = fileBytes.get()
    assert(read > 0, "expected some file reads during catch-up")
    // bound: tail file + prefix footer + ~6 touched state buckets of 64 —
    // structurally ≈ 0.19 × prefix; without pruning the prefix alone is 1×
    assert(read < prefixBytes / 3,
      s"catch-up read $read B vs $prefixBytes B prefix — high-water pruning is not bounding I/O")

    // and the tail actually landed
    val out = store.readAll("installation", Incremental.outputSchema("installation"))
      .filter(col("status") === "active")
    assert(out.count() === 3)
  }
}
