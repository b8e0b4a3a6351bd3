package graft.sinks

import graft.ProjectorTestBase
import graft.projector.{Derivations, EventLog, LogGen}
import graft.streaming.{CatchUp, Incremental, StateStore}
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Row}

import java.nio.file.Files
import scala.util.Random

/** [[MergeSink]] driven by the REAL [[CatchUp.startQuery]] stream
  * (VERDICT r5 #3) — the lakehouse counterpart of CatchUpStreamSpec's
  * JDBC test: `readStream → foreachBatch → Incremental.step → MERGE
  * statements`, including a mid-stream crash after a step applied but
  * before the checkpoint committed (the at-least-once case, which makes
  * the sink see the batch's statements delivered again on restart), a
  * restart folding new files, convergence of the applied FakeLake state
  * to the one-shot batch fold on all 8 tables, and statement-log replay
  * as a no-op. */
class MergeSinkStreamSpec extends ProjectorTestBase {

  private val envelopeSchema = StructType.fromDDL("seq BIGINT, event_type STRING, payload STRING")

  private def toDf(rows: Seq[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, envelopeSchema)
  }

  private def writeChunk(rows: Seq[Row], eventsDir: String, name: String): Unit = {
    val tmp = Files.createTempDirectory("graft-lake-chunk").toFile
    toDf(rows).coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    val target = new java.io.File(eventsDir)
    target.mkdirs()
    Files.move(part.toPath, new java.io.File(target, s"$name.parquet").toPath)
    ()
  }

  test("streamed MERGE delivery: crash, restart, lakehouse converges; statement replay is a no-op") {
    FakeLake.reset()
    val sink = MergeSink.mergeSink(FakeLake.execute, "graft")

    val dir = Files.createTempDirectory("graft-lake-stream").toFile
    val eventsDir = s"$dir/events"
    val store = new StateStore(spark, s"$dir/state")

    val events = LogGen.scenario(new Random(73))
    val rows = events.zipWithIndex.map { case (e, i) => Row((i + 1).toLong, e.typ, e.payload) }
    val third = rows.length / 3
    writeChunk(rows.slice(0, third), eventsDir, "00")

    // run 1: crash AFTER the step (store merged + statements delivered)
    // but BEFORE the checkpoint commit — the restart redelivers the batch;
    // the store-side applied_batch guard skips it, so the sink does NOT
    // see duplicate statements for a completed batch
    val q1 = CatchUp.startQuery(spark, eventsDir, store, Trigger.AvailableNow(),
      onBatch = _ => throw new RuntimeException("injected crash before checkpoint commit"),
      sink = sink)
    intercept[StreamingQueryException] { q1.awaitTermination() }

    // run 2: redelivered batch skipped, then the remaining files folded
    writeChunk(rows.slice(third, 2 * third), eventsDir, "01")
    val q2 = CatchUp.startQuery(spark, eventsDir, store, Trigger.AvailableNow(), sink = sink)
    q2.awaitTermination()
    writeChunk(rows.slice(2 * third, rows.length), eventsDir, "02")
    val q3 = CatchUp.startQuery(spark, eventsDir, store, Trigger.AvailableNow(), sink = sink)
    q3.awaitTermination()

    val oracle = Derivations.deriveAll(EventLog.decode(toDf(rows)).cache())
    def want(expected: DataFrame): Set[String] = expected.collect().map { r =>
      expected.columns.sorted.map(c => s"$c=${r.getAs[Any](c)}").mkString("|")
    }.toSet
    def got(table: String): Set[String] = FakeLake.contents(s"graft.$table")
      .map(m => m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("|"))
    oracle.foreach { case (table, expected) =>
      assert(got(table) === want(expected),
        s"lakehouse table $table diverged after streamed delivery with crash+restarts")
    }

    // the store-side tables agree with the lakehouse (one source of truth)
    oracle.foreach { case (table, expected) =>
      val fromStore = store.readAll(table, Incremental.outputSchema(table))
      assert(want(fromStore) === want(expected), s"store table $table diverged")
    }

    // at-least-once worst case at the SQL layer: replaying the ENTIRE
    // ordered statement log leaves every table unchanged
    import scala.jdk.CollectionConverters._
    val log = FakeLake.sqlLog.asScala.toVector
    assert(log.nonEmpty)
    val before = oracle.keys.map(t => t -> got(t)).toMap
    log.foreach(FakeLake.execute)
    oracle.keys.foreach { t =>
      assert(got(t) === before(t), s"replaying the statement log changed $t")
    }
  }
}
