package graft.streaming

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** [[GapFillStream]] ≡ the batch `gapFillOf` on the same events fed
  * across micro-batches in event-time order: eager hour closes + gap
  * synthesis on later-hour arrival, final hours closed by watermark
  * timers — the full dense grid (bounds, zero-filled counts,
  * forward-filled values) must match the batch window/explode shape
  * exactly, and a watermark-late straggler is dropped before the
  * processor rather than double-emitting its hour. */
class GapFillStreamSpec extends SparkTestBase {
  import spark.implicits._

  test("streamed gap-fill equals the batch dense grid, final hours closed by watermark") {
    withConf(RocksDb) {
      val dir = "/root/testdata/sf0.001"
      // the batch query's exact input slice, cents derived via the same
      // DECIMAL(18,2) path the batch operator uses
      val ev = Tables.events(spark, dir).filter(col("user_id") % 10 === 0)
      val expected = graft.queries.EventFold.gapFillOf(ev)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet

      val feed = ev.select(col("user_id"), col("event_id"), col("ts_us"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"),
          timestamp_micros(col("ts_us")).as("ts"))
        .orderBy(col("ts_us"), col("event_id"))
        .collect()
        .map(r => GapFillStream.GapEvent(r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getTimestamp(4)))
      val n = feed.length
      val chunks = Seq(feed.slice(0, n / 3), feed.slice(n / 3, 2 * n / 3),
        feed.slice(2 * n / 3, n))
      val maxTsUs = feed.map(_.tsUs).max
      // watermark-advancing sentinel: a throwaway user far past every real
      // event; the global watermark then passes every real user's open-hour
      // timer, closing their final hours — the sentinel's own hour stays
      // open and emits nothing
      val sentinelUser = Long.MaxValue
      val sentinelTs = maxTsUs + 10L * GapFillStream.HourUs
      val sentinel = GapFillStream.GapEvent(sentinelUser, Long.MaxValue - 1,
        sentinelTs, 0L, new java.sql.Timestamp(sentinelTs / 1000L))

      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[GapFillStream.GapEvent]
      val q = GapFillStream.gapFill(
          input.toDS().withWatermark("ts", "0 seconds"))
        .writeStream.format("memory").queryName("gapfill_stream")
        .outputMode(OutputMode.Append()).start()
      try {
        (chunks.map(_.toSeq) :+ Seq(sentinel)).foreach { c =>
          input.addData(c); q.processAllAvailable()
        }
        val got = spark.table("gapfill_stream").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .filter(_._1 != sentinelUser)
          .map(t => (t._1, t._2, t._3, t._4 / 100.0))
          .toSet
        assert(got.size === expected.size,
          s"grid size ${got.size} != batch ${expected.size}")
        assert(got === expected)
        // fixture sanity: the grid actually contains gap rows
        assert(expected.exists(_._3 == 0L), "corpus must exercise gap hours")
      } finally {
        q.stop()
        spark.sql("DROP VIEW IF EXISTS gapfill_stream")
        ()
      }
    }
  }

  test("an event behind the watermark-closed grid is dropped, never double-emitted") {
    withConf(RocksDb) {
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val hourUs = GapFillStream.HourUs
      def evAt(user: Long, eid: Long, tsUs: Long) =
        GapFillStream.GapEvent(user, eid, tsUs, 100L,
          new java.sql.Timestamp(tsUs / 1000L))
      val input = MemoryStream[GapFillStream.GapEvent]
      val q = GapFillStream.gapFill(
          input.toDS().withWatermark("ts", "0 seconds"))
        .writeStream.format("memory").queryName("gapfill_stream_late")
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData(Seq(evAt(1L, 1L, hourUs / 2)))
        q.processAllAvailable()
        // sentinel advances the watermark far past user 1's hour 0 →
        // timer closes it
        input.addData(Seq(evAt(99L, 2L, 10L * hourUs)))
        q.processAllAvailable()
        val closed = spark.table("gapfill_stream_late").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        assert(closed.toSet === Set((1L, 0L, 1L, 100L)),
          s"watermark must close user 1's hour 0 exactly once: ${closed.toSeq}")
        // a straggler for the closed hour: every hour-h event is
        // sub-watermark once h closed (hourEnd <= wm), so Spark's
        // late-row filter drops it before the processor — the grid must
        // not grow and hour 0 must not emit twice
        input.addData(Seq(evAt(1L, 3L, hourUs / 2 + 1)))
        q.processAllAvailable()
        val after = spark.table("gapfill_stream_late").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        assert(after.toSet === closed.toSet,
          s"late row must be dropped, got ${after.toSeq}")
      } finally {
        q.stop()
        spark.sql("DROP VIEW IF EXISTS gapfill_stream_late")
        ()
      }
    }
  }
}
