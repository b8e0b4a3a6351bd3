package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import scala.util.Random

/** [[SlidingAgg.rolling]] ≡ the batch RANGE-frame rolling aggregate
  * (`EventFold.slidingAggOf`) for any ts-group-aligned chunking of an
  * in-order feed: the per-key buffer state must carry the trailing
  * window across micro-batch boundaries, same-timestamp peers must see
  * each other (the RANGE-peer rule), and the exact cents sums must
  * match the batch DECIMAL(18,2) sums event for event.
  */
class SlidingAggStreamSpec extends SparkTestBase {
  import spark.implicits._

  test("chunked stream rolling agg equals the batch RANGE frame") { withConf(RocksDb) {
    val rnd = new Random(13)
    val hourUs = 3600L * 1000000L
    // 5 keys × 120 events over ~40 distinct timestamps spanning several
    // hours: plenty of same-(key, ts) peer groups and window evictions
    val events = (1L to 120L).map { id =>
      SlidingAgg.SlideEvent(s"u${rnd.nextInt(5)}", id,
        rnd.nextInt(40).toLong * 11L * 60L * 1000000L,
        rnd.nextInt(5000).toLong)
    }.sortBy(e => (e.tsUs, e.eventId))

    // batch oracle: the RANGE frame over the same rows (value = cents/100
    // is exact after the operator's DECIMAL(18,2) cast)
    val batchDf = events.toDF().select(col("eventId").as("event_id"),
      col("key").as("user_id"), col("tsUs").as("ts_us"),
      (col("cents").cast("decimal(18,2)") / 100).cast("double").as("value"))
    val expected = graft.queries.EventFold.slidingAggOf(batchDf)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), math.round(r.getDouble(3) * 100))))
      .toMap

    // chunk the in-order feed into 5 micro-batches, never splitting a
    // same-ts group (the documented in-order contract)
    val tsGroups = events.groupBy(_.tsUs).toSeq.sortBy(_._1).map(_._2)
    val chunkCount = 5
    val chunks = tsGroups.zipWithIndex
      .groupBy(_._2 * chunkCount / tsGroups.length)
      .toSeq.sortBy(_._1).map(_._2.flatMap(_._1))

    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[SlidingAgg.SlideEvent]
    val q = SlidingAgg.rolling(input.toDS(), hourUs)
      .writeStream.format("memory").queryName("sliding_agg")
      .outputMode(OutputMode.Append()).start()
    try {
      chunks.foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val got = spark.table("sliding_agg").collect()
        .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3))))
        .toMap
      assert(got.size === events.size)
      assert(got === expected)
    } finally {
      q.stop()
      spark.sql("DROP VIEW IF EXISTS sliding_agg")
    }
  } }

  test("acceptEqualTs: a peer group split across batches re-emits and converges to the batch frame (VERDICT r13 #9)") { withConf(RocksDb) {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val hourUs = 3600L * 1000000L
    val t0 = 10L * 1000000L
    val input = MemoryStream[SlidingAgg.SlideEvent]
    val q = SlidingAgg.rolling(input.toDS(), hourUs, acceptEqualTs = true)
      .writeStream.format("memory").queryName("sliding_agg_eqts")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: two peers at t0 (emitted as a group of 2)
      input.addData(Seq(SlidingAgg.SlideEvent("k", 1L, t0, 100L),
        SlidingAgg.SlideEvent("k", 2L, t0, 200L)))
      q.processAllAvailable()
      // batch 2 SPLITS the peer group: a third event at the same t0 —
      // the default strict guard would fail fast; under acceptEqualTs
      // the stored peers re-emit with the recomputed aggregate
      input.addData(Seq(SlidingAgg.SlideEvent("k", 3L, t0, 400L),
        SlidingAgg.SlideEvent("k", 4L, t0 + 1000L, 1000L)))
      q.processAllAvailable()
      val rows = spark.table("sliding_agg_eqts").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      // events 1 and 2 emit TWICE (initial + corrected); last-write-wins
      // per eventId equals the batch RANGE frame over the full feed
      assert(rows.count(_._1 == 1L) === 2)
      assert(rows.count(_._1 == 2L) === 2)
      val lastById = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (id, rs) => id -> rs.maxBy(_._2)._1 }
      assert(lastById(1L) === ((1L, 3L, 700L)), s"corrected peer row: $lastById")
      assert(lastById(2L) === ((2L, 3L, 700L)))
      assert(lastById(3L) === ((3L, 3L, 700L)))
      assert(lastById(4L) === ((4L, 4L, 1700L)))
    } finally {
      q.stop()
      spark.sql("DROP VIEW IF EXISTS sliding_agg_eqts")
    }
  } }

  test("an out-of-order micro-batch fails fast instead of corrupting sums") { withConf(RocksDb) {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[SlidingAgg.SlideEvent]
    val q = SlidingAgg.rolling(input.toDS(), 3600L * 1000000L)
      .writeStream.format("memory").queryName("sliding_agg_ooo")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Seq(SlidingAgg.SlideEvent("k", 1L, 10L * 1000000L, 100L)))
      q.processAllAvailable()
      // second batch carries a ts BEHIND the stored window tail — the
      // in-order contract guard must surface this as an error
      input.addData(Seq(SlidingAgg.SlideEvent("k", 2L, 1L * 1000000L, 100L)))
      val e = intercept[Exception] { q.processAllAvailable() }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
      assert(msgs.contains("out-of-order micro-batch"))
    } finally {
      q.stop()
      spark.sql("DROP VIEW IF EXISTS sliding_agg_ooo")
    }
  } }
}
