package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** [[PathStream]] ≡ the batch lag-window trigram frame
  * ([[graft.queries.EventFold.topPathTrigramsOf]]) row for row, for any
  * chunking of an in-order feed — every emitted trigram carries the
  * completing event's id, so parity is on exact rows, not a multiset
  * summary. Cold journeys re-prime (no emission until the third
  * event); out-of-order input fails fast (the twin convention). */
class PathStreamSpec extends SparkTestBase {
  import spark.implicits._

  private def batchTrigrams(evs: Seq[PathStream.PathEvent]): Set[(Long, Long, String, String, String)] =
    graft.queries.EventFold.topPathTrigramsOf(
      evs.map(e => (e.userId, e.eventId, e.eventType))
        .toDF("user_id", "event_id", "event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getString(2), r.getString(3), r.getString(4)))
      .toSet

  private def streamTrigrams(batches: Seq[Seq[PathStream.PathEvent]]): Set[(Long, Long, String, String, String)] = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[PathStream.PathEvent]
    val q = PathStream.trigrams(input.toDS())
      .writeStream.format("memory").queryName("path_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      spark.table("path_stream")
        .select(col("userId"), col("eventId"), col("t1"), col("t2"), col("t3"))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getString(2), r.getString(3), r.getString(4)))
        .toSet
    } finally {
      q.stop()
      spark.sql("DROP VIEW IF EXISTS path_stream")
      ()
    }
  }

  test("chunked streaming equals the batch lag-window frame on random journeys") { withConf(RocksDb) {
    val rnd = new scala.util.Random(71)
    val types = Seq("click", "view", "purchase", "signup", "error")
    val evs = (1L to 300L).map { i =>
      PathStream.PathEvent(rnd.nextInt(7).toLong, i, types(rnd.nextInt(types.size)))
    }
    val expected = batchTrigrams(evs)
    assert(expected.nonEmpty)
    // one batch, per-event chunks, and ragged chunks — all identical
    assert(streamTrigrams(Seq(evs)) === expected)
    assert(streamTrigrams(evs.map(Seq(_))) === expected)
    assert(streamTrigrams(evs.grouped(41).toSeq) === expected)
  } }

  test("journeys shorter than 3 events emit nothing; the third event emits") { withConf(RocksDb) {
    import PathStream.PathEvent
    val evs = Seq(PathEvent(1L, 1L, "a"), PathEvent(1L, 2L, "b"),
      PathEvent(2L, 3L, "x"), PathEvent(1L, 4L, "c"))
    val got = streamTrigrams(evs.map(Seq(_)))
    assert(got === Set((1L, 4L, "a", "b", "c")))
  } }

  test("trigram stream feeds HeavyHitterStream: live top paths equal the batch rollup (exact regime)") { withConf(RocksDb) {
    // the documented composition: PathStream extracts, SpaceSaving
    // summarizes — keyed by the path string's hash (capacity ≥ distinct
    // paths ⇒ exact counts, err 0, so the live top-k must equal the
    // batch evt_top_paths rollup on the same feed)
    val rnd = new scala.util.Random(97)
    val types = Seq("click", "view", "purchase")
    val evs = (1L to 240L).map { i =>
      PathStream.PathEvent(rnd.nextInt(5).toLong, i, types(rnd.nextInt(types.size)))
    }
    def pathKey(t1: String, t2: String, t3: String): Long = {
      // any injective path→long encoding works for the count contract;
      // 3 types ⇒ base-4 digits are collision-free by construction
      def d(t: String) = types.indexOf(t).toLong + 1L
      (d(t1) * 16L + d(t2) * 4L + d(t3))
    }
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[PathStream.PathEvent]
    val hh = HeavyHitterStream.topK(
      PathStream.trigrams(input.toDS())
        .map(t => HeavyHitterStream.KeyedEvent("paths", pathKey(t.t1, t.t2, t.t3))),
      capacity = 64, k = 10)
    val q = hh.writeStream.format("memory").queryName("live_paths")
      .outputMode(OutputMode.Append()).start()
    try {
      evs.grouped(29).foreach { b => input.addData(b: _*); q.processAllAvailable() }
      val rows = spark.table("live_paths")
        .select(col("key"), col("cnt"), col("err"), col("rank"), col("nSeen"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getInt(3), r.getLong(4)))
      val lastN = rows.map(_._5).max
      val live = rows.filter(_._5 == lastN).sortBy(_._4)
        .map(t => (t._1, t._2, t._3)).toSeq
      // batch truth: count the trigram multiset directly
      val all = batchTrigrams(evs).toSeq
        .groupBy(t => pathKey(t._3, t._4, t._5))
        .map { case (k2, v) => (k2, v.size.toLong) }.toSeq
      val batch = all.sortBy { case (k2, n) => (-n, k2) }.take(10)
      assert(lastN === all.map(_._2).sum,
        s"summary must have absorbed every trigram: $lastN")
      assert(live.map(t => (t._1, t._2)) === batch,
        s"live top paths diverge from the batch rollup:\nlive:  $live\nbatch: $batch")
      assert(live.forall(_._3 === 0L), s"exact regime must carry err 0: $live")
    } finally {
      q.stop()
      spark.sql("DROP VIEW IF EXISTS live_paths")
      ()
    }
  } }

  test("out-of-order input fails fast instead of silently re-windowing") { withConf(RocksDb) {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[PathStream.PathEvent]
    val q = PathStream.trigrams(input.toDS())
      .writeStream.format("memory").queryName("path_stream_ooo")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(PathStream.PathEvent(1L, 10L, "a"))
      q.processAllAvailable()
      input.addData(PathStream.PathEvent(1L, 9L, "b")) // id regresses
      val e = intercept[Exception] { q.processAllAvailable() }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
      assert(msgs.contains("out-of-order"), s"expected the in-order guard, got: $msgs")
    } finally {
      q.stop()
      spark.sql("DROP VIEW IF EXISTS path_stream_ooo")
      ()
    }
  } }
}
