package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** [[AttributionStream]] ≡ the batch window-carry attribution
  * ([[graft.queries.EventFold.attributionCreditsOf]]) per purchase, for
  * any chunking of an in-order feed — including the same-timestamp
  * smaller-event-id touch the strictly-preceding window frame admits,
  * the lookback expiry edge, and cold purchases. Out-of-order input
  * fails fast (the twin convention). */
class AttributionStreamSpec extends SparkTestBase {
  import spark.implicits._

  private def batchCredits(evs: Seq[AttributionStream.TouchEvent]): Set[(Long, Long, String, Long)] =
    graft.queries.EventFold.attributionCreditsOf(
      evs.map(e => (e.userId, e.eventId, e.tsUs, e.eventType,
          BigDecimal(e.valueCents) / 100))
        .toDF("user_id", "event_id", "ts_us", "event_type", "dv")
        .withColumn("dv", col("dv").cast("decimal(18,2)")))
      .select(col("user_id"), col("event_id"), col("touch_type"),
        (col("dv") * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet

  private def streamCredits(batches: Seq[Seq[AttributionStream.TouchEvent]]): Set[(Long, Long, String, Long)] = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[AttributionStream.TouchEvent]
    val q = AttributionStream.credits(input.toDS())
      .writeStream.format("memory").queryName("attr_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      spark.table("attr_stream")
        .select(col("userId"), col("eventId"), col("touchType"), col("valueCents"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
        .toSet
    } finally {
      q.stop()
      spark.sql("DROP VIEW IF EXISTS attr_stream")
      ()
    }
  }

  private val day = 86400L * 1000000L

  test("edge fixture: same-ts touch, lookback expiry, cold purchase, touch replacement") { withConf(RocksDb) {
    import AttributionStream.TouchEvent
    val evs = Seq(
      // u1: click at t, purchase at SAME ts with larger event id — credited
      TouchEvent(1L, 10L, 1000L, "click", 500L),
      TouchEvent(1L, 11L, 1000L, "purchase", 500L),
      // u1: view replaces the click; later purchase credits the view
      TouchEvent(1L, 12L, 2000L, "view", 0L),
      TouchEvent(1L, 13L, 3000L, "purchase", 700L),
      // u2: touch then a purchase 8 days later — expired, "none"
      TouchEvent(2L, 20L, 1000L, "click", 0L),
      TouchEvent(2L, 21L, 1000L + 8L * day, "purchase", 900L),
      // u3: cold purchase
      TouchEvent(3L, 30L, 5000L, "purchase", 100L),
      // u2: exactly-at-lookback purchase — 7 days is INSIDE (<=)
      TouchEvent(2L, 22L, 9L * day, "click", 0L),
      TouchEvent(2L, 23L, 16L * day, "purchase", 300L))
    val expected = batchCredits(evs)
    // one batch, and per-event chunking — both must equal the batch carry
    assert(streamCredits(Seq(evs)) === expected)
    assert(streamCredits(evs.map(Seq(_))) === expected)
    // and the fixture exercises every branch
    val byEid = expected.map(t => t._2 -> t._3).toMap
    assert(byEid(11L) === "click" && byEid(13L) === "view" &&
      byEid(21L) === "none" && byEid(30L) === "none" && byEid(23L) === "click")
  } }

  test("random in-order feeds: chunked streaming equals the batch window carry") { withConf(RocksDb) {
    val rnd = new scala.util.Random(53)
    import AttributionStream.TouchEvent
    val types = Seq("click", "view", "purchase", "signup", "error")
    val evs = (1L to 300L).map { i =>
      TouchEvent(rnd.nextInt(8).toLong, i, i * (day / 2) / 10 + rnd.nextInt(3),
        types(rnd.nextInt(types.size)), rnd.nextInt(1000).toLong)
    }.sortBy(e => (e.tsUs, e.eventId))
    // ensure per-user in-order: global sort suffices (ts, eventId unique)
    val expected = batchCredits(evs)
    val chunks = evs.grouped(37).toSeq
    assert(streamCredits(chunks) === expected)
  } }

  test("out-of-order input fails fast instead of silently mis-crediting") { withConf(RocksDb) {
    import AttributionStream.TouchEvent
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[TouchEvent]
    val q = AttributionStream.credits(input.toDS())
      .writeStream.format("memory").queryName("attr_stream_ooo")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(TouchEvent(1L, 10L, 5000L, "click", 0L))
      q.processAllAvailable()
      input.addData(TouchEvent(1L, 9L, 4000L, "purchase", 100L)) // regresses
      val e = intercept[Exception] { q.processAllAvailable() }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
      assert(msgs.contains("out-of-order"), s"expected the in-order guard, got: $msgs")
    } finally {
      q.stop()
      spark.sql("DROP VIEW IF EXISTS attr_stream_ooo")
      ()
    }
  } }
}
