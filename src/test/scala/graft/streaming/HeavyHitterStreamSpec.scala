package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** [[HeavyHitterStream]] ≡ the batch [[graft.functions.SpaceSavingAgg]]
  * per group in the exact regime, for ANY chunking and ANY arrival
  * order (counting is order-independent — the one twin with no
  * in-order contract), and the SpaceSaving est/err guarantees hold on
  * the stream under eviction pressure. */
class HeavyHitterStreamSpec extends SparkTestBase {
  import spark.implicits._

  // deterministic skew: group g's key k appears scale/k times
  private def events(groups: Seq[String], nKeys: Int, scale: Int): Seq[HeavyHitterStream.KeyedEvent] =
    groups.flatMap { g =>
      (1 to nKeys).flatMap(k =>
        Seq.fill(scale / k)(HeavyHitterStream.KeyedEvent(g, k.toLong + g.length)))
    }

  private def streamTopK(batches: Seq[Seq[HeavyHitterStream.KeyedEvent]],
      capacity: Int, k: Int): Map[String, Seq[(Long, Long, Long)]] = withConf(RocksDb) {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[HeavyHitterStream.KeyedEvent]
    val q = HeavyHitterStream.topK(input.toDS(), capacity, k)
      .writeStream.format("memory").queryName("hh_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      val rows = spark.table("hh_stream")
        .select(col("group"), col("key"), col("cnt"), col("err"),
          col("rank"), col("nSeen"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getInt(4), r.getLong(5)))
      // latest emission per group = the one with maximal nSeen
      rows.groupBy(_._1).map { case (g, rs) =>
        val last = rs.map(_._6).max
        g -> rs.filter(_._6 == last).sortBy(_._5).map(t => (t._2, t._3, t._4)).toSeq
      }
    } finally {
      q.stop()
      spark.sql("DROP VIEW IF EXISTS hh_stream")
      ()
    }
  }

  private def batchTopK(evs: Seq[HeavyHitterStream.KeyedEvent],
      capacity: Int, k: Int): Map[String, Seq[(Long, Long, Long)]] =
    evs.toDF("group", "key")
      .groupBy(col("group"))
      .agg(graft.functions.SpaceSavingAgg
        .heavyHitters(col("key"), capacity, k).as("hh"))
      .select(col("group"), posexplode(col("hh")).as(Seq("i", "e")))
      .select(col("group"), col("e.key"), col("e.cnt"), col("e.err"), col("i"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
      .groupBy(_._1).map { case (g, rs) =>
        g -> rs.sortBy(_._5).map(t => (t._2, t._3, t._4)).toSeq
      }

  test("exact regime: stream ≡ batch aggregate per group, for any chunking and order") {
    val evs = events(Seq("a", "bb"), nKeys = 30, scale = 300)
    val batch = batchTopK(evs, capacity = 64, k = 10)
    assert(batch.values.forall(_.forall(_._3 == 0L)), "exact regime must have err 0")
    // one chunk, three chunks, and a reversed-order feed
    val oneShot = streamTopK(Seq(evs), 64, 10)
    val chunked = streamTopK(evs.grouped(evs.size / 3 + 1).toSeq, 64, 10)
    val reversed = streamTopK(Seq(evs.reverse), 64, 10)
    assert(oneShot === batch)
    assert(chunked === batch)
    assert(reversed === batch)
  }

  test("eviction pressure on the stream: never undercounts, est − err ≤ true") {
    val evs = events(Seq("g"), nKeys = 120, scale = 1200) // 120 distinct, capacity 16
    val truth = evs.groupBy(_.key).map { case (k, g) => k -> g.size.toLong }
    val got = streamTopK(evs.grouped(400).toSeq, capacity = 16, k = 16)("g")
    got.foreach { case (k, est, err) =>
      val t = truth.getOrElse(k, 0L)
      assert(est >= t, s"key $k: est $est < true $t")
      assert(est - err <= t, s"key $k: est-err ${est - err} > true $t")
    }
  }
}
