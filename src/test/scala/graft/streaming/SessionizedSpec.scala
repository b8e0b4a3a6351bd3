package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Gap-based session windows ([[Sessionized.userSessions]]): events
  * within the gap merge into one session, an event at EXACTLY lastTs+gap
  * still MERGES (Spark merges sessions on `start <= prevEnd` — touch
  * counts; the oracle's lag predicate must therefore be strict `>`), an
  * event one µs past the gap opens a new session, and in append mode a
  * session is emitted only after the watermark passes its close — the
  * state-eviction contract that bounds streaming sessionization at any
  * volume. A query restarted on its checkpoint resumes the in-flight
  * sessions.
  */
class SessionizedSpec extends SparkTestBase {
  import spark.implicits._

  private def us(sec: Long) = sec * 1000000L

  test("batch: gap merge, exact-gap touch merges, gap+1µs splits, end = lastTs + gap") {
    // user 1: events at 0s, 10s (merge), then 10s + 30min EXACTLY (touch →
    // still merges); user 2: one event; user 3: second event 1 µs past the
    // gap → splits
    val df = Seq(
      (us(0), 1L, 1.0), (us(10), 1L, 2.0), (us(10 + 1800), 1L, 4.0),
      (us(5), 2L, 8.0),
      (us(0), 3L, 1.0), (us(1800) + 1L, 3L, 2.0)
    ).toDF("ts_us", "user_id", "value")
    val out = Sessionized.userSessions(df, gap = "30 minutes")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    assert(out === Set(
      (1L, us(0), us(1810) + us(1800), 3L, 7.0),
      (2L, us(5), us(5) + us(1800), 1L, 8.0),
      (3L, us(0), us(1800), 1L, 1.0),
      (3L, us(1800) + 1L, us(3600) + 1L, 1L, 2.0)), s"sessions: $out")
  }

  test("scalacheck parity with the naive gap-split sessionizer (strict-> split rule)") {
    // random per-user µs timelines on a coarse grid so exact-gap touches
    // occur; model: sort, split when gap > gapUs (STRICT — touch merges)
    val gapUs = 60L * 1000000L
    val evGen = org.scalacheck.Gen.zip(
      org.scalacheck.Gen.choose(1L, 5L), org.scalacheck.Gen.choose(0L, 20L))
    val evs = org.scalacheck.Gen.listOfN(400, evGen).sample.get
      .map { case (u, slot) => (slot * gapUs / 2, u, 1.0) }.distinct
    val got = Sessionized.userSessions(
        evs.toDF("ts_us", "user_id", "value"), gap = "60 seconds")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    val expected = evs.groupBy(_._2).flatMap { case (u, rows) =>
      val ts = rows.map(_._1).sorted
      val sessions = ts.tail.foldLeft(List(List(ts.head))) { (acc, t) =>
        if (t - acc.head.head > gapUs) List(t) :: acc
        else (t :: acc.head) :: acc.tail
      }
      sessions.map(s => (u, s.min, s.max + gapUs, s.size.toLong, s.size.toDouble))
    }.toSet
    assert(got === expected)
  }

  test("streaming: a session is emitted once the watermark passes its close") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Long, Double)]
    val sessions = Sessionized.userSessions(
      input.toDF().toDF("ts_us", "user_id", "value"),
      gap = "30 seconds", lateness = "10 seconds")

    val q = sessions.writeStream.format("memory").queryName("user_sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: a two-event session for user 1 closing at 40s, and a far-
      // ahead row at t=500s that advances the watermark to 490s — past the
      // close, so the first session finalizes and its state evicts
      input.addData((us(0), 1L, 1.0), (us(10), 1L, 2.0), (us(500), 2L, 9.0))
      q.processAllAvailable()
      val rows = spark.table("user_sessions")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      assert(rows === Set((1L, us(0), 2L)), s"finalized sessions: $rows")
      // user 2's session (closes 530s) is still open — not emitted
      assert(!rows.exists(_._1 == 2L), s"unfinalized session emitted: $rows")
    } finally {
      q.stop()
      spark.sql("DROP VIEW IF EXISTS user_sessions")
      ()
    }
  }

  test("session twin merges a post-restart event into the recovered in-flight session") {
    // a query restarted against the SAME checkpoint must resume its keyed
    // session state: u1's session is split across the restart, so a
    // fresh-state restart would open a second session and a reprocessing
    // restart would double-emit
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withConf(RocksDb) {
      val base = java.nio.file.Files.createTempDirectory("graft_restart").toString
      val (ckpt, out) = (s"$base/ckpt", s"$base/out")
      try {
        val input = MemoryStream[(Long, Long, Double)]
        def start() = Sessionized.userSessions(
            input.toDF().toDF("ts_us", "user_id", "value"),
            gap = "30 seconds", lateness = "0 seconds")
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append()).start()

        // run 1: u1's session is IN FLIGHT (events at 0 s and 10 s; closes
        // at 40 s; the watermark stops at 10 s, so nothing is emitted)
        val q1 = start()
        input.addData((us(0), 1L, 1.0), (us(10), 1L, 2.0))
        q1.processAllAvailable()
        q1.stop()

        // run 2 (same checkpoint): u1's 20 s event must MERGE into the
        // recovered session (fresh state would open a new session at 20 s);
        // the 500 s row advances the watermark past the merged close (50 s)
        // so exactly one finalized u1 session emits
        val q2 = start()
        input.addData((us(20), 1L, 4.0), (us(500), 9L, 9.0))
        q2.processAllAvailable()
        q2.stop()

        val got = spark.read.parquet(out)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
          .filter(_._1 == 1L).toSet
        assert(got === Set((1L, us(0), us(50), 3L, 7.0)),
          s"expected ONE merged session spanning the restart, got: $got")
      } finally { org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base)); () }
    }
  }
}
