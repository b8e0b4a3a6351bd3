package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** [[DecontamStream]] ≡ the batch substring-contamination counts for the
  * same documents and the same static probe, fed across micro-batches —
  * the stream-static join must see every window of every arriving doc
  * exactly once, and the in-row `array_distinct` must reproduce the
  * batch op's (doc, window) distinct. */
class DecontamStreamSpec extends SparkTestBase {
  import spark.implicits._

  test("streamed contamination counts equal the batch join on the same probe") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // eval set: two short docs; corpus: docs that overlap one, both, or
    // neither, plus one with an internally-repeated window (array_distinct)
    val eval = Seq("alpha beta gamma delta epsilon", "one two three four five")
      .toDF("text")
    val probe = DecontamStream.probeOf(eval, "text", w = 4).cache()
    val corpus = Seq(
      (1L, "alpha beta gamma delta zeta eta"),         // 1 hit (window 1)
      (2L, "x y z w v u"),                              // clean
      (3L, "one two three four five six"),              // 2 hits
      (4L, "q r s t q r s t q r s t"),                  // repeated windows, clean
      (5L, "beta gamma delta epsilon mu"))              // 1 hit
    val batches = Seq(corpus.take(2), corpus.slice(2, 4), corpus.drop(4))

    val input = MemoryStream[(Long, String)]
    val out = DecontamStream.flaggedCounts(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", probe, w = 4)
    val q = out.writeStream.format("memory").queryName("decontam_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      val got = spark.table("decontam_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).sorted.toSeq

      // batch model: the same explode/distinct/join/rollup, non-streaming
      val expected = DecontamStream.flaggedCounts(
          corpus.toDF("doc_id", "text"), "doc_id", "text", probe, w = 4)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).sorted.toSeq
      assert(got === expected)
      // and the fixture exercises all three cases
      val byDoc = got.map(t => t._1 -> t._4).toMap
      assert(byDoc(1L) === 1 && byDoc(2L) === 0 && byDoc(3L) === 1 &&
        byDoc(4L) === 0 && byDoc(5L) === 1)
      val hits = got.map(t => t._1 -> t._3).toMap
      assert(hits(3L) >= 2L, s"doc 3 must hit both eval windows: $got")
    } finally {
      q.stop()
      spark.sql("DROP VIEW IF EXISTS decontam_stream")
      probe.unpersist()
      ()
    }
  }

  test("probe join is size-gated: pinned broadcast under the cap, shuffled fallback at cap 0") {
    val eval = Seq("alpha beta gamma delta epsilon").toDF("text")
    val probe = DecontamStream.probeOf(eval, "text", w = 4).cache()
    val corpus = Seq(
      (1L, "alpha beta gamma delta zeta"),
      (2L, "x y z w v u"),
      (3L, "beta gamma delta epsilon mu")).toDF("doc_id", "text")
    // auto-broadcast OFF: a tiny test probe would otherwise be broadcast
    // by Catalyst on BOTH sides of the gate — with it disabled, only the
    // gate's PINNED broadcast() hint can produce a BroadcastHashJoin
    try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // same code path batch frames take — inspect the executed plan
      val bcast = DecontamStream.flaggedCounts(corpus, "doc_id", "text", probe, w = 4)
      val pB = bcast.queryExecution.executedPlan.toString
      assert(pB.contains("BroadcastHashJoin"),
        s"under the cap the probe must be a pinned broadcast:\n$pB")
      val shuffled = DecontamStream.flaggedCounts(corpus, "doc_id", "text", probe,
        w = 4, maxBroadcastProbe = 0L)
      val pS = shuffled.queryExecution.executedPlan.toString
      assert(!pS.contains("BroadcastHashJoin"),
        s"at cap 0 the probe join must take the shuffled fallback:\n$pS")
      // both sides of the gate agree on the answer
      val norm = (d: org.apache.spark.sql.DataFrame) => d.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).sorted.toSeq
      assert(norm(bcast) === norm(shuffled))

      // and the STREAMED fallback side stays in parity too
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[(Long, String)]
      val out = DecontamStream.flaggedCounts(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", probe,
        w = 4, maxBroadcastProbe = 0L)
      val q = out.writeStream.format("memory").queryName("decontam_stream_sh")
        .outputMode(OutputMode.Complete()).start()
      try {
        input.addData(1L -> "alpha beta gamma delta zeta", 2L -> "x y z w v u")
        q.processAllAvailable()
        input.addData(3L -> "beta gamma delta epsilon mu")
        q.processAllAvailable()
        assert(norm(spark.table("decontam_stream_sh")) === norm(shuffled))
      } finally {
        q.stop()
        spark.sql("DROP VIEW IF EXISTS decontam_stream_sh")
        ()
      }
    } finally {
      probe.unpersist()
      ()
    }
  }

  test("streamed split probe equals batch contamination_split on both sides of the gate (VERDICT r13 #8)") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val trainProbe = DecontamStream.trainProbeOf(docs, "doc_id", "text").cache()
    // the REAL batch query is the oracle-checked contract — the stream
    // twin must reproduce it bit-for-bit for every eval doc
    val expected = graft.queries.Pipeline.contaminationSplit(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getInt(4)))
      .sorted.toSeq
    assert(expected.nonEmpty && expected.exists(_._5 == 1),
      "fixture must contain leaked eval docs")

    val feed = docs.orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val chunks = feed.grouped(feed.length / 3 + 1).toSeq
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def runStream(cap: Long, name: String): Seq[(Long, String, Long, Long, Int)] = {
      val input = MemoryStream[(Long, String)]
      val out = DecontamStream.splitFlaggedCounts(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", trainProbe,
        w = 4, maxBroadcastProbe = cap)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Complete()).start()
      try {
        chunks.foreach { c => input.addData(c.toIndexedSeq); q.processAllAvailable() }
        spark.table(name).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getInt(4)))
          .sorted.toSeq
      } finally {
        q.stop()
        spark.sql(s"DROP VIEW IF EXISTS $name")
        ()
      }
    }
    try {
      assert(runStream(DecontamStream.MaxBroadcastProbeRows,
        "decontam_split_b") === expected)
      assert(runStream(0L, "decontam_split_s") === expected)
    } finally {
      trainProbe.unpersist()
      ()
    }
  }
}
