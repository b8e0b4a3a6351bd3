package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import scala.util.Random

/** [[RateLimited.admitFirst]] ≡ the batch rate limiter's
  * `row_number() <= max` rewrite, for ANY chunking of an in-order feed:
  * the keyed counter state must carry admission across micro-batch
  * boundaries (a key whose quota filled in batch 1 admits nothing in
  * batch 3), and in-batch application must follow seq order. Also pins
  * that the admission INDEX (rn) matches, not just the admitted set.
  */
class RateLimitedSpec extends SparkTestBase {
  import spark.implicits._

  test("chunked stream admission equals the batch row_number rewrite") { withConf(RocksDb) {
    val rnd = new Random(11)
    val max = 2
    // few keys, many events → most keys exceed the quota
    val events = (1L to 90L).map(seq => RateLimited.AdmitEvent(s"k${rnd.nextInt(9)}", seq))

    // batch oracle: row_number over (key order by seq), keep <= max
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("seq"))
    val expected = events.toDF()
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= max)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet

    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[RateLimited.AdmitEvent]
    val q = RateLimited.admitFirst(input.toDS(), max)
      .writeStream.format("memory").queryName("rate_limited")
      .outputMode(OutputMode.Append()).start()
    try {
      // three in-order chunks — quota must carry across the boundaries
      events.grouped(30).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val got = spark.table("rate_limited").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
      assert(got === expected)
    } finally {
      q.stop()
      spark.sql("DROP VIEW IF EXISTS rate_limited")
    }
  } }
}
