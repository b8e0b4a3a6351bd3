package graft.sinks

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

/** [[BucketedWrite]] layout contract: two tables bucketed on their join
  * key with the same bucket count join back with ZERO exchanges (the
  * co-located-join guarantee the sink exists for), and the bucketed
  * result is row-identical to the plain shuffled join. */
class BucketedWriteSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  test("bucket-aligned join plans with no exchange and matches the shuffled join") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bucketed").toString
    // force a non-broadcast join so the exchange-elimination claim is
    // actually exercised (broadcast would hide it)
    try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val li = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_totalprice"))
      BucketedWrite.writeBucketed(li, "li_bucketed", s"$tmp/li",
        "l_orderkey", nBuckets = 8, sortCols = Seq("l_orderkey"))
      BucketedWrite.writeBucketed(o, "o_bucketed", s"$tmp/o",
        "o_orderkey", nBuckets = 8, sortCols = Seq("o_orderkey"))

      val joined = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
      val p = joined.queryExecution.executedPlan.toString()
      assert(!p.contains("Exchange"),
        s"bucket-aligned join must not shuffle either side:\n$p")

      val expected = li.join(o, col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() === expected)

      // and an aggregation keyed on the bucket column skips its exchange too
      val agg = spark.table("li_bucketed").groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("q"))
      val ap = agg.queryExecution.executedPlan.toString()
      assert(!ap.contains("Exchange hashpartitioning"),
        s"bucket-keyed aggregation must not shuffle:\n$ap")
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS o_bucketed")
      val root = java.nio.file.Paths.get(tmp)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      ()
    }
  }
}
