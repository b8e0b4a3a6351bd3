package graft

import org.apache.spark.sql.SparkSession

/** Plan auditor: prints the formatted physical plan of selected queries so
  * pushdown / join strategy / codegen coverage can be inspected and
  * regression-checked (see README scale notes).
  *
  * Usage: runMain graft.PlanCheck [queryName ...]   (default: a core set)
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.profile(SparkSession.builder().master("local[4]"), "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q1_pricing_summary", "q2_filter_project", "q3_join_agg",
        "evt_lww_state", "dedup_exact", "ann_brute_topk")
    names.foreach { n =>
      println(s"\n================ $n ================")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
