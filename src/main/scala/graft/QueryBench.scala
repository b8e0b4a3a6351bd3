package graft

import org.apache.spark.sql.SparkSession

/** Child-JVM query-suite benchmark (VERDICT r6 #1): runs EVERY SparkEntry
  * query in a freshly forked, right-sized JVM — the same isolation the
  * engine segment got in round 6 — and prints ONE JSON line with per-query
  * minima plus the [[Sentinel]] ambient probes.
  *
  * Why a fork: the in-suite numbers in [[Bench]] are measured inside a JVM
  * that has already run 40+ queries × 3 passes; allocator, ContextCleaner
  * and GC debt from that history inflate later queries in ways
  * `clearCache()+System.gc()` cannot fully drain, and host ambient load
  * shifts whole runs ±15–30% (observed on byte-identical code across
  * rounds). A fresh JVM per section plus sentinel probes before/between/
  * after the queries makes the two distinguishable: code regressions move
  * specific queries relative to the sentinel; host ambient moves the
  * sentinel itself.
  */
object QueryBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = SparkEntry.profile(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-query-bench"), cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Bench.warmUp(spark) // identical to the parent suite's warmup by construction
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val qMetrics = scala.collection.mutable.LinkedHashMap[String, String]()
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    // guarded like the parent suite (ADVICE r7): a sentinel failure (e.g. a
    // partial sfDir without lineitem.parquet) must degrade to (-1,-1)
    // probes + an errors entry, not kill the child and discard every
    // isolated query number the fork exists to produce
    try Sentinel.warm(spark, sfDir) catch { case _: Throwable => () }
    val sentinelPre = Bench.safeSentinel(spark, sfDir, runs, errors)
    val (firstHalf, secondHalf) = names.splitAt(names.size / 2)
    def runHalf(half: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]) =
      half.map { case (name, fn) =>
        // shared timing loop (Bench.timeOne): in-suite vs forked numbers
        // are only comparable if the isolation steps stay identical
        name -> Bench.timeOne(spark, sfDir, runs, name, fn, errors, qMetrics)._2
      }
    val r1 = runHalf(firstHalf)
    val sentinelMid = Bench.safeSentinel(spark, sfDir, runs, errors)
    val r2 = runHalf(secondHalf)
    val sentinelPost = Bench.safeSentinel(spark, sfDir, runs, errors)
    spark.stop()
    val qs = (r1 ++ r2).map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"\"$k\":\"$v\"" }.mkString("{", ",", "}")
    val qMetricsJson = qMetrics.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    println(s"""{"queries_forked":$qs,""" +
      s""""query_metrics":$qMetricsJson,""" +
      s""""sentinel":${Sentinel.json(Seq(sentinelPre, sentinelMid, sentinelPost))},""" +
      s""""errors":$errJson}""")
    // gc_budget flags are HOST-QUALIFIED by the parent (only it sees the
    // cross-segment sentinel spread) — the child reports them in its
    // errors JSON but never exit-1s on them
    if (errors.exists { case (k, _) => !k.startsWith("gc_budget:") }) sys.exit(1)
  }
}
