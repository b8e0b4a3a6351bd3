package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator inventory of SURVEY.md §2 (plus the
  * training-data pipeline operators) expressed over the driver-provided
  * tables; `oracleSql` gives the DuckDB-equivalent for every
  * SQL-expressible entry (same column names/aliases on both sides —
  * the driver's compare hashes by column name).
  */
object SparkEntry {

  /** The queries profile: the Spark conf every query-suite session runs
    * under ([[Bench]], [[QueryBench]], [[Verify]], [[PlanCheck]] and the
    * test suites). `cpus` is the shuffle width; the caller sets the
    * master. */
  def profile(b: SparkSession.Builder, cpus: String): SparkSession.Builder = b
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // events.parquet may carry TIMESTAMP(NANOS); read it as BIGINT nanos
    // (Tables.events normalizes to µs) instead of erroring
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.queries ++
      graft.queries.EventFold.queries ++
      graft.queries.Sketches.queries ++
      graft.queries.Graphs.queries ++
      graft.queries.Pipeline.queries

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops →
    * driver records a weaker rows-only check.
    */
  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracleSql ++
      graft.queries.EventFold.oracleSql ++
      graft.queries.Sketches.oracleSql ++
      graft.queries.Graphs.oracleSql ++
      graft.queries.Pipeline.oracleSql
}
