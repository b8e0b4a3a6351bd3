package graft.projector

import graft.sinks.JdbcSink
import graft.streaming.{Incremental, StateStore}
import org.apache.spark.sql.SparkSession

/** EP1 — cold start / full backfill (SURVEY.md §3): replay the whole event
  * log in one batch job and overwrite all 8 tables. The Spark analogue of
  * the reference's dehydrate + truncate + binary-COPY phase
  * (`Worker.cs:32`, `RelationalDatabaseProjection.cs:460-495`).
  *
  * Usage: runMain graft.projector.Backfill <eventsParquet> <outDir>
  */
object Backfill {

  /** Full-log derivation + overwrite of all 8 tables; returns the high-
    * water `seq` the incremental catch-up starts from. Shared folded
    * subtrees (span state/enriched, spec dims) are cached once across the
    * 8 table writes ([[Derivations.deriveAllCached]]).
    *
    * `stateDir`, when set, additionally seeds a catch-up
    * [[graft.streaming.StateStore]] from the same log through the catch-up
    * derivation ([[graft.streaming.Incremental.seed]], one
    * [[graft.streaming.Incremental.step]] over the whole log — independent
    * of the tables written above) and records the high-water seq there —
    * the reference's dehydrate→flip handoff
    * (`RelationalDatabaseProjection.cs:460-495`): a subsequently started
    * [[graft.streaming.CatchUp]] continues incrementally from exactly
    * where this replay stopped instead of refolding the log. A `stateDir`
    * that already holds a seeded store is refused before anything is
    * derived or written. */
  def run(spark: SparkSession, eventsPath: String, outDir: String,
      stateDir: Option[String] = None): Long = {
    val store = stateDir.map(new StateStore(spark, _))
    store.foreach(Incremental.requireCold)
    val ev = EventLog.decode(
      spark.read.schema(EventLog.envelopeSchema).parquet(eventsPath)).cache()
    val (tables, release) = Derivations.deriveAllCached(ev)
    try {
      JdbcSink.writeParquet(tables, outDir)
      // empty log → null max; same guard as Incremental.seed (a backfill of
      // an empty event dir is a valid cold start, not an NPE)
      val hwRow = ev.agg(org.apache.spark.sql.functions.max("seq")).head()
      val hw = if (hwRow.isNullAt(0)) Long.MinValue else hwRow.getLong(0)
      store.foreach { st => Incremental.seed(st, ev); () }
      hw
    } finally {
      release()
      ev.unpersist()
      ()
    }
  }

  def main(args: Array[String]): Unit = {
    val (eventsPath, outDir, stateDir) = args match {
      case Array(e, o) => (e, o, None)
      case Array(e, o, s) => (e, o, Some(s))
      case _ => sys.error("usage: Backfill <eventsParquet> <outDir> [stateDir]")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.streaming.CatchUp.profile(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-backfill"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val highWater = run(spark, eventsPath, outDir, stateDir)
    println(s"""{"backfill":"done","high_water":$highWater,"out":"$outDir"}""")
    spark.stop()
  }
}
