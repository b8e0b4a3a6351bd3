package perfbench

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.streaming.{Incremental, StateStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Output checks, run outside the timed window. Each table compared is
  * one attempted operation; a mismatch is a failed one. */
object Checks {

  private val tables: Seq[String] = Incremental.outputKey.keys.toSeq.sorted

  /** Rows as sorted strings over name-sorted columns: a multiset compare
    * independent of column order and row order. */
  private def rows(df: DataFrame): Vector[String] = {
    val cols = df.columns.sorted
    df.select(cols.map(col).toSeq: _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("\u0001")).toVector.sorted
  }

  /** The 8 output tables as the store holds them. `dropRow` removes one
    * row from the first table: the self-test's proof that the check can
    * fail. */
  private def storeTables(store: StateStore, dropRow: Boolean): Map[String, DataFrame] =
    tables.map { t =>
      val df = store.readAll(t, Incremental.outputSchema(t))
      t -> (if (dropRow && t == tables.head) df.exceptAll(df.limit(1)) else df)
    }.toMap

  /** Compare every table, the tables concurrently; each mismatch is a
    * failed op. */
  private def compare(rec: Record, label: String, expected: Map[String, DataFrame],
      got: Map[String, DataFrame]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val diffs = Future.traverse(tables) { t =>
        Future((t, rows(expected(t)), rows(got(t))))
      }
      Await.result(diffs, Duration.Inf).foreach { case (t, e, g) =>
        rec.attempt(e == g, s"$label: table $t differs (expected ${e.size} rows, got ${g.size})")
      }
    } finally pool.shutdown()
  }

  /** Store tables == the 8 parquet tables `Backfill.run` wrote from the
    * log the stream applied (`Derivations.deriveAllCached`, i.e.
    * `deriveAll` with its shared subtrees cached): the catch-up ends where
    * a cold-start replay of the log does. */
  def storeMatchesBackfill(spark: SparkSession, rec: Record, store: StateStore,
      backfill: java.io.File, dropRow: Boolean): Unit = {
    val t0 = Common.now
    compare(rec, "store vs Backfill.run",
      tables.map(t => t -> spark.read.parquet(s"$backfill/$t")).toMap, storeTables(store, dropRow))
    Common.log(f"check ${Common.secs(t0)}%.2f s")
  }
}
