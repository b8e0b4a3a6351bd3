package graft.streaming

import graft.ProjectorTestBase
import graft.projector.{Derivations, EventLog, LogGen}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Row}

import java.nio.file.Files
import scala.util.Random

/** Full-scope replay-equivalence for the incremental catch-up: folding an
  * event log in micro-batch steps through [[Incremental.step]] — which
  * sees ONLY each batch plus keyed state reads, never the cumulative log —
  * must produce exactly the 8 tables of the one-shot batch backfill
  * (SURVEY.md §5.5). The O(delta) property is structural here (the full
  * log is never handed to the engine); IncrementalScanSpec additionally
  * asserts the I/O volume.
  */
class CatchUpSpec extends ProjectorTestBase {

  private val envelopeSchema = StructType.fromDDL("seq BIGINT, event_type STRING, payload STRING")

  private def toDf(rows: Seq[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, envelopeSchema)
  }

  private def normalized(df: DataFrame): Set[String] =
    df.collect().map { r =>
      df.columns.sorted.map(c => s"$c=${r.getAs[Any](c)}").mkString("|")
    }.toSet

  private def runChunks(rows: Seq[Row], nChunks: Int, label: String): Unit = {
    val n = rows.length
    val bounds = (0 to nChunks).map(i => i * n / nChunks)
    val chunks = bounds.sliding(2).map { case Seq(a, z) => rows.slice(a, z) }.toSeq

    val stateDir = Files.createTempDirectory(s"graft-catchup-$label").toFile.getPath
    val store = new StateStore(spark, stateDir, nBuckets = 16)
    chunks.filter(_.nonEmpty).foreach { chunk =>
      Incremental.step(store, EventLog.decode(toDf(chunk)))
    }

    val oracle = Derivations.deriveAll(EventLog.decode(toDf(rows)).cache())
    oracle.foreach { case (table, expected) =>
      val got = store.readAll(table, Incremental.outputSchema(table))
      assert(normalized(got) === normalized(expected), s"table $table diverged ($label)")
    }
  }

  test("3-step incremental catch-up equals one-shot backfill on all 8 tables") {
    val events = LogGen.scenario(new Random(21))
    val rows = events.zipWithIndex.map { case (e, i) => Row((i + 1).toLong, e.typ, e.payload) }
    runChunks(rows, 3, "s21x3")
  }

  test("7-step incremental catch-up equals one-shot backfill (different seed)") {
    val events = LogGen.scenario(new Random(87))
    val rows = events.zipWithIndex.map { case (e, i) => Row((i + 1).toLong, e.typ, e.payload) }
    runChunks(rows, 7, "s87x7")
  }

  test("incremental slack is the invariant recount even on pathological logs (compat is batch-only)") {
    // duplicate-affix / shared-parent-detach sequences where the
    // reference's ±1 arithmetic double-counts (Derivations fidelity notes):
    // the incremental path must match the DEFAULT (invariant) derivation,
    // not conduitSlackCompat — compat mode is a batch-only migration audit
    val events = LogGen.scenario(new Random(33), slackPathologies = true)
    val rows = events.zipWithIndex.map { case (e, i) => Row((i + 1).toLong, e.typ, e.payload) }
    runChunks(rows, 4, "patho")
  }
}
