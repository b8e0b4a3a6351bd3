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
  * (SURVEY.md §5.5). Each chunk is applied with its index as the batch id,
  * the replay-safe path the stream runs; one case injects a sink crash
  * into each batch before redelivering it. The O(delta) property is
  * structural here (the full log is never handed to the engine);
  * IncrementalScanSpec additionally asserts the I/O volume.
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

  private def rowsOf(seed: Int, slackPathologies: Boolean = false): Seq[Row] =
    LogGen.scenario(new Random(seed), slackPathologies = slackPathologies)
      .zipWithIndex.map { case (e, i) => Row((i + 1).toLong, e.typ, e.payload) }

  /** `nChunks` equal-sized chunks, as cut points. */
  private def evenCuts(n: Int, nChunks: Int): Seq[Int] =
    (1 until nChunks).map(i => i * n / nChunks)

  /** `rows` split at `cuts` (row offsets; duplicates and out-of-range
    * offsets are dropped). */
  private def chunksOf(rows: Seq[Row], cuts: Seq[Int]): Seq[Seq[Row]] = {
    val n = rows.length
    val bounds = 0 +: cuts.filter(c => c > 0 && c < n).distinct.sorted :+ n
    bounds.sliding(2).map { case Seq(a, z) => rows.slice(a, z) }.toSeq
  }

  private def newStore(label: String, maxBucketBytes: Long): StateStore = {
    val stateDir = Files.createTempDirectory(s"graft-catchup-$label").toFile.getPath
    new StateStore(spark, stateDir, maxBucketBytes = maxBucketBytes)
  }

  /** All 8 output tables in `store` equal the one-shot backfill of `rows`. */
  private def assertBackfill(store: StateStore, rows: Seq[Row], label: String): Unit = {
    val oracle = Derivations.deriveAll(EventLog.decode(toDf(rows)).cache())
    oracle.foreach { case (table, expected) =>
      val got = store.readAll(table, Incremental.outputSchema(table))
      assert(normalized(got) === normalized(expected), s"table $table diverged ($label)")
    }
  }

  /** Apply `rows` in batches split at `cuts`, then compare with the
    * backfill. */
  private def runChunks(rows: Seq[Row], cuts: Seq[Int], label: String,
      maxBucketBytes: Long = 256L << 20): Unit = {
    val store = newStore(label, maxBucketBytes)
    chunksOf(rows, cuts).zipWithIndex.foreach { case (chunk, i) =>
      Incremental.step(store, EventLog.decode(toDf(chunk)), batchId = i.toLong)
    }
    assertBackfill(store, rows, label)
  }

  test("3-step incremental catch-up equals one-shot backfill on all 8 tables") {
    val rows = rowsOf(21)
    runChunks(rows, evenCuts(rows.length, 3), "s21x3")
  }

  test("7-step incremental catch-up equals one-shot backfill (different seed)") {
    val rows = rowsOf(87)
    runChunks(rows, evenCuts(rows.length, 7), "s87x7")
  }

  /** Five seeded-random cuts, plus cuts at 1 and 2 so the log opens with
    * two 1-event batches. */
  private def randomCuts(seed: Int, n: Int): Seq[Int] = {
    val rnd = new Random(seed + 1000)
    Seq(1, 2) ++ Seq.fill(5)(3 + rnd.nextInt(n - 3))
  }

  test("catch-up equals backfill at random batch boundaries, including 1-event batches") {
    Seq(5, 44).foreach { seed =>
      val rows = rowsOf(seed)
      runChunks(rows, randomCuts(seed, rows.length), s"s${seed}cuts")
    }
  }

  test("catch-up equals backfill on multi-bucket state that rebuckets mid-run") {
    // a 1 KB bucket budget spreads every state table over several buckets
    // and regrows them as the batches land, so each batch's pins span
    // several buckets — on the default budget every table is one bucket
    // and any pin covers every key
    Seq(5, 44).foreach { seed =>
      val rows = rowsOf(seed)
      runChunks(rows, randomCuts(seed, rows.length), s"s${seed}multi", maxBucketBytes = 1024)
    }
  }

  private class InjectedCrash(table: String)
      extends RuntimeException(s"injected crash at the $table sink")

  test("crash at a rotating sink point + redelivery converges on multi-bucket state") {
    // each batch first runs with a sink that throws on one output table
    // (a different one per batch), then is redelivered: the replay must
    // read the crashed attempt's pins, which span several buckets here
    // and may predate a rebucketing merge the attempt already made
    val rows = rowsOf(5)
    val chunks = chunksOf(rows, randomCuts(5, rows.length))
    val store = newStore("s5crash", maxBucketBytes = 1024)
    val tables = Incremental.outputKey.keys.toSeq.sorted
    val crashed = chunks.zipWithIndex.count { case (chunk, i) =>
      val crashTable = tables(i % tables.length)
      val crashing: Incremental.Sink = (table, _, _) =>
        if (table == crashTable) throw new InjectedCrash(crashTable)
      val threw =
        try {
          Incremental.step(store, EventLog.decode(toDf(chunk)), crashing, batchId = i.toLong)
          false
        } catch { case _: InjectedCrash => true }
      if (threw) {
        assert(store.lastAppliedBatch === (if (i == 0) None else Some(i - 1L)),
          s"batch $i crashed at $crashTable but was recorded as applied")
        Incremental.step(store, EventLog.decode(toDf(chunk)), batchId = i.toLong)
      }
      threw
    }
    assertBackfill(store, rows, "s5crash")
    // family-skip leaves a batch's untouched tables without a sink call
    assert(crashed * 2 >= chunks.length, s"only $crashed of ${chunks.length} batches crashed")
    assert(store.bucketCount("st_span") > 1, "st_span fell back to one bucket")
  }

  test("incremental slack is the invariant recount even on pathological logs (compat is batch-only)") {
    // duplicate-affix / shared-parent-detach sequences where the
    // reference's ±1 arithmetic double-counts (Derivations fidelity notes):
    // the incremental path must match the DEFAULT (invariant) derivation,
    // not conduitSlackCompat — compat mode is a batch-only migration audit
    val rows = rowsOf(33, slackPathologies = true)
    runChunks(rows, evenCuts(rows.length, 4), "patho")
  }
}
