package graft.streaming

import graft.ProjectorTestBase
import graft.projector.{Derivations, EventLog, LogGen}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import java.nio.file.Files
import scala.util.Random

/** The distributed key-set fallback, end-to-end: with the IN-set cap
  * forced to 5, every touched-key set in [[Incremental.step]] overflows
  * into [[DistKeys]] — bucket ids from a collect, key restriction via
  * broadcast semi/anti joins, merged rows recovered by semi join in
  * [[KeySet.restrict]], snapshot reads and output merges included. This is
  * the path a backfill-sized micro-batch takes at 100 TB (millions of
  * touched keys never land on the driver); the correctness claim must not
  * depend on which representation a key set happens to use, so the whole
  * multi-batch catch-up must equal the one-shot fold exactly as it does
  * for driver-resident keys (CatchUpSpec). */
class StepDistKeysSpec extends ProjectorTestBase {

  private val envelopeSchema = StructType.fromDDL("seq BIGINT, event_type STRING, payload STRING")

  test("catch-up with every key set above the IN-set cap equals the one-shot backfill") {
    import scala.jdk.CollectionConverters._

    val events = LogGen.scenario(new Random(61))
    val rows = events.zipWithIndex.map { case (e, i) => Row((i + 1).toLong, e.typ, e.payload) }
    def toDf(rs: Seq[Row]) = spark.createDataFrame(rs.asJava, envelopeSchema)

    val stateDir = Files.createTempDirectory("graft-distkeys").toFile.getPath
    val store = new StateStore(spark, stateDir, maxInsetKeys = 5)
    val third = rows.length / 3
    Seq(rows.slice(0, third), rows.slice(third, 2 * third), rows.slice(2 * third, rows.length))
      .zipWithIndex.foreach { case (chunk, i) =>
        Incremental.step(store, EventLog.decode(toDf(chunk)), batchId = i.toLong)
      }

    val oracle = Derivations.deriveAll(EventLog.decode(toDf(rows)).cache())
    def normalized(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(r => df.columns.sorted.map(c => s"$c=${r.getAs[Any](c)}").mkString("|")).toSet
    oracle.foreach { case (table, expected) =>
      val got = store.readAll(table, Incremental.outputSchema(table))
      assert(normalized(got) === normalized(expected),
        s"table $table diverged on the distributed key-set path")
    }
  }
}
