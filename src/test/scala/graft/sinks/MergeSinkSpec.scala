package graft.sinks

import graft.SparkTestBase
import graft.projector.{Derivations, EventLog, LogGen}
import graft.streaming.{Incremental, StateStore}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Row}

import java.nio.file.Files
import scala.util.Random

/** The lakehouse MERGE contract (VERDICT r4 #7): driving the incremental
  * catch-up through [[MergeSink]] must converge the applied lakehouse
  * state to the one-shot backfill on all 8 tables, re-running the full
  * rendered statement log must be a no-op (replay idempotence at the SQL
  * layer), and the rendered statements must be the clauses a Delta/Iceberg
  * sink needs (MERGE for single-key tables, DELETE+INSERT for list
  * replace).
  */
class MergeSinkSpec extends SparkTestBase {

  private val envelopeSchema = StructType.fromDDL("seq BIGINT, event_type STRING, payload STRING")

  private def toDf(rows: Seq[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, envelopeSchema)
  }

  test("catch-up through the MERGE sink converges; statement log replays as a no-op") {
    FakeLake.reset()
    val sink = MergeSink.mergeSink(FakeLake.execute, "graft")

    val events = LogGen.scenario(new Random(52))
    val rows = events.zipWithIndex.map { case (e, i) => Row((i + 1).toLong, e.typ, e.payload) }
    val bounds = (0 to 3).map(i => i * rows.length / 3)
    val chunks = bounds.sliding(2).map { case Seq(a, z) => rows.slice(a, z) }.toSeq

    val stateDir = Files.createTempDirectory("graft-mergesink").toFile.getPath
    val store = new StateStore(spark, stateDir)
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      Incremental.step(store, EventLog.decode(toDf(chunk)), sink, batchId = i.toLong)
    }

    val oracle = Derivations.deriveAll(EventLog.decode(toDf(rows)).cache())
    def want(expected: DataFrame): Set[String] = expected.collect().map { r =>
      expected.columns.sorted.map(c => s"$c=${r.getAs[Any](c)}").mkString("|")
    }.toSet
    def got(table: String): Set[String] = FakeLake.contents(s"graft.$table")
      .map(m => m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("|"))
    oracle.foreach { case (table, expected) =>
      assert(got(table) === want(expected), s"lakehouse table $table diverged")
    }

    // the rendered dialect: single-key tables go through MERGE, list
    // tables through DELETE+INSERT — and conflict/delete branches all ran
    import scala.jdk.CollectionConverters._
    val log = FakeLake.sqlLog.asScala.toVector
    assert(log.exists(s => s.startsWith("MERGE INTO graft.installation") &&
      s.contains("WHEN MATCHED AND s.__op = 'D' THEN DELETE") &&
      s.contains("WHEN NOT MATCHED AND s.__op = 'U' THEN INSERT")))
    assert(log.exists(_.startsWith("DELETE FROM graft.rel_interest_to_route_element WHERE interest_id IN")))
    assert(log.exists(_.startsWith("INSERT INTO graft.rel_interest_to_route_element")))
    assert(!log.exists(_.startsWith("MERGE INTO graft.rel_")),
      "list-valued tables must not be MERGEd (multi-row source keys)")

    // idempotence at the statement layer: re-running the WHOLE ordered log
    // leaves every table unchanged (at-least-once delivery of any suffix
    // is the real-world case; the full log is its worst case)
    val before = oracle.keys.map(t => t -> got(t)).toMap
    log.foreach(FakeLake.execute)
    oracle.keys.foreach { t =>
      assert(got(t) === before(t), s"replaying the statement log changed $t")
    }
  }

  test("usingViewSql renders the production form without inline data") {
    val sql = MergeSink.usingViewSql("graft", "installation", "id",
      Seq("id", "installation_id", "unit_address_id", "status", "location_remark"),
      "graft_upserts_installation")
    assert(sql.contains("USING graft_upserts_installation AS s (__op, id, installation_id"))
    assert(!sql.contains("(VALUES"), "view form must not inline rows")
    assert(sql.contains("ON t.id = s.id"))
  }
}
