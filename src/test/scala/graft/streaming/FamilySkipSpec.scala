package graft.streaming

import graft.ProjectorTestBase
import graft.projector.{EventLog, Sim}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Row}

import java.nio.file.Files

/** Family-skip: a micro-batch carrying events for ONE family must not
  * touch the other families' tables at all — steady-state streams are
  * sparse, and the 2-second loop's cost must be proportional to what
  * actually changed, not to the number of projected tables.
  */
class FamilySkipSpec extends ProjectorTestBase {

  private val envelopeSchema = StructType.fromDDL("seq BIGINT, event_type STRING, payload STRING")

  private def toDf(evts: Seq[(Long, Sim.Evt)]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = evts.map { case (seq, e) => Row(seq, e.typ, e.payload) }
    spark.createDataFrame(rows.asJava, envelopeSchema)
  }

  private def fileSet(dir: java.io.File): Set[(String, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).map(_.toSeq.flatMap(walk)).getOrElse(Nil)
      else Seq(f)
    walk(dir).map(f => (f.getPath, f.lastModified())).toSet
  }

  test("an installation-only batch leaves every other family's tables untouched") {
    val dir = Files.createTempDirectory("graft-famskip").toFile
    val store = new StateStore(spark, dir.getPath)

    // seed every family once so all tables exist
    val E = EventLog.EmptyUuid
    val seed = Seq[(Long, Sim.Evt)](
      1L -> Sim.SeSpecAdded("ses1", "Rør ø12", isCable = false, "sss1"),
      2L -> Sim.SsSpecAdded("sss1", 12),
      3L -> Sim.WalkRegistered("w1", Seq("n1", "n2")),
      4L -> Sim.SePlaced("eq1", "Conduit 1", "ses1", "w1", isCable = false,
        Seq("n1", "n2"), Seq(Seq(Sim.Seg("seg1", 0, 1, E, E))), None, None),
      5L -> Sim.WtCreated("wt1", "N-1", "created"),
      6L -> Sim.InstCreated("inst1", "I-1", Some("ua-1"), "planned", None),
      7L -> Sim.NcSpecAdded("ncs1", "Well", "WELL"),
      8L -> Sim.NcPlaced("nc1", "n1", "ncs1"))
    Incremental.step(store, EventLog.decode(toDf(seed)), batchId = 0L)

    val untouchedTables = Seq("st_work_task", "work_task", "st_span", "span_equipment",
      "st_node_container", "node_container", "st_eligible_ends", "conduit_slack",
      "st_interest", "rel_interest_to_route_element")
    val before = untouchedTables.map(t => t -> fileSet(new java.io.File(dir, t))).toMap

    var sinkTables = Set.empty[String]
    val recording: Incremental.Sink = (t, _, _) => sinkTables += t
    val batch = Seq[(Long, Sim.Evt)](9L -> Sim.InstStatusChanged("inst1", "active"))
    Incremental.step(store, EventLog.decode(toDf(batch)), recording, batchId = 1L)

    untouchedTables.foreach { t =>
      assert(fileSet(new java.io.File(dir, t)) === before(t),
        s"$t was rewritten by an installation-only batch")
    }
    assert(sinkTables === Set("installation"),
      s"only the installation sink should fire, got $sinkTables")
    val inst = store.readAll("installation", Incremental.outputSchema("installation"))
      .filter(org.apache.spark.sql.functions.col("status") === "active")
    assert(inst.count() === 1)
  }
}
