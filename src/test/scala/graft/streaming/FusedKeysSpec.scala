package graft.streaming

import graft.ProjectorTestBase
import graft.projector.{Derivations, EventLog, LogGen, Sim}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import java.nio.file.Files
import scala.util.Random

/** Pins the fused step-start key collect (VERDICT r7 #1) to the partial
  * folds it replaces: per family, the distinct non-null values of
  * [[Derivations.touchedIdFrames]] must equal the id set of the
  * corresponding `*Partial` fold — the set the pre-fusion step collected
  * per family with its own [[KeySet.fromDf]] job. A drifted filter or id
  * expression in either place fails here loudly instead of silently
  * merging the wrong keys. Also drives the per-family DistKeys fallback
  * (one family above the IN-set cap while the global fused bound holds)
  * end-to-end through a step — the path StepDistKeysSpec's blown-bound
  * scenario cannot reach.
  */
class FusedKeysSpec extends ProjectorTestBase {

  private val envelopeSchema =
    StructType.fromDDL("seq BIGINT, event_type STRING, payload STRING")

  private def toDf(rows: Seq[Row]) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, envelopeSchema)
  }

  test("touchedIdFrames matches each partial fold's id set over a full log") {
    val events = LogGen.scenario(new Random(17))
    val rows = events.zipWithIndex.map { case (e, i) => Row((i + 1).toLong, e.typ, e.payload) }
    val b = EventLog.decode(toDf(rows)).cache()
    try {
      def setOf(df: DataFrame): Set[String] =
        df.collect().map(_.get(0)).filter(_ != null).map(_.toString).toSet
      val fused = Derivations.touchedIdFrames(b).toMap
      val expected = Map(
        "st_installation" -> Derivations.installationPartial(b).select(col("id")),
        "st_work_task" -> Derivations.workTaskPartial(b).select(col("id")),
        "st_node_container" -> Derivations.nodeContainerPartial(b).select(col("id")),
        "st_interest" -> Derivations.interestPartial(b).select(col("interest_id")),
        "st_span" -> Derivations.spanEquipmentPartial(b).select(col("id")))
      expected.foreach { case (f, df) =>
        val got = setOf(fused(f))
        assert(got === setOf(df), s"family $f id set diverged from its partial fold")
        assert(got.nonEmpty, s"family $f parity is vacuous — scenario generates no ids")
      }
      // the other tags ARE the expressions the step consumed pre-fusion
      // (terminalPlacements container refs, affix/detach children, affix
      // root-segment ids) — assert the scenario exercises them so the
      // fused job's coverage is not vacuous
      Seq("cont_refs", "ad_children", "root_ids", "new_root_ids").foreach { f =>
        assert(setOf(fused(f)).nonEmpty, s"tag $f vacuous in scenario")
      }
      // st_terminal (r8): the fused set is a batch-pure SUPERSET of the
      // partial's ids (a spec-filtered placement folds no partial row but
      // its id stays in the key set — the merge rewrites those stored
      // rows unchanged). Coverage direction is what the merge contract
      // needs: every partial id must be in the key set.
      val termIds = setOf(Derivations.terminalPartial(
        Derivations.terminalPlacementRows(Derivations.containerRelEvents(b),
          Derivations.terminalPlacements(b), Derivations.terminalSpecs(b)),
        Derivations.terminalUpdateRows(b)).select(col("id")))
      assert(termIds.nonEmpty && termIds.subsetOf(setOf(fused("st_terminal"))),
        "terminal partial ids not covered by the st_terminal fused key set")
      // new_root_ids is the st_root_segment merge's KEY set: the merge's
      // span-coverage contract requires it to cover every row's root
      val rootRows = setOf(Derivations.placedRootRows(b).select(col("root_segment_id")))
      assert(rootRows.nonEmpty && rootRows.subsetOf(setOf(fused("new_root_ids"))),
        "placedRootRows roots not covered by the new_root_ids key set")
      // affix_children is the st_child_affixes merge's KEY set: it must
      // cover every affix edge's child and every detach child (equality
      // may fail only for affixes whose root never resolves — the fused
      // set keeps the child, the resolved set drops it)
      val affixKids = setOf(Derivations.affixEdges(b).select(col("child_id"))) ++
        setOf(b.filter(col("event_type") === "SpanEquipmentDetachedFromParent")
          .select(col("p.spanEquipmentId")))
      assert(affixKids.nonEmpty && affixKids.subsetOf(setOf(fused("affix_children"))),
        "affix/detach children not covered by the affix_children key set")
    } finally { b.unpersist(); () }
  }

  test("per-family DistKeys fallback: one family above the cap, global bound intact") {
    // 12 installations > cap 5, while total distinct (12 ids + 1 type)
    // stays far under the fused bound (9*5+40): the fused collect
    // succeeds, the st_installation entry alone spills to DistKeys
    val evts: Seq[Sim.Evt] = (1 to 12).map(i =>
      Sim.InstCreated(s"inst-$i", s"I-$i", Some(s"ua-$i"), "ACTIVE", None))
    val rows = evts.zipWithIndex.map { case (e, i) => Row((i + 1).toLong, e.typ, e.payload) }
    val stateDir = Files.createTempDirectory("graft-fusedkeys").toFile.getPath
    val store = new StateStore(spark, stateDir, maxInsetKeys = 5)
    Incremental.step(store, EventLog.decode(toDf(rows)), batchId = 0L)
    val got = store.readAll("installation", Incremental.outputSchema("installation"))
      .collect().map(r => (r.getAs[String]("id"), r.getAs[String]("installation_id"),
        r.getAs[String]("unit_address_id"), r.getAs[String]("status"))).toSet
    val want = (1 to 12).map(i => (s"inst-$i", s"I-$i", s"ua-$i", "ACTIVE")).toSet
    assert(got === want)
  }

  test("events-free batch: step reports false, commits nothing, next batch proceeds") {
    val evts: Seq[Sim.Evt] = Seq(
      Sim.InstCreated("inst-a", "I-A", Some("ua-a"), "ACTIVE", None))
    val rows = evts.map(e => Row(1L, e.typ, e.payload))
    val stateDir = Files.createTempDirectory("graft-emptybatch").toFile.getPath
    val store = new StateStore(spark, stateDir)
    assert(Incremental.step(store, EventLog.decode(toDf(rows)), batchId = 0L))
    assert(store.lastAppliedBatch === Some(0L))
    // an events-free batch (e.g. a seeded prefix file wholly pruned by
    // the high-water filter): the fused step-start collect answers
    // emptiness for free — step reports false and does NOT advance the
    // applied-batch marker (replaying an empty batch is a no-op, and the
    // stream's onBatch health signal must not fire for it)
    assert(!Incremental.step(store, EventLog.decode(toDf(Seq.empty[Row])), batchId = 1L))
    assert(store.lastAppliedBatch === Some(0L),
      "events-free batch must not advance the applied-batch marker")
    // the following real batch applies normally
    val rows2 = Seq(Row(2L, Sim.InstStatusChanged("inst-a", "CLOSED").typ,
      Sim.InstStatusChanged("inst-a", "CLOSED").payload))
    assert(Incremental.step(store, EventLog.decode(toDf(rows2)), batchId = 2L))
    assert(store.lastAppliedBatch === Some(2L))
    val st = store.readAll("installation", Incremental.outputSchema("installation"))
      .collect().map(r => (r.getAs[String]("id"), r.getAs[String]("status"))).toSet
    assert(st === Set("inst-a" -> "CLOSED"))
  }
}
