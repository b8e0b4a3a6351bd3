package graft.streaming

import graft.ProjectorTestBase
import graft.projector.{Derivations, EventLog, Sim}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Row}

import java.nio.file.Files

/** Mid-step crash + at-least-once redelivery (the ADVICE r3 medium):
  * without pre-merge snapshots, a step that crashed AFTER the st_span
  * merge but BEFORE the eligible-ends recount would, on redelivery, read
  * the moved equipment's POST-batch nodes as its "pre-batch" position —
  * the vacated route nodes would keep a permanently overcounted
  * `conduit_slack`. The snapshot layer must make the replay converge to
  * the one-shot result, and a redelivery of a COMPLETED batch must be
  * skipped outright.
  *
  * A crash injected through the sink never lands in that window: output
  * sinks run on the step's section threads (conduit_slack's after its own
  * merge), and a section's failure is rethrown only at the step's final
  * drain, after the main thread has merged st_eligible_ends and
  * conduit_slack. The crashed attempt has thus already written the
  * post-batch ends and slack, and the two sink-crash cases converge even
  * when a replay re-pins from live state: they check that replaying
  * after each sink point is idempotent. The pins themselves are checked
  * by the "right after the st_span merge" case, which leaves the store as
  * such a crash would: batch 1's st_span pin taken and its st_span rows
  * merged, nothing else.
  */
class AtomicReplaySpec extends ProjectorTestBase {

  private val envelopeSchema = StructType.fromDDL("seq BIGINT, event_type STRING, payload STRING")

  private def toDf(evts: Seq[(Long, Sim.Evt)]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = evts.map { case (seq, e) => Row(seq, e.typ, e.payload) }
    spark.createDataFrame(rows.asJava, envelopeSchema)
  }

  private val E = graft.projector.EventLog.EmptyUuid

  // batch 0: a customer conduit (ø12, no end connections, no children)
  // spanning n1–n2 → one eligible slack end at each node
  private val batch0: Seq[(Long, Sim.Evt)] = Seq(
    1L -> Sim.SeSpecAdded("ses1", "Rør ø12", isCable = false, "sss1"),
    2L -> Sim.SsSpecAdded("sss1", 12),
    3L -> Sim.WalkRegistered("w1", Seq("n1", "n2")),
    4L -> Sim.SePlaced("eq1", "Conduit 1", "ses1", "w1", isCable = false,
      Seq("n1", "n2"), Seq(Seq(Sim.Seg("seg1", 0, 1, E, E))), None, None))

  // batch 1: the equipment moves to n3–n4 — slack must transfer
  private val batch1: Seq[(Long, Sim.Evt)] = Seq(
    5L -> Sim.SeMoved("eq1", Seq("n3", "n4")))

  private def slackOf(store: StateStore): Set[(String, Int)] =
    store.readAll("conduit_slack", Incremental.outputSchema("conduit_slack"))
      .collect().map(r => (r.getAs[String]("route_node_id"), r.getAs[Int]("number_of_ends"))).toSet

  test("crash after st_span merge + redelivery converges (no stale slack at vacated nodes)") {
    val stateDir = Files.createTempDirectory("graft-atomic").toFile.getPath
    val store = new StateStore(spark, stateDir)

    Incremental.step(store, EventLog.decode(toDf(batch0)), batchId = 0L)
    assert(slackOf(store) === Set("n1" -> 1, "n2" -> 1))

    // crash INSIDE the step, after the st_span merge (the span_equipment
    // sink fires between the span merge and the eligible-ends recount)
    val crashing: Incremental.Sink = (table, _, _) =>
      if (table == "span_equipment") throw new RuntimeException("injected mid-step crash")
    intercept[RuntimeException] {
      Incremental.step(store, EventLog.decode(toDf(batch1)), crashing, batchId = 1L)
    }
    assert(store.lastAppliedBatch === Some(0L), "crashed batch must not be recorded as applied")

    // redelivery: replays from the pre-merge snapshots and must converge
    Incremental.step(store, EventLog.decode(toDf(batch1)), batchId = 1L)
    assert(slackOf(store) === Set("n3" -> 1, "n4" -> 1))
    val ends = store.readAll("st_eligible_ends",
        StructType.fromDDL("id STRING, route_node_id STRING, end_kind STRING"))
      .collect().map(_.getAs[String]("route_node_id")).toSet
    assert(ends === Set("n3", "n4"), "stale eligible-end rows survived at vacated nodes")

    // matches the one-shot batch derivation of the full log
    val oracle = Derivations.conduitSlack(EventLog.decode(toDf(batch0 ++ batch1)))
      .collect().map(r => (r.getAs[String]("route_node_id"), r.getAs[Int]("number_of_ends"))).toSet
    assert(slackOf(store) === oracle)

    // a COMPLETED batch redelivered again is skipped outright
    var sinkCalls = 0
    val counting: Incremental.Sink = (_, _, _) => sinkCalls += 1
    Incremental.step(store, EventLog.decode(toDf(batch1)), counting, batchId = 1L)
    assert(sinkCalls === 0, "redelivered completed batch must be skipped")
    assert(slackOf(store) === Set("n3" -> 1, "n4" -> 1))
  }

  test("crash right after the st_span merge: the replay recounts the vacated nodes from the pin") {
    val stateDir = Files.createTempDirectory("graft-atomic-pin").toFile.getPath
    val store = new StateStore(spark, stateDir)
    Incremental.step(store, EventLog.decode(toDf(batch0)), batchId = 0L)
    // the st_span rows batch 1 merges: those of a one-shot fold of both batches
    val oneShot = new StateStore(spark, Files.createTempDirectory("graft-atomic-one").toFile.getPath)
    Incremental.step(oneShot, EventLog.decode(toDf(batch0 ++ batch1)), batchId = 0L)
    val spanSchema = spark.read.parquet(s"$stateDir/st_span").drop("bucket").schema
    val eq1 = KeySet.local(Array[Any]("eq1"))
    // the crashed attempt: pin st_span for batch 1, then merge it
    store.pinKeyed(1L, "st_span", eq1)
    store.mergeReplace("st_span", "id", eq1, oneShot.readKeyed("st_span", spanSchema, "id", eq1))
    assert(slackOf(store) === Set("n1" -> 1, "n2" -> 1), "test setup: the recount already ran")

    Incremental.step(store, EventLog.decode(toDf(batch1)), batchId = 1L)
    assert(slackOf(store) === Set("n3" -> 1, "n4" -> 1), "stale slack survived at vacated nodes")
    val ends = store.readAll("st_eligible_ends",
        StructType.fromDDL("id STRING, route_node_id STRING, end_kind STRING"))
      .collect().map(_.getAs[String]("route_node_id")).toSet
    assert(ends === Set("n3", "n4"), "stale eligible-end rows survived at vacated nodes")
  }

  test("crash at EVERY sink point + redelivery converges (VERDICT r4 #6)") {
    // the sink fires once per output table per step — crashing on each in
    // turn exercises a mid-step failure after every merge section,
    // whichever thread it runs on (sections are concurrent since r5).
    // Batch 1 carries events for EVERY family so no section is skipped
    // (family-skip would otherwise never reach some crash points).
    val b0 = batch0 ++ Seq[(Long, Sim.Evt)](
      5L -> Sim.NcSpecAdded("ncs1", "Well", "WELL"),
      6L -> Sim.TeSpecAdded("tes1", isCustomerTermination = true))
    val b1 = Seq[(Long, Sim.Evt)](
      7L -> Sim.SeMoved("eq1", Seq("n3", "n4")),
      8L -> Sim.WtCreated("wt1", "N-1", "created"),
      9L -> Sim.InstCreated("inst1", "I-1", Some("ua-1"), "planned", None),
      10L -> Sim.NcPlaced("nc1", "n9", "ncs1"),
      11L -> Sim.TePlaced("te1", "Term 1", "tes1", "nc1", None),
      12L -> Sim.WalkRegistered("w9", Seq("n8", "n9")))
    val oracle = Derivations.conduitSlack(EventLog.decode(toDf(b0 ++ b1)))
      .collect().map(r => (r.getAs[String]("route_node_id"), r.getAs[Int]("number_of_ends"))).toSet
    Incremental.outputKey.keys.toSeq.sorted.foreach { crashTable =>
      val stateDir = Files.createTempDirectory(s"graft-atomic-$crashTable").toFile.getPath
      val store = new StateStore(spark, stateDir)
      Incremental.step(store, EventLog.decode(toDf(b0)), batchId = 0L)

      val crashing: Incremental.Sink = (table, _, _) =>
        if (table == crashTable) throw new RuntimeException(s"injected crash at $crashTable")
      intercept[RuntimeException] {
        Incremental.step(store, EventLog.decode(toDf(b1)), crashing, batchId = 1L)
      }
      assert(store.lastAppliedBatch === Some(0L),
        s"$crashTable: crashed batch must not be recorded as applied")

      Incremental.step(store, EventLog.decode(toDf(b1)), batchId = 1L)
      assert(slackOf(store) === oracle, s"$crashTable: replay diverged from one-shot fold")
      val ends = store.readAll("st_eligible_ends",
          StructType.fromDDL("id STRING, route_node_id STRING, end_kind STRING"))
        .collect().map(_.getAs[String]("route_node_id")).toSet
      assert(ends === Set("n3", "n4"), s"$crashTable: stale eligible-end rows survived")
    }
  }
}
