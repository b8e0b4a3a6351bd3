package graft.streaming

import graft.projector.EventLog
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import Shapes._

/** Keyed-state streaming processors for the self-contained aggregate
  * families (installation, work task, walk-of-interest): the incremental
  * analogue of the batch folds in [[graft.projector.Derivations]],
  * mirroring the reference's per-event apply loop (`Worker.cs:40-48`,
  * SURVEY.md §2.9) with Spark keyed state.
  *
  * Design: events are keyed by entity id, each micro-batch's events for a
  * key are applied **in seq order** inside a Spark 4 `transformWithState`
  * [[StatefulProcessor]] (SURVEY.md §2.10 names this API; it replaces the
  * `flatMapGroupsWithState` form of earlier rounds), and one CDC row
  * (upsert/delete with the post-batch state) is emitted per touched key —
  * the sink's idempotent upsert collapses intra-batch churn exactly like
  * the reference's last DML wins. State lives in the Spark state store
  * (per-key, partitioned, checkpointed, RocksDB-backed in streaming) — no
  * single-process heap ceiling (`ProjektorState.cs:23-125` holds
  * everything in one dictionary set).
  *
  * The span-equipment family needs cross-key lookups (parents via root
  * segment, walks, container relations) and is handled by the catch-up
  * re-derivation in [[CatchUp]] instead (SURVEY.md §3's fold theorem makes
  * that exact).
  *
  * Streaming use requires the RocksDB state store provider
  * (`spark.sql.streaming.stateStore.providerClass` =
  * `...state.RocksDBStateStoreProvider`) — a `transformWithState`
  * constraint; the rocksdbjni jar ships with Spark.
  */
object Processors {

  /** Shared shape of the three per-entity LWW processors: buffer the
    * micro-batch's events for a key, fold them in `seq` order over the
    * keyed [[ValueState]], emit one CDC row when the post-batch state
    * changed (delete when the fold removed the entity).
    *
    * Extends the WithInitialState variant so the same processor serves
    * both a from-scratch stream and one seeded from a backfill's folded
    * state (the reference's dehydrate→poll handoff at processor level):
    * `handleInitialState` installs the seeded value before the first
    * batch's rows fold on top of it.
    *
    * State never expires, matching the reference
    * (`ProjektorState.cs:23-125` holds every entity in heap forever): an
    * update arriving after its entity's state expired would refold from
    * None, which the Created-gated families silently ignore. */
  private abstract class LwwProcessor[I, S, O]
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[String, I, O, S] {
    protected def seqOf(e: I): Long
    protected def applyEvent(st: Option[S], e: I): Option[S]
    protected def upsert(key: String, s: S): O
    protected def delete(key: String): Option[O] // None → family never deletes
    protected def stateEncoder: Encoder[S]

    @transient private var state: ValueState[S] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[S]("state", stateEncoder, TTLConfig.NONE)
    override def handleInitialState(key: String, initial: S,
        timerValues: TimerValues): Unit =
      state.update(initial)
    override def handleInputRows(key: String, rows: Iterator[I],
        timerValues: TimerValues): Iterator[O] = {
      val init = if (state.exists()) Some(state.get()) else None
      val fin = rows.toSeq.sortBy(seqOf).foldLeft(init)(applyEvent)
      (init, fin) match {
        case (_, Some(s)) =>
          state.update(s)
          if (fin != init) Iterator.single(upsert(key, s)) else Iterator.empty
        case (Some(_), None) =>
          state.clear()
          delete(key).iterator
        case (None, None) => Iterator.empty
      }
    }
  }

  /** Decode + narrow the envelope to the installation family. */
  def installationEvents(decoded: DataFrame): Dataset[InstEvent] = {
    import decoded.sparkSession.implicits._
    decoded.filter(col("event_type").isin("InstallationCreated",
        "InstallationUnitAddressChanged", "InstallationStatusChanged",
        "InstallationLocationRemarkChanged"))
      .select(col("seq"), col("event_type"), col("p.id").as("id"),
        col("p.installationId").as("installation_id"),
        col("p.unitAddressId").as("unit_address_id"),
        col("p.status").as("status"),
        col("p.locationRemark").as("location_remark"))
      .as[InstEvent]
  }

  /** Per-event apply, cloned from `ProjektorState.cs:623-668`:
    * Created resets everything; updates only apply when created. */
  private def applyInst(st: Option[InstState], e: InstEvent): Option[InstState] =
    e.event_type match {
      case "InstallationCreated" =>
        Some(InstState(created = true, e.installation_id,
          Option(e.unit_address_id), Option(e.status), Option(e.location_remark)))
      case "InstallationUnitAddressChanged" =>
        st.map(_.copy(unit_address_id = Option(e.unit_address_id)))
      case "InstallationStatusChanged" =>
        st.map(_.copy(status = Option(e.status)))
      case "InstallationLocationRemarkChanged" =>
        st.map(_.copy(location_remark = Option(e.location_remark)))
      case _ => st
    }

  private def instProcessor = new LwwProcessor[InstEvent, InstState, InstCdc] {
    protected def seqOf(e: InstEvent): Long = e.seq
    protected def applyEvent(st: Option[InstState], e: InstEvent): Option[InstState] =
      applyInst(st, e)
    protected def upsert(id: String, s: InstState): InstCdc =
      InstCdc(Cdc.Upsert, id, s.installation_id, s.unit_address_id, s.status,
        s.location_remark)
    protected def delete(id: String): Option[InstCdc] = None
    protected def stateEncoder: Encoder[InstState] = Encoders.product[InstState]
  }

  def installationCdc(events: Dataset[InstEvent]): Dataset[InstCdc] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.id).transformWithState(instProcessor,
      TimeMode.None(), OutputMode.Append())
  }

  /** [[installationCdc]] seeded from a backfill: `initial` carries the
    * per-key folded state (see [[installationInitial]]) installed before
    * the first micro-batch — the dehydrate→poll handoff
    * (`RelationalDatabaseProjection.cs:460-495`) at processor level. */
  def installationCdcSeeded(events: Dataset[InstEvent],
      initial: Dataset[(String, InstState)]): Dataset[InstCdc] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.id).transformWithState(instProcessor,
      TimeMode.None(), OutputMode.Append(),
      initial.groupByKey(_._1).mapValues(_._2))
  }

  /** Seed rows for [[installationCdcSeeded]] from the backfill's
    * `installation` output table. */
  def installationInitial(installation: DataFrame): Dataset[(String, InstState)] = {
    import installation.sparkSession.implicits._
    installation
      .select(col("id"), col("installation_id"), col("unit_address_id"),
        col("status"), col("location_remark"))
      .as[(String, String, Option[String], Option[String], Option[String])]
      .map { case (id, iid, ua, st, lr) =>
        (id, InstState(created = true, iid, ua, st, lr))
      }
  }

  def workTaskEvents(decoded: DataFrame): Dataset[WtEvent] = {
    import decoded.sparkSession.implicits._
    decoded.filter(col("event_type").isin("WorkTaskCreated", "WorkTaskStatusChanged"))
      .select(col("seq"), col("event_type"), col("p.workTaskId").as("id"),
        col("p.workTask.number").as("number"),
        coalesce(col("p.workTask.status"), col("p.status")).as("status"))
      .as[WtEvent]
  }

  /** `ProjektorState.cs:591-613`: empty-status create is a full no-op;
    * status change applies only to existing tasks. */
  private def applyWt(st: Option[WtState], e: WtEvent): Option[WtState] =
    e.event_type match {
      case "WorkTaskCreated" =>
        if (e.status == null || e.status.isEmpty) st
        else Some(WtState(e.number, e.status))
      case "WorkTaskStatusChanged" => st.map(_.copy(status = e.status))
      case _ => st
    }

  private def wtProcessor = new LwwProcessor[WtEvent, WtState, WtCdc] {
    protected def seqOf(e: WtEvent): Long = e.seq
    protected def applyEvent(st: Option[WtState], e: WtEvent): Option[WtState] =
      applyWt(st, e)
    protected def upsert(id: String, s: WtState): WtCdc =
      WtCdc(Cdc.Upsert, id, s.number, s.status)
    protected def delete(id: String): Option[WtCdc] = None
    protected def stateEncoder: Encoder[WtState] = Encoders.product[WtState]
  }

  def workTaskCdc(events: Dataset[WtEvent]): Dataset[WtCdc] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.id).transformWithState(wtProcessor,
      TimeMode.None(), OutputMode.Append())
  }

  /** [[workTaskCdc]] seeded from the backfill's `work_task` table rows. */
  def workTaskCdcSeeded(events: Dataset[WtEvent],
      initial: Dataset[(String, WtState)]): Dataset[WtCdc] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.id).transformWithState(wtProcessor,
      TimeMode.None(), OutputMode.Append(),
      initial.groupByKey(_._1).mapValues(_._2))
  }

  /** Seed rows for [[workTaskCdcSeeded]] from the `work_task` table. */
  def workTaskInitial(workTask: DataFrame): Dataset[(String, WtState)] = {
    import workTask.sparkSession.implicits._
    workTask.select(col("id"), col("number"), col("status"))
      .as[(String, String, String)]
      .map { case (id, number, status) => (id, WtState(number, status)) }
  }

  def interestEvents(decoded: DataFrame): Dataset[WoiEvent] = {
    import decoded.sparkSession.implicits._
    decoded.filter(col("event_type").isin("WalkOfInterestRegistered",
        "WalkOfInterestRouteNetworkElementsModified", "InterestUnregistered"))
      .select(col("seq"), col("event_type"),
        coalesce(col("p.interest.id"), col("p.interestId")).as("id"),
        array_distinct(coalesce(col("p.interest.routeNetworkElementRefs"),
          col("p.routeNetworkElementIds"))).as("walk"))
      .as[WoiEvent]
  }

  /** `ProjektorState.cs:99-113`: register/modify overwrite (deduped),
    * unregister deletes; modify after unregister re-creates. Emits a
    * delete CDC (walk replacement is delete-then-reinsert at the sink,
    * `RelationalDatabaseProjection.cs:444-452`). */
  private def applyWoi(st: Option[WoiState], e: WoiEvent): Option[WoiState] =
    e.event_type match {
      case "InterestUnregistered" => None
      case _ => Some(WoiState(e.walk))
    }

  private def woiProcessor = new LwwProcessor[WoiEvent, WoiState, WoiCdc] {
    protected def seqOf(e: WoiEvent): Long = e.seq
    protected def applyEvent(st: Option[WoiState], e: WoiEvent): Option[WoiState] =
      applyWoi(st, e)
    protected def upsert(id: String, s: WoiState): WoiCdc =
      WoiCdc(Cdc.Upsert, id, s.walk)
    protected def delete(id: String): Option[WoiCdc] =
      Some(WoiCdc(Cdc.Delete, id, Seq.empty))
    protected def stateEncoder: Encoder[WoiState] = Encoders.product[WoiState]
  }

  def interestCdc(events: Dataset[WoiEvent]): Dataset[WoiCdc] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.id).transformWithState(woiProcessor,
      TimeMode.None(), OutputMode.Append())
  }

  /** [[interestCdc]] seeded from the folded interest state (alive walks). */
  def interestCdcSeeded(events: Dataset[WoiEvent],
      initial: Dataset[(String, WoiState)]): Dataset[WoiCdc] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.id).transformWithState(woiProcessor,
      TimeMode.None(), OutputMode.Append(),
      initial.groupByKey(_._1).mapValues(_._2))
  }

  /** Seed rows for [[interestCdcSeeded]] from
    * [[graft.projector.Derivations.interestState]] (alive rows). */
  def interestInitial(interestState: DataFrame): Dataset[(String, WoiState)] = {
    import interestState.sparkSession.implicits._
    interestState.filter(col("alive"))
      .select(col("interest_id"), col("walk"))
      .as[(String, Seq[String])]
      .map { case (id, walk) => (id, WoiState(walk)) }
  }

  /** Decode raw envelopes — shared entry for batch and readStream inputs. */
  def decode(raw: DataFrame): DataFrame = EventLog.decode(raw)
}
