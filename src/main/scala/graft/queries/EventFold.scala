package graft.queries

import graft.Tables
import graft.ops.{Folds, Walks}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's event-sourcing operators (SURVEY.md §2) exercised on the
  * driver's generic `events` stream table
  * (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING,
  * value DOUBLE, props JSON-STRING).
  *
  * `event_id` is the global sequence number (unique, ascending — the
  * analogue of the reference event store's total order, `Worker.cs:32,42`);
  * `user_id` is the entity/aggregate key; `event_type` is the dispatch
  * discriminator (`RelationalDatabaseProjection.cs:92-218`).
  *
  * All folds are hash aggregates via max_by (see [[graft.ops.Folds]]) —
  * no window shuffle-sort on the event-stream hot path.
  */
object EventFold {

  /** evt_lww_state: last-write-wins fold per entity — the workhorse of the
    * reference's batch backfill (SURVEY.md §2.5): per user, the latest
    * event's type and value, the latest *purchase* value (field-wise
    * overwrite: events of other types leave the field untouched), event
    * count and high-water sequence.
    */
  def lwwState(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val seq = col("event_id")
    ev.groupBy(col("user_id"))
      .agg(
        max_by(col("event_type"), seq).as("last_type"),
        max_by(col("value"), seq).as("last_value"),
        Folds.lastWhere(col("value"), seq, col("event_type") === "purchase").as("last_purchase_value"),
        count(lit(1)).as("n_events"),
        max(seq).as("high_water"))
      .orderBy(col("user_id"))
  }

  /** evt_dispatch_stats: projection registration/dispatch — per event type
    * (the 28-way type switch of the reference, SURVEY.md §2.1): count and
    * exact decimal sum of values.
    */
  def dispatchStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))
  }

  /** evt_lifecycle_alive: the alive/removed lifecycle filter (placed vs
    * removed folds, e.g. `ProjektorState.cs:68-84,268-291`): an entity is
    * "alive" if its latest lifecycle event (signup=create, error=remove) is
    * a signup; report each alive user with its creation count.
    */
  def lifecycleAlive(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val seq = col("event_id")
    val lifecycle = col("event_type").isin("signup", "error")
    ev.groupBy(col("user_id"))
      .agg(
        Folds.lastWhere(col("event_type"), seq, lifecycle).as("last_lifecycle"),
        sum(when(col("event_type") === "signup", 1L).otherwise(0L)).as("n_signups"))
      .filter(col("last_lifecycle") === "signup")
      .select(col("user_id"), col("n_signups"))
      .orderBy(col("user_id"))
  }

  /** evt_walk_dedup: ordered walk + first-occurrence dedup + 1-based seq_no
    * (`ProjektorState.cs:673-689` + `PostgresWriter.cs:56-65`): the ordered
    * list of distinct event types each user visited, exploded with ordinal.
    * Formulated as a pure relational first-occurrence rank — identical
    * semantics to array_distinct-then-posexplode but expressible in the
    * DuckDB oracle, and shuffle-light (single groupBy + one small window
    * over per-user distinct types).
    */
  def walkDedup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val first = ev.groupBy(col("user_id"), col("event_type"))
      .agg(min(col("event_id")).as("first_seq"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("first_seq"))
    first.withColumn("seq_no", row_number().over(w).cast("int"))
      .select(col("user_id"), col("event_type"), col("seq_no"))
      .orderBy(col("user_id"), col("seq_no"))
  }

  /** evt_asof_value: the as-of forward-fill join (SURVEY.md §3's ordering
    * contract: "resolve the relation as of the event's position in the
    * log"): each purchase event picks up the most recent preceding view
    * value of the same user. Window last-non-null forward fill — the same
    * pattern the engine uses to resolve interest walks as-of cable events.
    */
  def asofValue(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("last_view_value",
        last(when(col("event_type") === "view", col("value")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("value"), col("last_view_value"))
  }

  /** evt_cdc_classify: CDC change-kind derivation (NEW/UPDATED/REMOVED,
    * `State/ObjectState.cs:13-18`): classify each user by fold outcome —
    * 'insert' if only one event ever, 'delete' if last lifecycle event is
    * error, else 'update'.
    */
  def cdcClassify(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val seq = col("event_id")
    val lifecycle = col("event_type").isin("signup", "error")
    ev.groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        Folds.lastWhere(col("event_type"), seq, lifecycle).as("last_lifecycle"))
      .withColumn("change_type",
        when(col("n_events") === 1, "insert")
          .when(col("last_lifecycle") === "error", "delete")
          .otherwise("update"))
      .select(col("user_id"), col("n_events"), col("change_type"))
      .orderBy(col("user_id"))
  }

  /** evt_cohort_retention: the classic retention triangle — users
    * cohorted by their first active week, counted in each later week
    * they return. Scale shape: ONE user-keyed exchange builds each
    * user's distinct active-week set (collect_set map-side combines;
    * set size is bounded by the calendar, not by event volume), the
    * cohort week falls out row-locally as `array_min`, and the final
    * (cohort, offset) aggregate runs over |users| × |weeks| rows — no
    * self-join of the event stream against its own min-week frame. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val weekUs = 7L * 86400L * 1000000L
    // `div` truncates toward zero while the DuckDB oracle's `//` floors —
    // they agree only for ts_us >= 0, the repo-wide ts_us convention
    // (driver epochs are all post-1970; a pre-1970 event would land in
    // week 0 here and week -1 in the oracle). Pinned per ADVICE r12.
    val weeks = Tables.events(spark, dir)
      .select(col("user_id"), expr(s"ts_us div ${weekUs}L").as("week"))
      .groupBy(col("user_id"))
      .agg(collect_set(col("week")).as("weeks"))
      .select(array_min(col("weeks")).as("cohort_week"), explode(col("weeks")).as("week"))
    weeks.groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** evt_outliers: per-user mean-relative outlier flags — an event is an
    * outlier when its value exceeds 2× the user's mean, tested as the
    * exact integer cross-multiplication `cents·n > 2·sum_cents` (no
    * division, no float: the comparison both engines reproduce
    * bit-for-bit). The anomaly/heavy-tail screening primitive of metric
    * pipelines. Scale shape: ONE user-keyed exchange — the mean terms
    * come from an unbounded window over that partition and the per-user
    * rollup reuses the same partitioning; everything between is
    * row-local. */
  def outliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val w = Window.partitionBy(col("user_id"))
    ev.withColumn("__n", count(lit(1)).over(w))
      .withColumn("__s", sum(col("cents")).over(w))
      .withColumn("__out", when(col("cents") * col("__n") > col("__s") * 2, 1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("__out")).as("n_outliers"))
      .orderBy(col("user_id"))
  }

  /** evt_session_agg: sessionization — gap > 30 min starts a new session
    * (windowed lag + running sum); per user: number of sessions and events.
    * This is the batch analogue of the streaming state fold (§2.9).
    */
  def sessionAgg(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val withGap = ev.withColumn("prev_us", lag(col("ts_us"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_us").isNull || (col("ts_us") - col("prev_us")) > 1800L * 1000000L, 1L)
          .otherwise(0L))
    withGap.groupBy(col("user_id"))
      .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  /** evt_sliding_agg: trailing-hour rolling aggregate per user — for each
    * event, the count and exact decimal value-sum of that user's events in
    * the preceding hour (RANGE frame on the µs event-time ordinate,
    * inclusive of peers). The moving-feature primitive of rate limiting /
    * feature engineering. Scale shape: ONE hash shuffle on user_id and a
    * per-partition ordered scan — per-user state is bounded by the window
    * span, never by history, and there is no global sort.
    */
  def slidingAgg(spark: SparkSession, dir: String): DataFrame =
    slidingAggOf(Tables.events(spark, dir)).orderBy(col("event_id"))

  /** Core over any `(event_id, user_id, ts_us, value)` frame — split out
    * so the RANGE-peer semantics (same-µs events include each other) are
    * property-testable against a naive per-event scan. */
  private[graft] def slidingAggOf(ev: DataFrame): DataFrame = {
    val hourUs = 3600L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-(hourUs - 1), Window.currentRow)
    ev.select(col("event_id"), col("user_id"),
      count(lit(1)).over(w).as("n_1h"),
      sum(col("value").cast("decimal(18,2)")).over(w).cast("double").as("sum_1h"))
  }

  /** evt_gapfill: hourly resample + forward fill per user — the
    * time-series alignment primitive (telemetry/metrics feeds are
    * irregular; training features need a dense grid). Hours with no
    * events get n_events = 0 and carry the last observed value forward
    * ("last" = max event_id within the hour — the ingestion-order rule,
    * deterministic on both engines). Scale shape: the hourly rollup is
    * one hash shuffle with map-side combine (grid cells, not raw
    * events); the dense grid is `sequence(min_hour, max_hour)` exploded
    * per user — bounded by users × span-hours, independent of event
    * volume; the forward fill is a per-user ordered window over grid
    * rows only. Sampled to every 10th user to keep the contract output
    * bounded.
    */
  def gapFill(spark: SparkSession, dir: String): DataFrame =
    gapFillOf(Tables.events(spark, dir).filter(col("user_id") % 10 === 0))
      .orderBy(col("user_id"), col("hour"))

  /** Core over any `(event_id, user_id, ts_us, value)` frame — split out
    * so the fill semantics (0-filled counts, forward-filled last-by-
    * event-id value, inclusive dense bounds) are property-testable
    * against a naive per-user model. */
  private[graft] def gapFillOf(ev: DataFrame): DataFrame = {
    val hourUs = 3600L * 1000000L
    val hourly = ev
      .groupBy(col("user_id"), expr(s"ts_us DIV $hourUs").as("hour"))
      .agg(count(lit(1)).as("n_events"),
        max_by(col("value").cast("decimal(18,2)"), col("event_id")).as("last_v"))
    val dense = hourly.groupBy(col("user_id"))
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(col("user_id"), explode(sequence(col("h0"), col("h1"))).as("hour"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dense.join(hourly, Seq("user_id", "hour"), "left")
      .select(col("user_id"), col("hour"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("last_v"), ignoreNulls = true).over(w).cast("double").as("v_fill"))
  }

  /** evt_session_windows: per-user gap-based session windows via the
    * native `session_window` merging aggregate
    * ([[graft.streaming.Sessionized]] — the same operator runs unchanged
    * as a watermarked stream; in batch every session closes immediately).
    * One row per session with µs-epoch bounds (Spark's session end is
    * lastTs + gap; the oracle mirrors `epoch_us(max(ts)) + gap`), event
    * count and exact decimal value sum. Sessions that TOUCH merge —
    * Spark merges on `start <= prevEnd`, so a new session needs a gap
    * STRICTLY greater than the gap duration (SessionizedSpec pins it;
    * the oracle's lag predicate is `>`).
    */
  def sessionWindows(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.Sessionized.userSessions(Tables.events(spark, dir), gap = "30 minutes")
      .orderBy(col("user_id"), col("session_start_us"))

  /** evt_hop_walk: the reference's one custom sequence algorithm — utility-
    * hop subtraction (`ProjektorState.cs:178-221`, here the native Catalyst
    * expression) — driven by driver data: each user's ordered event-id walk
    * with a deterministic hop (2nd element → 4th element) subtracted, then
    * exploded with 1-based seq_no (`posexplode`). For this fixed hop shape
    * the scan's outcome is closed-form (keep walk[1], drop walk[2..3],
    * keep from walk[4]) so the DuckDB oracle checks the native expression
    * exactly; general hop lists need the stack scan (simulator-tested).
    */
  def hopWalk(spark: SparkSession, dir: String): DataFrame =
    hopWalkWith(spark, dir, walk =>
      when(size(walk) >= 4,
        array(struct(element_at(walk, 2).as("fromNodeId"),
          element_at(walk, 4).as("toNodeId")))))

  /** evt_hop_walk2 (VERDICT r9 #5): a GENERAL hop list under oracle check —
    * two hops, the second with an absent `toNodeId`, exercising the
    * skip-to-end branch of the stack scan (`ProjektorState.cs:205-215`:
    * a hop whose to-node never appears drops everything from its from-node
    * to the end of the walk). Closed form for this shape: walks of length
    * ≥ 6 reduce to [walk[1], walk[4], walk[5]] (hop 1 drops 2..3, keeps 4;
    * hop 2 fires at 6 and swallows the rest); 4..5 behave as
    * [[hopWalk]]; shorter walks pass verbatim — SQL-expressible, so the
    * multi-hop + skip-to-end path gets a per-round hash check instead of
    * simulator-only coverage. */
  def hopWalk2(spark: SparkSession, dir: String): DataFrame =
    hopWalkWith(spark, dir, walk =>
      when(size(walk) >= 6,
        array(
          struct(element_at(walk, 2).as("fromNodeId"),
            element_at(walk, 4).as("toNodeId")),
          struct(element_at(walk, 6).as("fromNodeId"),
            lit(null).cast("string").as("toNodeId"))))
      .when(size(walk) >= 4,
        array(struct(element_at(walk, 2).as("fromNodeId"),
          element_at(walk, 4).as("toNodeId")))))

  /** Shared walk-build → hop-subtract → ordered-explode shape; the hop
    * constructor is the only variation point between the oracle-checked
    * fixed-shape scans. */
  private def hopWalkWith(spark: SparkSession, dir: String,
      hopsOf: Column => Column): DataFrame = {
    val ev = Tables.events(spark, dir)
    val walks = ev.groupBy(col("user_id"))
      .agg(array_sort(collect_list(col("event_id"))).as("ids"))
      .select(col("user_id"), expr("transform(ids, x -> cast(x as string))").as("walk"))
    val withHops = walks.withColumn("hops", hopsOf(col("walk")))
    val subtracted = withHops.select(col("user_id"),
      graft.functions.HopSubtractExpr.hopSubtract(col("walk"), col("hops")).as("walk"))
    graft.ops.Walks.explodeOrdered(subtracted, "walk", "element_id", "seq_no")
      .select(col("user_id"), col("element_id"), col("seq_no"))
      .orderBy(col("user_id"), col("seq_no"))
  }

  /** evt_json_extract: schema-on-read over the JSON `props` payload — the
    * semi-structured half of every event log. `from_json` with an explicit
    * schema parses each payload exactly once into a typed struct (codegen'd
    * Jackson scan — no UDF, no per-field re-parse the way repeated
    * `get_json_object` calls would), then per event type: payload
    * presence/count, exact integer sum, max, and a threshold count. Scale
    * shape: parse is row-local and scan-fused; the aggregate is one hash
    * shuffle with map-side combine over |event_type| groups.
    *
    * `k` is extracted as STRING and `try_cast` to BIGINT so the coercion
    * matches the oracle's `TRY_CAST(json_extract_string(...))` exactly on
    * every payload shape (ADVICE r10): a string-encoded `"12"` coerces to
    * 12 on both sides, a fractional `50.5` becomes NULL on both sides —
    * parity no longer depends on the generator emitting pure JSON
    * integers.
    */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val k = from_json(col("props"),
      org.apache.spark.sql.types.StructType.fromDDL("k STRING")).getField("k")
      .try_cast("BIGINT")
    ev.select(col("event_type"), k.as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        count(col("k")).as("n_k"),
        sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"),
        sum(when(col("k") >= 50, 1L).otherwise(0L)).as("n_high"))
      .orderBy(col("event_type"))
  }

  /** evt_rate_limit: per-key admission control — keep only the first 2
    * events per (user, day), ordered by the global sequence number (the
    * deterministic ingestion order; ties impossible — event_id is unique).
    * The throttling/quota primitive of feed processing and per-source
    * training-data caps. Scale shape: ONE hash shuffle on the composite
    * (user, day) key — partitions are day-bounded slivers, never whole
    * user histories, so skew is bounded by a single key's daily volume.
    */
  def rateLimit(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400L * 1000000L
    val ev = Tables.events(spark, dir)
      .withColumn("day", expr(s"ts_us DIV $dayUs"))
    val w = Window.partitionBy(col("user_id"), col("day")).orderBy(col("event_id"))
    ev.withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= 2)
      .select(col("event_id"), col("user_id"), col("day"), col("rn"))
      .orderBy(col("event_id"))
  }

  /** evt_funnel: ordered conversion funnel — per user, the first signup,
    * the first view strictly AFTER that signup, and the first purchase
    * strictly after that view (stage = how deep the user got). The
    * cross-row ordering makes this inexpressible as one conditional
    * aggregate; the shape here is three chained whole-partition window
    * minima over ONE hash exchange + sort on user_id (each window may
    * reference the previous one's output), then a per-user collapse whose
    * hash aggregate reuses the window's partitioning — no second
    * shuffle. The DuckDB oracle computes the same funnel as three
    * dependent join+min CTEs: an independent algorithm.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame =
    funnelOf(Tables.events(spark, dir)).orderBy(col("user_id"))

  /** Core over any `(event_id, user_id, event_type)` frame — split out so
    * the strict-ordering rules (view must follow the FIRST signup,
    * purchase the FIRST qualifying view) are property-testable against a
    * naive per-user sorted scan. */
  private[graft] def funnelOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val staged = ev.select(col("event_id"), col("user_id"), col("event_type"))
      .withColumn("signup_id",
        min(when(col("event_type") === "signup", col("event_id"))).over(w))
      .withColumn("view_id",
        min(when(col("event_type") === "view" && col("event_id") > col("signup_id"),
          col("event_id"))).over(w))
      .withColumn("purchase_id",
        min(when(col("event_type") === "purchase" && col("event_id") > col("view_id"),
          col("event_id"))).over(w))
    staged.groupBy(col("user_id"))
      .agg(max(col("signup_id")).as("signup_id"),
        max(col("view_id")).as("view_id"),
        max(col("purchase_id")).as("purchase_id"))
      .withColumn("stage",
        when(col("purchase_id").isNotNull, 3)
          .when(col("view_id").isNotNull, 2)
          .when(col("signup_id").isNotNull, 1)
          .otherwise(0).cast("int"))
  }

  /** evt_type_markov: event-type transition matrix — counts of each
    * (previous type → type) bigram over per-user ordered streams, plus
    * how many distinct users exhibit the transition. The first-order
    * sequence model of behavioral analytics (and the n-gram LM shape
    * over an event alphabet). Scale: one hash shuffle on user_id for
    * the lag window, then a map-side-combined aggregate over ≤ |types|²
    * groups.
    */
  def typeTransitions(spark: SparkSession, dir: String): DataFrame =
    typeTransitionsOf(Tables.events(spark, dir))
      .orderBy(col("prev_type"), col("event_type"))

  /** evt_anomaly_mad: robust per-type anomaly screening — median /
    * median-absolute-deviation outlier counts per event type, the
    * heavy-tail-immune sibling of [[outliers]]' mean test (one whale
    * purchase drags a mean past every normal event; the median ignores
    * it). med and MAD are EXACT quantiles from TWO
    * [[Relational.quantilesExactOf]] passes (the same rank convention
    * the oracle mirrors: r = max(1, ceil(n·q/10⁶)), boundary = min
    * value with cum ≥ r); the outlier test |cents − med| > 3·mad is
    * exact integer arithmetic.
    *
    * Scale shape: every aggregate map-side combines over
    * (type, cents) / (type, bucket) keys; driver syncs are bounded at
    * one row per (type, quantile); med/mad join back as broadcast
    * |types|-row literal frames. The cents frame persists across the
    * two quantile passes + the final census (the curriculum lesson). */
  def anomalyMad(spark: SparkSession, dir: String): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    // NULL values are excluded BEFORE the quantile passes (ADVICE r14):
    // a NULL cents row would inflate the rank denominator n, order
    // differently between Spark's window cum-sum (NULLs first) and the
    // oracle's ORDER BY (NULLs last), and silently drop in the phase-2
    // equijoin. The generated data has none today; the contract must not
    // depend on that. Oracle mirrors with WHERE value IS NOT NULL.
    val ev = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type").as("grp"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    ev.persist()
    try {
      val med = Relational.quantilesExactOf(spark, ev, Seq(500000L))
        .select(col("grp"), col("q_cents")).as[(String, Long)].collect()
      val medDf = med.toSeq.toDF("grp", "med")
      val dev = ev.join(broadcast(medDf), Seq("grp"))
        .select(col("grp"), abs(col("cents") - col("med")).as("cents"))
      val mad = Relational.quantilesExactOf(spark, dev, Seq(500000L))
        .select(col("grp"), col("q_cents")).as[(String, Long)].collect()
      val madDf = mad.toSeq.toDF("grp", "mad")
      val census = ev.join(broadcast(medDf), Seq("grp"))
        .join(broadcast(madDf), Seq("grp"))
        .groupBy(col("grp").as("event_type"), col("med").as("med_cents"),
          col("mad").as("mad_cents"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(abs(col("cents") - col("med")) > col("mad") * 3, 1L)
            .otherwise(0L)).as("n_outliers"))
        .select(col("event_type"), col("n_events"), col("med_cents"),
          col("mad_cents"), col("n_outliers"))
        .orderBy(col("event_type"))
      // eager while the cents frame is cached (the curriculum lesson);
      // |types| rows
      spark.createDataFrame(
        java.util.Arrays.asList(census.collect(): _*), census.schema)
    } finally { ev.unpersist(blocking = false); () }
  }

  /** evt_interarrival: per-type inter-arrival-gap profile — exact
    * p50/p95/p99/max of the µs gap between consecutive events of a type
    * in event-time order (ties broken by event_id, a total order). The
    * burstiness diagnostic capacity planning and rate-limit/watermark
    * sizing read before picking trigger intervals and token-bucket
    * rates; p99 ≫ p50 is the bursty-traffic signature.
    *
    * Exactness: the same rank-quantile convention as
    * [[Relational.quantilesExactOf]] (r = ⌈n·q/10⁶⌉, value at rank r
    * ascending) — pure integers, no interpolation to disagree on.
    *
    * Scale shape: the lag window partitions by type — within a type the
    * gap computation is inherently sequential in event-time (that IS
    * the semantics), across types it parallelizes; the quantile passes
    * then run on the persisted gaps frame with the usual two-phase
    * bucket scheme (driver sync bounded at one row per (type,
    * quantile)), and the report is a bounded |types|-row eager collect
    * so the cached gaps release before return. */
  def interArrival(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts_us"), col("event_id"))
    val gaps = Tables.events(spark, dir)
      .select(col("event_type"), col("ts_us"), col("event_id"))
      .withColumn("prev", lag(col("ts_us"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("event_type").as("grp"),
        (col("ts_us") - col("prev")).as("cents"))
    gaps.persist()
    try {
      val qs = Relational
        .quantilesExactOf(spark, gaps, Seq(500000L, 950000L, 990000L))
        .groupBy(col("grp"))
        .agg(
          max(when(col("q_ppm") === 500000L, col("q_cents"))).as("p50_us"),
          max(when(col("q_ppm") === 950000L, col("q_cents"))).as("p95_us"),
          max(when(col("q_ppm") === 990000L, col("q_cents"))).as("p99_us"))
      val census = gaps.groupBy(col("grp"))
        .agg(count(lit(1)).as("n_gaps"), max(col("cents")).as("max_us"))
      val out = census.join(qs, Seq("grp"))
        .select(col("grp").as("event_type"), col("n_gaps"),
          col("p50_us"), col("p95_us"), col("p99_us"), col("max_us"))
        .orderBy(col("event_type"))
      // eager while the gaps frame is cached; |types| rows
      spark.createDataFrame(
        java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally { gaps.unpersist(blocking = false); () }
  }

  /** evt_attribution: last-touch conversion attribution — every
    * `purchase` credits the user's most recent PRECEDING `click`/`view`
    * within a 7-day lookback ("none" when the purchase is cold), rolled
    * up per touch type with the conversion count and exact value sum.
    * The marketing-attribution primitive every event warehouse serves,
    * and the one window shape not yet in the suite: `last(..., ignore
    * nulls)` over an UNBOUNDED-PRECEDING-to-−1 row frame.
    *
    * Scale shape: ONE keyed window on the uniform user key (running
    * last-touch carry, no self-join against the touch stream — the
    * join formulation would shuffle touches × conversions); the rollup
    * is ≤ 3 rows. Value sums ride the DECIMAL(18,2)-cents exact-integer
    * convention. Ordering (ts_us, event_id) is total per user, so the
    * carried touch is deterministic on any engine. */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"),
        col("value").cast("decimal(18,2)").as("dv"))
    attributionCreditsOf(ev)
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(col("dv")).cast("double").as("sum_value"))
      .orderBy(col("touch_type"))
  }

  /** The per-PURCHASE credit frame under [[attribution]]'s rollup: the
    * last click or view within the 7-day lookback credits each purchase.
    * Input needs (user_id, event_id, ts_us, event_type, dv); output keeps
    * those plus `touch_type`. */
  private def attributionCreditsOf(ev: DataFrame): DataFrame = {
    val lookbackUs = 7L * 86400L * 1000000L
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn("touch",
        last(when(col("event_type").isin("click", "view"),
          struct(col("ts_us").as("t"), col("event_type").as("ty"))),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("touch_type",
        when(col("touch").isNotNull &&
          col("ts_us") - col("touch.t") <= lookbackUs, col("touch.ty"))
          .otherwise(lit("none")))
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("touch_type"), col("dv"))
  }

  /** Core over any `(event_id, user_id, event_type)` frame — split out
    * so the bigram rules (per-user streams don't bleed into each other;
    * each user's first event starts no transition) are property-testable
    * against a naive sliding-pair model. */
  /** evt_top_paths: the 20 most-travelled 3-step event-type paths over
    * per-user journeys — the trigram extension of [[typeTransitionsOf]]'
    * first-order Markov table, and the session-mining/funnel-discovery
    * primitive (a dominant view→view→purchase path IS the funnel worth
    * instrumenting). Deterministic: journeys order by event_id within
    * user, the top-20 ties break on the full (n DESC, t1, t2, t3) total
    * order.
    *
    * Scale shape: the lead windows parallelize by user (the markov
    * query's exchange, reused); path counts map-side combine over
    * ≤ |types|³ keys; top-20 is a TakeOrdered, never a global sort. */
  def topPaths(spark: SparkSession, dir: String): DataFrame =
    topPathTrigramsOf(Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type")))
      .groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n_paths"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n_paths").desc, col("t1"), col("t2"), col("t3"))
      .limit(20)

  /** The per-user trigram frame under [[topPaths]] — (user_id,
    * event_id of the COMPLETING event, t1, t2, t3), one row per
    * 3-event window in event_id order. */
  private def topPathTrigramsOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    ev
      .withColumn("t1", lag(col("event_type"), 2).over(w))
      .withColumn("t2", lag(col("event_type"), 1).over(w))
      .filter(col("t1").isNotNull)
      .select(col("user_id"), col("event_id"),
        col("t1"), col("t2"), col("event_type").as("t3"))
  }

  private[graft] def typeTransitionsOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    ev.withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
  }

  /** evt_type_pivot: per-user wide counts by event type — the dispatch
    * table pivoted (one pass, conditional sums; the shape a 28-type
    * dispatcher compiles to). */
  def typePivot(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val types = Seq("click", "error", "purchase", "signup", "view")
    ev.groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === types.head, 1L).otherwise(0L)).as(s"n_${types.head}"),
        types.tail.map(t =>
          sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$t")): _*)
      .orderBy(col("user_id"))
  }

  /** evt_window_counts: per-minute event-time tumbling-window counts by
    * type — the batch twin of [[graft.streaming.Windowed.eventCounts]]
    * (same operator; in batch the watermark is a no-op and every window
    * closes). Window bounds formatted as strings (oracle-parity rule: no
    * raw timestamps in outputs). */
  def windowCounts(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.Windowed.eventCounts(Tables.events(spark, dir), "1 minute", "0 seconds")
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        date_format(col("window_end"), "yyyy-MM-dd HH:mm:ss").as("window_end"),
        col("event_type"), col("n"))
      .orderBy(col("window_start"), col("event_type"))

  /** evt_asof_join: the general two-frame as-of join
    * ([[graft.ops.AsOfJoin]]) driven by driver data — each purchase
    * attaches the latest view row (id AND value) of the same user at or
    * before it. Differs from [[asofValue]] by being a real frame-pair
    * operator returning the matched right ROW, and the DuckDB oracle is
    * its native ASOF JOIN — an independent merge-scan algorithm, not the
    * window rewrite mirrored back.
    */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("value"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id"), col("value"))
    graft.ops.AsOfJoin.asofBackward(purchases, views, Seq("user_id"),
        "event_id", "event_id", prefix = "view_")
      .select(col("event_id"), col("user_id"), col("value"),
        col("view_event_id"), col("view_value"))
      .orderBy(col("event_id"))
  }

  /** evt_range_agg: banded backward range join ([[graft.ops.RangeJoin]])
    * — per purchase, the count and value sum of same-user views within
    * the preceding 5000 event ids. The operator emits exact pairs via a
    * 2×-replicated equi-join (no nested loop); the zero-match purchases
    * are kept by left-joining the pair aggregate back. The DuckDB oracle
    * runs the raw inequality join (its IEJoin) — an independent
    * algorithm over the same predicate.
    */
  def rangeAgg(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("value"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id"), col("value"))
    val pairs = graft.ops.RangeJoin.bandedBackward(purchases, views, Seq("user_id"),
      "event_id", "event_id", before = 5000L, prefix = "view_")
    val agg = pairs.groupBy(col("event_id"))
      .agg(count(col("view_event_id")).as("n_views"),
        sum(col("view_value").cast("decimal(18,2)")).as("__sum"))
    purchases.join(agg, Seq("event_id"), "left")
      .select(col("event_id"), col("user_id"),
        coalesce(col("n_views"), lit(0L)).as("n_views"),
        coalesce(col("__sum"), lit(0).cast("decimal(18,2)")).cast("double").as("sum_view_value"))
      .orderBy(col("event_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_asof_join" -> asofJoin,
    "evt_range_agg" -> rangeAgg,
    "evt_window_counts" -> windowCounts,
    "evt_type_pivot" -> typePivot,
    "evt_lww_state" -> lwwState,
    "evt_dispatch_stats" -> dispatchStats,
    "evt_lifecycle_alive" -> lifecycleAlive,
    "evt_walk_dedup" -> walkDedup,
    "evt_asof_value" -> asofValue,
    "evt_cdc_classify" -> cdcClassify,
    "evt_cohort_retention" -> cohortRetention,
    "evt_outliers" -> outliers,
    "evt_session_agg" -> sessionAgg,
    "evt_sliding_agg" -> slidingAgg,
    "evt_gapfill" -> gapFill,
    "evt_session_windows" -> sessionWindows,
    "evt_hop_walk" -> hopWalk,
    "evt_hop_walk2" -> hopWalk2,
    "evt_json_extract" -> jsonExtract,
    "evt_rate_limit" -> rateLimit,
    "evt_funnel" -> funnel,
    "evt_type_markov" -> typeTransitions,
    "evt_attribution" -> attribution,
    "evt_anomaly_mad" -> anomalyMad,
    "evt_interarrival" -> interArrival,
    "evt_top_paths" -> topPaths)

  val oracleSql: Map[String, String] = Map(
    // Same rank-quantile convention as the MAD oracle below:
    // r = ⌈n·q/10⁶⌉, value = min g with cum ≥ r over ascending gaps.
    "evt_interarrival" ->
      """WITH base AS (
        |  SELECT event_type AS grp,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY event_type ORDER BY epoch_us(ts), event_id) AS g
        |  FROM events
        |), gaps AS (
        |  SELECT grp, g FROM base WHERE g IS NOT NULL
        |), gc AS (
        |  SELECT grp, g, count(*) AS c FROM gaps GROUP BY 1, 2
        |), gr AS (
        |  SELECT grp, g, c,
        |    sum(c) OVER (PARTITION BY grp) AS n,
        |    sum(c) OVER (PARTITION BY grp ORDER BY g) AS cum
        |  FROM gc
        |), q AS (
        |  SELECT grp,
        |    CAST(min(CASE WHEN cum >= greatest(1, (n * 500000 + 999999) // 1000000) THEN g END) AS BIGINT) AS p50_us,
        |    CAST(min(CASE WHEN cum >= greatest(1, (n * 950000 + 999999) // 1000000) THEN g END) AS BIGINT) AS p95_us,
        |    CAST(min(CASE WHEN cum >= greatest(1, (n * 990000 + 999999) // 1000000) THEN g END) AS BIGINT) AS p99_us
        |  FROM gr GROUP BY 1
        |)
        |SELECT g.grp AS event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |  q.p50_us, q.p95_us, q.p99_us, CAST(max(g.g) AS BIGINT) AS max_us
        |FROM gaps g JOIN q USING (grp)
        |GROUP BY 1, 3, 4, 5 ORDER BY 1""".stripMargin,
    "evt_anomaly_mad" ->
      """WITH base AS (
        |  SELECT event_type AS grp,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL
        |), mc AS (
        |  SELECT grp, cents, count(*) AS c FROM base GROUP BY 1, 2
        |), mr AS (
        |  SELECT grp, cents, c,
        |    sum(c) OVER (PARTITION BY grp) AS n,
        |    sum(c) OVER (PARTITION BY grp ORDER BY cents) AS cum
        |  FROM mc
        |), med AS (
        |  SELECT grp, min(cents) AS med FROM mr
        |  WHERE cum >= greatest(1, (n * 500000 + 999999) // 1000000)
        |  GROUP BY 1
        |), dev AS (
        |  SELECT b.grp, abs(b.cents - m.med) AS cents
        |  FROM base b JOIN med m USING (grp)
        |), dc AS (
        |  SELECT grp, cents, count(*) AS c FROM dev GROUP BY 1, 2
        |), dr AS (
        |  SELECT grp, cents, c,
        |    sum(c) OVER (PARTITION BY grp) AS n,
        |    sum(c) OVER (PARTITION BY grp ORDER BY cents) AS cum
        |  FROM dc
        |), mad AS (
        |  SELECT grp, min(cents) AS mad FROM dr
        |  WHERE cum >= greatest(1, (n * 500000 + 999999) // 1000000)
        |  GROUP BY 1
        |)
        |SELECT b.grp AS event_type,
        |  count(*) AS n_events, m.med AS med_cents, d.mad AS mad_cents,
        |  CAST(sum(CASE WHEN abs(b.cents - m.med) > 3 * d.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM base b JOIN med m USING (grp) JOIN mad d USING (grp)
        |GROUP BY 1, 3, 4 ORDER BY 1""".stripMargin,
    "evt_attribution" ->
      """WITH base AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
        |    CAST(value AS DECIMAL(18,2)) AS dv
        |  FROM events
        |), t AS (
        |  SELECT *, last_value(CASE WHEN event_type IN ('click', 'view')
        |      THEN struct_pack(t := ts_us, ty := event_type) END IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM base
        |)
        |SELECT CASE WHEN touch IS NOT NULL AND ts_us - touch.t <= 604800000000
        |         THEN touch.ty ELSE 'none' END AS touch_type,
        |  count(*) AS n_conversions,
        |  CAST(sum(dv) AS DOUBLE) AS sum_value
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "evt_outliers" ->
      """WITH c AS (
        |  SELECT user_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events
        |), m AS (
        |  SELECT user_id, cents,
        |    count(*) OVER (PARTITION BY user_id) AS n,
        |    sum(cents) OVER (PARTITION BY user_id) AS s
        |  FROM c
        |)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN cents * n > s * 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM m GROUP BY 1""".stripMargin,
    "evt_cohort_retention" ->
      """WITH a AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week FROM events
        |), c AS (
        |  SELECT user_id, min(week) AS cohort_week FROM a GROUP BY 1
        |)
        |SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM a JOIN c USING (user_id) GROUP BY 1, 2""".stripMargin,
    "evt_window_counts" ->
      """SELECT strftime(time_bucket(INTERVAL 1 minute, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  strftime(time_bucket(INTERVAL 1 minute, ts) + INTERVAL 1 minute, '%Y-%m-%d %H:%M:%S') AS window_end,
        |  event_type, count(*) AS n
        |FROM events GROUP BY 1, 2, 3""".stripMargin,
    "evt_type_pivot" ->
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
        |FROM events GROUP BY user_id""".stripMargin,
    "evt_lww_state" ->
      // value columns are struct-wrapped: DuckDB arg_max skips rows whose
      // value argument is NULL, while Spark max_by returns the (possibly
      // NULL) value at the max event_id — wrapping in a never-NULL struct
      // makes DuckDB carry the NULL through, matching Spark's LWW semantics
      """SELECT user_id,
        |  arg_max(event_type, event_id) AS last_type,
        |  (arg_max({'v': value}, event_id)).v AS last_value,
        |  (arg_max({'v': value}, event_id) FILTER (WHERE event_type = 'purchase')).v AS last_purchase_value,
        |  count(*) AS n_events,
        |  max(event_id) AS high_water
        |FROM events GROUP BY user_id""".stripMargin,
    "evt_dispatch_stats" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type""".stripMargin,
    "evt_lifecycle_alive" ->
      """SELECT user_id, n_signups FROM (
        |  SELECT user_id,
        |    arg_max(event_type, event_id) FILTER (WHERE event_type IN ('signup','error')) AS last_lifecycle,
        |    CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signups
        |  FROM events GROUP BY user_id) t
        |WHERE last_lifecycle = 'signup'""".stripMargin,
    "evt_walk_dedup" ->
      """SELECT user_id, event_type,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY first_seq) AS INT) AS seq_no
        |FROM (SELECT user_id, event_type, min(event_id) AS first_seq
        |      FROM events GROUP BY user_id, event_type) t""".stripMargin,
    "evt_asof_join" ->
      // DuckDB's NATIVE ASOF JOIN (merge-scan) — an independent algorithm
      // from the union + window forward-fill on the Spark side
      """SELECT l.event_id, l.user_id, l.value,
        |  r.event_id AS view_event_id, r.value AS view_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
        |  ON l.user_id = r.user_id AND l.event_id >= r.event_id""".stripMargin,
    "evt_range_agg" ->
      // raw inequality join (DuckDB plans an IEJoin) vs the banded
      // equi-join expansion on the Spark side
      """SELECT l.event_id, l.user_id,
        |  count(r.event_id) AS n_views,
        |  CAST(COALESCE(sum(CAST(r.value AS DECIMAL(18,2))), 0) AS DOUBLE) AS sum_view_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
        |  ON l.user_id = r.user_id
        |  AND r.event_id > l.event_id - 5000 AND r.event_id <= l.event_id
        |GROUP BY 1, 2""".stripMargin,
    "evt_asof_value" ->
      """SELECT event_id, user_id, value, last_view_value FROM (
        |  SELECT event_id, user_id, event_type, value,
        |    last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_value
        |  FROM events) t WHERE event_type = 'purchase'""".stripMargin,
    "evt_cdc_classify" ->
      """SELECT user_id, n_events,
        |  CASE WHEN n_events = 1 THEN 'insert'
        |       WHEN last_lifecycle = 'error' THEN 'delete'
        |       ELSE 'update' END AS change_type
        |FROM (
        |  SELECT user_id, count(*) AS n_events,
        |    arg_max(event_type, event_id) FILTER (WHERE event_type IN ('signup','error')) AS last_lifecycle
        |  FROM events GROUP BY user_id) t""".stripMargin,
    "evt_session_agg" ->
      """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
        |  SELECT user_id,
        |    CASE WHEN prev_us IS NULL OR (epoch_us(ts) - prev_us) > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM (
        |    SELECT user_id, ts,
        |      lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_us
        |    FROM events) a) b
        |GROUP BY user_id""".stripMargin,
    "evt_gapfill" ->
      """WITH hourly AS (
        |  SELECT user_id, epoch_us(ts) // 3600000000 AS hour,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    arg_max(CAST(value AS DECIMAL(18,2)), event_id) AS last_v
        |  FROM events WHERE user_id % 10 = 0 GROUP BY 1, 2
        |), bounds AS (
        |  SELECT user_id, min(hour) AS h0, max(hour) AS h1 FROM hourly GROUP BY 1
        |), dense AS (
        |  SELECT user_id, unnest(range(h0, h1 + 1)) AS hour FROM bounds
        |)
        |SELECT d.user_id, d.hour,
        |  COALESCE(h.n_events, 0) AS n_events,
        |  CAST(last_value(h.last_v IGNORE NULLS) OVER (
        |    PARTITION BY d.user_id ORDER BY d.hour
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS v_fill
        |FROM dense d LEFT JOIN hourly h USING (user_id, hour)""".stripMargin,
    "evt_sliding_agg" ->
      """SELECT event_id, user_id,
        |  count(*) OVER w AS n_1h,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)""".stripMargin,
    "evt_session_windows" ->
      """WITH g AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |), s AS (
        |  SELECT user_id, ts, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |                           ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g
        |)
        |SELECT user_id,
        |  epoch_us(min(ts)) AS session_start_us,
        |  epoch_us(max(ts)) + 1800000000 AS session_end_us,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, session_id""".stripMargin,
    "evt_hop_walk" ->
      """WITH w AS (
        |  SELECT user_id, list_sort(list(event_id)) AS ids FROM events GROUP BY user_id
        |), r2 AS (
        |  SELECT user_id,
        |    list_transform(CASE WHEN len(ids) >= 4 THEN list_concat([ids[1]], ids[4:]) ELSE ids END,
        |                   x -> CAST(x AS VARCHAR)) AS walk
        |  FROM w
        |)
        |SELECT user_id, unnest(walk) AS element_id,
        |  CAST(generate_subscripts(walk, 1) AS INT) AS seq_no
        |FROM r2""".stripMargin,
    "evt_hop_walk2" ->
      """WITH w AS (
        |  SELECT user_id, list_sort(list(event_id)) AS ids FROM events GROUP BY user_id
        |), r2 AS (
        |  SELECT user_id,
        |    list_transform(
        |      CASE WHEN len(ids) >= 6 THEN [ids[1], ids[4], ids[5]]
        |           WHEN len(ids) >= 4 THEN list_concat([ids[1]], ids[4:])
        |           ELSE ids END,
        |      x -> CAST(x AS VARCHAR)) AS walk
        |  FROM w
        |)
        |SELECT user_id, unnest(walk) AS element_id,
        |  CAST(generate_subscripts(walk, 1) AS INT) AS seq_no
        |FROM r2""".stripMargin,
    "evt_json_extract" ->
      // TRY_CAST on both sides (ADVICE r10): string-encoded integers
      // coerce, non-integral payloads go NULL instead of hard-erroring
      """SELECT event_type,
        |  count(*) AS n_events,
        |  count(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k,
        |  CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  max(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
        |  CAST(sum(CASE WHEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_high
        |FROM events GROUP BY event_type""".stripMargin,
    "evt_rate_limit" ->
      """SELECT event_id, user_id, day, rn FROM (
        |  SELECT event_id, user_id, epoch_us(ts) // 86400000000 AS day,
        |    CAST(row_number() OVER (
        |      PARTITION BY user_id, epoch_us(ts) // 86400000000
        |      ORDER BY event_id) AS INT) AS rn
        |  FROM events) t
        |WHERE rn <= 2""".stripMargin,
    "evt_funnel" ->
      // three dependent join+min CTEs — an independent algorithm from the
      // chained window minima on the Spark side
      """WITH s AS (
        |  SELECT user_id, min(event_id) AS signup_id FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id
        |), v AS (
        |  SELECT e.user_id, min(e.event_id) AS view_id
        |  FROM events e JOIN s USING (user_id)
        |  WHERE e.event_type = 'view' AND e.event_id > s.signup_id GROUP BY e.user_id
        |), p AS (
        |  SELECT e.user_id, min(e.event_id) AS purchase_id
        |  FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.event_id > v.view_id GROUP BY e.user_id
        |), u AS (SELECT DISTINCT user_id FROM events)
        |SELECT u.user_id, s.signup_id, v.view_id, p.purchase_id,
        |  CAST(CASE WHEN p.purchase_id IS NOT NULL THEN 3
        |            WHEN v.view_id IS NOT NULL THEN 2
        |            WHEN s.signup_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS stage
        |FROM u LEFT JOIN s USING (user_id) LEFT JOIN v USING (user_id)
        |  LEFT JOIN p USING (user_id)""".stripMargin,
    "evt_type_markov" ->
      """SELECT prev_type, event_type,
        |  count(*) AS n, count(DISTINCT user_id) AS n_users
        |FROM (
        |  SELECT user_id, event_type,
        |    lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_type
        |  FROM events) t
        |WHERE prev_type IS NOT NULL
        |GROUP BY prev_type, event_type""".stripMargin,
    "evt_top_paths" ->
      """SELECT t1, t2, t3, count(*) AS n_paths,
        |  count(DISTINCT user_id) AS n_users
        |FROM (
        |  SELECT user_id, event_type AS t1,
        |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS t2,
        |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY event_id) AS t3
        |  FROM events) t
        |WHERE t3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n_paths DESC, t1, t2, t3 LIMIT 20""".stripMargin)
}
