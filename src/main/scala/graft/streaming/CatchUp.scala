package graft.streaming

import graft.projector.EventLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** EP2 — incremental catch-up service (SURVEY.md §3): a Structured
  * Streaming query over the event-log directory; each micro-batch is
  * folded into the materialized tables by [[Incremental.step]] — touched
  * keys only, O(delta) in compute and I/O, never re-reading the cumulative
  * log (the reference's per-event apply loop, `Worker.cs:40-48`, at
  * micro-batch granularity).
  *
  * Store = the bucket-partitioned parquet [[StateStore]]. In production
  * the same per-table delete+reinsert contract drives a Delta/Iceberg
  * MERGE INTO or the JDBC sink of [[graft.sinks.JdbcSink]] via the
  * [[Incremental.Sink]] hook; the derivation logic is identical.
  *
  * Phase handoff (the reference's `_bulkMode` flip,
  * `RelationalDatabaseProjection.cs:460-495`, `Worker.cs:32-48`): when the
  * store was seeded at cold start ([[Incremental.seed]]: the whole log
  * folded as one [[Incremental.step]]), the stream filters
  * `seq > highWater` — parquet row-group stats push the predicate
  * into the scan, so event files wholly below the high-water cost only a
  * footer read and the catch-up phase's I/O is bounded by the log TAIL,
  * not the replayed prefix.
  *
  * Exactly-once: the file-source checkpoint gives at-least-once batch
  * delivery; [[Incremental.step]] skips batches already recorded as
  * applied and replays interrupted ones from pre-merge snapshots
  * (see its object doc), so table contents are exactly-once.
  *
  * Usage: runMain graft.streaming.CatchUp <eventsDir> <stateDir>
  */
object CatchUp {

  /** Cold-start dehydration — the reference's single-process lifecycle
    * (`Worker.cs:32-48`: dehydrate the full store, flip `_bulkMode`, then
    * poll): when the store was never seeded AND no streaming checkpoint
    * exists, fold every event file already in `eventsDir` through
    * [[Incremental.seed]] — one [[Incremental.step]] over the whole
    * existing log, the same derivation every later batch runs — and record
    * the high-water seq. A warm restart
    * (checkpoint present) or a store seeded by a prior
    * [[graft.projector.Backfill]] run skips this. Returns true when the
    * dehydration ran. */
  def dehydrateIfCold(spark: SparkSession, eventsDir: String, store: StateStore): Boolean = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val cp = new Path(s"${store.root}/_checkpoint")
    val ev = new Path(eventsDir)
    val warm = store.highWater != Long.MinValue || cp.getFileSystem(conf).exists(cp)
    if (warm || !ev.getFileSystem(conf).exists(ev)) false
    else {
      val existing = spark.read.schema(EventLog.envelopeSchema).parquet(eventsDir)
      Incremental.seed(store, EventLog.decode(existing))
      true
    }
  }

  /** Start the catch-up stream. Split from [[main]] so the end-to-end
    * kill/restart spec drives the REAL query (same source, checkpoint,
    * foreachBatch wiring). `sink` receives every output table's
    * delete+upsert set per micro-batch — the JDBC delivery path
    * ([[graft.sinks.JdbcSink.jdbcSink]]) in production. */
  def startQuery(spark: SparkSession, eventsDir: String, store: StateStore,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds"),
      onBatch: Long => Unit = _ => (),
      sink: Incremental.Sink = Incremental.noSink,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val schema = EventLog.envelopeSchema
    val highWater = store.highWater
    // foreachBatch batch ids are only monotone within one checkpoint
    // incarnation: if the checkpoint was deleted (fresh id, or no metadata
    // yet) while the store kept its applied_batch, every replayed batch
    // would be skipped as "already applied" — silent data loss. Reset the
    // applied-batch marker unless the checkpoint identity matches the one
    // that recorded it; replay idempotence makes re-application safe.
    locally {
      import org.apache.hadoop.fs.Path
      val cpMeta = new Path(s"${store.root}/_checkpoint/metadata")
      val fs = cpMeta.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val cpId: Option[String] =
        if (!fs.exists(cpMeta)) None
        else {
          val in = fs.open(cpMeta)
          try {
            val bytes = new Array[Byte](fs.getFileStatus(cpMeta).getLen.toInt)
            in.readFully(bytes)
            "\"id\"\\s*:\\s*\"([^\"]+)\"".r
              .findFirstMatchIn(new String(bytes, "UTF-8")).map(_.group(1))
          } finally in.close()
        }
      if (cpId.isEmpty || cpId != store.readMeta("applied_qid"))
        store.clearLastAppliedBatch()
    }
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val raw = reader.parquet(eventsDir)
      .filter(col("seq") > highWater)
    val q = raw.writeStream
      .trigger(trigger)
      .option("checkpointLocation", s"${store.root}/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // no isEmpty pre-check: that was one extra job per batch on the
        // 2-second path; the step's fused step-start collect answers
        // emptiness for free (an events-free batch — e.g. a seeded prefix
        // file pruned by the high-water filter — skips every section and
        // reports false, so onBatch still fires only for folded events)
        if (Incremental.step(store, EventLog.decode(batch), sink, batchId = batchId))
          onBatch(batchId)
        ()
      }
      .start()
    // the persistent query id (== checkpoint metadata id) this store's
    // applied_batch is scoped to; checked against on the next start
    store.writeMeta("applied_qid", q.id.toString)
    q
  }

  /** The projector profile: the Spark conf every projector session runs
    * under — [[main]], [[graft.projector.Backfill]]'s main, [[graft.EngineBench]]
    * and the projector specs. `cpus` is the shuffle and collect width; the
    * caller sets the master. */
  def profile(b: SparkSession.Builder, cpus: String): SparkSession.Builder = b
    .config("spark.sql.shuffle.partitions", cpus)
    // bounded collects (KeySet.fromDf, the fused step-start job) sit on
    // the 2-second path; the default CollectLimit ramp-up (1 → 4 → all
    // partitions) turns each into up to 3 driver jobs on frames that
    // never satisfy the limit early — start at full coverage
    .config("spark.sql.limit.initialNumPartitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // the poll loop folds batch-bounded frames: AQE's per-stage re-plan
    // turns every internal shuffle into its own job (~2.5× the job count
    // per step) for zero benefit at micro-batch sizes; likewise a
    // distributed partition-discovery job never pays off on the
    // touched-bucket reads
    .config("spark.sql.adaptive.enabled", "false")
    .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
    // micro-batch frames are a few hundred rows: per-stage janino
    // compilation (re-triggered every batch — the per-batch IN-set
    // literals make each plan's generated source unique) costs more than
    // interpreted evaluation saves at this size (dense step 7.9 s → 6.4 s
    // with codegen off)
    .config("spark.sql.codegen.wholeStage", "false")

  def main(args: Array[String]): Unit = {
    val Array(eventsDir, stateDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = profile(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-catchup"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val store = new StateStore(spark, stateDir)
    // processed-events metric per micro-batch (the reference logs the
    // per-poll event count, Worker.cs:42-45) — listener-side, so it costs
    // no extra action on the data path
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        println(s"graft-catchup: processed ${e.progress.numInputRows} events " +
          s"(batch ${e.progress.batchId})")
    })
    if (dehydrateIfCold(spark, eventsDir, store))
      println(s"graft-catchup: cold start — dehydrated to high water ${store.highWater}")
    val q = startQuery(spark, eventsDir, store,
      // health signal after first successful fold (Worker.cs:37-38)
      onBatch = _ => { new java.io.File("/tmp/graft-healthy").createNewFile(); () })
    q.awaitTermination()
  }
}
