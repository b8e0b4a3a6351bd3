package graft

import org.apache.spark.sql.SparkSession

/** Engine-level benchmark (BASELINE.md engine-internal regression row):
  * wall-clock full backfill of all 8 tables and sustained events/sec
  * through the REAL catch-up stream (prefix seed → AvailableNow tail, one
  * micro-batch per chunk file) over a deterministic synthetic envelope log
  * ([[graft.projector.LogSynth]]). Invoked by [[Bench]] per round and as a
  * standalone main for probing.
  *
  * The session runs the projector profile ([[graft.streaming.CatchUp.profile]])
  * at a width of [[Partitions]]: a 2-second poll loop folds batch-bounded
  * frames, so task count per tiny stage — not parallelism on big data —
  * dominates.
  */
object EngineBench {

  /** Shuffle and collect width of the engine session. */
  val Partitions = "4"

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)

  /** Seed a FRESH store at `sites` (4× the base run) and stream TWO soak
    * segments through the real catch-up query against it: a dense
    * provisioning tail of `denseTail` events in 8 chunk files (same
    * per-batch event count as the base dense segment — only the state is
    * 4×), then a sparse (update-only) segment. Returns (dense per-batch
    * secs, sparse per-batch secs). The 4×-state soak (VERDICT r5 #5,
    * dense added per r7 #4): per-batch cost must be state-size-
    * independent on BOTH mixes — the stream-level version of
    * StateStoreScaleSpec's write-bound promise. One seeded store serves
    * both segments (a second 4×-site seed would double the soak's cost
    * for no added signal). */
  private def soakSegments(spark: SparkSession, sites: Int,
      denseTail: Int, updates: Int): (Vector[Double], Vector[Double]) = {
    val root = graft.util.Scratch.dir("graft-engine-soak")
    try soakSegmentsIn(spark, sites, denseTail, updates, root)
    finally graft.util.Scratch.deleteRecursively(root)
  }

  /** Write `prefix` into `$root/events` as `files` chunk files and seed a
    * fresh store from it; the shared head of every seeded-store segment
    * (base run, 4× soak, 16× spot — self-review r10: three hand-rolled
    * copies of this choreography drifted one filename at a time). */
  private def seedStore(spark: SparkSession, root: String,
      prefix: Seq[(Long, String, String)], files: Int): (String, graft.streaming.StateStore) = {
    val eventsDir = s"$root/events"
    graft.projector.LogSynth.write(spark, eventsDir, prefix, files)
    val store = new graft.streaming.StateStore(spark, s"$root/state")
    graft.streaming.Incremental.seed(store,
      graft.projector.EventLog.decode(
        spark.read.schema(graft.projector.LogSynth.envelopeSchema).parquet(eventsDir)))
    (eventsDir, store)
  }

  /** Stage `evts` as `files` chunks and land them in `eventsDir` under
    * `namePrefix` (rename-into-place; seqs must sit above the store's
    * high water so the stream picks them up). */
  private def stageTail(spark: SparkSession, root: String, stage: String,
      evts: Seq[(Long, String, String)], files: Int, eventsDir: String,
      namePrefix: String): Unit = {
    graft.projector.LogSynth.write(spark, s"$root/$stage", evts, files)
    new java.io.File(s"$root/$stage").listFiles().foreach { f =>
      java.nio.file.Files.move(f.toPath,
        new java.io.File(eventsDir, s"$namePrefix${f.getName}").toPath)
      ()
    }
  }

  private def soakSegmentsIn(spark: SparkSession, sites: Int,
      denseTail: Int, updates: Int, root: String): (Vector[Double], Vector[Double]) = {
    val evts = graft.projector.LogSynth.events(sites)
    // seed from everything but the dense tail, then stream the tail: the
    // batches carry the same event mix/count as the base dense segment
    // (site logs are emitted in site order, so a fixed-size tail covers
    // the last ~denseTail/10 sites' provisioning on any `sites`).
    // A soak log SMALLER than the base dense tail cannot measure
    // state-size independence (splitAt would silently seed from an empty
    // prefix and stream full cold provisioning) — fail loudly instead of
    // reporting a meaningless ratio; SPARK_GRAFT_ENGINE_SOAK_SITES=0 is
    // the documented skip.
    require(evts.size > denseTail,
      s"soak log ($sites sites, ${evts.size} events) is not larger than the " +
        s"base dense tail ($denseTail events) — raise SPARK_GRAFT_ENGINE_SOAK_SITES " +
        "or set it to 0 to skip the soak")
    val (prefix, tail) = evts.splitAt(evts.size - denseTail)
    val (eventsDir, store) = seedStore(spark, root, prefix, 4)
    stageTail(spark, root, "dense_stage", tail, 8, eventsDir, "tail-")
    val denseSecs = streamSegment(spark, eventsDir, store)
    val sparse = graft.projector.LogSynth.updates(sites, updates, evts.size + 1L)
    stageTail(spark, root, "sparse_stage", sparse, 4, eventsDir, "sparse-")
    (denseSecs, streamSegment(spark, eventsDir, store))
  }

  /** Seed a FRESH store at a 16×-sites scale and stream `batches` dense
    * chunk files of `batchSize` events each through the real catch-up
    * query (VERDICT r9 #4): batch 1 absorbs the stream's one-off startup,
    * the rest are the state-size spot sample (the ratio takes their MIN
    * — one sample proved too variance-exposed). Together with the 4×
    * soak this turns the "per-batch cost is state-size-independent"
    * claim into a two-point measurement (4× and 16× the base state) for
    * the price of one extra seed + `batches` batches. */
  private def denseSpot(spark: SparkSession, sites: Int, batchSize: Int,
      batches: Int): Vector[Double] = {
    val root = graft.util.Scratch.dir("graft-engine-spot16")
    val denseTail = batchSize * batches
    try {
      val evts = graft.projector.LogSynth.events(sites)
      require(evts.size > denseTail,
        s"16x spot log ($sites sites, ${evts.size} events) is not larger than its " +
          s"dense tail ($denseTail events) — raise SPARK_GRAFT_ENGINE_SOAK16_SITES " +
          "or set it to 0 to skip the spot sample")
      val (prefix, tail) = evts.splitAt(evts.size - denseTail)
      val (eventsDir, store) = seedStore(spark, root, prefix, 8)
      // one file per chunk (maxFilesPerTrigger=1 → one micro-batch each)
      stageTail(spark, root, "spot_stage", tail, batches, eventsDir, "tail-")
      streamSegment(spark, eventsDir, store)
    } finally graft.util.Scratch.deleteRecursively(root)
  }

  /** Drain everything currently unprocessed in `eventsDir` through the
    * real catch-up query, one micro-batch per file; per-batch seconds. */
  private def streamSegment(spark: SparkSession, eventsDir: String,
      store: graft.streaming.StateStore): Vector[Double] = {
    val secs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val mark = new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
    val q = graft.streaming.CatchUp.startQuery(spark, eventsDir, store,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      onBatch = _ => {
        val now = System.nanoTime()
        secs.add((now - mark.getAndSet(now)) / 1e9)
        ()
      },
      maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    secs.asScala.toVector
  }

  /** Runs the engine benchmark; returns a JSON object string. */
  def run(spark: SparkSession, sites: Int,
      onBatch: Long => Unit = _ => ()): String = {
    val root = graft.util.Scratch.dir("graft-engine-bench")
    try runIn(spark, sites, onBatch, root)
    finally graft.util.Scratch.deleteRecursively(root)
  }

  private def runIn(spark: SparkSession, sites: Int,
      onBatch: Long => Unit, root: String): String = {
    // ambient-load sentinels around the engine segments (VERDICT r6 #1,
    // extended to the engine in r7): batches on this host swing 2 s →
    // 15–20 s under co-tenant load; the fixed-work probe drift makes an
    // inflated engine run attributable without forensics. CPU probe only —
    // this bench synthesizes its own data, there is no table dir to scan.
    val sentinels = scala.collection.mutable.ArrayBuffer.empty[Double]
    Sentinel.measureCpu(spark, 1, Sentinel.EngineRows) // untimed warm (JIT of the probe)
    sentinels += Sentinel.measureCpu(spark, 3, Sentinel.EngineRows)
    val evts = graft.projector.LogSynth.events(sites)
    // prefix (60%) as 4 files + tail (40%) as 8 files, one dir: the
    // stream lists everything, the high-water filter prunes the prefix;
    // seed the catch-up store from the prefix (highWater = cut), then
    // land the tail chunks (tail-*, seqs strictly above high water)
    val cut = evts((evts.size * 6 / 10) - 1)._1
    val (prefix, tail) = evts.partition(_._1 <= cut)
    val (eventsDir, store) = seedStore(spark, root, prefix, 4)
    stageTail(spark, root, "tail_stage", tail, 8, eventsDir, "tail-")

    // backfill wall-clock over the FULL log (all 8 tables)
    val tB0 = System.nanoTime()
    graft.projector.Backfill.run(spark, eventsDir, s"$root/backfill_out")
    val backfillSec = (System.nanoTime() - tB0) / 1e9

    // NO synthetic session pre-warm (VERDICT r7 #7, investigated r8): a
    // full-shape scratch-store seed+step costs ~16 s (~65 driver jobs)
    // and did NOT move the first fold (measured 4.2 s with it vs 3.5
    // without) — the backfill above already JITs the fold/merge
    // operators, so the first-fold premium over steady state is the
    // stream's own one-offs (source init, first offset/commit-log
    // cycle, checkpoint dir creation) plus cold page cache on the real
    // store files, none of which a synthetic store warms. The premium
    // is reported, not hidden: catchup_first_fold_sec vs
    // catchup_batch_median, with catchup_prefix_drain_sec isolating
    // the maxFilesPerTrigger=1 drain artifact.

    // per-batch wall-clock doubles as the soak signal (VERDICT r4 #8): a
    // growing tail in batch_secs round-over-round flags accumulating
    // state/GC debt the single-shot specs cannot see
    val batchSecs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val lastMark = new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
    // first-batch decomposition (VERDICT r7 #7): the traced durationMs
    // split shows the first REAL fold costs the same as a steady batch —
    // the first-batch premium is the one-off drain of already-seeded
    // prefix files through the file source (4 files × ~350 ms of
    // offset/commit-log cycles around an empty pruned scan, because this
    // bench forces maxFilesPerTrigger=1; production without that knob
    // drains the whole prefix in ONE cycle, and a checkpointed restart
    // skips it entirely). Report the drain on its own axis so
    // first_batch minus drain is comparable to the steady median.
    val drainSec = new java.util.concurrent.atomic.AtomicLong(0) // ms
    val draining = new java.util.concurrent.atomic.AtomicBoolean(true)
    val drainListener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        if (e.progress.numInputRows > 0) draining.set(false)
        else if (draining.get) {
          Option(e.progress.durationMs.get("triggerExecution"))
            .foreach(ms => drainSec.addAndGet(ms.longValue()))
          ()
        }
      }
    }
    spark.streams.addListener(drainListener)
    val tC0 = System.nanoTime()
    val q = graft.streaming.CatchUp.startQuery(spark, eventsDir, store,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      onBatch = id => {
        val now = System.nanoTime()
        batchSecs.add((now - lastMark.getAndSet(now)) / 1e9)
        onBatch(id)
      },
      maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    spark.streams.removeListener(drainListener)
    val catchupSec = (System.nanoTime() - tC0) / 1e9
    val eps = tail.size / catchupSec
    sentinels += Sentinel.measureCpu(spark, 3, Sentinel.EngineRows)

    // steady-state segment: UPDATE-only batches (status changes + moves —
    // the sparse mix a deployed projector sees between provisioning waves;
    // exercises the family-skip path the dense tail cannot)
    val sparse = graft.projector.LogSynth.updates(sites, 2000, evts.size + 1L)
    graft.projector.LogSynth.write(spark, s"$root/sparse_stage", sparse, 4)
    new java.io.File(s"$root/sparse_stage").listFiles().foreach { f =>
      java.nio.file.Files.move(f.toPath,
        new java.io.File(eventsDir, s"sparse-${f.getName}").toPath)
      ()
    }
    val sparseSecs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    lastMark.set(System.nanoTime())
    val tS0 = System.nanoTime()
    val q2 = graft.streaming.CatchUp.startQuery(spark, eventsDir, store,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      onBatch = id => {
        val now = System.nanoTime()
        sparseSecs.add((now - lastMark.getAndSet(now)) / 1e9)
        onBatch(id)
      },
      maxFilesPerTrigger = Some(1))
    q2.awaitTermination()
    val sparseSec = (System.nanoTime() - tS0) / 1e9
    val epsSparse = sparse.size / sparseSec

    // 4×-state soak (VERDICT r5 #5; dense segment added per r7 #4): a
    // dense tail of the SAME per-batch size plus the same sparse segment,
    // both against one freshly seeded 4×-sites store — per-batch cost
    // must stay within ~1.5× of the base numbers (state-size independence
    // of the step). SPARK_GRAFT_ENGINE_SOAK_SITES=0 skips it (fast local
    // probes).
    val soakSites = sys.env.getOrElse("SPARK_GRAFT_ENGINE_SOAK_SITES",
      (sites * 4).toString).toInt
    val (denseSoakSecs, soakSecs): (Vector[Double], Vector[Double]) =
      if (soakSites <= 0) (Vector.empty, Vector.empty)
      else soakSegments(spark, soakSites, tail.size, 2000)
    sentinels += Sentinel.measureCpu(spark, 3, Sentinel.EngineRows)

    // 16×-state dense spot sample (VERDICT r9 #4): one seed, two batches
    // of the base per-batch size (tail.size/8 events each — the same
    // chunking the base dense tail streams). Skipped with the soak (the
    // ratio's denominator is the base dense steady state) or via
    // SPARK_GRAFT_ENGINE_SOAK16_SITES=0.
    val soak16Sites = sys.env.getOrElse("SPARK_GRAFT_ENGINE_SOAK16_SITES",
      (sites * 16).toString).toInt
    // four batches: the first absorbs stream startup, the ratio takes
    // the MIN of the remaining three — a single ambient-load hiccup on
    // the one-and-only spot batch pushed one committed ratio to 1.56,
    // and with only two steady samples a loaded segment still reached
    // 1.68 while the soak denominator gets seven chances at its true
    // min; three steady spot batches narrow that sampling asymmetry
    val spot16Secs: Vector[Double] =
      if (soak16Sites <= 0 || soakSites <= 0) Vector.empty
      else denseSpot(spark, soak16Sites, tail.size / 8, batches = 4)
    if (spot16Secs.nonEmpty) sentinels += Sentinel.measureCpu(spark, 3, Sentinel.EngineRows)

    import scala.jdk.CollectionConverters._
    // Locale.ROOT: the default locale may render decimals with commas,
    // which would make the emitted JSON unparseable (ADVICE r5)
    def f2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    def f1(v: Double) = "%.1f".formatLocal(java.util.Locale.ROOT, v)
    def arr(xs: Seq[Double]) = xs.map(f2).mkString("[", ",", "]")
    val batches = batchSecs.asScala.toVector
    // batch 1 carries one-off stream startup (source init, first listing,
    // checkpoint creation) — report it on its own axis (VERDICT r6 #7) and
    // keep the steady-state median/min clean of it
    val firstBatch = batches.headOption.getOrElse(0.0)
    val steady = if (batches.size > 1) batches.drop(1) else batches
    val sparses = sparseSecs.asScala.toVector
    def mn(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.min
    val soakRatio =
      if (soakSecs.isEmpty || median(sparses) == 0.0) 0.0
      else median(soakSecs) / median(sparses)
    // min-based ratio alongside the median one: host contention lands as
    // multi-second spikes on individual batches, and the MIN of each
    // segment is the contention-robust signal for the state-size-
    // independence claim (a real state-proportional cost would raise the
    // min too, not just the tail)
    val soakRatioMin =
      if (soakSecs.isEmpty || mn(sparses) == 0.0) 0.0
      else mn(soakSecs) / mn(sparses)
    // dense soak vs the base dense steady state, first batch of each
    // stream excluded (one-off startup is not a state-size signal)
    val denseSoakSteady =
      if (denseSoakSecs.size > 1) denseSoakSecs.drop(1) else denseSoakSecs
    val denseSoakRatio =
      if (denseSoakSteady.isEmpty || median(steady) == 0.0) 0.0
      else median(denseSoakSteady) / median(steady)
    val denseSoakRatioMin =
      if (denseSoakSteady.isEmpty || mn(steady) == 0.0) 0.0
      else mn(denseSoakSteady) / mn(steady)
    // 16× spot ratio: the post-startup batch vs the base dense steady min
    val spot16Steady = if (spot16Secs.size > 1) spot16Secs.drop(1) else spot16Secs
    val ratio16 =
      if (spot16Steady.isEmpty || mn(steady) == 0.0) 0.0
      else mn(spot16Steady) / mn(steady)
    // sentinel-normalized companion: the raw ratio divides two segments
    // measured MINUTES apart (base steady early, spot last), so a host-
    // load shift between them lands entirely in the ratio — a measured
    // run printed raw 2.07 while the cpu sentinel moved 0.085 → 0.132
    // (normalized: 1.33). Each side divides by its ADJACENT sentinel
    // (index 1 sits right after the base segments, the last one right
    // after the spot), the same correction every *_norm field applies.
    val ratio16Norm = {
      val sBase = sentinels.lift(1).getOrElse(0.0)
      val sSpot = if (spot16Secs.nonEmpty) sentinels.lastOption.getOrElse(0.0) else 0.0
      if (spot16Steady.isEmpty || mn(steady) == 0.0 || sBase <= 0 || sSpot <= 0) 0.0
      else (mn(spot16Steady) / sSpot) / (mn(steady) / sBase)
    }
    s"""{"backfill_sec":$backfillSec,"backfill_events":${evts.size},""" +
      s""""catchup_events_per_sec":${f1(eps)},""" +
      s""""catchup_tail_events":${tail.size},"catchup_sec":$catchupSec,""" +
      s""""catchup_batch_secs":${arr(batches)},""" +
      s""""catchup_first_batch_sec":${f2(firstBatch)},""" +
      s""""catchup_prefix_drain_sec":${f2(drainSec.get() / 1000.0)},""" +
      s""""catchup_first_fold_sec":${f2(firstBatch - drainSec.get() / 1000.0)},""" +
      s""""catchup_batch_median":${f2(median(steady))},""" +
      s""""catchup_batch_min":${f2(mn(steady))},""" +
      s""""sparse_events_per_sec":${f1(epsSparse)},""" +
      s""""sparse_batch_secs":${arr(sparses)},""" +
      s""""sparse_batch_median":${f2(median(sparses))},""" +
      s""""sparse_batch_min":${f2(mn(sparses))},""" +
      s""""sparse_batch_secs_soak":${arr(soakSecs)},""" +
      s""""sparse_batch_median_soak":${f2(median(soakSecs))},""" +
      s""""sparse_batch_min_soak":${f2(mn(soakSecs))},""" +
      s""""catchup_batch_secs_soak":${arr(denseSoakSecs)},""" +
      s""""catchup_batch_median_soak":${f2(median(denseSoakSteady))},""" +
      s""""catchup_batch_min_soak":${f2(mn(denseSoakSteady))},""" +
      s""""catchup_batch_secs_16x":${arr(spot16Secs)},""" +
      s""""catchup_batch_16x_ratio":${f2(ratio16)},""" +
      s""""catchup_batch_16x_ratio_norm":${f2(ratio16Norm)},""" +
      s""""soak16_sites":${if (spot16Secs.isEmpty) 0 else soak16Sites},""" +
      s""""soak_sites":$soakSites,"sparse_soak_ratio":${f2(soakRatio)},""" +
      s""""sparse_soak_ratio_min":${f2(soakRatioMin)},""" +
      s""""dense_soak_ratio":${f2(denseSoakRatio)},""" +
      s""""dense_soak_ratio_min":${f2(denseSoakRatioMin)},""" +
      s""""sentinel_cpu":${sentinels.map(v => "%.4f".formatLocal(java.util.Locale.ROOT, v)).mkString("[", ",", "]")},""" +
      // sentinel-normalized minima (query-suite counterpart: VERDICT r7
      // #8): batch-min ÷ mid-run cpu sentinel — the one-field host-
      // corrected round-over-round comparison for the engine axis
      s""""catchup_batch_min_norm":${
        if (sentinels.lift(1).exists(_ > 0)) f2(mn(steady) / sentinels(1)) else "null"},""" +
      s""""sparse_batch_min_norm":${
        if (sentinels.lift(1).exists(_ > 0)) f2(mn(sparses) / sentinels(1)) else "null"},""" +
      s""""sites":$sites}"""
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val sites = sys.env.getOrElse("SPARK_GRAFT_ENGINE_SITES", "4000").toInt
    val spark = graft.streaming.CatchUp.profile(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-engine-bench"), Partitions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    var last = System.nanoTime()
    val json = run(spark, sites, onBatch = id => {
      val now = System.nanoTime()
      System.err.println(f"engine-bench: batch $id took ${(now - last) / 1e9}%.2f s")
      last = now
    })
    println(json)
    spark.stop()
  }
}
