package perfbench

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._

import graft.projector.{Backfill, LogSynth}
import graft.sinks.MergeSink
import graft.streaming.{CatchUp, Incremental, StateStore}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import Common._

/** Workload sizes. The state store a catch-up stream starts from is
  * seeded once per build (see [[BaseStore]]); per-batch cost does not
  * depend on log size, so the logs stay small. */
object Sizes {
  val setupReps = 3
  val denseTailSites = 200
  val denseFiles = 8
  /** Dense batches run before the measured ones: the stream's start-up
    * and the JIT's warm-up of the step (a single one left the first
    * measured batch up to 1 s slower than the next). */
  val denseWarmBatches = 2
  val liveEventsPerFile = 32
  val livePeriodMs = 500L
}

/** Per-run set-up shared by the catch-up workloads, repeated
  * `setupReps` times (the median is `setup_s`): generate this seed's input
  * events, stage them as files and copy the seeded base store (see
  * [[BaseStore]]). The last repetition's files and store are the ones
  * streamed. */
object StreamSetup {
  final case class Ready(store: StateStore, stage: File, staged: Vector[File], inputs: Log)

  def run(spark: SparkSession, o: Main.Opts, rec: Record, work: File, files: Int,
      inputs: => Log): Ready = {
    var ready: Ready = null
    val times = (0 until Sizes.setupReps).map { i =>
      val t0 = now
      val root = new File(work, s"setup$i")
      val evts = inputs
      val stage = new File(root, "stage")
      val staged = write(spark, evts, files, stage)
      val seedS = BaseStore.copyTo(new File(o.base), new File(root, "state"))
      rec.context("base_store_seed_s", seedS)
      if (ready != null) rm(ready.stage.getParentFile)
      ready = Ready(new StateStore(spark, s"$root/state"), stage, staged, evts)
      secs(t0)
    }
    log(f"setup ${times.map(t => f"$t%.2f").mkString(", ")} s")
    rec.metric("setup_s", median(times), "s")
    rec.context("input_events", ready.inputs.size)
    rec.context("input_checksum", checksum(ready.inputs))
    ready
  }

  /** Stage `evts` as `files` flat parquet files of equal, contiguous seq
    * ranges, sorted by seq, in one Spark job (`LogSynth.write` spends a
    * job per file). Returns the files in seq order. */
  def write(spark: SparkSession, evts: Log, files: Int, stage: File): Vector[File] = {
    val per = math.ceil(evts.size.toDouble / files).toInt
    val tmp = new File(stage, "_parts")
    LogSynth.toDf(spark, evts)
      .withColumn("chunk", ((col("seq") - evts.head._1) / per).cast("int"))
      .repartition(files, col("chunk")).sortWithinPartitions("seq")
      .write.partitionBy("chunk").parquet(tmp.getPath)
    val staged = (0 until files).toVector.map { i =>
      val part = new File(tmp, s"chunk=$i").listFiles().filter(_.getName.endsWith(".parquet"))
      require(part.length == 1, s"chunk $i staged as ${part.length} files")
      Files.move(part.head.toPath, new File(stage, f"chunk-$i%04d.parquet").toPath).toFile
    }
    rm(tmp)
    staged
  }
}

/** The projector's cold-start replay, timed from the benchmark's side:
  * `Backfill.run` over the log the run's store ends at (the base log's
  * event files plus the input files the stream applied) derives the 8
  * tables and writes them as parquet, the reference's replay and bulk
  * write. It runs after the timed section, `replays` times back to back;
  * `backfill_s` is the faster call, because a single slow stretch of a
  * shared host moved one call by 30 % in about one run of ten. The last
  * call's tables are what the store is checked against. */
object Replay {
  val replays = 2

  def run(spark: SparkSession, o: Main.Opts, rec: Record, tracer: Option[Tracer],
      applied: Seq[File]): File = {
    val work = new File(o.work)
    val replay = new File(work, "replay")
    replay.mkdirs()
    val baseFiles = new File(BaseStore.events(new File(o.base))).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
    (baseFiles ++ applied).zipWithIndex.foreach { case (f, i) =>
      Files.copy(f.toPath, new File(replay, f"log-$i%04d.parquet").toPath)
    }
    val calls = (0 until replays).map { i =>
      val out = new File(work, s"tables$i")
      val t0 = now
      Backfill.run(spark, replay.getPath, out.getPath)
      (out, t0, now)
    }
    log(f"backfill ${calls.map { case (_, s, e) => f"${secs(s, e)}%.2f" }.mkString(", ")} s")
    val (fastOut, t0, t1) = calls.minBy { case (_, s, e) => e - s }
    rec.metric("backfill_s", secs(t0, t1), "s")
    val (outFiles, outBytes) = dirStats(fastOut)
    rec.metric("projector.files_written", outFiles.toDouble, "count")
    rec.metric("projector.bytes_per_input_byte", outBytes.toDouble / dirStats(replay)._2, "B/B")
    tracer.foreach { t =>
      val jobs = t.jobsIn(t0, t1)
      rec.metric("projector.jobs", jobs.size.toDouble, "count")
      rec.metric("projector.tasks", jobs.map(_.tasks).sum.toDouble, "count")
      rec.metric("projector.tables_write_s", t.writeSeconds(fastOut.getPath), "s")
    }
    calls.last._1
  }
}

/** Backlog drain after downtime: the seeded store misses the last
  * `denseTailSites` sites' provisioning; that tail lands as `denseFiles`
  * files and drains through `CatchUp.startQuery` with
  * `Trigger.AvailableNow` and one file per batch, no sink. */
object CatchUpDense extends Workload {
  val name = "catchup_dense"

  /** This seed's provisioning tail: the sites after the base ones, with
    * seqs continuing the base log's. */
  def tail(seed: Long): Log = {
    val baseSize = BaseStore.log.size
    LogSynth.events(BaseStore.sites + Sizes.denseTailSites, seed).drop(baseSize)
  }

  def run(spark: SparkSession, o: Main.Opts, rec: Record, tracer: Option[Tracer]): Unit = {
    val work = new File(o.work)
    val probe0 = cpuProbe()
    val ready = StreamSetup.run(spark, o, rec, work, Sizes.denseFiles, tail(o.seed))
    val events = new File(work, "events")
    land(ready.staged, events)

    val progress = new Progress
    spark.streams.addListener(progress)
    val gc0 = gcSeconds
    val warm = Sizes.denseWarmBatches
    val runner = new StopAfter(o.seconds, warm)
    val q = CatchUp.startQuery(spark, events.getPath, ready.store,
      trigger = Trigger.AvailableNow(), onBatch = runner.onBatch,
      maxFilesPerTrigger = Some(1))
    runner.await(q)
    spark.streams.removeListener(progress)
    tracer.foreach(_.drain())

    // batch k (1-based) applies file k - 1 and ends when `onBatch` fires;
    // after the warm-up batches, the measured batches are the spans
    // between consecutive batch ends. The last batch parks in `onBatch`,
    // before it would report progress, so spans come from `StopAfter`
    // rather than the progress listener.
    val ends = runner.ends
    val measured = ends.drop(warm - 1)
    val spans = measured.zip(measured.drop(1))
    ends.foreach(_ => rec.attempt(ok = true))
    rec.attempt(spans.size >= 2, s"only ${ends.size} batches in ${o.seconds} s")
    val walls = spans.map { case (s, e) => secs(s, e) }
    log(f"batches ${walls.map(w => f"$w%.2f").mkString(", ")} s after $warm warm-up batches")
    rec.metric("op_p50_s", median(walls), "s")
    runtime(spark, rec, gc0, probe0)
    OpTrace.emit(rec, tracer, spans)
    Streams.layerMetrics(rec, progress.sorted.drop(warm), ready.store)

    // applied = the first `ends.size` files (landed in mtime order)
    val applied = ready.staged.indices.take(ends.size).map(i => new File(landedName(events, i)))
    val tables = Replay.run(spark, o, rec, tracer, applied)
    Checks.storeMatchesBackfill(spark, rec, ready.store, tables, o.dropRow)
  }

  private def landedName(events: File, i: Int): String = new File(events, f"in-$i%04d.parquet").getPath

  /** Land every staged file by rename, with strictly increasing mtimes
    * so the file source takes them in order. */
  private def land(staged: Seq[File], events: File): Unit = {
    events.mkdirs()
    val t = System.currentTimeMillis() - 1000L * staged.size
    staged.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(t + 1000L * i)
      Files.move(f.toPath, new File(landedName(events, i)).toPath)
    }
  }
}

/** Steady state at the reference's cadence, as an open loop: one file of
  * `liveEventsPerFile` update events lands every `livePeriodMs` on a fixed
  * schedule whatever the stream is doing (64 events/s, the rate of one
  * 125-event file per 2 s, in finer files so a run gives more freshness
  * samples); the stream runs the production `ProcessingTime("2 seconds")`
  * trigger, no file cap, with `MergeSink` feeding a statement counter. */
object LiveSparse extends Workload {
  val name = "live_sparse"

  /** This seed's updates over the base sites; the seed picks the site
    * they start at. */
  def updates(seed: Long, files: Int): Log = {
    val offset = (math.abs(seed) % BaseStore.sites).toInt
    val hw = BaseStore.log.last._1
    LogSynth.updates(BaseStore.sites, offset + Sizes.liveEventsPerFile * files, hw + 1 - offset)
      .drop(offset)
  }

  /** Scheduled files in a run of `seconds`. */
  def files(seconds: Int): Int = math.max(4, (seconds * 1000L / Sizes.livePeriodMs).toInt)

  def run(spark: SparkSession, o: Main.Opts, rec: Record, tracer: Option[Tracer]): Unit = {
    val work = new File(o.work)
    val probe0 = cpuProbe()
    val nFiles = files(o.seconds)
    val per = Sizes.liveEventsPerFile.toLong
    // file 0 warms the stream up (first trigger, JIT) before the schedule
    val ready = StreamSetup.run(spark, o, rec, work, nFiles + 1, updates(o.seed, nFiles + 1))

    val sink = new CountingSink
    val events = new File(work, "events")
    events.mkdirs()
    val progress = new Progress
    spark.streams.addListener(progress)
    val batchEnd = new ConcurrentHashMap[Long, Long]()
    val q = CatchUp.startQuery(spark, events.getPath, ready.store,
      onBatch = id => { batchEnd.put(id, now); () }, sink = sink.sink)
    def applied = progress.sorted.map(_.rows).sum
    def awaitApplied(rows: Long, timeoutS: Long): Unit = {
      val deadline = now + timeoutS * 1000000000L
      while (applied < rows && now < deadline && q.isActive) Thread.sleep(20)
    }
    Files.move(ready.staged(0).toPath, new File(events, "live-warm.parquet").toPath)
    awaitApplied(per, 60)
    val warm = progress.sorted.size
    sink.reset()

    val gc0 = gcSeconds
    // open loop: file i is due at t0 + i × period
    val period = Sizes.livePeriodMs * 1000000L
    val t0 = now + period
    val due = Vector.tabulate(nFiles)(i => t0 + i * period)
    val landedAt = new Array[Long](nFiles)
    due.indices.foreach { i =>
      val wait = due(i) - now
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      Files.move(ready.staged(i + 1).toPath, new File(events, f"live-$i%04d.parquet").toPath)
      landedAt(i) = now
    }
    awaitApplied(per * (nFiles + 1), 60)
    q.stop()
    q.awaitTermination()
    spark.streams.removeListener(progress)
    tracer.foreach(_.drain())

    val batches = progress.sorted.drop(warm)
    batches.foreach(_ => rec.attempt(ok = true))
    // freshness of file i: from when it was due to the end of the batch
    // that applied it (the batch whose cumulative rows first cover it)
    val cum = batches.scanLeft(0L)(_ + _.rows).tail
    val fresh = due.indices.flatMap { i =>
      batches.indices.find(b => cum(b) >= per * (i + 1)).map { b =>
        val end = Option(batchEnd.get(batches(b).id)).map(_.longValue).getOrElse(batches(b).endNs)
        (end - due(i)) / 1e9
      }
    }
    rec.attempt(fresh.size == nFiles, s"only ${fresh.size} of $nFiles files applied")
    log(f"freshness ${fresh.map(f => f"$f%.2f").mkString(", ")} s")
    rec.metric("op_p50_s", median(fresh), "s")
    runtime(spark, rec, gc0, probe0)
    OpTrace.emit(rec, tracer, batches.map(b => (b.startNs, b.endNs)))
    Streams.layerMetrics(rec, batches, ready.store)
    sink.emit(rec, batches.size)
    sink.share(rec, batches.map(_.triggerMs).sum / 1000.0)
    val late = due.indices.map(i => landedAt(i) - due(i)).max
    rec.metric("gen.late_pct_max", 100.0 * late / period, "%")
    // a file landing a period late breaks the open loop: the run is void
    rec.attempt(late <= period, f"generator landed a file ${late / 1e9}%.2f s late")
    // files landed by a batch's start but not yet applied before it
    rec.metric("source.lag_files_max", batches.indices.map { b =>
      landedAt.count(_ <= batches(b).startNs) - (if (b == 0) 0L else cum(b - 1) / per)
    }.max.toDouble, "count")

    val tables = Replay.run(spark, o, rec, tracer,
      events.listFiles().filter(_.getName.endsWith(".parquet")).toSeq)
    Checks.storeMatchesBackfill(spark, rec, ready.store, tables, o.dropRow)
  }
}

/** Statement counter standing in for a database: `MergeSink.mergeSink`
  * renders the statements; this counts calls, statements and bytes and
  * times the calls into the sink. */
final class CountingSink {
  private val calls = new AtomicLong
  private val statements = new AtomicLong
  private val bytes = new AtomicLong
  private val nanos = new AtomicLong
  private val render = MergeSink.mergeSink(s => {
    statements.incrementAndGet(); bytes.addAndGet(s.length.toLong); ()
  }, "graft")
  def reset(): Unit = Seq(calls, statements, bytes, nanos).foreach(_.set(0L))
  val sink: Incremental.Sink = (table, deleted, upserts) => {
    val t0 = now
    render(table, deleted, upserts)
    nanos.addAndGet(now - t0)
    calls.incrementAndGet()
    ()
  }
  def emit(rec: Record, batches: Int): Unit = {
    val n = math.max(1, batches).toDouble
    rec.metric("sink.calls", calls.get / n, "count")
    rec.metric("sink.statements", statements.get / n, "count")
    rec.metric("sink.statement_bytes", bytes.get / n, "B")
  }
  /** Share of the batches' wall spent inside the sink. */
  def share(rec: Record, wallS: Double): Unit =
    rec.metric("sink.pct", if (wallS > 0) 100 * nanos.get / 1e9 / wallS else 0.0, "%")
}

object Streams {
  def layerMetrics(rec: Record, batches: Seq[Progress.Batch], store: StateStore): Unit = {
    val n = math.max(1, batches.size).toDouble
    val trigger = batches.map(_.triggerMs).sum.toDouble
    rec.metric("stream.overhead_pct",
      if (trigger > 0) 100 * batches.map(b => b.triggerMs - b.addBatchMs).sum / trigger else 0.0, "%")
    rec.metric("stream.batch_events", batches.map(_.rows).sum / n, "count")
    val (f, b) = dirStats(new File(store.root))
    rec.metric("store.files", f.toDouble, "count")
    rec.metric("store.bytes", b.toDouble, "B")
  }

}

/** Ends an `AvailableNow` drain at the end of the first batch that
  * finishes `seconds` or more after the `warm` warm-up batches, with at
  * least two batches after them: the batch thread parks in `onBatch`
  * after its step has fully applied, and [[await]] stops the query there.
  * [[ends]] holds each batch's end on the nano clock. */
final class StopAfter(seconds: Int, warm: Int) {
  private val endsNs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  @volatile private var warmEnd = 0L
  private val done = new AtomicBoolean(false)
  def ends: Vector[Long] = endsNs.asScala.toVector
  val onBatch: Long => Unit = _ => {
    val t = now
    endsNs.add(t)
    val n = endsNs.size
    if (n == warm) warmEnd = t
    if (n >= warm + 2 && secs(warmEnd, t) >= seconds) {
      done.set(true)
      try Thread.sleep(Long.MaxValue) catch { case _: InterruptedException => () }
    }
    ()
  }
  def await(q: StreamingQuery): Unit = {
    while (q.isActive && !done.get) Thread.sleep(20)
    if (q.isActive) q.stop()
    // a stop that interrupts the parked batch thread is ours, not a failure
    try q.awaitTermination() catch { case _: Exception if done.get => () }
  }
}
