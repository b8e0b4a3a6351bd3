package perfbench

import java.io.File

/** The repository benchmark. One JVM per run drives the production
  * entry points `CatchUp.startQuery` and `Backfill.run` over inputs
  * generated from the seed, measures for `--seconds`, checks the outputs
  * outside the timed window and prints one JSON record as its last line.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --base <dir> --root <repo> [--drop-row 1]
  *   perfbench.Main --workload base-store --work <dir> --base <dir>
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, base: String, root: String, dropRow: Boolean)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toInt,
      m.getOrElse("trace", "0") == "1", m.getOrElse("work", ""), m.getOrElse("base", ""),
      m.getOrElse("root", "."), m.get("drop-row").contains("1"))
  }

  /** Every per-layer metric and its unit. A workload that does not run a
    * layer reports its figures as 0. */
  val layers: Seq[(String, String)] = Seq(
    "projector.tables_write_s" -> "s",
    "projector.jobs" -> "count", "projector.tasks" -> "count",
    "projector.files_written" -> "count", "projector.bytes_per_input_byte" -> "B/B",
    "op.count" -> "count", "op.jobs" -> "count", "op.tasks" -> "count",
    "op.job_busy_s" -> "s", "op.driver_s" -> "s", "op.plan_s" -> "s",
    "op.actions" -> "count", "op.shuffle_bytes" -> "B", "op.spill_bytes" -> "B",
    "step.merge_jobs" -> "count", "step.merge_pct" -> "%",
    "stream.overhead_pct" -> "%", "stream.batch_events" -> "count",
    "store.files" -> "count", "store.bytes" -> "B",
    "sink.calls" -> "count", "sink.statements" -> "count", "sink.statement_bytes" -> "B",
    "sink.pct" -> "%",
    "source.lag_files_max" -> "count", "gen.late_pct_max" -> "%",
    "jvm.gc_s" -> "s", "jvm.retained_heap_mb" -> "MB", "spark.cached_rdds_after" -> "count")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Sessions.projector(cores)
    Common.log("session up")
    if (o.workload == "base-store") {
      BaseStore.build(spark, new File(o.base))
      spark.stop()
      return
    }
    val rec = new Record
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    rec.context("nproc", cores)
    rec.context("heap_max_mb", Runtime.getRuntime.maxMemory / (1 << 20))
    rec.context("seed", o.seed)
    rec.context("workload", o.workload)
    rec.context("trace", o.trace)
    rec.context("spark_conf", Sessions.effectiveConf(spark))
    rec.context("drift_from_catchup_main", Sessions.driftFromCatchUp(spark, cores, new File(o.root)))
    try {
      Pins.check(rec)
      Common.log("inputs pinned")
      Workloads.byName(o.workload).run(spark, o, rec, tracer)
    }
    catch {
      case t: Throwable =>
        t.printStackTrace()
        rec.attempt(ok = false, s"workload aborted: $t")
    } finally tracer.foreach(_.stop())
    if (o.trace) layers.foreach { case (n, u) => if (!rec.has(n)) rec.metric(n, 0.0, u) }
    println(rec.toJson)
    System.out.flush()
    System.err.flush()
    // the record is complete. Halting skips Spark's orderly shutdown (a
    // second or two per run, or a failure or a thread left behind that
    // would turn the run into a failed one); local mode starts no child
    // process, and run.py deletes the work directory with Spark's
    // temporary files.
    Runtime.getRuntime.halt(0)
  }
}
