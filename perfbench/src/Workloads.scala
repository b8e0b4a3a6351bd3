package perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

trait Workload {
  def name: String
  def run(spark: SparkSession, o: Main.Opts, rec: Record, tracer: Option[Tracer]): Unit
}

object Workloads {
  val all: Seq[Workload] = Seq(CatchUpDense, LiveSparse)
  def byName(n: String): Workload =
    all.find(_.name == n).getOrElse(sys.error(s"unknown workload $n"))
}

/** Shared pieces: clocks, medians, checksums, runtime probes. */
object Common {
  type Log = Vector[(Long, String, String)]

  def now: Long = System.nanoTime()
  def secs(fromNs: Long, toNs: Long = now): Double = (toNs - fromNs) / 1e9
  /** Progress line on standard error, stamped with the JVM's uptime. */
  def log(msg: String): Unit = System.err.println(
    f"perfbench: [${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%6.1f s] $msg")

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Order-sensitive checksum of a log (seq, type, payload in order). */
  def checksum(evts: Log): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    evts.foreach { case (s, t, p) =>
      md.update(s"$s\u0001$t\u0001$p\n".getBytes("UTF-8"))
    }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Fixed-work single-thread CPU probe (seconds): ambient load on the
    * host shows as drift between the probe before and after. */
  def cpuProbe(): Double = {
    val t0 = now
    var h = 0L
    var i = 0L
    while (i < 60000000L) { h = h * 6364136223846793005L + i; h ^= h >>> 29; i += 1 }
    if (h == 42L) log("") // keep the loop observable
    secs(t0)
  }

  def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

  /** Heap used after a full GC, once queued listener events are
    * delivered; the least of three collections. */
  def retainedHeapMb(spark: SparkSession): Double = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    val used = (1 to 3).map { _ =>
      System.gc()
      mx.getHeapMemoryUsage.getUsed / 1048576.0
    }
    log(f"heap after GC ${used.map(u => f"$u%.1f").mkString(", ")} MB")
    used.min
  }

  def dirStats(root: File): (Long, Long) =
    if (!root.exists) (0L, 0L)
    else Files.walk(root.toPath).iterator().asScala.map(_.toFile)
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + f.length) }

  def rm(f: File): Unit = graft.util.Scratch.deleteRecursively(f)

  /** Standard end-of-run runtime figures (outside the timed window). */
  def runtime(spark: SparkSession, rec: Record, gc0: Double, probe0: Double): Unit = {
    rec.metric("jvm.retained_heap_mb", retainedHeapMb(spark), "MB")
    rec.metric("jvm.gc_s", gcSeconds - gc0, "s")
    rec.metric("spark.cached_rdds_after", spark.sparkContext.getPersistentRDDs.size.toDouble,
      "count")
    rec.context("cpu_probe_s", Map("before" -> probe0, "after" -> cpuProbe()))
  }
}
