package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer tracing from public Spark listeners only; nothing is
  * registered inside the program. A [[SparkListener]] records every job
  * (interval, description, task count, shuffle and spill bytes) and a
  * [[QueryExecutionListener]] sums each action's analysis + optimization +
  * planning time (`QueryPlanningTracker`), and the duration and output
  * path of every file write. The benchmark's own spans (one per
  * micro-batch or backfill call) then select jobs by start time. */
final class Tracer(spark: SparkSession) {

  final class Job(val id: Int, val startNs: Long, val desc: String) {
    @volatile var endNs: Long = -1L
    var tasks = 0
    var shuffleBytes = 0L
    var spillBytes = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageToJob = new ConcurrentHashMap[Int, Job]()
  // per planned action: (start of its first phase, analysis + optimization + planning)
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val writes = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()

  // listener events carry wall-clock ms; spans use the nano clock
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNs(ms: Long): Long = ms * 1000000L + nanoOffset

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      val j = new Job(e.jobId, toNs(e.time), desc.getOrElse(""))
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageToJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endNs = toNs(e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageToJob.get(e.stageId)).foreach { j =>
        j.synchronized {
          j.tasks += 1
          val m = e.taskMetrics
          if (m != null) {
            j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      record(qe)
      qe.logical.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.outputPath }
        .foreach(p => writes.add((p.toUri.getPath, durationNs)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
      if (phases.nonEmpty)
        plans.add((toNs(phases.map(_.startTimeMs).min), phases.map(_.durationMs).sum * 1000000L))
      ()
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def drain(): Unit = { org.apache.spark.PerfbenchBus.drain(spark.sparkContext); () }

  /** Planning seconds and planned actions of the actions whose planning
    * started inside [fromNs, toNs). */
  def planningIn(fromNs: Long, toNs: Long): (Double, Long) = {
    drain()
    val in = plans.asScala.filter { case (s, _) => s >= fromNs && s < toNs }
    (in.map(_._2).sum / 1e9, in.size.toLong)
  }

  /** Seconds of the file writes whose output path lies under `dir`. */
  def writeSeconds(dir: String): Double = {
    drain()
    writes.asScala.collect { case (p, ns) if p.startsWith(dir + "/") => ns }.sum / 1e9
  }

  /** Jobs that started inside [fromNs, toNs). */
  def jobsIn(fromNs: Long, toNs: Long): Seq[Job] = {
    drain()
    jobs.values.asScala.filter(j => j.startNs >= fromNs && j.startNs < toNs)
      .toSeq.sortBy(_.id)
  }
}

object Tracer {
  /** Length of the union of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Time within [fromNs, toNs) covered by at least one of the jobs. */
  def busyNs(js: Seq[Tracer#Job], fromNs: Long, toNs: Long): Long =
    unionNs(js.map(j => (math.max(j.startNs, fromNs),
      math.min(if (j.endNs < 0) toNs else j.endNs, toNs))))
}
