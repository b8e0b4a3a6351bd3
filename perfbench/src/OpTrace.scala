package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-operation attribution of traced jobs: an op is one micro-batch,
  * given as [start, end) on the nano clock. */
object OpTrace {
  def emit(rec: Record, tracer: Option[Tracer], ops: Seq[(Long, Long)]): Unit =
    tracer.foreach { t =>
      val n = math.max(1, ops.size).toDouble
      val perOp = ops.map { case (s, e) => (s, e, t.jobsIn(s, e)) }
      val jobs = perOp.flatMap(_._3)
      val busy = perOp.map { case (s, e, js) => Tracer.busyNs(js, s, e) }.sum / 1e9
      val wall = ops.map { case (s, e) => e - s }.sum / 1e9
      val merges = jobs.filter(_.desc.startsWith("graft-merge:"))
      val mergeBusy = perOp.map { case (s, e, js) =>
        Tracer.busyNs(js.filter(_.desc.startsWith("graft-merge:")), s, e) }.sum / 1e9
      val plans = ops.map { case (s, e) => t.planningIn(s, e) }
      rec.metric("op.count", ops.size.toDouble, "count")
      rec.metric("op.jobs", jobs.size / n, "count")
      rec.metric("op.tasks", jobs.map(_.tasks).sum / n, "count")
      rec.metric("op.job_busy_s", busy / n, "s")
      rec.metric("op.driver_s", (wall - busy) / n, "s")
      rec.metric("op.plan_s", plans.map(_._1).sum / n, "s")
      rec.metric("op.actions", plans.map(_._2).sum / n, "count")
      rec.metric("op.shuffle_bytes", jobs.map(_.shuffleBytes).sum / n, "B")
      rec.metric("op.spill_bytes", jobs.map(_.spillBytes).sum / n, "B")
      rec.metric("step.merge_jobs", merges.size / n, "count")
      rec.metric("step.merge_pct", if (wall > 0) 100 * mergeBusy / wall else 0.0, "%")
    }
}

/** Streaming progress, from the public listener: per micro-batch wall
  * (`triggerExecution`), `addBatch` and input rows. */
final class Progress extends StreamingQueryListener {
  import StreamingQueryListener._
  import Progress.Batch
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  val batches = new ConcurrentLinkedQueue[Batch]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    def d(k: String) = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    if (p.numInputRows > 0) {
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      batches.add(Batch(p.batchId, p.numInputRows, startMs * 1000000L + nanoOffset,
        d("triggerExecution"), d("addBatch")))
    }
  }
  def sorted: Vector[Batch] = batches.asScala.toVector.sortBy(_.id)
}

object Progress {
  final case class Batch(id: Long, rows: Long, startNs: Long, triggerMs: Long, addBatchMs: Long) {
    def endNs: Long = startNs + triggerMs * 1000000L
  }
}
