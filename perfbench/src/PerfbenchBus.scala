package org.apache.spark

/** Access to the `private[spark]` listener bus: per-span attribution
  * needs every queued listener event delivered before a span's jobs are
  * read back. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
