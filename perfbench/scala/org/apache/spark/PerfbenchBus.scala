package org.apache.spark

/** Bridge to the `private[spark]` listener bus: listener callbacks run
  * asynchronously, so the per-query counters the traced run reads are
  * complete only once the bus has drained. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
