package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Bridge to the `private[spark]` listener bus: listener callbacks
  * dispatch asynchronously on the shared listener thread, so a count
  * accumulated in one (Bench's build-job count,
  * `graft.ScanBudgetGen.totalScanCount`'s scan count) is only complete
  * after the bus drains. Polling for quiescence would make those counts
  * timing-dependent; this makes them deterministic. */
object GraftBusDrain {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
