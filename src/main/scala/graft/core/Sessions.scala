package graft.core

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.window.WindowExec

/** The one session builder: the bench, Verify, the plan audit, the
  * scale probe, the scan-budget generator and the test suites all run
  * the configuration below, so plan records, scan budgets and timings
  * describe the same plans. The settings transfer to a real cluster
  * (AQE, UTC, shuffle partitions = cores); on a 1000-executor cluster
  * only master/memory change, the SQL conf choices hold.
  */
object Sessions {
  /** Static per-JVM codegen class cache. The 100-entry default thrashes
    * under a many-query workload: the 241 registered plans hold far more
    * distinct codegen units than that, so every rep recompiles
    * generated classes via Janino INSIDE tasks (charged to
    * executorRunTime; 264 compiles per warm pq_residual_trained_recall
    * rep were measured). Scale-independent: on a cluster the same cache
    * lives in every executor JVM. */
  private val CodegenCacheEntries = 8192

  /** AQE parallelism-first coalescing floors its target at
    * minPartitionSize (1 MiB default): a compute-dense stage of NARROW
    * rows (16-byte candidate pairs probing broadcast hash maps of
    * KB-sized shingle/vector arrays) collapses to 1-2 tasks because the
    * bytes-proportional-to-work assumption breaks. At cluster totals
    * targetSize = min(advisory, total/parallelism) dominates and the
    * floor never binds, so 64 KiB is scale-neutral and only restores
    * parallelism where totals are tiny. */
  private val MinPartitionSizeBytes = 65536

  /** Every conf `local(cores, _)` sets, in the order it sets them. */
  def confs(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // events.ts is parquet TIMESTAMP(NANOS); set once here, not inside
    // loaders (a conf mutation in a loader is a hidden global side effect)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" ->
      MinPartitionSizeBytes.toString)

  /** Logger of the "No Partition Defined for Window operation" warning.
    * It fires on every planning of a window without PARTITION BY —
    * dozens of lines per query across a suite run. The plan shape is
    * gated instead (PlanPropertiesSpec: no unpartitioned window over an
    * unbounded frame), so the warning is noise and is raised to ERROR. */
  val WindowLogger: String = classOf[WindowExec].getName

  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new graft.GraftExtensions)
      .appName(appName)
    val spark = confs(cores)
      .foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Configurator.setLevel(WindowLogger, Level.ERROR)
    spark
  }
}
