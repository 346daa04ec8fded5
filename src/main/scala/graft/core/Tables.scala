package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated TPC-H-ish tables (see TESTDATA.md).
  *
  * Every loader is a plain parquet scan so Catalyst keeps full pushdown
  * (PushedFilters / ReadSchema pruning) — no caching or materialization
  * here; operators decide what to broadcast or repartition.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Fan a poorly-partitioned scan out to the cluster's parallelism —
    * ONLY when the source under-delivers partitions (a single-row-group
    * parquet file scans as ONE task, serializing every downstream
    * map-side stage: shingling, hashing, vector casts). The condition
    * makes this a no-op at scale: a 100 TB table already scans as tens
    * of thousands of splits, so the exchange is never added; a small
    * hot table pays one shuffle of its raw bytes to unlock N-way
    * compute. getNumPartitions only plans the scan, it runs no job. */
  def fanOut(spark: SparkSession, df: DataFrame): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** events.ts has shipped as two physical types across testdata
    * generations: parquet TIMESTAMP(NANOS) (read as LONG under
    * spark.sql.legacy.parquet.nanosAsLong, which Sessions.local
    * sets) and parquet timestamp[us] without UTC
    * adjustment (read as TIMESTAMP_NTZ). Branch on the loaded dtype so
    * every downstream consumer sees one canonical TimestampType column
    * regardless of generation — the session is pinned to UTC, so the
    * NTZ→LTZ cast preserves wall-clock values. The nanos branch uses
    * integer DIV: a double division would lose precision above 2^53. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventsTs(load(s, d, "events"))

  /** Shared by the batch loader and the streaming-parity tests (a
    * readStream over the same parquet must normalize identically). */
  def normalizeEventsTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        // the NTZ→LTZ cast preserves wall-clock values ONLY under a UTC
        // session; a misconfigured entrypoint must fail loudly here, not
        // silently shift every timestamp by the host offset
        val tz = raw.sparkSession.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"normalizeEventsTs: NTZ events.ts requires spark.sql.session.timeZone=UTC, got $tz")
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other => throw new IllegalStateException(
        s"events.ts loaded as unsupported type $other — expected LONG (nanos), TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }
  /** documents/embeddings feed compute-heavy map stages (shingling,
    * md5, per-element vector math), so their loaders fan out when the
    * file layout starves parallelism (see fanOut). */
  def documents(s: SparkSession, d: String): DataFrame  =
    fanOut(s, load(s, d, "documents"))
  def embeddings(s: SparkSession, d: String): DataFrame =
    fanOut(s, load(s, d, "embeddings"))
}
