package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Regenerates src/test/resources/scan_budgets.txt — the recorded
  * per-query "Scan parquet" budget PlanPropertiesSpec enforces. Run
  * after deliberately changing a query's scan shape:
  *
  *   sbt "Test/runMain graft.ScanBudgetGen"
  *
  * Counts come from the FormattedMode explain at sf0.001 — the same
  * text the PLANS.md audit renders, so the budget and the artifact
  * can't disagree about what a "scan" is. */
object ScanBudgetGen {
  def scanCount(df: org.apache.spark.sql.DataFrame): Int =
    "(?m)^\\(\\d+\\) Scan parquet".r
      .findAllIn(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)).size

  /** Total "Scan parquet" count across EVERY execution the query's
    * CONSTRUCTION triggers — trainer-loop collects, fixpoint
    * localCheckpoints — plus the final plan itself.
    *
    * Why not just `scanCount(finalPlan)`: 15 queries (bpe_train,
    * quality_train, the CC/graph fixpoint family) recorded budget 0
    * because localCheckpoint TRUNCATES lineage — the final plan scans
    * nothing, every real scan happened in jobs run during
    * construction, and a reuse-without-checkpoint regression inside
    * those loops was invisible to the gate (the r12 advisor finding).
    * A QueryExecutionListener sees each of those executions (collect /
    * checkpoint / count all dispatch through withAction); callbacks
    * are async, so the bus is drained before reading the counter. */
  def totalScanCount(spark: SparkSession,
                     build: => org.apache.spark.sql.DataFrame): Int = {
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        seen.addAndGet("(?m)^\\(\\d+\\) Scan parquet".r.findAllIn(
          qe.explainString(org.apache.spark.sql.execution.FormattedMode)).size)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = build
      org.apache.spark.GraftBusDrain.drain(spark)
      seen.get + scanCount(df)
    } finally spark.listenerManager.unregister(listener)
  }

  /** The budget rule, factored out so the failure path itself is
    * unit-testable: a measured count above its recorded budget — or a
    * query with no budget at all — returns a violation message naming
    * the query. Empty result = gate passes. */
  def violations(counts: Seq[(String, Int)],
                 budgets: Map[String, Int]): Seq[String] =
    counts.flatMap { case (name, n) =>
      budgets.get(name) match {
        case None => Some(s"$name: NO BUDGET recorded ($n scans) — run " +
          "sbt \"Test/runMain graft.ScanBudgetGen\"")
        case Some(b) if n > b => Some(s"$name: $n scans > budget $b " +
          "(replicated subtree? missing localCheckpoint on a reused frame?)")
        case _ => None
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1)
      else "src/test/resources/scan_budgets.txt"
    val spark = core.Sessions.local(4, "graft-scan-budget")
    val lines = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val n = totalScanCount(spark, fn(spark, sfDir))
      println(s"[scan-budget] $name $n")
      s"$name $n"
    }
    Files.createDirectories(Paths.get(out).getParent)
    Files.writeString(Paths.get(out), lines.mkString("", "\n", "\n"))
    println(s"[scan-budget] wrote $out (${lines.size} queries)")
    spark.stop()
  }
}
