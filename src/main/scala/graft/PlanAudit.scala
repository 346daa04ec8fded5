package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Dumps formatted physical plans for the headline queries to PLANS.md
  * so plan-level properties (PushedFilters, ReadSchema pruning, join
  * strategies, WholeStageCodegen spans) are reviewable as an artifact,
  * not just claimed in comments. Ids that only number a run (expression
  * ids, RDD ids, exchange plan ids, checkpoint call sites) are masked,
  * so the file changes only when a plan does.
  */
object PlanAudit {
  /** Replaces run-numbering ids with fixed placeholders: `#123` → `#N`,
    * `RDD[66]` → `RDD[N]`, `plan_id=98093` → `plan_id=N`, lambda
    * variables `lambda x_130` → `lambda x_N` (a JVM-wide counter), JVM
    * lambda classes `$Lambda$6553/0x7f..@1cf8` → `$Lambda$N` and
    * `at <File>.scala:<line>` → `at <File>.scala:N`. */
  def mask(plan: String): String =
    plan.replaceAll("#\\d+", "#N")
      .replaceAll("(lambda \\w+?)_\\d+\\b", "$1_N")
      .replaceAll("\\$Lambda\\$\\d+/0x\\p{XDigit}+@\\p{XDigit}+", "\\$Lambda\\$N")
      .replaceAll("RDD\\[\\d+\\]", "RDD[N]")
      .replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("(at \\w+\\.scala):\\d+", "$1:N")

  // every registered query, alphabetical — no unaudited plans
  private def audited = SparkEntry.queries.keys.toSeq.sorted

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val outPath = if (args.length > 1) args(1) else "PLANS.md"
    // optional trailing args: restrict to these queries (focused
    // before/after dumps while iterating); typos fail loudly like Bench
    val only = args.drop(2)
    val unknown = only.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = core.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "graft-plan-audit")

    val sb = new StringBuilder
    sb ++= s"# Plan audit (`$sfDir`)\n\n"
    sb ++= "Generated by `graft.PlanAudit`. Things to check per plan:\n"
    sb ++= "PushedFilters on parquet scans, ReadSchema pruned to used\n"
    sb ++= "columns, no forced broadcast of SF-scaling tables, wide\n"
    sb ++= "WholeStageCodegen spans. Expression, RDD, exchange and\n"
    sb ++= "lambda-variable ids and call-site lines are masked (`N`).\n"
    val names = if (only.nonEmpty) audited.filter(only.contains) else audited
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb ++= s"\n## $name\n\n```\n"
      sb ++= mask(df.queryExecution.explainString(FormattedMode))
      sb ++= "```\n"
    }
    Files.writeString(Paths.get(outPath), sb.toString)
    println(s"[plan-audit] wrote $outPath")
    spark.stop()
  }
}
