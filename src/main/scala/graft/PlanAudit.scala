package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
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
    sortDistinctGroups(plan.replaceAll("#\\d+", "#N")
      .replaceAll("(lambda \\w+?)_\\d+\\b", "$1_N")
      .replaceAll("\\$Lambda\\$\\d+/0x\\p{XDigit}+@\\p{XDigit}+", "\\$Lambda\\$N")
      .replaceAll("RDD\\[\\d+\\]", "RDD[N]")
      .replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("(at \\w+\\.scala):\\d+", "$1:N"))

  /** RewriteDistinctAggregates lays out its count(DISTINCT) children in
    * the hash order of their expression ids, which follows whatever the
    * JVM allocated before (the corpus_card and source_stats Expand). This
    * puts them in name order and renumbers the `gid` of their groups to
    * match: the Expand's projections and output, every list that carries
    * gid after the children's run, and each `(gid#N = k)` filter. A plan
    * with no such Expand, or more than one, is returned as it is. */
  private def sortDistinctGroups(plan: String): String = {
    val lines = plan.linesIterator.filter(l =>
      l.startsWith("Arguments: [[") && l.contains(", gid#N, ")).toList
    if (lines.size != 1) return plan
    val line = lines.head
    val Array(projs, out) = line.stripPrefix("Arguments: [[").stripSuffix("]")
      .split("\\]\\], \\[", 2)
    val rows = projs.split("\\], \\[").toVector.map(_.split(", ").toVector)
    val outs = out.split(", ").toVector
    val g = outs.indexOf("gid#N")
    if (rows.exists(_.size != outs.size)) return plan
    // distinct children: null in some projection (group keys never are)
    val js = (0 until g).filter(j => rows.exists(_(j) == "null"))
    val names = js.map(outs)
    val sorted = names.sorted
    def reorder(r: Vector[String]): Vector[String] =
      js.zip(sorted).foldLeft(r) { case (acc, (j, name)) =>
        acc.updated(j, r(js(names.indexOf(name))))
      }
    def groupKey(r: Vector[String]) =
      js.filter(r(_) != "null").map(outs).sorted.mkString(",")
    val gids = rows.filter(_(g) != "0").sortBy(groupKey).map(_(g)).zipWithIndex
      .map { case (old, i) => old -> (i + 1).toString }.toMap + ("0" -> "0")
    val canon = rows.map(r => reorder(r).updated(g, gids(r(g)))).sortBy(_(g).toInt)
      .map(_.mkString("[", ", ", "]")).mkString("Arguments: [", ", ", "], ") +
      reorder(outs).mkString("[", ", ", "]")
    val run = names.mkString(", ")
    val gidFilter = "\\(gid#N = (\\d+)\\)".r
    plan.linesWithSeparators.map { l =>
      if (l.startsWith(line)) canon + l.stripPrefix(line)
      else if (!l.contains("gid#N")) l
      else gidFilter.replaceAllIn(l.replace(run, sorted.mkString(", ")),
        m => s"(gid#N = ${gids.getOrElse(m.group(1), m.group(1))})")
    }.mkString
  }

  /** Query `name`'s masked FormattedMode plan. */
  def maskedPlan(spark: SparkSession, name: String, sfDir: String): String =
    mask(SparkEntry.queries(name)(spark, sfDir).queryExecution
      .explainString(FormattedMode))

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
      sb ++= s"\n## $name\n\n```\n"
      sb ++= maskedPlan(spark, name, sfDir)
      sb ++= "```\n"
    }
    Files.writeString(Paths.get(outPath), sb.toString)
    println(s"[plan-audit] wrote $outPath")
    spark.stop()
  }
}
