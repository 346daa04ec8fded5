package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. All suites run in ONE forked JVM
  * (Test / fork := true), so the session is shared via getOrCreate and
  * deliberately NOT stopped per-suite — stopping it in one suite's
  * afterAll would kill it under every other suite. The JVM exit cleans
  * up. */
trait SparkSpec extends AnyFunSuite {
  val spark: SparkSession = core.Sessions.local(4, "graft-test")

  /** Rows actually READ by the parquet scans of `df`'s executed plan
    * (i.e. post row-group / partition pruning) — runs the query, then
    * walks the final adaptive plan INCLUDING materialized query
    * stages, which are leaf nodes a plain collectLeaves stops at. */
  protected def rowsRead(df: org.apache.spark.sql.DataFrame,
                         partitionedScansOnly: Boolean = false): Long = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    df.collect()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan)
      .filter(f => !partitionedScansOnly || f.relation.partitionSchema.nonEmpty)
      .map(_.metrics("numOutputRows").value).sum
  }
}
