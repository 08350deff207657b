package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Read executed-plan metrics — the measured counterpart to the
  * `.explain`-string assertions in the specs. Used to PIN partition
  * pruning claims ("a probe reads nProbe cells, not the index") with
  * the scan's actual files-read counter instead of trusting the plan
  * shape. */
object PlanMetrics {

  /** Every node of an EXECUTED plan, descending through AQE wrappers
    * (AdaptiveSparkPlanExec's final plan, materialized query stages,
    * reused exchanges) that `SparkPlan.collect` treats as leaves. */
  def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: allNodes(a.executedPlan)
    case q: QueryStageExec => p +: allNodes(q.plan)
    case r: ReusedExchangeExec => p +: allNodes(r.child)
    case _ => p +: p.children.flatMap(allNodes)
  }

  /** (root locations, files actually read) for each file scan in `df`'s
    * executed plan. Call AFTER an action has run the frame — metrics
    * are filled in by execution; dynamic partition pruning shrinks
    * `numFiles` below the on-disk file count at runtime, which is
    * exactly the effect this measures. */
  def scanFilesRead(df: DataFrame): Seq[(String, Long)] =
    allNodes(df.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec =>
        (s.relation.location.rootPaths.mkString(","),
          s.metrics.get("numFiles").map(_.value).getOrElse(-1L))
    }

  /** Files read by scans whose root location contains `pathPart`. */
  def filesReadUnder(df: DataFrame, pathPart: String): Long =
    scanFilesRead(df).collect {
      case (loc, n) if loc.contains(pathPart) => n
    }.sum
}
