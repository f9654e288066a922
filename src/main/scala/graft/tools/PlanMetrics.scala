package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Executed-plan metric attribution shared by JoinRehearsal and the
  * plan specs — the same numbers the Spark UI shows, read off the plan
  * after an action, no listener race. One implementation: a future fix
  * (a new AQE wrapper node, reused-exchange dedup) lands in every
  * caller at once instead of silently skewing whichever was missed.
  * The probe, ANN and near-dedup decade numbers it was first written
  * for are in PERFORMANCE.md ("dd10 probe across THREE decades",
  * "scan-vs-shuffle attribution, measured", "r16 ANN three-decade
  * rehearsal"). */
private[graft] object PlanMetrics {

  private def resolve(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => resolve(a.executedPlan)
    case q: QueryStageExec => resolve(q.plan)
    case r: ReusedExchangeExec => resolve(r.child)
    case other => other
  }

  def subtree(p: SparkPlan): Seq[SparkPlan] = {
    val r = resolve(p)
    r +: r.children.flatMap(subtree)
  }

  /** Bytes written by every exchange in the executed plan. */
  def shuffleBytes(df: DataFrame): Long =
    subtree(df.queryExecution.executedPlan)
      .flatMap(_.metrics.collect {
        case (k, m) if k == "shuffleBytesWritten" => m.value
      }).sum

  /** Bytes each scan actually selected ("size of files read") —
    * directory/bucket pruning shows up here, not in row counts. V1
    * file scans report it as the `filesSize` metric; graft DSv2
    * snapshot scans expose no such metric, so their planned input
    * partitions' file lengths are summed instead (same quantity:
    * bytes surviving pruning at plan time). */
  def bytesRead(df: DataFrame): Long =
    subtree(df.queryExecution.executedPlan)
      .collect { case s if s.children.isEmpty => s }
      .map(s => graft.sources.ScanBytes.plannedBytes(s).getOrElse(
        s.metrics.collect {
          case (k, m) if k == "filesSize" => m.value
        }.sum))
      .sum
}
