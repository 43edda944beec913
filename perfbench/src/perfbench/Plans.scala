package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** Reads of physical plans for the traced run's named counters. */
object Plans {
  private def qe(df: DataFrame) =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution

  /** Every node of an executed plan, descending through adaptive
    * wrappers, query stages, reused exchanges and cached relations. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => r +: nodes(r.child)
    case i: InMemoryTableScanExec => i +: nodes(i.relation.cacheBuilder.cachedPlan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** Seconds to plan `df` down to its DSv2 input partitions (for the
    * RTDB source: the driver-side key index and range planning). */
  def planInputs(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    val plan = qe(df).executedPlan
    nodes(plan).foreach {
      case b: BatchScanExec => b.inputPartitions.size
      case _ => ()
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** The largest join output in the cached plan behind a materialized
    * frame. For LSH pairs that is the first verification join, whose
    * output is every candidate pair (the second join applies the
    * Jaccard threshold). */
  def maxJoinRows(materialized: DataFrame): Long =
    nodes(qe(materialized).executedPlan).collect {
      case j: BaseJoinExec if j.metrics.contains("numOutputRows") => j.metrics("numOutputRows").value
    }.foldLeft(0L)(math.max)
}
