package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** SQL metrics of a call's executed (final adaptive) plan, read after
  * the call has collected its result. */
final case class PlanProfile(scanFiles: Long, scanRows: Long, rowsOut: Long,
                             spillBytes: Long, opMs: Map[String, Double])

object PlanProfile {

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _: ReusedExchangeExec => Nil // its metrics belong to the exchange it reuses
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def of(df: DataFrame, rowsOut: Long): PlanProfile = {
    val all = nodes(df.queryExecution.executedPlan)
    def metric(n: SparkPlan, name: String): Long = n.metrics.get(name).map(_.value).getOrElse(0L)
    val scans = all.collect { case s: FileSourceScanExec => s }
    val opMs = all.flatMap { n =>
      val ms = n.metrics.values.toSeq.collect {
        case m if m.metricType == "timing" => m.value.toDouble
        case m if m.metricType == "nsTiming" => m.value / 1e6
      }.sum
      if (ms > 0) Some(n.nodeName -> ms) else None
    }.groupMapReduce(_._1)(_._2)(_ + _)
    PlanProfile(
      scanFiles = scans.map(metric(_, "numFiles")).sum,
      scanRows = scans.map(metric(_, "numOutputRows")).sum,
      rowsOut = rowsOut,
      spillBytes = all.map(metric(_, "spillSize")).sum,
      opMs = opMs)
  }
}
