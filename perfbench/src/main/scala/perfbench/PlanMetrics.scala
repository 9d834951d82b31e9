package perfbench

import java.util.concurrent.LinkedBlockingQueue
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Row and file counts of a finished scan-filter-write query, read from
  * the SQL metrics of its executed plan.
  */
final case class ScanCounts(rowsReturned: Long, rowsDecoded: Long,
    filesRead: Long)

/** Collects the executed plans of finished write commands (the `noop`
  * sink the extract requests end in).
  */
final class PlanMetrics extends QueryExecutionListener {
  private val done = new LinkedBlockingQueue[QueryExecution]()

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit =
    if (PlanMetrics.nodes(qe.executedPlan).exists(_.isInstanceOf[V2TableWriteExec]))
      done.put(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Counts of the next finished write, waiting up to `timeoutMs`. */
  def next(timeoutMs: Long = 30000): ScanCounts = {
    val qe = done.poll(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    require(qe != null, s"no finished write within $timeoutMs ms")
    PlanMetrics.counts(qe.executedPlan)
  }

  def clear(): Unit = done.clear()
}

object PlanMetrics {
  /** Every node of a physical plan, through adaptive wrappers. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  private def metric(p: SparkPlan, key: String): Long =
    p.metrics.get(key).map(_.value).getOrElse(0L)

  /** The topmost filter's output is what the request returned. */
  def counts(plan: SparkPlan): ScanCounts = {
    val ns = nodes(plan)
    val scans = ns.collect { case s: FileSourceScanExec => s }
    val decoded = scans.map(metric(_, "numOutputRows")).sum
    val returned = ns.collectFirst { case f: FilterExec => metric(f, "numOutputRows") }
      .getOrElse(decoded)
    ScanCounts(returned, decoded, scans.map(metric(_, "numFiles")).sum)
  }
}
