package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase

/** A count a graft scan reports on its own plan node: a planning count
  * through `reportDriverMetrics`, or a read count through the partition
  * reader's `currentMetricsValues`, which the node sums over tasks. The SQL
  * metrics listener re-instantiates CustomMetric implementations
  * REFLECTIVELY by class name to aggregate values, and a class without a
  * no-arg constructor makes every query over the scan log a SparkException
  * per metric — hence the auxiliary constructor (that copy only sums). */
private class ScanCount(mName: String, mDesc: String) extends CustomMetric {
  def this() = this("", "")
  override def name(): String = mName
  override def description(): String = mDesc
  override def aggregateTaskMetrics(taskMetrics: Array[Long]): String =
    taskMetrics.sum.toString
}

private case class ScanCountValue(name: String, value: Long) extends CustomTaskMetric

/** What the DSv2 scans of executed plans whose description contains
  * `scanOf` (a store path, say) reported about themselves. Read the plan of
  * the Dataset that ran, after its action returns: one query's counts never
  * mix with a concurrent query's, and `df.count()` runs another plan. */
private[graft] final case class ScanMetrics(plans: Seq[SparkPlan], scanOf: String = "") {

  def scans: Seq[DataSourceV2ScanExecBase] =
    plans.flatMap(ScanMetrics.nodes).collect {
      case b: DataSourceV2ScanExecBase if b.scan.description().contains(scanOf) => b
    }

  /** Sum of the named metric over the scans. */
  def sum(name: String): Long = scans.flatMap(_.metrics.get(name)).map(_.value).sum

  /** (files in the manifest, files planned) over the store scans. */
  def plannedFiles: (Long, Long) = (sum("manifestFiles"), sum("plannedFiles"))

  /** Does a scan's description carry `token` (` limit=`, ` offset=`)? */
  def described(token: String): Boolean =
    scans.exists(_.scan.description().contains(token))

  /** The aggregate functions a store manifest answered (`count,min,max`);
    * None when the aggregate fell back to a row scan. */
  def aggPush: Option[String] =
    scans.map(_.scan.description())
      .collectFirst { case d if d.startsWith("GraftStoreAggScan(") =>
        d.substring(d.lastIndexOf(" agg=") + 5) }

  /** Did every columnar group decoded read `read` of its `of` blocks? */
  def readEach(read: Long, of: Long): Boolean = {
    val g = sum("colGroupsRead")
    g > 0 && sum("colBlocksRead") == read * g && sum("colBlocks") == of * g
  }

  /** (columnar groups decoded, groups in the files read). */
  def groups: (Long, Long) = (sum("colGroupsRead"), sum("colGroups"))

  /** Did the columnar reads decode some, not all, of their files' groups? */
  def groupsSkipped: Boolean = {
    val (r, t) = groups
    r >= 1 && r < t
  }
}

private[graft] object ScanMetrics {

  /** The scans of the Dataset's own executed plan. */
  def apply(df: DataFrame): ScanMetrics = ScanMetrics(Seq(df.queryExecution.executedPlan))

  def defs(metrics: (String, String)*): Array[CustomMetric] =
    metrics.map { case (n, d) => new ScanCount(n, d): CustomMetric }.toArray

  def values(counts: (String, Long)*): Array[CustomTaskMetric] =
    counts.map { case (n, v) => ScanCountValue(n, v): CustomTaskMetric }.toArray

  /** Every node of an executed plan, through adaptive and query-stage
    * wrappers and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case _ => p.children ++ p.subqueries
  }).flatMap(nodes)
}
