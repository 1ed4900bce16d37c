package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** Structural view of a physical plan: file scans per table, exchanges and
  * join nodes, read from the plan's nodes rather than its printed form
  * (which cuts a scan's `Location` at `spark.sql.maxMetadataStringLength`).
  *
  * The walk descends through adaptive plans (the current plan: the final
  * one once the query has run), query stages, subqueries and the plans of
  * cached relations. A reused exchange is counted but not descended into:
  * its scans ran once, under the exchange it reuses. */
object PlanInspect {

  /** `scans` holds one entry per file scan: the tables its root paths name. */
  final case class Census(scans: Seq[Set[String]], exchanges: Int,
      reusedExchanges: Int, joins: Seq[String]) {
    def scansOf(table: String): Int = scans.count(_.contains(table))
    def scansPerTable: Map[String, Int] =
      scans.flatten.groupBy(identity).view.mapValues(_.size).toMap
  }

  def apply(df: DataFrame): Census = apply(df.queryExecution.executedPlan)

  def apply(plan: SparkPlan): Census = {
    val ns = nodes(plan)
    Census(
      ns.collect { case s: FileSourceScanExec =>
        s.relation.location.rootPaths.map(p => tableOf(p.toUri.getPath)).toSet },
      ns.count(_.isInstanceOf[Exchange]),
      ns.count(_.isInstanceOf[ReusedExchangeExec]),
      ns.collect { case j: BaseJoinExec => j.nodeName })
  }

  /** Every node the plan executes, in pre-order. */
  private def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case p => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  /** The table a root path reads: its last segment that is neither a data
    * file, a `key=value` partition directory nor a `gN` index generation,
    * without `.parquet` (`…/sf0.1/documents.parquet` → documents,
    * `…/idx/postings/tok_bucket=3/part-0.parquet` → postings,
    * `…/idx/dict/g9` → dict). */
  def tableOf(path: String): String =
    path.split('/').reverseIterator
      .find(s => s.nonEmpty && !s.contains('=') && !s.startsWith("part-") &&
        !s.matches("g\\d+"))
      .getOrElse(path).stripSuffix(".parquet")
}
