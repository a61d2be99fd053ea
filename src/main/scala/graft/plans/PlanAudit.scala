package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{SparkPlan, SortExec, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Physical-plan linter for the scale antipatterns this library is built
  * to avoid: run it in tests or at submit time and fail fast
  * on plans that work at demo scale and die at 100 TB. The same checks
  * PlanSpec pins per-query, packaged as a reusable audit so NEW queries
  * get them for free.
  *
  * Findings are `severity: message` strings — ERROR for certain
  * scale-killers (all rows through one task / quadratic joins), WARN for
  * shapes that are legitimate in narrow cases (a global output sort on a
  * small result is fine; the same sort over a fact table is not — the
  * auditor cannot see cardinalities, so it reports and the caller
  * decides).
  */
object PlanAudit {

  final val GlobalWindow =
    "ERROR: unpartitioned window — every row flows through ONE task; " +
      "partition the window, or use graft.plans.RowIndexPlan / " +
      "GlobalRowNumberRule for global row numbering"
  final val Cartesian =
    "ERROR: CartesianProduct — O(n*m) pairs; add an equi-key (bin/bucket " +
      "range predicates, LSH-block similarity) or broadcast a provably tiny side"
  final val NestedLoop =
    "WARN: BroadcastNestedLoopJoin — per-row scan of the broadcast side; " +
      "fine for a 1-row/tiny broadcast, quadratic otherwise"
  final val SingleExchange =
    "WARN: shuffle to a SINGLE partition — all rows to one task; drop the " +
      "coalesce(1)/repartition(1) or make the final aggregate two-phase"
  final val GlobalSort =
    "WARN: global Sort not feeding a limit — a full range-partitioned " +
      "sort of the input; keep only if the output genuinely needs total order"

  /** Audit an (executed) plan; empty result = no antipattern found. */
  def audit(df: DataFrame): Seq[String] = audit(df.queryExecution.executedPlan)

  def audit(plan: SparkPlan): Seq[String] = {
    val out = Seq.newBuilder[String]
    def loc(p: SparkPlan): String = s" [at ${p.nodeName}#${p.id}]"
    // top-k sorts planned as TakeOrderedAndProject are already partial;
    // a SortExec directly under a limit collects bounded rows — only
    // flag global sorts NOT under either
    var limitAncestors = 0
    def walk(p: SparkPlan): Unit = {
      val isLimitish = p.isInstanceOf[TakeOrderedAndProjectExec] ||
        p.nodeName.contains("Limit")
      if (isLimitish) limitAncestors += 1
      p match {
        // AQE wraps the whole tree (and each materialized stage) in
        // nodes that expose NO children — walk through to the real plan
        case a: AdaptiveSparkPlanExec => walk(a.initialPlan)
        case q: QueryStageExec => walk(q.plan)
        case w: WindowExec if w.partitionSpec.isEmpty =>
          out += GlobalWindow + loc(p)
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
          out += GlobalWindow + loc(p)
        case _: CartesianProductExec =>
          out += Cartesian + loc(p)
        case _: BroadcastNestedLoopJoinExec =>
          out += NestedLoop + loc(p)
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
          out += SingleExchange + loc(p)
        case s: SortExec if s.global && limitAncestors == 0 =>
          out += GlobalSort + loc(p)
        case _ => ()
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
      if (isLimitish) limitAncestors -= 1
    }
    walk(plan)
    out.result()
  }

  /** Only the certain scale-killers. */
  def errors(df: DataFrame): Seq[String] =
    audit(df).filter(_.startsWith("ERROR"))

  /** Throw if the plan contains an ERROR-severity antipattern — the
    * submit-time guard: `PlanAudit.assertScalable(df)` before a 100 TB
    * run costs one plan walk and no execution. */
  def assertScalable(df: DataFrame): Unit = {
    val errs = errors(df)
    require(errs.isEmpty,
      s"plan contains scale antipatterns:\n${errs.mkString("\n")}")
  }
}
