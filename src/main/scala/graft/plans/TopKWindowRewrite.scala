package graft.plans

import org.apache.spark.sql.catalyst.expressions.{
  Alias, AttributeReference, CurrentRow, IntegerLiteral, LessThan,
  LessThanOrEqual, RowFrame, RowNumber, SpecifiedWindowFrame,
  UnboundedPreceding, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.plans.logical.{
  Filter, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rewrite: the universal top-k-per-key SQL idiom
  *
  * {{{
  *   SELECT ... FROM (
  *     SELECT *, row_number() OVER (PARTITION BY p ORDER BY o) AS rn
  *     FROM t) WHERE rn <= k        -- and rn projected away above
  * }}}
  *
  * plans, by default, as a full per-group sort inside WindowExec — every
  * row of every group is sorted to keep k of them. This rule pattern-
  * matches the analyzed shape `Project(Filter(rn ≤ k, Window(row_number)))`
  * and replaces it with [[TopKPerKeyNode]], which [[TopKStrategy]] plans
  * as the bounded-heap [[TopKPerKeyExec]]: O(n log k) per partition and
  * O(keys·k) memory, no per-group sort — the difference between "top-3
  * per customer" finishing and spilling at 100 TB.
  *
  * Soundness gates, all required before the rewrite fires:
  *   - the Window computes EXACTLY ONE expression: row_number() over the
  *     standard (UnboundedPreceding, CurrentRow) row frame — any other
  *     window function (rank, sum, lag) has different semantics;
  *   - the Filter condition is a single `rn <= lit` / `rn < lit`
  *     comparison on that attribute (k = lit, resp. lit−1), k ≥ 1;
  *   - the Project above references the rank attribute NOWHERE — the heap
  *     exec does not emit ranks, so a consumer of `rn` blocks the
  *     rewrite (e.g. a query that returns the rank column keeps its
  *     window plan);
  *   - the heap's emitted set equals the window+filter's for any input:
  *     both keep the k first rows of each key under the SAME SortOrder,
  *     with the same tie behavior (whatever order ties arrive in — the
  *     window formulation is only deterministic under a total per-key
  *     order, and the heap inherits exactly that contract).
  *
  * Registered builder-time via `SparkSessionExtensions.injectOptimizerRule`
  * ([[graft.functions.GraftExtensions]]) or by its `install`, which every
  * table read runs, so the rule is on from a session's first query.
  * ExtensionsSpec proves both the plan rewrite and result equality
  * against the un-rewritten window.
  */
object TopKWindowRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // partitionSpec.nonEmpty: a GLOBAL row_number (empty PARTITION BY)
    // must keep its window plan — TopKPerKeyNode would declare
    // ClusteredDistribution(Nil) (rejected by Spark) and the heap pass
    // is per-partition, so it would emit k rows PER PARTITION, not k
    // global rows.
    case p @ Project(projectList,
        Filter(cond, w @ Window(Seq(alias: Alias), partitionSpec, orderSpec, child, _)))
        if isRowNumber(alias) && orderSpec.nonEmpty && partitionSpec.nonEmpty =>
      val rn = alias.toAttribute
      val kOpt = cond match {
        case LessThanOrEqual(a: AttributeReference, IntegerLiteral(k))
            if a.exprId == rn.exprId => Some(k)
        // k > Int.MinValue: `rn < Int.MinValue` would underflow k−1 to
        // Int.MaxValue and flip an always-false filter into keep-all
        case LessThan(a: AttributeReference, IntegerLiteral(k))
            if a.exprId == rn.exprId && k > Int.MinValue => Some(k - 1)
        case _ => None
      }
      kOpt match {
        case Some(k) if k >= 1 &&
            !projectList.exists(_.references.exists(_.exprId == rn.exprId)) =>
          Project(projectList, TopKPerKeyNode(partitionSpec, orderSpec, k, child))
        case _ => p
      }
  }

  private def isRowNumber(a: Alias): Boolean = a.child match {
    case WindowExpression(RowNumber(),
        WindowSpecDefinition(_, _,
          SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))) => true
    case _ => false
  }
}
