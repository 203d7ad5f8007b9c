package graft.plans

import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: rewrite `Distinct(Union(b1..bn))` to
  * `Distinct(Union(Distinct(b1)..Distinct(bn)))`.
  *
  * Why (SURVEY §4 "custom rules actually worth writing"): the harmonize
  * pipeline's shape is distinct-of-unioned-staging-tables
  * (ref: src/80_harmonize.py:33-37) where each branch carries heavy
  * duplication (per-source staging re-emits identical substance rows).
  * Per-branch pre-dedup adds map-side partial aggregates BEFORE the
  * union's exchange, so the global distinct shuffles each branch's
  * unique rows instead of its raw rows. Set semantics are unchanged:
  * distinct(A ∪ B) = distinct(distinct(A) ∪ distinct(B)).
  *
  * Spark's optimizer replaces Distinct with an Aggregate early, so the
  * rule matches both surface shapes. Guarded against re-application (a
  * branch that is already a distinct aggregate is left alone), which
  * keeps it stable under the optimizer's fixed-point batches.
  *
  * Injected by GraftExtensions (spark.sql.extensions) or at runtime by
  * `plans.addOptimization`.
  */
object PushDistinctThroughUnion extends Rule[LogicalPlan] {

  private def isDistinctOf(agg: Aggregate): Boolean =
    agg.groupingExpressions == agg.aggregateExpressions &&
      agg.aggregateExpressions == agg.child.output

  private def alreadyDeduped(p: LogicalPlan): Boolean = p match {
    case d: Distinct => true; case a: Aggregate => isDistinctOf(a)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case Distinct(u: Union) if !u.children.forall(alreadyDeduped) =>
      Distinct(u.copy(children = u.children.map {
        case c if alreadyDeduped(c) => c
        case c => Distinct(c)
      }))
    case a @ Aggregate(_, _, u: Union, _)
        if isDistinctOf(a) && !u.children.forall(alreadyDeduped) =>
      a.copy(child = u.copy(children = u.children.map {
        case c if alreadyDeduped(c) => c
        case c => Aggregate(c.output, c.output, c)
      }))
  }
}
