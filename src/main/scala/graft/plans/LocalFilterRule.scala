package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, InterpretedPredicate, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{FILTER, LOCAL_RELATION}

/** Optimizer rule: evaluate a `Filter` directly over a `LocalRelation`
  * with an interpreted predicate, on the driver, so a filter over
  * in-memory rows compiles no class.
  *
  * A [[graft.sources.DeltaStore]] holding buffered rows reads as base ∪
  * delta ∪ `LocalRelation`, and `PushDownPredicates` pushes a point
  * lookup's or range's condition onto each side. Spark's own
  * `ConvertToLocalRelation` (the optimizer's final "LocalRelation"
  * batch) then folds that filter through `Predicate.create`, which
  * generates a `SpecificPredicate` with the key in its source
  * (`value_5 == 149348L`): one Janino compile, about 11 ms, per new
  * literal (a stack caught at `Optimizer.scala:2525`, under
  * `ConvertToLocalRelation.apply`). Injected with
  * `injectOptimizerRule` ([[GraftExtensions]]), this rule runs in the
  * operator-optimization batches, after `PushDownPredicates` and before
  * that final batch, and leaves it nothing to fold.
  *
  * A filter written straight over a `LocalRelation` (`SELECT … FROM
  * VALUES … WHERE k > 6`, or `df.filter` over `createDataFrame` rows)
  * never reaches those batches: the optimizer's "LocalRelation early"
  * batch, which runs before them, folds it with the same compiled
  * predicate. So the rule is also a plan-normalization rule
  * (`injectPlanNormalizationRule`), which Spark applies to the analyzed
  * and checked plan before optimizing it; there it also looks through
  * the `SubqueryAlias` that names a VALUES table.
  *
  * Keeps Spark's guard: a condition holding an unevaluable expression
  * (a subquery, say) is left to the planner, and so is one holding an
  * expression the optimizer has yet to replace (`RuntimeReplaceable`).
  * Projections and limits over a `LocalRelation` stay with
  * `ConvertToLocalRelation`, which already interprets them.
  */
object LocalFilterRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformWithPruning(
      _.containsAllPatterns(FILTER, LOCAL_RELATION)) {
    case Filter(cond, rel: LocalRelation) if evaluable(cond) =>
      filtered(cond, rel)
    case Filter(cond, a @ SubqueryAlias(_, rel: LocalRelation))
        if evaluable(cond) =>
      a.copy(child = filtered(cond, rel))
  }

  private def evaluable(cond: Expression): Boolean =
    cond.resolved && !ConvertToLocalRelation.hasUnevaluableExpr(cond) &&
      !cond.exists(_.isInstanceOf[RuntimeReplaceable])

  private def filtered(cond: Expression, rel: LocalRelation): LocalRelation = {
    val pred = InterpretedPredicate(
      BindReferences.bindReference(cond, rel.output))
    pred.initialize(0)
    rel.copy(data = rel.data.filter(pred.eval))
  }
}
