package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BindReferences, CommonExpressionRef, Expression, InterpretedPredicate, RuntimeReplaceable, With}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, SubqueryAlias, View}
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
  * the `SubqueryAlias` that names a VALUES table and the `View` of a
  * temporary view over in-memory rows (a resident
  * [[graft.sources.DeltaStore]]'s table view), which the optimizer
  * strips before that early batch.
  *
  * Keeps Spark's guard: a condition holding an unevaluable expression
  * (a subquery, say) is left to the planner. An expression the
  * optimizer has yet to replace (`RuntimeReplaceable`, such as
  * `BETWEEN`) is evaluated through its replacement, as the optimizer's
  * `ReplaceExpressions` would rewrite it: otherwise the early batch
  * would fold a range over a resident table with a compiled predicate.
  * Projections and limits over a `LocalRelation` stay with
  * `ConvertToLocalRelation`, which already interprets them.
  */
object LocalFilterRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformWithPruning(
      _.containsAllPatterns(FILTER, LOCAL_RELATION)) {
    case f @ Filter(cond0, child) if cond0.resolved &&
        evaluable(replaced(cond0)) =>
      val cond = replaced(cond0)
      within(child)(filtered(cond, _)).getOrElse(f)
  }

  /** `cond` with every `RuntimeReplaceable` replaced, nested ones
    * included, and the `With` a replacement may bind its shared input
    * in (`BETWEEN`'s) inlined when that input is deterministic. */
  private def replaced(cond: Expression): Expression = {
    val next = cond.transformDown {
      case e: RuntimeReplaceable => e.replacement
      case w: With if w.defs.forall(_.child.deterministic) =>
        val defs = w.defs.map(d => d.id -> d.child).toMap
        w.child.transformDown {
          case r: CommonExpressionRef if defs.contains(r.id) => defs(r.id)
        }
    }
    if (next.fastEquals(cond)) cond else replaced(next)
  }

  /** `plan` with `f` applied to the `LocalRelation` it names, when only
    * aliases and views (which pass their child's output through) stand
    * between them. */
  private def within(plan: LogicalPlan)(
      f: LocalRelation => LocalRelation): Option[LogicalPlan] = plan match {
    case rel: LocalRelation => Some(f(rel))
    case a: SubqueryAlias => within(a.child)(f).map(c => a.copy(child = c))
    case v: View =>
      within(v.child)(f).map(c => v.copy(child = c))
    case _ => None
  }

  private def evaluable(cond: Expression): Boolean =
    cond.resolved && !ConvertToLocalRelation.hasUnevaluableExpr(cond)

  private def filtered(cond: Expression, rel: LocalRelation): LocalRelation = {
    val pred = InterpretedPredicate(
      BindReferences.bindReference(cond, rel.output))
    pred.initialize(0)
    rel.copy(data = rel.data.filter(pred.eval))
  }
}
