package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}
import org.apache.spark.sql.types.{ArrayType, ByteType, IntegerType, LongType, ShortType}

/** Optimizer rule: rewrite interval joins into banded equi joins.
  *
  * An inner join whose only usable predicate is `l.v BETWEEN r.lo AND
  * r.hi` extracts no equi keys, so Catalyst plans BroadcastNestedLoopJoin
  * (or a cartesian product) — O(|l|·|r|) work and a driver-memory-bound
  * broadcast: the exact plan shape that dies at 100 TB. This rule is the
  * automatic form of [[graft.operators.Scale.bandedRangeJoin]]: it
  * derives a band id `floorDiv(x, W)` on both sides (the bound side
  * explodes into every band its interval covers), joins on band equality,
  * and keeps the ORIGINAL interval predicate as the residual filter — so
  * the rewrite is semantics-preserving by construction and the planner
  * now sees an equi key to shuffle (or broadcast) on.
  *
  * Opt-in per session/query scope via `spark.graft.rangeJoin.bandWidth`
  * (0 = off, the default): band width is data-dependent — pick it near
  * the typical interval width, as the bound side's explode factor is
  * avg(hi−lo)/W. Only fires when the join has NO equi conjunct (if one
  * exists Catalyst already has a shuffle key) and `v`, `lo`, `hi` are
  * integral types on opposite sides. Strict bounds (`<`, `>`) band the
  * same way — banding only needs a superset of matches; the residual
  * keeps them exact. NULL bounds/values produce no bands, matching the
  * original predicate's three-valued FALSE.
  *
  * The reference's single-node analog is its sort-merge join for range
  * predicates (optimizer/joiner_sort.h:30); this is the distributed
  * re-expression, registered through the standard
  * `SparkSessionExtensions` hook ([[GraftExtensions]]).
  */
class BandedRangeJoinRule(session: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  /** Malformed values read as 0 (= off): this runs on every plan in the
    * session, and throwing here would fail unrelated queries with an
    * optimizer stack trace instead of a config error. */
  private def bandWidth: Long =
    scala.util.Try(
      conf.getConfString("spark.graft.rangeJoin.bandWidth", "0").toLong)
      .getOrElse(0L)

  private def integral(e: Expression): Boolean = e.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def refsOnly(e: Expression, p: LogicalPlan): Boolean =
    e.references.nonEmpty && e.references.subsetOf(p.outputSet)

  /** Band id by FLOOR division (exact for negatives, where integral
    * division truncates toward zero instead). */
  private def bandOf(e: Expression, w: Long): Expression = {
    val x = Cast(e, LongType)
    Subtract(
      Cast(IntegralDivide(x, Literal(w)), LongType),
      If(LessThan(Remainder(x, Literal(w)), Literal(0L)),
        Literal(1L), Literal(0L)))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val w = bandWidth
    if (w <= 0) return plan
    plan.transform {
      case j @ Join(left, right, Inner, Some(cond), hint) =>
        val conjuncts = splitConjunctivePredicates(cond)
        // EqualNullSafe counts too: a `<=>`-keyed join already hash-
        // partitions on the key, so banding it would only add a useless
        // explode + band shuffle on top of a working equi join
        val hasEqui = conjuncts.exists {
          case EqualTo(a, b) =>
            (refsOnly(a, left) && refsOnly(b, right)) ||
              (refsOnly(a, right) && refsOnly(b, left))
          case EqualNullSafe(a, b) =>
            (refsOnly(a, left) && refsOnly(b, right)) ||
              (refsOnly(a, right) && refsOnly(b, left))
          case _ => false
        }
        // normalize every inequality to (big, small) meaning big >= small
        val geqs = conjuncts.collect {
          case GreaterThanOrEqual(a, b) => (a, b)
          case GreaterThan(a, b) => (a, b)
          case LessThanOrEqual(a, b) => (b, a)
          case LessThan(a, b) => (b, a)
        }
        // upper bounds of v computable ENTIRELY on `side` (the bound
        // side) — the extraction must be exactly as strict as the guard,
        // or a mixed-reference bound could end up under the Generate
        def hiOf(v: Expression, side: LogicalPlan): Option[Expression] =
          geqs.collectFirst { case (h, v2) if v2.semanticEquals(v) &&
            integral(h) && refsOnly(h, side) => h }
        val triple = if (hasEqui) None else geqs.collectFirst {
          case (v, lo) if integral(v) && integral(lo) &&
            ((refsOnly(v, left) && refsOnly(lo, right) &&
              hiOf(v, right).isDefined) ||
              (refsOnly(v, right) && refsOnly(lo, left) &&
                hiOf(v, left).isDefined)) =>
            (v, lo, hiOf(v, if (refsOnly(v, left)) right else left).get)
        }
        triple match {
          case None => j
          case Some((v, lo, hi)) =>
            val valIsLeft = refsOnly(v, left)
            val valSide = if (valIsLeft) left else right
            val boundSide = if (valIsLeft) right else left
            val vBand = Alias(bandOf(v, w), "__graft_band_v")()
            val valProj = Project(valSide.output :+ vBand, valSide)
            val loB = bandOf(lo, w)
            val hiB = bandOf(hi, w)
            // Sequence is TimeZoneAware — an optimizer-created instance
            // must carry the session zone or the plan turns unresolved
            val bands = If(LessThanOrEqual(loB, hiB),
              new Sequence(loB, hiB, Literal(1L))
                .withTimeZone(conf.sessionLocalTimeZone),
              Literal.create(Array.empty[Long], ArrayType(LongType, false)))
            val bandAttr =
              AttributeReference("__graft_band_r", LongType, nullable = false)()
            val gen = Generate(Explode(bands), unrequiredChildIndex = Nil,
              outer = false, qualifier = None,
              generatorOutput = Seq(bandAttr), child = boundSide)
            val newLeft = if (valIsLeft) valProj else gen
            val newRight = if (valIsLeft) gen else valProj
            val newCond = And(EqualTo(vBand.toAttribute, bandAttr), cond)
            Project(j.output, Join(newLeft, newRight, Inner, Some(newCond),
              hint))
        }
    }
  }
}

/** `spark.sql.extensions` entry point registering the graft analyzer,
  * optimizer and physical rules (the standard public extension hook). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(new BandedRangeJoinRule(_))
    ext.injectOptimizerRule(new EditDistanceBandRule(_))
    ext.injectOptimizerRule(_ => LocalFilterRule)
    ext.injectPlanNormalizationRule(_ => LocalFilterRule)
    ext.injectResolutionRule(new MySqlCoercionRule(_))
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = ParamLiteralRule
    })
  }
}
