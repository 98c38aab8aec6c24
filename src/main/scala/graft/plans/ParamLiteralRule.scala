package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A non-null literal whose generated code does not spell its value.
  *
  * A value of a primitive Java type has a Java literal, so
  * `Literal.doGenCode` writes int, long, short, byte, float, double,
  * date (days) and timestamp (microseconds) values straight into the
  * source (`(x > 10)` becomes `value_1 > 10L`): no field, no unboxing,
  * a constant the JIT can fold. Only values with no Java literal
  * (strings, decimals, binary) go through the `references` array. But
  * Spark's compiled-class cache is keyed on the source, so two queries
  * that differ only in such a literal miss it and each pays a Janino
  * compile (about 10 ms per class on a 4-core host; a point lookup
  * compiles two). Here the value goes into `references` and each
  * generated-class instance copies it once into a primitive field, so
  * the source is the same for every value and the compiled class is
  * reused.
  *
  * It prints exactly like the [[Literal]] it stands for (`toString` and
  * `sql`), so EXPLAIN text and plan strings do not change. Not foldable:
  * it only ever appears in physical plans, after every rule that folds.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null && ParamLiteral.covered(dataType),
    s"ParamLiteral of $dataType: $value")

  def literal: Literal = Literal(value, dataType)

  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value,
      CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param",
      v => s"$v = $ref.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.global(field, dataType))
  }
}

object ParamLiteral {
  /** The types whose literals `Literal.doGenCode` inlines into the
    * source. String, binary and decimal literals already go through
    * `references`; booleans have two values and intervals are not
    * compared with literals on any path here, so all stay [[Literal]]s. */
  def covered(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | ShortType | ByteType | FloatType |
         DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }
}

/** Physical rule: turn the non-null literal operands of comparisons
  * (`=`, `<=>`, `<`, `<=`, `>`, `>=`; BETWEEN reaches the planner as two
  * of them) in `FilterExec` conditions and `ProjectExec` projections
  * into [[ParamLiteral]]s, so a query shape compiles once whatever its
  * literals (the reference likewise compiles one step list per
  * statement shape and interprets it over the packs).
  *
  * Left alone: NULL, boolean, string, decimal and binary literals (see
  * [[ParamLiteral.covered]]), literals outside a comparison, and scan
  * nodes, whose pushed, data and partition filters need real `Literal`s
  * for Parquet row-group pushdown and pack pruning.
  * Registered as a `preColumnarTransitions` rule ([[GraftExtensions]]),
  * which runs before `CollapseCodegenStages` both in
  * `QueryExecution.preparations` and in adaptive execution's per-stage
  * rules; a query-stage prep rule would miss plans adaptive execution
  * does not wrap, such as a point lookup with no exchange.
  */
object ParamLiteralRule extends Rule[SparkPlan] {

  private def param(e: Expression): Expression = e match {
    case Literal(v, dt) if v != null && ParamLiteral.covered(dt) =>
      ParamLiteral(v, dt)
    case other => other
  }

  private def parameterize(e: Expression): Expression = e.transformUp {
    case c @ (_: EqualTo | _: EqualNullSafe | _: LessThan |
              _: LessThanOrEqual | _: GreaterThan | _: GreaterThanOrEqual) =>
      c.withNewChildren(c.children.map(param))
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val cond = parameterize(f.condition)
      if (cond == f.condition) f else f.copy(condition = cond)
    case p: ProjectExec =>
      val list = p.projectList.map(parameterize(_).asInstanceOf[NamedExpression])
      if (list == p.projectList) p else p.copy(projectList = list)
  }
}
