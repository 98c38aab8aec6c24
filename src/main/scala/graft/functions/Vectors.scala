package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Vector math over `array<float/double>` columns. The dot product — the
  * per-row kernel of every ANN/embedding operator — is a native
  * expression (one allocation-free loop); the rest are higher-order
  * builtins, fine for their cold paths. */
object Vectors {

  /** Native dot product: each element promoted to double before the
    * multiply (the numerically standard accumulation, and what a
    * driver-side `a.toDouble * b.toDouble` reference computes). A
    * `zip_with`+`aggregate` formulation evaluates its lambda expression
    * tree per element — ~128 interpreted steps per row on the ANN hot
    * path — where this is one JIT-hot loop. */
  case class VecDot(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "vec_dot"

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      def ok(e: Expression): Boolean = e.dataType match {
        case ArrayType(FloatType | DoubleType, _) => true
        case _ => false
      }
      if (ok(left) && ok(right))
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(
          s"vec_dot requires array<float>/array<double> inputs, got " +
            s"${left.dataType.sql} and ${right.dataType.sql}")
    }

    private def isFloat(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    // lazy: children are unresolved (no dataType) until analysis
    private lazy val leftFloat = isFloat(left)
    private lazy val rightFloat = isFloat(right)

    /** NULL on length mismatch or any NULL element — the same result the
      * previous zip_with+aggregate formulation produced, so upstream data
      * bugs surface as NULL scores instead of silently wrong ones. */
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = a.numElements()
      if (b.numElements() != n) return null
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        val x = if (leftFloat) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (rightFloat) b.getFloat(i).toDouble else b.getDouble(i)
        acc += x * y
        i += 1
      }
      acc
    }

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): VecDot = copy(left = l, right = r)
  }

  /** Dot product of two array columns (float or double elements). */
  def dot(a: Column, b: Column): Column =
    GraftSqlBridge.column(
      VecDot(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Euclidean norm. */
  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + (x * x).cast("double")))

  /** Cosine similarity (safe against zero vectors). */
  def cosine(a: Column, b: Column): Column = {
    val denom = norm(a) * norm(b)
    when(denom === 0.0, 0.0).otherwise(dot(a, b) / denom)
  }
}
