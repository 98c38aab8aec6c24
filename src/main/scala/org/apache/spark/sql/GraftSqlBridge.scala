package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.StructType

/** Bridge into `private[sql]` Spark internals, the standard pattern for
  * Spark-extension libraries that define native Catalyst expressions
  * (same trick used by spark-daria / frameless / delta): Spark 4 removed
  * the public `new Column(Expression)` constructor in favor of
  * ColumnNode, so Column↔Expression conversion goes through
  * `classic.ExpressionUtils`. */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  /** Column → Expression, converting the ColumnNode EAGERLY: the lazy
    * ColumnNodeExpression wrapper is only unwrapped at Column→plan
    * boundaries, so an expression returned from a FunctionRegistry
    * builder (where no such boundary follows) would reach codegen
    * unconverted. */
  def expression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Register a Catalyst expression builder as a SQL function. */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** A frame over rows already in Catalyst's internal form: one
    * `LocalRelation` with `schema`'s fields (names, types, nullability,
    * metadata), with no per-row conversion. */
  def localFrame(spark: SparkSession, schema: StructType,
                 rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}
