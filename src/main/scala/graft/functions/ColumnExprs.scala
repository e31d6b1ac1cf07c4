package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between public `Column` and Catalyst `Expression` (Spark 4 classic
  * API — Column is node-backed; ExpressionUtils is private[sql], hence this
  * shim lives under org.apache.spark.sql).
  */
object ColumnBridge {
  def wrap(e: Expression): Column = ExpressionUtils.column(e)
  def toExpr(c: Column): Expression = ExpressionUtils.expression(c)

  /** Whether `dt` is atomic (a leaf, VARIANT included; AtomicType is
    * private[sql]). */
  def isAtomic(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt.isInstanceOf[org.apache.spark.sql.types.AtomicType]

  /** EAGER Column→Expression conversion: resolves the ColumnNode tree to a
    * plain Catalyst tree NOW instead of deferring to plan conversion.
    * Required inside analyzer-time FunctionBuilders (GraftExtensions): the
    * deferred `ColumnNodeExpression` wrapper `toExpr` returns is only
    * converted when a Column enters a plan through the DataFrame API — a
    * builder's return value never does, and would stay Unevaluable. */
  def toCatalystExpr(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)
}

/** Every input must be array<float> (with implicit casts — array<double>
  * inputs are CAST, not reinterpreted): the vector kernels read FLOAT
  * slots, so an unchecked array<double> would silently produce garbage.
  * Lives here because AbstractDataType is private[sql]. */
trait FloatArrayInputs
    extends org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  self: Expression =>
  override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] =
    children.map(_ =>
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
}

/** (array<float>, bigint) — a vector plus an id (e.g. the PQ encoder's
  * cell assignment). Same private[sql] AbstractDataType reason as above. */
trait FloatArrayLongInputs
    extends org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  self: Expression =>
  override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] =
    Seq(org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType),
      org.apache.spark.sql.types.LongType)
}

/** (array<double>, array<int>) — an fp64 residual plus PQ codes. */
trait DoubleArrayIntArrayInputs
    extends org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  self: Expression =>
  override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] =
    Seq(org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType))
}
