package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's private[sql] Column<->Expression conversions for
  * registering custom Catalyst aggregates (Spark 4 moved Column onto
  * ColumnNode; the classic converters are package-private).
  */
object GraftExprBridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Column → catalyst Expression via the REAL node converter.
    * (`ExpressionUtils.expression` merely wraps the ColumnNode in a
    * lazy `ColumnNodeExpression` marker, which only Dataset-API
    * analysis unwraps — an expression built that way inside a
    * FunctionRegistry builder would reach codegen unresolved.) */
  def toExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Spark's ANSI overflow error for a decimal `sum`, raised by the
    * kernel that replaces that sum ([[graft.functions.CentsSum]]). */
  def decimalSumOverflow(): ArithmeticException =
    errors.QueryExecutionErrors.overflowInSumOfDecimalError(null, "try_sum")

  /** Register an expression-backed SQL function on a LIVE session (the
    * FunctionRegistry is package-private; this bridge is the sanctioned
    * same-package access). For config-time registration use
    * `spark.sql.extensions=graft.GraftSparkExtension` instead. */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        "graft.functions.SqlFunctions", name),
      exprs => builder(exprs))

  /** Test-only view into a SparkSessionExtensions instance (its
    * accessors are package-private): the function names an extension
    * registers. `spark.sql.extensions` is a STATIC conf — a suite
    * sharing one SparkContext cannot exercise it through session
    * construction. */
  def extensionFunctionNames(ext: SparkSessionExtensions): Set[String] = {
    val reg = new org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
    ext.registerFunctions(reg)
    reg.listFunction().map(_.funcName).toSet
  }
}
