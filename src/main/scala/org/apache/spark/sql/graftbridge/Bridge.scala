package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryExecutionErrors

/** Column ↔ catalyst Expression adapters. Spark 4 moved `Column` to the
  * connect-compatible sql-api where its Expression constructor is
  * `private[sql]`; third-party Catalyst expressions need this one-hop
  * bridge living under the org.apache.spark.sql package scope (the usual
  * pattern for Spark-native extension libraries).
  */
object Bridge {
  def toExpr(c: Column): Expression = ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  /** The error Spark's `Divide` raises on a zero divisor under ANSI
    * mode, for code that reproduces its arithmetic outside a plan.
    */
  def divideByZeroError(): ArithmeticException =
    QueryExecutionErrors.divideByZeroError(null)
}
