package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.util.Utils

/** Column ↔ catalyst Expression adapters, and the SparkContext
  * local-property hooks that are `private[spark]`. Spark 4 moved `Column`
  * to the connect-compatible sql-api where its Expression constructor is
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

  /** A copy of the calling thread's Spark local properties (job group,
    * description, scheduler pool); null without an active context.
    */
  def localProperties(): java.util.Properties =
    SparkContext.getActive.map(sc =>
      Utils.cloneProperties(sc.getLocalProperties)).orNull

  /** Run `body` with `props` as this thread's Spark local properties,
    * restoring the thread's own afterwards — how work handed to a
    * long-lived pool thread runs under its submitter's job group instead
    * of the one the pool thread inherited when it was created.
    */
  def withLocalProperties[A](props: java.util.Properties)(body: => A): A =
    SparkContext.getActive match {
      case Some(sc) if props != null =>
        val own = sc.getLocalProperties
        sc.setLocalProperties(props)
        try body finally sc.setLocalProperties(own)
      case _ => body
    }
}
