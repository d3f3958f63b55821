package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's `private[sql]` Column ↔ catalyst Expression
  * converters (`org.apache.spark.sql.classic.ExpressionUtils`), so the
  * library can expose native codegen expressions through the public
  * `Column` API, and to the `private[spark]` listener bus. Lives in a
  * subpackage of `org.apache.spark.sql` for access; contains no logic of
  * its own.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Catalyst expression behind a Column. `ExpressionUtils.expression`
    * returns a lazy ColumnNodeExpression wrapper that only standard
    * operators resolve; converting eagerly yields a plain (possibly
    * unresolved-attribute) expression tree the analyzer resolves inside
    * custom logical nodes too. */
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** DataFrame from a logical plan (`classic.Dataset.ofRows` is
    * private[sql]) — needed to expose custom logical operators through the
    * public DataFrame API. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame. */
  def logicalPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.analyzed

  /** Block until every event posted so far reached every listener: the
    * listener bus is asynchronous, so a job's end event may still be
    * queued when the action that ran it returns. */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
