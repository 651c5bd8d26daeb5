package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal access bridge: `Column ⇄ Expression` conversion lives behind
  * `private[sql]` in Spark 4 (`org.apache.spark.sql.classic.ExpressionUtils`),
  * so custom Catalyst expressions need one object inside the sql namespace —
  * the standard pattern for third-party Spark extensions. The session's
  * UUID is the other `private[sql]` member read here; nothing else of
  * Spark's internals is touched. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Execute a logical plan as a DataFrame (tests of optimizer rules apply
    * the rule to an analyzed plan and need to run the result). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A session's UUID: a cache key that identifies the session without
    * holding a reference to it. */
  def sessionUUID(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID
}
