package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` Column<->Expression
  * conversions (the Spark 4 Connect refactor hid the classic
  * constructors). Standard practice for libraries shipping native
  * Catalyst expressions; kept to three one-liners so the dependency
  * surface stays auditable.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eager conversion to a real catalyst expression tree
    * (UnresolvedAttribute / SortOrder / ...). ExpressionUtils.expression
    * returns a lazy ColumnNodeExpression wrapper, which the analyzer
    * will not resolve inside a CUSTOM logical node — use this when
    * building expressions for user-defined plans.
    */
  def resolvableExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Register a native expression under a SQL-callable name. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Clone the session with COPIED state — conf, temp views, UDFs,
    * extensions — sharing the SparkContext (classic `cloneSession()` is
    * private[sql]). Lets a caller pin per-query SQL confs (e.g. the
    * streaming state-store partition count, which Structured Streaming
    * reads from spark.sql.shuffle.partitions at the first run against a
    * fresh checkpoint) WITHOUT mutating the shared session that a
    * concurrently-running query is reading — conf isolation the
    * set/try/finally pattern can never give.
    */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .cloneSession()

  /** Block until every event posted so far has reached every listener
    * (`listenerBus` is private[spark]).
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Wrap a custom LogicalPlan as a DataFrame (classic Dataset.ofRows
    * is private[sql]).
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
