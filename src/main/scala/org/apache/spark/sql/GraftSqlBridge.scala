package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the `private[sql]` Dataset constructor so the graft
  * library can materialize a DataFrame from a custom [[LogicalPlan]]
  * node (the (c)-tier extension path: logical node + planner strategy +
  * physical exec), into the column/expression conversions for the
  * native expressions of `graft.functions`, and into the
  * `private[spark]` listener bus for [[graft.Census]]. This is the
  * standard technique Spark-extension libraries use — one object in
  * `org.apache.spark.sql`, nothing else reaches into internals.
  */
object GraftSqlBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Clone a session: shares the SparkContext, SharedState and cache,
    * but owns an ISOLATED copy of the source's SQLConf (and function
    * registry). This is the supported way to SCOPE a conf override —
    * e.g. AQE off for a sequential micro-aggregate loop — without
    * mutating the caller's session out from under queries running
    * concurrently on other threads (a mutate-and-restore on the shared
    * conf races them, and interleaved scopes restore the wrong value).
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Re-root a DataFrame's logical plan into another session (usually
    * a [[cloneSession]] clone), so queries composed from it execute
    * under that session's conf. The shared CacheManager still matches
    * any cached subplans — re-rooting never loses cache hits.
    */
  def reRoot(spark: SparkSession, df: DataFrame): DataFrame =
    ofRows(spark, df.queryExecution.logical)

  /** A Column over a native Catalyst expression, and back. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wait until the listener bus has delivered every event posted so
    * far; false if `timeoutMs` passed first.
    */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
