package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` Column↔Expression conversion (Spark 4 moved
  * `new Column(expr)` behind `classic.ExpressionUtils`). Lives in the
  * org.apache.spark.sql package purely for access; no Spark internals are
  * modified. Used by graft's custom Catalyst expressions.
  */
object GraftBridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a (resolved) logical plan as a DataFrame — `Dataset.ofRows`
    * is `private[sql]`; graft's custom plan nodes (e.g.
    * [[graft.plans.AsOfJoinNode]]) need it to enter the query engine.
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Run `hook` at JVM exit in Spark's ordered shutdown sequence
    * (`ShutdownHookManager` is `private[spark]`): hooks run one at a time,
    * higher `priority` first, and the SparkContext stops at
    * [[SparkContextShutdownPriority]]. A raw `Runtime` hook instead runs
    * concurrently with all of Spark's.
    */
  def addShutdownHook(priority: Int)(hook: () => Unit): Unit =
    org.apache.spark.util.ShutdownHookManager.addShutdownHook(priority)(hook)

  val SparkContextShutdownPriority: Int =
    org.apache.spark.util.ShutdownHookManager.SPARK_CONTEXT_SHUTDOWN_PRIORITY
  val TempDirShutdownPriority: Int =
    org.apache.spark.util.ShutdownHookManager.TEMP_DIR_SHUTDOWN_PRIORITY

  /** Close every state-store provider loaded in this JVM (RocksDB
    * instances included) and stop their maintenance thread.
    */
  def closeStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
}
