package org.apache.spark.sql

import scala.reflect.ClassTag
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Column ⇄ Expression converters that
  * Spark 4 moved behind the classic/connect split, and to the
  * `private[spark]` listener bus. Custom Catalyst expressions
  * (graft.functions) need both converter directions to expose a
  * `Column` API; [[graft.Measure]] needs the bus to read its per-run
  * ledger. Standard pattern for Spark extension libraries.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a (resolved) logical plan as a DataFrame — the entry point
    * custom logical operators (graft.plans) need to return their node
    * through the public Dataset API. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame (for building custom
    * operators over already-resolved children). */
  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** The listeners of class `T` registered on `sc`. */
  def listeners[T <: SparkListenerInterface: ClassTag](sc: SparkContext): Seq[T] =
    sc.listenerBus.findListenersByClass[T]()

  /** Block until every event posted to `sc`'s listener bus so far has
    * reached every listener. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
