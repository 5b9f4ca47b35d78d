package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** Bridge into `private[sql]` surface: wrap a Catalyst [[Expression]] as a
  * user-facing [[Column]] and reach the session's [[FunctionRegistry]].
  * Spark 4.x removed the public `new Column(expr)` constructor (Column is
  * plan-agnostic now); `classic.ExpressionUtils` is the supported internal
  * path for extension libraries that ship their own expressions.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def functionRegistry(spark: SparkSession): FunctionRegistry =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry

  /** A frame over already-internal rows — no per-row conversion, and a
    * plan (`Scan ExistingRDD`) whose generated code depends only on
    * `schema`, never on which partitions of `rows` survive a prune. */
  def internalCreateDataFrame(spark: SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** Block until every queued listener-bus event has been delivered —
    * lets a test assert "no job was launched" deterministically instead
    * of sleeping a wall-clock guess (flaky both ways under load). */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
