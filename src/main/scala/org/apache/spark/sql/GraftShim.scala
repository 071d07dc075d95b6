package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge from Catalyst [[Expression]] to the public [[Column]] API.
  *
  * Spark 4 moved `Column` to a backend-agnostic `ColumnNode` representation;
  * the classic converter (`org.apache.spark.sql.classic.ExpressionUtils`) is
  * `private[sql]`, so this one-file shim lives in the `org.apache.spark.sql`
  * package to re-export it for graft's native expressions.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap a Catalyst [[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]]
    * as a DataFrame (`Dataset.ofRows` is `private[sql]` in Spark 4) — the
    * entry point for custom logical operators planned by injected
    * strategies.
    */
  def dataFrame(spark: SparkSession,
                plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until the asynchronous, `private[spark]` listener bus has
    * delivered every event posted so far. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Re-wrap a streaming micro-batch DataFrame as a BATCH one over the
    * already-planned RDD — the `ForeachBatchSink` trick, needed by any V1
    * [[execution.streaming.Sink]] that wants to run its own actions on
    * the batch (a plan with streaming-flagged leaves refuses every action
    * but the engine's own). `LogicalRDD.fromDataset` is `private[sql]`,
    * hence here.
    */
  def asBatch(data: DataFrame): DataFrame = {
    val ds = data.asInstanceOf[classic.Dataset[Row]]
    val node = execution.LogicalRDD.fromDataset(
      ds.queryExecution.toRdd, ds, isStreaming = false)
    classic.Dataset.ofRows(ds.sparkSession, node)
  }
}
