package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AtomicType, DataType}

/** Access bridge for `private[sql]` Spark internals used by graft's
  * custom Catalyst expressions and plans (the supported extension
  * pattern: a tiny shim inside the sql package namespace, everything
  * else stays in graft.*).
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Whether `VariantGet.cast` takes its atomic-type branch for `dt`
    * (`AtomicType` is private[sql]).
    */
  def isAtomic(dt: DataType): Boolean = dt.isInstanceOf[AtomicType]

  /** Wrap a custom LogicalPlan as a DataFrame (Dataset.ofRows is
    * private[sql]) — the entry point for graft's native operators.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame. */
  def analyzed(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  /** Block until every listener event posted so far has been
    * delivered (`listenerBus` is private[spark]). Throws
    * TimeoutException past the deadline — a listener that is still
    * behind would under-report what it counts.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Block until `q`'s thread has built its sources or stopped
    * (`awaitInitialization` is private[sql]); a failure is left for
    * `awaitTermination` to report.
    */
  def awaitSources(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = q match {
    case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
      try w.streamingQuery.awaitInitialization(Long.MaxValue)
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
    case _ => ()
  }
}
