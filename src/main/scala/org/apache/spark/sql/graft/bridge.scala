package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Access bridge for `private[sql]` Spark internals used by graft's
  * custom Catalyst expressions and plans (the supported extension
  * pattern: a tiny shim inside the sql package namespace, everything
  * else stays in graft.*).
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a custom LogicalPlan as a DataFrame (Dataset.ofRows is
    * private[sql]) — the entry point for graft's native operators.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame. */
  def analyzed(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  /** Non-blocking Observation read (`getOrEmpty` is private[sql]):
    * empty when the observed action never ran — `get` would block
    * forever on a deliberately-skipped write. Spark's getOrEmpty
    * itself NPEs in that never-ran case (it reads `row.schema` off an
    * unset metrics row), so the guard maps that to empty too.
    */
  def observationGetOrEmpty(o: org.apache.spark.sql.Observation): Map[String, Any] =
    try o.getOrEmpty catch { case _: NullPointerException => Map.empty }

  /** Bounded-blocking Observation read: parks on the observation's
    * completion future (no sleep-poll) and distinguishes "metrics
    * arrived" (Some) from "listener event lost / never completed
    * within the deadline" (None). Callers use this ONLY after the
    * observed action verifiably ran — on a skipped action the future
    * never completes and this honestly times out.
    */
  def observationAwait(
      o: org.apache.spark.sql.Observation,
      timeoutMs: Long): Option[Map[String, Any]] =
    try {
      import scala.concurrent.duration._
      val row = scala.concurrent.Await.result(o.future, timeoutMs.millis)
      Some(row.getValuesMap[Any](row.schema.fieldNames.toSeq))
    } catch { case _: java.util.concurrent.TimeoutException => None }

  /** Block until every listener event posted so far has been
    * delivered (`listenerBus` is private[spark]). Throws
    * TimeoutException past the deadline — a listener that is still
    * behind would under-report what it counts.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
