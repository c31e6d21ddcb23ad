package org.apache.spark.sql.graft

import java.util.concurrent.{CompletableFuture, ExecutorService}

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution

/** Access to the few Spark internals the repo needs, in one file.
  *
  * Spark 4 made `Column` transport-agnostic (it wraps a `ColumnNode`, not an
  * `Expression`), and the classic-mode converter `ExpressionUtils` is
  * `private[sql]`. Custom codegen expressions that take non-Expression
  * constructor parameters (e.g. a primitive plane matrix) cannot go through
  * the function registry's `Seq[Expression] => Expression` builders, so this
  * one-file package bridge re-exports the two converters, the listener
  * bus drain (`private[spark]`) that `graft.ExecPlan` waits on before it
  * reads its listeners, and the thread-local capture (typed on the classic
  * session) that the streaming fan-out runs its sink jobs under. Nothing
  * else in the repo lives under the spark package tree.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until every listener event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Run `body` on `exec` under the calling thread's active session and
    * local properties (job group, job tags, streaming batch id, parent SQL
    * execution), so the jobs it starts belong to the caller. */
  def withThreadLocalCaptured[T](spark: SparkSession, exec: ExecutorService)(
      body: => T): CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(spark.asInstanceOf[classic.SparkSession], exec)(body)
}
