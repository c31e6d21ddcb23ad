package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ExpressionUtils, SparkSession => ClassicSession}
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
  * reads its listeners, and the SQL conf propagation the fan-out's
  * delivery job runs under. Nothing else in the repo lives under the spark
  * package tree.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until every listener event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Run `body`, which starts jobs outside a SQL execution, with `spark`'s
    * SQL confs on their tasks (`SQLConf.get` in a task reads them), as a
    * SQL execution's tasks would have them. */
  def withSqlConfPropagated[T](spark: SparkSession)(body: => T): T =
    SQLExecution.withSQLConfPropagated(spark.asInstanceOf[ClassicSession])(body)
}
