package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.types._

/** Exact weighted average over integer cents as a Catalyst
  * `DeclarativeAggregate` — the production-grade twin of the
  * `Aggregator`-API demo [[graft.queries.WeightedAvgAgg]].
  *
  * The `udaf(Aggregator)` route pays a Catalyst↔Scala encoder round-trip
  * per input row (~19 µs/row measured at sf0.1 — a scale-killer on a hot
  * path). A DeclarativeAggregate instead states the aggregate as
  * EXPRESSIONS over a primitive (long, long) buffer — Σ(x·w) and Σw — so
  * it compiles into the same whole-stage-codegen hash-aggregate loop as a
  * built-in `sum`: no boxing, no encoder, partial+final merge for free.
  * Semantics identical to the demo Aggregator and the oracle SQL:
  * `sum(cents*k) / (100 * sum(k))`, 0.0 when the weight sum is zero;
  * integer accumulation makes partials merge exactly in any shuffle order.
  */
case class WeightedAvgCents(x: Expression, w: Expression)
    extends DeclarativeAggregate with ExpectsInputTypes {

  override def children: Seq[Expression] = Seq(x, w)
  override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "weighted_avg_cents"

  private lazy val sumXW = AttributeReference("sumXW", LongType, nullable = false)()
  private lazy val sumW = AttributeReference("sumW", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(sumXW, sumW)
  override lazy val initialValues: Seq[Expression] = Seq(Literal(0L), Literal(0L))

  // A row with a null value or null weight contributes nothing (the
  // Aggregator demo never sees such rows — callers filter — but the
  // expression form must stay total).
  override lazy val updateExpressions: Seq[Expression] = {
    val anyNull = Or(IsNull(x), IsNull(w))
    Seq(
      Add(sumXW, If(anyNull, Literal(0L), Multiply(x, w))),
      Add(sumW, If(anyNull, Literal(0L), w)))
  }

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    Add(sumXW.left, sumXW.right),
    Add(sumW.left, sumW.right))

  override lazy val evaluateExpression: Expression =
    If(EqualTo(sumW, Literal(0L)),
      Literal(0.0),
      Divide(Cast(sumXW, DoubleType),
        Multiply(Literal(100.0), Cast(sumW, DoubleType))))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(x = newChildren(0), w = newChildren(1))
}
