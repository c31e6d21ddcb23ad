package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Mergeable streaming-quantile buffer: a uniform-capacity compactor
  * ladder (the MRL/KLL family — Manku-Rajagopalan-Lindsay '98, Karnin-
  * Lang-Liberty '16) with DETERMINISTIC alternating-parity compaction.
  *
  * `levels(l)` holds items of weight 2^l; raw values enter level 0.
  * When a level reaches capacity k it is sorted and its even-sized
  * prefix halved — every other element survives to level l+1 (weight
  * doubles, total weight is conserved exactly, so Σ weights == n always
  * holds and rank targets need no renormalization); an odd leftover
  * (the largest) stays at its level. The survivor parity ALTERNATES per
  * level per compaction instead of being a coin flip — same worst-case
  * rank-error envelope, but the sketch is a pure function of the
  * operation sequence (no RNG to seed per task).
  */
final class KllBuffer(
    var n: Long,
    val levels: mutable.ArrayBuffer[mutable.ArrayBuffer[Long]],
    val parities: mutable.ArrayBuffer[Boolean])

/** KLL/MRL quantile sketch as a Catalyst `TypedImperativeAggregate` —
  * the MERGEABLE quantile operator the sketch family lacked: HLL (q44)
  * answers distinct, CMS (q119) point frequency, Misra-Gries (q105)
  * heavy hitters, KMV (q182) set overlap — and `percentile_approx`
  * (q104) answers quantiles but is not a first-class composable state
  * of THIS engine. A KLL sketch per partition/day/source can be stored,
  * unioned across arbitrary splits (merge = levelwise concat + the same
  * compaction the build uses), and interrogated later — at 100 TB the
  * difference between re-sorting a corpus and merging kilobyte states.
  *
  * Rank-error contract (deterministic, any merge tree): one compaction
  * at level l perturbs any fixed rank by at most 2^(l-1); level l sees
  * ≤ n/(k·2^l) compactions, so the worst-case rank error is bounded by
  * n·L/(2k) with L = log₂(n/k) levels — ≤ 2.4 %·n for k = 256 up to
  * n ≈ 10⁶ and growing only logarithmically beyond (size k·L longs; at
  * extreme n pick k ≈ L/ε). Alternating parity makes consecutive
  * compactions cancel, so realized error is far inside that envelope —
  * the in-band witness (q216) asserts the 3 %·n ceiling the way q44
  * bands HLL at 3× rsd, and KllSketchSpec property-tests the bound
  * under adversarial partitionings and orderings.
  *
  * `eval` answers the requested quantile fractions (ppm) directly:
  * est(p) = the smallest sketch value whose cumulative weight reaches
  * ceil(n·p/10⁶) — the q81/q129 ceil-rank convention on the weighted
  * sample. Output: array<bigint> aligned with the requested ppms.
  *
  * State is O(k·log(n/k)) per group, map-side combinable; null inputs
  * are skipped like every Spark aggregate. */
case class KllQuantilesAgg(child: Expression, k: Int, ppms: Seq[Long],
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[KllBuffer]
    with ExpectsInputTypes with UnaryLike[Expression] {
  require(k >= 8 && k % 2 == 0, "kll_quantiles: k must be even and >= 8")
  require(ppms.nonEmpty && ppms.forall(p => p >= 0L && p <= 1000000L),
    "kll_quantiles: quantile fractions must be ppm values in [0, 1e6]")

  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "kll_quantiles"

  override def createAggregationBuffer(): KllBuffer = KllOps.empty()

  override def update(buf: KllBuffer, input: InternalRow): KllBuffer = {
    val v = child.eval(input)
    if (v != null) KllOps.offer(buf, k, v.asInstanceOf[Long])
    buf
  }

  override def merge(b1: KllBuffer, b2: KllBuffer): KllBuffer =
    KllOps.merge(b1, b2, k)

  override def eval(buf: KllBuffer): Any =
    new GenericArrayData(KllOps.quantiles(buf, ppms))

  override def serialize(buf: KllBuffer): Array[Byte] = KllOps.serialize(buf)

  override def deserialize(bytes: Array[Byte]): KllBuffer =
    KllOps.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): KllQuantilesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllQuantilesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KllQuantilesAgg =
    copy(child = newChild)
}

object KllSketch {

  /** Extract the ppm list from a foldable array literal. */
  def ppmList(e: Expression): Seq[Long] = {
    require(e.foldable,
      s"kll_quantiles: quantile ppms must be a foldable array literal, got ${e.sql}")
    e.eval(null) match {
      case a: ArrayData => e.dataType match {
        case ArrayType(LongType, _)    => a.toLongArray().toSeq
        case ArrayType(IntegerType, _) => a.toIntArray().map(_.toLong).toSeq
        case other => throw new IllegalArgumentException(
          s"kll_quantiles: expected array<bigint|int>, got $other")
      }
      case other => throw new IllegalArgumentException(
        s"kll_quantiles: expected an array literal, got $other")
    }
  }
}
