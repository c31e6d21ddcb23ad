package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** The KLL/MRL quantile sketch must honor its deterministic worst-case
  * rank-error envelope n·L/(2k) under ADVERSARIAL orderings and merge
  * trees (sorted, reverse-sorted, round-robin splits, serialize round
  * trips), answer exactly while n < k (no compaction has happened), and
  * conserve total weight so rank targets need no renormalization. The
  * identity stream 1..n makes rank error directly readable: rank(v)=v. */
class KllSketchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val K = 256
  private val PPMS = Seq(10000L, 250000L, 500000L, 750000L, 900000L, 990000L)

  private def agg = graft.functions.KllQuantilesAgg(
    BoundReference(0, LongType, nullable = true), K, PPMS)

  /** Build one buffer per chunk, merge left-to-right, eval. */
  private def sketch(chunks: Seq[Seq[Long]]): Seq[Long] = {
    val a = agg
    val bufs = chunks.map { c =>
      val b = a.createAggregationBuffer()
      c.foreach(v => a.update(b, InternalRow(v)))
      // serialize round trip — the exchange path must be lossless
      a.deserialize(a.serialize(b))
    }
    val merged = bufs.reduceLeft(a.merge)
    a.eval(merged).asInstanceOf[ArrayData].toLongArray().toSeq
  }

  private def bound(n: Long): Long = {
    val levels = math.max(1, math.ceil(
      math.log(n.toDouble / K) / math.log(2.0)).toLong)
    math.max(1L, n * levels / (2L * K))
  }

  test("rank error stays inside n*L/(2k) under adversarial splits") {
    val n = 100000L
    val ident = (1L to n).toSeq
    val splits = Map(
      "sorted-1chunk" -> Seq(ident),
      "sorted-32chunks" -> ident.grouped(3125).toSeq,
      "reverse-sorted" -> Seq(ident.reverse),
      "round-robin-32" -> (0 until 32).map(r => ident.filter(_ % 32 == r)),
      "interleaved-pairs" -> ident.grouped(2).toSeq.reverse)
    val b = bound(n)
    splits.foreach { case (name, chunks) =>
      val ests = sketch(chunks.map(_.toSeq))
      PPMS.zip(ests).foreach { case (p, est) =>
        val target = math.min(n, math.max(1L, (n * p + 999999L) / 1000000L))
        assert(math.abs(est - target) <= b,
          s"$name p=$p: est=$est target=$target bound=$b")
      }
    }
  }

  test("exact while n < k (level 0 never compacts)") {
    val n = 200L
    val vals = (1L to n).toSeq
    val ests = sketch(Seq(vals.reverse))
    PPMS.zip(ests).foreach { case (p, est) =>
      val target = math.min(n, math.max(1L, (n * p + 999999L) / 1000000L))
      assert(est == target, s"p=$p: est=$est exact=$target")
    }
  }

  test("constant stream returns the constant at every quantile") {
    val ests = sketch(Seq(Seq.fill(5000)(42L)))
    assert(ests.forall(_ == 42L), s"got $ests")
  }

  test("weight is conserved through compaction and merge") {
    val a = agg
    val b1 = a.createAggregationBuffer()
    (1L to 7777L).foreach(v => a.update(b1, InternalRow(v)))
    val b2 = a.createAggregationBuffer()
    (1L to 2223L).foreach(v => a.update(b2, InternalRow(v * 3)))
    val m = a.merge(b1, b2)
    val totalWeight = m.levels.iterator.zipWithIndex.map {
      case (lvl, l) => lvl.size.toLong << l
    }.sum
    assert(m.n == 10000L && totalWeight == 10000L,
      s"n=${m.n} sum-of-weights=$totalWeight")
  }

  test("DataFrame path: the q216 band holds under shuffled partitionings") {
    import spark.implicits._
    GraftExtensions.install(spark)
    // deterministic non-uniform stream: quadratic growth + duplicates
    val vals = (0 until 60000).map(i => (i.toLong * i) % 104729L)
    val exact = vals.sorted
    for (parts <- Seq(1, 17)) {
      val est = vals.toDF("v").repartition(parts)
        .agg(expr(s"kll_quantiles(v, $K, array(${PPMS.mkString(",")}))"))
        .head().getSeq[Long](0)
      PPMS.zip(est).foreach { case (p, e) =>
        val target = math.max(1L, (vals.size.toLong * p + 999999L) / 1000000L)
        val rankLe = exact.count(_ <= e).toLong
        val rankLt = exact.count(_ < e).toLong
        val tol = math.max(vals.size.toLong * 3L / 100L, 16L)
        assert(rankLt < target + tol && rankLe >= target - tol,
          s"parts=$parts p=$p: est=$e rank=[${rankLt + 1},$rankLe] target=$target")
      }
    }
  }
}
