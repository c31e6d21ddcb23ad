package graft

import graft.functions.SignBitsF
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The BQ sign-packing kernel must match a plain Scala reference of the
  * same `> 0` rule exactly, agree between the codegen and interpreted
  * paths, and pin the edge semantics the oracle relies on: bit 63 makes
  * the word negative (silent two's-complement wrap, unlike DuckDB's
  * checked shift — the oracle counts sign mismatches positionally instead
  * of packing), zeros and negatives contribute no bit, dims past 64 are
  * ignored, short vectors leave high bits clear. The derived Hamming
  * distance bit_count(a ^ b) must equal the positional sign-mismatch
  * count — the exact identity the q188 oracle SQL replays. */
class SignBitsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def refBits(xs: Array[Float]): Long = {
    var bits = 0L
    var i = 0
    while (i < math.min(64, xs.length)) {
      if (xs(i) > 0f) bits |= 1L << i
      i += 1
    }
    bits
  }

  test("sign_bits_f matches the scalar reference, including bit-63 and short/long vectors") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val rnd = new scala.util.Random(41)
    val vecs = Seq.tabulate(40)(i =>
      (i.toLong, Array.fill(64)((rnd.nextFloat() - 0.5f) * 2f))) :+
      (40L, Array.fill(64)(0f)) :+                          // no bits
      (41L, Array.fill(64)(1f)) :+                          // all 64 bits -> -1L
      (42L, Array.fill(63)(0f) :+ 1f) :+                    // ONLY bit 63 -> Long.MinValue
      (43L, Array[Float](1f, -1f, 0f, 2f)) :+               // short vector
      (44L, Array.fill(80)(1f))                             // dims past 64 ignored
    val got = vecs.toDF("id", "v")
      .select(col("id"), expr("sign_bits_f(v)").as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    vecs.foreach { case (i, xs) =>
      assert(got(i) == refBits(xs), s"vec $i")
    }
    assert(got(41L) == -1L)
    assert(got(42L) == Long.MinValue)
    assert(got(43L) == (1L | (1L << 3)))
    assert(got(44L) == -1L)
  }

  test("interpreted eval agrees with codegen and nulls stay null") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val arr = new GenericArrayData(Array[Any](0.5f, -0.5f, 0f, 3f))
    val e = SignBitsF(Literal(arr, ArrayType(FloatType)))
    assert(e.eval(null) == (1L | (1L << 3)))
    val n = SignBitsF(Literal(null, ArrayType(FloatType)))
    assert(n.eval(null) == null)
  }

  test("bit_count(xor) Hamming equals the positional sign-mismatch count (the oracle identity)") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val rnd = new scala.util.Random(43)
    val vecs = Seq.tabulate(20)(i => (i.toLong, Array.fill(64)((rnd.nextFloat() - 0.5f) * 2f)))
    val df = vecs.toDF("id", "v")
      .select(col("id"), col("v"), expr("sign_bits_f(v)").as("b"))
    val pairs = df.as("a").crossJoin(df.as("c"))
      .filter(col("a.id") < col("c.id"))
      .select(col("a.id").as("i"), col("c.id").as("j"),
        expr("CAST(bit_count(a.b ^ c.b) AS INT)").as("ham"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    for { (i, xi) <- vecs; (j, xj) <- vecs if i < j } {
      val expHam = (0 until 64).count(k => (xi(k) > 0f) != (xj(k) > 0f))
      assert(pairs((i, j)) == expHam, s"pair ($i,$j)")
    }
  }
}
