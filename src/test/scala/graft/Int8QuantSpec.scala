package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The int8 quantization kernels must match a plain Scala reference of the
  * same IEEE chain exactly (integer nanounits — no tolerance), including
  * the all-zero-vector guard, and the codegen and interpreted paths must
  * agree. */
class Int8QuantSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def refErrNanos(xs: Array[Float]): Long = {
    val s = xs.foldLeft(0.0)((m, x) => math.max(m, math.abs(x.toDouble)))
    if (s == 0.0) 0L
    else xs.map { x =>
      val xd = x.toDouble
      val q = math.floor(xd * 127.0 / s + 0.5)
      math.floor(math.abs(xd - q * s / 127.0) * 1e9 + 0.5).toLong
    }.sum
  }

  test("int8_err_nanos and absmax_f match the scalar reference on seeded vectors") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val rnd = new scala.util.Random(19)
    val vecs = Seq.tabulate(50)(i =>
      (i.toLong, Array.fill(64)((rnd.nextFloat() - 0.5f) * 2f))) :+
      (50L, Array.fill(64)(0f)) :+                // all-zero guard
      (51L, Array[Float](1f)) :+                  // single element, exact scale
      (52L, Array[Float](-0.3f, 0.3f, -0.1f))     // negatives
    val got = vecs.toDF("id", "v")
      .select(col("id"), expr("int8_err_nanos(v)").as("e"), expr("absmax_f(v)").as("s"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    vecs.foreach { case (i, xs) =>
      val expS = xs.foldLeft(0.0)((m, x) => math.max(m, math.abs(x.toDouble)))
      assert(got(i) == ((refErrNanos(xs), expS)), s"vec $i")
    }
  }

  test("max error per element is bounded by scale/254 + rounding (sanity of the quantizer)") {
    // symmetric round-to-nearest: |x - dq| <= s/254 per element, so the
    // nanos total is <= dim * (s/254 * 1e9 + 1)
    val rnd = new scala.util.Random(23)
    (0 until 20).foreach { _ =>
      val xs = Array.fill(64)((rnd.nextFloat() - 0.5f) * 4f)
      val s = xs.foldLeft(0.0)((m, x) => math.max(m, math.abs(x.toDouble)))
      val bound = 64L * (math.ceil(s / 254.0 * 1e9).toLong + 1)
      assert(refErrNanos(xs) <= bound)
    }
  }
}
