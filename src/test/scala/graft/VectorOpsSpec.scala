package graft

import graft.functions.GlobalIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The codegen'd vector kernel and the scale-safe global index. */
class VectorOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("dot_f matches a plain Scala dot product (codegen + interpreted agree)") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val a = Array(1.0f, 2.0f, 3.0f)
    val b = Array(0.5f, -1.0f, 2.0f)
    val expected = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val df = Seq((a, b)).toDF("x", "y")
    val fromCodegen = df.select(expr("dot_f(x, y)")).collect().head.getDouble(0)
    assert(math.abs(fromCodegen - expected) < 1e-12)
    // interpreted path (codegen off) must agree
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = df.select(expr("dot_f(x, y)")).collect().head.getDouble(0)
      assert(interp == fromCodegen)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("l2norm_f and cosine identity: cos(v, v) == 1 for non-zero v") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val v = Array.tabulate(64)(i => (i + 1) / 64.0f)
    val df = Seq((v, v)).toDF("x", "y")
    val cos = df.select(expr("dot_f(x, y) / (l2norm_f(x) * l2norm_f(y))"))
      .collect().head.getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-9)
  }

  test("dot_f null propagation") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val df = Seq((Some(Array(1.0f)), Option.empty[Array[Float]])).toDF("x", "y")
    assert(df.select(expr("dot_f(x, y)")).collect().head.isNullAt(0))
  }

  test("multiple dot_f calls in one projection compile (freshName scoping)") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val v = Array(1.0f, 2.0f)
    val df = Seq((v, v)).toDF("x", "y")
    val row = df.select(
      expr("dot_f(x, y)").as("d1"),
      expr("dot_f(y, x)").as("d2"),
      expr("l2norm_f(x)").as("n1"),
      expr("l2norm_f(y)").as("n2")).collect().head
    assert(row.getDouble(0) == row.getDouble(1))
    assert(row.getDouble(2) == row.getDouble(3))
  }

  test("dot_l matches a BigInt reference and never overflows at kernel bounds") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val rng = new scala.util.Random(21)
    // components at the x1e4-quantized unit-norm bound (|v| <= 10000)
    val rows = (0 until 50).map { _ =>
      (Array.fill(64)((rng.nextInt(20001) - 10000).toLong),
        Array.fill(64)((rng.nextInt(20001) - 10000).toLong))
    }
    val got = rows.toDF("x", "y").select(expr("dot_l(x, y)")).collect().map(_.getLong(0))
    val want = rows.map { case (x, y) =>
      x.zip(y).map { case (a, b) => BigInt(a) * BigInt(b) }.sum
    }
    got.zip(want).foreach { case (g, w) =>
      assert(w.isValidLong && g == w.toLong)
    }
  }

  test("GlobalIndex matches a single-partition row_number") {
    import spark.implicits._
    val df = Seq(30L, 10L, 50L, 20L, 40L).toDF("k")
    val got = GlobalIndex.withRowNumber(df, "rn", col("k"))
      .orderBy("rn").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((10L, 1L), (20L, 2L), (30L, 3L), (40L, 4L), (50L, 5L)))
  }
}
