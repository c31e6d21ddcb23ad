package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** rolling_fp: rolling update must equal a naive re-hash of every window;
  * shared content collides, distinct content doesn't. */
class RollingFingerprintSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Naive O(n·k) recompute with the same base/window. */
  private def naive(text: String, k: Int = 16): Long = {
    val bytes = text.getBytes("UTF-8")
    if (bytes.isEmpty) return 0L
    val w = math.min(k, bytes.length)
    (0 to bytes.length - w).map { start =>
      var h = 0L
      for (i <- start until start + w) h = h * 257L + (bytes(i) & 0xFF)
      h
    }.min
  }

  test("codegen rolling hash equals naive window re-hash") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "short", "", "exactly sixteen!",
      "a" * 100, "unicode: héllo wörld ünïcode content here")
    val got = texts.toDF("t").select(expr("rolling_fp(t)")).collect().map(_.getLong(0))
    texts.zip(got).foreach { case (t, g) =>
      assert(g == naive(t), s"mismatch for '${t.take(20)}...'")
    }
  }

  test("interpreted path agrees with codegen") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val df = Seq("rolling hash interpretation check, long enough to roll").toDF("t")
    val gen = df.select(expr("rolling_fp(t)")).collect().head.getLong(0)
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = df.select(expr("rolling_fp(t)")).collect().head.getLong(0)
      assert(interp == gen)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("identical content collides regardless of column context") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val text = "the exact same document body reproduced in two rows"
    val fps = Seq((1L, text), (2L, text),
        (3L, "an entirely different body with no overlap at all"))
      .toDF("id", "t").select(expr("rolling_fp(t)")).collect().map(_.getLong(0))
    assert(fps(0) == fps(1), "equal text must fingerprint equal")
    assert(fps(2) != fps(0), "disjoint content should differ")
  }
}
