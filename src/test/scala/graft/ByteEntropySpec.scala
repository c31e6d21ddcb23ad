package graft

import graft.functions.ByteEntropyKernel
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Pins the q197 kernel to a plain-Scala reference implementation (the
  * same cross-check the DuckDB oracle got in python before wiring), plus
  * the documented edge cases: empty string, uniform string (entropy 0),
  * and the smallest-byte tie-break for the mode. Also proves the codegen
  * path (expr through a DataFrame) agrees with direct eval. */
class ByteEntropySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ref(s: String): (Long, Long, Long, Long, Long) = {
    val bytes = s.getBytes("UTF-8")
    val n = bytes.length.toLong
    if (n == 0L) return (0L, 0L, 0L, 0L, 0L)
    val counts = bytes.groupBy(b => b & 0xFF).view.mapValues(_.length.toLong).toMap
    val (topB, topC) = counts.toSeq.minBy { case (b, c) => (-c, b) }
    val sum = counts.values.map(c =>
      c * math.floor(math.log(n.toDouble / c.toDouble) * 1000000.0).toLong).sum
    (n, counts.size.toLong, topB.toLong, topC, java.lang.Math.floorDiv(sum, n))
  }

  private def kernel(s: String): (Long, Long, Long, Long, Long) = {
    val r = ByteEntropyKernel.features(UTF8String.fromString(s))
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
  }

  test("empty string is the all-zero row") {
    assert(kernel("") === ((0L, 0L, 0L, 0L, 0L)))
  }

  test("uniform string has entropy exactly 0 micro-nats") {
    assert(kernel("aaaa") === ((4L, 1L, 'a'.toLong, 4L, 0L)))
  }

  test("mode ties break to the smallest byte value") {
    val (_, _, topB, topC, _) = kernel("baba")
    assert(topB === 'a'.toLong && topC === 2L)
  }

  test("kernel matches the reference on varied strings") {
    val cases = Seq("hello world", "abab", "x", "the quick brown fox",
      "zzzzzzzzzzy", "a b c d e f g", "word_c1 word_c2 word_c1",
      (0 until 200).map(i => ('a' + i % 7).toChar).mkString)
    cases.foreach(s => assert(kernel(s) === ref(s), s"mismatch on '$s'"))
  }

  test("codegen path through a DataFrame agrees with direct eval") {
    GraftExtensions.install(spark)
    import spark.implicits._
    val rows = Seq("hello world", "aaaa", "baba", "mixed 123 bytes!")
      .toDF("text")
      .selectExpr("text", "byte_entropy(text) AS f")
      .select($"text", $"f.n_bytes", $"f.n_distinct", $"f.top_byte",
        $"f.top_count", $"f.entropy_micro")
      .collect()
    rows.foreach { r =>
      val got = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(got === ref(r.getString(0)), s"codegen mismatch on '${r.getString(0)}'")
    }
  }
}
