package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The codegen shingle/ngram kernels must reproduce the declarative
  * transform+array_distinct formulation exactly (same elements, same order),
  * including empty-token and short-document edge cases. */
class TextKernelsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("word_shingles == array_distinct(transform(...)) on real and edge-case docs") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog the quick brown fox",
      "a b c",
      "x  y z  w",            // double spaces -> empty tokens kept
      " leading and trailing ",
      "rep rep rep rep rep"   // heavy duplication
    ).toDF("text")
    assert(spark.sql("SELECT word_shingles('a b', 3)").collect()(0)
      .getSeq[String](0).isEmpty, "sub-width doc must yield empty array")
    val both = docs.select(
      expr("word_shingles(text, 3)").as("kernel"),
      array_distinct(expr(
        "transform(sequence(0, size(split(text, ' ')) - 3), " +
          "i -> concat(split(text, ' ')[i], ' ', split(text, ' ')[i + 1], ' ', split(text, ' ')[i + 2]))"))
        .as("declarative"))
      .collect()
    both.foreach { r =>
      val k = r.getSeq[String](0)
      val d = Option(r.getSeq[String](1)).getOrElse(Seq.empty)
      assert(k == d, s"kernel=$k declarative=$d")
    }
  }

  test("word_segments == transform(slice(...)) spans incl. empty/short/ragged docs") {
    import spark.implicits._
    GraftExtensions.install(spark)
    // q112's old declarative span builder, restated verbatim as the truth:
    // non-overlapping 3-word slices joined by ' ', last one possibly short,
    // empty text -> one empty segment (split(' ') keeps the empty token).
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog the quick brown fox",
      "one two three four",   // ragged tail (1-word last segment)
      "a b c",                // exactly one full segment
      "a b",                  // single short segment
      "",                     // empty text -> [""]
      "x  y z  w",            // double spaces -> empty tokens kept
      " leading and trailing "
    ).toDF("text")
    val both = docs.select(
      expr("word_segments(text, 3)").as("kernel"),
      expr("transform(sequence(0, cast(ceil(size(split(text, ' ')) / 3.0) as int) - 1), " +
        "i -> array_join(slice(split(text, ' '), i * 3 + 1, 3), ' '))").as("declarative"))
      .collect()
    both.foreach { r =>
      val k = r.getSeq[String](0)
      val d = r.getSeq[String](1)
      assert(k == d, s"kernel=$k declarative=$d")
    }
  }

  test("round-17 substring kernel: multi-byte UTF-8, n=1, dup-heavy, space-edge docs") {
    // The round-17 kernel builds every gram as a byte-range view into one
    // private copy of the text (0x20 never occurs inside a multi-byte UTF-8
    // sequence, so byte scanning == word splitting). Pin byte-identity
    // against the declarative formulation on inputs chosen to break that
    // reasoning if it were wrong: multi-byte code points adjacent to
    // spaces, width-1 grams (whole-word identity), interleaved duplicates
    // (hash-slot dedup order), and leading/trailing/double spaces.
    import spark.implicits._
    GraftExtensions.install(spark)
    val docs = Seq(
      "héllo wörld héllo wörld naïve",     // 2-byte code points
      "日本 語 テスト 日本 語",                // 3-byte code points, dup shingle
      "a b c a b c",             // non-breaking space is NOT a separator
      "🙂 emoji 🙂 emoji pair",             // 4-byte surrogate-pair code points
      "", " ", "  ", "one ", " one",       // space edges: empty/blank/trailing/leading
      "dup dup dup dup dup dup dup dup"    // all-duplicate heavy doc
    ).toDF("text")
    for (n <- Seq(1, 2, 3)) {
      val wide = s"size(split(text, ' ')) >= $n"
      val rows = docs.select(
        expr(s"word_shingles(text, $n)").as("sk"),
        array_distinct(expr(s"if($wide, transform(sequence(0, size(split(text, ' ')) - $n), " +
          s"i -> array_join(slice(split(text, ' '), i + 1, $n), ' ')), array())")).as("sd"),
        expr(s"word_ngrams(text, $n)").as("nk"),
        expr(s"if($wide, transform(sequence(0, size(split(text, ' ')) - $n), " +
          s"i -> array_join(slice(split(text, ' '), i + 1, $n), ' ')), array())").as("nd"),
        expr(s"word_segments(text, $n)").as("gk"),
        expr(s"transform(sequence(0, cast(ceil(size(split(text, ' ')) / $n.0) as int) - 1), " +
          s"i -> array_join(slice(split(text, ' '), i * $n + 1, $n), ' '))").as("gd"))
        .collect()
      rows.foreach { r =>
        def s(i: Int) = Option(r.getSeq[String](i)).getOrElse(Seq.empty)
        assert(s(0) == s(1), s"n=$n shingles: kernel=${s(0)} declarative=${s(1)}")
        assert(s(2) == s(3), s"n=$n ngrams: kernel=${s(2)} declarative=${s(3)}")
        assert(s(4) == s(5), s"n=$n segments: kernel=${s(4)} declarative=${s(5)}")
      }
    }
  }

  test("word_count == size(split(text, ' ')) on non-null text") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val docs = Seq("", " ", "  ", "one", "one two", "a b c a b c",
      "héllo wörld", " lead", "trail ", "x  y z  w").toDF("text")
    val rows = docs.select(expr("word_count(text)").as("k"),
      size(split(col("text"), " ")).as("d")).collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1), s"$r"))
  }

  test("word_ngrams == transform(...) bigrams with duplicates kept") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val docs = Seq(
      "a b a b a",
      "two words",
      "x  y"                  // empty middle token
    ).toDF("text")
    val both = docs.select(
      expr("word_ngrams(text, 2)").as("kernel"),
      expr("transform(sequence(0, size(split(text, ' ')) - 2), " +
        "i -> concat(split(text, ' ')[i], ' ', split(text, ' ')[i + 1]))").as("declarative"))
      .collect()
    assert(spark.sql("SELECT word_ngrams('single', 2)").collect()(0)
      .getSeq[String](0).isEmpty, "sub-width doc must yield empty array")
    both.foreach { r =>
      val k = r.getSeq[String](0)
      val d = r.getSeq[String](1)
      assert(k == d, s"kernel=$k declarative=$d")
    }
  }

  test("shingle kernel rejects a width below one word when called directly") {
    import graft.functions.ShingleKernel
    import org.apache.spark.unsafe.types.UTF8String
    val text = UTF8String.fromString("a b c")
    for (n <- Seq(0, -1, Int.MinValue)) {
      intercept[IllegalArgumentException](ShingleKernel.ngrams(text, n))
      intercept[IllegalArgumentException](ShingleKernel.segments(text, n))
      intercept[IllegalArgumentException](ShingleKernel.shingles(text, n))
    }
    // width 1 is the smallest valid one
    assert(ShingleKernel.ngrams(text, 1).numElements() == 3)
    assert(ShingleKernel.segments(text, 1).numElements() == 3)
    assert(ShingleKernel.shingles(text, 1).numElements() == 3)
  }
}
