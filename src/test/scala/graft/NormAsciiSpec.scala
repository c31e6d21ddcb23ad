package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one-pass norm_ascii kernel must equal the declarative chain
  * trim(regexp_replace(regexp_replace(lower(s), '[^a-z0-9 ]', ''), ' +', ' '))
  * EVALUATED BY SPARK ITSELF — the chain is q133's oracle-pinned
  * semantics, so kernel == chain inside Spark plus the existing q133
  * hash-green proves kernel == DuckDB. */
class NormAsciiSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val tricky = Seq(
    "",
    "   ",
    "Hello, World!",
    "  a  !  b  ",
    "MiXeD CaSe 123",
    "!!!",
    "a!b",
    "tab\there and\nnewline",
    "unicode á café straße",
    "turkish İstanbul KELVKN",
    "digits 0123456789 end ",
    "a  b   c    d",
    " leading and trailing ",
    "punct-u.a,t;i:o'n\"s")

  test("kernel equals the regexp chain for tricky inputs and corpus text") {
    import spark.implicits._
    // The chain's lower() lowercases in the JVM DEFAULT locale while the
    // kernel is locale-independent (matching DuckDB); the equivalence
    // contract is pinned AT Locale.ROOT — on e.g. a Turkish-locale JVM the
    // chain itself diverges from the oracle ('I' → dotless 'ı'), and the
    // kernel side is the canonical behavior (UnicodeKernels doc).
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    try {
      GraftExtensions.install(spark)
      val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
        .select(col("text").as("s")).as[String].collect().toSeq
      val rows = (tricky ++ corpus ++ tricky.map(_.toUpperCase)).toDF("s")
        .select(col("s"), expr("norm_ascii(s)").as("kernel"),
          trim(regexp_replace(regexp_replace(lower(col("s")),
            "[^a-z0-9 ]", ""), " +", " ")).as("chain"))
        .collect()
      rows.foreach { r =>
        assert(r.getString(1) == r.getString(2),
          s"mismatch on ${r.getString(0).take(40)}: " +
            s"kernel='${r.getString(1)}' chain='${r.getString(2)}'")
      }
    } finally java.util.Locale.setDefault(saved)
  }

  test("null flows through as null") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val out = Seq(Option.empty[String], Some("Keep Me"))
      .toDF("s").select(expr("norm_ascii(s)")).collect()
    assert(out(0).isNullAt(0) && out(1).getString(0) == "keep me")
  }
}
