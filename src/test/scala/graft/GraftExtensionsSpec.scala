package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions must make every custom function resolvable from plain
  * SQL in a session that never called a register() helper. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("all graft functions resolve via spark.sql.extensions alone") {
    val base = TestSpark.spark // ensure the shared context exists first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val row = s.sql(
        """SELECT
          | dot_f(array(CAST(1.5 AS FLOAT), CAST(2 AS FLOAT)),
          |       array(CAST(2 AS FLOAT), CAST(0.5 AS FLOAT))) AS dot,
          | l2norm_f(array(CAST(3 AS FLOAT), CAST(4 AS FLOAT))) AS norm,
          | size(minhash_sig(array('a b c'))) AS sig_len,
          | size(minhash_bands(array('a b c'))) AS band_len,
          | word_shingles('a b c d', 3) AS sh,
          | word_ngrams('a b c', 2) AS ng,
          | rolling_fp('some document text here') AS fp,
          | nfc_normalize('caf\u0065\u0301') AS nfc
          |""".stripMargin).collect()(0)
      assert(row.getDouble(0) == 4.0)
      assert(row.getDouble(1) == 5.0)
      assert(row.getInt(2) == 32)
      assert(row.getInt(3) == 8)
      assert(row.getSeq[String](4) == Seq("a b c", "b c d"))
      assert(row.getSeq[String](5) == Seq("a b", "b c"))
      assert(!row.isNullAt(6))
      assert(row.getString(7) == "caf\u00e9", "decomposed input must compose")
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("a wrong argument count fails analysis, naming the function") {
    // Each call here once slipped through: a missing argument read past the
    // list (word_count() threw a bare NoSuchElementException, dot_f(a) an
    // IndexOutOfBoundsException) and an extra one was silently dropped
    // (word_count(text, 7) counted words as if the 7 were absent).
    val base = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      Seq(
        "word_count()" -> "word_count",
        "word_count('a b', 7)" -> "word_count",
        "dot_f(array(CAST(1 AS FLOAT)))" -> "dot_f",
        "l2norm_f(array(CAST(1 AS FLOAT)), array(CAST(1 AS FLOAT)))" -> "l2norm_f",
        "word_shingles('a b c', 2, 3)" -> "word_shingles",
        "topk_pair(1.0D, 1L)" -> "topk_pair"
      ).foreach { case (call, name) =>
        val e = intercept[IllegalArgumentException](s.sql(s"SELECT $call").collect())
        assert(e.getMessage.startsWith(s"$name: wrong number of arguments"), call)
      }
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("extensions cover every name the per-object registrars add (mechanical parity)") {
    // Names the ad-hoc path registers: run every registrar against a FRESH
    // session (the shared one may already carry graft names from earlier
    // suites) and diff its registry. Any kernel added with a register()
    // helper but forgotten in GraftExtensions fails here instead of
    // surfacing as a missing function in a spark.sql.extensions deployment
    // (dot_l briefly had exactly this gap).
    val base = TestSpark.spark
    val plain = base.newSession()
    val reg = plain.sessionState.functionRegistry
    val before = reg.listFunction().map(_.funcName).toSet
    graft.functions.VectorOps.register(plain)
    graft.functions.TextKernels.register(plain)
    graft.functions.SetKernels.register(plain)
    graft.functions.UnicodeKernels.register(plain)
    graft.functions.MinHashSig.register(plain)
    graft.functions.MinHashBands.register(plain)
    graft.functions.MisraGries.register(plain)
    graft.functions.RollingFingerprint.register(plain)
    graft.functions.WeightedAvg.register(plain)
    graft.operators.BloomDecontam.register(plain)
    val custom = reg.listFunction().map(_.funcName).toSet -- before
    assert(custom.nonEmpty, "vacuous: no registrar added a function")

    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val extNames = ext.sessionState.functionRegistry
        .listFunction().map(_.funcName).toSet
      val missing = custom -- extNames
      assert(missing.isEmpty,
        s"registrar-only functions not in GraftExtensions: ${missing.toSeq.sorted}")
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
