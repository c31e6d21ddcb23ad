package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.scalatest.funsuite.AnyFunSuite

/** The one function catalog behind both session kinds: a session built
  * with `spark.sql.extensions=graft.GraftExtensions` and a plain session
  * after `GraftExtensions.install` must resolve the same graft functions
  * to the same builders. */
class GraftExtensionsSpec extends AnyFunSuite {

  private lazy val ext: SparkSession = {
    val base = TestSpark.spark // ensure the shared context exists first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder()
      .master("local[2]")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  // A fresh session: the shared one may already carry graft names.
  private lazy val installed: SparkSession = {
    val s = TestSpark.spark.newSession()
    GraftExtensions.install(s)
    s
  }

  private def bothKinds = Seq("extensions" -> ext, "install" -> installed)

  private def graftNames(s: SparkSession): Set[String] =
    s.sessionState.functionRegistry.listFunction().map(_.funcName).toSet --
      FunctionRegistry.builtin.listFunction().map(_.funcName)

  test("all graft functions resolve via spark.sql.extensions alone") {
    val row = ext.sql(
      """SELECT
        | dot_f(array(CAST(1.5 AS FLOAT), CAST(2 AS FLOAT)),
        |       array(CAST(2 AS FLOAT), CAST(0.5 AS FLOAT))) AS dot,
        | l2norm_f(array(CAST(3 AS FLOAT), CAST(4 AS FLOAT))) AS norm,
        | size(minhash_sig(array('a b c'))) AS sig_len,
        | size(minhash_bands(array('a b c'))) AS band_len,
        | word_shingles('a b c d', 3) AS sh,
        | word_ngrams('a b c', 2) AS ng,
        | rolling_fp('some document text here') AS fp,
        | nfc_normalize('caf\u0065\u0301') AS nfc,
        | byte_entropy('aab').n_bytes AS n_bytes
        |""".stripMargin).collect()(0)
    assert(row.getDouble(0) == 4.0)
    assert(row.getDouble(1) == 5.0)
    assert(row.getInt(2) == 32)
    assert(row.getInt(3) == 8)
    assert(row.getSeq[String](4) == Seq("a b c", "b c d"))
    assert(row.getSeq[String](5) == Seq("a b", "b c"))
    assert(!row.isNullAt(6))
    assert(row.getString(7) == "caf\u00e9", "decomposed input must compose")
    assert(row.getLong(8) == 3L)

    val media = ext.sql(
      """SELECT
        | media_dims(media_for(1L, 'some document text')) AS md,
        | png_pixel_sums(png_for(7L)) AS px,
        | wav_energy(wav_for(1L, 64L)) AS we,
        | wav_vad(wav_for(1L, 64L)) AS wv,
        | avi_index(avi_for(1L, 64L)) AS ai
        |""".stripMargin).collect()(0)
    (0 until media.length).foreach(i => assert(!media.isNullAt(i), media.schema(i).name))
  }

  test("both session kinds expose the same 38 names and usage") {
    val expected = GraftExtensions.catalog.map(_._1.funcName).toSet
    assert(expected.size == 38)
    assert(Set("avi_for", "avi_index", "media_dims", "media_for", "png_for",
      "png_pixel_sums", "wav_energy", "wav_for", "wav_vad", "byte_entropy")
      .subsetOf(expected))
    assert(graftNames(ext) == expected)
    assert(graftNames(installed) == expected)

    def describe(s: SparkSession, name: String): Seq[String] =
      s.sql(s"DESCRIBE FUNCTION $name").collect().map(_.getString(0)).toSeq
    expected.toSeq.sorted.foreach { name =>
      val viaExt = describe(ext, name)
      assert(viaExt.exists(_.startsWith(s"Usage: $name(")), viaExt)
      assert(describe(installed, name) == viaExt, name)
    }
  }

  test("a wrong argument count fails analysis, naming the function") {
    // Each call here once slipped through on one of the two registration
    // paths: a missing argument read past the list (word_count() threw a
    // bare NoSuchElementException, dot_f(a) an IndexOutOfBoundsException)
    // and an extra one was silently dropped (word_count(text, 7) counted
    // words as if the 7 were absent; dot_f(a, b, c) returned dot_f(a, b)).
    val v = "array(CAST(1 AS FLOAT))"
    for ((kind, s) <- bothKinds) Seq(
      "word_count()" -> "word_count",
      "word_count('a b', 7)" -> "word_count",
      s"dot_f($v)" -> "dot_f",
      s"dot_f($v, $v, $v)" -> "dot_f",
      s"l2norm_f($v, $v)" -> "l2norm_f",
      "word_shingles('a b c', 2, 3)" -> "word_shingles",
      "topk_pair(1.0D, 1L)" -> "topk_pair"
    ).foreach { case (call, name) =>
      val e = intercept[IllegalArgumentException](s.sql(s"SELECT $call").collect())
      assert(e.getMessage.startsWith(s"$name: wrong number of arguments"), s"$kind: $call")
    }
  }

  test("aggregates accept FILTER on both session kinds") {
    // %s marks where the FILTER clause goes.
    val aggs = Seq(
      "array_sort(misra_gries(w, 3)%s)",
      "topk_pair(id, id * 7 % 11, 3)%s",
      "kmv_sketch(id * 7919 % 10007, 4)%s",
      "kll_quantiles(IF(p, id, id + 1000), 8, array(500000L))%s",
      "vec_moments(vec)%s",
      "weighted_avg_cents(id, id % 4 + 1)%s",
      "bloom_filter_agg(xxhash64(id), 100L)%s")
    for ((kind, s) <- bothKinds) {
      s.range(0, 40).coalesce(1)
        .selectExpr("id", "CAST(id % 7 AS STRING) AS w", "id % 3 = 0 AS p",
          "array(id, id % 4) AS vec")
        .createOrReplaceTempView("t")
      aggs.foreach { agg =>
        val bare = agg.replace("%s", "")
        val filtered =
          s.sql(s"SELECT ${agg.replace("%s", " FILTER (WHERE p)")} FROM t").head()
        val where = s.sql(s"SELECT $bare FROM t WHERE p").head()
        val all = s.sql(s"SELECT $bare FROM t").head()
        assert(filtered == where, s"$kind: $bare")
        assert(filtered != all, s"$kind: $bare ignored its FILTER")
      }
    }
  }

  test("a column or out-of-range k is rejected on both kinds") {
    // A column has no plan-time value: evaluating it without a row used to
    // fail with an NPE or size the buffer from a wrong constant. 2^32 + 3
    // would wrap to k = 3.
    for ((kind, s) <- bothKinds) Seq(
      "misra_gries(w, 4294967299L)" -> "misra_gries: k",
      "misra_gries(w, k)" -> "misra_gries: k",
      "topk_pair(k, k, k)" -> "topk_pair: k",
      "kmv_sketch(k, k)" -> "kmv_sketch: k",
      "kll_quantiles(k, k, array(500000L))" -> "kll_quantiles: k",
      "word_shingles(w, k)" -> "word_shingles: n",
      "word_ngrams(w, k)" -> "word_ngrams: n",
      "word_segments(w, k)" -> "word_segments: n"
    ).foreach { case (call, prefix) =>
      val e = intercept[IllegalArgumentException](
        s.sql(s"SELECT $call FROM VALUES ('a b c', 3L) AS t(w, k)").collect())
      assert(e.getMessage.startsWith(s"$prefix must be a foldable integer literal"),
        s"$kind: $call -> ${e.getMessage}")
    }
  }

  test("only GraftExtensions.scala binds a SQL function") {
    // A second registration path is how the two function lists drifted.
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val binders = Seq("createOrReplaceTempFunction", "registerFunction", "injectFunction")
    val offenders = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => binders.exists(new String(Files.readAllBytes(p), "UTF-8").contains))
      .map(p => root.relativize(p).toString).toSet
    assert(offenders == Set("graft/GraftExtensions.scala"))
  }
}
