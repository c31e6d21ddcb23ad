package graft

import graft.queries.CorpusQueries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics of the corpus-preparation operators (q94-q100): the NFC
  * kernel's composition behavior and fast path, redaction completeness,
  * split determinism and proportions, and substring-window consistency. */
class CorpusQueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("nfc_normalize composes decomposed accents and is idempotent") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val decomposed = "café á plain"   // e + combining acute, a + combining acute
    val composed = "café á plain"
    val r = Seq(decomposed, composed, "ascii only").toDF("t")
      .select(expr("nfc_normalize(t)").as("n"), length(col("t")).as("lr"),
        length(expr("nfc_normalize(t)")).as("ln"))
      .collect()
    assert(r(0).getString(0) == composed, "decomposed must compose to precomposed")
    assert(r(0).getInt(1) == r(0).getInt(2) + 2, "two combining marks fold away")
    assert(r(1).getString(0) == composed, "already-NFC input is unchanged")
    assert(r(2).getString(0) == "ascii only")
  }

  test("q95 redacts every injected email/ip/phone") {
    val out = CorpusQueries.queries("q95_pii_redaction")(spark, dir)
    val agg = out.agg(
      min(col("n_email")), max(col("n_email")),
      min(col("n_ip")), max(col("n_ip")),
      min(col("n_phone")), max(col("n_phone"))).collect()(0)
    assert(agg.getLong(0) == 1 && agg.getLong(1) == 1, "exactly one email per doc")
    assert(agg.getLong(2) == 1 && agg.getLong(3) == 1, "exactly one ip per doc")
    assert(agg.getLong(4) == 1 && agg.getLong(5) == 1, "exactly one phone per doc")
  }

  test("q96 ratios stay in (0, 1] and dup mass >= top-word mass") {
    val bad = CorpusQueries.queries("q96_repetition_quality")(spark, dir)
      .filter(col("top_word_frac") <= 0 || col("top_word_frac") > 1 ||
        col("dup_word_frac") < 0 || col("dup_word_frac") > 1 ||
        col("top_bigram_frac") < 0 || col("top_bigram_frac") > 1 ||
        (col("dup_word_frac") > 0 && col("dup_word_frac") < col("top_word_frac")))
      .count()
    assert(bad == 0)
  }

  test("q97 split is deterministic and roughly 80/10/10") {
    val out = CorpusQueries.queries("q97_train_split")(spark, dir)
    val bySplit = out.groupBy("split").agg(sum("n_docs").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = bySplit.values.sum
    assert(total == 500)
    // md5 buckets on 500 docs: generous banding, but a broken hash (all one
    // split, or row_number-style drift) lands far outside it.
    assert(bySplit("train") > 350 && bySplit("train") < 450, bySplit.toString)
    assert(bySplit("val") > 20 && bySplit("val") < 80, bySplit.toString)
    assert(bySplit("test") > 20 && bySplit("test") < 80, bySplit.toString)
    val again = CorpusQueries.queries("q97_train_split")(spark, dir)
      .groupBy("split").agg(sum("n_docs").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == bySplit, "split assignment must be run-invariant")
  }

  test("q106 acceptance rule downsamples skewed strata toward the target") {
    import org.apache.spark.sql.functions.{coalesce, count, expr, lit}
    import spark.implicits._
    import graft.functions.PortableHash.md5Bucket60
    // skewed fixture: the query runs on the (uniform) documents table, so
    // replicate its acceptance rule on planted skew to check the math
    val docs = ((0 until 300).map(i => (i.toLong, "big")) ++
      (300 until 330).map(i => (i.toLong, "mid")) ++
      (330 until 335).map(i => (i.toLong, "tiny"))).toDF("doc_id", "source")
    val bySrc = docs.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
    val target = bySrc.agg(expr("sum(n_src) div count(1)").as("target_n")) // 111
    val kept = docs
      .select(col("doc_id"), col("source"), md5Bucket60(col("doc_id").cast("string")).as("h"))
      .join(bySrc, Seq("source")).crossJoin(target)
      .filter(col("h").cast("decimal(19,0)") * col("n_src").cast("decimal(10,0)") <
        col("target_n").cast("decimal(11,0)") * lit(1152921504606846976L).cast("decimal(19,0)"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // big (300 docs, target 111): acceptance fraction 111/300 = 0.37 — the
    // kept count concentrates near 111 (binomial, sd ~8); sub-target strata
    // keep everything.
    assert(kept("big") > 80 && kept("big") < 145, kept.toString)
    assert(kept("mid") == 30 && kept("tiny") == 5, kept.toString)
  }

  test("q100 per-doc shared windows never exceed total windows") {
    val out = CorpusQueries.queries("q100_substring_windows")(spark, dir).cache()
    try {
      assert(out.filter(col("n_shared") > col("n_win")).count() == 0)
      assert(out.filter(col("has_shared") =!= (col("n_shared") > 0)).count() == 0)
      // every long-enough doc yields at least one window
      assert(out.filter(col("n_win") === 0).count() ==
        Tables.documents(spark, dir).filter(length(col("text")) < 50).count())
    } finally out.unpersist()
  }

  test("q116 equals a sequential driver-side greedy replay per source") {
    val out = CorpusQueries.queries("q116_token_budget_select")(spark, dir)
      .collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_selected"), r.getAs[Long]("tok_selected"),
          r.getAs[Long]("cutoff_quality_ppm"))))
      .toMap
    // independent replay: plain Scala fold over (quality desc, doc_id)
    val docs = graft.queries.TextQueries.withQualityPpm(Tables.documents(spark, dir))
      .select(col("doc_id"), col("source"), col("tokens"), col("quality_ppm"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val expected = docs.groupBy(_._2).flatMap { case (src, ds) =>
      val ordered = ds.sortBy(d => (-d._4, d._1))
      var cum = 0L
      val sel = ordered.takeWhile { d => cum += d._3; cum <= 800L }
      if (sel.isEmpty) None
      else Some(src -> ((sel.length.toLong, sel.map(_._3).sum, sel.map(_._4).min)))
    }
    assert(out == expected)
  }

  test("q117 novelty counts conserve the global distinct-shingle total") {
    GraftExtensions.install(spark)
    val out = CorpusQueries.queries("q117_shingle_novelty")(spark, dir).cache()
    try {
      val totalDistinct = Tables.documents(spark, dir)
        .filter(size(split(col("text"), " ")) >= 3)
        .select(explode(expr("array_distinct(word_shingles(text, 3))")).as("s"))
        .select(col("s")).distinct().count()
      // every shingle has exactly one first owner
      assert(out.agg(sum(col("n_novel"))).head().getLong(0) == totalDistinct)
      // bounds, and the earliest doc introduces everything it has
      assert(out.filter(col("n_novel") > col("n_sh")).count() == 0)
      val first = out.orderBy(col("doc_id")).head()
      assert(first.getAs[Long]("novelty_ppm") == 1000000L)
    } finally out.unpersist()
  }

  test("q118 equals a plain-Scala tokenizer replay") {
    val out = graft.queries.TextQueries.queries("q118_token_accounting")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val pat = java.util.regex.Pattern.compile(" ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+")
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("n_chars")).collect()
    assert(docs.length == out.size)
    docs.foreach { r =>
      val (id, text, nChars) = (r.getLong(0), r.getString(1), r.getLong(2))
      val nWs = text.split(" ").count(_.nonEmpty).toLong
      val m = pat.matcher(text)
      var nPre = 0L; var nBpe = 0L
      while (m.find()) { nPre += 1; nBpe += (m.group().length + 3) / 4 }
      val ratio = if (nBpe == 0) 0L else nChars * 1000000L / nBpe
      assert(out(id) == ((nWs, nPre, nBpe, ratio)), s"doc $id")
    }
  }

  test("q120 chunks equal a plain-Scala chunker replay") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val out = graft.queries.CorpusQueries.queries("q120_token_chunking")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text")).collect()
    var nChunks = 0
    docs.foreach { r =>
      val (id, toks) = (r.getLong(0), r.getString(1).split(" ", -1))
      val n = toks.length
      val k = if (n <= 64) 1 else (n - 17) / 48 + 1
      (0 until k).foreach { i =>
        val chunk = toks.slice(i * 48, math.min(i * 48 + 64, n))
        assert(out((id, i.toLong)) ==
          ((i * 48L, chunk.length.toLong, md5hex(chunk.mkString(" ")))), s"doc $id chunk $i")
        nChunks += 1
      }
    }
    assert(out.size == nChunks, "no extra chunks beyond the closed-form count")
  }

  test("q121 surprisal equals a plain-Scala bigram-LM replay") {
    val out = graft.queries.TextQueries.queries("q121_bigram_lm_surprisal")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // Engine-true tokenization: split on single spaces KEEPING empty
    // tokens (WordNgrams/string_split semantics); bigrams over the raw
    // adjacency; the unigram model excludes empty heads, so scoring drops
    // bigrams with an empty head via the inner join — replayed here.
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ", -1))
    val uni = scala.collection.mutable.Map.empty[String, Long]
    val bgc = scala.collection.mutable.Map.empty[(String, String), Long]
    docs.foreach { case (_, ws) =>
      ws.filter(_.nonEmpty).foreach(w => uni(w) = uni.getOrElse(w, 0L) + 1)
      if (ws.length >= 2) ws.sliding(2)
        .foreach(p => bgc((p(0), p(1))) = bgc.getOrElse((p(0), p(1)), 0L) + 1)
    }
    val v = uni.size.toLong
    var nDocsOut = 0
    docs.filter(_._2.length >= 2).foreach { case (id, ws) =>
      val surps = ws.sliding(2).filter(p => p(0).nonEmpty).map { p =>
        math.floor(math.log((uni(p(0)) + v).toDouble / (bgc((p(0), p(1))) + 1).toDouble)
          * 1000000).toLong
      }.toSeq
      if (surps.nonEmpty) {
        nDocsOut += 1
        val (nBg, gotSum, gotAvg) = out(id)
        assert(nBg == surps.length.toLong, s"doc $id bigram count")
        assert(gotSum == surps.sum, s"doc $id surprisal sum")
        assert(gotAvg == surps.sum / surps.length, s"doc $id surprisal avg micro-nats")
        assert(surps.forall(_ >= 0), s"doc $id add-one surprisal is non-negative")
      }
    }
    assert(out.size == nDocsOut)
  }

  test("q119 CMS is one-sided and equals a plain-Scala sketch replay") {
    def bucket(row: Int, w: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"cm$row:$w".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      (java.lang.Long.parseLong(hex, 16) % 16).toInt
    }
    val exact = scala.collection.mutable.Map.empty[String, Long]
    Tables.documents(spark, dir).select(col("text")).collect().foreach { r =>
      r.getString(0).split(" ").filter(_.nonEmpty)
        .foreach(w => exact(w) = exact.getOrElse(w, 0L) + 1L)
    }
    val grid = Array.fill(4, 16)(0L)
    exact.foreach { case (w, n) => (0 until 4).foreach(r => grid(r)(bucket(r, w)) += n) }
    val out = graft.queries.TextQueries.queries("q119_countmin_sketch")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._1).toSeq ==
      Seq("data", "merge", "quasar", "spark", "the", "window"))
    out.foreach { case (w, est, ex, over) =>
      assert(ex == exact.getOrElse(w, 0L), s"exact count for $w")
      assert(est == (0 until 4).map(r => grid(r)(bucket(r, w))).min, s"sketch est for $w")
      assert(est >= ex && over == est - ex, s"one-sided error for $w")
    }
  }
}
