package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline (SURVEY.md §2b):
  * tokenization + word/n-gram counts, a language-ID heuristic, quality
  * scoring, token statistics, and document fingerprinting.
  *
  * All are per-row expressions + hash aggregates: embarrassingly parallel,
  * no shuffle except the final count/top-k, so they scale linearly with
  * input splits at 100 TB. Ratios are single IEEE ops (deterministic);
  * counted occurrences are exact integers, so no decimal tricks are needed.
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  /** occurrences of `needle` in `text` via length difference — exact. */
  private def occ(c: String, needle: String) =
    ((length(col(c)) - length(expr(s"replace($c, '$needle', '')"))) / needle.length).cast("long")

  /** same, as a SQL fragment (integer `div`, exact) for use inside expr(). */
  private def occStr(needle: String): String =
    s"((length(text) - length(replace(text, '$needle', ''))) div ${needle.length})"

  // ---------------------------------------------------------------- q30
  private val q30: Q = (s, d) =>
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w"))
      .limit(20)

  private val q30Sql =
    """SELECT w, COUNT(*) AS n
      |FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
      |WHERE w <> '' GROUP BY w ORDER BY n DESC, w LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q31
  private val q31: Q = (s, d) => {
    graft.GraftExtensions.install(s)
    Tables.documents(s, d)
      .filter(expr("word_count(text) >= 2"))
      .select(explode(expr("word_ngrams(text, 2)")).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)
  }

  private val q31Sql =
    """SELECT bigram, COUNT(*) AS n FROM (
      | SELECT UNNEST(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS bigram
      | FROM (SELECT string_split(text, ' ') AS w FROM documents) WHERE len(w) >= 2)
      |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q32
  private val q32: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("occ_the", occ("text", " the "))
      .withColumn("occ_data", occ("text", " data "))
      .withColumn("pred_en", (col("occ_the") >= 1).cast("long"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("pred_en")).as("n_pred_en"),
        sum(col("occ_the")).as("total_the"),
        sum(col("occ_data")).as("total_data"))
      .orderBy(col("lang"))

  private val q32Sql =
    """WITH t AS (SELECT lang,
      |  CAST((length(text) - length(replace(text, ' the ', ''))) / 5 AS BIGINT) AS occ_the,
      |  CAST((length(text) - length(replace(text, ' data ', ''))) / 6 AS BIGINT) AS occ_data
      | FROM documents)
      |SELECT lang, COUNT(*) AS n_docs,
      | CAST(SUM(CASE WHEN occ_the >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_en,
      | CAST(SUM(occ_the) AS BIGINT) AS total_the,
      | CAST(SUM(occ_data) AS BIGINT) AS total_data
      |FROM t GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q33
  /** Adds (tokens, avg_len_ppm, stop_ppm, quality_ppm) to a documents
    * frame — the q33 quality score in exact parts-per-million integer
    * arithmetic: the double formulation rounds differently per engine when
    * a component lands on a .5e-6 boundary (seen at sf0.1), so every ratio
    * is integer `div` — bit-identical on any engine at any scale.
    * quality = 0.4·stop_ratio + 0.6·min(avg_tok_len/10, 1), in ppm.
    * SHARED kernel: q33 reports it; q115 (canonical dedup collapse) and
    * q116 (token-budget selection) rank by it — one Scala site, with
    * [[qualityPpmCte]] the DuckDB replay to keep in lockstep. */
  def withQualityPpm(doc: DataFrame): DataFrame =
    doc
      .withColumn("tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("avg_len_ppm",
        expr("(length(text) - (tokens - 1)) * 1000000L div tokens"))
      .withColumn("stop_ppm", expr(s"${occStr(" the ")} * 1000000L div tokens"))
      .withColumn("quality_ppm",
        expr("(4 * stop_ppm + 6 * least(avg_len_ppm div 10, 1000000L)) div 10"))

  /** DuckDB CTE `qual(doc_id, source, lang, tokens, quality_ppm)`
    * replaying [[withQualityPpm]] on `documents` — compose as
    * `WITH $qualityPpmCte, ...`. (lang added for q215; existing
    * consumers project their own columns, so the widening is inert.) */
  val qualityPpmCte: String =
    """qual AS (
      | SELECT doc_id, source, lang, tokens,
      |  (4 * (occ_the * 1000000 // tokens) +
      |   6 * least(((n_chars - (tokens - 1)) * 1000000 // tokens) // 10, 1000000)) // 10
      |    AS quality_ppm
      | FROM (SELECT doc_id, source, lang,
      |   CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
      |   CAST(length(text) AS BIGINT) AS n_chars,
      |   CAST((length(text) - length(replace(text, ' the ', ''))) // 5 AS BIGINT) AS occ_the
      |  FROM documents))""".stripMargin

  private val q33: Q = (s, d) =>
    withQualityPpm(Tables.documents(s, d))
      .select(col("doc_id"), col("tokens"), col("avg_len_ppm"),
        col("stop_ppm"), col("quality_ppm"))
      .orderBy(col("doc_id"))

  private val q33Sql =
    """WITH t AS (SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
      |  CAST(length(text) AS BIGINT) AS n_chars,
      |  CAST((length(text) - length(replace(text, ' the ', ''))) // 5 AS BIGINT) AS occ_the
      | FROM documents)
      |SELECT doc_id, tokens,
      | (n_chars - (tokens - 1)) * 1000000 // tokens AS avg_len_ppm,
      | occ_the * 1000000 // tokens AS stop_ppm,
      | (4 * (occ_the * 1000000 // tokens) +
      |  6 * least(((n_chars - (tokens - 1)) * 1000000 // tokens) // 10, 1000000)) // 10 AS quality_ppm
      |FROM t ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q34
  private val q34: Q = (s, d) =>
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        md5(col("text")).as("fp"),
        md5(lower(regexp_replace(col("text"), " ", ""))).as("fp_norm"),
        substring(md5(col("text")), 1, 8).as("fp_prefix"))
      .orderBy(col("doc_id"))

  private val q34Sql =
    """SELECT doc_id, md5(text) AS fp,
      | md5(lower(replace(text, ' ', ''))) AS fp_norm,
      | substr(md5(text), 1, 8) AS fp_prefix
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q39
  private val q39: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("toks", expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+', 0)"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        (size(array_distinct(col("toks"))).cast("double") / size(col("toks"))).as("ttr"))
      .orderBy(col("doc_id"))

  private val q39Sql =
    """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+|[0-9]+') AS toks FROM documents)
      |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      | CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
      | CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
      |FROM t ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q65
  /** Content-defined rolling-hash fingerprints (functions/RollingFingerprint,
    * codegen'd Rabin–Karp min-window): identical-prefix/suffix documents
    * collide, unrelated ones don't — the cheap first-pass near-dup filter.
    *
    * ORACLE-VERIFIED: the Rabin–Karp hash is plain mod-2⁶⁴ integer
    * arithmetic, so [[q65Sql]] replays every window hash in DuckDB via
    * HUGEINT with explicit mod and two's-complement reinterpretation —
    * the fingerprint is checked value-for-value, not by proxy. */
  private val q65: Q = (s, d) => {
    graft.GraftExtensions.install(s)
    Tables.documents(s, d)
      .withColumn("fp_roll", expr("rolling_fp(text)"))
      .groupBy(col("fp_roll"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
      .orderBy(col("keep_id"))
  }

  /** DuckDB replay of RollingFingerprint (k = 16, base 257, mod 2⁶⁴):
    * per-window polynomial hash as Σ byte·257^(w-1-j) with the powers
    * pre-reduced mod 2⁶⁴ (embedded as literals), accumulated in HUGEINT,
    * reduced, and reinterpreted as signed BIGINT before the min. Bytes come
    * from the hex dump of the UTF-8 encoding — byte-exact with
    * UTF8String.getBytes. Documents shorter than 16 bytes hash their whole
    * byte string (w = n); empty documents fingerprint to 0. */
  private def q65Sql: String = {
    // 257^e mod 2^64 as unsigned literals; Long multiplication wraps at
    // 2^64, which IS the modulus, so the iterative product is exact.
    val pows = Iterator.iterate(1L)(_ * 257L).take(16).toSeq
    val powVals = pows.zipWithIndex
      .map { case (p, e) => s"($e, CAST(${java.lang.Long.toUnsignedString(p)} AS HUGEINT))" }
      .mkString(",")
    s"""WITH pw AS (SELECT * FROM (VALUES $powVals) AS t(e, p)),
       |t AS (SELECT doc_id, hex(encode(text)) AS hx,
       |             octet_length(encode(text)) AS n FROM documents),
       |w AS (SELECT doc_id, hx, n, least(16, n) AS w FROM t WHERE n > 0),
       |pos AS (SELECT doc_id, hx, w, UNNEST(range(n - w + 1)) AS s FROM w),
       |b AS (SELECT doc_id, s, w, UNNEST(range(w)) AS j, hx FROM pos),
       |bv AS (SELECT doc_id, s, w, j,
       |          CAST(('0x' || substr(hx, CAST(2 * (s + j) AS INT) + 1, 2)) AS INT) AS byte
       |       FROM b),
       |hsh AS (SELECT bv.doc_id, bv.s,
       |          SUM(CAST(bv.byte AS HUGEINT) * pw.p)
       |            % CAST(18446744073709551616 AS HUGEINT) AS hu
       |        FROM bv JOIN pw ON pw.e = bv.w - 1 - bv.j
       |        GROUP BY bv.doc_id, bv.s),
       |sgn AS (SELECT doc_id, s,
       |          CAST(CASE WHEN hu >= CAST(9223372036854775808 AS HUGEINT)
       |               THEN hu - CAST(18446744073709551616 AS HUGEINT) ELSE hu END AS BIGINT) AS h
       |        FROM hsh),
       |fp AS (SELECT doc_id, MIN(h) AS fp_roll FROM sgn GROUP BY doc_id
       |       UNION ALL
       |       SELECT doc_id, 0 AS fp_roll FROM t WHERE n = 0)
       |SELECT fp_roll, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
       |FROM fp GROUP BY fp_roll ORDER BY keep_id""".stripMargin
  }

  // ---------------------------------------------------------------- q68
  /** TF-IDF-style distinctive terms, integer-exact: score_ppm = tf·10⁶ div df
    * (the corpus-size factor is constant per corpus, so ranking is identical
    * to tf·idf without a float log that could differ in the last ulp between
    * engines). Two hash aggregates + a broadcast-sized df join + a bounded
    * per-doc top-k window — every stage partial-aggregable and shuffle-light
    * at 100 TB. */
  private val q68: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    val tf = tok.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val sc = tf.join(df, Seq("w")).filter(col("doc_id") < 20)
      .select(col("doc_id"), col("w").as("term"), col("tf"), col("df"),
        expr("tf * 1000000 div df").as("score_ppm"))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("score_ppm").desc, col("term"))
    sc.withColumn("rank", row_number().over(win).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"), col("score_ppm"))
      .orderBy(col("doc_id"), col("rank"))
  }

  private val q68Sql =
    """WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents),
      |t AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok WHERE w <> '' GROUP BY doc_id, w),
      |d AS (SELECT w, COUNT(*) AS df FROM t GROUP BY w),
      |sc AS (SELECT t.doc_id, t.w AS term, t.tf, d.df, t.tf * 1000000 // d.df AS score_ppm
      |       FROM t JOIN d ON d.w = t.w WHERE t.doc_id < 20),
      |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score_ppm DESC, term) AS BIGINT) AS rank FROM sc)
      |SELECT doc_id, rank, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
      | CAST(score_ppm AS BIGINT) AS score_ppm
      |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  // ---------------------------------------------------------------- q69
  /** Edit-distance profile between consecutive documents on a bounded
    * 60-char prefix (levenshtein is O(len²) per pair — bounding the operand
    * is what keeps an edit-distance stage affordable at scale; full-text
    * edit distance on 100 TB is never the right plan). lev_ppm normalizes
    * by the longer operand in exact integer ppm. */
  private val q69: Q = (s, d) => {
    val t = Tables.documents(s, d).select(col("doc_id"), substring(col("text"), 1, 60).as("a"))
    val n = t.select((col("doc_id") - 1).as("doc_id"), col("a").as("b"))
    t.join(n, Seq("doc_id"))
      .select(col("doc_id"),
        levenshtein(col("a"), col("b")).cast("long").as("lev"),
        expr("levenshtein(a, b) * 1000000 div greatest(length(a), length(b))")
          .cast("long").as("lev_ppm"))
      .orderBy(col("doc_id"))
  }

  private val q69Sql =
    """WITH t AS (SELECT doc_id, substr(text, 1, 60) AS a FROM documents),
      |p AS (SELECT t.doc_id AS doc_id, t.a AS a, n.a AS b FROM t JOIN t n ON n.doc_id = t.doc_id + 1)
      |SELECT doc_id, CAST(levenshtein(a, b) AS BIGINT) AS lev,
      | CAST(levenshtein(a, b) * 1000000 // greatest(length(a), length(b)) AS BIGINT) AS lev_ppm
      |FROM p ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q84
  /** Composed corpus-cleaning pipeline — the flagship training-data shape:
    * score (token count + stopword ppm) → filter (language, length,
    * quality) → exact-dedup by content (keep lowest doc_id) → per-source
    * token accounting. Every stage is a projection or hash aggregate;
    * filters sit before the dedup shuffle so only surviving docs move —
    * the order that matters when the corpus is 100 TB and the keep-rate
    * is 30%. */
  private val q84: Q = (s, d) => {
    val scored = Tables.documents(s, d)
      .withColumn("tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("stop_ppm",
        expr(s"${occStr(" the ")} * 1000000 div tokens"))
    val kept = scored.filter(
      col("lang") === "en" && col("tokens") >= 20 && col("stop_ppm") >= 10000)
    val dedup = kept.groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), min(col("source")).as("source"),
        min(col("tokens")).as("tokens"))
    dedup.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("total_tokens"),
        min(col("keep_id")).as("first_doc"))
      .orderBy(col("source"))
  }

  private val q84Sql =
    """WITH scored AS (
      | SELECT doc_id, text, lang, source,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
      |  CAST((length(text) - length(replace(text, ' the ', ''))) // 5 AS BIGINT) * 1000000
      |    // CAST(len(string_split(text, ' ')) AS BIGINT) AS stop_ppm
      | FROM documents),
      |kept AS (SELECT * FROM scored WHERE lang = 'en' AND tokens >= 20 AND stop_ppm >= 10000),
      |dedup AS (SELECT text, min(doc_id) AS keep_id, min(source) AS source,
      |          min(tokens) AS tokens FROM kept GROUP BY text)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      | CAST(SUM(tokens) AS BIGINT) AS total_tokens,
      | CAST(min(keep_id) AS BIGINT) AS first_doc
      |FROM dedup GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q91
  /** Weighted stratified sampling — the DATA-MIXING primitive: each
    * language stratum keeps a configured fraction of its documents (e.g.
    * upsample English, downsample zh), selected by a deterministic
    * per-document hash bucket rather than rand(), so the sample is (a)
    * reproducible run-over-run, (b) resumable — re-running on grown input
    * keeps previously selected docs selected — and (c) exactly
    * oracle-checkable. Pure per-row filter: no shuffle at all before the
    * final ordering, scales with input splits. */
  private val q91: Q = (s, d) => {
    val bucket = expr(
      "CAST(conv(substring(md5(concat('mix:', CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 1000")
    val rate = typedLit(Map("en" -> 800, "de" -> 500, "es" -> 500, "fr" -> 250, "zh" -> 125))
    Tables.documents(s, d)
      .withColumn("rate_pml", coalesce(rate(col("lang")), lit(0)))
      .filter(bucket < col("rate_pml"))
      .select(col("doc_id"), col("lang"), col("source"),
        expr("n_chars div 4").as("tokens_est"))
      .orderBy(col("doc_id"))
  }

  private val q91Sql =
    """SELECT doc_id, lang, source, CAST(n_chars // 4 AS BIGINT) AS tokens_est
      |FROM documents
      |WHERE CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000
      |      < CASE lang WHEN 'en' THEN 800 WHEN 'de' THEN 500 WHEN 'es' THEN 500
      |                  WHEN 'fr' THEN 250 WHEN 'zh' THEN 125 ELSE 0 END
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q92
  /** Sequence packing — assigning whole documents to fixed-budget context
    * windows (512-token packs here), the split-free packing used when
    * documents must not be cut: per source, documents in doc_id order fill
    * a pack until the running token total crosses the budget, then the
    * next pack starts (a doc longer than the budget overflows its own
    * pack — documented, deterministic). One window cumsum per source
    * shard + a hash aggregate; at 100 TB the partitionBy key is the shard,
    * so state per task is one running sum. */
  private val q92: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .withColumn("toks", expr("n_chars div 4"))
      .withColumn("cum", sum(col("toks")).over(w))
      .withColumn("pack_id", expr("(cum - toks) div 512"))
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("pack_tokens"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("source"), col("pack_id"))
  }

  private val q92Sql =
    """WITH t AS (SELECT source, doc_id, CAST(n_chars // 4 AS BIGINT) AS toks FROM documents),
      |c AS (SELECT source, doc_id, toks,
      |        SUM(toks) OVER (PARTITION BY source ORDER BY doc_id
      |                        ROWS UNBOUNDED PRECEDING) AS cum
      |      FROM t)
      |SELECT source, CAST((cum - toks) // 512 AS BIGINT) AS pack_id,
      | COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS pack_tokens,
      | CAST(MIN(doc_id) AS BIGINT) AS first_doc
      |FROM c GROUP BY source, (cum - toks) // 512
      |ORDER BY source, pack_id""".stripMargin

  // ---------------------------------------------------------------- q99
  /** Corpus vocabulary census + Zipf-law slope: least-squares fit of
    * ln(freq) on ln(rank) over the whole ranked vocabulary. Ranking uses
    * [[graft.functions.GlobalIndex]] (range-partition + zipWithIndex), not
    * a partition-less window — the same scale-safe total order q61 uses.
    * Exactness: each log term is rounded to 6 decimals and summed as
    * DECIMAL (order-invariant across 1000 executors); doubles appear only
    * in the final fixed-order slope expression, identical in both engines.
    * A healthy natural-language corpus fits slope ≈ -1; flat slopes flag
    * templated/synthetic text — a standard corpus-quality audit. */
  private val q99: Q = (s, d) => {
    val wc = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    val ranked = graft.functions.GlobalIndex
      .withRowNumber(wc, "rank", col("n").desc, col("w"))
    ranked
      .select(col("n"),
        round(log(col("rank").cast("double")), 6).cast("decimal(12,6)").as("x"),
        round(log(col("n").cast("double")), 6).cast("decimal(12,6)").as("y"))
      .agg(sum(col("n")).as("n_tokens"),
        count(lit(1)).as("vocab_size"),
        sum(col("x")).as("_sx"), sum(col("y")).as("_sy"),
        sum(col("x") * col("y")).as("_sxy"), sum(col("x") * col("x")).as("_sxx"))
      .select(col("n_tokens"), col("vocab_size"),
        round(
          (col("vocab_size").cast("double") * col("_sxy").cast("double") -
            col("_sx").cast("double") * col("_sy").cast("double")) /
            (col("vocab_size").cast("double") * col("_sxx").cast("double") -
              col("_sx").cast("double") * col("_sx").cast("double")), 6)
          .as("zipf_slope"))
  }

  private val q99Sql =
    """WITH wc AS (SELECT w, COUNT(*) AS n
      |  FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
      |  WHERE w <> '' GROUP BY w),
      |r AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, w) AS rank FROM wc),
      |t AS (SELECT n,
      |  CAST(round(ln(CAST(rank AS DOUBLE)), 6) AS DECIMAL(12,6)) AS x,
      |  CAST(round(ln(CAST(n AS DOUBLE)), 6) AS DECIMAL(12,6)) AS y FROM r),
      |s AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tokens, COUNT(*) AS vocab_size,
      |  CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
      |  CAST(SUM(x * y) AS DOUBLE) AS sxy, CAST(SUM(x * x) AS DOUBLE) AS sxx,
      |  CAST(COUNT(*) AS DOUBLE) AS m FROM t)
      |SELECT n_tokens, vocab_size,
      | round((m * sxy - sx * sy) / (m * sxx - sx * sx), 6) AS zipf_slope
      |FROM s""".stripMargin

  // ---------------------------------------------------------------- q105
  /** Exact corpus heavy hitters (frequency > n/30) via the classic two-pass
    * bounded-memory scheme: pass 1 is [[graft.functions.MisraGriesAgg]]
    * (a `TypedImperativeAggregate` — O(k) state per partition no matter
    * the corpus size) whose candidate set provably contains every true
    * heavy hitter under any merge order; pass 2 re-counts ONLY candidates
    * and applies the exact integer threshold. The merge-order-dependent
    * candidate set never reaches the output, so the result is
    * deterministic and the oracle is a plain GROUP BY + HAVING. */
  private val q105: Q = (s, d) => {
    graft.GraftExtensions.install(s)
    val words = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    val cands = words.agg(expr("misra_gries(w, 30)").as("cand"))
      .select(explode(col("cand")).as("w"))
    val counts = words.groupBy(col("w")).agg(count(lit(1)).as("freq"))
    val tot = words.agg(count(lit(1)).as("n_total"))
    cands.join(counts, Seq("w"))
      .crossJoin(broadcast(tot))
      .filter(col("freq") * 30 > col("n_total"))
      .select(col("w"), col("freq"), col("n_total"))
      .orderBy(col("w"))
  }

  private val q105Sql =
    """WITH ww AS (SELECT w FROM (SELECT UNNEST(string_split(text, ' ')) AS w
      |  FROM documents) WHERE w <> ''),
      |t AS (SELECT COUNT(*) AS n_total FROM ww),
      |c AS (SELECT w, COUNT(*) AS freq FROM ww GROUP BY w)
      |SELECT c.w, c.freq, t.n_total FROM c, t
      |WHERE c.freq * 30 > t.n_total ORDER BY w""".stripMargin

  // ---------------------------------------------------------------- q110
  /** BM25-style retrieval top-k, integer-exact: an inverted-index probe for
    * a broadcast query-term set (ref has no search surface; this is the
    * text-retrieval operator a training-data pipeline uses for targeted
    * corpus audits). The tf-saturation term tf·(k1+1)/(tf+k1(1−b+b·dl/avgdl))
    * with k1=6/5, b=3/4 clears denominators to
    * 22·tf·A·10⁶ div (10·tf·A + 3·A + 9000·dl) where A = S·1000 div N is
    * fixed-point avgdl — exact Long arithmetic, so the ranking has no float
    * log that could differ in the last ulp between engines (q68 precedent:
    * idf enters as the log-free proxy N·10⁴ div df, monotone in df).
    * Scale shape: the term filter hits the exploded token stream map-side,
    * so only postings for the 3 query terms ever shuffle; corpus constants
    * ride a broadcast; top-k is TakeOrderedAndProject, no global sort.
    * The corpus statistics (dl, avgdl, df) are recomputed per run here for
    * oracle replayability; a production deployment materializes them once
    * per corpus snapshot and amortizes them across every probe, so the
    * extra tokenizing passes are not part of the steady-state cost.
    * Long-overflow bounds (documented here rather than hidden; Spark
    * wraps silently on Long overflow where DuckDB raises, so exceeding
    * either bound breaks the cross-engine exactness contract):
    * (1) the tfn numerator 22·tf·A·10⁶ needs tf·A ≤ 4.2e11, i.e.
    * tf ≤ 7.6e6 at this corpus's A ≈ 55,000 — no real document repeats
    * one term 7.6M times, but a degenerate input could;
    * (2) term_score < 2.3e6 · N·10⁴/df needs N/df ≤ 4e8, i.e. any term
    * present in ≥1 doc per 400M. Corpora beyond either bound need the
    * same arithmetic in DECIMAL. Both bounds are now ENFORCED by
    * `Guard.require` on the scored candidate rows (component-wise
    * conditions that cannot themselves wrap — the q143 discipline), so
    * an over-bound corpus fails loudly instead of wrapping silently. */
  /** The q110 scored-document chain (doc_id, n_terms, score), shared with
    * q190's lexical arm — same guards, same integer-exact arithmetic. */
  private def bm25ScoredDocs(s: SparkSession, d: String,
      ck: graft.operators.CheckpointTracker = null): DataFrame = {
    // Round 16 checkpointed the corpus-sized exploded token stream (three
    // consumers: document lengths, corpus token count, query-term
    // postings — the un-checkpointed plan re-ran split+explode per
    // consumer; WorkProbe: 5 documents scans in q110). Round 17 (guide
    // §2.4 "two operations keyed the same way can share one exchange")
    // folds ALL per-document statistics into ONE doc-keyed hash aggregate
    // over a single explode — dl and the three query-term tfs are columns
    // of the same partial-aggregable pass — and checkpoints only that
    // per-DOCUMENT frame (n_docs rows, vs the round-16 corpus-token
    // blocks). Corpus token count = sum(dl); postings unpivot from the tf
    // columns via stack. One corpus scan, one doc-keyed exchange, and the
    // materialized frame no longer grows with tokens-per-doc. Counts are
    // exact integers — result identical, oracle SQL untouched.
    val ckpt: DataFrame => DataFrame = if (ck == null) identity else ck.lazyCkpt
    val docs = Tables.documents(s, d)
    val terms = Seq("spark", "window", "merge")
    val perDoc = ckpt(docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dl"),
        terms.map(t => sum(when(col("w") === t, 1L).otherwise(0L)).as(s"tf_$t")): _*))
    val consts = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(perDoc.agg(coalesce(sum(col("dl")), lit(0L)).as("s_tok")))
      .select(col("n_docs"), expr("s_tok * 1000 div n_docs").as("a"))
    val tf = perDoc.select(col("doc_id"), col("dl"),
        expr("stack(3, 'spark', tf_spark, 'window', tf_window, 'merge', tf_merge)")
          .as(Seq("w", "tf")))
      .filter(col("tf") > 0)
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val cand = tf
      .join(broadcast(df), Seq("w"))
      .crossJoin(broadcast(consts))
    graft.functions.Guard.require(cand,
      col("tf") <= expr("(9223372036854775807L div 22000000L) div greatest(a, 1L)") &&
        col("dl") <= lit(9223372036854775807L / 9000L) &&
        expr("n_docs div df") <= lit(400000000L) &&
        // the n_docs*10000 intermediate itself must not wrap before the
        // div — without this conjunct a > 9.2e14-doc corpus would pass
        // the ratio bound yet throw a bare ARITHMETIC_OVERFLOW
        col("n_docs") <= lit(Long.MaxValue / 10000L),
      "q110: integer-exact BM25 bound exceeded (tf*a or n_docs/df would " +
        "overflow Long) - promote the score arithmetic to DECIMAL(38)")
      .select(col("doc_id"),
        expr("(22 * tf * a * 1000000 div (10 * tf * a + 3 * a + 9000 * dl))" +
          " * (n_docs * 10000 div df)").as("term_score"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("term_score")).as("score"))
  }

  private val q110: Q = (s, d) => {
    val ck = new graft.operators.CheckpointTracker(Tables.documents(s, d))
    // One eager action runs the probe while the token blocks are alive;
    // the 15-row result outlives them (CheckpointTracker contract).
    val out = bm25ScoredDocs(s, d, ck)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(15)
      .localCheckpoint(true)
    ck.releaseAll()
    out
  }

  private val q110Sql =
    """WITH t AS (SELECT doc_id, w FROM
      |  (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents)
      |  WHERE w <> ''),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY doc_id),
      |c AS (SELECT n_docs, (s_tok * 1000) // n_docs AS a FROM
      |  (SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
      |          (SELECT COUNT(*) FROM t) AS s_tok)),
      |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM t
      |  WHERE w IN ('spark', 'window', 'merge') GROUP BY doc_id, w),
      |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
      |sc AS (SELECT tf.doc_id,
      |  ((22 * tf.tf * c.a * 1000000) // (10 * tf.tf * c.a + 3 * c.a + 9000 * dl.dl))
      |    * ((c.n_docs * 10000) // df.df) AS term_score
      | FROM tf JOIN dl ON dl.doc_id = tf.doc_id JOIN df ON df.w = tf.w, c)
      |SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(term_score) AS BIGINT) AS score
      |FROM sc GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 15""".stripMargin

  // ---------------------------------------------------------------- q190
  /** Hybrid retrieval with reciprocal-rank fusion — the operator that
    * joins the two retrieval arms this engine already has: q110's
    * integer-exact BM25 (sparse/lexical) and the q40-family cosine
    * scoring (dense/semantic). The dense query vector is the embedding
    * of the TOP-1 lexical hit (pseudo-relevance feedback: "expand the
    * best keyword match into embedding space" — the standard trick when
    * the query has no vector of its own), each arm contributes its
    * top-20 ranks, and the fused score is classic RRF,
    * Σ_arm 10⁶ div (60 + rank), in exact integers — the fusion every
    * RAG/curation stack runs to beat either arm alone. Output: fused
    * top-10 with both arm ranks (NULL where an arm missed the doc).
    *
    * Scale shape: the lexical arm is q110's shape verbatim (query-term
    * postings only through the shuffle, TakeOrderedAndProject top-20);
    * the dense arm is one broadcast-query corpus scan; rank numbers come
    * from [[graft.functions.GlobalIndex]] over the ≤20-row arm frames
    * (never a partition-less window over the corpus — the q127/q61
    * discipline); both arm frames are eagerly localCheckpointed (20
    * rows, q124 precedent) so the fusion joins plan against LogicalRDDs
    * and no arm's corpus pass is replayed by downstream reuse. */
  private val q190: Q = (s, d) => {
    graft.GraftExtensions.install(s)
    import graft.functions.GlobalIndex
    // Round 16: the lexical arm shares q110's tracked token checkpoint;
    // the eager top-20 checkpoint right below materializes the blocks,
    // so the tracker releases them as soon as the arm is built.
    val ck = new graft.operators.CheckpointTracker(Tables.documents(s, d))
    val lex = GlobalIndex.withRowNumber(
        bm25ScoredDocs(s, d, ck)
          .orderBy(col("score").desc, col("doc_id")).limit(20)
          .localCheckpoint(true),
        "lex_rank", col("score").desc, col("doc_id"))
      .select(col("doc_id"), col("lex_rank"))
      .localCheckpoint(true)
    ck.releaseAll()
    val e = Tables.embeddings(s, d)
    val qv = e.join(broadcast(lex.filter(col("lex_rank") === 1)
        .select(col("doc_id").as("vec_id"))), Seq("vec_id"))
      .select(col("embedding").as("q_emb"))
    val sem = GlobalIndex.withRowNumber(
        e.crossJoin(broadcast(qv))
          .select(col("vec_id").as("doc_id"),
            round(expr("dot_f(embedding, q_emb)"), 4).as("sim"))
          .orderBy(col("sim").desc, col("doc_id")).limit(20)
          .localCheckpoint(true),
        "sem_rank", col("sim").desc, col("doc_id"))
      .select(col("doc_id"), col("sem_rank"))
    val fused = lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
        (coalesce(expr("1000000 div (60 + lex_rank)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + sem_rank)"), lit(0L))).as("rrf_micro"))
    GlobalIndex.withRowNumber(
        fused.orderBy(col("rrf_micro").desc, col("doc_id")).limit(10),
        "rank", col("rrf_micro").desc, col("doc_id"))
      .select(col("rank"), col("doc_id"), col("lex_rank"), col("sem_rank"),
        col("rrf_micro"))
      .orderBy(col("rank"))
  }

  private val q190Sql =
    """WITH t AS (SELECT doc_id, w FROM
      |  (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents)
      |  WHERE w <> ''),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY doc_id),
      |c AS (SELECT n_docs, (s_tok * 1000) // n_docs AS a FROM
      |  (SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
      |          (SELECT COUNT(*) FROM t) AS s_tok)),
      |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM t
      |  WHERE w IN ('spark', 'window', 'merge') GROUP BY doc_id, w),
      |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
      |sc AS (SELECT tf.doc_id,
      |  ((22 * tf.tf * c.a * 1000000) // (10 * tf.tf * c.a + 3 * c.a + 9000 * dl.dl))
      |    * ((c.n_docs * 10000) // df.df) AS term_score
      | FROM tf JOIN dl ON dl.doc_id = tf.doc_id JOIN df ON df.w = tf.w, c),
      |lexs AS (SELECT doc_id, CAST(SUM(term_score) AS BIGINT) AS score
      |         FROM sc GROUP BY doc_id),
      |lex AS (SELECT doc_id, lex_rank FROM (
      |    SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
      |      AS BIGINT) AS lex_rank FROM lexs) WHERE lex_rank <= 20),
      |qv AS (SELECT embedding FROM embeddings
      |       WHERE vec_id = (SELECT doc_id FROM lex WHERE lex_rank = 1)),
      |u AS (SELECT e.vec_id AS doc_id, UNNEST(e.embedding) AS x,
      |             UNNEST(q.embedding) AS y FROM embeddings e, qv q),
      |sims AS (SELECT doc_id,
      |           round(SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 4) AS sim
      |         FROM u GROUP BY doc_id),
      |sem AS (SELECT doc_id, sem_rank FROM (
      |    SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id)
      |      AS BIGINT) AS sem_rank FROM sims) WHERE sem_rank <= 20),
      |f AS (SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
      |        lex.lex_rank, sem.sem_rank,
      |        COALESCE(1000000 // (60 + lex.lex_rank), 0)
      |          + COALESCE(1000000 // (60 + sem.sem_rank), 0) AS rrf_micro
      |      FROM lex FULL OUTER JOIN sem ON sem.doc_id = lex.doc_id)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf_micro DESC, doc_id)
      |    AS BIGINT) AS rank,
      |  doc_id, lex_rank, sem_rank, CAST(rrf_micro AS BIGINT) AS rrf_micro
      |FROM f ORDER BY rrf_micro DESC, doc_id LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q118
  /** Token accounting under three tokenizer models — the cost estimate every
    * training-data budget is denominated in: (1) whitespace tokens (the q39
    * baseline), (2) GPT-2-style pretokens (leftmost-first alternation of
    * ` ?letters | ?digits | ?other`, the pre-BPE segmentation every byte-pair
    * tokenizer family shares — note RE2 (DuckDB) forbids lookahead, so the
    * pattern deliberately omits GPT-2's `\s+(?!\S)` trailing-space branch,
    * identical on this corpus's single-spaced text), and (3) a subword
    * estimate of ceil(len/4) BPE pieces per pretoken (the ~4-chars-per-token
    * rule of thumb, exact integer form) — the leading space rides its
    * pretoken, as in the byte-level BPE alphabet. chars_per_bpe_ppm is the
    * compression proxy curation dashboards track (templated text compresses
    * deeper than natural text).
    *
    * Scale shape: pure per-row expressions — one regexp pass + a bounded
    * `aggregate` fold per document, no explode, no shuffle before the
    * ordering. The pretokenizer branches match disjoint character classes,
    * so Java-regex (leftmost-first) and RE2 (leftmost-first over these
    * branches) segment identically — cross-engine determinism is structural,
    * not luck. */
  private val q118: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("toks",
        expr("regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+', 0)"))
      .withColumn("n_bpe_est",
        expr("aggregate(toks, CAST(0 AS BIGINT), (acc, t) -> acc + ((length(t) + 3) div 4))"))
      .select(
        col("doc_id"),
        size(filter(split(col("text"), " "), t => t =!= "")).cast("long").as("n_ws"),
        size(col("toks")).cast("long").as("n_pretok"),
        col("n_bpe_est"),
        expr("CASE WHEN n_bpe_est = 0 THEN 0L " +
          "ELSE n_chars * 1000000 div n_bpe_est END").as("chars_per_bpe_ppm"))
      .orderBy(col("doc_id"))

  private val q118Sql =
    """WITH t AS (SELECT doc_id, n_chars,
      |  len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_ws,
      |  regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+') AS toks
      | FROM documents),
      |b AS (SELECT doc_id, n_chars, n_ws, len(toks) AS n_pretok,
      |  COALESCE(list_sum(list_transform(toks, x -> (length(x) + 3) // 4)), 0) AS n_bpe_est
      | FROM t)
      |SELECT doc_id, CAST(n_ws AS BIGINT) AS n_ws,
      | CAST(n_pretok AS BIGINT) AS n_pretok,
      | CAST(n_bpe_est AS BIGINT) AS n_bpe_est,
      | CAST(CASE WHEN n_bpe_est = 0 THEN 0
      |      ELSE n_chars * 1000000 // n_bpe_est END AS BIGINT) AS chars_per_bpe_ppm
      |FROM b ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q119
  /** Count-Min Sketch point-frequency estimates — the third sketch in the
    * family (HLL q44 = cardinality, Misra-Gries q105 = heavy hitters, CMS =
    * arbitrary point queries): d=4 hash rows × w=16 counters, est(x) =
    * min over rows of cell[r][h_r(x)], guaranteeing est ≥ exact always and
    * est ≤ exact + 2n/w with probability 1 − 2⁻⁴ (Cormode & Muthukrishnan's
    * bound with the classic constants). w = 16 is deliberately undersized
    * for the 31-word synthetic vocabulary so the error term is VISIBLE in
    * the output — some probes overcount, the absent probe word shows pure
    * collision mass, and a broken min (e.g. a max or avg) cannot hide
    * behind a collision-free grid; production sizing is w = ⌈e/ε⌉ for
    * target error εn.
    *
    * Scale shape — ONE pass over the token stream: `wc` is the same
    * map-side-combinable word count every text query shares, and the d×w
    * cell grid (64 Longs, CONSTANT in corpus size) is a tiny hash agg over
    * it; summing per-word counts into cells is exactly the
    * partition-local-array-then-merge CMS build because cell addition
    * commutes. The exact-count WITNESS column does not re-scan the corpus:
    * probe words emit one extra entry on virtual row −1 keyed by probe
    * index — a perfect-hash row (a CMS row with w = ∞ over the probe set),
    * so exact counts ride the same explode + cell aggregate as the grid.
    * Probes join the broadcast grid; no shuffle grows with the corpus
    * anywhere past `wc`. Hashes are the portable md5→60-bit idiom (q91
    * precedent) so DuckDB replays every cell value exactly. */
  private val q119: Q = (s, d) => {
    // md5 → 60-bit int → mod 16; the column is always named `w` here.
    def cmBucket(r: Int) =
      expr(s"CAST(conv(substring(md5(concat('cm$r:', w)), 1, 15), 16, 10) AS BIGINT) % 16")
    val rows = 0 until 4
    val probeWords = Seq("data", "merge", "quasar", "spark", "the", "window")
    // grid entries for rows 0..3, plus the witness entry (−1, probe index)
    // for probe words only; array_position is 0 when absent, 1-based else.
    def entries = {
      val grid = array(rows.map(r =>
        struct(lit(r).as("r"), cmBucket(r).as("c"))): _*)
      val pos = array_position(typedLit(probeWords), col("w"))
      concat(grid,
        when(pos > 0, array(struct(lit(-1).as("r"), (pos - 1).cast("long").as("c"))))
          .otherwise(expr("CAST(array() AS ARRAY<STRUCT<r: INT, c: BIGINT>>)")))
    }
    val words = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    val wc = words.groupBy(col("w")).agg(count(lit(1)).as("n"))
    val cells = wc
      .select(explode(entries).as("rc"), col("n"))
      .groupBy(col("rc.r").as("r"), col("rc.c").as("c"))
      .agg(sum(col("n")).as("cnt"))
    val probe = s.createDataFrame(probeWords.map(Tuple1(_))).toDF("w")
    probe
      .select(col("w"), explode(entries).as("rc"))
      .select(col("w"), col("rc.r").as("r"), col("rc.c").as("c"))
      .join(broadcast(cells), Seq("r", "c"), "left")
      .groupBy(col("w"))
      .agg(
        min(when(col("r") >= 0, coalesce(col("cnt"), lit(0L)))).as("cm_est"),
        coalesce(max(when(col("r") === -1, col("cnt"))), lit(0L)).as("exact"))
      .select(col("w"), col("cm_est"), col("exact"),
        (col("cm_est") - col("exact")).as("overcount"))
      .orderBy(col("w"))
  }

  private val q119Sql =
    """WITH ww AS (SELECT w FROM (SELECT UNNEST(string_split(text, ' ')) AS w
      |  FROM documents) WHERE w <> ''),
      |wc AS (SELECT w, COUNT(*) AS n FROM ww GROUP BY w),
      |r AS (SELECT UNNEST(range(4)) AS r),
      |probe AS (SELECT UNNEST(['data', 'merge', 'quasar', 'spark', 'the', 'window']) AS w),
      |cells AS (SELECT r, c, SUM(n) AS cnt FROM (
      |    SELECT r.r AS r,
      |      CAST(('0x' || substr(md5('cm' || r.r || ':' || wc.w), 1, 15)) AS BIGINT) % 16 AS c,
      |      wc.n FROM wc, r
      |    UNION ALL
      |    SELECT -1 AS r, CAST(list_position(['data', 'merge', 'quasar', 'spark', 'the', 'window'], wc.w) - 1 AS BIGINT) AS c, wc.n
      |    FROM wc WHERE COALESCE(list_position(['data', 'merge', 'quasar', 'spark', 'the', 'window'], wc.w), 0) > 0
      |  ) GROUP BY r, c),
      |pr AS (SELECT p.w, r.r AS r,
      |    CAST(('0x' || substr(md5('cm' || r.r || ':' || p.w), 1, 15)) AS BIGINT) % 16 AS c
      |  FROM probe p, r
      |  UNION ALL
      |  SELECT p.w, -1 AS r, CAST(list_position(['data', 'merge', 'quasar', 'spark', 'the', 'window'], p.w) - 1 AS BIGINT) AS c
      |  FROM probe p),
      |est AS (SELECT pr.w,
      |    MIN(CASE WHEN pr.r >= 0 THEN COALESCE(cells.cnt, 0) END) AS cm_est,
      |    COALESCE(MAX(CASE WHEN pr.r = -1 THEN cells.cnt END), 0) AS exact
      |  FROM pr LEFT JOIN cells ON cells.r = pr.r AND cells.c = pr.c GROUP BY pr.w)
      |SELECT w, CAST(cm_est AS BIGINT) AS cm_est, CAST(exact AS BIGINT) AS exact,
      | CAST(cm_est - exact AS BIGINT) AS overcount
      |FROM est ORDER BY w""".stripMargin

  // ---------------------------------------------------------------- q121
  /** Bigram language-model surprisal scoring — the perplexity-proxy quality
    * filter (CCNet-style: rank documents by how "expected" their text is
    * under a corpus LM; templated/boilerplate text scores low surprisal,
    * garbled text high). The model is add-one-smoothed bigram MLE over the
    * corpus itself: surprisal(a b) = ln((C(a) + V) / (C(a b) + 1)) ≥ 0,
    * averaged per document.
    *
    * Exactness: per-term surprisal is FLOOR(ln(ratio)·10⁶) as a Long —
    * integer micro-nats from the first step. The ratio's operands are
    * exact integers, so both engines feed ln the identical double, and
    * floor of a double is exact (unlike round-half-up, whose
    * decimal-string-vs-binary ambiguity diverged twice while building
    * this query: doc 1705's average 327.752592/96 = 3.4140895 rounded
    * DOWN on the JVM and UP in DuckDB, and the review showed the same
    * mechanism threatens every per-term round). All sums and the average
    * are then plain Long arithmetic — shuffle-order-invariant and
    * engine-exact. Residual risk, shared with q99's rounded logs and
    * documented rather than hidden: if the two engines' libm ln differ in
    * the last ulp AND that ulp crosses an integer boundary of ln·10⁶
    * (probability ~1e-9 per distinct count pair), floor diverges; the
    * fully-exact alternative is a fixed-point integer log2 kernel, not
    * warranted while the differential stays green at every SF.
    *
    * Scale shape: the LM model is corpus-bounded (vocab + bigram-vocab
    * rows), built by two map-side-combinable hash aggs and materialized
    * eagerly (localCheckpoint — the ConnectedComponents discipline: no
    * CacheManager substitution into later plans, blocks freed with the
    * frame), so the vocabulary size V is a plan literal rather than a
    * fourth corpus pass. Constructing this query therefore RUNS the model
    * build (two small jobs) — the q51/q90/q98/q108 precedent, where
    * fit/seed collection also executes at construction; plan-only
    * consumers (Plans, inventory specs) pay one unigram agg at their
    * tiny SF. Scoring joins the exploded bigram stream against
    * the model keyed ON THE BIGRAM — a hash join AQE broadcasts when the
    * model is small; the unigram side is explicitly broadcast. Three
    * corpus passes total (bigram counts, unigram counts, scoring); at
    * 100 TB a production run materializes the model once per corpus
    * snapshot and prunes it to top-K bigrams with unigram backoff (same
    * plan shape, smaller build side) — noted rather than simulated, since
    * the synthetic vocabulary is 31 words. */
  private val q121: Q = (s, d) => {
    graft.GraftExtensions.install(s)
    val docs = Tables.documents(s, d)
      .filter(expr("word_count(text) >= 2"))
    val bg = docs.select(col("doc_id"),
        explode(expr("word_ngrams(text, 2)")).as("bigram"))
      .withColumn("head", substring_index(col("bigram"), " ", 1))
    val bgCounts = bg.groupBy(col("bigram")).agg(count(lit(1)).as("c_bg"))
    val uniCounts = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("head"))
      .filter(col("head") =!= "")
      .groupBy(col("head")).agg(count(lit(1)).as("c_uni"))
      .localCheckpoint(true)
    val v = uniCounts.count()
    bg.join(bgCounts, Seq("bigram"))
      .join(broadcast(uniCounts), Seq("head"))
      .select(col("doc_id"),
        expr(s"CAST(floor(ln(CAST(c_uni + ${v}L AS DOUBLE) / CAST(c_bg + 1 AS DOUBLE))" +
          " * 1000000) AS BIGINT)").as("surp_micro"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("surp_micro")).as("sum_surprisal_micro"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_surprisal_micro"),
        expr("sum_surprisal_micro div n_bigrams").as("avg_surprisal_micro"))
      .orderBy(col("doc_id"))
  }

  private val q121Sql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |bg AS (SELECT doc_id,
      |  UNNEST(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])) AS bigram
      | FROM w WHERE len(ws) >= 2),
      |bgc AS (SELECT bigram, COUNT(*) AS c_bg FROM bg GROUP BY bigram),
      |uni AS (SELECT u AS head, COUNT(*) AS c_uni FROM
      |  (SELECT UNNEST(ws) AS u FROM w) WHERE u <> '' GROUP BY u),
      |v AS (SELECT COUNT(*) AS v FROM uni),
      |sc AS (SELECT bg.doc_id,
      |  CAST(floor(ln(CAST(uni.c_uni + v.v AS DOUBLE) / CAST(bgc.c_bg + 1 AS DOUBLE))
      |       * 1000000) AS BIGINT) AS surp_micro
      | FROM bg
      | JOIN bgc ON bgc.bigram = bg.bigram
      | JOIN uni ON uni.head = string_split(bg.bigram, ' ')[1], v)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      | CAST(SUM(surp_micro) AS BIGINT) AS sum_surprisal_micro,
      | CAST(SUM(surp_micro) AS BIGINT) // COUNT(*) AS avg_surprisal_micro
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q138
  /** BPE merge-candidate mining — one round of byte-pair-encoding vocab
    * learning: the 20 most frequent adjacent character pairs across the
    * corpus, weighted by word frequency (the argmax pair IS the next BPE
    * merge; a tokenizer trainer loops this with the pair merged in).
    * Scale shape is the whole point: the corpus-sized work is ONE word
    * hash aggregate (the q30 shape); pair explosion then runs over the
    * DISTINCT VOCABULARY — thousands of rows, not billions — carrying the
    * word counts as weights, so the second stage costs vocab × word
    * length regardless of corpus size. Counts are overlapping-pair counts
    * (deterministic in both engines); ties at the cut break by pair
    * string. */
  private val q138: Q = (s, d) => {
    Tables.documents(s, d)
      .select(explode(expr("filter(split(text, ' '), x -> x <> '')")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .filter(length(col("w")) >= 2)
      .select(col("n"), explode(
        expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy(col("pair")).agg(sum(col("n")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair")).limit(20)
  }

  private val q138Sql =
    """WITH wc AS (SELECT w, COUNT(*) AS n FROM (
      |   SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
      |  WHERE w <> '' GROUP BY w),
      |p AS (SELECT UNNEST(list_transform(generate_series(1, length(w) - 1),
      |        i -> substr(w, i, 2))) AS pair, n
      |      FROM wc WHERE length(w) >= 2)
      |SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt FROM p GROUP BY pair
      |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q194
  /** Full multi-round BPE vocabulary learning — the TRAINER that q138
    * (one merge round) and q127 (vocab encode) bracket but neither
    * completes: K rounds of "count adjacent symbol pairs over the
    * vocabulary, apply the argmax merge everywhere, repeat", i.e. the
    * actual byte-pair-encoding training loop (Sennrich et al. 2016;
    * the algorithm GPT-2/BPE tokenizers train with). Output: the first
    * K=8 learned merges as (merge_round, lhs, rhs, merged, cnt) —
    * weighted by word frequency, with the (cnt DESC, encoded-pair ASC)
    * tie-break replayed identically by the oracle's K unrolled CTE
    * rounds. Cross-checked against an independent tuple-based BPE
    * reference implementation at sf0.01 (identical 8 merges).
    *
    * Representation: each word's symbol sequence is a sentinel-wrapped
    * string `<h><e><l><l><o>` (symbols restricted to `^[a-z]{2,}$`
    * words, so `<`/`>` never collide with symbol text). The merge step
    * is then ONE `replace(enc, '<a><b>', '<ab>')` — string replace is
    * left-to-right non-overlapping in both Spark (Java String.replace)
    * and DuckDB, which is EXACTLY greedy BPE merge order ("aaa" + merge
    * (a,a) → [aa, a], never [a, aa]), so the engines agree on every
    * boundary case by construction rather than by luck.
    *
    * Scale shape (the q138 contract, iterated): the corpus-sized work
    * stays ONE word hash aggregate regardless of K; every round's
    * pair-count + argmax + merge runs over the DISTINCT VOCABULARY
    * (thousands of rows carrying corpus counts as weights — vocab ×
    * word-length work per round, corpus-free). Per-round frames go
    * through CheckpointTracker.lazyCkpt (the round-12 iterative
    * discipline): round r's argmax action materializes round r−1's
    * blocks, the plan stays one projection deep, and every tracked
    * block is released once the K merges (a driver-local K×5 result)
    * are collected. The argmax itself is a 1-row TakeOrdered collect —
    * the adaptivePlanes class of bounded driver scalar. */
  private val BpeRounds = 8

  /** The eligible-word corpus count — the ONE corpus-sized pass both BPE
    * queries share (everything downstream is vocabulary-sized). */
  private def bpeWordCounts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(expr("filter(split(text, ' '), x -> x rlike '^[a-z]{2,}$')")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))

  /** Run the K-round training loop; returns (round, lhs, rhs, merged, cnt)
    * per learned merge. Driver-local K×5 result; see q194 for the full
    * scale/portability story. */
  private def trainBpe(s: SparkSession, d: String): Seq[(Long, String, String, String, Long)] = {
    val tracker = new graft.operators.CheckpointTracker(Tables.documents(s, d))
    var vocab = tracker.lazyCkpt(bpeWordCounts(s, d)
      .select(expr("regexp_replace(w, '(.)', '<$1>')").as("enc"), col("n")))
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    for (r <- 1 to BpeRounds) {
      val top = vocab
        .withColumn("s", expr("regexp_extract_all(enc, '<([^>]*)>', 1)"))
        .where(size(col("s")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(0, size(s) - 2), i -> concat('<', s[i], '><', s[i + 1], '>'))"))
          .as("pat"))
        .groupBy(col("pat")).agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("pat")).limit(1)
        .head()
      val (pat, cnt) = (top.getString(0), top.getLong(1))
      // symbols are [a-z]+ by the word filter, so '><' splits unambiguously
      // and the literals embedded below are injection-safe by construction
      val Array(lhs, rhs) = pat.stripPrefix("<").stripSuffix(">").split("><")
      merges += ((r.toLong, lhs, rhs, lhs + rhs, cnt))
      if (r < BpeRounds)
        vocab = tracker.lazyCkpt(vocab.select(
          expr(s"replace(enc, '$pat', '<$lhs$rhs>') AS enc"), col("n")))
    }
    tracker.releaseAll()
    merges.result()
  }

  private val q194: Q = (s, d) => {
    import s.implicits._
    trainBpe(s, d).toDF("merge_round", "lhs", "rhs", "merged", "cnt")
      .orderBy(col("merge_round"))
  }

  /** Shared oracle training chain: wc (the one corpus pass), e0 (encoded
    * vocab), then K unrolled (pair-count → argmax → replace) rounds whose
    * m1..mK CTEs each hold that round's learned merge. Validated directly
    * in DuckDB against a tuple-based reference trainer before wiring
    * (graft-build-workflow checklist). */
  private val bpeOracleCtes = {
    def roundCte(r: Int): String = {
      val prev = s"e${r - 1}"
      s"""s$r AS (SELECT regexp_extract_all(enc, '<([^>]*)>', 1) AS s, n FROM $prev),
         |p$r AS (SELECT UNNEST(list_transform(generate_series(1, len(s) - 1),
         |          i -> '<' || s[i] || '><' || s[i+1] || '>')) AS pat, n
         |        FROM s$r WHERE len(s) >= 2),
         |c$r AS (SELECT pat, CAST(SUM(n) AS BIGINT) AS cnt FROM p$r GROUP BY pat),
         |m$r AS (SELECT pat, cnt FROM c$r ORDER BY cnt DESC, pat LIMIT 1),
         |e$r AS (SELECT replace(e.enc, m.pat, replace(m.pat, '><', '')) AS enc, e.n
         |        FROM $prev e, m$r m)""".stripMargin
    }
    """WITH wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM (
      |    SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
      |  WHERE regexp_matches(w, '^[a-z]{2,}$') GROUP BY w),
      |e0 AS (SELECT regexp_replace(w, '(.)', '<\1>', 'g') AS enc, n FROM wc),
      |""".stripMargin +
      (1 to BpeRounds).map(roundCte).mkString(",\n")
  }

  private val q194Sql = {
    def finalSel(r: Int): String =
      s"""SELECT CAST($r AS BIGINT) AS merge_round,
         |  regexp_extract(pat, '^<([^>]*)>', 1) AS lhs,
         |  regexp_extract(pat, '<([^>]*)>$$', 1) AS rhs,
         |  replace(replace(replace(pat, '><', ''), '<', ''), '>', '') AS merged,
         |  cnt FROM m$r""".stripMargin
    bpeOracleCtes + "\n" +
      (1 to BpeRounds).map(finalSel).mkString("\nUNION ALL\n") +
      "\nORDER BY merge_round"
  }

  // ---------------------------------------------------------------- q195
  /** BPE tokenization audit — apply the q194-learned vocabulary back to
    * the corpus and report, per document, the numbers a tokenizer owner
    * watches: eligible word count, character count, token count under
    * the learned merges, and compression in ppm (tokens per character ×
    * 10⁶ — the inverse of bytes-per-token). With q194 (trainer) and q127
    * (id-assignment encode) this closes the full tokenizer loop:
    * train → segment → measure.
    *
    * Scale shape: the trainer reruns its vocabulary-sized loop; token
    * counts per DISTINCT word are computed once on the vocab (the 8
    * learned merges fold into one nested-replace projection); the
    * corpus-sized work is one word explode + a broadcast-sized join on
    * the word (AQE broadcasts the vocab frame) + one doc-keyed hash
    * agg — linear in corpus, merge-application never touches corpus
    * rows. Integer-exact: counts are longs, compression is floor-div
    * ppm, so the oracle replays bit-for-bit. */
  private val q195: Q = (s, d) => {
    val merges = trainBpe(s, d)
    val encExpr = merges.foldLeft("regexp_replace(w, '(.)', '<$1>')") {
      case (e, (_, lhs, rhs, merged, _)) => s"replace($e, '<$lhs><$rhs>', '<$merged>')"
    }
    val words = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(expr("filter(split(text, ' '), x -> x rlike '^[a-z]{2,}$')")).as("w"))
    val vtok = words.select(col("w")).distinct()
      .select(col("w"), length(col("w")).cast("long").as("ncw"),
        expr(s"CAST(size(regexp_extract_all($encExpr, '<([^>]*)>', 1)) AS BIGINT)").as("ntw"))
    // broadcast the VOCAB side explicitly: Catalyst's size estimate for the
    // exploded word stream undercounts enough that it picked BuildLeft (a
    // 40 MiB corpus-side broadcast at sf1 — the exact wrong side at 100 TB,
    // where the stream is corpus-sized and the vocab stays bounded)
    words.join(broadcast(vtok), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("ncw")).as("n_chars"),
        sum(col("ntw")).as("n_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_chars"), col("n_tokens"),
        expr("n_tokens * 1000000 div n_chars").as("compression_ppm"))
      .orderBy(col("doc_id"))
  }

  private val q195Sql = {
    val tokChain = "t0 AS (SELECT w, regexp_replace(w, '(.)', '<\\1>', 'g') AS enc FROM wc)" +
      (1 to BpeRounds).map { r =>
        s""",
           |t$r AS (SELECT w, replace(enc, (SELECT pat FROM m$r),
           |          (SELECT replace(pat, '><', '') FROM m$r)) AS enc FROM t${r - 1})""".stripMargin
      }.mkString
    bpeOracleCtes + s""",
      |$tokChain,
      |vt AS (SELECT w, CAST(length(w) AS BIGINT) AS ncw,
      |         CAST(len(regexp_extract_all(enc, '<([^>]*)>', 1)) AS BIGINT) AS ntw
      |       FROM t$BpeRounds),
      |dw AS (SELECT doc_id, w FROM (
      |    SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents)
      |  WHERE regexp_matches(w, '^[a-z]{2,}$$'))
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
      |  CAST(SUM(ncw) AS BIGINT) AS n_chars, CAST(SUM(ntw) AS BIGINT) AS n_tokens,
      |  CAST(SUM(ntw) * 1000000 // SUM(ncw) AS BIGINT) AS compression_ppm
      |FROM dw JOIN vt USING (w) GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q197
  /** Byte-distribution entropy scoring — the information-theoretic member
    * of the quality family (q33 counts ratios, q96 measures repetition,
    * q121 scores LM surprisal; this measures the byte stream itself):
    * Shannon entropy per document in EXACT integer micro-nats, plus the
    * mode byte and distinct-byte census. The filter a curation pipeline
    * runs before any tokenizer: natural language sits in a narrow entropy
    * band, so low-entropy docs (repeated junk, padding) and high-entropy
    * docs (compressed/binary/random spill) both fall out of band — and
    * the mode byte is the witness (a junk doc's top byte dominates).
    *
    * Exactness (the q121 floor(ln·10⁶) discipline): the only float op is
    * one IEEE divide + ln per DISTINCT byte, floored to micro-nats before
    * any accumulation — Spark and DuckDB then accumulate identical
    * integers (Σ c_b·floor(ln(n/c_b)·10⁶) div n). Long-safe to ~1.6 TB
    * per single document.
    *
    * Scale shape: ONE codegen pass per row ([[graft.functions
    * .ByteEntropyKernel]] — a 256-cell count array, no explode, no
    * per-byte rows), map-only until the final sort; the oracle pays the
    * per-character UNNEST the kernel exists to avoid. */
  private val q197: Q = (s, d) => {
    graft.GraftExtensions.install(s)
    Tables.documents(s, d)
      .filter(col("n_chars") >= 1)
      .select(col("doc_id"), expr("byte_entropy(text)").as("f"))
      .select(col("doc_id"), col("f.n_bytes").as("n_bytes"),
        col("f.n_distinct").as("n_distinct"), col("f.top_byte").as("top_byte"),
        col("f.top_count").as("top_count"),
        col("f.entropy_micro").as("entropy_micro"))
      .orderBy(col("doc_id"))
  }

  // documents.text is pure ASCII (checked at both SFs: octet_length ==
  // length), so ord(code point) == byte and the oracle's char walk
  // replays the kernel's byte walk exactly.
  private val q197Sql =
    """WITH t AS (SELECT doc_id, text FROM documents WHERE n_chars >= 1),
      |ch AS (SELECT doc_id, ord(substr(text, CAST(i AS INT), 1)) AS b
      |       FROM (SELECT doc_id, text, UNNEST(range(1, length(text) + 1)) AS i FROM t)),
      |bc AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c FROM ch GROUP BY doc_id, b),
      |n AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS nb FROM bc GROUP BY doc_id),
      |term AS (SELECT bc.doc_id, bc.c,
      |         CAST(floor(ln(CAST(n.nb AS DOUBLE) / CAST(bc.c AS DOUBLE)) * 1000000)
      |           AS BIGINT) AS tm
      |         FROM bc JOIN n ON n.doc_id = bc.doc_id),
      |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_distinct,
      |        CAST(SUM(c * tm) AS BIGINT) AS s FROM term GROUP BY doc_id),
      |top AS (SELECT doc_id, b AS top_byte, c AS top_count,
      |        ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, b) AS rn FROM bc)
      |SELECT n.doc_id, n.nb AS n_bytes, agg.n_distinct,
      |  CAST(top.top_byte AS BIGINT) AS top_byte, top.top_count,
      |  CAST(agg.s // n.nb AS BIGINT) AS entropy_micro
      |FROM n JOIN agg USING (doc_id) JOIN (SELECT * FROM top WHERE rn = 1) top USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q145
  /** Frequent co-occurring word pairs — the A-Priori first join step
    * (association mining over documents as baskets): only words frequent
    * as SINGLETONS (document-frequency rank in the top half of the
    * vocabulary, [[adaptiveFrequentK]] — the monotone A-Priori prune as a
    * scale-free DF quantile) are eligible, each document contributes its
    * sorted distinct frequent-word pairs once, and pairs rank by support.
    * Scale shape: the prune list is a ≤4096-row broadcast hitting the
    * exploded token stream map-side, so the pair explosion runs over
    * min(doc length, k) kept words per doc — linear in docs, never
    * vocab². The pair
    * generator is an index-lambda transform over the kept array (no
    * self-join); the oracle's doc-level self-join is the quadratic
    * witness proving result-invariance. */
  /** Vocabulary-adaptive frequent-singleton count: a DF-QUANTILE cutoff —
    * keep the words whose document frequency ranks in the top HALF of the
    * vocabulary (k = V div 2, clamped [8, 4096]; pure integer division,
    * re-derived identically by the oracle from COUNT(DISTINCT w)).
    *
    * Why a quantile and not an absolute (or log-scaled) k: a fixed top-16
    * list collapsed under vocabulary drift — the round-7 probe measured
    * kept pairs SHRINKING 381,200 → 19,302 at 10× salted data — and a
    * log-scaled k still shrank ×0.07, because DataGen's drift is
    * vocabulary SHARDING (every copy's words are salted `word_cN`, so 10×
    * data = 10 disjoint vocabulary shards). Any absolute k splits across
    * the shards; a rank-quantile set allocates each shard its
    * proportional share, so per-document capture is growth-mode-invariant
    * — measured pair volume 333,837 → 3,575,185 at 10× data (10.7×,
    * linear; BASELINE round-8 section). Volume stays bounded: kept words
    * per doc ≤ min(doc length, k) with k ≤ 4096, and the ScalingProbe
    * `q145_pairs` counter guards the Σ C(k_d,2) growth. */
  def adaptiveFrequentK(vocab: Long): Int =
    math.min(4096L, math.max(8L, vocab / 2L)).toInt

  /** q145's kept-token stream — distinct words per doc, filtered to the
    * top-`k` document-frequency singletons (the A-Priori prune, broadcast
    * map-side); `k ≤ 0` (the default) derives k from the corpus vocabulary
    * via [[adaptiveFrequentK]] (one vocabulary-bounded count, the q123
    * adaptivePlanes class of driver scalar). PUBLIC and shared with
    * [[graft.ScalingProbe]] so the probed pair volume is derived from the
    * query's own pipeline rather than a copy that could silently drift
    * from it. */
  def frequentTokenStream(docs: DataFrame, k: Int = 0): DataFrame = {
    val toks = docs.select(col("doc_id"),
      array_distinct(expr("filter(split(text, ' '), x -> x <> '')")).as("ws"))
    val kk =
      if (k > 0) k
      else adaptiveFrequentK(toks.select(explode(col("ws")).as("w"))
        .agg(count_distinct(col("w"))).head().getLong(0))
    val fw = toks.select(explode(col("ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("w")).limit(kk)
      .select(col("w"))
    toks.select(col("doc_id"), explode(col("ws")).as("w"))
      .join(broadcast(fw), Seq("w"))
  }

  private val q145: Q = (s, d) => {
    frequentTokenStream(Tables.documents(s, d))
      .groupBy(col("doc_id")).agg(sort_array(collect_list(col("w"))).as("ks"))
      .select(explode(expr(
        "flatten(transform(ks, (x, i) -> transform(slice(ks, i + 2, size(ks)), y -> struct(x AS a, y AS b))))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("a"), col("b")).limit(20)
  }

  private val q145Sql =
    """WITH t AS (SELECT doc_id,
      |  list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS ws
      | FROM documents),
      |w AS (SELECT doc_id, UNNEST(ws) AS w FROM t),
      |np AS (SELECT GREATEST(8, LEAST(4096, COUNT(DISTINCT w) // 2)) AS k FROM w),
      |df AS (SELECT w, COUNT(*) AS df FROM w GROUP BY w),
      |rk AS (SELECT w, ROW_NUMBER() OVER (ORDER BY df DESC, w) AS rn FROM df),
      |fw AS (SELECT rk.w FROM rk, np WHERE rk.rn <= np.k),
      |k AS (SELECT w.doc_id, w.w FROM w JOIN fw ON fw.w = w.w)
      |SELECT a.w AS a, b.w AS b, CAST(COUNT(*) AS BIGINT) AS support
      |FROM k a JOIN k b ON a.doc_id = b.doc_id AND a.w < b.w
      |GROUP BY a.w, b.w ORDER BY support DESC, a, b LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q181
  /** Positional phrase search — the exact-PHRASE retrieval member the text
    * family lacked: q110's BM25 is bag-of-words (it cannot distinguish
    * "table hash" from "hash table"), while contamination/benchmark-leak
    * audits and boilerplate mining need exact-adjacency matching. The
    * classic engine: a positional inverted index (token, doc_id, pos) and
    * phrase execution as a postings SELF-JOIN on (doc_id, pos+1).
    *
    * Scale shape: postings are corpus-sized, but BOTH join sides are
    * filtered to the query phrases' token sets BEFORE any exchange — the
    * join moves only the postings of the ≤ 6 queried tokens (in a real
    * deployment the postings table is bucketed by token, making this a
    * pruned scan). The phrase table itself is a broadcast of 3 rows, and
    * a final left join back to it keeps zero-hit phrases in the census
    * instead of silently dropping them. No window, no global sort; one
    * hash aggregation per phrase.
    */
  private val q181: Q = (s, d) => {
    import s.implicits._
    val phrases = Seq(("table", "hash"), ("part", "filter"), ("merge", "group"))
    val ph = phrases.toDF("t1", "t2")
      .withColumn("phrase", concat_ws(" ", col("t1"), col("t2")))
    val postings = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val left = postings.filter(col("tok").isin(phrases.map(_._1).distinct: _*))
    val right = postings.filter(col("tok").isin(phrases.map(_._2).distinct: _*))
      .select(col("doc_id").as("doc_id2"), col("pos").as("pos2"),
        col("tok").as("tok2"))
    val occ = left.join(right,
        col("doc_id") === col("doc_id2") && col("pos2") === col("pos") + lit(1))
      .join(broadcast(ph), col("tok") === col("t1") && col("tok2") === col("t2"))
      .groupBy(col("phrase"))
      .agg(countDistinct(col("doc_id")).as("d"), count(lit(1)).as("o"))
    ph.select(col("phrase")).join(occ, Seq("phrase"), "left")
      .select(col("phrase"),
        coalesce(col("d"), lit(0L)).as("n_docs"),
        coalesce(col("o"), lit(0L)).as("total_occ"))
      .orderBy(col("phrase"))
  }

  private val q181Sql =
    """WITH ph(phrase, t1, t2) AS (VALUES
      |    ('table hash', 'table', 'hash'),
      |    ('part filter', 'part', 'filter'),
      |    ('merge group', 'merge', 'group')),
      |d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |occ AS (SELECT ph.phrase, d.doc_id,
      |    len(list_filter(range(1, len(w)),
      |        i -> w[i] = ph.t1 AND w[i + 1] = ph.t2)) AS c
      |  FROM d CROSS JOIN ph)
      |SELECT phrase,
      |  CAST(COUNT(CASE WHEN c > 0 THEN 1 END) AS BIGINT) AS n_docs,
      |  CAST(SUM(c) AS BIGINT) AS total_occ
      |FROM occ GROUP BY phrase ORDER BY phrase""".stripMargin

  // ---------------------------------------------------------------- q200
  /** PMI collocation mining — the NORMALIZED companion to q31's raw
    * bigram counts: pointwise mutual information
    * PMI(x,y) = ln(p(x,y) / (p(x)·p(y))) scores how much more often two
    * words appear ADJACENT than their marginal frequencies predict, the
    * standard collocation/phrase-discovery statistic (raw counts just
    * resurface the head of the unigram distribution; PMI surfaces the
    * genuinely bound pairs). Support floor c_xy ≥ 20 kills the
    * low-count PMI explosion (a hapax pair has near-maximal PMI), then
    * top-20 under the (pmi_micro DESC, bigram) total order.
    *
    * Integer-exactness: counts are exact; the single log is the
    * q121/q124 floor-ln micro-nat of one IDENTICAL double ratio of
    * integers in both engines —
    * pmi_micro = floor(10⁶·ln((c_xy·T_u·T_u) / (c_x·c_y·T_bg))) — and is
    * never divided further, so its (possibly negative) sign needs no
    * truncation-direction care.
    *
    * Scale shape: two corpus passes (unigram + bigram hash aggs, both
    * map-side combined), each collapsing to a VOCABULARY-sized frame
    * that is eagerly localCheckpoint'ed — every downstream consumer
    * (the two 1-row totals, the two marginal joins) reuses the
    * materialized counts instead of replaying the corpus (the q189
    * one-corpus-pass discipline; checkpointed frames are vocab- and
    * vocab²-bounded, NOT corpus-sized). Marginals attach via broadcast
    * joins on the word key; totals ride 1-row broadcast cross-joins;
    * the top-20 is TakeOrderedAndProject, never a global sort. */
  private val q200: Q = (s, d) => {
    graft.GraftExtensions.install(s)
    val uniCounts = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
      .localCheckpoint(true)
    val bgCounts = Tables.documents(s, d)
      .filter(expr("word_count(text) >= 2"))
      .select(explode(expr("word_ngrams(text, 2)")).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("cxy"))
      .localCheckpoint(true)
    val tu = uniCounts.agg(sum(col("cw")).as("tu"))
    val tb = bgCounts.agg(sum(col("cxy")).as("tb"))
    bgCounts.filter(col("cxy") >= 20)
      .withColumn("x", split(col("bigram"), " ")(0))
      .withColumn("y", split(col("bigram"), " ")(1))
      .join(broadcast(uniCounts.select(col("w").as("x"), col("cw").as("cx"))), Seq("x"))
      .join(broadcast(uniCounts.select(col("w").as("y"), col("cw").as("cy"))), Seq("y"))
      .crossJoin(broadcast(tu)).crossJoin(broadcast(tb))
      .select(col("bigram"), col("cxy"), col("cx"), col("cy"),
        expr("CAST(floor(1000000.0 * ln((CAST(cxy AS DOUBLE) * CAST(tu AS DOUBLE) * " +
          "CAST(tu AS DOUBLE)) / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE) * " +
          "CAST(tb AS DOUBLE)))) AS BIGINT)").as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("bigram"))
      .limit(20)
  }

  private val q200Sql =
    """WITH uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cw FROM (
      |    SELECT UNNEST(string_split(text, ' ')) AS w FROM documents) GROUP BY w),
      |bg AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cxy FROM (
      |    SELECT UNNEST(list_transform(range(1, len(w)),
      |        i -> w[i] || ' ' || w[i + 1])) AS bigram
      |    FROM (SELECT string_split(text, ' ') AS w FROM documents)
      |    WHERE len(w) >= 2) GROUP BY bigram),
      |tu AS (SELECT SUM(cw) AS tu FROM uni),
      |tb AS (SELECT SUM(cxy) AS tb FROM bg)
      |SELECT bigram, cxy, ux.cw AS cx, uy.cw AS cy,
      |  CAST(floor(1000000.0 * ln((CAST(cxy AS DOUBLE) * CAST(tu AS DOUBLE) *
      |    CAST(tu AS DOUBLE)) / (CAST(ux.cw AS DOUBLE) * CAST(uy.cw AS DOUBLE) *
      |    CAST(tb AS DOUBLE)))) AS BIGINT) AS pmi_micro
      |FROM bg
      |JOIN uni ux ON ux.w = string_split(bigram, ' ')[1]
      |JOIN uni uy ON uy.w = string_split(bigram, ' ')[2]
      |CROSS JOIN tu CROSS JOIN tb
      |WHERE cxy >= 20
      |ORDER BY pmi_micro DESC, bigram LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q208
  /** Cross-source language-model cross-entropy matrix — the data-MIXING
    * signal (which source looks like which, and how much novelty each
    * adds): train q121's add-one bigram LM on every source, evaluate
    * every source's bigram stream under every model,
    * H(eval‖model) = Σ_t n_eval(t)·ln((C_m(head)+V)/(C_m(t)+1)) / T_eval
    * in floor-ln micro-nats. The diagonal is each source's self-entropy
    * baseline; off-diagonal excess measures distribution shift — the
    * matrix DSIR-style mixture tuning starts from.
    *
    * Exactness: the q121 discipline exactly — per-term
    * floor(10⁶·ln(integer ratio)) with identical operands in both
    * engines (C_bg ≤ C_head always, so the ratio is ≥ 1 and every term
    * non-negative: truncation direction agrees), then order-free
    * integer sums and one final div by the token total.
    *
    * Scale shape: TWO corpus passes build the per-source bigram and
    * head count frames (map-side-combined hash aggs, vocab²·sources and
    * vocab·sources rows, both eagerly checkpointed — each has two
    * consumers: model side and eval side / V-derivation). The matrix
    * assembles entirely on those frames: eval counts cross-join the
    * ≤|sources| model list, LEFT joins attach model counts by (model,
    * bigram)/(model, head) key (unseen → 0 via coalesce, the smoothing
    * handles it), and one (model, eval) hash agg emits ≤|sources|² rows.
    * The corpus is never touched after the two builds. */
  private val q208: Q = (s, d) => {
    graft.GraftExtensions.install(s)
    val bgCounts = Tables.documents(s, d)
      .filter(expr("word_count(text) >= 2"))
      .select(col("source"), explode(expr("word_ngrams(text, 2)")).as("bigram"))
      .groupBy(col("source"), col("bigram")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val headCounts = Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("head"))
      .filter(col("head") =!= "")
      .groupBy(col("source"), col("head")).agg(count(lit(1)).as("nh"))
      .localCheckpoint(true)
    val vDf = headCounts.select(col("head")).distinct()
      .agg(count(lit(1)).as("v"))
    val models = bgCounts.select(col("source").as("model_src")).distinct()
    val terms = bgCounts
      .select(col("source").as("eval_src"), col("bigram"), col("n"),
        substring_index(col("bigram"), " ", 1).as("head"))
      .crossJoin(broadcast(models))
      .join(broadcast(bgCounts.select(col("source").as("model_src"),
        col("bigram"), col("n").as("c_bg"))), Seq("model_src", "bigram"), "left")
      .join(broadcast(headCounts.select(col("source").as("model_src"),
        col("head"), col("nh").as("c_uni"))), Seq("model_src", "head"), "left")
      .crossJoin(broadcast(vDf))
      .select(col("model_src"), col("eval_src"), col("n"),
        expr("CAST(floor(1000000.0 * ln(CAST(coalesce(c_uni, 0L) + v AS DOUBLE) / " +
          "CAST(coalesce(c_bg, 0L) + 1 AS DOUBLE))) AS BIGINT)").as("lnm"))
    // Overflow bound for the Σ n·lnm accumulator (the q198/q214 Guard
    // discipline): lnm >= 0 here (c_bg <= c_uni and v >= 1 make the ratio
    // >= 1), so Σ n·lnm <= (Σn)·max(lnm); requiring t_bigrams <=
    // Long.MaxValue div (max_lnm + 1) proves the sum never wrapped —
    // trips past ~5·10^11 bigrams per (model, eval) cell at the ~1.6·10^7
    // µnat ceiling of a 10^7-word vocabulary; DECIMAL(38) is the
    // documented promotion beyond.
    val cells = terms.groupBy(col("model_src"), col("eval_src"))
      .agg(sum(col("n")).as("t_bigrams"),
        expr("SUM(n * lnm) div SUM(n)").as("xent_micro"),
        max(col("lnm")).as("max_lnm"))
    graft.functions.Guard.require(cells,
        col("t_bigrams") <= expr("9223372036854775807L div (max_lnm + 1)"),
        "q208: SUM(n * lnm) would overflow Long for this (model, eval) " +
          "cell - promote the cross-entropy accumulation to DECIMAL(38)")
      .select(col("model_src"), col("eval_src"), col("t_bigrams"), col("xent_micro"))
      .orderBy(col("model_src"), col("eval_src"))
  }

  private val q208Sql =
    """WITH bg AS (SELECT source, bigram, CAST(COUNT(*) AS BIGINT) AS n FROM (
      |    SELECT source, UNNEST(list_transform(range(1, len(w)),
      |        i -> w[i] || ' ' || w[i + 1])) AS bigram
      |    FROM (SELECT source, string_split(text, ' ') AS w FROM documents)
      |    WHERE len(w) >= 2) GROUP BY source, bigram),
      |hc AS (SELECT source, head, CAST(COUNT(*) AS BIGINT) AS nh FROM (
      |    SELECT source, UNNEST(string_split(text, ' ')) AS head FROM documents)
      |  WHERE head <> '' GROUP BY source, head),
      |v AS (SELECT CAST(COUNT(DISTINCT head) AS BIGINT) AS v FROM hc),
      |models AS (SELECT DISTINCT source AS model_src FROM bg),
      |terms AS (SELECT m.model_src, e.source AS eval_src, e.n,
      |    CAST(floor(1000000.0 * ln(CAST(COALESCE(h.nh, 0) + v.v AS DOUBLE) /
      |      CAST(COALESCE(mb.n, 0) + 1 AS DOUBLE))) AS BIGINT) AS lnm
      |  FROM bg e
      |  CROSS JOIN models m
      |  LEFT JOIN bg mb ON mb.source = m.model_src AND mb.bigram = e.bigram
      |  LEFT JOIN hc h ON h.source = m.model_src
      |    AND h.head = string_split(e.bigram, ' ')[1]
      |  CROSS JOIN v)
      |SELECT model_src, eval_src, CAST(SUM(n) AS BIGINT) AS t_bigrams,
      |  CAST(SUM(n * lnm) // SUM(n) AS BIGINT) AS xent_micro
      |FROM terms GROUP BY model_src, eval_src
      |ORDER BY model_src, eval_src""".stripMargin

  // ---------------------------------------------------------------- q215
  /** Exact AUC by rank-sum (Mann–Whitney U) — the CLASSIFIER-EVAL
    * operator the curation stack was missing: every quality/weak-label
    * score in this repo (q33, q141, q148) eventually gets thresholded,
    * and AUC is the threshold-free answer to "does the score separate
    * the classes at all?". Here: does quality_ppm separate lang = 'en'
    * documents from the rest? AUC = P(score_pos > score_neg) + ½ ties,
    * computed EXACTLY in integers — never a sampled estimate:
    * auc2 = Σ_s [2·np(s)·below(s) + np(s)·nn(s)] over distinct scores,
    * auc_ppm = auc2·10⁶ div (2·NP·NN).
    *
    * The rank machinery is the q212 two-level prefix sum, reused because
    * `below(s)` (negatives strictly under score s) is a GLOBAL running
    * sum over the score domain and partition-less windows are banned:
    * within-block (score div 4096) cumulative under a block-partitioned
    * window, block offsets from a broadcast theta self-join over the
    * ≤245-block frame. Everything after the one corpus scan is
    * score-domain-bounded. Guard: auc2·10⁶ needs NP·NN ≤ 4.6·10¹² —
    * fails loudly past ~4M docs per class (DECIMAL(38) is the
    * promotion). */
  private val q215: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val perScore = withQualityPpm(Tables.documents(s, d))
      .select(col("quality_ppm").as("sc"),
        (col("lang") === "en").cast("long").as("pos"))
      .groupBy(col("sc"))
      .agg(sum(col("pos")).as("np"),
        (count(lit(1)) - sum(col("pos"))).as("nn"))
      .withColumn("blk", expr("sc div 4096"))
      .localCheckpoint(true) // score-domain-bounded; three consumers below
    val wB = Window.partitionBy(col("blk")).orderBy(col("sc"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCum = perScore.withColumn("cumw", sum(col("nn")).over(wB))
    val blkTot = perScore.groupBy(col("blk")).agg(sum(col("nn")).as("bn"))
    val off = blkTot.as("a")
      .join(broadcast(blkTot.as("b")), col("b.blk") < col("a.blk"), "left")
      .groupBy(col("a.blk").as("blk"))
      .agg(coalesce(sum(col("b.bn")), lit(0L)).as("off"))
    val tot = perScore.agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"))
    val auc2 = withCum.join(broadcast(off), Seq("blk"))
      .select(col("np"), col("nn"), (col("off") + col("cumw") - col("nn")).as("below"))
      .agg(sum(expr("2 * np * below + np * nn")).as("auc2"))
    // Long.MaxValue div (2 * 10^6): auc2 <= 2*n_pos*n_neg, so auc2*10^6
    // stays in Long iff n_pos*n_neg <= this bound (round-12 advisor: the
    // first cut was 1000x too lax and let a silent-overflow window open).
    graft.functions.Guard.require(auc2.crossJoin(broadcast(tot)),
        expr("n_pos * n_neg") <= lit(4611686018427L),
        "q215: auc2 * 10^6 would overflow Long past ~4.6e12 pos*neg pairs " +
          "- promote the AUC arithmetic to DECIMAL(38)")
      .select(col("n_pos"), col("n_neg"),
        expr("auc2 * 1000000 div (2 * n_pos * n_neg)").as("auc_ppm"))
  }

  private val q215Sql =
    s"""WITH $qualityPpmCte,
       |ps AS (SELECT quality_ppm AS sc,
       |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS np,
       |    CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS nn
       |  FROM qual GROUP BY quality_ppm),
       |cum AS (SELECT sc, np, nn,
       |    SUM(nn) OVER (ORDER BY sc) - nn AS below
       |  FROM ps),
       |tot AS (SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
       |               CAST(SUM(nn) AS BIGINT) AS n_neg FROM ps),
       |a2 AS (SELECT CAST(SUM(2 * np * below + np * nn) AS BIGINT) AS auc2 FROM cum)
       |SELECT n_pos, n_neg,
       |  CAST(auc2 * 1000000 // (2 * n_pos * n_neg) AS BIGINT) AS auc_ppm
       |FROM a2, tot""".stripMargin

  val queries: Map[String, Q] = Map(
    "q215_auc_ranksum" -> q215,
    "q181_phrase_search" -> q181,
    "q208_source_crossentropy" -> q208,
    "q200_pmi_collocations" -> q200,
    "q145_copair_mining" -> q145,
    "q138_bpe_merge_candidates" -> q138,
    "q194_bpe_vocab_trainer" -> q194,
    "q195_bpe_tokenize_audit" -> q195,
    "q197_byte_entropy" -> q197,
    "q121_bigram_lm_surprisal" -> q121,
    "q118_token_accounting" -> q118,
    "q119_countmin_sketch" -> q119,
    "q110_bm25_retrieval" -> q110,
    "q190_hybrid_rrf" -> q190,
    "q99_zipf_vocab" -> q99,
    "q105_heavy_hitters" -> q105,
    "q84_corpus_cleaning" -> q84,
    "q91_weighted_mix_sample" -> q91,
    "q92_sequence_packing" -> q92,
    "q30_wordcount_topk" -> q30,
    "q31_bigrams_topk" -> q31,
    "q32_lang_id_heuristic" -> q32,
    "q33_quality_score" -> q33,
    "q34_fingerprint_md5" -> q34,
    "q39_token_stats" -> q39,
    "q65_fingerprint_rolling" -> q65,
    "q68_tfidf_top_terms" -> q68,
    "q69_levenshtein_neardup" -> q69)

  val oracle: Map[String, String] = Map(
    "q215_auc_ranksum" -> q215Sql,
    "q181_phrase_search" -> q181Sql,
    "q208_source_crossentropy" -> q208Sql,
    "q200_pmi_collocations" -> q200Sql,
    "q145_copair_mining" -> q145Sql,
    "q138_bpe_merge_candidates" -> q138Sql,
    "q194_bpe_vocab_trainer" -> q194Sql,
    "q195_bpe_tokenize_audit" -> q195Sql,
    "q197_byte_entropy" -> q197Sql,
    "q121_bigram_lm_surprisal" -> q121Sql,
    "q118_token_accounting" -> q118Sql,
    "q119_countmin_sketch" -> q119Sql,
    "q110_bm25_retrieval" -> q110Sql,
    "q190_hybrid_rrf" -> q190Sql,
    "q99_zipf_vocab" -> q99Sql,
    "q105_heavy_hitters" -> q105Sql,
    "q84_corpus_cleaning" -> q84Sql,
    "q91_weighted_mix_sample" -> q91Sql,
    "q92_sequence_packing" -> q92Sql,
    "q30_wordcount_topk" -> q30Sql,
    "q31_bigrams_topk" -> q31Sql,
    "q32_lang_id_heuristic" -> q32Sql,
    "q33_quality_score" -> q33Sql,
    "q34_fingerprint_md5" -> q34Sql,
    "q39_token_stats" -> q39Sql,
    "q65_fingerprint_rolling" -> q65Sql,
    "q68_tfidf_top_terms" -> q68Sql,
    "q69_levenshtein_neardup" -> q69Sql)
}
