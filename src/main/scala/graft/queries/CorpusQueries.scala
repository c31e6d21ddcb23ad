package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators a large-scale training-data pipeline needs
  * beyond counting and dedup: unicode canonicalization, PII redaction,
  * repetition-based quality filtering (the Gopher rules), deterministic
  * train/val/test splitting, and exact substring-window dedup.
  *
  * All are per-row expressions plus hash aggregates — shuffle only on the
  * final group key — so they scale linearly with input splits. The document
  * table is plain ASCII word soup, so where an operator's interesting input
  * (combining accents, emails, IPs) does not occur naturally, the query
  * synthesizes it DETERMINISTICALLY from (text, doc_id) and the oracle SQL
  * replays the identical synthesis — both engines see the same bytes.
  */
object CorpusQueries {
  type Q = (SparkSession, String) => DataFrame

  import graft.functions.PortableHash.md5Bucket60

  // ---------------------------------------------------------------- q94
  /** Unicode NFC normalization ([[graft.functions.NfcNormalize]], a codegen
    * Expression — Spark has no built-in). Every third document is mutated
    * to the DECOMPOSED form (a + U+0301 combining acute); NFC recomposes it
    * to precomposed U+00E1, shrinking the code-point count back. The other
    * documents exercise the allocation-free already-normalized fast path.
    * Fingerprints of the normalized text are md5, portable to DuckDB's
    * `nfc_normalize`. */
  private val q94: Q = (s, d) => {
    graft.GraftExtensions.install(s)
    Tables.documents(s, d)
      // lengths cast to long: Spark length() is INT where DuckDB's is
      // BIGINT - the round-14 type sweep flagged the width mismatch
      .select(col("doc_id"), length(col("text")).cast("long").as("n_raw"),
        when(col("doc_id") % 3 === 0,
          expr("replace(text, 'a', 'á')")).otherwise(col("text")).as("m"))
      .select(col("doc_id"), col("n_raw"),
        length(col("m")).cast("long").as("n_decomposed"),
        expr("nfc_normalize(m)").as("nfc"))
      .select(col("doc_id"), col("n_raw"), col("n_decomposed"),
        length(col("nfc")).cast("long").as("n_nfc"),
        md5(col("nfc")).as("norm_fp"))
      .orderBy(col("doc_id"))
  }

  private val q94Sql =
    """WITH m AS (SELECT doc_id, length(text) AS n_raw,
      |  CASE WHEN doc_id % 3 = 0 THEN replace(text, 'a', 'a' || chr(769))
      |       ELSE text END AS m FROM documents)
      |SELECT doc_id, n_raw, length(m) AS n_decomposed,
      | length(nfc_normalize(m)) AS n_nfc, md5(nfc_normalize(m)) AS norm_fp
      |FROM m ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q95
  /** PII redaction: emails, IPv4 addresses, and phone-shaped tokens are
    * replaced with typed placeholders and counted. The PII is injected
    * deterministically per doc_id (the corpus has none), redaction order is
    * fixed (email → ip → phone), and the patterns stay inside the regex
    * subset Java and RE2 share — no backreferences, no lookaround — so the
    * oracle replays redaction byte-for-byte. Per-row regex work with no
    * shuffle at all: the 100 TB cost model is one codegen stage. */
  private val q95: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com from 10."),
          (col("doc_id") % 256).cast("string"),
          lit(".0.7 call 555-"),
          lpad(col("doc_id").cast("string"), 4, "0")).as("t"))
      .select(col("doc_id"),
        regexp_count(col("t"), lit(EmailRe)).cast("long").as("n_email"),
        regexp_replace(col("t"), EmailRe, "<EMAIL>").as("t1"))
      .select(col("doc_id"), col("n_email"),
        regexp_count(col("t1"), lit(Ipv4Re)).cast("long").as("n_ip"),
        regexp_replace(col("t1"), Ipv4Re, "<IP>").as("t2"))
      .select(col("doc_id"), col("n_email"), col("n_ip"),
        regexp_count(col("t2"), lit(PhoneRe)).cast("long").as("n_phone"),
        md5(regexp_replace(col("t2"), PhoneRe, "<PHONE>")).as("red_fp"))
      .orderBy(col("doc_id"))

  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  private val PhoneRe = "555-[0-9]{4}"

  private val q95Sql =
    s"""WITH t AS (SELECT doc_id, text || ' contact user' || doc_id ||
       |  '@mail.example.com from 10.' || (doc_id % 256) ||
       |  '.0.7 call 555-' || lpad(CAST(doc_id AS VARCHAR), 4, '0') AS t
       | FROM documents),
       |r1 AS (SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '$EmailRe')) AS BIGINT) AS n_email,
       |  regexp_replace(t, '$EmailRe', '<EMAIL>', 'g') AS t1 FROM t),
       |r2 AS (SELECT doc_id, n_email,
       |  CAST(len(regexp_extract_all(t1, '$Ipv4Re')) AS BIGINT) AS n_ip,
       |  regexp_replace(t1, '$Ipv4Re', '<IP>', 'g') AS t2 FROM r1)
       |SELECT doc_id, n_email, n_ip,
       |  CAST(len(regexp_extract_all(t2, '$PhoneRe')) AS BIGINT) AS n_phone,
       |  md5(regexp_replace(t2, '$PhoneRe', '<PHONE>', 'g')) AS red_fp
       |FROM r2 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q96
  /** Repetition-based quality signals (the Gopher filtering rules): top-word
    * mass, duplicate-word mass, and top-bigram mass per document. Two hash
    * aggregates keyed by (doc_id, gram) then doc_id — fully parallel, and
    * the ratios are single IEEE divisions of exact integer counts. */
  private val q96: Q = (s, d) => {
    graft.GraftExtensions.install(s)
    val docs = Tables.documents(s, d)
    val wc = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_c"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_c"))
    val bc = docs
      .select(col("doc_id"), explode(expr("word_ngrams(text, 2)")).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_bc"))
    wc.join(bc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"), col("n_distinct"),
        round(col("top_c") / col("n_words"), 6).as("top_word_frac"),
        round(col("dup_c") / col("n_words"), 6).as("dup_word_frac"),
        round(coalesce(col("top_bc"), lit(0L)) /
          coalesce(col("n_bigrams"), lit(1L)), 6).as("top_bigram_frac"))
      .orderBy(col("doc_id"))
  }

  private val q96Sql =
    """WITH w AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents),
      |wc AS (SELECT doc_id, w, COUNT(*) AS c FROM w WHERE w <> '' GROUP BY doc_id, w),
      |pw AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
      |  COUNT(*) AS n_distinct, MAX(c) AS top_c,
      |  CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_c
      | FROM wc GROUP BY doc_id),
      |b AS (SELECT doc_id,
      |  UNNEST(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])) AS b
      | FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
      |bcnt AS (SELECT doc_id, b, COUNT(*) AS c FROM b GROUP BY doc_id, b),
      |pb AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams, MAX(c) AS top_bc
      | FROM bcnt GROUP BY doc_id)
      |SELECT pw.doc_id, pw.n_words, pw.n_distinct,
      | round(top_c / n_words, 6) AS top_word_frac,
      | round(dup_c / n_words, 6) AS dup_word_frac,
      | round(COALESCE(top_bc, 0) / COALESCE(n_bigrams, 1), 6) AS top_bigram_frac
      |FROM pw LEFT JOIN pb ON pw.doc_id = pb.doc_id ORDER BY pw.doc_id""".stripMargin

  // ---------------------------------------------------------------- q97
  /** Deterministic train/val/test split: a 60-bit md5 bucket of doc_id mod
    * 100 → 80/10/10. Hash-based splitting is the only assignment that stays
    * stable under re-partitioning, re-ordering, and incremental re-runs at
    * 100 TB — row_number-based splits are none of those. Output is the
    * per-(split, source) census used to audit stratification drift. */
  private val q97: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("source"), col("n_chars"),
        (md5Bucket60(col("doc_id").cast("string")) % 100).as("b"))
      .select(col("source"), col("n_chars"),
        when(col("b") < 80, "train").when(col("b") < 90, "val")
          .otherwise("test").as("split"))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("split"), col("source"))

  private val q97Sql =
    """WITH b AS (SELECT source, n_chars,
      |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
      | FROM documents)
      |SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
      | source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM b GROUP BY 1, 2 ORDER BY split, source""".stripMargin

  // ---------------------------------------------------------------- q100
  /** Exact substring-window dedup — the Spark-shaped analogue of
    * suffix-array substring dedup (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better"): every 50-char window at stride 10 is
    * hashed; a window seen in ≥2 distinct documents marks both as sharing
    * boilerplate. Stride sampling is the scale knob (stride 1 = exact, the
    * sf run uses 10); windows travel as 60-bit hashes so the shuffle
    * carries 8 bytes, not 50-char strings. */
  private val q100: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val wd = docs.filter(length(col("text")) >= 50)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, length(text) - 49, 10), p -> substring(text, p, 50))"))
        .as("win"))
      .select(col("doc_id"), md5Bucket60(col("win")).as("wh"))
      .distinct()
    val shared = wd.groupBy(col("wh"))
      .agg(count(lit(1)).as("nd")).filter(col("nd") >= 2)
      .select(col("wh"), lit(1L).as("is_shared"))
    val per = wd.join(shared, Seq("wh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_win"),
        sum(coalesce(col("is_shared"), lit(0L))).as("n_shared"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_win"), lit(0L)).as("n_win"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("has_shared"))
      .orderBy(col("doc_id"))
  }

  private val q100Sql =
    """WITH w AS (SELECT doc_id,
      |  UNNEST(list_transform(generate_series(1, length(text) - 49, 10),
      |    p -> substr(text, p, 50))) AS win
      | FROM documents WHERE length(text) >= 50),
      |wd AS (SELECT DISTINCT doc_id,
      |  CAST(('0x' || substr(md5(win), 1, 15)) AS BIGINT) AS wh FROM w),
      |sh AS (SELECT wh FROM wd GROUP BY wh HAVING COUNT(*) >= 2),
      |per AS (SELECT wd.doc_id, COUNT(*) AS n_win,
      |  CAST(SUM(CASE WHEN sh.wh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
      | FROM wd LEFT JOIN sh ON wd.wh = sh.wh GROUP BY wd.doc_id)
      |SELECT d.doc_id, COALESCE(per.n_win, 0) AS n_win,
      | COALESCE(per.n_shared, 0) AS n_shared,
      | COALESCE(per.n_shared, 0) > 0 AS has_shared
      |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q102
  /** Stratified exact sampling: exactly ceil(20%) of each source stratum,
    * chosen by md5 order — deterministic under re-partitioning and re-runs
    * (rand()-based sampling is neither), which is what makes a training
    * mixture reproducible. The window is PARTITIONED by source (bounded per
    * stratum, scale-safe); completes the sampling family next to q73's
    * global hash buckets and q91's weighted mix. */
  private val q102: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("_h"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        md5Bucket60(col("doc_id").cast("string")).as("_h"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n_src", count(lit(1)).over(Window.partitionBy(col("source"))))
      .filter(col("rn") <= expr("(n_src + 4) div 5"))
      .select(col("doc_id"), col("source"), col("rn"))
      .orderBy(col("doc_id"))
  }

  private val q102Sql =
    """WITH h AS (SELECT doc_id, source,
      |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      | FROM documents),
      |r AS (SELECT doc_id, source,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS rn,
      |  COUNT(*) OVER (PARTITION BY source) AS n_src FROM h)
      |SELECT doc_id, source, rn FROM r
      |WHERE rn <= (n_src + 4) // 5 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q106
  /** Mixture REBALANCING: downsample every source stratum toward the
    * uniform target share (total/n_sources docs each), accepting documents
    * whose 60-bit hash clears a per-source threshold. The acceptance test
    * is EXACT integer arithmetic — keep iff h·n_src < target·2⁶⁰, compared
    * in DECIMAL(38) on the Spark side and HUGEINT in DuckDB — so no float
    * boundary can flip a document between engines or between runs. Strata
    * below target keep everything (min(1, ·) by construction). Hash-based
    * acceptance keeps the mixture reproducible and incrementally stable:
    * re-running over a grown corpus keeps previously accepted docs
    * accepted as long as the stratum's share did not shrink. */
  private val q106: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        md5Bucket60(col("doc_id").cast("string")).as("h"))
    val bySrc = docs.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
    // integer division on BOTH sides (Spark div / DuckDB // truncate alike);
    // float division + cast would round differently per engine
    val target = bySrc.agg(expr("sum(n_src) div count(1)").as("target_n"))
    // exact integer acceptance: h·n_src < target·2⁶⁰, in decimals sized so
    // no product can hit Spark's precision-loss cap (h<2⁶⁰: 19 digits,
    // n_src: 10, target: 11 → products of 30/31 digits, well inside 38)
    val Pow60 = lit(1152921504606846976L) // 2^60
    val kept = docs.join(bySrc, Seq("source")).crossJoin(broadcast(target))
      .filter(col("h").cast("decimal(19,0)") * col("n_src").cast("decimal(10,0)") <
        col("target_n").cast("decimal(11,0)") * Pow60.cast("decimal(19,0)"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
    bySrc.crossJoin(broadcast(target))
      .join(kept, Seq("source"), "left")
      .select(col("source"), coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("n_src"), col("target_n"))
      .orderBy(col("source"))
  }

  private val q106Sql =
    """WITH h AS (SELECT doc_id, source,
      |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      | FROM documents),
      |b AS (SELECT source, COUNT(*) AS n_src FROM h GROUP BY source),
      |t AS (SELECT CAST(SUM(n_src) // COUNT(*) AS BIGINT) AS target_n FROM b),
      |kept AS (SELECT h.source, COUNT(*) AS n_kept
      |         FROM h JOIN b ON b.source = h.source, t
      |         WHERE CAST(h.h AS HUGEINT) * b.n_src <
      |               CAST(t.target_n AS HUGEINT) * CAST(1152921504606846976 AS HUGEINT)
      |         GROUP BY h.source)
      |SELECT b.source, COALESCE(k.n_kept, 0) AS n_kept, b.n_src, t.target_n
      |FROM b LEFT JOIN kept k ON k.source = b.source, t
      |ORDER BY b.source""".stripMargin

  // ---------------------------------------------------------------- q112
  /** Exact span dedup, CONSTRUCTIVE: where q100 only reports which documents
    * share substring windows, this operator rebuilds the cleaned corpus —
    * the "remove all but one occurrence" step of Lee et al.'s substring
    * dedup, segment-aligned for Spark. Documents are cut into 3-word spans
    * (the span length is the aggressiveness knob; production text uses
    * longer spans); each distinct span keeps only its globally-first
    * occurrence, ordered by the single Long key doc_id·10⁶+pos (exact while
    * docs stay under 10⁶ spans and doc_id under 9.2·10¹²; one MIN per span —
    * no per-span window sort). Surviving spans are reassembled in position
    * order into the cleaned text, fingerprinted with md5 so the oracle
    * checks the exact reconstructed bytes, not just counts.
    * Scale shape: spans shuffle once on the span string for the MIN, once
    * on doc_id for the rebuild; both hash aggregates with map-side partials.
    * The rebuild's collect_list is bounded by document length, never by
    * corpus size. */
  private val q112: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    // Round 16 (guide §2.4/§4): span construction is the codegen
    // word_segments kernel (the old transform/slice/array_join chain ran
    // as an interpreted higher-order lambda), and the keep decision is a
    // min-over-seg-partition WINDOW instead of aggregate + join-back: the
    // old plan generated the span stream TWICE (once per join side) and
    // AQE then broadcast the WRONG side — the full 20 MiB exploded span
    // stream instead of the distinct-span aggregate
    // (plans/r16/q112_*_before.txt op (7) vs _after.txt: one Generate,
    // one seg-keyed exchange, zero broadcasts; a corpus-sized broadcast
    // is also the one piece of the old shape that breaks at 100 TB).
    // min(key) per seg is unchanged, so keep flags and output are
    // byte-identical; the oracle SQL is unchanged.
    graft.GraftExtensions.install(s)
    val segs = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(expr("word_segments(text, 3)")).as(Seq("pos", "seg")))
      .withColumn("key", col("doc_id") * 1000000L + col("pos"))
    segs
      .withColumn("keep",
        col("key") === min(col("key")).over(Window.partitionBy(col("seg"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_seg"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(" +
          "CASE WHEN keep THEN struct(pos, seg) END)), x -> x.seg), ' ')")
          .as("clean"))
      .select(col("doc_id"), col("n_seg"), col("n_kept"),
        length(col("clean")).cast("long").as("clean_len"),
        md5(col("clean").cast("binary")).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  private val q112Sql =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |segs AS (SELECT doc_id, i - 1 AS pos,
      |    array_to_string(list_slice(t, (i-1)*3+1, (i-1)*3+3), ' ') AS seg,
      |    doc_id * 1000000 + i - 1 AS key
      |  FROM toks, UNNEST(generate_series(1, CAST(ceil(len(t) / 3.0) AS INT))) AS v(i)),
      |f AS (SELECT seg, MIN(key) AS keep_key FROM segs GROUP BY seg),
      |kept AS (SELECT s.doc_id, s.pos, s.seg FROM segs s
      |  JOIN f ON f.seg = s.seg AND f.keep_key = s.key),
      |n AS (SELECT doc_id, COUNT(*) AS n_seg FROM segs GROUP BY doc_id),
      |r AS (SELECT doc_id, COUNT(*) AS n_kept,
      |    string_agg(seg, ' ' ORDER BY pos) AS clean FROM kept GROUP BY doc_id)
      |SELECT n.doc_id, n.n_seg, COALESCE(r.n_kept, 0) AS n_kept,
      | CAST(length(COALESCE(r.clean, '')) AS BIGINT) AS clean_len,
      | md5(COALESCE(r.clean, '')) AS clean_md5
      |FROM n LEFT JOIN r ON r.doc_id = n.doc_id ORDER BY n.doc_id""".stripMargin

  // ---------------------------------------------------------------- q113
  /** Cross-source overlap matrix: pairwise Jaccard between each source's
    * distinct 3-shingle set — the corpus-composition audit run before
    * mixing sources into a training set (near-identical sources waste
    * mixture weight; an unexpectedly high overlap often means one crawl
    * ingested another). Scale shape: NO pairwise self-join — each shingle
    * carries its (≤ n_sources, here 20 ⇒ output C(20,2) = 190 pairs)
    * source set out of one hash aggregate, and ordered pairs explode from
    * that bounded array, so work is O(shingles·pairs-per-shingle), never
    * O(shingles²). The quadratic
    * self-join formulation exists only as the DuckDB oracle witness.
    * Jaccard is exact integer ppm (q68 precedent). Zero-overlap pairs are
    * absent from the output (inner semantics, matching the oracle). */
  private val q113: Q = (s, d) => {
    graft.GraftExtensions.install(s)
    // Round 17 (the r16 verdict's item #7): checkpointing the distinct
    // (source, shingle) stream for its two consumers was measured BOTH
    // ways — it wins at sf0.1 (4/4 interleaved pairs, min 1.47 vs 1.75 s)
    // but LOSES at sf1 (3 interleaved pairs: ckpt min 2.86 vs plain 2.21 s
    // with the plain side under higher load), because the distinct's own
    // exchange already carries ≈ the frame itself — materializing saves
    // only the map-side kernel pass (cheap since the substring kernel)
    // while the corpus-linear block round-trip grows with the data. The
    // 100 TB direction governs: NOT checkpointed. Full A/B in
    // OPTIMIZATION_r17.md.
    val sh = Tables.documents(s, d)
      .filter(expr("word_count(text) >= 3"))
      .select(col("source"), explode(expr("word_shingles(text, 3)")).as("shingle"))
      .distinct()
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = sh.groupBy(col("shingle"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .filter(size(col("srcs")) >= 2)
      .select(explode(expr("flatten(transform(srcs, (x, i) -> " +
        "transform(slice(srcs, i + 2, size(srcs)), y -> struct(x AS sa, y AS sb))))"))
        .as("p"))
      .select(col("p.sa").as("sa"), col("p.sb").as("sb"))
      .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("n_inter"))
    inter
      .join(broadcast(sizes.select(col("source").as("sa"), col("n").as("n_a"))), Seq("sa"))
      .join(broadcast(sizes.select(col("source").as("sb"), col("n").as("n_b"))), Seq("sb"))
      .select(col("sa"), col("sb"), col("n_inter"), col("n_a"), col("n_b"),
        expr("n_inter * 1000000 div (n_a + n_b - n_inter)").as("jaccard_ppm"))
      .orderBy(col("sa"), col("sb"))
  }

  private val q113Sql =
    """WITH sh AS (SELECT DISTINCT source, shingle FROM (
      |  SELECT source, UNNEST(list_distinct(list_transform(range(1, len(w) - 1),
      |    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]))) AS shingle
      |  FROM (SELECT source, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 3)),
      |sz AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
      |inter AS (SELECT a.source AS sa, b.source AS sb, COUNT(*) AS n_inter
      |  FROM sh a JOIN sh b ON b.shingle = a.shingle AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT i.sa, i.sb, i.n_inter, za.n AS n_a, zb.n AS n_b,
      | (i.n_inter * 1000000) // (za.n + zb.n - i.n_inter) AS jaccard_ppm
      |FROM inter i JOIN sz za ON za.source = i.sa JOIN sz zb ON zb.source = i.sb
      |ORDER BY sa, sb""".stripMargin

  // ---------------------------------------------------------------- q116
  /** Token-budget data selection — curation under a hard budget: per
    * source, take documents in DESCENDING quality order (q33's exact-ppm
    * score, ties by doc_id) until the cumulative token count would exceed
    * the budget. Because every document has ≥1 token the running sum is
    * strictly increasing, so `cum_tokens <= budget` IS the greedy prefix
    * (no post-overflow backfill). A source whose best document alone
    * overflows the budget selects nothing and drops out of the census —
    * same on both engines.
    *
    * Scale shape: one per-source running-sum window (the q92
    * sequence-packing precedent — partitions are per-source and the window
    * is the operator's semantics; sub-partition by a hash prefix if a
    * single source outgrows an executor) followed by a tiny per-source
    * census. Output is ≤ n_sources rows at any scale factor. */
  private val q116Budget = 800L
  private val q116: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val qual = TextQueries.withQualityPpm(Tables.documents(s, d))
      .select(col("doc_id"), col("source"), col("tokens"), col("quality_ppm"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality_ppm").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    qual.withColumn("cum_tokens", sum(col("tokens")).over(w))
      .filter(col("cum_tokens") <= q116Budget)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_selected"),
        sum(col("tokens")).as("tok_selected"),
        min(col("quality_ppm")).as("cutoff_quality_ppm"))
      .orderBy(col("source"))
  }

  private val q116Sql =
    s"""WITH ${TextQueries.qualityPpmCte},
       |c AS (SELECT source, tokens, quality_ppm,
       |  SUM(tokens) OVER (PARTITION BY source
       |    ORDER BY quality_ppm DESC, doc_id
       |    ROWS UNBOUNDED PRECEDING) AS cum_tokens FROM qual)
       |SELECT source, COUNT(*) AS n_selected,
       | CAST(SUM(tokens) AS BIGINT) AS tok_selected,
       | MIN(quality_ppm) AS cutoff_quality_ppm
       |FROM c WHERE cum_tokens <= $q116Budget
       |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q117
  /** Shingle novelty scoring: for each document, the fraction of its
    * distinct 3-shingles that FIRST appear in it (global first = lowest
    * doc_id owning the shingle) — the marginal-contribution signal used for
    * dedup-aware sampling and curriculum ordering.
    *
    * Scale shape — NO shingle join-back: the per-shingle `min(doc_id)` hash
    * aggregate is immediately re-aggregated by that min (`n_novel(doc) =
    * #shingles whose first owner is doc`), so the only join is doc-keyed
    * against the per-doc shingle census. Two map-side-combinable hash aggs
    * + one tiny-key join; the exploded shingle stream is shuffled once. */
  private val q117: Q = (s, d) => {
    graft.GraftExtensions.install(s)
    // word_shingles output is ALREADY distinct (first-occurrence order, the
    // kernel's contract, pinned in TextKernelsSpec) — the former
    // array_distinct wrapper re-deduplicated an already-unique string array
    // per document, a quadratic-on-strings no-op removed in round 17.
    val docs = Tables.documents(s, d)
      .filter(expr("word_count(text) >= 3"))
      .select(col("doc_id"), expr("word_shingles(text, 3)").as("sh"))
    val perDoc = docs.select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"))
    val novel = docs.select(col("doc_id"), explode(col("sh")).as("shingle"))
      .groupBy(col("shingle")).agg(min(col("doc_id")).as("first_doc"))
      .groupBy(col("first_doc")).agg(count(lit(1)).as("n_novel"))
    perDoc.join(novel, col("doc_id") === col("first_doc"), "left")
      .select(col("doc_id"), col("n_sh"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        expr("coalesce(n_novel, 0L) * 1000000 div n_sh").as("novelty_ppm"))
      .orderBy(col("doc_id"))
  }

  private val q117Sql =
    """WITH sh AS (
      | SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
      |   i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS sh
      | FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      | WHERE len(w) >= 3),
      |f AS (SELECT s, MIN(doc_id) AS first_doc
      |      FROM (SELECT doc_id, UNNEST(sh) AS s FROM sh) GROUP BY s),
      |nv AS (SELECT first_doc, COUNT(*) AS n_novel FROM f GROUP BY first_doc),
      |pd AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh FROM sh)
      |SELECT pd.doc_id, pd.n_sh,
      | COALESCE(nv.n_novel, 0) AS n_novel,
      | COALESCE(nv.n_novel, 0) * 1000000 // pd.n_sh AS novelty_ppm
      |FROM pd LEFT JOIN nv ON nv.first_doc = pd.doc_id
      |ORDER BY pd.doc_id""".stripMargin

  // ---------------------------------------------------------------- q120
  /** Overlapping token-window chunking — the retrieval/pretraining chunker
    * that SPLITS documents (vs q92's whole-document packing, which never
    * does): windows of 64 tokens at stride 48 (16-token overlap so no
    * sentence straddles a hard boundary unseen), last window truncated, a
    * short document yielding exactly one chunk. Chunk count is the closed
    * form 1 + ceil((n − W)/S) for n > W — exact integer `div` on both
    * engines — so chunk ids are deterministic, resumable, and need no
    * window function. Chunks travel as md5 fingerprints, not repeated
    * text (the q100 discipline: never ship O(overlap × corpus) bytes
    * through a shuffle).
    *
    * Scale shape: map-only — split, a bounded `sequence` explode (output
    * rows ≈ n/S per doc, linear in corpus bytes), slice + hash per chunk;
    * no shuffle before the presentation ordering. */
  private val q120: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("k", explode(expr(
        "sequence(0L, CASE WHEN n <= 64 THEN 0L ELSE (n - 17) div 48 END)")))
      .select(col("doc_id"), col("k").as("chunk_id"),
        (col("k") * 48).as("start_tok"),
        least(lit(64L), col("n") - col("k") * 48).as("chunk_tokens"),
        md5(array_join(expr("slice(toks, k * 48 + 1, 64)"), " ")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))

  private val q120Sql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
      |c AS (SELECT doc_id, toks, n,
      |  UNNEST(range(CASE WHEN n <= 64 THEN 1 ELSE (n - 17) // 48 + 1 END)) AS k
      | FROM t)
      |SELECT doc_id, k AS chunk_id, k * 48 AS start_tok,
      | least(64, n - k * 48) AS chunk_tokens,
      | md5(array_to_string(list_slice(toks, k * 48 + 1, k * 48 + 64), ' ')) AS chunk_md5
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  // ---------------------------------------------------------------- q124
  /** DSIR-style data selection via hashed n-gram importance weights
    * (Xie et al., "Data Selection for Language Models via Importance
    * Resampling", arXiv:2302.03169): score each document by how much more
    * likely its features are under a TARGET domain model than under the
    * RAW corpus model, and select documents whose log-ratio is ≥ 0. The
    * target here is the English partition (`lang = 'en'`) standing in for
    * a small high-quality reference corpus; features are word bigrams
    * hashed into 256 buckets (DSIR's dimensionality-reduction trick — the
    * model is a fixed-size vector regardless of vocabulary), both models
    * add-one smoothed over the bucket space.
    *
    * Exactness: q121's floor-micro-nat discipline. The per-feature term
    * ln(p_tgt/p_raw) is computed as ONE ln of an integer-ratio —
    * (c_tgt+1)·(T_raw+B) / (c_raw+1)·(T_tgt+B) — whose operands are exact
    * Long products (< 2⁵³, so the doubles fed to ln are identical in both
    * engines; at 100 TB counts the products would need the int128 or
    * log-sum form — noted, not simulated), then FLOOR(·10⁶) to integer
    * micro-nats; all downstream sums are Long. Sign of the summed
    * micro-nat weight decides selection — engine-exact, no float compare.
    *
    * Scale shape: the model is TWO map-side-combinable hash aggs over the
    * hashed-bucket stream (256-row result regardless of corpus size),
    * materialized eagerly (localCheckpoint — totals become plan literals,
    * the q121 precedent) and BROADCAST to the scoring join; the corpus
    * streams through explode → hash → join → per-doc sum, shuffling only
    * (doc_id) partial sums. Three corpus passes, none pair-joined. */
  private val q124: Q = (s, d) => {
    graft.GraftExtensions.install(s)
    val B = 256
    val docs = Tables.documents(s, d).filter(expr("word_count(text) >= 2"))
    val feats = docs.select(col("doc_id"), col("lang"),
        explode(expr("word_ngrams(text, 2)")).as("bigram"))
      .withColumn("bucket", pmod(md5Bucket60(col("bigram")), lit(B.toLong)))
    val raw = feats.groupBy(col("bucket")).agg(count(lit(1)).as("c_raw"))
    val tgt = feats.filter(col("lang") === "en")
      .groupBy(col("bucket")).agg(count(lit(1)).as("c_tgt"))
    val model = raw.join(tgt, Seq("bucket"), "left")
      .select(col("bucket"), col("c_raw"),
        coalesce(col("c_tgt"), lit(0L)).as("c_tgt"))
      .localCheckpoint(true)
    val tots = model.agg(sum(col("c_tgt")), sum(col("c_raw"))).head()
    val (tTgt, tRaw) = (tots.getLong(0), tots.getLong(1))
    feats
      .join(broadcast(model), Seq("bucket"))
      .select(col("doc_id"),
        expr(s"CAST(floor(ln(CAST((c_tgt + 1) * ${tRaw + B}L AS DOUBLE) / " +
          s"CAST((c_raw + 1) * ${tTgt + B}L AS DOUBLE)) * 1000000) AS BIGINT)")
          .as("lw"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("lw")).as("lw_sum_micro"))
      .select(col("doc_id"), col("n_feats"), col("lw_sum_micro"),
        (col("lw_sum_micro") >= 0L).cast("long").as("selected"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB replay: same hashed buckets (60-bit md5 % 256 — non-negative,
    * so `%` == pmod), same smoothed integer-ratio ln, same floor. */
  private val q124Sql =
    """WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
      |bg AS (SELECT doc_id, lang,
      |  UNNEST(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])) AS bigram
      | FROM w WHERE len(ws) >= 2),
      |f AS (SELECT doc_id, lang,
      |  CAST(('0x' || substr(md5(bigram), 1, 15)) AS BIGINT) % 256 AS bucket FROM bg),
      |raw AS (SELECT bucket, COUNT(*) AS c_raw FROM f GROUP BY bucket),
      |tgt AS (SELECT bucket, COUNT(*) AS c_tgt FROM f WHERE lang = 'en' GROUP BY bucket),
      |m AS (SELECT r.bucket, r.c_raw, COALESCE(t.c_tgt, 0) AS c_tgt
      |      FROM raw r LEFT JOIN tgt t ON t.bucket = r.bucket),
      |tot AS (SELECT CAST(SUM(c_tgt) AS BIGINT) AS t_tgt,
      |               CAST(SUM(c_raw) AS BIGINT) AS t_raw FROM m),
      |sc AS (SELECT f.doc_id,
      |  CAST(floor(ln(CAST((m.c_tgt + 1) * (tot.t_raw + 256) AS DOUBLE)
      |           / CAST((m.c_raw + 1) * (tot.t_tgt + 256) AS DOUBLE)) * 1000000) AS BIGINT) AS lw
      | FROM f JOIN m ON m.bucket = f.bucket, tot)
      |SELECT doc_id, COUNT(*) AS n_feats, CAST(SUM(lw) AS BIGINT) AS lw_sum_micro,
      | CAST(CASE WHEN SUM(lw) >= 0 THEN 1 ELSE 0 END AS BIGINT) AS selected
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q127
  /** Tokenizer vocabulary encoding — the "encode" half of tokenizer
    * training: build a top-K vocabulary (rank by frequency, ties by word —
    * the deterministic contract), map every token occurrence to its vocab
    * id (out-of-vocabulary → 0, the UNK convention), and re-assemble each
    * document's id sequence in position order. Output per doc: token
    * count, OOV count, and the md5 of the comma-joined id sequence — the
    * sequence fingerprint proves the per-position mapping end-to-end
    * (the q112 rebuild discipline: aggregate a checksum, not the
    * megabyte-scale sequence itself).
    *
    * Scale shape: vocab = one map-combinable hash agg + a top-K rank
    * bounded by K (broadcast to the mapping join); the token stream
    * explodes once, joins the K-row vocab, and re-aggregates per doc —
    * position order restored by sorting the COLLECTED (pos, id) structs
    * inside the row, never a global sort. At 100 TB the vocab is built
    * once per corpus snapshot and reused (same plan, stored small side). */
  private val q127: Q = (s, d) => {
    val K = 500
    val docs = Tables.documents(s, d)
    val tok = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
    // top-K rank WITHOUT a partition-less window (the 100 TB one-task
    // trap QueryInventorySpec forbids): bound the candidate set to K rows
    // first (TakeOrderedAndProject), then stamp ids with GlobalIndex's
    // range-partition + zipWithIndex numbering.
    val topK = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(K)
    val vocab = graft.functions.GlobalIndex
      .withRowNumber(topK, "id", col("c").desc, col("w"))
      .select(col("w"), col("id"))
    tok.join(broadcast(vocab), Seq("w"), "left")
      .select(col("doc_id"), col("pos"), coalesce(col("id"), lit(0L)).as("id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum((col("id") === 0L).cast("long")).as("n_oov"),
        md5(concat_ws(",",
          expr("transform(array_sort(collect_list(struct(pos, id))), s -> CAST(s.id AS STRING))")))
          .as("ids_md5"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB replay: same rank contract (count DESC, word), same UNK=0,
    * same ordered join of ids into the fingerprint (string_agg ORDER BY
    * pos == Spark's sorted-struct transform). */
  private val q127Sql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |tok AS (SELECT doc_id,
      |  UNNEST(range(1, len(ws) + 1)) AS pos, UNNEST(ws) AS tokw FROM w),
      |vc AS (SELECT tokw AS vw, COUNT(*) AS c FROM tok GROUP BY tokw),
      |vocab AS (SELECT vw, id FROM (
      |   SELECT vw, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, vw) AS BIGINT) AS id FROM vc)
      |  WHERE id <= 500),
      |ids AS (SELECT t.doc_id, t.pos, COALESCE(v.id, 0) AS id
      |        FROM tok t LEFT JOIN vocab v ON v.vw = t.tokw)
      |SELECT doc_id, COUNT(*) AS n_tokens,
      | CAST(SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      | md5(string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos)) AS ids_md5
      |FROM ids GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q133
  /** Aggressive-normalization ("fuzzy exact") dedup: documents are
    * canonicalized — lowercase, strip non-alphanumerics, collapse runs of
    * spaces, trim — before fingerprinting, so case/punctuation/whitespace
    * variants of one document collapse to a single md5 where byte-exact
    * dedup (q35) keeps them all. The corpus has no such variants, so they
    * are synthesized DETERMINISTICALLY per doc_id (upper-case every 3rd
    * doc, punctuation tail every 4th, doubled spaces every 5th) and the
    * oracle replays the identical mutation + normalization chain; exact
    * duplicates planted in the corpus land in different mutation classes,
    * so n_norm_distinct < n_exact_distinct by construction — the operator
    * provably catches what q35 misses. Everything downstream of the
    * per-row normalization travels as md5, never text (the q35 posture):
    * two hash aggregates plus one keeper-sized join, linear at 100 TB.
    * Keeper = min doc_id per normalized group, extracted in the same agg
    * as a struct MIN — no per-group window. */
  private val q133: Q = (s, d) => {
    // canonicalization = the one-pass norm_ascii codegen kernel
    // (functions/AsciiNormKernel, semantics == the lower/strip/collapse/
    // trim regexp chain, pinned by NormAsciiSpec; the chain's four
    // allocating passes were the dominant cost of this scan at sf1)
    graft.GraftExtensions.install(s)
    val n = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"))
      .withColumn("m", when(col("doc_id") % 3 === 0, upper(col("text")))
        .otherwise(col("text")))
      .withColumn("m", when(col("doc_id") % 4 === 0, concat(col("m"), lit(" !!!")))
        .otherwise(col("m")))
      .withColumn("m", when(col("doc_id") % 5 === 0, expr("replace(m, ' ', '  ')"))
        .otherwise(col("m")))
      .select(col("doc_id"), col("source"), md5(col("m")).as("exact_fp"),
        md5(expr("norm_ascii(m)")).as("norm_fp"))
    val perSource = n.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("exact_fp")).as("n_exact_distinct"),
      countDistinct(col("norm_fp")).as("n_norm_distinct"))
    val kept = n.groupBy(col("norm_fp"))
      .agg(min(struct(col("doc_id"), col("source"))).as("k"))
      .groupBy(col("k.source").as("source"))
      .agg(count(lit(1)).as("kept_n"))
    perSource.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_exact_distinct"),
        col("n_norm_distinct"), coalesce(col("kept_n"), lit(0L)).as("n_kept"))
      .orderBy(col("source"))
  }

  private val q133Sql =
    """WITH a AS (SELECT doc_id, source,
      |  CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END AS m FROM documents),
      |b AS (SELECT doc_id, source,
      |  CASE WHEN doc_id % 4 = 0 THEN m || ' !!!' ELSE m END AS m FROM a),
      |c AS (SELECT doc_id, source,
      |  CASE WHEN doc_id % 5 = 0 THEN replace(m, ' ', '  ') ELSE m END AS m FROM b),
      |n AS (SELECT doc_id, source, md5(m) AS exact_fp,
      |  md5(trim(regexp_replace(regexp_replace(lower(m), '[^a-z0-9 ]', '', 'g'),
      |           ' +', ' ', 'g'))) AS norm_fp FROM c),
      |p AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(DISTINCT exact_fp) AS BIGINT) AS n_exact_distinct,
      |  CAST(COUNT(DISTINCT norm_fp) AS BIGINT) AS n_norm_distinct
      | FROM n GROUP BY source),
      |k AS (SELECT norm_fp, MIN(doc_id) AS keeper FROM n GROUP BY norm_fp),
      |ks AS (SELECT n.source, COUNT(*) AS kept_n
      |       FROM k JOIN n ON n.doc_id = k.keeper GROUP BY n.source)
      |SELECT p.source, n_docs, n_exact_distinct, n_norm_distinct,
      | CAST(COALESCE(ks.kept_n, 0) AS BIGINT) AS n_kept
      |FROM p LEFT JOIN ks ON ks.source = p.source ORDER BY p.source""".stripMargin

  // ---------------------------------------------------------------- q135
  /** Per-language calibrated quality filtering (the CCNet discipline):
    * a single global quality cutoff over a multilingual corpus filters
    * low-resource languages unfairly, so the cutoff is derived PER
    * LANGUAGE — here the 20th-percentile type-token ratio (integer ppm,
    * engine-exact) as an exact order statistic. Per-language ranks use
    * the q81 bounded-group window at test SF; for unbounded per-language
    * volumes the cutoff derivation swaps to the q129 histogram-refinement
    * operator per group (same rank arithmetic, no sort) while the census
    * below it is unchanged — one scored scan, a 5-row broadcast of
    * cutoffs, one bounded-key agg. */
  private val q135: Q = (s, d) => {
    val sc = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
      .select(col("doc_id"), col("lang"),
        expr("CAST(CAST(size(array_distinct(toks)) AS BIGINT) * 1000000 div size(toks) AS BIGINT)")
          .as("ttr_ppm"))
    val w = Window.partitionBy(col("lang"))
    val r = sc
      .withColumn("rn", row_number().over(w.orderBy(col("ttr_ppm"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(w))
    val cutoffs = r.filter(col("rn") === expr("(n + 4) div 5"))
      .select(col("lang"), col("ttr_ppm").as("cutoff_ppm"))
    sc.join(broadcast(cutoffs), Seq("lang"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("cutoff_ppm")).as("cutoff_ppm"),
        sum((col("ttr_ppm") >= col("cutoff_ppm")).cast("long")).as("n_kept"))
      .select(col("lang"), col("n_docs"), col("cutoff_ppm"), col("n_kept"),
        round(col("n_kept").cast("double") / col("n_docs"), 4).as("kept_frac"))
      .orderBy(col("lang"))
  }

  private val q135Sql =
    """WITH sc AS (SELECT doc_id, lang,
      |  CAST(CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT)
      |       * 1000000 // len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS ttr_ppm
      | FROM documents),
      |r AS (SELECT lang, doc_id, ttr_ppm,
      |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY ttr_ppm, doc_id) AS rn,
      |  COUNT(*) OVER (PARTITION BY lang) AS n FROM sc),
      |c AS (SELECT lang, ttr_ppm AS cutoff_ppm FROM r WHERE rn = (n + 4) // 5)
      |SELECT sc.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      | MIN(cutoff_ppm) AS cutoff_ppm,
      | CAST(SUM(CASE WHEN ttr_ppm >= cutoff_ppm THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      | ROUND(CAST(SUM(CASE WHEN ttr_ppm >= cutoff_ppm THEN 1 ELSE 0 END) AS DOUBLE)
      |       / COUNT(*), 4) AS kept_frac
      |FROM sc JOIN c ON c.lang = sc.lang GROUP BY sc.lang ORDER BY sc.lang""".stripMargin

  // ---------------------------------------------------------------- q141
  /** Weak-supervision label aggregation (the Snorkel/programmatic-labeling
    * shape): three deterministic labeling functions — type-token-ratio
    * quality, length, and stopword-mass — each vote keep(1)/drop(0)/
    * abstain(-1) per document, and a majority vote resolves them (ties
    * and all-abstain stay -1). Output is the full joint distribution of
    * (lf votes, final vote) — the agreement/conflict matrix a labeling
    * pipeline inspects to debug its rules — at most 3³ rows at any
    * corpus size. Every signal is exact integer ppm arithmetic; the
    * whole query is one per-row expression stage plus one bounded-key
    * hash aggregate — no shuffle except the final tiny agg, the same
    * 100 TB posture as q95/q96. */
  private val q141: Q = (s, d) => {
    val sc = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
      .select(col("doc_id"), col("n_chars"),
        expr("CAST(CAST(size(array_distinct(toks)) AS BIGINT) * 1000000 div size(toks) AS BIGINT)")
          .as("ttr_ppm"),
        expr("CAST(CAST(size(filter(toks, x -> x = 'the' OR x = 'a')) AS BIGINT) * 1000000 div size(toks) AS BIGINT)")
          .as("stop_ppm"))
      .select(col("doc_id"),
        when(col("ttr_ppm") >= 600000, 1L).when(col("ttr_ppm") < 400000, 0L)
          .otherwise(-1L).as("lf_quality"),
        when(col("n_chars") >= 180, 1L).when(col("n_chars") < 120, 0L)
          .otherwise(-1L).as("lf_length"),
        when(col("stop_ppm") >= 100000, 1L).when(col("stop_ppm") < 50000, 0L)
          .otherwise(-1L).as("lf_stop"))
    val pos = Seq("lf_quality", "lf_length", "lf_stop")
      .map(c => when(col(c) === 1, 1L).otherwise(0L)).reduce(_ + _)
    val neg = Seq("lf_quality", "lf_length", "lf_stop")
      .map(c => when(col(c) === 0, 1L).otherwise(0L)).reduce(_ + _)
    sc.withColumn("vote",
        when(pos > neg, 1L).when(neg > pos, 0L).otherwise(-1L))
      .groupBy(col("lf_quality"), col("lf_length"), col("lf_stop"), col("vote"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lf_quality"), col("lf_length"), col("lf_stop"))
  }

  private val q141Sql =
    """WITH t AS (SELECT doc_id, n_chars,
      |  list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
      |sc AS (SELECT doc_id, n_chars,
      |  CAST(CAST(len(list_distinct(toks)) AS BIGINT) * 1000000 // len(toks) AS BIGINT) AS ttr_ppm,
      |  CAST(CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS BIGINT) * 1000000
      |       // len(toks) AS BIGINT) AS stop_ppm FROM t),
      |lf AS (SELECT doc_id,
      |  CAST(CASE WHEN ttr_ppm >= 600000 THEN 1 WHEN ttr_ppm < 400000 THEN 0 ELSE -1 END AS BIGINT) AS lf_quality,
      |  CAST(CASE WHEN n_chars >= 180 THEN 1 WHEN n_chars < 120 THEN 0 ELSE -1 END AS BIGINT) AS lf_length,
      |  CAST(CASE WHEN stop_ppm >= 100000 THEN 1 WHEN stop_ppm < 50000 THEN 0 ELSE -1 END AS BIGINT) AS lf_stop
      | FROM sc),
      |v AS (SELECT lf_quality, lf_length, lf_stop,
      |  (CASE WHEN lf_quality = 1 THEN 1 ELSE 0 END + CASE WHEN lf_length = 1 THEN 1 ELSE 0 END
      |   + CASE WHEN lf_stop = 1 THEN 1 ELSE 0 END) AS pos,
      |  (CASE WHEN lf_quality = 0 THEN 1 ELSE 0 END + CASE WHEN lf_length = 0 THEN 1 ELSE 0 END
      |   + CASE WHEN lf_stop = 0 THEN 1 ELSE 0 END) AS neg
      | FROM lf)
      |SELECT lf_quality, lf_length, lf_stop,
      | CAST(CASE WHEN pos > neg THEN 1 WHEN neg > pos THEN 0 ELSE -1 END AS BIGINT) AS vote,
      | CAST(COUNT(*) AS BIGINT) AS n
      |FROM v GROUP BY 1, 2, 3, 4
      |ORDER BY lf_quality, lf_length, lf_stop""".stripMargin

  // ---------------------------------------------------------------- q142
  /** RAG chunk retrieval end-to-end: the q120 overlapping token-window
    * chunker composed with an integer tf·idf scorer (q68/q110's log-free
    * idf proxy n·10⁴ div df, monotone in df and engine-exact) for a
    * broadcast query-term set, returning the global top-10 chunks — the
    * retrieval path a RAG corpus build runs to spot-check chunking +
    * index quality in one query. Scale shape: chunk explosion is map-only
    * (q120), the term filter hits the exploded token stream map-side so
    * only the 3 query terms' postings shuffle (q110), corpus constants
    * ride broadcasts, and the top-10 is TakeOrderedAndProject. */
  private val q142: Q = (s, d) => {
    val ch = Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("k", explode(expr(
        "sequence(0L, CASE WHEN n <= 64 THEN 0L ELSE (n - 17) div 48 END)")))
      .select(col("doc_id"), col("k").as("chunk_id"),
        expr("slice(toks, k * 48 + 1, 64)").as("ctoks"))
    val tf = ch.select(col("doc_id"), col("chunk_id"), explode(col("ctoks")).as("w"))
      .filter(col("w").isin("spark", "shuffle", "join"))
      .groupBy(col("doc_id"), col("chunk_id"), col("w")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val consts = ch.agg(count(lit(1)).as("n_chunks"))
    tf.join(broadcast(df), Seq("w")).crossJoin(broadcast(consts))
      .select(col("doc_id"), col("chunk_id"),
        (col("tf") * expr("n_chunks * 10000 div df")).as("term_score"))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(sum(col("term_score")).as("score"))
      .orderBy(col("score").desc, col("doc_id"), col("chunk_id"))
      .limit(10)
  }

  private val q142Sql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
      |c AS (SELECT doc_id, toks, n,
      |  UNNEST(range(CASE WHEN n <= 64 THEN 1 ELSE (n - 17) // 48 + 1 END)) AS k
      | FROM t),
      |ch AS (SELECT doc_id, k AS chunk_id,
      |  list_slice(toks, k * 48 + 1, k * 48 + 64) AS ctoks FROM c),
      |wrd AS (SELECT doc_id, chunk_id, UNNEST(ctoks) AS w FROM ch),
      |tf AS (SELECT doc_id, chunk_id, w, CAST(COUNT(*) AS BIGINT) AS tf
      |       FROM wrd WHERE w IN ('spark', 'shuffle', 'join') GROUP BY 1, 2, 3),
      |df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w),
      |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_chunks FROM ch)
      |SELECT tf.doc_id, tf.chunk_id,
      | CAST(SUM(tf.tf * (nc.n_chunks * 10000 // df.df)) AS BIGINT) AS score
      |FROM tf JOIN df ON df.w = tf.w CROSS JOIN nc
      |GROUP BY tf.doc_id, tf.chunk_id
      |ORDER BY score DESC, doc_id, chunk_id LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q143
  /** Source-share concentration audit: the Gini coefficient of per-source
    * token mass — the one-number answer to "is this mixture dominated by
    * a few sources?" that data-mixture work tracks alongside q106's
    * rebalancing. Integer-exact: G = (2·Σi·xᵢ − (n+1)·Σx)·10⁶ div (n·Σx)
    * over sources ranked ascending by mass (micro-units, engine-portable
    * BIGINT). Ranks come from [[graft.functions.GlobalIndex]] (the q99
    * discipline — range-partition + zipWithIndex, never a partition-less
    * `row_number()` window) even though the ranked input is the
    * already-aggregated ≤ n_sources-row table: the same query shape then
    * holds verbatim when the "source" key is something unbounded (URL
    * domains, say).
    * Long-overflow bound (q110 discipline): exact while n·Σx·10⁶ < 2⁶³,
    * i.e. total tokens ≤ ~4.6e11 at 20 sources — now ENFORCED by
    * `Guard.require` (fails loudly instead of wrapping); beyond that the
    * same arithmetic runs in DECIMAL(38,0) unchanged. */
  private val q143: Q = (s, d) => {
    val src = Tables.documents(s, d)
      .select(col("source"),
        size(expr("filter(split(text, ' '), x -> x <> '')")).cast("long").as("tok"))
      .groupBy(col("source")).agg(sum(col("tok")).as("x"))
    val sums = graft.functions.GlobalIndex
      .withRowNumber(src, "i", col("x"), col("source"))
      .agg(count(lit(1)).as("n_sources"), sum(col("x")).as("total_tokens"),
        sum(col("i") * col("x")).as("six"))
    // Component-wise bound: dividing the Long ceiling by (n_sources + 1)
    // FIRST cannot itself overflow, unlike guarding on the product
    // (n+1)*total, which wraps negative ~10⁶× past the cliff and would
    // wrongly pass.
    graft.functions.Guard.require(sums,
      col("total_tokens") <=
        expr("(9223372036854775807L div 1000000L) div (n_sources + 1)"),
      "q143: integer-exact Gini bound exceeded (numerator * 1000000 would " +
        "overflow Long) - promote the share arithmetic to DECIMAL(38)")
      .select(col("n_sources"), col("total_tokens"),
        expr("(2 * six - (n_sources + 1) * total_tokens) * 1000000" +
          " div (n_sources * total_tokens)").as("gini_micro"))
  }

  private val q143Sql =
    """WITH s AS (SELECT source,
      |  CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS x
      | FROM documents GROUP BY source),
      |r AS (SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY x, source) AS BIGINT) AS i FROM s),
      |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
      |             CAST(SUM(x) AS BIGINT) AS total_tokens,
      |             CAST(SUM(i * x) AS BIGINT) AS six FROM r)
      |SELECT n_sources, total_tokens,
      | CAST((2 * six - (n_sources + 1) * total_tokens) * 1000000
      |      // (n_sources * total_tokens) AS BIGINT) AS gini_micro
      |FROM g""".stripMargin

  // ---------------------------------------------------------------- q148
  /** Classifier-score calibration curve (the FineWeb-Edu audit): bucket a
    * quality signal into fixed-width bins and report, per bin, how often
    * a reference target holds — here the TTR quality signal (q135's
    * integer-ppm score) calibrated against an is-English proxy target.
    * Fixed-width buckets (score div 10⁵), NOT quantile buckets, so the
    * binning is a pure per-row expression with no rank pass at all; one
    * bounded-key hash agg (≤11 bins at any corpus size) finishes it. A
    * monotone rate column = the signal orders documents usefully; a flat
    * one = the classifier threshold is arbitrary. */
  private val q148: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"),
        expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
      .select((col("lang") === "en").cast("long").as("is_en"),
        expr("CAST(CAST(size(array_distinct(toks)) AS BIGINT) * 1000000 div size(toks) AS BIGINT)")
          .as("ttr_ppm"))
      .select(expr("ttr_ppm div 100000").as("bucket"), col("is_en"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("is_en")).as("n_target"),
        expr("CAST(sum(is_en) * 1000000 div count(1) AS BIGINT)").as("target_ppm"))
      .orderBy(col("bucket"))

  private val q148Sql =
    """WITH sc AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en,
      |  CAST(CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT)
      |       * 1000000 // len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS ttr_ppm
      | FROM documents)
      |SELECT ttr_ppm // 100000 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
      | CAST(SUM(is_en) AS BIGINT) AS n_target,
      | CAST(CAST(SUM(is_en) AS BIGINT) * 1000000 // COUNT(*) AS BIGINT) AS target_ppm
      |FROM sc GROUP BY 1 ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- q150
  /** Curriculum ordering with source interleaving — the data-ordering
    * operator for training runs: documents are ranked easiest-first
    * WITHIN their source (difficulty = the q135 TTR signal), and the
    * global training position is the CLOSED FORM
    * (rank−1)·n_sources + source_idx — a round-robin interleave of
    * sources in difficulty order computed arithmetically, with NO global
    * sort over the corpus anywhere (the presentation top-20 is
    * TakeOrderedAndProject). Per-source ranks are bounded-group windows
    * here; per-source GlobalIndex is the drop-in when one source alone
    * exceeds a partition. Positions are unique by construction
    * (src_idx < n_sources), so the ordering is total and resumable —
    * any worker can compute any document's position independently. */
  private val q150: Q = (s, d) => {
    val sc = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        expr("CAST(substring(source, 4) AS BIGINT)").as("src_idx"),
        expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
      .select(col("doc_id"), col("source"), col("src_idx"),
        expr("CAST(CAST(size(array_distinct(toks)) AS BIGINT) * 1000000 div size(toks) AS BIGINT)")
          .as("ttr_ppm"))
    val w = Window.partitionBy(col("source")).orderBy(col("ttr_ppm"), col("doc_id"))
    val n = sc.agg(countDistinct(col("source")).as("n_src"))
    sc.withColumn("rank_in_source", row_number().over(w).cast("long"))
      .crossJoin(broadcast(n))
      .select(((col("rank_in_source") - 1) * col("n_src") + col("src_idx"))
        .as("train_pos"), col("source"), col("doc_id"), col("rank_in_source"))
      .orderBy(col("train_pos")).limit(20)
  }

  private val q150Sql =
    """WITH sc AS (SELECT doc_id, source,
      |  CAST(substring(source, 4) AS BIGINT) AS src_idx,
      |  CAST(CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT)
      |       * 1000000 // len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS ttr_ppm
      | FROM documents),
      |r AS (SELECT doc_id, source, src_idx,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY ttr_ppm, doc_id) AS BIGINT) AS rank_in_source
      | FROM sc),
      |n AS (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS n_src FROM sc)
      |SELECT (rank_in_source - 1) * n.n_src + src_idx AS train_pos,
      | source, doc_id, rank_in_source
      |FROM r CROSS JOIN n ORDER BY train_pos LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q153
  /** Fill-in-the-middle (FIM) transformation — the code-model pretraining
    * reorder: each document is split at deterministic token cut points
    * (n/3 and 2n/3, integer div) into prefix/middle/suffix and re-emitted
    * as <PRE>prefix<SUF>suffix<MID>middle, the PSM layout. Pure per-row
    * string surgery — map-only, no shuffle before the presentation
    * ordering; at 100 TB this is one codegen projection stage riding the
    * same scan as tokenization. The rebuilt text travels as md5 (the
    * q112 discipline), with cut sizes exposed so the oracle's arithmetic
    * replay pins both the split points and the reassembly order. */
  private val q153: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"),
        expr("size(toks) div 3").as("c1"), expr("2 * size(toks) div 3").as("c2"),
        col("toks"))
      .select(col("doc_id"), col("n_toks"),
        col("c1").cast("long").as("n_prefix"),
        (col("c2") - col("c1")).cast("long").as("n_middle"),
        (col("n_toks") - col("c2")).cast("long").as("n_suffix"),
        md5(concat(lit("<PRE>"),
          array_join(expr("slice(toks, 1, c1)"), " "), lit("<SUF>"),
          array_join(expr("slice(toks, c2 + 1, size(toks) - c2)"), " "), lit("<MID>"),
          array_join(expr("slice(toks, c1 + 1, c2 - c1)"), " "))).as("fim_md5"))
      .orderBy(col("doc_id"))

  private val q153Sql =
    """WITH t AS (SELECT doc_id,
      |  list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
      |c AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n,
      |  len(toks) // 3 AS c1, 2 * len(toks) // 3 AS c2 FROM t)
      |SELECT doc_id, n AS n_toks,
      | CAST(c1 AS BIGINT) AS n_prefix, CAST(c2 - c1 AS BIGINT) AS n_middle,
      | CAST(n - c2 AS BIGINT) AS n_suffix,
      | md5('<PRE>' || array_to_string(list_slice(toks, 1, c1), ' ')
      |  || '<SUF>' || array_to_string(list_slice(toks, c2 + 1, n), ' ')
      |  || '<MID>' || array_to_string(list_slice(toks, c1 + 1, c2), ' ')) AS fim_md5
      |FROM c ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q154
  /** Tokenizer fertility audit per language — the multilingual-fairness
    * metric: how many subword pieces the q118 BPE-piece estimate
    * (ceil(len/4) per word) spends per whitespace word, by language. A
    * language with systematically higher fertility pays more sequence
    * length for the same content — the number tokenizer-vocabulary
    * rebalancing decisions are made on. Integer-exact: per-doc piece and
    * word counts are exact sums, the per-language fertility is one ppm
    * integer division; one map pass + one bounded-key agg (≤ n_langs). */
  private val q154: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"),
        expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
      .select(col("lang"), size(col("toks")).cast("long").as("n_words"),
        expr("aggregate(toks, 0L, (acc, x) -> acc + (length(x) + 3) div 4)")
          .as("n_pieces"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("words"),
        sum(col("n_pieces")).as("pieces"),
        expr("CAST(sum(n_pieces) * 1000000 div sum(n_words) AS BIGINT)")
          .as("fertility_ppm"))
      .orderBy(col("lang"))

  private val q154Sql =
    """WITH w AS (SELECT doc_id, lang, UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      | FROM documents),
      |p AS (SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_words,
      |  CAST(SUM((length(w) + 3) // 4) AS BIGINT) AS n_pieces
      | FROM w GROUP BY doc_id, lang)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      | CAST(SUM(n_words) AS BIGINT) AS words, CAST(SUM(n_pieces) AS BIGINT) AS pieces,
      | CAST(CAST(SUM(n_pieces) AS BIGINT) * 1000000 // CAST(SUM(n_words) AS BIGINT) AS BIGINT) AS fertility_ppm
      |FROM p GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q155
  /** Within-document self-repetition removal (the intra-page dedup step
    * of CCNet/Dolma-style cleaning, complementing q112's CROSS-document
    * span dedup): each document is cut into consecutive 8-token blocks,
    * duplicate blocks collapse to their first occurrence, and the
    * document is rebuilt in order — md5-checked byte-for-byte. The
    * corpus has no aligned self-repeats, so every 4th document gets its
    * own first 8 tokens PREPENDED (making block 0 == block 1 by
    * construction — both engines replay the injection), proving removal
    * actually fires. Spark's `array_distinct` preserves first-occurrence
    * order, so the whole operator is per-row array surgery — map-only,
    * no explode, no shuffle; the oracle reconstructs via min-index
    * grouping + ordered string_agg. */
  private val q155: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
      .filter(size(col("toks")) >= 8)
      .withColumn("toks", when(col("doc_id") % 4 === 0,
        expr("concat(slice(toks, 1, 8), toks)")).otherwise(col("toks")))
      .select(col("doc_id"), expr(
        "transform(sequence(0, CAST((size(toks) + 7) div 8 AS INT) - 1)," +
          " i -> array_join(slice(toks, i * 8 + 1, 8), ' '))").as("blocks"))
      .select(col("doc_id"), size(col("blocks")).cast("long").as("n_blocks"),
        size(array_distinct(col("blocks"))).cast("long").as("n_kept"),
        md5(array_join(array_distinct(col("blocks")), " ")).as("rebuilt_md5"))
      .orderBy(col("doc_id"))

  private val q155Sql =
    """WITH t0 AS (SELECT doc_id,
      |  list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
      |t AS (SELECT doc_id, CASE WHEN doc_id % 4 = 0
      |         THEN list_concat(list_slice(toks, 1, 8), toks) ELSE toks END AS toks
      |      FROM t0 WHERE len(toks) >= 8),
      |b AS (SELECT doc_id, toks, UNNEST(range((len(toks) + 7) // 8)) AS i FROM t),
      |blk AS (SELECT doc_id, i,
      |  array_to_string(list_slice(toks, i * 8 + 1, i * 8 + 8), ' ') AS btxt FROM b),
      |k AS (SELECT doc_id, btxt, MIN(i) AS fi FROM blk GROUP BY doc_id, btxt),
      |r AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
      |  md5(string_agg(btxt, ' ' ORDER BY fi)) AS rebuilt_md5 FROM k GROUP BY doc_id),
      |nb AS (SELECT doc_id, CAST((len(toks) + 7) // 8 AS BIGINT) AS n_blocks FROM t)
      |SELECT nb.doc_id, nb.n_blocks, r.n_kept, r.rebuilt_md5
      |FROM nb JOIN r ON r.doc_id = nb.doc_id ORDER BY nb.doc_id""".stripMargin

  // ---------------------------------------------------------------- q156
  /** Padding-waste planning: for candidate context-window sizes, what
    * fraction of every batch would be pad tokens if each document were
    * windowed alone — the audit that motivates sequence packing (q92) and
    * picks its window size. Per (doc, W): ceil(n/W) windows and
    * ceil(n/W)·W − n pad tokens, all exact integer arithmetic; the W axis
    * is a 3-element literal explode, so the whole query is one map stage
    * + one 3-key hash agg at any corpus size. */
  private val q156: Q = (s, d) =>
    Tables.documents(s, d)
      .select(expr("CAST(size(filter(split(text, ' '), x -> x <> '')) AS BIGINT)").as("n"))
      .select(col("n"), explode(expr("array(16L, 32L, 64L)")).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_docs"),
        sum(expr("(n + w - 1) div w")).as("n_windows"),
        sum(expr("((n + w - 1) div w) * w - n")).as("pad_tokens"))
      .select(col("w"), col("n_docs"), col("n_windows"), col("pad_tokens"),
        expr("CAST(pad_tokens * 1000000 div (n_windows * w) AS BIGINT)").as("pad_ppm"))
      .orderBy(col("w"))

  private val q156Sql =
    """WITH n AS (SELECT CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n
      | FROM documents),
      |x AS (SELECT n, UNNEST([CAST(16 AS BIGINT), CAST(32 AS BIGINT), CAST(64 AS BIGINT)]) AS w FROM n),
      |g AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM((n + w - 1) // w) AS BIGINT) AS n_windows,
      |  CAST(SUM(((n + w - 1) // w) * w - n) AS BIGINT) AS pad_tokens
      | FROM x GROUP BY w)
      |SELECT w, n_docs, n_windows, pad_tokens,
      | CAST(pad_tokens * 1000000 // (n_windows * w) AS BIGINT) AS pad_ppm
      |FROM g ORDER BY w""".stripMargin

  // ---------------------------------------------------------------- q203
  /** Good–Turing / Chao1 vocabulary-coverage audit per source — the
    * "how much have we NOT seen yet" estimate that decides whether more
    * of a source is worth ingesting at 100 TB (q99's Zipf fit describes
    * the seen distribution; this estimates the UNSEEN part): from each
    * source's word-frequency spectrum N_r (= number of distinct words
    * occurring exactly r times), the Good–Turing missing-mass estimate
    * P₀ = N₁/T (the probability the next token is a brand-new word) and
    * the bias-corrected Chao1 richness floor
    * V̂ = V + N₁·(N₁−1)/(2·(N₂+1)) (estimated total vocabulary including
    * unseen words — the +1 form is total when N₂ = 0). All pure integer:
    * counts are exact, P₀ rides a ×10⁶ div, Chao1 a plain div — both
    * non-negative so engine truncation agrees.
    *
    * Scale shape: one corpus scan → (source, word) hash agg (vocab-
    * bounded) → (source, r) spectrum agg (≤ distinct counts per source)
    * → one row per source. Nothing after the first agg is corpus-sized;
    * no joins at all. Long bound: N₁² ≤ V² — guarded past ~3·10⁹
    * distinct hapaxes per source. */
  private val q203: Q = (s, d) => {
    val wc = Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("r"))
    val spec = wc.groupBy(col("source"), col("r"))
      .agg(count(lit(1)).as("nr"))
    val bySrc = spec.groupBy(col("source"))
      .agg(sum(col("nr")).as("v_obs"),
        sum(col("r") * col("nr")).as("t_tokens"),
        sum(when(col("r") === 1, col("nr")).otherwise(0L)).as("n1"),
        sum(when(col("r") === 2, col("nr")).otherwise(0L)).as("n2"))
    graft.functions.Guard.require(bySrc,
      col("n1") <= 3000000000L && col("t_tokens") <= lit(Long.MaxValue / 1000000L),
      "q203: Good-Turing integer bounds exceeded (n1^2 or t*10^6 would " +
        "overflow Long) - promote to DECIMAL(38)")
      .select(col("source"), col("v_obs"), col("t_tokens"), col("n1"), col("n2"),
        expr("(n1 * 1000000) div t_tokens").as("p0_ppm"),
        expr("v_obs + (n1 * (n1 - 1)) div (2 * (n2 + 1))").as("chao1"))
      .orderBy(col("source"))
  }

  private val q203Sql =
    """WITH wc AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS r FROM (
      |    SELECT source, UNNEST(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY source, w),
      |spec AS (SELECT source, r, CAST(COUNT(*) AS BIGINT) AS nr
      |         FROM wc GROUP BY source, r),
      |agg AS (SELECT source,
      |    CAST(SUM(nr) AS BIGINT) AS v_obs,
      |    CAST(SUM(r * nr) AS BIGINT) AS t_tokens,
      |    CAST(SUM(CASE WHEN r = 1 THEN nr ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN r = 2 THEN nr ELSE 0 END) AS BIGINT) AS n2
      |  FROM spec GROUP BY source)
      |SELECT source, v_obs, t_tokens, n1, n2,
      |  CAST((n1 * 1000000) // t_tokens AS BIGINT) AS p0_ppm,
      |  CAST(v_obs + (n1 * (n1 - 1)) // (2 * (n2 + 1)) AS BIGINT) AS chao1
      |FROM agg ORDER BY source""".stripMargin

  val queries: Map[String, Q] = Map(
    "q203_vocab_coverage" -> q203,
    "q155_selfrep_block_dedup" -> q155,
    "q156_padding_waste" -> q156,
    "q153_fim_transform" -> q153,
    "q154_tokenizer_fertility" -> q154,
    "q150_curriculum_interleave" -> q150,
    "q148_score_calibration" -> q148,
    "q142_rag_chunk_retrieval" -> q142,
    "q143_source_gini" -> q143,
    "q141_weak_label_vote" -> q141,
    "q133_normalized_dedup" -> q133,
    "q135_perlang_quality_cutoff" -> q135,
    "q127_vocab_encode" -> q127,
    "q124_dsir_importance" -> q124,
    "q120_token_chunking" -> q120,
    "q116_token_budget_select" -> q116,
    "q117_shingle_novelty" -> q117,
    "q113_source_overlap_matrix" -> q113,
    "q112_span_dedup_rebuild" -> q112,
    "q102_stratified_sample" -> q102,
    "q106_mixture_rebalance" -> q106,
    "q94_unicode_normalize" -> q94,
    "q95_pii_redaction" -> q95,
    "q96_repetition_quality" -> q96,
    "q97_train_split" -> q97,
    "q100_substring_windows" -> q100)

  val oracle: Map[String, String] = Map(
    "q203_vocab_coverage" -> q203Sql,
    "q155_selfrep_block_dedup" -> q155Sql,
    "q156_padding_waste" -> q156Sql,
    "q153_fim_transform" -> q153Sql,
    "q154_tokenizer_fertility" -> q154Sql,
    "q150_curriculum_interleave" -> q150Sql,
    "q148_score_calibration" -> q148Sql,
    "q142_rag_chunk_retrieval" -> q142Sql,
    "q143_source_gini" -> q143Sql,
    "q141_weak_label_vote" -> q141Sql,
    "q133_normalized_dedup" -> q133Sql,
    "q135_perlang_quality_cutoff" -> q135Sql,
    "q127_vocab_encode" -> q127Sql,
    "q124_dsir_importance" -> q124Sql,
    "q120_token_chunking" -> q120Sql,
    "q116_token_budget_select" -> q116Sql,
    "q117_shingle_novelty" -> q117Sql,
    "q113_source_overlap_matrix" -> q113Sql,
    "q112_span_dedup_rebuild" -> q112Sql,
    "q102_stratified_sample" -> q102Sql,
    "q106_mixture_rebalance" -> q106Sql,
    "q94_unicode_normalize" -> q94Sql,
    "q95_pii_redaction" -> q95Sql,
    "q96_repetition_quality" -> q96Sql,
    "q97_train_split" -> q97Sql,
    "q100_substring_windows" -> q100Sql)
}
