package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators (SURVEY.md §2b): exact, n-gram Jaccard,
  * MinHash+LSH banding, and SimHash — the standard large-corpus near-dup
  * stack for training-data pipelines.
  *
  * Scale design: exact dedup is one hash aggregate on the dedup key (the
  * generalization of the reference's `_id = random_id` idempotency key,
  * lambda_function.py:81). MinHash/SimHash signatures are per-row expressions
  * (no shuffle); candidate generation shuffles on (band, band_hash) — tiny
  * keys — instead of any all-pairs comparison, which is the only formulation
  * that survives 100 TB. Verification (exact Jaccard) runs only on candidate
  * pairs.
  */
object DedupQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Distinct 3-word shingles of a text column, as an array column `sh`
    * (graft.functions.WordShingles — the codegen kernel; the declarative
    * transform+array_distinct formulation runs interpreted and quadratic).
    * The width filter uses the zero-allocation `word_count` kernel (round
    * 17) — `size(split(text, ' '))` built the full word array per document
    * just to count it. */
  private def withShingles(df: DataFrame, textCol: String): DataFrame = {
    graft.GraftExtensions.install(df.sparkSession)
    df.filter(expr(s"word_count($textCol) >= 3"))
      .withColumn("sh", expr(s"word_shingles($textCol, 3)"))
  }

  // ---------------------------------------------------------------- q35
  /** Exact text dedup. The shuffle key is md5(text), not text: at corpus
    * scale the group key would otherwise carry whole documents through the
    * exchange; 128-bit md5 collides with probability ~n²/2¹²⁹ (≈1e-17 at
    * 10¹¹ docs), far below hardware corruption rates. The snippet is
    * aggregated (texts in a group are identical) so no second pass over
    * the full text is needed. */
  private val q35: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("_fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"),
        min(substring(col("text"), 1, 40)).as("snippet"))
      .select(col("keep_id"), col("n_copies"), col("snippet"))
      .orderBy(col("keep_id"))

  private val q35Sql =
    """SELECT min(doc_id) AS keep_id, COUNT(*) AS n_copies, min(substr(text, 1, 40)) AS snippet
      |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin

  // ---------------------------------------------------------------- q36
  private val q36: Q = (s, d) => {
    val sh = withShingles(Tables.documents(s, d), "text").select(col("doc_id"), col("sh"))
    val a = sh.as("a")
    val b = sh.withColumnRenamed("doc_id", "doc_id_b").withColumnRenamed("sh", "sh_b").as("b")
    a.join(b, col("doc_id_b") === col("doc_id") + 1)
      .select(
        col("doc_id"),
        size(array_intersect(col("sh"), col("sh_b"))).cast("long").as("n_inter"),
        size(array_union(col("sh"), col("sh_b"))).cast("long").as("n_union"),
        round(size(array_intersect(col("sh"), col("sh_b"))).cast("double") /
          size(array_union(col("sh"), col("sh_b"))), 6).as("jaccard"))
      .orderBy(col("doc_id"))
  }

  private val q36Sql =
    """WITH s AS (
      | SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
      |   i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS sh
      | FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) WHERE len(w) >= 3)
      |SELECT a.doc_id AS doc_id,
      | CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_inter,
      | CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS BIGINT) AS n_union,
      | round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |       len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
      |FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q37 (no oracle: MinHash banding)
  /** Per-document MinHash LSH bands: 32 hash slots, 8 bands × 4 rows, all in
    * the one-pass codegen'd `minhash_bands` expression
    * (graft.functions.MinHashBands — fused so the signature is computed once,
    * not once per band). Rows = doc × band; joining this table to itself on
    * (band_id, band_hash) yields candidate pairs. */
  private val q37: Q = (s, d) => {
    graft.GraftExtensions.install(s)
    withShingles(Tables.documents(s, d), "text")
      .select(col("doc_id"), posexplode(expr("minhash_bands(sh)")))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "band_hash")
      .orderBy(col("doc_id"), col("band_id"))
  }

  /** LSH candidate pairs (band-bucket join) verified by exact Jaccard.
    * Used by tests and by callers with planted near-duplicates. */
  def minhashCandidates(docs: DataFrame, threshold: Double): DataFrame = {
    graft.GraftExtensions.install(docs.sparkSession)
    val sh = withShingles(docs, "text")
    val bands = sh.select(col("doc_id"), col("sh"), posexplode(expr("minhash_bands(sh)")))
      .withColumnRenamed("pos", "band_id").withColumnRenamed("col", "band_hash")
    val l = bands.select(col("band_id"), col("band_hash"), col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val r = bands.select(col("band_id"), col("band_hash"), col("doc_id").as("id_b"), col("sh").as("sh_b"))
    l.join(r, Seq("band_id", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .distinct()
      .filter(col("jaccard") >= threshold)
      .orderBy(col("id_a"), col("id_b"))
  }

  // ---------------------------------------------------------------- q66 (oracle-checked MinHash LSH)
  /** End-to-end MinHash-LSH near-dup detection, hash-for-hash verifiable
    * against DuckDB: every hash derives from md5 (bit-identical in both
    * engines) — the 8 signature hashes by Kirsch–Mitzenmacher double
    * hashing over ONE digest per shingle (see PortableHash.md5Bucket60Hi),
    * band hashes by md5 of the joined minima — so the full pipeline:
    * signature → banding → candidate join → exact-Jaccard verify — is
    * oracle-checked, not just "plausible". q37 is the xxhash64 fast path;
    * this is the portable proof that the LSH formulation itself is correct.
    *
    * Scale shape: per-shingle hashing is a flat projection; the 8 signature
    * mins are partial-aggregable (map-side combine) hash aggregates; the
    * candidate join shuffles only (band_id, band_hash) keys; exact Jaccard
    * runs on candidates only — never all pairs.
    *
    * This is the pipeline up to its verified pair set: (id_a, id_b,
    * n_inter, n_union) for every pair with exact Jaccard >= 0.5 — shared
    * by q66 (pair report) and q101 (connected-component clustering).
    */
  private def lshVerifiedPairs(s: SparkSession, d: String,
      ck: graft.operators.CheckpointTracker = null): DataFrame = {
    // Round 16: the shingled corpus has TWO consumers here — the signature
    // stream (explode + md5 double-hash) and the sorted verify arrays —
    // and the un-checkpointed plan ran the word_shingles kernel over every
    // document once per consumer (WorkProbe: 2 full documents scans per
    // call). Callers pass a CheckpointTracker so the kernel pass runs once
    // per query execution; null keeps the old shape (tests).
    val ckpt: DataFrame => DataFrame = if (ck == null) identity else ck.lazyCkpt
    val docs = ckpt(
      withShingles(Tables.documents(s, d), "text").select(col("doc_id"), col("sh")))
    val ex = docs.select(col("doc_id"), explode(col("sh")).as("s"))
    // Kirsch–Mitzenmacher double hashing: ONE md5 per shingle yields two
    // independent 60-bit values (hex chars 1–15 and 16–30 of the digest);
    // h_j = (h1 + j·h2) mod 2⁶⁰ gives the 8 signature hashes. Replaces 8
    // md5 calls per shingle occurrence — the measured 90% of this
    // pipeline's cost (q37's xxhash twin: 0.20 s vs 1.93 s at sf0.1) —
    // with integer arithmetic, still bit-replayable in DuckDB.
    val hx = ex
      .withColumn("h1", graft.functions.PortableHash.md5Bucket60(col("s")))
      .withColumn("h2", graft.functions.PortableHash.md5Bucket60Hi(col("s")))
    val M = 1L << 60
    val mins = (0 to 7).map(j =>
      min((col("h1") + lit(j.toLong) * col("h2")) % M).as(s"m$j"))
    val sig = hx.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
    // 4 bands × 2 rows; band hash = 60-bit md5 of the joined member minima.
    def bh(b: Int): Column =
      graft.functions.PortableHash.md5Bucket60(concat(
        col(s"m${2 * b}").cast("string"), lit(","),
        col(s"m${2 * b + 1}").cast("string")))
    val bands = sig
      .select(col("doc_id"), posexplode(array(bh(0), bh(1), bh(2), bh(3))))
      .withColumnRenamed("pos", "band_id").withColumnRenamed("col", "band_hash")
    val l = bands.select(col("band_id"), col("band_hash"), col("doc_id").as("id_a"))
    val r = bands.select(col("band_id"), col("band_hash"), col("doc_id").as("id_b"))
    val cand = l.join(r, Seq("band_id", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    // Verify on shingle arrays sorted ONCE per doc, so each candidate
    // pair's overlap is an allocation-free codegen merge scan
    // (sorted_overlap, same kernel as SetSimilarityJoin.jaccardJoin —
    // measured 3.8× over per-pair array_intersect on the q86 workload)
    // and the union is derived arithmetically: shingles are distinct, so
    // |a∪b| = |a| + |b| − |a∩b|. Values identical to the old
    // array_intersect/array_union formulation — the DuckDB oracle is
    // unchanged.
    val sorted = docs.select(col("doc_id"), sort_array(col("sh")).as("sh"))
    val x = sorted.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val y = sorted.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    cand.join(x, Seq("id_a")).join(y, Seq("id_b"))
      .withColumn("n_inter", expr("sorted_overlap(sh_a, sh_b)").cast("long"))
      .withColumn("n_union",
        (size(col("sh_a")) + size(col("sh_b")) - col("n_inter")).cast("long"))
      .filter(col("n_inter").cast("double") / col("n_union") >= 0.5)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_union"))
  }

  private val q66: Q = (s, d) => {
    val ck = new graft.operators.CheckpointTracker(Tables.documents(s, d))
    // One eager action runs the pipeline while the lazy shingle blocks are
    // alive; the small pair result outlives them (CheckpointTracker contract).
    val out = lshVerifiedPairs(s, d, ck)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_union"),
        round(col("n_inter").cast("double") / col("n_union"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
      .localCheckpoint(true)
    ck.releaseAll()
    out
  }

  /** Shared q66/q101 WITH-chain body ending in the verified pair set
    * `p(id_a, id_b, n_inter, n_union)` — DuckDB replay of
    * [[lshVerifiedPairs]]. */
  private val lshPairsCte =
    """sh AS (
      | SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
      |   i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS sh
      | FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) WHERE len(w) >= 3),
      |ex AS (SELECT doc_id, UNNEST(sh) AS s FROM sh),
      |hx AS (SELECT doc_id,
      |  CAST(('0x' || substr(md5(s),1,15)) AS BIGINT) AS h1,
      |  CAST(('0x' || substr(md5(s),16,15)) AS BIGINT) AS h2 FROM ex),
      |sig AS (SELECT doc_id,
      |  min((h1 + 0 * h2) % 1152921504606846976) AS m0,
      |  min((h1 + 1 * h2) % 1152921504606846976) AS m1,
      |  min((h1 + 2 * h2) % 1152921504606846976) AS m2,
      |  min((h1 + 3 * h2) % 1152921504606846976) AS m3,
      |  min((h1 + 4 * h2) % 1152921504606846976) AS m4,
      |  min((h1 + 5 * h2) % 1152921504606846976) AS m5,
      |  min((h1 + 6 * h2) % 1152921504606846976) AS m6,
      |  min((h1 + 7 * h2) % 1152921504606846976) AS m7
      | FROM hx GROUP BY doc_id),
      |bands AS (
      | SELECT doc_id, 0 AS band_id, CAST(('0x' || substr(md5(CAST(m0 AS VARCHAR) || ',' || CAST(m1 AS VARCHAR)),1,15)) AS BIGINT) AS band_hash FROM sig
      | UNION ALL SELECT doc_id, 1, CAST(('0x' || substr(md5(CAST(m2 AS VARCHAR) || ',' || CAST(m3 AS VARCHAR)),1,15)) AS BIGINT) FROM sig
      | UNION ALL SELECT doc_id, 2, CAST(('0x' || substr(md5(CAST(m4 AS VARCHAR) || ',' || CAST(m5 AS VARCHAR)),1,15)) AS BIGINT) FROM sig
      | UNION ALL SELECT doc_id, 3, CAST(('0x' || substr(md5(CAST(m6 AS VARCHAR) || ',' || CAST(m7 AS VARCHAR)),1,15)) AS BIGINT) FROM sig),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      | FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
      | WHERE a.doc_id < b.doc_id),
      |p AS (SELECT c.id_a, c.id_b,
      | CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) AS n_inter,
      | CAST(len(list_distinct(list_concat(x.sh, y.sh))) AS BIGINT) AS n_union
      | FROM cand c JOIN sh x ON x.doc_id = c.id_a JOIN sh y ON y.doc_id = c.id_b
      | WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
      |       len(list_distinct(list_concat(x.sh, y.sh))) >= 0.5)""".stripMargin

  private val q66Sql =
    s"""WITH $lshPairsCte
       |SELECT id_a, id_b, n_inter, n_union,
       | round(CAST(n_inter AS DOUBLE) / n_union, 6) AS jaccard
       |FROM p ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- q103
  /** EXACT asymmetric containment join (|a∩b|/|a| ≥ 0.8,
    * graft.operators.SetSimilarityJoin.containmentJoin): finds documents
    * mostly CONTAINED in another — the decontamination case Jaccard
    * structurally misses (a small eval doc pasted into a large train doc
    * has tiny union-normalized similarity). Ordered pairs, zero false
    * negatives; the brute-force O(N²) oracle proves the asymmetric
    * prefix pruning is result-invariant. The containment test is the
    * exact rational 5·|a∩b| ≥ 4·|a| on both sides, so no float boundary
    * can disagree. */
  private val q103: Q = (s, d) => {
    // Round 16: tracked checkpoints inside containmentJoin (WorkProbe: 4
    // documents scans -> 1); eager final + releaseAll.
    val ck = new graft.operators.CheckpointTracker(Tables.documents(s, d))
    val docs = withShingles(Tables.documents(s, d), "text")
      .select(col("doc_id"), col("sh"))
    val out = graft.operators.SetSimilarityJoin
      .containmentJoin(docs, "doc_id", "sh", 0.8, ck, normalized = true)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_a"),
        round(col("n_inter").cast("double") / col("n_a"), 6).as("containment"))
      .orderBy(col("id_a"), col("id_b"))
      .localCheckpoint(true)
    ck.releaseAll()
    out
  }

  private val q103Sql =
    """WITH sh AS (
      | SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
      |   i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS sh
      | FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) WHERE len(w) >= 3)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      | CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_inter,
      | CAST(len(a.sh) AS BIGINT) AS n_a,
      | round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh), 6) AS containment
      |FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
      |WHERE 5 * len(list_intersect(a.sh, b.sh)) >= 4 * len(a.sh)
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- q101
  /** Near-duplicate CLUSTERING: the q66 verified pairs become an undirected
    * graph, [[graft.operators.ConnectedComponents]] labels every document
    * with the min doc_id of its component (singletons included), and the
    * output is the cluster census — what a dedup pipeline actually consumes
    * (keep ONE representative per cluster, not "drop both ends of each
    * pair"). Transitivity matters: A~B and B~C must collapse to one
    * cluster even when A~C was never a candidate pair.
    *
    * ORACLE-VERIFIED: the pair set replays in DuckDB (q66's CTE) and the
    * fixpoint (min reachable id per node) is replayed by a recursive CTE —
    * iteration order cannot change it. */
  private val q101: Q = (s, d) => {
    val ck = new graft.operators.CheckpointTracker(Tables.documents(s, d))
    val pairs = lshVerifiedPairs(s, d, ck).select(col("id_a"), col("id_b"))
    val nodes = Tables.documents(s, d).select(col("doc_id"))
    // run() materializes the edge list internally (persist + count) and
    // returns a frame whose lineage reaches only its own checkpointed
    // labels + the node scan — the tracked shingle blocks are dead once
    // it returns.
    val labels = graft.operators.ConnectedComponents.run(nodes, pairs)
    ck.releaseAll()
    labels
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("label").as("cluster"), col("n_docs"))
      .orderBy(col("cluster"))
  }

  private val q101Sql =
    s"""WITH RECURSIVE $lshPairsCte,
       |e AS (SELECT id_a AS u, id_b AS v FROM p
       |      UNION ALL SELECT id_b AS u, id_a AS v FROM p),
       |reach AS (SELECT doc_id AS node, doc_id AS r FROM documents
       |          UNION
       |          SELECT e.u AS node, reach.r FROM e JOIN reach ON reach.node = e.v),
       |lab AS (SELECT node, MIN(r) AS cluster FROM reach GROUP BY node)
       |SELECT cluster, COUNT(*) AS n_docs FROM lab
       |GROUP BY cluster ORDER BY cluster""".stripMargin

  // ---------------------------------------------------------------- q115
  /** Canonical-selection dedup collapse — what production near-dup dedup
    * actually ships: within each q101 cluster keep the HIGHEST-QUALITY
    * member (q33's exact-ppm score; ties broken by lowest doc_id), not an
    * arbitrary representative. Dropping the worst duplicates is the whole
    * point of scoring before deduping (the reference pipeline's
    * prune-then-route ordering, writ large).
    *
    * Scale shape: the keep-best choice is ONE hash aggregate on the
    * cluster label — argmax-with-tiebreak packed into a single BIGINT
    * (`-quality * 2^40 + doc_id`, [[graft.functions.PackedArgMin]]) so
    * `min(long)` stays on the true HashAggregate path (a struct min
    * would fall back to SortAggregate), never a global or per-cluster
    * window over the corpus; bounds guarded (quality_ppm ≤ 10^6 < 2^22,
    * doc_id < 2^40). Quality is a map-only projection joined on doc_id.
    * ORACLE: q101's recursive-CTE closure + the shared quality CTE, keeper
    * picked by a deterministic ROW_NUMBER total order. */
  private val q115: Q = (s, d) => {
    val ck = new graft.operators.CheckpointTracker(Tables.documents(s, d))
    val pairs = lshVerifiedPairs(s, d, ck).select(col("id_a"), col("id_b"))
    val nodes = Tables.documents(s, d).select(col("doc_id"))
    // see q101: the tracked shingle blocks are dead once run() returns
    val labels = graft.operators.ConnectedComponents.run(nodes, pairs)
    ck.releaseAll()
    val qual = TextQueries.withQualityPpm(Tables.documents(s, d))
      .select(col("doc_id"), col("quality_ppm"))
    import graft.functions.PackedArgMin
    val j = labels.join(qual, col("node") === col("doc_id"))
    PackedArgMin.guard(j, -col("quality_ppm"), col("doc_id"), 40, "q115 keep-best")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_docs"),
        min(PackedArgMin.pack(-col("quality_ppm"), col("doc_id"), 40)).as("best"))
      .select(col("label").as("cluster"), col("n_docs"),
        PackedArgMin.payload(col("best"), 40).as("keep_id"),
        (-PackedArgMin.key(col("best"), 40)).as("keep_quality_ppm"))
      .orderBy(col("cluster"))
  }

  private val q115Sql =
    s"""WITH RECURSIVE $lshPairsCte,
       |e AS (SELECT id_a AS u, id_b AS v FROM p
       |      UNION ALL SELECT id_b AS u, id_a AS v FROM p),
       |reach AS (SELECT doc_id AS node, doc_id AS r FROM documents
       |          UNION
       |          SELECT e.u AS node, reach.r FROM e JOIN reach ON reach.node = e.v),
       |lab AS (SELECT node, MIN(r) AS cluster FROM reach GROUP BY node),
       |${TextQueries.qualityPpmCte},
       |j AS (SELECT lab.cluster, q.doc_id, q.quality_ppm
       |      FROM lab JOIN qual q ON q.doc_id = lab.node),
       |r2 AS (SELECT cluster, doc_id, quality_ppm,
       |   ROW_NUMBER() OVER (PARTITION BY cluster
       |     ORDER BY quality_ppm DESC, doc_id) AS rn,
       |   COUNT(*) OVER (PARTITION BY cluster) AS n_docs FROM j)
       |SELECT cluster, n_docs, doc_id AS keep_id, quality_ppm AS keep_quality_ppm
       |FROM r2 WHERE rn = 1 ORDER BY cluster""".stripMargin

  // ---------------------------------------------------------------- q193
  /** Cluster-safe train/val/test split with a leakage audit — the
    * splitting step q97 and the dedup family jointly exist for but
    * neither finishes: q97's per-DOC hash split puts near-duplicate
    * documents on opposite sides of the train/test boundary (the
    * classic eval-contamination leak — the model "generalizes" to test
    * docs it effectively trained on), while this query assigns whole
    * q101 near-dup CLUSTERS to splits by hashing the cluster label, so
    * a verified near-dup pair can never straddle a boundary. The audit
    * rides in the result: for the q66 verified pair set, how many pairs
    * straddle splits under the naive per-doc scheme vs the cluster-safe
    * scheme — the latter is ZERO BY CONSTRUCTION (same label → same
    * split), and the oracle proves it rather than asserting it.
    *
    * Scale shape: pairs + components are exactly q101's machinery
    * (bucketed LSH, never all-pairs; distributed label propagation);
    * split assignment is a map-only projection over the (node, label)
    * frame; the leakage join is two doc_id-keyed shuffle joins of the
    * pair list against the assignment (linear in |pairs|); the censuses
    * are 3-row hash aggs. Same md5-bucket split rule as q97, so the
    * naive arm of this query IS q97's assignment, re-audited. */
  private val q193: Q = (s, d) => {
    import graft.functions.PortableHash.md5Bucket60
    def splitOf(c: Column): Column =
      when(c < 80, "train").when(c < 90, "val").otherwise("test")
    // The LSH chain is the expensive part and has TWO consumers here
    // (ConnectedComponents.run materializes its own copy internally, then
    // the leakage join walks the pairs again) — checkpoint it ONCE lazily;
    // run()'s edge count materializes the blocks, the leak join reuses
    // them, and the tracker releases everything after the final (6-row)
    // frame is eagerly cut loose. Same for `assign`, which feeds four
    // consumers (two censuses + both sides of the leak join).
    val tracker = new graft.operators.CheckpointTracker(Tables.documents(s, d))
    val pairs = tracker.lazyCkpt(
      lshVerifiedPairs(s, d, tracker).select(col("id_a"), col("id_b")))
    val nodes = Tables.documents(s, d).select(col("doc_id"))
    val assign = tracker.lazyCkpt(
      graft.operators.ConnectedComponents.run(nodes, pairs)
        .select(col("node").as("doc_id"),
          splitOf(md5Bucket60(col("node").cast("string")) % 100).as("naive_split"),
          splitOf(md5Bucket60(col("label").cast("string")) % 100).as("safe_split")))
    val leak = pairs
      .join(assign.select(col("doc_id").as("id_a"),
        col("naive_split").as("na"), col("safe_split").as("sa")), Seq("id_a"))
      .join(assign.select(col("doc_id").as("id_b"),
        col("naive_split").as("nb"), col("safe_split").as("sb")), Seq("id_b"))
      .agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(when(col("na") =!= col("nb"), 1L).otherwise(0L)), lit(0L))
          .as("naive_leaked"),
        coalesce(sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L)), lit(0L))
          .as("safe_leaked"))
    val out = assign.groupBy(col("naive_split").as("split"))
      .agg(count(lit(1)).as("naive_docs"))
      .join(assign.groupBy(col("safe_split").as("split"))
        .agg(count(lit(1)).as("safe_docs")), Seq("split"), "full_outer")
      .crossJoin(leak)
      .select(col("split"),
        coalesce(col("naive_docs"), lit(0L)).as("naive_docs"),
        coalesce(col("safe_docs"), lit(0L)).as("safe_docs"),
        col("n_pairs"), col("naive_leaked"), col("safe_leaked"))
      .orderBy(col("split"))
      // One eager action runs the whole pipeline while the lazy blocks are
      // alive; the ≤3-row result outlives them (CheckpointTracker contract).
      .localCheckpoint(true)
    tracker.releaseAll()
    out
  }

  private val q193Sql = {
    def splitOf(key: String): String =
      s"""CASE WHEN CAST(('0x' || substr(md5(CAST($key AS VARCHAR)), 1, 15)) AS BIGINT)
         |       % 100 < 80 THEN 'train'
         |     WHEN CAST(('0x' || substr(md5(CAST($key AS VARCHAR)), 1, 15)) AS BIGINT)
         |       % 100 < 90 THEN 'val' ELSE 'test' END""".stripMargin
    s"""WITH RECURSIVE $lshPairsCte,
       |e AS (SELECT id_a AS u, id_b AS v FROM p
       |      UNION ALL SELECT id_b AS u, id_a AS v FROM p),
       |reach AS (SELECT doc_id AS node, doc_id AS r FROM documents
       |          UNION
       |          SELECT e.u AS node, reach.r FROM e JOIN reach ON reach.node = e.v),
       |lab AS (SELECT node, MIN(r) AS cluster FROM reach GROUP BY node),
       |asg AS (SELECT node AS doc_id,
       |          ${splitOf("node")} AS naive_split,
       |          ${splitOf("cluster")} AS safe_split
       |        FROM lab),
       |leak AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |    CAST(COALESCE(SUM(CASE WHEN a.naive_split <> b.naive_split
       |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS naive_leaked,
       |    CAST(COALESCE(SUM(CASE WHEN a.safe_split <> b.safe_split
       |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS safe_leaked
       |  FROM p JOIN asg a ON a.doc_id = p.id_a JOIN asg b ON b.doc_id = p.id_b),
       |nc AS (SELECT naive_split AS split, CAST(COUNT(*) AS BIGINT) AS naive_docs
       |       FROM asg GROUP BY 1),
       |sc AS (SELECT safe_split AS split, CAST(COUNT(*) AS BIGINT) AS safe_docs
       |       FROM asg GROUP BY 1)
       |SELECT COALESCE(nc.split, sc.split) AS split,
       |  COALESCE(nc.naive_docs, 0) AS naive_docs,
       |  COALESCE(sc.safe_docs, 0) AS safe_docs,
       |  leak.n_pairs, leak.naive_leaked, leak.safe_leaked
       |FROM nc FULL OUTER JOIN sc ON sc.split = nc.split CROSS JOIN leak
       |ORDER BY split""".stripMargin
  }

  // ---------------------------------------------------------------- q38 (no oracle: SimHash)
  /** 64-bit SimHash over distinct words + Hamming distance to doc_id+1.
    * Near-dups have small Hamming distance; the per-doc signature is the
    * one-pass codegen [[graft.functions.SimHash64]] kernel (no shuffle),
    * and the neighbor pair is an equi-join on doc_id+1 — shuffles on the
    * key like any join, never a global window. The original nested
    * higher-order-lambda formulation ran interpreted at O(64·|words|)
    * per row — honest toRdd benching caught it at 9.8 s / sf0.1, 14×
    * SLOWER than the "slow" portable twin q67 — the exact trap the
    * MinHashSig scaladoc documents for q37. */
  private val q38: Q = (s, d) => {
    graft.GraftExtensions.install(s)
    val sig = Tables.documents(s, d)
      .withColumn("simhash", expr("simhash64(array_distinct(split(text, ' ')))"))
      .select(col("doc_id"), col("simhash"))
    val nxt = sig.select((col("doc_id") - 1).as("doc_id"), col("simhash").as("next_simhash"))
    sig.join(nxt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("simhash"),
        when(col("next_simhash").isNotNull,
          expr("bit_count(simhash ^ next_simhash)").cast("long")).as("hamming_next"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- q67 (oracle-checked SimHash)
  /** SimHash re-expressed as an aggregation so it is (a) whole-stage-codegen
    * (q38's nested higher-order lambdas run interpreted) and (b) portable:
    * word hashes are 60-bit md5 prefixes, so DuckDB reproduces the signature
    * bit-for-bit and the oracle checks the ENTIRE simhash, not a proxy.
    *
    * Shape: explode(words) × explode(bits) → per-(doc, bit) ±1 sums →
    * per-doc bit reassembly. Two hash aggregates on tiny keys, both
    * map-side combinable — the formulation that survives 100 TB, unlike
    * any per-row O(64·|words|) interpreted lambda.
    */
  private val q67: Q = (s, d) => {
    val wd = Tables.documents(s, d)
      .withColumn("ws", array_distinct(split(col("text"), " ")))
    val ew = wd.select(col("doc_id"), explode(col("ws")).as("w"))
      .select(col("doc_id"),
        graft.functions.PortableHash.md5Bucket60(col("w")).as("h"))
    val bits = ew
      .select(col("doc_id"), col("h"), explode(sequence(lit(0), lit(59))).as("b"))
      .groupBy(col("doc_id"), col("b"))
      .agg(sum(expr("(shiftright(h, b) & 1) * 2 - 1")).as("sgn"))
    val sim = bits.groupBy(col("doc_id"))
      .agg(sum(expr(
        "CASE WHEN sgn > 0 THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END"))
        .as("simhash"))
    val nxt = sim.select((col("doc_id") - 1).as("doc_id"), col("simhash").as("next_simhash"))
    sim.join(nxt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("simhash"),
        expr("bit_count(simhash ^ next_simhash)").cast("long").as("hamming_next"))
      .orderBy(col("doc_id"))
  }

  private val q67Sql =
    """WITH wd AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws FROM documents),
      |ew AS (SELECT doc_id, CAST(('0x' || substr(md5(w),1,15)) AS BIGINT) AS h
      |       FROM (SELECT doc_id, UNNEST(ws) AS w FROM wd)),
      |bits AS (SELECT doc_id, b, SUM(((h >> b) & 1) * 2 - 1) AS sgn
      |         FROM ew CROSS JOIN (SELECT UNNEST(range(60)) AS b) t GROUP BY doc_id, b),
      |sim AS (SELECT doc_id, CAST(SUM(CASE WHEN sgn > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
      |        FROM bits GROUP BY doc_id)
      |SELECT a.doc_id AS doc_id, a.simhash AS simhash,
      | CAST(bit_count(xor(a.simhash, n.simhash)) AS BIGINT) AS hamming_next
      |FROM sim a LEFT JOIN sim n ON n.doc_id = a.doc_id + 1
      |ORDER BY a.doc_id""".stripMargin

  // ---------------------------------------------------------------- q86
  /** EXACT all-pairs near-dup join via prefix filtering
    * (graft.operators.SetSimilarityJoin): zero false negatives by
    * construction, unlike the LSH paths. The oracle is the brute-force
    * O(N²) join — proving the prefix pruning is result-invariant. At scale
    * only the Spark side survives; the quadratic formulation exists solely
    * as the correctness witness. */
  private val q86: Q = (s, d) => {
    // Round 16: tracked checkpoints inside jaccardJoin (shingled sets,
    // df-ordered prefixes, hashed verify arrays each had 2 consumers —
    // WorkProbe: 3 documents scans -> 1); eager final + releaseAll.
    val ck = new graft.operators.CheckpointTracker(Tables.documents(s, d))
    val docs = withShingles(Tables.documents(s, d), "text")
      .select(col("doc_id"), col("sh"))
    val out = graft.operators.SetSimilarityJoin
      .jaccardJoin(docs, "doc_id", "sh", 0.5, ck, normalized = true)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
      .localCheckpoint(true)
    ck.releaseAll()
    out
  }

  private val q86Sql =
    """WITH sh AS (
      | SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
      |   i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS sh
      | FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) WHERE len(w) >= 3)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      | round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |       len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |      len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- q93
  /** Benchmark DECONTAMINATION: find training documents sharing verbatim
    * 3-word shingles with a held-out evaluation set (here the deterministic
    * pseudo-benchmark `doc_id % 97 = 0` — in production, the real eval
    * suite). The standard first-pass train/test-overlap check before
    * training on scraped data.
    *
    * Scale shape: both sides explode to (shingle, id) and join on the
    * shingle — an equi-join whose build side (the eval set) is tiny and
    * broadcast. Shingles occurring in more than 50 training docs are
    * dropped first (boilerplate like "terms of service" carries no
    * contamination signal and is exactly the hot-key skew an all-shingle
    * join would suffer at 100 TB); the df filter is one hash aggregate. */
  private val q93: Q = (s, d) => {
    // Round 17 (the r16 verdict's item #8): checkpointing the exploded
    // shingle stream for its three consumers was TRIED and measured WORSE
    // (interleaved A/B, 4 pairs at sf0.1×32: checkpointed mins
    // 1.374-1.426 s vs un-checkpointed 1.129-1.291 s, un-checkpointed
    // wins every pair) — the stream is corpus×shingles-sized, and with
    // the round-17 substring kernel two extra scan+kernel+explode passes
    // are cheaper than materializing and re-reading those blocks. The
    // q219/q110 lesson generalized: checkpoint small multi-consumer
    // frames (q113's distinct (source, shingle)), never wide streams a
    // cheap kernel can regenerate.
    val docs = withShingles(Tables.documents(s, d), "text")
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
    val informative = docs.groupBy(col("shingle"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") <= 50)
      .select(col("shingle"))
    val test = docs.filter(col("doc_id") % 97 === 0)
      .join(informative, Seq("shingle"))
      .select(col("shingle"), col("doc_id").as("test_id"))
    val train = docs.filter(col("doc_id") % 97 =!= 0)
      .select(col("shingle"), col("doc_id").as("train_id"))
    train.join(broadcast(test), Seq("shingle"))
      .groupBy(col("train_id"), col("test_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
      .orderBy(col("train_id"), col("test_id"))
  }

  private val q93Sql =
    """WITH sh AS (
      | SELECT doc_id, UNNEST(list_distinct(list_transform(range(1, len(w) - 1),
      |   i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]))) AS shingle
      | FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) WHERE len(w) >= 3),
      |informative AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(DISTINCT doc_id) <= 50),
      |test AS (SELECT s.shingle, s.doc_id AS test_id FROM sh s
      |         JOIN informative i ON i.shingle = s.shingle WHERE s.doc_id % 97 = 0),
      |train AS (SELECT shingle, doc_id AS train_id FROM sh WHERE doc_id % 97 <> 0)
      |SELECT t.train_id, x.test_id, COUNT(*) AS n_shared
      |FROM train t JOIN test x ON x.shingle = t.shingle
      |GROUP BY t.train_id, x.test_id
      |HAVING COUNT(*) >= 3
      |ORDER BY train_id, test_id""".stripMargin

  // ---------------------------------------------------------------- q109
  /** q93's decontamination contract computed through the Bloom-pre-filter
    * scale path ([[graft.operators.BloomDecontam]]): a Bloom filter over
    * the eval shingles prunes the train side map-side BEFORE any exchange.
    * No false negatives ⇒ the exact join downstream yields bit-identical
    * output, so q109 shares q93's oracle SQL verbatim — the correctness
    * gate itself proves the Bloom stage is lossless. */
  private val q109: Q = (s, d) => {
    // Round 16: the eval-side frame embeds the corpus-wide
    // document-frequency aggregate, and it has TWO consumers inside
    // BloomDecontam (the filter build and the exact join) — the
    // un-checkpointed plan re-ran the full informative-df pass per
    // consumer (WorkProbe: 5 documents scans -> 3; the remaining three —
    // df agg, eval filter, train filter — are the operator's intrinsic
    // shape, shared with q93). The frame itself is tiny (eval shingles).
    // The filter build collects during construction, which materializes
    // the lazy blocks; eager final + releaseAll per the tracker contract.
    val tracker = new graft.operators.CheckpointTracker(Tables.documents(s, d))
    val docs = withShingles(Tables.documents(s, d), "text")
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
    val informative = docs.groupBy(col("shingle"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") <= 50)
      .select(col("shingle"))
    val test = tracker.lazyCkpt(docs.filter(col("doc_id") % 97 === 0)
      .join(informative, Seq("shingle"))
      .select(col("shingle"), col("doc_id").as("test_id")))
    val train = docs.filter(col("doc_id") % 97 =!= 0)
      .select(col("shingle"), col("doc_id").as("train_id"))
    val out = graft.operators.BloomDecontam
      .contaminatedPairs(train, test, expectedItems = 1 << 16, minShared = 3)
      .orderBy(col("train_id"), col("test_id"))
      .localCheckpoint(true)
    tracker.releaseAll()
    out
  }

  // ---------------------------------------------------------------- q122
  /** Incremental (delta) dedup — the continuous-crawl shape: an incoming
    * batch (here doc_id ≡ 0 mod 10, a deterministic 10% "new snapshot") is
    * deduplicated AGAINST THE EXISTING CORPUS, never against itself — new
    * docs that only duplicate each other both survive, exactly as a
    * production delta-dedup keeps intra-batch copies for the NEXT global
    * pass. Two layers with exact-layer precedence: verbatim (md5 text
    * fingerprint semi-matched to the old side) and near (the q66 portable
    * MinHash-LSH scheme, hash-for-hash, but with the candidate band join
    * RESTRICTED to old×new — the asymmetry is the operator: candidate
    * volume is |old ∩ new bands|, not the global pair count, and no
    * old×old work is ever done).
    *
    * Scale shape: at 100 TB the old side's signatures and band index are
    * computed once per snapshot and stored; an incoming batch hashes only
    * its own documents and probes the index — the shape here, with both
    * sides derived from one table for oracle replayability. Verify runs
    * on old×new candidates only (sorted_overlap merge scan); the final
    * per-new-doc verdict is two left joins against aggregates keyed on
    * the new doc id. Every new doc emits exactly one verdict row —
    * including sub-3-word docs that never enter the shingle pipeline. */
  private val q122: Q = (s, d) => {
    // Round 16 checkpointed the fingerprint and shingled frames (the
    // un-checkpointed plan re-kerneled the documents table per consumer:
    // 7 documents scans). Round 17 reverted both: with the substring
    // shingle kernel the recompute became cheaper than materializing +
    // re-reading the blocks (interleaved sf1 A/B, 3 pairs: checkpointed
    // mins 1.92-5.79 s vs un-checkpointed 1.80-2.80, un-checkpointed min
    // wins; sf0.1 was flat in round 16 already). No intermediate frame is
    // checkpointed; only the small verdict frame is, eagerly (it cuts the
    // multi-join lineage the bench action would otherwise re-analyze).
    val docs = Tables.documents(s, d)
      .withColumn("is_new", (col("doc_id") % 10 === 0).cast("boolean"))
    // exact layer: lowest old doc sharing the text fingerprint
    val fp =
      docs.select(col("doc_id"), col("is_new"), md5(col("text")).as("fp"))
    val exact = fp.filter(col("is_new"))
      .join(fp.filter(!col("is_new")).select(col("fp"), col("doc_id").as("old_id")),
        Seq("fp"))
      .groupBy(col("doc_id")).agg(min(col("old_id")).as("exact_id"))
    // near layer: q66's signature/band scheme, candidates old×new only
    // (word_shingles output is already distinct — kernel contract)
    val sh = withShingles(docs, "text")
      .select(col("doc_id"), col("is_new"), col("sh"))
    val ex = sh.select(col("doc_id"), col("is_new"), explode(col("sh")).as("s"))
      .withColumn("h1", graft.functions.PortableHash.md5Bucket60(col("s")))
      .withColumn("h2", graft.functions.PortableHash.md5Bucket60Hi(col("s")))
    // same Kirsch–Mitzenmacher family as lshVerifiedPairs (q66)
    val mins = (0 to 7).map(j =>
      min((col("h1") + lit(j.toLong) * col("h2")) % (1L << 60)).as(s"m$j"))
    val sig = ex.groupBy(col("doc_id"), col("is_new")).agg(mins.head, mins.tail: _*)
    def bh(b: Int): Column =
      graft.functions.PortableHash.md5Bucket60(concat(
        col(s"m${2 * b}").cast("string"), lit(","),
        col(s"m${2 * b + 1}").cast("string")))
    val bands = sig
      .select(col("doc_id"), col("is_new"),
        posexplode(array(bh(0), bh(1), bh(2), bh(3))))
      .withColumnRenamed("pos", "band_id").withColumnRenamed("col", "band_hash")
    val cand = bands.filter(!col("is_new"))
      .select(col("band_id"), col("band_hash"), col("doc_id").as("old_id"))
      .join(bands.filter(col("is_new"))
        .select(col("band_id"), col("band_hash"), col("doc_id").as("new_id")),
        Seq("band_id", "band_hash"))
      .select(col("old_id"), col("new_id")).distinct()
    val sorted = sh.select(col("doc_id"), sort_array(col("sh")).as("sh"))
    val near = cand
      .join(sorted.select(col("doc_id").as("old_id"), col("sh").as("sh_a")), Seq("old_id"))
      .join(sorted.select(col("doc_id").as("new_id"), col("sh").as("sh_b")), Seq("new_id"))
      .withColumn("n_inter", expr("sorted_overlap(sh_a, sh_b)").cast("long"))
      .withColumn("n_union",
        (size(col("sh_a")) + size(col("sh_b")) - col("n_inter")).cast("long"))
      .filter(col("n_inter").cast("double") / col("n_union") >= 0.5)
      .groupBy(col("new_id"))
      .agg(count(lit(1)).as("n_near"), min(col("old_id")).as("near_id"))
    docs.filter(col("is_new")).select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near.withColumnRenamed("new_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_id").isNotNull, lit("dup_exact"))
          .when(col("near_id").isNotNull, lit("dup_near"))
          .otherwise(lit("kept")).as("status"),
        coalesce(col("exact_id"), col("near_id"), lit(-1L)).as("match_id"),
        coalesce(col("n_near"), lit(0L)).as("n_near_partners"))
      .orderBy(col("doc_id"))
      // one eager action runs the whole pipeline
      .localCheckpoint(true)
  }

  /** DuckDB replay: the q66 pair CTE gives ALL verified J>=0.5 pairs; the
    * incremental restriction is the one-side-new filter — provably the
    * same set the old×new band join finds, since band collision is
    * symmetric and verify is identical. */
  private val q122Sql =
    s"""WITH $lshPairsCte,
       |np AS (SELECT CASE WHEN id_a % 10 = 0 THEN id_b ELSE id_a END AS old_id,
       |              CASE WHEN id_a % 10 = 0 THEN id_a ELSE id_b END AS new_id,
       |              n_inter, n_union
       |       FROM p WHERE (id_a % 10 = 0) <> (id_b % 10 = 0)),
       |near AS (SELECT new_id, COUNT(*) AS n_near, MIN(old_id) AS near_id
       |         FROM np GROUP BY new_id),
       |fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
       |exact AS (SELECT n.doc_id, MIN(o.doc_id) AS exact_id
       |          FROM fp n JOIN fp o ON o.fp = n.fp AND o.doc_id % 10 <> 0
       |          WHERE n.doc_id % 10 = 0 GROUP BY n.doc_id)
       |SELECT d.doc_id,
       | CASE WHEN e.exact_id IS NOT NULL THEN 'dup_exact'
       |      WHEN nr.near_id IS NOT NULL THEN 'dup_near'
       |      ELSE 'kept' END AS status,
       | COALESCE(e.exact_id, nr.near_id, -1) AS match_id,
       | COALESCE(nr.n_near, 0) AS n_near_partners
       |FROM documents d
       |LEFT JOIN exact e ON e.doc_id = d.doc_id
       |LEFT JOIN near nr ON nr.new_id = d.doc_id
       |WHERE d.doc_id % 10 = 0 ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q123
  /** Embedding-cosine near-dup dedup via multi-table LSH: a vector is a
    * duplicate when an EARLIER vector (smaller vec_id — the "canonical
    * copy" stand-in for crawl order) sits within cosine τ=0.35 of it.
    * Candidates come from [[graft.operators.CosineLshJoin]] — 8 independent
    * hyperplane tables of a CORPUS-ADAPTIVE plane count p =
    * ⌈log2(n/250)⌉ (floor 3, integer-exact, the q108 k=⌈n/250⌉
    * precedent), the band/row recall trade of the MinHash-LSH text scheme
    * transplanted to embedding space — and every candidate is verified
    * with the exact codegen dot before the verdict. Adaptive p keeps
    * per-table bucket population ≈250 as the corpus grows, so candidate
    * volume stays LINEAR in n instead of the ~n² a fixed 2³-bucket table
    * degenerates to (ScalingProbe measured 100× candidates at 10× data
    * under the old fixed p=3).
    * The complementary candidate engine to q108's SemDedup (k-means cluster
    * partition): LSH needs no trained partition and its recall is a closed
    * form in (L, p), while k-means concentrates near neighbors into one
    * cluster at the price of a fit. Output is a per-vector census: max
    * verified similarity to any earlier near neighbor (NULL ⇒ kept), the
    * earliest such neighbor, and the keep flag — the same keep-earliest
    * shape as q122's incremental verdicts.
    *
    * ORACLE-VERIFIED like q43/q51: the plane family is a deterministic
    * seeded constant and prefix-consistent (planes(k) is the first k of
    * planes(k′>k)), so [[q123Sql]] embeds the maximal 8×14 family as
    * literals, re-derives p from COUNT(*) with the same integer probe,
    * and DuckDB replays sign bits → per-table buckets → candidate pairs
    * → exact verify → census, hash-for-hash at any corpus size.
    * Approximation means "only pairs that collide in ≥1 table are
    * scored", not "nondeterministic"; the recall knob (L tables ×
    * adaptive p planes) is replayed exactly by the oracle. */
  private val q123: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val p = graft.operators.CosineLshJoin.adaptivePlanes(e.count())
    val pairs = graft.operators.CosineLshJoin.nearDupPairs(
      e, "vec_id", "embedding",
      tables = 8, planesPerTable = p, dim = 64, tau = 0.35)
    val sup = pairs.groupBy(col("id_b"))
      .agg(max(col("sim")).as("max_sim"), min(col("id_a")).as("match_id"))
    e.select(col("vec_id"), col("label"))
      .join(sup.withColumnRenamed("id_b", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"), col("max_sim"),
        coalesce(col("match_id"), lit(-1L)).as("match_id"),
        col("max_sim").isNull.cast("long").as("kept"))
      .orderBy(col("vec_id"))
  }

  /** DuckDB replay of the full multi-table LSH pipeline with the maximal
    * 8×14 plane family baked in as literals. The plane count p is
    * re-derived from COUNT(*) with the same integer probe as
    * [[graft.operators.CosineLshJoin.adaptivePlanes]] (smallest p with
    * 250·2^p ≥ n, clamped to [3, 14] — no floating-point log2, whose
    * engine-specific rounding at exact powers of two would desync the
    * two sides). Global plane g belongs to table g/p, bit g%p, planes
    * g < 8p used — the same contiguous slicing CosineLshJoin applies to
    * the same prefix-consistent seeded family. */
  private def q123Sql: String = {
    val fam = graft.operators.HyperplaneLsh.planes(numPlanes = 8 * 14, dim = 64, seed = 12345L)
    val vals = fam.zipWithIndex.map { case (p, g) =>
      p.map(x => s"CAST($x AS FLOAT)").mkString(s"($g, [", ",", "])")
    }.mkString(",")
    val probe = (1 to 14).map(p => s"($p)").mkString(",")
    s"""WITH pl AS (SELECT * FROM (VALUES $vals) AS t(g, v)),
       |np AS (SELECT GREATEST(3, LEAST(14, COALESCE(MIN(c.p), 14))) AS p
       |       FROM (VALUES $probe) c(p)
       |       WHERE 250 * (1 << c.p) >= (SELECT COUNT(*) FROM embeddings)),
       |u AS (SELECT e.vec_id, pl.g, UNNEST(e.embedding) AS x, UNNEST(pl.v) AS y
       |      FROM embeddings e, pl, np WHERE pl.g < 8 * np.p),
       |dt AS (SELECT vec_id, g, SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dp
       |       FROM u GROUP BY vec_id, g),
       |bk AS (SELECT vec_id, g // np.p AS tbl,
       |         SUM(CASE WHEN dp > 0 THEN (1 << (g % np.p)) ELSE 0 END) AS bucket
       |       FROM dt, np GROUP BY vec_id, g // np.p),
       |cp AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |       FROM bk a JOIN bk b
       |         ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |cu AS (SELECT c.id_a, c.id_b, UNNEST(ea.embedding) AS x, UNNEST(eb.embedding) AS y
       |       FROM cp c JOIN embeddings ea ON ea.vec_id = c.id_a
       |            JOIN embeddings eb ON eb.vec_id = c.id_b),
       |sims AS (SELECT id_a, id_b,
       |            round(SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 4) AS sim
       |         FROM cu GROUP BY id_a, id_b),
       |vp AS (SELECT * FROM sims WHERE sim >= 0.35),
       |sup AS (SELECT id_b, MAX(sim) AS max_sim, MIN(id_a) AS match_id
       |        FROM vp GROUP BY id_b)
       |SELECT e.vec_id, e.label, s.max_sim,
       | COALESCE(s.match_id, -1) AS match_id,
       | CAST(CASE WHEN s.max_sim IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
       |FROM embeddings e LEFT JOIN sup s ON s.id_b = e.vec_id
       |ORDER BY e.vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- q147
  /** Dedup-recall evaluation — the meta-operator that answers "what does
    * the LSH stage MISS?" before anyone trusts it at 100 TB: ground truth
    * is the EXACT all-pairs 3-shingle Jaccard ≥ 0.5 join (the PPJoin
    * prefix-filter operator — lossless, so it is a legitimate truth set,
    * not another approximation), detected is the q66 MinHash-LSH
    * candidate + verify pipeline; verified LSH pairs are a subset of
    * truth by construction (identical threshold on identical shingle
    * sets), so the one-row report is truth / detected / missed / recall
    * in exact integer ppm. The two pair sets are each oracle-replayed
    * end-to-end (the q66 CTE and the brute-force witness), so the recall
    * number itself is cross-engine-verified. Both counts are bounded
    * driver scalars (the KMeans-centroid class of collect). At 100 TB the
    * full-corpus truth side is the wrong tool for a RECURRING monitor —
    * that posture is [[q157]] (md5-stratified sampled truth); this stays
    * as the exact witness that calibrates it. */
  private val q147: Q = (s, d) => {
    import s.implicits._
    // Round 16: both counts are actions run during construction, so the
    // tracked shingle/prefix checkpoints materialize under them and are
    // released before the (local) result frame is returned.
    val ck = new graft.operators.CheckpointTracker(Tables.documents(s, d))
    val sets = withShingles(Tables.documents(s, d), "text")
      .select(col("doc_id"), col("sh"))
    val nTrue = graft.operators.SetSimilarityJoin
      .jaccardJoin(sets, "doc_id", "sh", 0.5, ck, normalized = true).count()
    val nDet = lshVerifiedPairs(s, d, ck).count()
    ck.releaseAll()
    val recall = if (nTrue == 0) 0L else nDet * 1000000L / nTrue
    Seq((nTrue, nDet, nTrue - nDet, recall))
      .toDF("n_true", "n_detected", "n_missed", "recall_ppm")
  }

  private val q147Sql =
    s"""WITH $lshPairsCte,
       |brute AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b
       | FROM sh x JOIN sh y ON x.doc_id < y.doc_id
       | WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
       |       len(list_distinct(list_concat(x.sh, y.sh))) >= 0.5),
       |c AS (SELECT CAST((SELECT COUNT(*) FROM brute) AS BIGINT) AS n_true,
       |             CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_detected)
       |SELECT n_true, n_detected, n_true - n_detected AS n_missed,
       | CAST(CASE WHEN n_true = 0 THEN 0
       |      ELSE n_detected * 1000000 // n_true END AS BIGINT) AS recall_ppm
       |FROM c""".stripMargin

  // ---------------------------------------------------------------- q157
  /** Sampled-truth recall evaluation — q147's 100 TB posture. q147's
    * ground truth is the exact all-pairs join over the WHOLE corpus:
    * legitimate as an oracle witness, but as a recurring recall monitor
    * at 100 TB you run truth on a sample. The sample is a deterministic
    * 25% md5 stratum of doc_id (the q97 split discipline — stable under
    * re-partitioning, re-ordering, and incremental re-runs, unlike any
    * row_number or RNG sample), so BOTH engines re-derive the identical
    * sample from the data alone. Truth = exact Jaccard ≥ 0.5 all-pairs
    * (lossless PPJoin pruning) over sampled docs only — the expensive
    * side's work is bounded by the sample (ScalingProbe `q157_truth_cand`
    * counts its candidate volume); detected = the PRODUCTION full-corpus
    * LSH pipeline restricted to sampled-endpoint pairs, a map-side
    * predicate (membership is a pure hash of doc_id — no join). Detected
    * ⊆ truth by construction, so recall_ppm ≤ 10⁶ and estimates the
    * corpus recall q147 measures exactly. */
  private val q157: Q = (s, d) => {
    import s.implicits._
    def inSample(c: Column): Column =
      graft.functions.PortableHash.md5Bucket60(c.cast("string")) % 100 < 25
    val sample = Tables.documents(s, d).filter(inSample(col("doc_id")))
    val nSample = sample.count()
    // Round 16: same tracked-checkpoint discipline as q147 (both counts
    // are construction-time actions).
    val ck = new graft.operators.CheckpointTracker(Tables.documents(s, d))
    val sets = withShingles(sample, "text").select(col("doc_id"), col("sh"))
    val nTrue = graft.operators.SetSimilarityJoin
      .jaccardJoin(sets, "doc_id", "sh", 0.5, ck, normalized = true).count()
    val nDet = lshVerifiedPairs(s, d, ck)
      .filter(inSample(col("id_a")) && inSample(col("id_b"))).count()
    ck.releaseAll()
    val recall = if (nTrue == 0) 0L else nDet * 1000000L / nTrue
    Seq((nSample, nTrue, nDet, nTrue - nDet, recall))
      .toDF("n_sample_docs", "n_true", "n_detected", "n_missed", "recall_ppm")
  }

  private val q157Sql =
    s"""WITH $lshPairsCte,
       |samp AS (SELECT doc_id FROM documents
       | WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 25),
       |brute AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b
       | FROM sh x JOIN sh y ON x.doc_id < y.doc_id
       | WHERE x.doc_id IN (SELECT doc_id FROM samp)
       |   AND y.doc_id IN (SELECT doc_id FROM samp)
       |   AND CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
       |       len(list_distinct(list_concat(x.sh, y.sh))) >= 0.5),
       |det AS (SELECT * FROM p
       | WHERE CAST(('0x' || substr(md5(CAST(id_a AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 25
       |   AND CAST(('0x' || substr(md5(CAST(id_b AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 25),
       |c AS (SELECT CAST((SELECT COUNT(*) FROM samp) AS BIGINT) AS n_sample_docs,
       |             CAST((SELECT COUNT(*) FROM brute) AS BIGINT) AS n_true,
       |             CAST((SELECT COUNT(*) FROM det) AS BIGINT) AS n_detected)
       |SELECT n_sample_docs, n_true, n_detected, n_true - n_detected AS n_missed,
       | CAST(CASE WHEN n_true = 0 THEN 0
       |      ELSE n_detected * 1000000 // n_true END AS BIGINT) AS recall_ppm
       |FROM c""".stripMargin

  // ---------------------------------------------------------------- q211
  /** Duplicate-cluster size spectrum — the DISTRIBUTION audit over the
    * q101 near-dup clustering (the family has per-cluster operators —
    * collapse, canonical pick, cluster-safe split — but no answer to
    * "how duplicated IS this corpus, and how is the duplication
    * shaped?"): cluster-size spectrum N_s, the removable-duplicate mass
    * (Σ(s−1)·N_s and its ppm — exactly what a dedup pass would delete),
    * singleton count, and the log-log OLS slope of the s ≥ 2 spectrum
    * tail (web-scale corpora show a power-law duplication tail; a flat
    * slope means a few giant boilerplate clusters dominate and exact
    * collapse beats near-dup effort). Slope inputs are floor-ln
    * micro-nat integers (the q121 rule) so both engines feed OLS the
    * identical Longs; the slope itself is ONE double division of those
    * exact integers — bit-identical, no truncation-direction concern
    * (the numerator is legitimately negative) — NULL when the tail has
    * < 2 points or zero variance.
    *
    * Scale shape: pairs and labels are exactly q193's machinery
    * (bucketed LSH + distributed label propagation, lazily checkpointed
    * once); everything after the (label) count is spectrum-sized (≤
    * distinct cluster sizes), ending in one 1-row frame. */
  private val q211: Q = (s, d) => {
    val tracker = new graft.operators.CheckpointTracker(Tables.documents(s, d))
    val pairs = tracker.lazyCkpt(
      lshVerifiedPairs(s, d, tracker).select(col("id_a"), col("id_b")))
    val nodes = Tables.documents(s, d).select(col("doc_id"))
    val spec = graft.operators.ConnectedComponents.run(nodes, pairs)
      .groupBy(col("label")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz")).agg(count(lit(1)).as("ns"))
      .localCheckpoint(true) // ≤ distinct-sizes rows; two aggregates below
    tracker.releaseAll()
    val base = spec.agg(
      sum(col("sz") * col("ns")).as("n_docs"),
      sum(col("ns")).as("n_clusters"),
      coalesce(sum(when(col("sz") === 1, col("ns"))), lit(0L)).as("n_singletons"),
      sum((col("sz") - 1) * col("ns")).as("dup_excess"))
    val ols = spec.filter(col("sz") >= 2)
      .select(
        expr("CAST(floor(1000000.0 * ln(CAST(sz AS DOUBLE))) AS BIGINT)").as("x"),
        expr("CAST(floor(1000000.0 * ln(CAST(ns AS DOUBLE))) AS BIGINT)").as("y"))
      .agg(count(lit(1)).as("m"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"))
    base.crossJoin(broadcast(ols))
      .select(col("n_docs"), col("n_clusters"), col("n_singletons"),
        col("dup_excess"),
        expr("dup_excess * 1000000 div n_docs").as("dup_ppm"),
        expr("""CASE WHEN m >= 2 AND (m * sxx - sx * sx) <> 0
                THEN CAST(m * sxy - sx * sy AS DOUBLE)
                     / CAST(m * sxx - sx * sx AS DOUBLE)
                ELSE NULL END""").as("zipf_slope"))
  }

  private val q211Sql =
    s"""WITH RECURSIVE $lshPairsCte,
       |e AS (SELECT id_a AS u, id_b AS v FROM p
       |      UNION ALL SELECT id_b AS u, id_a AS v FROM p),
       |reach AS (SELECT doc_id AS node, doc_id AS r FROM documents
       |          UNION
       |          SELECT e.u AS node, reach.r FROM e JOIN reach ON reach.node = e.v),
       |lab AS (SELECT node, MIN(r) AS cluster FROM reach GROUP BY node),
       |cz AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS sz FROM lab GROUP BY cluster),
       |spec AS (SELECT sz, CAST(COUNT(*) AS BIGINT) AS ns FROM cz GROUP BY sz),
       |base AS (SELECT CAST(SUM(sz * ns) AS BIGINT) AS n_docs,
       |    CAST(SUM(ns) AS BIGINT) AS n_clusters,
       |    CAST(COALESCE(SUM(CASE WHEN sz = 1 THEN ns END), 0) AS BIGINT)
       |      AS n_singletons,
       |    CAST(SUM((sz - 1) * ns) AS BIGINT) AS dup_excess
       |  FROM spec),
       |pts AS (SELECT
       |    CAST(floor(1000000.0 * ln(CAST(sz AS DOUBLE))) AS BIGINT) AS x,
       |    CAST(floor(1000000.0 * ln(CAST(ns AS DOUBLE))) AS BIGINT) AS y
       |  FROM spec WHERE sz >= 2),
       |ols AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
       |  FROM pts)
       |SELECT n_docs, n_clusters, n_singletons, dup_excess,
       |  CAST(dup_excess * 1000000 // n_docs AS BIGINT) AS dup_ppm,
       |  CASE WHEN m >= 2 AND (m * sxx - sx * sx) <> 0
       |       THEN CAST(m * sxy - sx * sy AS DOUBLE)
       |            / CAST(m * sxx - sx * sx AS DOUBLE)
       |       ELSE NULL END AS zipf_slope
       |FROM base, ols""".stripMargin

  val queries: Map[String, Q] = Map(
    "q211_dup_spectrum" -> q211,
    "q157_sampled_recall_eval" -> q157,
    "q147_lsh_recall_eval" -> q147,
    "q123_embedding_neardup" -> q123,
    "q122_incremental_dedup" -> q122,
    "q86_setsim_prefix_join" -> q86,
    "q93_decontamination" -> q93,
    "q109_bloom_decontam" -> q109,
    "q35_dedup_exact_text" -> q35,
    "q36_jaccard_consecutive" -> q36,
    "q66_minhash_lsh_verified" -> q66,
    "q67_simhash_portable" -> q67,
    "q101_dedup_clusters" -> q101,
    "q193_cluster_safe_split" -> q193,
    "q103_containment_join" -> q103,
    "q115_canonical_dedup" -> q115)

  /** Bench-only fast twins of the oracle-verified q66/q67: same LSH /
    * SimHash formulations with xxhash64 in place of portable md5-60bit
    * hashing. xxhash64 has no DuckDB equivalent, so these are excluded from
    * the correctness inventory (their algorithmic correctness is what
    * q66/q67 prove; the kernels are additionally property-tested in
    * DedupSpec/TextKernelsSpec) but stay benchmarked — the hash family is
    * exactly what makes them the production hot path (~8× faster). */
  val perfQueries: Map[String, Q] = Map(
    "q37_minhash_bands" -> q37,
    "q38_simhash_hamming" -> q38)

  val oracle: Map[String, String] = Map(
    "q211_dup_spectrum" -> q211Sql,
    "q157_sampled_recall_eval" -> q157Sql,
    "q147_lsh_recall_eval" -> q147Sql,
    "q123_embedding_neardup" -> q123Sql,
    "q122_incremental_dedup" -> q122Sql,
    "q86_setsim_prefix_join" -> q86Sql,
    "q93_decontamination" -> q93Sql,
    "q109_bloom_decontam" -> q93Sql,
    "q35_dedup_exact_text" -> q35Sql,
    "q36_jaccard_consecutive" -> q36Sql,
    "q66_minhash_lsh_verified" -> q66Sql,
    "q101_dedup_clusters" -> q101Sql,
    "q193_cluster_safe_split" -> q193Sql,
    "q103_containment_join" -> q103Sql,
    "q115_canonical_dedup" -> q115Sql,
    "q67_simhash_portable" -> q67Sql)
}
