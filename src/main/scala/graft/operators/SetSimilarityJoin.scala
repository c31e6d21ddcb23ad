package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact all-pairs set-similarity join (Jaccard ≥ t) with prefix filtering
  * — the PPJoin-family formulation for distributed engines.
  *
  * A naive all-pairs Jaccard join is O(N²) row pairs — impossible at scale.
  * Prefix filtering is the LOSSLESS pruning: order every set's tokens by a
  * common global order (rarest-first by document frequency, ties by token),
  * emit only each set's first `|s| - ⌈t·|s|⌉ + 1` tokens as join keys; any
  * pair with Jaccard ≥ t provably shares at least one prefix token (if the
  * intersection avoided a's prefix entirely, |a∩b| ≤ ⌈t·|a|⌉-1 < t·|a| ≤
  * |a∩b| — contradiction). So the candidate join touches a tiny, rare-token
  * keyed fraction of the cross product, a length-ratio filter prunes
  * further, and the exact Jaccard verify runs on candidates only.
  *
  * Scale shape: token df is a hash aggregate; the per-set rarest-first sort
  * is a per-row array sort; the candidate join shuffles on single rare
  * tokens (rarest-first prefixes make hot keys structurally impossible —
  * a token in many prefixes has high df, which pushes it OUT of prefixes);
  * verification carries the set arrays only for surviving candidates.
  * Unlike MinHash-LSH (q37/q66) this is EXACT: zero false negatives by
  * construction, verified against a brute-force oracle.
  */
object SetSimilarityJoin {

  /** All pairs of `sets(idCol, setCol: array<string>)` with Jaccard ≥
    * `threshold`, as (id_a, id_b, jaccard), id_a < id_b. Duplicate tokens
    * are normalized away up front (`array_distinct`) — the length/prefix
    * bounds are only valid on distinct-set cardinalities, and the Jaccard
    * verify is distinct-set semantics anyway.
    *
    * `ck` (round 16): when supplied, the multi-consumer frames — the
    * normalized sets (candidate stage + verify arrays), the df-ordered
    * token arrays (both prefix sides) and the hashed verify arrays (both
    * candidate-attach sides) — are lazily checkpointed through the
    * caller's tracker; the un-checkpointed plan re-runs the caller's
    * set-construction pipeline (typically the shingle kernel over the
    * whole corpus) once per consumer (WorkProbe: q103 read the documents
    * table 4×, q86 3×). Caller owns the tracker contract (one eager
    * action, then releaseAll).
    *
    * `normalized` (round 17): callers whose `setCol` is ALREADY distinct
    * (the `word_shingles` kernel's contract — every bench call site) skip
    * the per-document `array_distinct` normalization pass, which over
    * StringType runs off the specialized fast path. Semantics unchanged:
    * array_distinct over a distinct array is the identity. */
  def jaccardJoin(sets: DataFrame, idCol: String, setCol: String,
      threshold: Double, ck: CheckpointTracker = null,
      normalized: Boolean = false): DataFrame = {
    val ckpt: DataFrame => DataFrame = if (ck == null) identity else ck.lazyCkpt
    graft.GraftExtensions.install(sets.sparkSession)
    val norm: Column => Column = if (normalized) identity else array_distinct
    val ss = ckpt(sets.select(col(idCol), norm(col(setCol)).as("_set")))
    // Verify the RAW candidate stream and dedup the verified output, not
    // the candidates: measured multiplicity of the pruned stream is only
    // ~1.05 (a qualifying pair rarely shares more than one prefix token
    // after the positional filter), so a candidate-side distinct would
    // spend a full exchange+dedup of the ~n-sized pair stream to remove
    // 5% of it — while the verified output is orders of magnitude smaller
    // and dedups for free. Duplicate pairs verify to byte-identical rows,
    // so the result set is unchanged.
    val cand = rawCandidatePairs(ss, idCol, "_set", threshold, ckpt)
    // Verify on the normalized sets, sorted ONCE per document so each
    // candidate pair's overlap is an allocation-free codegen merge scan
    // instead of a per-pair array_intersect hash set; |a∪b| = |a| + |b| −
    // overlap, so no union array is materialized. Tokens are pre-hashed to
    // 64-bit longs (one xxhash64 per document token, BEFORE the arrays are
    // attached to candidates), so the pair-stream joins shuffle a fixed
    // 8 B/token instead of string payloads and the merge scan compares
    // longs, not UTF8 bytes. |set| and overlap are hash-collision-exact up
    // to a ~k²/2⁶⁵ per-pair collision the string-side oracle would expose.
    val sorted = ckpt(ss.select(col(idCol),
      sort_array(transform(col("_set"), t => xxhash64(t))).as("_hset")))
    val a = sorted.select(col(idCol).as("id_a"), col("_hset").as("toks_a"))
    val b = sorted.select(col(idCol).as("id_b"), col("_hset").as("toks_b"))
    cand.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .withColumn("__ovl", expr("sorted_overlap_l(toks_a, toks_b)"))
      .withColumn("jaccard",
        col("__ovl").cast("double") /
          (size(col("toks_a")) + size(col("toks_b")) - col("__ovl")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .dropDuplicates(Seq("id_a", "id_b"))
  }

  /** All ORDERED pairs (a, b), a ≠ b, with containment |a∩b|/|a| ≥
    * `threshold` — the asymmetric cousin of [[jaccardJoin]], and the right
    * primitive for decontamination: an eval document pasted inside a much
    * larger training document has high containment but low Jaccard (the
    * big document's size swamps the union), so a Jaccard join never sees
    * it.
    *
    * Losslessness: if |A∩B| ≥ t·|A|, at least one of A's first
    * |A| − ⌈t·|A|⌉ + 1 tokens (global rarest-first order) is in B —
    * otherwise the intersection fits in A's suffix of ⌈t·|A|⌉ − 1 tokens,
    * a contradiction. So A contributes its PREFIX and B contributes its
    * FULL token list to the candidate join. The join keys are still A's
    * rarest tokens, so hot corpus tokens never become keys; B's side is a
    * plain inverted index, linear in corpus size. The positional filter
    * holds at the pair's globally-first common token (which must sit in
    * A's prefix, by the same argument): overlap ≤ 1 + min(n_a − p_a,
    * n_b − p_b). Verified exactly on candidates via `sorted_overlap`. */
  def containmentJoin(sets: DataFrame, idCol: String, setCol: String,
      threshold: Double, ck: CheckpointTracker = null,
      normalized: Boolean = false): DataFrame = {
    val ckpt: DataFrame => DataFrame = if (ck == null) identity else ck.lazyCkpt
    graft.GraftExtensions.install(sets.sparkSession)
    val norm: Column => Column = if (normalized) identity else array_distinct
    val ss = ckpt(sets.select(col(idCol), norm(col(setCol)).as("_set")))
    // Raw candidate stream + verified-output dedup, same reasoning as
    // [[jaccardJoin]] (measured multiplicity ~1.04 here).
    val cand = rawContainmentCandidates(ss, idCol, "_set", threshold, ckpt)
    // Hashed-long verify arrays, same trade as [[jaccardJoin]];
    // checkpointed when tracked (both candidate-attach sides read it).
    val s2 = ckpt(ss.select(col(idCol),
      sort_array(transform(col("_set"), t => xxhash64(t))).as("_hset")))
    cand
      .join(s2.select(col(idCol).as("id_a"), col("_hset").as("toks_a")), Seq("id_a"))
      .join(s2.select(col(idCol).as("id_b"), col("_hset").as("toks_b")), Seq("id_b"))
      .withColumn("n_inter", expr("sorted_overlap_l(toks_a, toks_b)").cast("long"))
      .withColumn("n_a", size(col("toks_a")).cast("long"))
      .filter(col("n_inter").cast("double") >= col("n_a") * threshold - 1e-9)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_a"))
      .dropDuplicates(Seq("id_a", "id_b"))
  }

  /** The containment join's pruned candidate stage alone: all ordered
    * (id_a, id_b) pairs surviving the prefix, length, positional, and
    * length-bucket filters — a lossless superset of the true containment
    * result, before the exact verify. Public for the same reason as
    * [[candidatePairs]]: candidate volume is the deterministic work metric
    * scaling runs report (wall-clock on a shared box is contention-noisy;
    * candidate counts are not). `setCol` elements must be distinct. */
  def containmentCandidates(sets: DataFrame, idCol: String, setCol: String,
      threshold: Double): DataFrame =
    rawContainmentCandidates(sets, idCol, setCol, threshold, identity).distinct()

  /** [[containmentCandidates]] before pair dedup — one row per qualifying
    * (pair, prefix-token, bucket) occurrence. The verify path consumes
    * this directly (see [[containmentJoin]]). `ckpt` checkpoints the
    * df-ordered token arrays, which BOTH the prefix and full-list sides
    * re-derive otherwise (two collect_list shuffles + two upstream
    * re-executions). */
  private def rawContainmentCandidates(sets: DataFrame, idCol: String,
      setCol: String, threshold: Double,
      ckpt: DataFrame => DataFrame): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val ex = sets.select(col(idCol), explode(col(setCol)).as("tok"))
    val dfreq = ex.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val sorted = ckpt(ex.join(dfreq, Seq("tok"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("st"))
      .select(col(idCol), expr("transform(st, x -> x.tok)").as("toks"))
      .withColumn("n", size(col("toks"))))
    val pref = sorted
      .withColumn("plen", (col("n") - ceil(col("n") * threshold) + 1).cast("int"))
      .select(col(idCol), col("n"),
        posexplode(expr("slice(toks, 1, plen)")).as(Seq("p0", "tok")))
      .withColumn("p", col("p0") + 1).drop("p0")
    val full = sorted
      .select(col(idCol), col("n"), posexplode(col("toks")).as(Seq("q0", "tok")))
      .withColumn("q", col("q0") + 1).drop("q0")
    val l = pref.select(col("tok"), col(idCol).as("id_a"), col("n").as("n_a"), col("p").as("p_a"))
    val r = full.select(col("tok"), col(idCol).as("id_b"), col("n").as("n_b"), col("q").as("p_b"))
    // Length-bucketed B-side index: the raw A-prefix × B-full-list join's
    // candidate volume tracks corpus self-similarity super-linearly (3.2×
    // at 10× data measured at sf1) because every B token occurrence meets
    // every A prefix occurrence of that token before the positional filter
    // runs. Bucketing A rows by size class k = ⌊log₂ n_a⌋ and joining on
    // (k, tok) moves the positional bound BEFORE the join: a B occurrence
    // at position p_b can only satisfy overlap ≤ 1 + (n_b − p_b) ≥ t·n_a ≥
    // t·2^k when n_b − p_b + 1 ≥ t·2^k, so it is replicated only into
    // buckets up to kcap = ⌊log₂((n_b − p_b + 1)/t)⌋ — deep positions serve
    // only small-A buckets, and short B docs drop out of large-A buckets
    // entirely (n_b ≥ n_b − p_b + 1 subsumes the length filter). Lossless:
    // a qualifying pair's first common token sits in A's prefix with
    // 1 + min(n_a − p_a, n_b − p_b) ≥ t·n_a ≥ t·2^k, so its B occurrence
    // reaches bucket k. The ±1e-9 slack keeps FP log/floor boundaries from
    // ever pruning (kcap can only round UP a hair — extra candidates, never
    // lost ones). Bucket range is ~log₂(max/min doc size) ≈ 10, and the
    // per-row replication factor shrinks with p_b, so the B index grows by
    // a small constant while join output drops with the pre-applied bound.
    val lb = l.withColumn("k", floor(log(2.0, col("n_a"))).cast("int"))
    val bounds = lb.agg(min(col("k")).as("kmin"), max(col("k")).as("kmax"))
    val rb = r.crossJoin(broadcast(bounds))
      .withColumn("kcap", least(col("kmax"),
        floor(log(2.0, (col("n_b") - col("p_b") + 1).cast("double") / threshold)
          + lit(1e-9)).cast("int")))
      .filter(col("kcap") >= col("kmin"))
      .withColumn("k", explode(sequence(col("kmin"), col("kcap"))))
      .drop("kmin", "kmax", "kcap")
    val minOverlap = lit(threshold) * col("n_a").cast("double") - lit(1e-9)
    lb.join(rb, Seq("tok", "k"))
      .filter(col("id_a") =!= col("id_b"))
      .filter(col("n_b").cast("double") >= minOverlap)
      .filter((lit(1) + least(col("n_a") - col("p_a"), col("n_b") - col("p_b")))
        .cast("double") >= minOverlap)
      .select(col("id_a"), col("id_b"))
  }

  /** The pruned candidate stage alone: all (id_a, id_b) pairs surviving the
    * prefix, length, and positional filters — a superset of the true result
    * (lossless by construction), before the exact-Jaccard verify. Public so
    * scaling runs can measure candidate volume directly; `setCol` elements
    * must be distinct (jaccardJoin normalizes first). */
  def candidatePairs(sets: DataFrame, idCol: String, setCol: String,
      threshold: Double): DataFrame =
    rawCandidatePairs(sets, idCol, setCol, threshold, identity).distinct()

  /** [[candidatePairs]] before pair dedup — one row per qualifying
    * (pair, prefix-token) occurrence; measured multiplicity ~1.05. The
    * verify path consumes this directly (see [[jaccardJoin]]). `ckpt`
    * checkpoints the df-ordered prefix arrays, which BOTH candidate-join
    * sides re-derive otherwise. */
  private def rawCandidatePairs(sets: DataFrame, idCol: String,
      setCol: String, threshold: Double,
      ckpt: DataFrame => DataFrame): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val ex = sets.select(col(idCol), explode(col(setCol)).as("tok"))
    val dfreq = ex.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val sorted = ckpt(ex.join(dfreq, Seq("tok"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("st"))
      .select(col(idCol), expr("transform(st, x -> x.tok)").as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("plen", (col("n") - ceil(col("n") * threshold) + 1).cast("int")))
    // Candidates travel as bare id pairs — the set arrays are attached only
    // AFTER dedup, once per surviving pair (shuffling payload arrays through
    // the token join + distinct measured ~3× slower on self-similar corpora).
    // `p` is the token's 1-based position in the rarest-first order, kept for
    // the positional filter below.
    val pref = sorted.select(col(idCol), col("n"),
      posexplode(expr("slice(toks, 1, plen)")).as(Seq("p0", "tok")))
      .withColumn("p", col("p0") + 1).drop("p0")
    val l = pref.select(col("tok"), col(idCol).as("id_a"), col("n").as("n_a"), col("p").as("p_a"))
    val r = pref.select(col("tok"), col(idCol).as("id_b"), col("n").as("n_b"), col("p").as("p_b"))
    // PPJoin positional filter: Jaccard ≥ t ⟺ overlap ≥ t/(1+t)·(n_a+n_b).
    // For the pair's FIRST common prefix token (both arrays share the same
    // global order, so any earlier common token would itself be a common
    // prefix token), overlap ≤ 1 + min(n_a-p_a, n_b-p_b). Filtering each
    // occurrence by that upper bound is lossless: a qualifying pair always
    // survives at its first common prefix token. The 1e-9 slack keeps a
    // floating-point boundary from ever pruning an exact-threshold pair.
    val minOverlap = lit(threshold / (1.0 + threshold)) *
      (col("n_a") + col("n_b")).cast("double") - lit(1e-9)
    l.join(r, Seq("tok"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("n_b") >= ceil(col("n_a") * threshold) &&
        col("n_a") >= ceil(col("n_b") * threshold))
      .filter((lit(1) + least(col("n_a") - col("p_a"), col("n_b") - col("p_b")))
        .cast("double") >= minOverlap)
      .select(col("id_a"), col("id_b"))
  }
}
