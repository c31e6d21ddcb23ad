package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Deterministic work-volume counters for the scaling-sensitive dedup
  * operators — the contention-immune complement to `graft.Bench`.
  *
  * Wall-clock on this box swings 3-10× run-to-run under host-level
  * interference (BENCH_r02/r05 adjudications; round-6 re-measures saw
  * q103 at sf1 read 5.9 s and 18.7 s minutes apart on an idle guest), so
  * a scaling RATIO derived from two wall-clock numbers can be pure noise.
  * Candidate-pair and result counts have no such failure mode: they are
  * exact functions of the data and the pruning logic, so the sf0.1 → sf1
  * growth of `q86_cand` / `q103_cand` IS the work-growth of those joins,
  * measurable to the row on a loaded box.
  *
  * Usage: `runMain graft.ScalingProbe <sfDir>`; prints one JSON line.
  */
object ScalingProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.install(spark)

    // Same corpus prep as q66/q86/q103 (DedupQueries.withShingles + the
    // array_distinct normalization the join operators apply internally).
    val docs = Tables.documents(spark, sfDir)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"),
        array_distinct(expr("word_shingles(text, 3)")).as("sh"))
    val nDocs = docs.count()
    // coalesce: SUM over zero rows is NULL (same degenerate-corpus guard
    // as the q112/q113 counters below).
    val totShingles = docs.agg(coalesce(sum(size(col("sh"))), lit(0L)))
      .head().getLong(0)

    val q86Cand = operators.SetSimilarityJoin
      .candidatePairs(docs, "doc_id", "sh", 0.5).count()
    val q86Pairs = operators.SetSimilarityJoin
      .jaccardJoin(docs, "doc_id", "sh", 0.5).count()
    val q103Cand = operators.SetSimilarityJoin
      .containmentCandidates(docs, "doc_id", "sh", 0.8).count()
    val q103Pairs = operators.SetSimilarityJoin
      .containmentJoin(docs, "doc_id", "sh", 0.8).count()
    val q66Pairs = SparkEntry.queries("q66_minhash_lsh_verified")(spark, sfDir).count()

    // q108: within-cluster ORDERED pair volume Σ n_c·(n_c−1) — the work the
    // cid-keyed pair join performs — plus the kept-count verdict. Same
    // corpus-scaled k as the query (k = ⌈n/250⌉): at fixed k this counter
    // measured 200× at 10× data, which is what forced the scaling.
    val emb = Tables.embeddings(spark, sfDir)
    val kScaled = math.max(1L, (emb.count() + 249L) / 250L).toInt
    val fitted = operators.KMeansLloyd
      .fit(emb, "vec_id", "embedding", k = kScaled, iters = 2)
    val q108PairVol = fitted.groupBy(col("cid")).agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(col("n") * (col("n") - 1)), lit(0L))).head().getLong(0)
    val q108Kept = SparkEntry.queries("q108_semdedup")(spark, sfDir)
      .filter(col("kept") === 1).count()

    // q109: train shingle rows surviving the Bloom prune (deterministic:
    // the filter's bit pattern is a pure function of the eval shingle SET)
    // vs the unpruned train volume the one-stage join would shuffle.
    val docSh = Tables.documents(spark, sfDir)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), explode(expr("word_shingles(text, 3)")).as("shingle"))
      .distinct()
    val trainSh = docSh.filter(col("doc_id") % 97 =!= 0)
      .select(col("shingle"), col("doc_id").as("train_id"))
    val evalSh = docSh.filter(col("doc_id") % 97 === 0)
      .select(col("shingle"), col("doc_id").as("test_id"))
    val bf = evalSh.agg(expr("bloom_filter_agg(xxhash64(shingle), 65536L)").as("bf"))
      .head().getAs[Array[Byte]](0)
    val b64 = java.util.Base64.getEncoder.encodeToString(bf)
    val q109Train = trainSh.count()
    val q109Pass = trainSh.filter(
      expr(s"bloom_might_contain(unbase64('$b64'), xxhash64(shingle))")).count()

    // q110: postings volume — the only rows that shuffle for the scoring
    // join are tokens matching the 3 query terms (exact map-side filter).
    val q110Postings = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w").isin("spark", "window", "merge")).count()

    // q111: scored pair volume Σ_q |{v : label(v)=label(q), v≠q}| — the
    // pre-filter join scores exactly these; a post-filter shape would score
    // n_queries·corpus instead (that ratio is the operator's win).
    val q111Pairs = {
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"))
      emb.join(broadcast(qs),
        col("label") === col("q_label") && col("vec_id") =!= col("q_id")).count()
    }

    // q112: span volume in vs out — kept/spans is the corpus-level dedup
    // rate; both counts are exact functions of the text.
    // coalesce: SUM over zero rows is NULL — a degenerate corpus (no
    // documents, or no overlapping pair below) must print 0, not NPE away
    // the whole probe line.
    val q112Res = SparkEntry.queries("q112_span_dedup_rebuild")(spark, sfDir)
      .agg(coalesce(sum(col("n_seg")), lit(0L)).as("s"),
        coalesce(sum(col("n_kept")), lit(0L)).as("k")).head()
    val (q112Spans, q112Kept) = (q112Res.getLong(0), q112Res.getLong(1))

    // q113: exploded pair volume Σ_shingle C(|sources|,2) = Σ n_inter —
    // bounded by shingles·C(n_sources,2), never shingles² (the quadratic
    // self-join exists only as the oracle witness).
    val q113PairVol = SparkEntry.queries("q113_source_overlap_matrix")(spark, sfDir)
      .agg(coalesce(sum(col("n_inter")), lit(0L))).head().getLong(0)

    // q120: emitted chunk volume (the explode's output rows ≈ Σ n_i/stride
    // — linear in corpus tokens; a broken closed-form chunk count would
    // bend this away from 1.0× per data×).
    val q120Chunks = SparkEntry.queries("q120_token_chunking")(spark, sfDir).count()

    // q121: scored-bigram volume — the rows the model join shuffles; on a
    // single-spaced corpus this is Σ (tokens_i − 1) over scoreable docs
    // (empty-head bigrams drop via the model join), exactly linear on any
    // growth mode. The model side is vocab-bounded and does not appear.
    val q121Scored = SparkEntry.queries("q121_bigram_lm_surprisal")(spark, sfDir)
      .agg(coalesce(sum(col("n_bigrams")), lit(0L))).head().getLong(0)

    // q123: distinct LSH candidate pairs — the volume the dot_f verify
    // pays, Σ_buckets n_b² per table. With the corpus-adaptive plane
    // count (p = ⌈log2(n/250)⌉, the round-7 fix for the measured 100×
    // blowup at fixed p=3) per-table bucket population stays ≈250, so
    // this counter should now grow ~linearly with the corpus.
    val q123Emb = Tables.embeddings(spark, sfDir)
    val q123Cand = operators.CosineLshJoin.candidatePairs(
      q123Emb, "vec_id", "embedding",
      tables = 8,
      planesPerTable = operators.CosineLshJoin.adaptivePlanes(q123Emb.count()),
      dim = 64).count()

    // q124: scored-feature volume — the rows that hit the broadcast model
    // join and shuffle per-doc partial sums; exactly linear in corpus
    // bigrams.
    val q124Feats = SparkEntry.queries("q124_dsir_importance")(spark, sfDir)
      .agg(coalesce(sum(col("n_feats")), lit(0L))).head().getLong(0)

    // q133: distinct normalized-fingerprint groups — the keeper-join's
    // build side. Grows ~linearly on any corpus whose duplicate rate is
    // stable; a sub-linear bend here just means MORE dedup work saved.
    val q133Groups = SparkEntry.queries("q133_normalized_dedup")(spark, sfDir)
      .agg(coalesce(sum(col("n_norm_distinct")), lit(0L))).head().getLong(0)

    // q145: pair rows entering the support aggregate — Σ_docs C(k_d, 2)
    // with k_d ≤ 16 enforced by the frequent-singleton prune, so the
    // volume must stay ~linear in docs regardless of vocabulary growth.
    // Derived from the query's OWN kept-token pipeline (shared helper),
    // so the counter cannot drift from what q145 actually runs.
    val q145Pairs = queries.TextQueries
      .frequentTokenStream(Tables.documents(spark, sfDir))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("k"))
      .agg(coalesce(sum(expr("k * (k - 1) div 2")), lit(0L))).head().getLong(0)

    // q157: the sampled-truth recall evaluator's expensive side — exact
    // all-pairs candidate volume over the 25% md5 stratum. Bounded by the
    // SAMPLE (≈ (0.25)²· the q86 full-corpus counter), not the corpus:
    // this counter vs q86_cand is the operator's 100 TB claim in rows.
    val q157SampleSets = Tables.documents(spark, sfDir)
      .filter(graft.functions.PortableHash
        .md5Bucket60(col("doc_id").cast("string")) % 100 < 25)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"),
        array_distinct(expr("word_shingles(text, 3)")).as("sh"))
    val q157SampleDocs = q157SampleSets.count()
    val q157TruthCand = operators.SetSimilarityJoin
      .candidatePairs(q157SampleSets, "doc_id", "sh", 0.5).count()

    // q162: edge and wedge volumes of the co-purchase triangle census —
    // the oriented wedge join's exact work. Degree is bounded by
    // co-purchase frequency, so wedges must track edges (~linearly),
    // never degree² — the counter IS the "curse of the last reducer"
    // check. Both ride in the query's own result row.
    val q162Row = SparkEntry.queries("q162_triangle_census")(spark, sfDir).head()
    val (q162Edges, q162Wedges) =
      (q162Row.getAs[Long]("n_edges"), q162Row.getAs[Long]("n_wedges"))

    // q164: grid fan-out — the exploded session-side cell rows (the only
    // corpus-sized input to the equi-join; bounded by sessions × ≤9 cells)
    // plus the emitted overlap pairs. Linear growth in both = the grid
    // join never degenerates toward |sessions|×|promos|.
    val q164Cells = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(min(unix_micros(col("ts"))).as("ls"),
        max(unix_micros(col("ts"))).as("le"))
      .select(explode(expr("sequence(ls div 10800000000L, le div 10800000000L)")))
      .count()
    val q164Pairs = SparkEntry.queries("q164_interval_overlap_join")(spark, sfDir)
      .agg(coalesce(sum(col("n_sessions")), lit(0L))).head().getLong(0)

    // q166: survivors of the bucketed prefilter — the exact dominance
    // finish's input (shared helper with the query). The skyline itself
    // grows ~logarithmically on random data; survivors must stay a small
    // multiple of it, never a corpus fraction.
    val q166Survivors = queries.CurationQueries
      .skylineSurvivors(Tables.documents(spark, sfDir)).count()
    val q166Skyline = SparkEntry.queries("q166_pareto_skyline")(spark, sfDir).count()

    // q173: candidate volume of the multi-block union (shared helpers with
    // the query) plus the balance-block shape counters the adaptive width
    // exists for: with bw = max(16, 2²¹/n) the per-block membership — and
    // therefore Σ C(m,2) block pair work — must stay ~flat as the registry
    // grows, where the old fixed $1 bucket let it scale linearly.
    val q173Recs = queries.CurationQueries.linkageRecords(spark, sfDir)
    val q173Cand = queries.CurationQueries.linkageCandidates(q173Recs).count()
    val q173BlockStats = q173Recs.groupBy(col("b2"))
      .agg(count(lit(1)).as("m"))
      .agg(coalesce(max(col("m")), lit(0L)).as("mx"),
        coalesce(sum(expr("m * (m - 1) div 2")), lit(0L)).as("pv")).head()
    val (q173MaxBlock, q173B2PairVol) =
      (q173BlockStats.getLong(0), q173BlockStats.getLong(1))

    // q199: wedge volume Σ C(deg,2) (the rows the candidate aggregate
    // carries — the exact-Adamic-Adar floor) and the distinct candidate
    // pair count it collapses to. Degree is co-purchase-bounded, so both
    // must track edges ~linearly (measured: edges and wedges both exactly
    // 10.0× at 10× data, max degree flat at 62 — BASELINE round-12).
    val q199E0 = Tables.lineitem(spark, sfDir)
      .filter(col("l_linenumber") <= 3)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    val q199Ed = q199E0.as("a").join(q199E0.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("x"), col("b.p").as("y")).distinct()
      .localCheckpoint(true)
    val q199Deg = q199Ed.select(col("x").as("w"))
      .unionByName(q199Ed.select(col("y").as("w")))
      .groupBy(col("w")).agg(count(lit(1)).as("deg"))
    val q199Wedges = q199Deg
      .agg(coalesce(sum(expr("deg * (deg - 1) div 2")), lit(0L))).head().getLong(0)
    val q199Nbrs = q199Ed.select(col("x").as("w"), col("y").as("n"))
      .unionByName(q199Ed.select(col("y").as("w"), col("x").as("n")))
    val q199Cand = q199Nbrs.as("a").join(q199Nbrs.as("b"),
        col("a.w") === col("b.w") && col("a.n") < col("b.n"))
      .select(col("a.n").as("u"), col("b.n").as("v")).distinct().count()
    q199Ed.unpersist()

    // q201: basket explode volumes Σ C(w,2) / Σ C(w,3) — per-basket width
    // w is bounded by the order schema, so both must grow linearly with
    // orders (the reason the array-explode shape replaced the mis-planned
    // 3-way self-join).
    val q201Widths = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(count_distinct(col("l_partkey")).as("w"))
    val q201Row = q201Widths.agg(
      coalesce(sum(expr("w * (w - 1) div 2")), lit(0L)).as("p"),
      coalesce(sum(expr("w * (w - 1) * (w - 2) div 6")), lit(0L)).as("t"),
      coalesce(max(col("w")), lit(0L)).as("mx")).head()
    val (q201PairVol, q201TripleVol, q201MaxBasket) =
      (q201Row.getLong(0), q201Row.getLong(1), q201Row.getLong(2))

    // q215: distinct score values — everything after the corpus scan is
    // bounded by THIS (the two-level prefix sum runs on it), so it must
    // stay ≪ corpus (it is value-domain-bounded at ≤ 10⁶ by construction).
    val q215Scores = queries.TextQueries
      .withQualityPpm(Tables.documents(spark, sfDir))
      .select(col("quality_ppm")).distinct().count()

    // q201 round-13 quantile machinery: the support histogram the
    // two-level prefix sum runs on must stay ≤ √(2T) rows (distinct
    // positive-integer supports summing ≤ T) — the bound that makes the
    // ceil-quantile minsup derivation scale-safe.
    val q201HistRows = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .filter(size(col("ps")) >= 3)
      .select(explode(expr(
        "flatten(flatten(transform(sequence(0, size(ps) - 3), i -> " +
          "transform(sequence(i + 1, size(ps) - 2), j -> " +
          "transform(sequence(j + 1, size(ps) - 1), k -> " +
          "named_struct('x', ps[i], 'y', ps[j], 'z', ps[k]))))))")).as("s"))
      .groupBy(col("s.x"), col("s.y"), col("s.z")).agg(count(lit(1)).as("sup"))
      .select(col("sup")).distinct().count()

    // q218: the version stream is ≤ the event count by construction —
    // linear, with the compression ratio (events per version) flat.
    val q218Versions = {
      import org.apache.spark.sql.expressions.Window
      val wU = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(wU))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .count()
    }

    // q219: the comparison self-join carries Σ C(m,2) rows with m =
    // distinct types per (user, day) — schema-bounded m ⇒ linear in
    // user-days (the same argument as q201's basket explode).
    val q219Cmp = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count_distinct(col("event_type")).as("m"))
      .agg(coalesce(sum(expr("m * (m - 1) div 2")), lit(0L))).head().getLong(0)

    // q221: the estimator's inputs are the two ndv-sized count frames
    // (never the corpus against itself) — ndv growth is the scaling cost.
    val q221Ndv = Tables.lineitem(spark, sfDir)
      .filter(col("l_returnflag").isin("R", "A"))
      .select(col("l_returnflag"), col("l_partkey")).distinct().count()

    // q81: the exact per-type quantile pays one window SORT per type —
    // the honest witness cost q216's sketch exists to avoid. Its wall
    // looks super-linear (4.6× at 10× data, round 13); the pin below
    // ties that to the sort's Σ n·ceil(log2 n) comparison volume (which
    // grows ~11.6× at 10× rows) and the largest single partition, so the
    // ratio reads as n·log n, not as a plan defect.
    val q81Row = Tables.events(spark, sfDir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(expr("n * CAST(ceil(log2(n)) AS BIGINT)")), lit(0L)),
        coalesce(max(col("n")), lit(0L))).head()
    val (q81SortVol, q81MaxPart) = (q81Row.getLong(0), q81Row.getLong(1))

    // q222: the pair frame is Σ C(days,2) per type — observation-span-
    // bounded, so it must stay FLAT as the corpus grows at fixed span.
    val q222Pairs = Tables.events(spark, sfDir)
      .select(col("event_type"), to_date(col("ts")).as("day")).distinct()
      .groupBy(col("event_type")).agg(count(lit(1)).as("nd"))
      .agg(coalesce(sum(expr("nd * (nd - 1) div 2")), lit(0L))).head().getLong(0)

    println(s"""{"sf":"$sfDir","docs":$nDocs,"shingles":$totShingles,""" +
      s""""q86_cand":$q86Cand,"q86_pairs":$q86Pairs,""" +
      s""""q103_cand":$q103Cand,"q103_pairs":$q103Pairs,""" +
      s""""q66_pairs":$q66Pairs,""" +
      s""""q108_pairvol":$q108PairVol,"q108_kept":$q108Kept,""" +
      s""""q109_train":$q109Train,"q109_bloom_pass":$q109Pass,""" +
      s""""q110_postings":$q110Postings,"q111_pairs":$q111Pairs,""" +
      s""""q112_spans":$q112Spans,"q112_kept":$q112Kept,""" +
      s""""q113_pairvol":$q113PairVol,""" +
      s""""q120_chunks":$q120Chunks,"q121_scored":$q121Scored,""" +
      s""""q123_cand":$q123Cand,"q124_feats":$q124Feats,""" +
      s""""q133_groups":$q133Groups,"q145_pairs":$q145Pairs,""" +
      s""""q157_sample_docs":$q157SampleDocs,"q157_truth_cand":$q157TruthCand,""" +
      s""""q162_edges":$q162Edges,"q162_wedges":$q162Wedges,""" +
      s""""q164_cells":$q164Cells,"q164_pairs":$q164Pairs,""" +
      s""""q166_survivors":$q166Survivors,"q166_skyline":$q166Skyline,""" +
      s""""q173_cand":$q173Cand,"q173_b2_maxblock":$q173MaxBlock,""" +
      s""""q173_b2_pairvol":$q173B2PairVol,""" +
      s""""q199_wedges":$q199Wedges,"q199_cand":$q199Cand,""" +
      s""""q201_pairvol":$q201PairVol,"q201_triplevol":$q201TripleVol,""" +
      s""""q201_maxbasket":$q201MaxBasket,"q215_scores":$q215Scores,""" +
      s""""q201_histrows":$q201HistRows,"q218_versions":$q218Versions,""" +
      s""""q219_cmp":$q219Cmp,"q221_ndv":$q221Ndv,"q222_pairs":$q222Pairs,""" +
      s""""q81_sortvol":$q81SortVol,"q81_maxpart":$q81MaxPart}""")
    spark.stop()
  }
}
