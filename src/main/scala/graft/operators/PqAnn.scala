package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-quantization ANN over an `array<float>` embedding column — the
  * memory-side scale path that complements [[HyperplaneLsh]] (bucketing) and
  * [[IvfAnn]] (list pruning): PQ compresses every vector to `m` small codes,
  * so the corpus fits where raw floats cannot, and query scoring becomes
  * table lookups + integer adds.
  *
  * The whole pipeline is INTEGER arithmetic: subvector components are
  * quantized to 1e-6 fixed-point on entry (exactly how production PQ ships
  * int8/int16 codebooks), so centroid means, distances, argmins, and ADC
  * sums are exact, shuffle-order-independent, and bit-reproducible in any
  * engine — the DuckDB oracle replays build + refine + search verbatim.
  *
  *  - **build**: split `dim` dims into `m` subspaces of `dim/m`. Initial
  *    codebook = the subvectors of a deterministic strided corpus sample
  *    (same cheap seeding as IvfAnn), then `iters` Lloyd refinement steps:
  *    assign every subvector to its nearest centroid (ties → lower code),
  *    recompute centroids as the element-wise integer mean of their
  *    members (empty codes keep their previous centroid). Assignment is a
  *    broadcast of the (m·k) codebook against the corpus — embarrassingly
  *    parallel; refinement is two hash aggregates on (s, code[, pos]).
  *  - **search (ADC)**: each query computes its (m·k) distance table
  *    (tiny, broadcast); approximate distance to a corpus vector is the
  *    SUM over subspaces of table[s, code(v, s)] — a join of the codes
  *    table against the query table on (subspace, code) plus a hash
  *    aggregate. No raw corpus floats are touched at query time.
  */
object PqAnn {

  /** fixed-point scale: 1e-6 per unit, applied to raw float components. */
  private val Q = 1000000L

  private def quantSlice(vecCol: String, sub: Int): String =
    s"transform(slice($vecCol, s * $sub + 1, $sub), x -> CAST(round(x * $Q) AS BIGINT))"

  /** exact integer squared L2 between two quantized subvectors — the
    * codegen [[graft.functions.L2Dist2L]] kernel (the HOF
    * `aggregate(zip_with(...))` form runs interpreted and measured ~3×
    * slower on the n·m·k assignment join). */
  private val IntDist = "l2dist2_l(xu, cu)"

  /** Nearest-centroid assignment of every (vector, subspace) row: the
    * codebook is always driver-resident (m·k short vectors), so encoding is
    * the MAP-ONLY codegen argmin [[graft.functions.NearestCode]] — no
    * join, no shuffle, no n·m·k exploded aggregate. An earlier broadcast-
    * join + `min_by` formulation shuffled ~20M (row, code) pairs at sf1;
    * this one touches each (row, subspace) exactly once. */
  private def withCodes(xu: DataFrame, cb: Array[Array[Array[Long]]]): DataFrame = {
    // Build the expression directly (bridge, not the function registry):
    // each Lloyd round carries a DIFFERENT codebook, so a registry binding
    // would either WARN-spam on every replace or, made first-wins, freeze
    // the round-0 codebook into later plans.
    import org.apache.spark.sql.graft.bridge.{column, expression}
    xu.withColumn("code", column(graft.functions.NearestCode(
      expression(col("s")), expression(col("xu")), cb)))
  }

  /** Returns (codes, codebook): codes = (idCol, s, code) — m rows per
    * vector; codebook = (s, code, cu: array<bigint>) in 1e-6 units.
    *
    * The codebook lives on the DRIVER between phases (it is m·k short
    * vectors — the deliberately tiny side, like IvfAnn's coarse
    * quantizer): seed and per-round means are small collects, every
    * corpus-wide pass is either the map-only [[withCodes]] encode or one
    * (s, code, pos)-keyed mean aggregate. Nothing is persisted on the
    * executors and no Lloyd lineage is ever re-walked. */
  def build(vectors: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, dim: Int, iters: Int = 1): (DataFrame, DataFrame) = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    graft.GraftExtensions.install(vectors.sparkSession)
    val sub = dim / m
    val n = vectors.count()
    val stride = math.max(1L, n / k)
    val xu = vectors
      .select(col(idCol), explode(array((0 until m).map(lit): _*)).as("s"), col(vecCol).as("__v"))
      .select(col(idCol), col("s"), expr(quantSlice("__v", sub)).as("xu"))
    // seed codebook: deterministic strided sample, collected (k·m rows)
    val seedRows = xu
      .filter((col(idCol) % stride === 0) && (col(idCol) / stride < k))
      .select(col("s"), (col(idCol) / stride).cast("int").as("code"), col("xu"))
      .collect()
    require(seedRows.nonEmpty,
      s"strided seeding matched no rows: ids must include multiples of $stride below ${stride * k} " +
        "(non-0-based or heavily filtered id spaces need re-indexing before PQ build)")
    val nCodes = seedRows.iterator.map(_.getInt(1)).max + 1
    var cb = Array.ofDim[Array[Long]](m, nCodes)
    seedRows.foreach { r =>
      cb(r.getInt(0))(r.getInt(1)) = r.getSeq[Long](2).toArray
    }
    for (_ <- 0 until iters) {
      // element-wise integer mean per (s, code); codes that attracted no
      // members keep their previous centroid (their slot is not overwritten)
      val meanRows = withCodes(xu, cb)
        .select(col("s"), col("code"), posexplode(col("xu")).as(Seq("pos", "v")))
        .groupBy(col("s"), col("code"), col("pos"))
        .agg(expr("sum(v) div count(1)").as("mv"))
        .collect()
      val next = cb.map(_.map(cu => if (cu == null) null else cu.clone()))
      meanRows.groupBy(r => (r.getInt(0), r.getInt(1))).foreach {
        case ((s, code), rows) =>
          val cu = new Array[Long](sub)
          rows.foreach(r => cu(r.getInt(2)) = r.getLong(3))
          next(s)(code) = cu
      }
      cb = next
    }
    val codes = withCodes(xu, cb).select(col(idCol), col("s"), col("code"))
    val cbRows: java.util.List[org.apache.spark.sql.Row] = java.util.Arrays.asList(
      (for (s <- 0 until m; c <- 0 until nCodes if cb(s)(c) != null)
        yield org.apache.spark.sql.Row(s, c, cb(s)(c).toSeq)): _*)
    val codebookDf = vectors.sparkSession.createDataFrame(cbRows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("s",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("code",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("cu",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType, containsNull = false),
          nullable = false))))
    (codes, codebookDf)
  }

  /** Per-query asymmetric-distance table: (qId, s, code, d_u) — exact
    * integer L2² of the query's quantized subvector to every codebook
    * centroid. Tiny (|Q|·m·k rows) and broadcastable; shared by [[search]]
    * and the IVF-PQ composition (q210), so both score with the identical
    * table. */
  def queryTable(codebook: DataFrame, queries: DataFrame,
      qIdCol: String, qVecCol: String, m: Int, dim: Int): DataFrame = {
    graft.GraftExtensions.install(queries.sparkSession)
    val sub = dim / m
    queries
      .select(col(qIdCol), explode(array((0 until m).map(lit): _*)).as("s"), col(qVecCol).as("__v"))
      .select(col(qIdCol), col("s"), expr(quantSlice("__v", sub)).as("xu"))
      .join(broadcast(codebook), Seq("s"))
      .select(col(qIdCol), col("s"), col("code"), expr(IntDist).as("d_u"))
  }

  /** Asymmetric-distance top-`topK` per query over the encoded corpus. */
  def search(codes: DataFrame, codebook: DataFrame, queries: DataFrame,
      qIdCol: String, qVecCol: String, idCol: String,
      m: Int, dim: Int, topK: Int): DataFrame = {
    graft.GraftExtensions.install(codes.sparkSession)
    val qTable = queryTable(codebook, queries, qIdCol, qVecCol, m, dim)
    val wTop = Window.partitionBy(col(qIdCol)).orderBy(col("adist_u"), col(idCol))
    codes.join(broadcast(qTable), Seq("s", "code"))
      .filter(col(qIdCol) =!= col(idCol))
      .groupBy(col(qIdCol), col(idCol))
      .agg(sum(col("d_u")).as("adist_u"))
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= topK)
      .select(col(qIdCol), col("rank"), col(idCol), col("adist_u"))
  }
}
