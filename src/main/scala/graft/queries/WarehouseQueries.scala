package graft.queries

import graft.Tables
import graft.functions.Exact.money
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Warehouse-operations engine surface: the storage-layout, view-maintenance
  * and reshaping operators a 100 TB deployment runs AROUND its queries —
  * multi-dimensional z-order file layout, incremental aggregate (materialized
  * view) maintenance, PIVOT, interval overlap joins, and mergeable-sketch
  * rolling windows. The reference (`lambda_function.py:1-148`) has none of
  * this; it is north-star engine-surface work. All arithmetic is exact
  * integer so every query is DuckDB-hash-reproducible.
  */
object WarehouseQueries {
  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- q160
  /** Z-order (Morton) layout audit — the data-skipping argument for
    * multi-dimensional clustering, quantified. Rows are assigned to 256
    * "files" under three layouts: `zorder` (top 8 bits of the 16-bit
    * Morton interleave of the two 8-bit key hashes — each file is a 16×16
    * tile of the key grid), `xsort` (files cut along x alone — the
    * single-column sort layout), and `hash` (an unrelated key — the
    * unclustered witness). Per layout the audit reports file count, the
    * mean per-file min/max width of BOTH dimensions (the zone-map width
    * that decides skipping), and how many files a point probe on each
    * dimension must touch. The expected shape: xsort is unbeatable on x
    * and useless on y; zorder pays √ on both; hash skips nothing. At
    * 100 TB this table IS the justification for `ZORDER BY (a, b)`
    * maintenance jobs: zone-map width → files touched → bytes scanned.
    *
    * The Morton spread is the standard O(log bits) shift-mask ladder —
    * plain integer expressions inside one WholeStageCodegen projection
    * (no UDF, no kernel needed); the oracle replays the identical
    * shift/mask arithmetic. File stats are one hash aggregate on
    * (layout, file), then a 3-row summary. */
  private def spread8(c: Column): Column = {
    // 8-bit value -> its bits at even positions of a 16-bit lane.
    val a = c.bitwiseOR(shiftleft(c, 4)).bitwiseAND(lit(0x0F0FL))
    val b = a.bitwiseOR(shiftleft(a, 2)).bitwiseAND(lit(0x3333L))
    b.bitwiseOR(shiftleft(b, 1)).bitwiseAND(lit(0x5555L))
  }

  private val q160: Q = (s, d) => {
    val keyed = Tables.lineitem(s, d).select(
      (col("l_partkey") % 256).cast("long").as("x"),
      (col("l_suppkey") % 256).cast("long").as("y"),
      (col("l_orderkey") % 256).cast("long").as("h"))
    val z = spread8(col("x")).bitwiseOR(shiftleft(spread8(col("y")), 1))
    val tagged = keyed
      .withColumn("fz", shiftright(z, 8))
      .selectExpr("x", "y",
        "stack(3, 'zorder', fz, 'xsort', x, 'hash', h) AS (layout, fid)")
    tagged.groupBy(col("layout"), col("fid"))
      .agg(min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
      .groupBy(col("layout"))
      .agg(count(lit(1)).as("n_files"),
        expr("sum(max_x - min_x + 1) * 100 div count(1)").as("x_width_x100"),
        expr("sum(max_y - min_y + 1) * 100 div count(1)").as("y_width_x100"),
        sum(when(col("min_x") <= 123 && col("max_x") >= 123, 1L)
          .otherwise(0L)).as("x_probe_files"),
        sum(when(col("min_y") <= 45 && col("max_y") >= 45, 1L)
          .otherwise(0L)).as("y_probe_files"))
      .orderBy(col("layout"))
  }

  private val q160Sql =
    """WITH k AS (SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y,
      |                  l_orderkey % 256 AS h FROM lineitem),
      |sp AS (SELECT x, y, h,
      |  (((x | (x << 4)) & 3855) | (((x | (x << 4)) & 3855) << 2)) & 13107 AS xa,
      |  (((y | (y << 4)) & 3855) | (((y | (y << 4)) & 3855) << 2)) & 13107 AS ya
      | FROM k),
      |z AS (SELECT x, y, h,
      |  (((xa | (xa << 1)) & 21845) | (((ya | (ya << 1)) & 21845) << 1)) >> 8 AS fz
      | FROM sp),
      |st AS (SELECT 'zorder' AS layout, fz AS fid, x, y FROM z
      |  UNION ALL SELECT 'xsort', x, x, y FROM z
      |  UNION ALL SELECT 'hash', h, x, y FROM z),
      |f AS (SELECT layout, fid, MIN(x) AS min_x, MAX(x) AS max_x,
      |             MIN(y) AS min_y, MAX(y) AS max_y
      |      FROM st GROUP BY layout, fid)
      |SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_files,
      | CAST(SUM(max_x - min_x + 1) * 100 // COUNT(*) AS BIGINT) AS x_width_x100,
      | CAST(SUM(max_y - min_y + 1) * 100 // COUNT(*) AS BIGINT) AS y_width_x100,
      | CAST(SUM(CASE WHEN min_x <= 123 AND max_x >= 123 THEN 1 ELSE 0 END) AS BIGINT)
      |   AS x_probe_files,
      | CAST(SUM(CASE WHEN min_y <= 45 AND max_y >= 45 THEN 1 ELSE 0 END) AS BIGINT)
      |   AS y_probe_files
      |FROM f GROUP BY layout ORDER BY layout""".stripMargin

  // ---------------------------------------------------------------- q161
  /** Incremental aggregate maintenance (materialized-view delta merge):
    * the per-customer order aggregate is maintained as STATE (pre-1998
    * history, aggregated once) merged with the partial aggregate of the
    * DELTA (2001+ orders) — count and sum add, max takes the greater —
    * and the merged view is checked key-for-key against a full recompute.
    * The point at 100 TB: a refresh touches O(|keys| + |delta|) rows, not
    * the corpus — the merge is one union of two aggregates re-aggregated
    * on the key, because (count, sum, max) are commutative monoids (avg
    * rides as sum/count; quantiles would need a mergeable sketch, q165).
    * The n_mismatch column is the self-check — 0 by algebra on BOTH
    * engines — and the oracle replays state, delta, merge, and recompute
    * independently. */
  private val q161: Q = (s, d) => {
    val ord = Tables.orders(s, d).select(
      col("o_custkey").as("k"),
      (money(col("o_totalprice")) * 100).cast("long").as("cents"),
      col("o_orderdate"))
    def agg(df: DataFrame): DataFrame =
      df.groupBy("k").agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
        max(col("cents")).as("m"))
    val state = agg(ord.filter(col("o_orderdate") < "2001-01-01"))
    val delta = agg(ord.filter(col("o_orderdate") >= "2001-01-01"))
    val merged = state.unionByName(delta)
      .groupBy("k").agg(sum(col("n")).as("n"), sum(col("s")).as("s"),
        max(col("m")).as("m"))
    val full = agg(ord)
    val cmp = merged.withColumnRenamed("n", "mn").withColumnRenamed("s", "ms")
      .withColumnRenamed("m", "mm")
      .join(full, Seq("k"), "full_outer")
      .agg(count(lit(1)).as("n_keys_merged"),
        sum(when(col("mn").isNull || col("n").isNull ||
          col("mn") =!= col("n") || col("ms") =!= col("s") ||
          col("mm") =!= col("m"), 1L).otherwise(0L)).as("n_mismatch"),
        sum(col("ms")).as("total_cents"))
    state.agg(count(lit(1)).as("n_keys_state"))
      .crossJoin(delta.agg(count(lit(1)).as("n_keys_delta")))
      .crossJoin(cmp)
  }

  private val q161Sql =
    """WITH ord AS (SELECT o_custkey AS k,
      |  CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) AS cents,
      |  o_orderdate FROM orders),
      |state AS (SELECT k, COUNT(*) AS n, SUM(cents) AS s, MAX(cents) AS m
      |          FROM ord WHERE o_orderdate < TIMESTAMP '2001-01-01' GROUP BY k),
      |delta AS (SELECT k, COUNT(*) AS n, SUM(cents) AS s, MAX(cents) AS m
      |          FROM ord WHERE o_orderdate >= TIMESTAMP '2001-01-01' GROUP BY k),
      |merged AS (SELECT k, SUM(n) AS n, SUM(s) AS s, MAX(m) AS m FROM (
      |             SELECT * FROM state UNION ALL SELECT * FROM delta)
      |           GROUP BY k),
      |full_r AS (SELECT k, COUNT(*) AS n, SUM(cents) AS s, MAX(cents) AS m
      |           FROM ord GROUP BY k),
      |cmp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys_merged,
      |  CAST(SUM(CASE WHEN mg.n IS NULL OR fr.n IS NULL OR mg.n <> fr.n
      |                  OR mg.s <> fr.s OR mg.m <> fr.m
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
      |  CAST(SUM(mg.s) AS BIGINT) AS total_cents
      | FROM merged mg FULL OUTER JOIN full_r fr ON fr.k = mg.k)
      |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM state) AS n_keys_state,
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM delta) AS n_keys_delta,
      |       n_keys_merged, n_mismatch, total_cents FROM cmp""".stripMargin

  // ---------------------------------------------------------------- q163
  /** PIVOT (long→wide reshaping, the partner of q82's unpivot): order
    * value in cents per priority × status, statuses pivoted to columns.
    * The pivot value list is EXPLICIT — with it the plan is a single
    * static-schema hash aggregate; without it Spark first runs a separate
    * distinct job to discover the columns, an extra corpus pass that also
    * makes the output schema data-dependent (both wrong at 100 TB). Empty
    * cells are NULL on both engines (SUM over an empty CASE domain). */
  private val q163: Q = (s, d) => {
    Tables.orders(s, d)
      .select(col("o_orderpriority").as("pri"), col("o_orderstatus").as("st"),
        (money(col("o_totalprice")) * 100).cast("long").as("cents"))
      .groupBy("pri").pivot("st", Seq("F", "O", "P")).agg(sum(col("cents")))
      .withColumnRenamed("F", "f_cents")
      .withColumnRenamed("O", "o_cents")
      .withColumnRenamed("P", "p_cents")
      .orderBy(col("pri"))
  }

  private val q163Sql =
    """SELECT o_orderpriority AS pri,
      | CAST(SUM(CASE WHEN o_orderstatus = 'F'
      |   THEN CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) END) AS BIGINT) AS f_cents,
      | CAST(SUM(CASE WHEN o_orderstatus = 'O'
      |   THEN CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) END) AS BIGINT) AS o_cents,
      | CAST(SUM(CASE WHEN o_orderstatus = 'P'
      |   THEN CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) END) AS BIGINT) AS p_cents
      |FROM orders GROUP BY o_orderpriority ORDER BY pri""".stripMargin

  // ---------------------------------------------------------------- q164
  /** Interval OVERLAP join via a time grid — the interval×interval shape
    * q52's point-in-range bucketing does not cover. Per-user-per-day
    * activity spans (min..max event time) are joined against 120 synthetic
    * 3-hour promo windows (4/day over January, derived in closed form so
    * the oracle rebuilds them) on the predicate "intervals overlap".
    *
    * Scale shape ([[graft.operators.IntervalJoin]]): both sides explode to
    * the fixed 3-hour grid cells they cover (a session spans ≤ 9 cells, a
    * promo ≤ 2 — bounded fan-out), the join is an EQUI-join on the cell,
    * and each qualifying pair is emitted exactly once — by the cell
    * containing the overlap's START — so there is no distinct pass over
    * pair space. Work is O(intervals · cells-per-interval), never
    * |sessions|×|promos|, and the grid cell is the shuffle key. The oracle
    * is the brute-force theta join — the quadratic witness proving
    * result-invariance. Promos with zero overlaps survive via the left
    * spine join. */
  private val q164: Q = (s, d) => {
    val cell = 10800000000L // 3 h in microseconds
    val base = 1704067200000000L // 2024-01-01T00:00:00Z in microseconds
    val sess = Tables.events(s, d)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(min(unix_micros(col("ts"))).as("ls"),
        max(unix_micros(col("ts"))).as("le"))
      .select(col("user_id"), col("ls"), col("le"))
    val promos = s.range(120).select(
      col("id").as("pid"),
      (lit(base) + expr("id div 4") * 86400000000L +
        (col("id") % 4) * 21600000000L + 5400000000L).as("rs"))
      .withColumn("re", col("rs") + cell)
    val pairs = graft.operators.IntervalJoin.overlapJoin(sess, promos, cell)
    promos.join(
        pairs.groupBy("pid").agg(count(lit(1)).as("hits")), Seq("pid"), "left")
      .select(col("pid"), col("rs").as("p_start_us"),
        coalesce(col("hits"), lit(0L)).as("n_sessions"))
      .orderBy(col("pid"))
  }

  private val q164Sql =
    """WITH sess AS (SELECT user_id, CAST(ts AS DATE) AS day,
      |  MIN(epoch_us(ts)) AS ss, MAX(epoch_us(ts)) AS se
      | FROM events GROUP BY user_id, CAST(ts AS DATE)),
      |promos AS (SELECT i AS pid,
      |  1704067200000000 + (i // 4) * 86400000000
      |    + (i % 4) * 21600000000 + 5400000000 AS ps
      | FROM range(120) t(i)),
      |p2 AS (SELECT pid, ps, ps + 10800000000 AS pe FROM promos),
      |hits AS (SELECT p.pid, COUNT(*) AS hits
      | FROM p2 p JOIN sess s ON s.ss <= p.pe AND p.ps <= s.se
      | GROUP BY p.pid)
      |SELECT p.pid, p.ps AS p_start_us,
      | CAST(COALESCE(h.hits, 0) AS BIGINT) AS n_sessions
      |FROM p2 p LEFT JOIN hits h ON h.pid = p.pid ORDER BY p.pid""".stripMargin

  // ---------------------------------------------------------------- q165
  /** Mergeable-sketch rolling distinct — the reaggregation pattern that
    * makes sketches load-bearing at 100 TB: ONE pass builds a per-day HLL
    * sketch of active users (Spark's DataSketches `hll_sketch_agg`,
    * lgConfigK=14 ≈ 0.8 % error), and any window after that merges
    * day-sketches (`hll_union_agg` — register-max, order-insensitive,
    * deterministic) instead of re-touching raw events: the trailing-7-day
    * distinct-user curve costs 7 sketch merges per day, not 7 days of
    * re-scanned events. The exact trailing-7-day count (computed here via
    * the day-spine range join — what the sketch path replaces) rides along
    * as the witness, with the q44-pattern in-band tolerance boolean; the
    * oracle replays the exact side and pins the band TRUE. */
  private val q165: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val daily = ev.groupBy("day")
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
    val spine = daily.select(col("day").as("d"))
    val est = spine.join(daily,
        col("day").between(date_sub(col("d"), 6), col("d")))
      .groupBy("d")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
    val exact = spine.join(ev,
        col("day").between(date_sub(col("d"), 6), col("d")))
      .groupBy("d").agg(countDistinct(col("user_id")).as("exact_u7"))
    exact.join(est, Seq("d"))
      .select(col("d").as("day"), col("exact_u7"),
        (abs(col("est") - col("exact_u7")) <= col("exact_u7") * 0.05)
          .as("in_band"))
      .orderBy(col("day"))
  }

  private val q165Sql =
    """WITH ev AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
      |spine AS (SELECT DISTINCT day AS d FROM ev)
      |SELECT s.d AS day,
      | CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS exact_u7,
      | TRUE AS in_band
      |FROM spine s JOIN ev e ON e.day BETWEEN s.d - 6 AND s.d
      |GROUP BY s.d ORDER BY day""".stripMargin

  // ---------------------------------------------------------------- q170
  /** Join-size estimation from Count-Min sketches (the AGMS/CMS inner-
    * product estimator) — the statistic a planner wants BEFORE committing
    * a 100 TB shuffle: |A ⋈ B| = Σ_k f_A(k)·f_B(k), estimated as
    * min over rows r of Σ_c cms_A[r][c]·cms_B[r][c], plus the self-join
    * size Σ f², which is the q140 skew audit's quadratic form (the
    * variance driver of every equi-join estimate). Each side costs one
    * per-key hash aggregate + a 4×2048 grid (the q119 md5-grid family).
    * The expected overcount is the textbook ~|A|·|B|/w collision mass —
    * measured at sf0.01: est 1,835,852 vs exact 959,100, i.e. the
    * +908 k ≈ 60 000·31 019/2048 the bound predicts — so grid width IS
    * the precision dial a planner sizes to its key cardinality; the grids are
    * driver-scale objects any planner can keep per column. Estimates are
    * deterministic functions of the data and NEVER undercount (every
    * counted pair lands in some shared cell; extra collisions only add) —
    * the in-band booleans pin the one-sidedness and the oracle replays
    * grid, estimate and exact sizes bit-for-bit. Long bound: the inner
    * product is ≤ |A|·|B|, overflowing past ~3·10⁹ rows per side — now
    * ENFORCED by `Guard.require` on the side counts (the job fails
    * loudly instead of returning a wrapped estimate); there, promote the
    * products to DECIMAL(38) (q143's documented fallback). */
  private val q170: Q = (s, d) => {
    // Round 16: the per-key frequency tables are tracked lazy checkpoints —
    // fa had THREE consumers (grid build, exact join, exact self-join) and
    // fb two, each of which re-scanned and re-aggregated lineitem
    // (WorkProbe: 5 lineitem scans -> 3; `keyed` itself stays inline, its
    // three readers now being the two ~|parts|-row aggs + the counts row).
    // Eager final + releaseAll per the CheckpointTracker contract.
    val tracker = new graft.operators.CheckpointTracker(Tables.lineitem(s, d))
    val keyed = Tables.lineitem(s, d)
      .select(col("l_partkey").as("k"), col("l_quantity"))
    val fa = tracker.lazyCkpt(keyed.groupBy("k").agg(count(lit(1)).as("f")))
    val fb = tracker.lazyCkpt(keyed.filter(col("l_quantity") >= 25)
      .groupBy("k").agg(count(lit(1)).as("f")))
    def grid(freq: DataFrame, out: String): DataFrame =
      freq.select(col("f"), explode(array((0 until 4).map(r =>
          struct(lit(r).as("r"),
            expr(s"CAST(conv(substring(md5(concat('js$r:', k)), 1, 15), 16, 10) AS BIGINT) % 2048")
              .as("c"))): _*)).as("rc"))
        .groupBy(col("rc.r").as("r"), col("rc.c").as("c"))
        .agg(sum(col("f")).as(out))
    val ca = grid(fa, "ca")
    val cb = grid(fb, "cb")
    val estJoin = ca.join(cb, Seq("r", "c"))
      .groupBy("r").agg(sum(col("ca") * col("cb")).as("ip"))
      .agg(min(col("ip")).as("est_join"))
    val estSelf = ca.groupBy("r").agg(sum(col("ca") * col("ca")).as("ip"))
      .agg(min(col("ip")).as("est_self"))
    val exactJoin = fa.join(fb.withColumnRenamed("f", "g"), Seq("k"))
      .agg(coalesce(sum(col("f") * col("g")), lit(0L)).as("exact_join"))
    val exactSelf = fa.agg(sum(col("f") * col("f")).as("exact_self"))
    val counts = graft.functions.Guard.require(
      keyed.agg(count(lit(1)).as("n_rows_a"),
        sum(when(col("l_quantity") >= 25, 1L).otherwise(0L)).as("n_rows_b")),
      col("n_rows_a") <= 3000000000L && col("n_rows_b") <= 3000000000L,
      "q170: integer-exact CMS bound exceeded (inner product <= |A|*|B| " +
        "would overflow Long past ~3e9 rows per side) - promote to DECIMAL(38)")
    val out = counts.crossJoin(exactJoin).crossJoin(estJoin)
      .crossJoin(exactSelf).crossJoin(estSelf)
      .select(col("n_rows_a"), col("n_rows_b"),
        col("exact_join"), col("est_join"),
        (col("est_join") >= col("exact_join")).as("join_one_sided"),
        col("exact_self"), col("est_self"),
        (col("est_self") >= col("exact_self")).as("self_one_sided"))
      // One eager action runs the pipeline while the lazy blocks are
      // alive; the 1-row result outlives them (CheckpointTracker contract).
      .localCheckpoint(true)
    tracker.releaseAll()
    out
  }

  private val q170Sql =
    """WITH keyed AS (SELECT l_partkey AS k, l_quantity FROM lineitem),
      |fa AS (SELECT k, COUNT(*) AS f FROM keyed GROUP BY k),
      |fb AS (SELECT k, COUNT(*) AS f FROM keyed WHERE l_quantity >= 25 GROUP BY k),
      |r AS (SELECT UNNEST(range(4)) AS r),
      |ca AS (SELECT r.r AS r,
      |    CAST(('0x' || substr(md5('js' || r.r || ':' || fa.k), 1, 15)) AS BIGINT) % 2048 AS c,
      |    SUM(fa.f) AS ca FROM fa, r GROUP BY 1, 2),
      |cb AS (SELECT r.r AS r,
      |    CAST(('0x' || substr(md5('js' || r.r || ':' || fb.k), 1, 15)) AS BIGINT) % 2048 AS c,
      |    SUM(fb.f) AS cb FROM fb, r GROUP BY 1, 2),
      |ej AS (SELECT MIN(ip) AS est_join FROM (
      |    SELECT SUM(ca.ca * cb.cb) AS ip FROM ca JOIN cb USING (r, c) GROUP BY r)),
      |es AS (SELECT MIN(ip) AS est_self FROM (
      |    SELECT SUM(ca * ca) AS ip FROM ca GROUP BY r)),
      |xj AS (SELECT COALESCE(SUM(fa.f * fb.f), 0) AS exact_join
      |       FROM fa JOIN fb USING (k)),
      |xs AS (SELECT SUM(f * f) AS exact_self FROM fa),
      |cnt AS (SELECT COUNT(*) AS n_rows_a,
      |    SUM(CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END) AS n_rows_b FROM keyed)
      |SELECT CAST(n_rows_a AS BIGINT) AS n_rows_a,
      | CAST(n_rows_b AS BIGINT) AS n_rows_b,
      | CAST(exact_join AS BIGINT) AS exact_join, CAST(est_join AS BIGINT) AS est_join,
      | est_join >= exact_join AS join_one_sided,
      | CAST(exact_self AS BIGINT) AS exact_self, CAST(est_self AS BIGINT) AS est_self,
      | est_self >= exact_self AS self_one_sided
      |FROM cnt, ej, es, xj, xs""".stripMargin

  // ---------------------------------------------------------------- q174
  /** Equi-depth histogram statistics — the other half of the planner-
    * statistics family next to q170's CMS join estimates and q140's skew
    * audit: 8 exact equal-depth boundaries over lineitem price cents
    * (ranks ⌈i·n/8⌉) found by [[graft.operators.HistogramQuantiles]] —
    * iterative histogram refinement, O(log_B range) scans, a
    * ≤targets·1024-cell shuffle per scan, NO global sort and no
    * single-task rank window — then one verification scan bucketing every
    * row against the broadcast boundaries (per-bucket count + min/max,
    * i.e. the zone-map-with-depth object a planner stores per column).
    * Depths deviate from n/8 exactly where boundary values repeat
    * (multiset semantics) — both engines see identical deviations. The
    * oracle recomputes the same ranks with a ROW_NUMBER order-statistics
    * CTE — the sort-the-world shape the operator replaces. */
  private val q174: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .select((money(col("l_extendedprice")) * 100).cast("long").as("cents"))
    val n = li.count()
    val ranks = (1 to 8).map(i => (i.toLong * n + 7L) / 8L)
    val bounds = graft.operators.HistogramQuantiles
      .orderStatistics(li, "cents", ranks)
    val bucket = bounds.zipWithIndex.foldRight(lit(8L)) {
      case ((b, i), rest) => when(col("cents") <= b, (i + 1).toLong).otherwise(rest)
    }
    li.select(col("cents"), bucket.as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"), min(col("cents")).as("lo_cents"),
        max(col("cents")).as("hi_cents"))
      .orderBy(col("bucket"))
  }

  private val q174Sql =
    """WITH v AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(15,2)) * 100 AS BIGINT)
      |             AS cents FROM lineitem),
      |r AS (SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rn,
      |             COUNT(*) OVER () AS n FROM v),
      |b AS (SELECT i.i AS bucket, MIN(r.cents) AS ub FROM r,
      |        (SELECT UNNEST(range(1, 9)) AS i) i
      |      WHERE r.rn = (i.i * n + 7) // 8 GROUP BY i.i),
      |assigned AS (SELECT v.cents,
      |   COALESCE((SELECT MIN(bucket) FROM b WHERE v.cents <= b.ub), 8) AS bucket
      | FROM v)
      |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
      | MIN(cents) AS lo_cents, MAX(cents) AS hi_cents
      |FROM assigned GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- q182
  /** KMV (bottom-k / theta) sketch audience overlap — the set-INTERSECTION
    * sketch the warehouse family lacked: q44/q165's HLL registers union
    * but cannot intersect, yet "how many distinct users do event types A
    * and B share?" is the canonical audience-overlap question. A KMV
    * sketch ([[graft.functions.KmvSketchAgg]]) is a uniform bottom-k
    * sample of each type's distinct-hash set, so FIVE pre-aggregated
    * 64-hash sketches answer all 10 pairwise overlaps without rescanning
    * events: merged bottom-k per pair via array ops on two ≤64-element
    * arrays, θ = k-th smallest of the union, |A∪B|̂ = (k−1)·2⁶⁰/θ,
    * intersection sample = merged hashes present in BOTH sketches.
    *
    * Exactness: the sketch is an order statistic of md5-60bit hashes, so
    * the oracle replays sketch AND estimators hash-exactly (ROW_NUMBER ≤ k
    * over DISTINCT hashes — the q119/q170 replayed-grid discipline, not
    * the q44 error band). (k−1)·2⁶⁰ ≈ 2⁶⁶ overflows Long — and so does
    * (k−1)·(2⁶⁰ mod θ) whenever θ > 2⁶³/(k−1), i.e. exactly the
    * small-corpus regime — so the estimator arithmetic runs in wide
    * integers on BOTH sides: DECIMAL(38,0) with Spark's integral `div`,
    * HUGEINT with DuckDB's `//`; identical exact integers, identical
    * floors. `exact_inter` (a distinct self-join) rides along as the
    * audit witness — it is exactly the second full pass the sketch path
    * makes unnecessary at 100 TB.
    */
  private val q182: Q = (s, d) => {
    graft.GraftExtensions.install(s)
    val k = 64
    val two60 = "1152921504606846976"
    val users = Tables.events(s, d).select(col("event_type"), col("user_id"))
    val sk = users
      .withColumn("hv", expr(
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"))
      .groupBy(col("event_type"))
      .agg(expr(s"kmv_sketch(hv, $k)").as("sk"),
        countDistinct(col("user_id")).as("nd"))
    val a = sk.select(col("event_type").as("et_a"), col("sk").as("sk_a"),
      col("nd").as("nd_a"))
    val b = sk.select(col("event_type").as("et_b"), col("sk").as("sk_b"),
      col("nd").as("nd_b"))
    // exact pairwise overlap witness (the pass the sketch replaces)
    val du = users.distinct()
    val ex = du.as("x").join(du.as("y"),
        col("x.user_id") === col("y.user_id") &&
          col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("et_a"), col("y.event_type").as("et_b"))
      .agg(count(lit(1)).as("exact_inter"))
    a.join(b, col("et_a") < col("et_b"))           // 10 sketch-row pairs
      .join(ex, Seq("et_a", "et_b"), "left")
      .withColumn("mu", expr(s"slice(array_sort(array_union(sk_a, sk_b)), 1, $k)"))
      .withColumn("msize", size(col("mu")).cast("long"))
      .withColumn("theta", expr("element_at(mu, CAST(msize AS INT))"))
      .withColumn("inter", expr(
        "CAST(size(filter(mu, h -> array_contains(sk_a, h) AND array_contains(sk_b, h))) AS BIGINT)"))
      .withColumn("est_union", expr(
        s"""CASE WHEN msize < $k THEN msize
           |ELSE CAST(CAST(${k - 1} AS DECIMAL(38,0)) * CAST($two60 AS DECIMAL(38,0))
           |          div CAST(theta AS DECIMAL(38,0)) AS BIGINT)
           |END""".stripMargin))
      .withColumn("est_inter", expr(
        "CAST(CAST(inter AS DECIMAL(38,0)) * CAST(est_union AS DECIMAL(38,0)) div CAST(msize AS DECIMAL(38,0)) AS BIGINT)"))
      .withColumn("jacc_bp", expr("(inter * 10000) div msize"))
      .select(col("et_a"), col("et_b"), col("nd_a"), col("nd_b"),
        coalesce(col("exact_inter"), lit(0L)).as("exact_inter"),
        col("theta"), col("est_union"), col("est_inter"), col("jacc_bp"))
      .orderBy(col("et_a"), col("et_b"))
  }

  private val q182Sql =
    """WITH h AS (SELECT DISTINCT event_type,
      |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      |  FROM events),
      |r AS (SELECT event_type, hv,
      |        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      |      FROM h),
      |k AS (SELECT event_type, hv FROM r WHERE rn <= 64),
      |nd AS (SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS ndist
      |       FROM events GROUP BY event_type),
      |du AS (SELECT DISTINCT event_type, user_id FROM events),
      |ex AS (SELECT x.event_type AS et_a, y.event_type AS et_b,
      |         CAST(COUNT(*) AS BIGINT) AS exact_inter
      |       FROM du x JOIN du y
      |         ON x.user_id = y.user_id AND x.event_type < y.event_type
      |       GROUP BY 1, 2),
      |pairs AS (SELECT a.event_type AS et_a, a.ndist AS nd_a,
      |            b.event_type AS et_b, b.ndist AS nd_b
      |          FROM nd a JOIN nd b ON a.event_type < b.event_type),
      |m AS (SELECT p.et_a, p.et_b, k.hv FROM pairs p
      |      JOIN k ON k.event_type IN (p.et_a, p.et_b)
      |      GROUP BY 1, 2, k.hv),
      |mr AS (SELECT et_a, et_b, hv,
      |         ROW_NUMBER() OVER (PARTITION BY et_a, et_b ORDER BY hv) AS rn
      |       FROM m),
      |mu AS (SELECT et_a, et_b, hv FROM mr WHERE rn <= 64),
      |stats AS (SELECT mu.et_a, mu.et_b,
      |    CAST(COUNT(*) AS BIGINT) AS msize, MAX(mu.hv) AS theta,
      |    CAST(COALESCE(SUM(CASE WHEN ka.hv IS NOT NULL AND kb.hv IS NOT NULL
      |                           THEN 1 ELSE 0 END), 0) AS BIGINT) AS inter
      |  FROM mu
      |  LEFT JOIN k ka ON ka.event_type = mu.et_a AND ka.hv = mu.hv
      |  LEFT JOIN k kb ON kb.event_type = mu.et_b AND kb.hv = mu.hv
      |  GROUP BY 1, 2),
      |est AS (SELECT et_a, et_b, msize, theta, inter,
      |    CASE WHEN msize < 64 THEN CAST(msize AS HUGEINT)
      |         ELSE (CAST(63 AS HUGEINT) * CAST(1152921504606846976 AS HUGEINT))
      |              // CAST(theta AS HUGEINT)
      |    END AS est_union
      |  FROM stats)
      |SELECT p.et_a, p.et_b, p.nd_a, p.nd_b,
      |  COALESCE(ex.exact_inter, 0) AS exact_inter,
      |  e.theta, CAST(e.est_union AS BIGINT) AS est_union,
      |  CAST((CAST(e.inter AS HUGEINT) * e.est_union) // CAST(e.msize AS HUGEINT) AS BIGINT) AS est_inter,
      |  CAST((e.inter * 10000) // e.msize AS BIGINT) AS jacc_bp
      |FROM pairs p
      |JOIN est e ON e.et_a = p.et_a AND e.et_b = p.et_b
      |LEFT JOIN ex ON ex.et_a = p.et_a AND ex.et_b = p.et_b
      |ORDER BY p.et_a, p.et_b""".stripMargin

  // ---------------------------------------------------------------- q201
  /** Frequent 3-itemsets with a SCALE-ADAPTIVE quantile minsup — basket
    * mining over ORDERS (each order's DISTINCT parts form the basket).
    * Round 12 shipped an absolute `minsup = 2`, which breaks in BOTH
    * scale directions: at sf ≥ 0.1 the key-shifted replica corpus has no
    * repeated triple (hash-green but empty — demonstrates nothing at
    * bench scale) and at real 100 TB density an absolute 2 makes nearly
    * every itemset "frequent". The fix is the q145 discipline: minsup is
    * the exact ceil-quantile p99.995 of the TRIPLE-support distribution,
    * derived from the data in-plan and re-derived identically by the
    * oracle — a corpus where triples repeat gets a proportionally high
    * bar (the A-Priori prune stays effective), a diversity-dominated one
    * degrades gracefully to minsup 1 instead of going empty. The output
    * is the top-20 surviving triples under the total order (sup DESC, x,
    * y, z) with each sub-pair's RAW support attached: by downward
    * closure sup(sub-pair) ≥ sup(triple) ≥ minsup, so the three INNER
    * joins never drop a row — they are the monotonicity witness (the
    * spec asserts sup ≤ min of the three), which also licenses taking
    * the top-20 BEFORE the joins: the witness attach then runs over a
    * broadcast 20-row frame instead of the full triple frame.
    *
    * Quantile machinery (partition-safe): support histogram (sup, cnt)
    * — provably ≤ √(2T) rows for T counted triples, since distinct
    * positive-integer supports summing ≤ T number at most √(2T) (~1.5M
    * rows even at T = 10¹²) — then the q212/q215 two-level prefix sum
    * over it (blk = sup div 4096 cumulative window + broadcast
    * block-offset theta join; never a partition-less window), and
    * minsup = MIN sup whose cum_le reaches idx = (T·99995) div 100000
    * (floored at 1; T·99995 fits Long to T ≈ 9·10¹³).
    *
    * Shape notes, learned the hard way: the textbook 3-way self-join of
    * the (order, part) stream on the order key is a PLANNER TRAP — the
    * second join carries one equality + one inequality and DuckDB
    * mis-plans it into a 24 GB blowup (and multiset baskets silently
    * double-count triples through within-order duplicate parts). So
    * baskets are built ONCE as sorted DISTINCT part arrays and pairs/
    * triples explode by index arithmetic: per basket C(w,2)/C(w,3) with
    * schema-bounded w, both streams LINEAR in orders (ScalingProbe pins
    * the volumes at exactly 10× for 10× data), and no join touches
    * anything basket-sized.
    *
    * Why the classical A-Priori frequent-pair pre-filter provably CANNOT
    * engage here (evaluated round 14): minsup is the p99.995 quantile of
    * the FULL triple-support distribution and is itself an output
    * column, so any generation-time prune changes T and the histogram —
    * hence the derived minsup — unless the pruned triples' supports are
    * known, which requires counting them. And no pair-derived lower
    * bound on the derived minsup exists: downward closure makes pair
    * supports UPPER bounds on triple supports, which can prove
    * minsup < B but never minsup ≥ B (that would need a lower bound on
    * the count of high-support triples). The bound therefore degenerates
    * to 1 at every scale and the lossless cheapener attacks the constant
    * factor of the dominant stage instead — the packed single-BIGINT
    * shuffle key below (Q201_DECOMP_r14.json decomposes the stages).
    * CheckpointTracker materializes the basket frame (pair + triple
    * explode consumers), the triple-count frame (histogram + top-k
    * consumers) and the pair-count frame (three witness-join consumers,
    * each a map-side lookup against the broadcast top-20). */
  private val q201: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val tracker = new graft.operators.CheckpointTracker(Tables.lineitem(s, d))
    // Packed keys: Q201_DECOMP_r14 splits the isolated sf1 wall into
    // baskets 3.1 / pairs 2.3 / triples 2.7 / quantile 1.6 / witness
    // 2.6 s — no hot spot, so the lossless win is shaving the CONSTANT
    // of every stage that moves pair/triple keys, whose shuffle key was
    // a 3-field struct (isolated fresh-JVM median: 16-18 s round 13 →
    // 8.96 s round 14 at sf1, output bit-identical). Since ps is a
    // sorted DISTINCT array of part keys guarded into [0, 2^21), a triple
    // packs losslessly into ONE BIGINT (x<<42 | y<<21 | z) whose numeric
    // order IS the (x, y, z) lexicographic order — the hash agg and its
    // exchange move 1 long instead of 3, and the explode emits plain
    // BIGINT arrays instead of struct arrays. Past 2M parts the guard
    // fires and the documented fallback is the struct key (same plan
    // shape, wider rows).
    val bk = tracker.lazyCkpt(graft.functions.Guard.require(
      Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps")),
      expr("element_at(ps, 1) >= 0L AND element_at(ps, -1) < 2097152L"),
      "q201: l_partkey outside [0, 2^21) - the packed 3x21-bit triple " +
        "key would wrap; fall back to struct keys past 2M parts"))
    val pairCounts = tracker.lazyCkpt(bk.filter(size(col("ps")) >= 2)
      .select(explode(expr(
        "flatten(transform(sequence(0, size(ps) - 2), i -> " +
          "transform(sequence(i + 1, size(ps) - 1), j -> " +
          "ps[i] * 2097152L + ps[j])))")).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("sup")))
    val tripleCounts = tracker.lazyCkpt(bk.filter(size(col("ps")) >= 3)
      .select(explode(expr(
        "flatten(flatten(transform(sequence(0, size(ps) - 3), i -> " +
          "transform(sequence(i + 1, size(ps) - 2), j -> " +
          "transform(sequence(j + 1, size(ps) - 1), k -> " +
          "ps[i] * 4398046511104L + ps[j] * 2097152L + ps[k])))))")).as("tk"))
      .groupBy(col("tk")).agg(count(lit(1)).as("sup")))
    val hist = tracker.lazyCkpt(tripleCounts.groupBy(col("sup"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("blk", expr("sup div 4096")))
    val wB = Window.partitionBy(col("blk")).orderBy(col("sup"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCum = hist.withColumn("cumw", sum(col("cnt")).over(wB))
    val blkTot = hist.groupBy(col("blk")).agg(sum(col("cnt")).as("bn"))
    val off = blkTot.as("a")
      .join(broadcast(blkTot.as("b")), col("b.blk") < col("a.blk"), "left")
      .groupBy(col("a.blk").as("blk"))
      .agg(coalesce(sum(col("b.bn")), lit(0L)).as("off"))
    val nTr = hist.agg(sum(col("cnt")).as("n_tr"))
    val minsupDf = withCum.join(broadcast(off), Seq("blk"))
      .crossJoin(broadcast(nTr))
      .filter(col("off") + col("cumw") >=
        expr("greatest(1L, (n_tr * 99995L) div 100000L)"))
      .agg(min(col("sup")).as("minsup"))
    // packed tk order == (x, y, z) lexicographic order (non-negative
    // fixed-width fields), so ordering by tk before the unpack is the
    // identical total order the oracle states
    val top = tripleCounts.crossJoin(broadcast(minsupDf))
      .filter(col("sup") >= col("minsup"))
      .orderBy(col("sup").desc, col("tk"))
      .limit(20)
      .select(expr("shiftright(tk, 42)").as("x"),
        expr("shiftright(tk, 21) % 2097152L").as("y"),
        expr("tk % 2097152L").as("z"), col("sup"), col("minsup"))
    val out = broadcast(top)
      .join(pairCounts.select(col("pk"), col("sup").as("sup_xy")),
        expr("pk = x * 2097152L + y"))
      .join(pairCounts.select(col("pk").as("pk2"), col("sup").as("sup_xz")),
        expr("pk2 = x * 2097152L + z"))
      .join(pairCounts.select(col("pk").as("pk3"), col("sup").as("sup_yz")),
        expr("pk3 = y * 2097152L + z"))
      .select(col("x"), col("y"), col("z"), col("sup"),
        col("sup_xy"), col("sup_xz"), col("sup_yz"), col("minsup"))
      .orderBy(col("sup").desc, col("x"), col("y"), col("z"))
      // One eager action runs the explodes off the materialized baskets;
      // the ≤20-row result outlives them (CheckpointTracker contract).
      .localCheckpoint(true)
    tracker.releaseAll()
    out
  }

  private val q201Sql =
    """WITH bk AS (SELECT l_orderkey AS o,
      |    list_sort(list_distinct(list(l_partkey))) AS ps
      |  FROM lineitem GROUP BY l_orderkey),
      |pc AS (SELECT s.x AS x, s.y AS y, CAST(COUNT(*) AS BIGINT) AS sup FROM (
      |    SELECT UNNEST(flatten(list_transform(range(1, len(ps)), i ->
      |      list_transform(range(i + 1, len(ps) + 1), j ->
      |        {'x': ps[i], 'y': ps[j]})))) AS s
      |    FROM bk WHERE len(ps) >= 2)
      |  GROUP BY s.x, s.y),
      |tc AS (SELECT s.x AS x, s.y AS y, s.z AS z, CAST(COUNT(*) AS BIGINT) AS sup FROM (
      |    SELECT UNNEST(flatten(flatten(list_transform(range(1, len(ps) - 1), i ->
      |      list_transform(range(i + 1, len(ps)), j ->
      |        list_transform(range(j + 1, len(ps) + 1), k ->
      |          {'x': ps[i], 'y': ps[j], 'z': ps[k]})))))) AS s
      |    FROM bk WHERE len(ps) >= 3)
      |  GROUP BY s.x, s.y, s.z),
      |hist AS (SELECT sup, CAST(COUNT(*) AS BIGINT) AS cnt FROM tc GROUP BY sup),
      |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tr FROM hist),
      |cum AS (SELECT sup, SUM(cnt) OVER (ORDER BY sup) AS cum_le FROM hist),
      |ms AS (SELECT CAST(MIN(sup) AS BIGINT) AS minsup FROM cum, n
      |       WHERE cum_le >= greatest(1, (n_tr * 99995) // 100000)),
      |top AS (SELECT tc.x, tc.y, tc.z, tc.sup, ms.minsup FROM tc, ms
      |        WHERE tc.sup >= ms.minsup
      |        ORDER BY tc.sup DESC, tc.x, tc.y, tc.z LIMIT 20)
      |SELECT t.x, t.y, t.z, t.sup,
      |  pxy.sup AS sup_xy, pxz.sup AS sup_xz, pyz.sup AS sup_yz, t.minsup
      |FROM top t
      |JOIN pc pxy ON pxy.x = t.x AND pxy.y = t.y
      |JOIN pc pxz ON pxz.x = t.x AND pxz.y = t.z
      |JOIN pc pyz ON pyz.x = t.y AND pyz.y = t.z
      |ORDER BY t.sup DESC, t.x, t.y, t.z""".stripMargin

  // ---------------------------------------------------------------- q205
  /** Exponential time-decay popularity — the RECENCY-WEIGHTED ranking a
    * feed / sampling pipeline runs instead of raw lifetime totals (a part
    * selling heavily six years ago should not outrank one selling now):
    * each lineitem contributes its revenue halved per 180 days of age,
    * top-15 parts by decayed score. The decay is EXACT integer — a
    * half-life is a binary right-shift, term = cents >> (age_days div
    * 180) — no floating exp(), no truncation ambiguity (all values
    * non-negative), and the order-free integer SUM makes the aggregate
    * partition-invariant, which a float exp-decay sum is NOT (the same
    * reason q121/q171 floor first). The age anchor is the corpus max
    * ship date (a 1-row broadcast), so the query is deterministic from
    * the data alone; shift amounts are data-bounded (~14 here) and
    * guarded ≤ 62 where the Long shift would wrap.
    *
    * Scale shape: one fact scan → map-side-combined (part) hash agg;
    * the anchor rides a broadcast cross-join BELOW the agg (scalar, no
    * exchange); top-15 = TakeOrderedAndProject. retained_ppm in the
    * result is the decay-vs-raw audit witness. */
  private val q205: Q = (s, d) => {
    val li = Tables.lineitem(s, d).select(col("l_partkey"),
      (money(col("l_extendedprice")) * 100).cast("long").as("cents"),
      to_date(col("l_shipdate")).as("ship"))
    val anchor = li.agg(max(col("ship")).as("anchor"))
    val terms = li.crossJoin(broadcast(anchor))
      .select(col("l_partkey"), col("cents"),
        expr("datediff(anchor, ship) div 180").as("hl"))
    graft.functions.Guard.require(terms,
        col("hl") >= 0L && col("hl") <= 62L,
        "q205: decay shift outside [0, 62] (future-dated row or >30-year " +
          "age) - widen the half-life or clamp explicitly")
      .select(col("l_partkey"), col("cents"),
        expr("shiftright(cents, CAST(hl AS INT))").as("dec"))
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_lines"), sum(col("cents")).as("raw_cents"),
        sum(col("dec")).as("decayed_cents"))
      .select(col("l_partkey"), col("n_lines"), col("raw_cents"),
        col("decayed_cents"),
        expr("(decayed_cents * 1000000) div raw_cents").as("retained_ppm"))
      // In-band invariant (Round12InvariantsSpec's bound, enforced on
      // every oracle run too): a right-shift only loses mass, so the
      // decayed total can never exceed the raw total. O(rows), rides
      // the plan as a tautological predicate.
      .transform(f => graft.functions.Guard.require(f,
        col("decayed_cents") >= 0L && col("decayed_cents") <= col("raw_cents"),
        "q205: decayed_cents outside [0, raw_cents] - the shift-decay " +
          "invariant is broken"))
      .orderBy(col("decayed_cents").desc, col("l_partkey"))
      .limit(15)
  }

  private val q205Sql =
    """WITH li AS (SELECT l_partkey,
      |    CAST(CAST(l_extendedprice AS DECIMAL(15,2)) * 100 AS BIGINT) AS cents,
      |    CAST(l_shipdate AS DATE) AS ship
      |  FROM lineitem),
      |a AS (SELECT MAX(ship) AS anchor FROM li),
      |t AS (SELECT l_partkey, cents,
      |    cents >> (DATEDIFF('day', ship, (SELECT anchor FROM a)) // 180) AS dec
      |  FROM li),
      |g AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
      |    CAST(SUM(cents) AS BIGINT) AS raw_cents,
      |    CAST(SUM(dec) AS BIGINT) AS decayed_cents
      |  FROM t GROUP BY l_partkey)
      |SELECT l_partkey, n_lines, raw_cents, decayed_cents,
      |  CAST((decayed_cents * 1000000) // raw_cents AS BIGINT) AS retained_ppm
      |FROM g ORDER BY decayed_cents DESC, l_partkey LIMIT 15""".stripMargin

  // ---------------------------------------------------------------- q216
  /** Mergeable KLL quantile sketch, exact-witnessed — completes the
    * sketch family's planner-statistics story: HLL distinct (q44), CMS
    * frequency (q119), Misra-Gries heavy hitters (q105), KMV overlap
    * (q182) — and now first-class mergeable QUANTILES, the state a
    * 100 TB deployment stores per day/source and unions at question
    * time instead of re-sorting the corpus (`percentile_approx` answers
    * once per scan; a [[graft.functions.KllQuantilesAgg]] state
    * composes, and q174's exact equi-depth boundaries calibrate what
    * the sketch trades away). Per event type: the sketch estimates
    * p25/p50/p75/p90/p99 of the value cents; the output carries the
    * EXACT order statistics (the q81 ceil-rank convention, oracle-
    * replayed) plus an in-band boolean per quantile — the q44/q165
    * discipline: the estimate itself is not oracle-portable (compaction
    * depends on merge order), but "its true rank lies within tol of
    * the target" is a stable fact the oracle states as literal TRUE.
    * tol is DERIVED from the deterministic worst-case envelope
    * n·L/(2k) for k = 256 (floored by 3 %·n and 16), so the band is a
    * theorem at every scale — not an empirical ceiling that a
    * within-contract sketch could outgrow once L = log2(n/k) passes
    * 15.4 at n ≈ 1.2e7 (KllSketchSpec property-tests the bound under
    * adversarial partitionings).
    *
    * Shape: one hash agg builds the 5 sketches (O(k·log n) state,
    * map-side combinable); the estimate rows explode to ≤ 25 and
    * BROADCAST into one witness pass computing each estimate's exact
    * rank interval (two conditional sums); the exact quantiles pay
    * q81's per-type window sort — the honest exact-witness cost the
    * sketch exists to avoid at scale. */
  private val q216: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    graft.GraftExtensions.install(s)
    val ppms = Seq(250000L, 500000L, 750000L, 900000L, 990000L)
    // L-suffixed literals: an int array literal would make p_ppm INT on
    // the Spark side while the oracle emits BIGINT
    val ppmSql = s"array(${ppms.mkString("L, ")}L)"
    val ev = Tables.events(s, d).select(col("event_type"), col("event_id"),
      (money(col("value")) * 100).cast("long").as("cents"))
    val sk = ev.groupBy(col("event_type"))
      .agg(expr(s"kll_quantiles(cents, 256, $ppmSql)").as("est"),
        count(lit(1)).as("n"))
    val estRows = sk.select(col("event_type"), col("n"),
        posexplode(col("est")).as(Seq("pi", "est_v")))
      .select(col("event_type"), col("n"),
        element_at(expr(ppmSql), col("pi") + 1).as("p_ppm"), col("est_v"))
    val witness = ev.join(broadcast(estRows), Seq("event_type"))
      .groupBy(col("event_type"), col("p_ppm"))
      .agg(min(col("n")).as("n"), min(col("est_v")).as("est_v"),
        sum((col("cents") < col("est_v")).cast("long")).as("rank_lt"),
        sum((col("cents") <= col("est_v")).cast("long")).as("rank_le"))
      .select(col("event_type"), col("p_ppm"), col("n"),
        expr("greatest(1L, (n * p_ppm + 999999L) div 1000000L)").as("target"),
        // tol is the deterministic worst-case envelope n·L/(2k), L =
        // ceil(log2(ceil(n/k))) levels at k = 256, floored by the
        // empirical 3%·n and an absolute 16 — a theorem at EVERY scale,
        // not an empirical ceiling (at n ~ 1.2e7, L > 15 makes n·L/(2k)
        // exceed 3%·n, so a within-contract sketch could otherwise flag
        // in_band=false against the oracle's literal TRUE). L in pure
        // integers: ceil(log2(m)) = length(bin(m-1)) for m > 1.
        expr("greatest(n * (CASE WHEN (n + 255L) div 256L <= 1L THEN 0L " +
          "ELSE CAST(length(bin((n + 255L) div 256L - 1L)) AS BIGINT) END) " +
          "div 512L, (n * 3L) div 100L, 16L)").as("tol"),
        col("rank_lt"), col("rank_le"))
      .select(col("event_type"), col("p_ppm"), col("n"),
        (col("rank_lt") < col("target") + col("tol") &&
          col("rank_le") >= col("target") - col("tol")).as("in_band"))
    val wr = Window.partitionBy(col("event_type"))
      .orderBy(col("cents"), col("event_id"))
    val wn = Window.partitionBy(col("event_type"))
    val exact = ev.withColumn("rn", row_number().over(wr))
      .withColumn("n", count(lit(1)).over(wn))
      .crossJoin(broadcast(ppms.toDF("p_ppm")))
      .filter(col("rn") ===
        expr("greatest(1L, (n * p_ppm + 999999L) div 1000000L)"))
      .select(col("event_type"), col("p_ppm"), col("cents").as("exact_cents"))
    witness.join(exact, Seq("event_type", "p_ppm"))
      .select(col("event_type"), col("p_ppm"), col("n"),
        col("exact_cents"), col("in_band"))
      .orderBy(col("event_type"), col("p_ppm"))
  }

  private val q216Sql =
    """WITH e AS (SELECT event_type, event_id,
      |    CAST(CAST(value AS DECIMAL(15,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |o AS (SELECT event_type, cents,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |                       ORDER BY cents, event_id) AS rn,
      |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |  FROM e),
      |p AS (SELECT CAST(UNNEST([250000, 500000, 750000, 900000, 990000])
      |             AS BIGINT) AS p_ppm)
      |SELECT o.event_type, p.p_ppm, o.n,
      |  CAST(o.cents AS BIGINT) AS exact_cents, TRUE AS in_band
      |FROM o CROSS JOIN p
      |WHERE o.rn = greatest(1, (o.n * p.p_ppm + 999999) // 1000000)
      |ORDER BY o.event_type, p.p_ppm""".stripMargin

  // ---------------------------------------------------------------- q221
  /** MCV-statistics join-cardinality estimation — the PLANNER-side
    * number everything else here optimizes around: before choosing
    * broadcast vs shuffle vs salt (q74/q140), an optimizer must GUESS
    * |A ⋈ B|, and the industry answer (PostgreSQL's eqjoinsel, ANALYZE
    * stats everywhere) is most-common-values + a uniform remainder.
    * This runs that estimator against ground truth on a genuinely
    * skewed join — return-flag 'R' lineitems ⋈ 'A' lineitems on
    * l_partkey — and reports the error in ppm, next to q170's CMS/AGMS
    * sketch estimate of the same quantity and q174's exact equi-depth
    * boundaries: the three ways a 100 TB engine prices a join (MCV
    * stats, mergeable sketch, exact histogram) on one page.
    *
    * Estimator (explicit, integer-exact, both engines replay it):
    * K = 32 MCVs per side chosen by (count DESC, value ASC) — a
    * deterministic TakeOrderedAndProject, never a sort of the ndv
    * frame; rest_X = |X| − Σ mcv counts spread uniformly over
    * (ndv_X − K) values. est = Σ_{v∈MA∩MB} cA·cB
    * + rest_per_val_B·Σ_{MA\MB} cA + rest_per_val_A·Σ_{MB\MA} cB
    * + rest_A·rest_B div greatest(ndv_A−K, ndv_B−K, 1). Products ride
    * DECIMAL(38) (counts can square past Long at extreme skew), err in
    * ppm of the exact size.
    *
    * Scale shape: two map-side-combined (value) count aggs (ndv-sized
    * frames), top-32 via TakeOrderedAndProject, the estimator itself on
    * two 32-row broadcast frames + three scalars; the exact witness is
    * one keyed join of the two count frames — ndv-sized, never the raw
    * corpus against itself. */
  private val q221: Q = (s, d) => {
    val li = Tables.lineitem(s, d).select(col("l_partkey").as("v"),
      col("l_returnflag"))
    def side(flag: String): (DataFrame, DataFrame, DataFrame) = {
      val counts = li.filter(col("l_returnflag") === flag)
        .groupBy(col("v")).agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // consumers: totals, MCV, exact witness
      val mcv = counts.orderBy(col("c").desc, col("v")).limit(32)
        .localCheckpoint(true)
      val tot = counts.agg(sum(col("c")).as("n"),
        count(lit(1)).as("ndv"))
      (counts, mcv, tot)
    }
    val (ca, mcvA, totA) = side("R")
    val (cb, mcvB, totB) = side("A")
    val exact = ca.select(col("v"), col("c").as("xa"))
      .join(cb.select(col("v"), col("c").as("xb")), Seq("v"))
      .agg(expr("CAST(SUM(CAST(xa AS DECIMAL(38,0)) * xb) AS BIGINT)")
        .as("exact_pairs"))
    // decompose the MCV lists against each other (32x32 broadcast join)
    val mA = mcvA.select(col("v"), col("c").as("ca"))
    val mB = mcvB.select(col("v"), col("c").as("cb"))
    val mcvStats = mA.join(mB, Seq("v"), "full_outer")
      .agg(
        expr("CAST(SUM(CASE WHEN ca IS NOT NULL AND cb IS NOT NULL " +
          "THEN CAST(ca AS DECIMAL(38,0)) * cb ELSE 0 END) AS BIGINT)")
          .as("hit_pairs"),
        sum(when(col("cb").isNull, col("ca")).otherwise(0L)).as("ca_only"),
        sum(when(col("ca").isNull, col("cb")).otherwise(0L)).as("cb_only"),
        coalesce(sum(col("ca")), lit(0L)).as("mcv_a_mass"),
        coalesce(sum(col("cb")), lit(0L)).as("mcv_b_mass"))
    val est = mcvStats
      .crossJoin(broadcast(totA.select(col("n").as("n_a"), col("ndv").as("ndv_a"))))
      .crossJoin(broadcast(totB.select(col("n").as("n_b"), col("ndv").as("ndv_b"))))
      .select(col("n_a"), col("n_b"), col("ndv_a"), col("ndv_b"),
        col("hit_pairs"), col("ca_only"), col("cb_only"),
        (col("n_a") - col("mcv_a_mass")).as("rest_a"),
        (col("n_b") - col("mcv_b_mass")).as("rest_b"))
      .select(col("n_a"), col("n_b"), col("ndv_a"), col("ndv_b"),
        (col("hit_pairs")
          + expr("(rest_b div greatest(ndv_b - 32L, 1L)) * ca_only")
          + expr("(rest_a div greatest(ndv_a - 32L, 1L)) * cb_only")
          + expr("CAST(CAST(rest_a AS DECIMAL(38,0)) * rest_b AS DECIMAL(38,0)) " +
            "div greatest(ndv_a - 32L, ndv_b - 32L, 1L)").cast("long"))
          .as("est_pairs"))
    graft.functions.Guard.require(est.crossJoin(broadcast(exact)),
        col("exact_pairs") > 0L,
        "q221: the witness join is empty - the estimator error is " +
          "undefined; pick sides that share keys")
      .select(col("n_a"), col("n_b"), col("ndv_a"), col("ndv_b"),
        col("exact_pairs"), col("est_pairs"),
        expr("abs(est_pairs - exact_pairs) * 1000000L div exact_pairs")
          .as("err_ppm"))
  }

  private val q221Sql =
    """WITH ca AS MATERIALIZED (SELECT l_partkey AS v, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1),
      |cb AS MATERIALIZED (SELECT l_partkey AS v, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1),
      |ta AS (SELECT CAST(SUM(c) AS BIGINT) AS n_a,
      |       CAST(COUNT(*) AS BIGINT) AS ndv_a FROM ca),
      |tb AS (SELECT CAST(SUM(c) AS BIGINT) AS n_b,
      |       CAST(COUNT(*) AS BIGINT) AS ndv_b FROM cb),
      |ma AS MATERIALIZED (SELECT v, c FROM ca ORDER BY c DESC, v LIMIT 32),
      |mb AS MATERIALIZED (SELECT v, c FROM cb ORDER BY c DESC, v LIMIT 32),
      |ex AS (SELECT CAST(SUM(CAST(ca.c AS HUGEINT) * cb.c) AS BIGINT)
      |         AS exact_pairs
      |       FROM ca JOIN cb ON ca.v = cb.v),
      |ms AS (SELECT
      |    CAST(SUM(CASE WHEN ma.c IS NOT NULL AND mb.c IS NOT NULL
      |             THEN CAST(ma.c AS HUGEINT) * mb.c ELSE 0 END) AS BIGINT)
      |      AS hit_pairs,
      |    CAST(SUM(CASE WHEN mb.c IS NULL THEN ma.c ELSE 0 END) AS BIGINT)
      |      AS ca_only,
      |    CAST(SUM(CASE WHEN ma.c IS NULL THEN mb.c ELSE 0 END) AS BIGINT)
      |      AS cb_only,
      |    CAST(COALESCE(SUM(ma.c), 0) AS BIGINT) AS mcv_a_mass,
      |    CAST(COALESCE(SUM(mb.c), 0) AS BIGINT) AS mcv_b_mass
      |  FROM ma FULL OUTER JOIN mb ON ma.v = mb.v),
      |est AS (SELECT ta.n_a, tb.n_b, ta.ndv_a, tb.ndv_b,
      |    CAST(ms.hit_pairs
      |      + ((ta.n_a - ms.mcv_a_mass) // greatest(ta.ndv_a - 32, 1))
      |        * ms.cb_only
      |      + ((tb.n_b - ms.mcv_b_mass) // greatest(tb.ndv_b - 32, 1))
      |        * ms.ca_only
      |      + (CAST(ta.n_a - ms.mcv_a_mass AS HUGEINT)
      |         * (tb.n_b - ms.mcv_b_mass))
      |        // greatest(ta.ndv_a - 32, tb.ndv_b - 32, 1) AS BIGINT)
      |      AS est_pairs
      |  FROM ms, ta, tb)
      |SELECT e.n_a, e.n_b, e.ndv_a, e.ndv_b, x.exact_pairs, e.est_pairs,
      |  CAST(abs(e.est_pairs - x.exact_pairs) * 1000000 // x.exact_pairs
      |       AS BIGINT) AS err_ppm
      |FROM est e, ex x""".stripMargin

  // ---------------------------------------------------------------- q223
  /** Rendezvous-hash reshard audit — the DATA-MOVEMENT bill an operator
    * reads before growing a cluster: adding one shard to an 8-shard
    * layout moves ~100 % of keys under mod-hash placement (every
    * hash % 8 ≠ hash % 9 key relocates) but only ~1/9 under rendezvous
    * (HRW) hashing, where a key lives on argmax_s h(key, s) and moves
    * ONLY if the new shard wins its argmax — Thaler–Ravishankar '96,
    * the consistent-placement primitive under storage reshards,
    * stateful-stream rescaling, and cache rings. The audit computes
    * both movement fractions exactly over the order keys plus the
    * rendezvous layout's balance (max/min shard occupancy in ppm of
    * ideal) — the two numbers that decide a reshard window.
    *
    * Exactness: placements are pure md5 functions (the portable-hash
    * discipline — h(key, s) = md5Bucket60(key || '#' || s)), argmax
    * breaks ties by shard id (both engines), so every row's old/new
    * shard replays bit-identically in DuckDB.
    *
    * Scale shape: the rendezvous argmax is a 9× LINEAR explode (key ×
    * shard) collapsed by ONE packed max hash agg — max(h·16 + s) packs
    * winner-and-score into one Long (the q98/q115 PackedArgMin
    * discipline; h < 2⁶⁰ makes the pack safe) — never a per-key window
    * or sort; mod placement is a map-only projection. One corpus scan
    * per layout, three scalar outputs. */
  private val q223: Q = (s, d) => {
    import graft.functions.PortableHash.md5Bucket60
    def hrw(nShards: Int): DataFrame =
      Tables.orders(s, d).select(col("o_orderkey").as("key"))
        .crossJoin(broadcast(s.range(nShards).select(col("id").as("sh"))))
        // pack = (h div 2)·16 + shard: 59 hash bits + 4 shard bits tops out
        // at exactly 2⁶³−1 (a 60-bit h times 16 would wrap); halving costs
        // one tie-bit, broken deterministically by the larger shard id.
        .select(col("key"),
          (shiftright(md5Bucket60(concat_ws("#", col("key"), col("sh"))), 1)
            * 16L + col("sh")).as("packed"))
        .groupBy(col("key"))
        .agg((max(col("packed")) % 16L).as("shard"))
    val oldNew = hrw(8).withColumnRenamed("shard", "s8")
      .join(hrw(9).withColumnRenamed("shard", "s9"), Seq("key"))
      .localCheckpoint(true) // movement + balance consumers
    val moved = oldNew.agg(count(lit(1)).as("n_keys"),
      sum((col("s8") =!= col("s9")).cast("long")).as("hrw_moved"))
    val modMoved = Tables.orders(s, d).select(col("o_orderkey").as("key"))
      .select(md5Bucket60(col("key").cast("string")).as("h"))
      .agg(sum((col("h") % 8L =!= col("h") % 9L).cast("long")).as("mod_moved"))
    val balance = oldNew.groupBy(col("s9")).agg(count(lit(1)).as("c"))
      .agg(min(col("c")).as("min_c"), max(col("c")).as("max_c"))
    moved.crossJoin(broadcast(modMoved)).crossJoin(broadcast(balance))
      .select(col("n_keys"),
        expr("hrw_moved * 1000000L div n_keys").as("hrw_moved_ppm"),
        expr("mod_moved * 1000000L div n_keys").as("mod_moved_ppm"),
        expr("max_c * 9000000L div n_keys").as("max_shard_ppm"),
        expr("min_c * 9000000L div n_keys").as("min_shard_ppm"))
  }

  private val q223Sql =
    """WITH keys AS (SELECT o_orderkey AS key FROM orders),
      |hrw8 AS (SELECT key,
      |    CAST(MAX((CAST(('0x' || substr(md5(CAST(key AS VARCHAR) || '#' ||
      |      CAST(sh AS VARCHAR)), 1, 15)) AS BIGINT) >> 1) * 16 + sh) % 16
      |      AS BIGINT) AS s8
      |  FROM keys, (SELECT UNNEST(range(8)) AS sh) GROUP BY key),
      |hrw9 AS (SELECT key,
      |    CAST(MAX((CAST(('0x' || substr(md5(CAST(key AS VARCHAR) || '#' ||
      |      CAST(sh AS VARCHAR)), 1, 15)) AS BIGINT) >> 1) * 16 + sh) % 16
      |      AS BIGINT) AS s9
      |  FROM keys, (SELECT UNNEST(range(9)) AS sh) GROUP BY key),
      |onw AS MATERIALIZED (SELECT hrw8.key, s8, s9 FROM hrw8
      |       JOIN hrw9 ON hrw9.key = hrw8.key),
      |mv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
      |    CAST(SUM(CASE WHEN s8 <> s9 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS hrw_moved FROM onw),
      |md AS (SELECT CAST(SUM(CASE WHEN h % 8 <> h % 9 THEN 1 ELSE 0 END)
      |         AS BIGINT) AS mod_moved
      |  FROM (SELECT CAST(('0x' || substr(md5(CAST(key AS VARCHAR)), 1, 15))
      |               AS BIGINT) AS h FROM keys)),
      |bal AS (SELECT CAST(MIN(c) AS BIGINT) AS min_c,
      |               CAST(MAX(c) AS BIGINT) AS max_c
      |  FROM (SELECT s9, COUNT(*) AS c FROM onw GROUP BY s9))
      |SELECT mv.n_keys,
      |  CAST(mv.hrw_moved * 1000000 // mv.n_keys AS BIGINT) AS hrw_moved_ppm,
      |  CAST(md.mod_moved * 1000000 // mv.n_keys AS BIGINT) AS mod_moved_ppm,
      |  CAST(bal.max_c * 9000000 // mv.n_keys AS BIGINT) AS max_shard_ppm,
      |  CAST(bal.min_c * 9000000 // mv.n_keys AS BIGINT) AS min_shard_ppm
      |FROM mv, md, bal""".stripMargin

  val queries: Map[String, Q] = Map(
    "q182_kmv_overlap" -> q182,
    "q201_apriori_triples" -> q201,
    "q205_decayed_popularity" -> q205,
    "q216_kll_quantiles" -> q216,
    "q221_mcv_join_estimate" -> q221,
    "q223_rendezvous_reshard" -> q223,
    "q160_zorder_layout_audit" -> q160,
    "q161_incremental_agg_merge" -> q161,
    "q163_pivot_wide" -> q163,
    "q164_interval_overlap_join" -> q164,
    "q165_sketch_rolling_distinct" -> q165,
    "q170_cms_join_estimate" -> q170,
    "q174_equidepth_histogram" -> q174)

  val oracle: Map[String, String] = Map(
    "q182_kmv_overlap" -> q182Sql,
    "q201_apriori_triples" -> q201Sql,
    "q205_decayed_popularity" -> q205Sql,
    "q216_kll_quantiles" -> q216Sql,
    "q221_mcv_join_estimate" -> q221Sql,
    "q223_rendezvous_reshard" -> q223Sql,
    "q160_zorder_layout_audit" -> q160Sql,
    "q161_incremental_agg_merge" -> q161Sql,
    "q163_pivot_wide" -> q163Sql,
    "q164_interval_overlap_join" -> q164Sql,
    "q165_sketch_rolling_distinct" -> q165Sql,
    "q170_cms_join_estimate" -> q170Sql,
    "q174_equidepth_histogram" -> q174Sql)
}
