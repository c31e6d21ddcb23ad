package graft.queries

import graft.Tables
import graft.functions.Exact._
import graft.pipeline.AuditPipeline
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Typed weighted-average aggregator (SURVEY.md §2b "UDF surface").
  *
  * Works in exact integer cents so partial aggregates merge exactly in any
  * shuffle order — the same reason Exact uses decimals. Input is
  * (cents, weight); output is the weighted mean in currency units.
  */
object WeightedAvgAgg extends Aggregator[(Long, Long), (Long, Long), Double] {
  override def zero: (Long, Long) = (0L, 0L)
  override def reduce(b: (Long, Long), in: (Long, Long)): (Long, Long) =
    (b._1 + in._1 * in._2, b._2 + in._2)
  override def merge(a: (Long, Long), b: (Long, Long)): (Long, Long) =
    (a._1 + b._1, a._2 + b._2)
  override def finish(r: (Long, Long)): Double =
    if (r._2 == 0L) 0.0 else r._1.toDouble / (100.0 * r._2)
  override def bufferEncoder = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
  override def outputEncoder = Encoders.scalaDouble
}

/** Queries over the `events` stream table: the reference pipeline's record
  * shape (decode → enrich → prune → route, lambda_function.py:43-54,80-81)
  * expressed as batch DataFrames, plus event-time windowing (tumbling /
  * sliding / session), pivot, JSON extraction, and the typed UDAF.
  */
object EventQueries {
  type Q = (SparkSession, String) => DataFrame

  private val IsoSec = "yyyy-MM-dd'T'HH:mm:ss"

  /** `k` extracted from the JSON `props` payload (schema-on-read, the
    * from_json analog of lambda_function.py:45's json.loads). */
  private def withK(df: DataFrame): DataFrame =
    df.withColumn("k",
      from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
        .getField("k"))

  // ---------------------------------------------------------------- q22
  private val q22: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0)
      .orderBy(col("user_id"))

  private val q22Sql =
    """SELECT user_id,
      | COUNT(*) FILTER (WHERE event_type = 'click') AS click,
      | COUNT(*) FILTER (WHERE event_type = 'error') AS error,
      | COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      | COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
      | COUNT(*) FILTER (WHERE event_type = 'view') AS view
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q23
  private val q23: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(money(col("value"))).cast("double").as("val_sum"))
      .select(date_format(col("window.start"), IsoSec).as("w_start"),
        col("event_type"), col("n"), col("val_sum"))
      .orderBy(col("w_start"), col("event_type"))

  private val q23Sql =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%dT%H:%M:%S') AS w_start, event_type,
      | COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(15,2))) AS DOUBLE) AS val_sum
      |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin

  // ---------------------------------------------------------------- q24
  private val q24: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"), sum(money(col("value"))).cast("double").as("val_sum"))
      .select(date_format(col("window.start"), IsoSec).as("w_start"), col("n"), col("val_sum"))
      .orderBy(col("w_start"))

  private val q24Sql =
    """WITH x AS (SELECT time_bucket(INTERVAL '30 minutes', ts) AS b, value FROM events),
      | w AS (SELECT b AS ws, value FROM x
      |       UNION ALL SELECT b - INTERVAL '30 minutes' AS ws, value FROM x)
      |SELECT strftime(ws, '%Y-%m-%dT%H:%M:%S') AS w_start, COUNT(*) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(15,2))) AS DOUBLE) AS val_sum
      |FROM w GROUP BY ws ORDER BY w_start""".stripMargin

  // ---------------------------------------------------------------- q25
  private val q25: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), min(col("event_id")).as("first_event"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("s_start_us"),
        col("n"), col("first_event"))
      .orderBy(col("user_id"), col("s_start_us"))

  private val q25Sql =
    """WITH o AS (
      |  SELECT user_id, ts, event_id,
      |   CASE WHEN lag(ts) OVER w IS NULL
      |        OR ts - lag(ts) OVER w >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      | g AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM o)
      |SELECT user_id, CAST(epoch_us(min(ts)) AS BIGINT) AS s_start_us,
      | COUNT(*) AS n, min(event_id) AS first_event
      |FROM g GROUP BY user_id, sid ORDER BY user_id, s_start_us""".stripMargin

  // ---------------------------------------------------------------- q26
  private val q26: Q = (s, d) =>
    withK(Tables.events(s, d))
      .groupBy(col("event_type"))
      .agg(
        sum(col("k")).as("sum_k"),
        (sum(col("k")).cast("double") / count(col("k"))).as("avg_k"),
        max(col("k")).as("max_k"),
        min(col("k")).as("min_k"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  private val q26Sql =
    """WITH e AS (SELECT event_type,
      |  CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT) AS k FROM events)
      |SELECT event_type, CAST(SUM(k) AS BIGINT) AS sum_k,
      | CAST(SUM(k) AS DOUBLE) / COUNT(k) AS avg_k,
      | max(k) AS max_k, min(k) AS min_k, COUNT(*) AS n
      |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q29
  /** Custom-aggregate surface. Production path: [[graft.functions.WeightedAvgCents]],
    * a DeclarativeAggregate that compiles into the codegen hash-aggregate
    * loop (the `udaf(WeightedAvgAgg)` Aggregator route pays an encoder
    * round-trip per row — ~19 µs/row at sf0.1, a scale-killer; it remains
    * as the documented typed-API demo, equivalence-tested in
    * WeightedAvgSpec). */
  private val q29: Q = (s, d) => {
    graft.GraftExtensions.install(s)
    withK(Tables.events(s, d))
      .withColumn("cents", (money(col("value")) * 100).cast("long"))
      .filter(col("k").isNotNull && col("cents").isNotNull)
      .groupBy(col("event_type"))
      .agg(expr("weighted_avg_cents(cents, k)").as("wavg_value"), count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  private val q29Sql =
    """WITH e AS (SELECT event_type, CAST(CAST(value AS DECIMAL(15,2)) * 100 AS BIGINT) AS cents,
      |  CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT) AS k FROM events)
      |SELECT event_type,
      | CASE WHEN SUM(k) = 0 THEN 0.0
      |      ELSE CAST(SUM(cents * k) AS DOUBLE) / (100.0 * SUM(k)) END AS wavg_value,
      | COUNT(*) AS n
      |FROM e WHERE k IS NOT NULL AND cents IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q45
  private val q45: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("event_id")).as("keep_event"), count(lit(1)).as("n_dups"))
      .orderBy(col("user_id"), col("event_type"))

  private val q45Sql =
    """SELECT user_id, event_type, min(event_id) AS keep_event, COUNT(*) AS n_dups
      |FROM events GROUP BY user_id, event_type ORDER BY user_id, event_type""".stripMargin

  // ---------------------------------------------------------------- q60 (flagship: reference core path)
  /** The reference's full decode→enrich→prune→route path (operators 1-9 of
    * SURVEY.md §2a) on the events table standing in for the Kinesis stream. */
  val q60: Q = (s, d) => {
    val rec = withK(Tables.events(s, d)).select(
      col("event_id").cast("string").as("random_id"),
      date_format(col("ts"), IsoSec).as("datetime"),
      col("k").as("kind_id"),
      col("user_id").as("account_id"),
      (col("user_id") % 100).as("performer_id"),
      (col("event_id") % 1000).as("repository_id"),
      when(col("value") < 5, "").otherwise(
        concat(lit("10."), (col("user_id") % 256).cast("string"), lit(".0.1"))).as("ip"))
    val enriched = AuditPipeline.enrich(rec) // @timestamp + empty-ip null-out
    val pruned = AuditPipeline.filterForEs(enriched)
    AuditPipeline.withRoutingKeys(AuditPipeline.skipNulls(pruned), "audit-")
      .orderBy(col("random_id"))
  }

  private val q60Sql =
    """SELECT CAST(event_id AS VARCHAR) AS random_id,
      | CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT) AS kind_id,
      | user_id AS account_id,
      | user_id % 100 AS performer_id,
      | event_id % 1000 AS repository_id,
      | CASE WHEN value < 5 THEN NULL ELSE '10.' || (user_id % 256) || '.0.1' END AS ip,
      | strftime(ts, '%Y-%m-%dT%H:%M:%S') AS datetime,
      | strftime(ts, '%Y-%m-%dT%H:%M:%S') AS "@timestamp",
      | 'audit-' || strftime(ts, '%Y-%m-%d') AS _index,
      | CAST(event_id AS VARCHAR) AS _id
      |FROM events ORDER BY random_id""".stripMargin

  // ---------------------------------------------------------------- q61
  /** ≤500-event Splunk batch numbers (lambda_function.py:115,128-131) via the
    * scale-safe GlobalIndex (no single-partition window). */
  private val q61: Q = (s, d) => {
    val env = AuditPipeline.withSplunkEnvelope(Tables.events(s, d), "audit-splunk")
    graft.functions.GlobalIndex.withRowNumber(env, "rn", col("event_id"))
      .withColumn("batch_no", expr("(rn - 1) div 500"))
      .select(col("event_id"), col("sourcetype"), col("index"), col("batch_no"), col("value"))
      .orderBy(col("event_id"))
  }

  private val q61Sql =
    """SELECT event_id, 'json' AS sourcetype, 'audit-splunk' AS index,
      | (ROW_NUMBER() OVER (ORDER BY event_id) - 1) // 500 AS batch_no, value
      |FROM events ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q177
  /** The wire-source delivery contract, oracle-verified: a bounded fixture
    * derived from `events` (`event_id % 97 = 0`, capped at the lowest 512
    * event_ids so the harness collect is constant-size at any SF) is
    * JSON-encoded IN-PLAN, base64'd and served through
    * [[graft.sources.LoopbackKinesisServer]] speaking the real Kinesis
    * protocol; the DataSourceV2 [[graft.sources.KinesisMicroBatchSource]]
    * consumes it (checkpointed per-shard offsets, executor-side reads,
    * distributed tip probe), the reference decode path runs on what came
    * off the wire, and the result is compared row-for-row — shard
    * assignment AND per-shard sequence numbers included — against DuckDB
    * replaying the same derivation from the parquet table. Exactly-once,
    * in-shard-order delivery becomes a hash-green oracle row instead of
    * spec-only coverage. The driver-side collects here seed the fixture
    * server and drain the bounded result — test harness, not data path;
    * the wire reads themselves run in Spark tasks. */
  private val q177: Q = (s, d) => {
    import scala.jdk.CollectionConverters._
    // Fixture bounded BY CONSTRUCTION: the lowest 512 matching event_ids
    // (deterministic total order, mirrored in the oracle CTE), so this —
    // the one driver collect in the inventory that fed from the corpus —
    // is constant-size at ANY scale factor; TakeOrderedAndProject keeps
    // the driver transfer at ≤512 rows.
    val fix = Tables.events(s, d)
      .filter(col("event_id") % 97 === 0)
      .orderBy(col("event_id")).limit(512)
      .select(col("event_id"),
        (col("event_id") % 2).cast("int").as("shard"),
        to_json(struct(
          date_format(col("ts"), IsoSec).as("datetime"),
          concat(lit("ev-"), col("event_id")).as("random_id"),
          (col("event_id") % 7).as("kind_id"),
          col("user_id").as("account_id"),
          when(col("value") < 5, "").otherwise(
            concat(lit("10."), (col("user_id") % 256).cast("string"),
              lit(".0.1"))).as("ip"))).as("json"))
      .orderBy(col("event_id"))
      .collect()
    val enc = java.util.Base64.getEncoder
    val shards = (0 until 2).map { i =>
      f"shardId-$i%012d" -> fix.filter(_.getInt(1) == i)
        .map(r => enc.encodeToString(r.getString(2).getBytes("UTF-8")))
        .toIndexedSeq
    }
    val server = new graft.sources.LoopbackKinesisServer("audit-wire", shards)
    val endpoint = server.start()
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, String)]()
    val ckpt = java.nio.file.Files.createTempDirectory("q177_ckpt")
    try {
      val q = graft.sources.KinesisMicroBatchSource
        .readStream(s, endpoint, "audit-wire")
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.select("shard_id", "sequence_number", "data").collect()
            .foreach(r => buf.add((r.getString(0), r.getString(1).toLong, r.getString(2))))
        }
        .start()
      q.processAllAvailable()
      q.stop()
    } finally {
      server.stop()
      // repeated Verify/Bench runs must not accumulate temp checkpoints
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    import s.implicits._
    val wire = buf.asScala.toSeq.toDF("shard_id", "seq", "data")
    val dec = wire
      .withColumn("_rec", from_json(unbase64(col("data")).cast("string"),
        AuditPipeline.auditSchema))
      .select(col("shard_id"), col("seq"), col("_rec.*"))
    AuditPipeline.withRoutingKeys(
        AuditPipeline.skipNulls(AuditPipeline.enrich(dec)), "audit-")
      .select(col("shard_id"), col("seq"), col("random_id"), col("kind_id"),
        col("account_id"), col("ip"), col("datetime"), col("@timestamp"),
        col("_index"), col("_id"))
      .orderBy(col("shard_id"), col("seq"))
  }

  private val q177Sql =
    """WITH fix AS (SELECT event_id, user_id, value, ts FROM events
      |             WHERE event_id % 97 = 0 ORDER BY event_id LIMIT 512),
      |rec AS (SELECT
      |   'shardId-00000000000' || CAST(event_id % 2 AS VARCHAR) AS shard_id,
      |   CAST(ROW_NUMBER() OVER (PARTITION BY event_id % 2 ORDER BY event_id) - 1
      |     AS BIGINT) AS seq,
      |   'ev-' || CAST(event_id AS VARCHAR) AS random_id,
      |   event_id % 7 AS kind_id,
      |   user_id AS account_id,
      |   CASE WHEN value < 5 THEN NULL
      |        ELSE '10.' || CAST(user_id % 256 AS VARCHAR) || '.0.1' END AS ip,
      |   strftime(ts, '%Y-%m-%dT%H:%M:%S') AS datetime,
      |   ts
      | FROM fix)
      |SELECT shard_id, seq, random_id, kind_id, account_id, ip, datetime,
      |  datetime AS "@timestamp",
      |  'audit-' || strftime(ts, '%Y-%m-%d') AS _index,
      |  random_id AS _id
      |FROM rec ORDER BY shard_id, seq""".stripMargin

  // ---------------------------------------------------------------- q50
  /** As-of join: each purchase matched to the user's most recent click at or
    * before it (graft.operators.AsOfJoin — one shuffle on user_id, no pair
    * explosion). Oracle is DuckDB's native ASOF LEFT JOIN. */
  private val q50: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("c_event"))
      .withColumn("c_ts_us", unix_micros(col("ts")))
      .select(col("user_id"), col("ts"), col("c_event"), col("c_ts_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("p_event"))
    graft.operators.AsOfJoin.asof(
        purchases, clicks, "user_id", "ts", "ts", Seq("c_event", "c_ts_us"))
      .select(col("user_id"), col("p_event"),
        unix_micros(col("ts")).as("p_ts_us"), col("c_event"), col("c_ts_us"))
      .orderBy(col("p_event"))
  }

  private val q50Sql =
    """WITH c AS (SELECT user_id, ts, max(event_id) AS c_event FROM events
      |           WHERE event_type = 'click' GROUP BY 1, 2),
      | p AS (SELECT user_id, ts, event_id AS p_event FROM events WHERE event_type = 'purchase')
      |SELECT p.user_id, p.p_event, CAST(epoch_us(p.ts) AS BIGINT) AS p_ts_us,
      | c.c_event, CAST(epoch_us(c.ts) AS BIGINT) AS c_ts_us
      |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY p_event""".stripMargin

  // ---------------------------------------------------------------- q52
  /** Range (interval) join, bucketized: clicks in the 10 minutes before
    * each purchase, same user. A naive range join explodes into a per-key
    * cross product; bucketing time into interval-width buckets means each
    * purchase probes exactly 2 candidate buckets and the join shuffles on
    * (user_id, bucket) like any equi-join — the standard interval-join
    * shape that survives 100 TB. Exact range filter runs on candidates only. */
  private val q52: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val BucketUs = 600000000L // 10 minutes in microseconds
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("c_us"))
      .withColumn("bucket", col("c_us") - (col("c_us") % BucketUs))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("p_us"), col("event_id").as("p_event"))
      .withColumn("b0", col("p_us") - (col("p_us") % BucketUs))
      .withColumn("bucket", explode(array(col("b0"), col("b0") - BucketUs)))
    purchases.join(clicks, Seq("user_id", "bucket"), "left")
      .withColumn("hit",
        when(col("c_us") >= col("p_us") - BucketUs && col("c_us") < col("p_us"), 1L)
          .otherwise(0L))
      .groupBy(col("p_event"))
      .agg(sum(col("hit")).as("n_clicks_10m"))
      .orderBy(col("p_event"))
  }

  private val q52Sql =
    """WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
      | p AS (SELECT user_id, ts, event_id AS p_event FROM events WHERE event_type = 'purchase')
      |SELECT p.p_event, CAST(COUNT(c.ts) AS BIGINT) AS n_clicks_10m
      |FROM p LEFT JOIN c ON c.user_id = p.user_id
      | AND c.ts >= p.ts - INTERVAL '10 minutes' AND c.ts < p.ts
      |GROUP BY p.p_event ORDER BY p_event""".stripMargin

  // ---------------------------------------------------------------- q62
  private val q62: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("index_date", date_format(col("ts"), "yyyy-MM-dd"))
      .groupBy(col("index_date"))
      .agg(count(lit(1)).as("n"), sum(money(col("value"))).cast("double").as("val_sum"))
      .orderBy(col("index_date"))

  private val q62Sql =
    """SELECT strftime(ts, '%Y-%m-%d') AS index_date, COUNT(*) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(15,2))) AS DOUBLE) AS val_sum
      |FROM events GROUP BY 1 ORDER BY index_date""".stripMargin

  // ---------------------------------------------------------------- q75
  /** Exact parallel statistics: variance and correlation assembled from
    * exact integer power sums (Σx, Σx², Σy, Σy², Σxy in cents / raw k), so
    * the partial aggregates merge exactly in any shuffle order and the only
    * float ops are a fixed-order final expression — the same reason Exact
    * uses decimals. `stddev`/`corr` over raw doubles would drift in the
    * last ulp with 1000-executor merge order; this formulation cannot. */
  private val q75: Q = (s, d) => {
    val e = withK(Tables.events(s, d))
      .withColumn("cents", (money(col("value")) * 100).cast("long"))
      .filter(col("k").isNotNull && col("cents").isNotNull)
    // Power sums accumulate as DECIMAL(38,0), not long: long Σx² silently
    // wraps at larger scale factors while the DuckDB oracle sums in HUGEINT
    // — exactness must survive scale-up on both sides. The products are
    // formed in decimal too so they cannot wrap before the sum.
    val cD = col("cents").cast("decimal(19,0)")
    val kD = col("k").cast("decimal(19,0)")
    e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(cD).as("s1"),
        sum(cD * cD).as("s2"),
        sum(kD).as("sk"),
        sum(kD * kD).as("sk2"),
        sum(cD * kD).as("sxy"))
      .select(col("event_type"), col("n"),
        (col("s1").cast("double") / (lit(100.0) * col("n"))).as("mean_value"),
        ((col("n").cast("double") * col("s2") - col("s1").cast("double") * col("s1")) /
          (lit(10000.0) * col("n") * col("n"))).as("var_value"),
        ((col("n").cast("double") * col("sxy") - col("s1").cast("double") * col("sk")) /
          (sqrt(col("n").cast("double") * col("s2") - col("s1").cast("double") * col("s1")) *
            sqrt(col("n").cast("double") * col("sk2") - col("sk").cast("double") * col("sk"))))
          .as("corr_vk"))
      .orderBy(col("event_type"))
  }

  private val q75Sql =
    """WITH e AS (SELECT event_type,
      |  CAST(CAST(value AS DECIMAL(15,2)) * 100 AS BIGINT) AS cents,
      |  CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT) AS k
      | FROM events),
      |s AS (SELECT event_type, COUNT(*) AS n,
      |  SUM(cents) AS s1, SUM(cents * cents) AS s2,
      |  SUM(k) AS sk, SUM(k * k) AS sk2,
      |  SUM(cents * k) AS sxy
      | FROM e WHERE k IS NOT NULL AND cents IS NOT NULL GROUP BY event_type)
      |SELECT event_type, n,
      | CAST(s1 AS DOUBLE) / (100.0 * n) AS mean_value,
      | (CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1) / (10000.0 * n * n) AS var_value,
      | (CAST(n AS DOUBLE) * sxy - CAST(s1 AS DOUBLE) * sk) /
      |  (sqrt(CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1) *
      |   sqrt(CAST(n AS DOUBLE) * sk2 - CAST(sk AS DOUBLE) * sk)) AS corr_vk
      |FROM s ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q80
  /** Event-time RANGE frame: per user, events in the trailing hour. A RANGE
    * frame is defined by the ORDER-BY value interval (peers included), so
    * the result is deterministic even with timestamp ties, and the window
    * state per key is bounded by the frame width — the sliding-aggregate
    * shape that holds at stream scale. */
  private val q80: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-3600000000L, Window.currentRow)
    Tables.events(s, d)
      .withColumn("ts_us", unix_micros(col("ts")))
      .select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("n_last_hour"))
      .orderBy(col("user_id"), col("event_id"))
  }

  private val q80Sql =
    """SELECT user_id, event_id,
      | CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
      |      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_last_hour
      |FROM events ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------- q104
  /** Approximate percentiles (the GK/KLL-family `percentile_approx`
    * sketch), ORACLE-VERIFIED with the q44 error-band trick: the query
    * emits the EXACT p50/p90 order statistics plus booleans asserting the
    * sketch landed within 15% of exact. At accuracy 10000 the sketch's
    * rank error is ~n/10000 — orders of magnitude inside the band for any
    * partitioning — so the booleans are stable facts the oracle states as
    * literal TRUE, while a broken sketch (wrong merge, wrong rank math)
    * flips them and fails the hash compare. */
  private val q104: Q = (s, d) => {
    val e = Tables.events(s, d)
      .select(col("event_type"), col("event_id"),
        (money(col("value")) * 100).cast("long").as("cents"))
    val wr = Window.partitionBy(col("event_type")).orderBy(col("cents"), col("event_id"))
    val wn = Window.partitionBy(col("event_type"))
    val exact = e.withColumn("rn", row_number().over(wr))
      .withColumn("n", count(lit(1)).over(wn))
      .groupBy(col("event_type"))
      .agg(
        min(when(col("rn") === expr("(n + 1) div 2"), col("cents"))).as("exact_p50"),
        min(when(col("rn") === expr("(9 * n + 9) div 10"), col("cents"))).as("exact_p90"))
    val approx = e.groupBy(col("event_type"))
      .agg(percentile_approx(col("cents"), array(lit(0.5), lit(0.9)), lit(10000)).as("ap"))
      .select(col("event_type"), col("ap")(0).as("_a50"), col("ap")(1).as("_a90"))
    // Band: 15% of |exact| with an absolute floor of 50 cents — a relative
    // band alone is ill-defined when a group's exact percentile is 0 (it
    // would demand sketch equality) or negative (vacuously false).
    // CALIBRATION caveat (ADVICE r5): percentile_approx guarantees RANK
    // error (~n/accuracy), and this check converts it into a VALUE band —
    // valid for the generated events distribution (smooth, no jumps or
    // plateaus near p50/p90 at any driver SF), where a few ranks of error
    // moves the value far less than 15%. On a distribution with a value
    // jump inside the rank tolerance the boolean could flip for a correct
    // sketch; re-derive the band (or band on rank) before reusing this
    // oracle pattern on other data.
    def inBand(a: org.apache.spark.sql.Column, e: org.apache.spark.sql.Column) =
      abs(a - e) <= greatest(abs(e) * 0.15, lit(50.0))
    exact.join(approx, Seq("event_type"))
      .select(col("event_type"), col("exact_p50"), col("exact_p90"),
        inBand(col("_a50"), col("exact_p50")).as("p50_in_band"),
        inBand(col("_a90"), col("exact_p90")).as("p90_in_band"))
      .orderBy(col("event_type"))
  }

  private val q104Sql =
    """WITH e AS (SELECT event_type, event_id,
      |  CAST(CAST(value AS DECIMAL(15,2)) * 100 AS BIGINT) AS cents FROM events),
      |o AS (SELECT event_type, cents,
      |  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS rn,
      |  COUNT(*) OVER (PARTITION BY event_type) AS n FROM e)
      |SELECT event_type,
      | MIN(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS exact_p50,
      | MIN(CASE WHEN rn = (9 * n + 9) // 10 THEN cents END) AS exact_p90,
      | TRUE AS p50_in_band, TRUE AS p90_in_band
      |FROM o GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q81
  /** Exact quantiles as explicit order statistics: rank within group, pick
    * ceil(p·n). Built from integer cents and integer index arithmetic on
    * BOTH engines, so there is no interpolation float whose operation order
    * could differ — the portable alternative to percentile_cont. The
    * per-group sort is the honest cost of exact quantiles at scale. */
  private val q81: Q = (s, d) => {
    val e = Tables.events(s, d)
      .select(col("event_type"), col("event_id"),
        (money(col("value")) * 100).cast("long").as("cents"))
    val wr = Window.partitionBy(col("event_type")).orderBy(col("cents"), col("event_id"))
    val wn = Window.partitionBy(col("event_type"))
    e.withColumn("rn", row_number().over(wr))
      .withColumn("n", count(lit(1)).over(wn))
      .groupBy(col("event_type"))
      .agg(
        (min(when(col("rn") === expr("(n + 3) div 4"), col("cents"))).cast("double") / 100).as("p25"),
        (min(when(col("rn") === expr("(n + 1) div 2"), col("cents"))).cast("double") / 100).as("p50"),
        (min(when(col("rn") === expr("(3 * n + 3) div 4"), col("cents"))).cast("double") / 100).as("p75"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  private val q81Sql =
    """WITH e AS (SELECT event_type, event_id, CAST(CAST(value AS DECIMAL(15,2)) * 100 AS BIGINT) AS cents FROM events),
      |o AS (SELECT event_type, cents,
      |  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS rn,
      |  COUNT(*) OVER (PARTITION BY event_type) AS n
      | FROM e)
      |SELECT event_type,
      | CAST(MIN(CASE WHEN rn = (n + 3) // 4 THEN cents END) AS DOUBLE) / 100 AS p25,
      | CAST(MIN(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS DOUBLE) / 100 AS p50,
      | CAST(MIN(CASE WHEN rn = (3 * n + 3) // 4 THEN cents END) AS DOUBLE) / 100 AS p75,
      | CAST(COUNT(*) AS BIGINT) AS n
      |FROM o GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q129
  /** GLOBAL exact quantiles WITHOUT a sort — the scale twin of q81. q81's
    * per-group window sort is honest when groups are bounded; a global
    * quantile through that shape would be `ROW_NUMBER() OVER ()` — one
    * task owning every row. [[graft.operators.HistogramQuantiles]] instead
    * refines per-rank intervals with B-bucket counting scans: ≤4 passes at
    * cents range, each map-side-combined to ≤3·1024 count cells, no
    * range-exchange, no skew sensitivity — the formulation that survives
    * 100 TB. Same multiset rank arithmetic as q81 ((n+3)/4 etc.), so the
    * oracle is q81's ROW_NUMBER selection without the PARTITION BY. */
  private val q129: Q = (s, d) => {
    import s.implicits._
    val cents = Tables.events(s, d)
      .select((money(col("value")) * 100).cast("long").as("cents"))
    val n = cents.count()
    // Degenerate-input parity: the oracle's aggregate over zero rows is
    // one row of NULL quantiles with n=0, so the engine must emit the
    // same shape instead of indexing into an empty result.
    if (n == 0L) {
      Seq((Option.empty[Double], Option.empty[Double], Option.empty[Double], 0L))
        .toDF("p25", "p50", "p75", "n")
    } else {
      val ranks = Seq((n + 3) / 4, (n + 1) / 2, (3 * n + 3) / 4)
      val qs = graft.operators.HistogramQuantiles
        .orderStatistics(cents, "cents", ranks)
      Seq((qs(0) / 100.0, qs(1) / 100.0, qs(2) / 100.0, n))
        .toDF("p25", "p50", "p75", "n")
    }
  }

  private val q129Sql =
    """WITH e AS (SELECT CAST(CAST(value AS DECIMAL(15,2)) * 100 AS BIGINT) AS cents FROM events),
      |o AS (SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rn,
      |             COUNT(*) OVER () AS n FROM e)
      |SELECT
      | CAST(MIN(CASE WHEN rn = (n + 3) // 4 THEN cents END) AS DOUBLE) / 100 AS p25,
      | CAST(MIN(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS DOUBLE) / 100 AS p50,
      | CAST(MIN(CASE WHEN rn = (3 * n + 3) // 4 THEN cents END) AS DOUBLE) / 100 AS p75,
      | CAST(COUNT(*) AS BIGINT) AS n
      |FROM o""".stripMargin

  // ---------------------------------------------------------------- q130
  /** Last-touch attribution: every purchase is attributed to the user's
    * most recent PRECEDING click within a 1-hour window. The "most recent
    * preceding" is a running MAX over a rows-frame ending 1 PRECEDING in
    * the (us, event_id) total order — the same per-user bounded-partition
    * window family as q128, never a join back onto the events table (an
    * event-to-event as-of join would shuffle the corpus twice; the window
    * pays one user-keyed exchange). Delay stays in integer microseconds
    * until the final per-day mean, so aggregates are engine-exact. */
  private val q130: Q = (s, d) => {
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts"), unix_micros(col("ts")).as("us"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    e.withColumn("last_click_us",
        max(when(col("event_type") === "click", col("us"))).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("delay_us", col("us") - col("last_click_us"))
      .withColumn("attr",
        (col("delay_us").isNotNull && col("delay_us") <= 3600L * 1000000L).cast("long"))
      .groupBy(to_date(col("ts")).cast("string").as("day"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("attr")).as("n_attributed"),
        round(sum(when(col("attr") === 1, col("delay_us"))).cast("double")
          / sum(col("attr")) / 1e6, 4).as("avg_delay_s"))
      .orderBy(col("day"))
  }

  private val q130Sql =
    """WITH e AS (SELECT user_id, event_id, event_type, ts, epoch_us(ts) AS us FROM events),
      |a AS (SELECT event_type, ts, us,
      |   MAX(CASE WHEN event_type = 'click' THEN us END) OVER (
      |     PARTITION BY user_id ORDER BY us, event_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_us
      |  FROM e),
      |p AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
      |        us - last_click_us AS delay_us,
      |        CASE WHEN last_click_us IS NOT NULL
      |             AND us - last_click_us <= 3600000000 THEN 1 ELSE 0 END AS attr
      |      FROM a WHERE event_type = 'purchase')
      |SELECT day, CAST(COUNT(*) AS BIGINT) AS n_purchases,
      | CAST(SUM(attr) AS BIGINT) AS n_attributed,
      | ROUND(CAST(SUM(CASE WHEN attr = 1 THEN delay_us END) AS DOUBLE)
      |   / SUM(attr) / 1e6, 4) AS avg_delay_s
      |FROM p GROUP BY day ORDER BY day""".stripMargin

  // ---------------------------------------------------------------- q132
  /** Ordered funnel conversion view → click → purchase: a user converts a
    * step only by an event STRICTLY LATER (in microseconds) than their
    * entry into the previous step. Three chained full-partition windows
    * compute the per-user step times over ONE user-keyed exchange (each
    * MIN(CASE) window reuses the partitioning of the previous — no join
    * per step, which is how funnel queries degenerate at scale); ties at
    * the same microsecond deliberately do not chain (documented strict
    * order, identical in both engines). Output is the one-row step-count /
    * conversion-rate summary. */
  private val q132: Q = (s, d) => {
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val w = Window.partitionBy(col("user_id"))
    val staged = e
      .withColumn("t1", min(when(col("event_type") === "view", col("us"))).over(w))
      .withColumn("t2", min(when(col("event_type") === "click" &&
        col("us") > col("t1"), col("us"))).over(w))
      .withColumn("t3", min(when(col("event_type") === "purchase" &&
        col("us") > col("t2"), col("us"))).over(w))
      .groupBy(col("user_id"))
      .agg(min(col("t1")).as("t1"), min(col("t2")).as("t2"), min(col("t3")).as("t3"))
    staged.agg(count(lit(1)).as("n_users"),
        sum(col("t1").isNotNull.cast("long")).as("viewed"),
        sum(col("t2").isNotNull.cast("long")).as("clicked"),
        sum(col("t3").isNotNull.cast("long")).as("purchased"))
      .select(col("n_users"), col("viewed"), col("clicked"), col("purchased"),
        round(col("clicked").cast("double") / col("viewed"), 4).as("conv_view_click"),
        round(col("purchased").cast("double") / col("clicked"), 4).as("conv_click_purchase"))
  }

  private val q132Sql =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |s1 AS (SELECT user_id, us, event_type,
      |   MIN(CASE WHEN event_type = 'view' THEN us END)
      |     OVER (PARTITION BY user_id) AS t1 FROM e),
      |s2 AS (SELECT user_id, us, event_type, t1,
      |   MIN(CASE WHEN event_type = 'click' AND us > t1 THEN us END)
      |     OVER (PARTITION BY user_id) AS t2 FROM s1),
      |s3 AS (SELECT user_id, t1, t2,
      |   MIN(CASE WHEN event_type = 'purchase' AND us > t2 THEN us END)
      |     OVER (PARTITION BY user_id) AS t3 FROM s2),
      |u AS (SELECT user_id, MIN(t1) AS t1, MIN(t2) AS t2, MIN(t3) AS t3
      |      FROM s3 GROUP BY user_id),
      |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(SUM(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS viewed,
      |  CAST(SUM(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS clicked,
      |  CAST(SUM(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS purchased
      | FROM u)
      |SELECT n_users, viewed, clicked, purchased,
      | ROUND(CAST(clicked AS DOUBLE) / viewed, 4) AS conv_view_click,
      | ROUND(CAST(purchased AS DOUBLE) / clicked, 4) AS conv_click_purchase
      |FROM g""".stripMargin

  // ---------------------------------------------------------------- q134
  /** Cohort retention matrix: users are cohorted by their FIRST activity
    * day; each (cohort, week-offset) cell counts distinct users active
    * that week, with retention relative to the cohort's week-0 size. The
    * first-day derivation is a per-user window MIN (bounded partitions,
    * ONE user-keyed exchange — never a groupBy + join back onto the
    * corpus, which would shuffle the events twice); the matrix aggregate
    * has bounded keys (days × weeks), and the week-0 denominator is a
    * window over the already-tiny matrix. */
  private val q134: Q = (s, d) => {
    val wUser = Window.partitionBy(col("user_id"))
    val cells = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .withColumn("cohort", min(col("day")).over(wUser))
      .withColumn("week_off", (datediff(col("day"), col("cohort")) / 7).cast("long"))
      .groupBy(col("cohort").cast("string").as("cohort"), col("week_off"))
      .agg(countDistinct(col("user_id")).as("n_active"))
    cells
      .withColumn("size0", max(when(col("week_off") === 0, col("n_active")))
        .over(Window.partitionBy(col("cohort"))))
      .select(col("cohort"), col("week_off"), col("n_active"),
        round(col("n_active").cast("double") / col("size0"), 4).as("retention"))
      .orderBy(col("cohort"), col("week_off"))
  }

  private val q134Sql =
    """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      |f AS (SELECT user_id, day, MIN(day) OVER (PARTITION BY user_id) AS cohort FROM e),
      |g AS (SELECT CAST(cohort AS VARCHAR) AS cohort,
      |             CAST(datediff('day', cohort, day) // 7 AS BIGINT) AS week_off,
      |             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
      |      FROM f GROUP BY 1, 2),
      |r AS (SELECT cohort, week_off, n_active,
      |             MAX(CASE WHEN week_off = 0 THEN n_active END)
      |               OVER (PARTITION BY cohort) AS size0 FROM g)
      |SELECT cohort, week_off, n_active,
      | ROUND(CAST(n_active AS DOUBLE) / size0, 4) AS retention
      |FROM r ORDER BY cohort, week_off""".stripMargin

  // ---------------------------------------------------------------- q136
  /** Gaps-and-islands sessionization: a session breaks when a user is idle
    * > 30 minutes — lag() finds the gap, a running SUM of break flags
    * numbers the sessions, all inside ONE user-keyed window exchange
    * (bounded partitions). The batch twin of q25's `session_window` built
    * from first principles; unlike session_window it exposes the session
    * id for downstream joins. Output is the session-size histogram:
    * (events-per-session → session count, mean duration). */
  private val q136: Q = (s, d) => {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(wOrd))
      .withColumn("is_new", (col("prev_us").isNull ||
        col("us") - col("prev_us") > 1800L * 1000000L).cast("long"))
      .withColumn("sid", sum(col("is_new"))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n_events"), (max(col("us")) - min(col("us"))).as("dur_us"))
      .groupBy(col("n_events"))
      .agg(count(lit(1)).as("n_sessions"),
        round(sum(col("dur_us")).cast("double") / count(lit(1)) / 1e6, 4).as("avg_dur_s"))
      .orderBy(col("n_events"))
  }

  private val q136Sql =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      |l AS (SELECT user_id, event_id, us,
      |   LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us FROM e),
      |n AS (SELECT user_id, event_id, us,
      |   CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS is_new
      |  FROM l),
      |s AS (SELECT user_id, us,
      |   SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM n),
      |g AS (SELECT user_id, sid, COUNT(*) AS n_events, MAX(us) - MIN(us) AS dur_us
      |      FROM s GROUP BY user_id, sid)
      |SELECT CAST(n_events AS BIGINT) AS n_events,
      | CAST(COUNT(*) AS BIGINT) AS n_sessions,
      | ROUND(CAST(SUM(dur_us) AS DOUBLE) / COUNT(*) / 1e6, 4) AS avg_dur_s
      |FROM g GROUP BY n_events ORDER BY n_events""".stripMargin

  // ---------------------------------------------------------------- q139
  /** Grouped top-k WITHOUT a window sort: per event type, the 3 largest
    * single-event amounts via [[graft.functions.TopKPairsAgg]] — a
    * `TypedImperativeAggregate` holding a bounded k-pair heap, so the
    * query is one map-side-combinable hash aggregate (each input split
    * sends ≤k survivors per group to the exchange). The stock
    * `row_number()` formulation — the oracle — sorts every group's full
    * contents after shuffling the corpus; at 100 TB this aggregate's
    * exchange is KBs where the window's is the table. Ties break by
    * event_id ASC inside the aggregate's total order, so the kept set is
    * merge-order-invariant and the two engines agree exactly. */
  private val q139: Q = (s, d) => {
    graft.GraftExtensions.install(s)
    Tables.events(s, d)
      .select(col("event_type"), col("event_id"),
        (money(col("value")) * 100).cast("long").as("cents"))
      .groupBy(col("event_type"))
      .agg(expr("topk_pair(cents, event_id, 3)").as("top"))
      .select(col("event_type"), posexplode(col("top")))
      .select(col("event_type"), (col("pos") + 1).cast("long").as("rank"),
        col("col.v").as("cents"), col("col.id").as("event_id"))
      .orderBy(col("event_type"), col("rank"))
  }

  private val q139Sql =
    """WITH e AS (SELECT event_type, event_id,
      |  CAST(CAST(value AS DECIMAL(15,2)) * 100 AS BIGINT) AS cents FROM events
      |  WHERE value IS NOT NULL AND event_id IS NOT NULL),
      |r AS (SELECT event_type, event_id, cents,
      |  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents DESC, event_id) AS rank
      | FROM e)
      |SELECT event_type, CAST(rank AS BIGINT) AS rank, cents, event_id
      |FROM r WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin

  // ---------------------------------------------------------------- q144
  /** Robust outlier census via median absolute deviation: per event type,
    * the exact median amount, the exact MAD, and how many events sit
    * beyond 3×MAD — the robust alternative to z-scores (q75's moment
    * stats), immune to the outliers it hunts. Medians are exact order
    * statistics in integer cents (the q81 family: bounded-group windows
    * with (cents, event_id) total order; unbounded groups swap in the
    * q129 histogram-refinement operator with identical rank arithmetic).
    * The two median tables are ≤ n_types rows and broadcast back, so the
    * corpus is scanned, never self-joined. */
  private val q144: Q = (s, d) => {
    val e = Tables.events(s, d)
      .select(col("event_type"), col("event_id"),
        (money(col("value")) * 100).cast("long").as("cents"))
    val w = Window.partitionBy(col("event_type"))
    val med = e
      .withColumn("rn", row_number().over(w.orderBy(col("cents"), col("event_id"))))
      .withColumn("n", count(lit(1)).over(w))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("event_type"), col("cents").as("med"))
    val dev = e.join(broadcast(med), Seq("event_type"))
      .withColumn("ad", abs(col("cents") - col("med")))
    val mad = dev
      .withColumn("rn", row_number().over(w.orderBy(col("ad"), col("event_id"))))
      .withColumn("n", count(lit(1)).over(w))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("event_type"), col("ad").as("mad"))
    dev.join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("med")).as("median_cents"),
        min(col("mad")).as("mad_cents"),
        sum((col("ad") > col("mad") * 3).cast("long")).as("n_outliers"))
      .orderBy(col("event_type"))
  }

  private val q144Sql =
    """WITH e AS (SELECT event_type, event_id,
      |  CAST(CAST(value AS DECIMAL(15,2)) * 100 AS BIGINT) AS cents FROM events),
      |m AS (SELECT event_type, cents AS med FROM (
      |   SELECT event_type, cents,
      |     ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS rn,
      |     COUNT(*) OVER (PARTITION BY event_type) AS n FROM e)
      |  WHERE rn = (n + 1) // 2),
      |d AS (SELECT e.event_type, e.event_id, ABS(e.cents - m.med) AS ad, m.med
      |      FROM e JOIN m ON m.event_type = e.event_type),
      |md AS (SELECT event_type, ad AS mad FROM (
      |   SELECT event_type, ad,
      |     ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ad, event_id) AS rn,
      |     COUNT(*) OVER (PARTITION BY event_type) AS n FROM d)
      |  WHERE rn = (n + 1) // 2)
      |SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n,
      | MIN(d.med) AS median_cents, MIN(md.mad) AS mad_cents,
      | CAST(SUM(CASE WHEN d.ad > md.mad * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM d JOIN md ON md.event_type = d.event_type
      |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin

  // ---------------------------------------------------------------- q146
  /** Semi-structured schema-drift audit: group events by the SORTED KEY
    * SET of their JSON payload — the governance query that tells an
    * ingest pipeline (reference lambda_function.py:45: schema-on-read
    * `json.loads`) which payload shapes are live and how common each is.
    * The corpus's `props` has one fixed key, so drift is synthesized
    * deterministically per event_id (a `ver` key on every 3rd event, a
    * `src` key on every 4th — the q94/q95 discipline: both engines build
    * and parse the same bytes). Per-row JSON parse + map_keys, one
    * bounded-key hash agg (≤ distinct shapes), no other shuffle. */
  private val q146: Q = (s, d) =>
    Tables.events(s, d)
      .select(concat(lit("{\"k\": 1"),
        when(col("event_id") % 3 === 0, lit(", \"ver\": 2")).otherwise(lit("")),
        when(col("event_id") % 4 === 0, lit(", \"src\": \"api\"")).otherwise(lit("")),
        lit("}")).as("j"))
      .select(expr(
        "array_join(array_sort(map_keys(from_json(j, 'map<string,string>'))), ',')")
        .as("key_sig"))
      .groupBy(col("key_sig")).agg(count(lit(1)).as("n"))
      .withColumn("n_keys", size(split(col("key_sig"), ",")).cast("long"))
      .orderBy(col("key_sig"))

  private val q146Sql =
    """WITH j AS (SELECT '{"k": 1'
      |  || CASE WHEN event_id % 3 = 0 THEN ', "ver": 2' ELSE '' END
      |  || CASE WHEN event_id % 4 = 0 THEN ', "src": "api"' ELSE '' END
      |  || '}' AS j FROM events),
      |s AS (SELECT array_to_string(list_sort(json_keys(j)), ',') AS key_sig FROM j)
      |SELECT key_sig, CAST(COUNT(*) AS BIGINT) AS n,
      | CAST(len(string_split(key_sig, ',')) AS BIGINT) AS n_keys
      |FROM s GROUP BY key_sig ORDER BY key_sig""".stripMargin

  // ---------------------------------------------------------------- q82
  /** Unpivot (wide → long): the inverse of q22's pivot via the native
    * `unpivot` operator — a row generator, no shuffle beyond the upstream
    * aggregate. */
  private val q82: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase"))
      .count()
      .na.fill(0)
      .unpivot(Array(col("user_id")),
        Array(col("click"), col("error"), col("purchase")), "kind", "n")
      .orderBy(col("user_id"), col("kind"))

  private val q82Sql =
    """WITH p AS (
      | SELECT user_id,
      |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
      |  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
      |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase
      | FROM events GROUP BY user_id)
      |SELECT user_id, kind, n FROM p
      |UNPIVOT (n FOR kind IN (click, error, purchase))
      |ORDER BY user_id, kind""".stripMargin

  // ---------------------------------------------------------------- q83
  /** Time-series gap filling: a generated calendar spine (sequence+explode
    * over the observed date span — one row per day, built distributed, no
    * driver loop) left-joined to sparse daily counts, absent days
    * coalesced to 0. The spine side is tiny at any scale; the counts side
    * is a plain pre-aggregated hash agg, so the join broadcasts. */
  private val q83: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val span = ev.agg(min(to_date(col("ts"))).as("lo"), max(to_date(col("ts"))).as("hi"))
    val cal = span.select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
    val cnt = ev.filter(col("event_type") === "signup" && col("value") > 99)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt_n"))
    cal.join(cnt, Seq("day"), "left")
      .select(col("day").cast("string").as("day"),
        coalesce(col("cnt_n"), lit(0L)).as("n"))
      .orderBy(col("day"))
  }

  private val q83Sql =
    """WITH d AS (SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi FROM events),
      |cal AS (SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day FROM d),
      |cnt AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events
      |        WHERE event_type = 'signup' AND value > 99 GROUP BY 1)
      |SELECT CAST(cal.day AS VARCHAR) AS day, CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n
      |FROM cal LEFT JOIN cnt ON cal.day = cnt.day
      |ORDER BY day""".stripMargin

  // ---------------------------------------------------------------- q87
  /** Full outer join of two sparse daily aggregates with key coalescing —
    * days present on either side survive, absent side coalesced to 0. Both
    * inputs are pre-aggregated (tiny), so the outer join is cheap at any
    * scale; the pattern matters because outer joins can't broadcast the
    * nullable side. */
  private val q87: Q = (s, d) => {
    val ev = Tables.events(s, d)
    def daily(eventType: String, name: String) =
      ev.filter(col("event_type") === eventType && col("value") > 95)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as(name))
    val c = daily("click", "n_clicks")
    val p = daily("purchase", "n_purchases").withColumnRenamed("day", "p_day")
    c.join(p, col("day") === col("p_day"), "full_outer")
      .select(coalesce(col("day"), col("p_day")).cast("string").as("day"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))
      .orderBy(col("day"))
  }

  private val q87Sql =
    """WITH c AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_clicks FROM events
      |           WHERE event_type = 'click' AND value > 95 GROUP BY 1),
      |p AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_purchases FROM events
      |      WHERE event_type = 'purchase' AND value > 95 GROUP BY 1)
      |SELECT CAST(COALESCE(c.day, p.day) AS VARCHAR) AS day,
      | CAST(COALESCE(n_clicks, 0) AS BIGINT) AS n_clicks,
      | CAST(COALESCE(n_purchases, 0) AS BIGINT) AS n_purchases
      |FROM c FULL OUTER JOIN p ON c.day = p.day
      |ORDER BY day""".stripMargin

  // ---------------------------------------------------------------- q88
  /** Multiset semantics: EXCEPT ALL / INTERSECT ALL (Spark exceptAll /
    * intersectAll) — multiplicity-aware set ops, re-aggregated so the
    * output is deterministic. Complements q12's distinct set ops. */
  private val q88: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val hi = ev.filter(col("value") > 90).select(col("user_id"))
    val err = ev.filter(col("event_type") === "error").select(col("user_id"))
    val ex = hi.exceptAll(err).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
    val in = hi.intersectAll(err).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
    ex.unionByName(in)
      .select(col("op"), col("user_id"), col("n"))
      .orderBy(col("op"), col("user_id"))
  }

  private val q88Sql =
    """WITH hi AS (SELECT user_id FROM events WHERE value > 90),
      |err AS (SELECT user_id FROM events WHERE event_type = 'error')
      |SELECT 'except_all' AS op, user_id, COUNT(*) AS n FROM (
      |  SELECT user_id FROM hi EXCEPT ALL SELECT user_id FROM err) GROUP BY user_id
      |UNION ALL
      |SELECT 'intersect_all' AS op, user_id, COUNT(*) AS n FROM (
      |  SELECT user_id FROM hi INTERSECT ALL SELECT user_id FROM err) GROUP BY user_id
      |ORDER BY op, user_id""".stripMargin

  // ---------------------------------------------------------------- q128
  /** Event-sequence trigram mining (funnel analysis): for each user, order
    * events by time and emit every 3-step event-type transition; report
    * the 25 most frequent trigrams. The per-user sequence windows are
    * bounded partitions (user_id), the trigram count is one map-combinable
    * hash agg, and the top-25 is TakeOrderedAndProject — never a global
    * sort or a partition-less window. Ties at the cut line break by the
    * trigram string so both engines keep the identical 25.
    *
    * Event-time ties within a user (same microsecond) are broken by
    * event_id in the window's ORDER BY — a total order, so lead() is
    * deterministic in both engines. */
  private val q128: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      // All three legs non-null: concat_ws silently DROPS null parts while
      // the oracle's || propagates null, so a null event_type anywhere in
      // the window would diverge the engines. The generated data has none,
      // but the guard makes the semantics identical by construction.
      .filter(col("event_type").isNotNull && col("e2").isNotNull &&
        col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("trigram"))
      .groupBy(col("trigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("trigram")).limit(25)
  }

  private val q128Sql =
    """WITH o AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
      |seq AS (SELECT event_type,
      |  LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS e2,
      |  LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY us, event_id) AS e3
      | FROM o),
      |tg AS (SELECT event_type || '>' || e2 || '>' || e3 AS trigram
      |       FROM seq WHERE event_type IS NOT NULL AND e2 IS NOT NULL
      |         AND e3 IS NOT NULL)
      |SELECT trigram, COUNT(*) AS n FROM tg GROUP BY trigram
      |ORDER BY n DESC, trigram LIMIT 25""".stripMargin

  // ---------------------------------------------------------------- q176
  /** Nearest-event temporal alignment (sensor-fusion semantics): every
    * click matched to its CLOSEST purchase by the same user within ±2 h —
    * backward or forward, whichever is nearer, ties to the earlier — via
    * [[graft.operators.NearestEventJoin]]: the AsOfJoin union trick run in
    * both directions over ONE user-keyed exchange (two per-partition
    * sorts, running value per direction), never a per-key range join.
    * Complements q130's backward-only attribution and q50's key as-of.
    * Integer microseconds end to end; census per click day: clicks,
    * matches, summed |Δt| — the oracle replays the match with a
    * brute-force tolerance theta join + ROW_NUMBER pick (the quadratic
    * witness proving the two-window formulation right, including the
    * equidistant tie rule). */
  private val q176: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("pt"), col("event_id"))
      .groupBy("user_id", "pt").agg(min(col("event_id")).as("pid"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ct"), to_date(col("ts")).as("day"))
    graft.operators.NearestEventJoin
      .nearest(clicks, purchases, "user_id", "ct", "pt", "pid",
        toleranceUs = 7200000000L)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_clicks"),
        count(col("match_t")).as("n_matched"),
        coalesce(sum(col("dt_us")), lit(0L)).as("sum_dt_us"))
      .orderBy(col("day"))
  }

  private val q176Sql =
    """WITH p AS (SELECT user_id, epoch_us(ts) AS pt, MIN(event_id) AS pid
      |           FROM events WHERE event_type = 'purchase'
      |           GROUP BY user_id, epoch_us(ts)),
      |c AS (SELECT user_id, event_id, epoch_us(ts) AS ct, CAST(ts AS DATE) AS day
      |      FROM events WHERE event_type = 'click'),
      |m AS (SELECT c.event_id, p.pt, abs(p.pt - c.ct) AS adt,
      |        ROW_NUMBER() OVER (PARTITION BY c.event_id
      |                           ORDER BY abs(p.pt - c.ct), p.pt) AS rn
      |      FROM c JOIN p ON p.user_id = c.user_id
      |        AND abs(p.pt - c.ct) <= 7200000000),
      |best AS (SELECT event_id, adt FROM m WHERE rn = 1)
      |SELECT c.day AS day, CAST(COUNT(*) AS BIGINT) AS n_clicks,
      | CAST(COUNT(b.adt) AS BIGINT) AS n_matched,
      | CAST(COALESCE(SUM(b.adt), 0) AS BIGINT) AS sum_dt_us
      |FROM c LEFT JOIN best b ON b.event_id = c.event_id
      |GROUP BY c.day ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q180
  /** Per-user time-weighted average — the time-SERIES aggregation the
    * event family still lacked (q129 aggregates values, q136 aggregates
    * gaps; neither weights a VALUE by how long it was current). Each
    * event's value is held until the user's next event (step
    * interpolation, the observability/billing convention); the TWA is
    * Σ value·Δt over Σ Δt. Values ride as exact cents
    * (DECIMAL(15,2)·100, the [[graft.functions.Exact]] contract),
    * durations as whole milliseconds (`µs div 1000` — the pre-scale that
    * keeps cents·ms ≤ 10¹² per segment, so a user needs ~10⁶ segments
    * before the Long sum even approaches the cliff), and the final TWA is
    * one truncating div. Users with a single event — or all events on one
    * timestamp — have zero held time and are excluded by the HAVING
    * (there is nothing to average; emitting 0 would fabricate a value).
    *
    * Scale shape: one window (`lead` over the per-user event order — the
    * user-keyed partition every event query here shuffles on) feeding one
    * hash aggregate; output is one row per qualifying user. Ties on `ts`
    * break by event_id in BOTH the window order and the lead, so the
    * segment decomposition is a total order and the oracle replays it
    * row-for-row. */
  private val q180: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"),
        expr("CAST(CAST(value AS DECIMAL(15,2)) * 100 AS BIGINT)").as("cents"))
      .withColumn("t_us", unix_micros(col("ts")))
      .withColumn("next_us", lead(col("t_us"), 1).over(w))
      .filter(col("next_us").isNotNull)
      .withColumn("dt_ms", expr("(next_us - t_us) div 1000"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_segments"),
        sum(col("dt_ms")).as("held_ms"),
        sum(expr("cents * dt_ms")).as("wsum"))
      .filter(col("held_ms") > 0)
      .select(col("user_id"), col("n_segments"), col("held_ms"),
        expr("wsum div held_ms").as("twa_cents"))
      .orderBy(col("user_id"))
  }

  private val q180Sql =
    """WITH e AS (SELECT user_id, event_id,
      |    CAST(epoch_us(ts) AS BIGINT) AS t_us,
      |    CAST(CAST(value AS DECIMAL(15,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |seg AS (SELECT user_id, cents,
      |    (LEAD(t_us, 1) OVER (PARTITION BY user_id ORDER BY t_us, event_id)
      |      - t_us) // 1000 AS dt_ms,
      |    LEAD(t_us, 1) OVER (PARTITION BY user_id ORDER BY t_us, event_id)
      |      AS next_us
      |  FROM e)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
      |  CAST(SUM(dt_ms) AS BIGINT) AS held_ms,
      |  CAST(CAST(SUM(cents * dt_ms) AS BIGINT) // CAST(SUM(dt_ms) AS BIGINT)
      |    AS BIGINT) AS twa_cents
      |FROM seg WHERE next_us IS NOT NULL
      |GROUP BY user_id HAVING CAST(SUM(dt_ms) AS BIGINT) > 0
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q185
  /** Event-type transition matrix — the user-JOURNEY operator the event
    * family lacked: q128/q132 test FIXED funnel patterns, q130 attributes
    * to a single touch; this emits the full first-order Markov matrix
    * ("from each event type, where do users go next, with what
    * probability?") — the input of journey/Sankey analysis and the
    * drift-monitorable summary of behavioral change. Consecutive pairs
    * come from one lead() over the per-user (ts, event_id) total order
    * (the tie-break every event query here uses); probabilities are
    * exact integer ppm — n·10⁶ div row-total — over the ≤ |types|² = 25
    * matrix rows, so the only corpus-sized work is the one user-keyed
    * window exchange the event family always pays. */
  private val q185: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
    val m = pairs.groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    // the n·10⁶ ppm product wraps past n > 9.2e12 transitions per cell;
    // the guard rides the ≤25 matrix rows, so it costs nothing
    graft.functions.Guard.require(m,
        col("n") <= lit(Long.MaxValue / 1000000L),
        "q185: transition count exceeds the n*10^6 Long bound - " +
          "promote p_ppm arithmetic to DECIMAL(38)")
      .withColumn("p_ppm", expr(
        "(n * 1000000) div sum(n) OVER (PARTITION BY from_type)"))
      .orderBy(col("from_type"), col("to_type"))
  }

  private val q185Sql =
    """WITH p AS (SELECT event_type AS from_type,
      |    LEAD(event_type) OVER (PARTITION BY user_id
      |                           ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |m AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
      |      FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  CAST((n * 1000000) // SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
      |    AS p_ppm
      |FROM m ORDER BY from_type, to_type""".stripMargin

  // ---------------------------------------------------------------- q186
  /** Exact weighted quantiles — q81 gives unweighted order statistics;
    * curation pipelines need the WEIGHTED version (quality cutoffs over
    * importance-weighted samples, budget medians over token-weighted
    * documents). Weight is the per-event k; the estimator is the exact
    * weighted order statistic: collapse to one (value, Σweight) row per
    * distinct value — which also removes any tie-order ambiguity — then
    * the q-quantile is the smallest value whose running weight reaches
    * q·W, read off a cumulative-sum window with `min(CASE)` aggregates
    * (no second pass, no percentile UDF). Integer-exact throughout:
    * 2·cw ≥ W and 10·cw ≥ 9·W in Longs (cw ≤ Σk ≈ 10² per row — 10¹²
    * headroom past sf100). Scale shape: one (type, cents) hash agg, one
    * per-type window over the collapsed value domain, one final agg. */
  private val q186: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val e = withK(Tables.events(s, d))
      .filter(col("k") >= 1)
      .withColumn("cents", (money(col("value")) * 100).cast("long"))
    val g = e.groupBy(col("event_type"), col("cents")).agg(sum(col("k")).as("w"))
    val c = g
      .withColumn("cw", sum(col("w")).over(
        Window.partitionBy(col("event_type")).orderBy(col("cents"))))
      .withColumn("tw", sum(col("w")).over(
        Window.partitionBy(col("event_type"))))
    // cw ≤ tw by construction, so one bound covers both rank tests:
    // cw·10 / tw·9 wrap past tw > Long.MaxValue/10 total weight — the
    // documented 10¹²-headroom cliff, now loud instead of silent
    val cg = graft.functions.Guard.require(c,
      col("tw") <= lit(Long.MaxValue / 10L),
      "q186: total weight exceeds the tw*10 Long bound - " +
        "promote the rank arithmetic to DECIMAL(38)")
    cg.groupBy(col("event_type"))
      .agg(min(when(col("cw") * 2 >= col("tw"), col("cents"))).as("wmedian_cents"),
        min(when(col("cw") * 10 >= col("tw") * 9, col("cents"))).as("wp90_cents"),
        max(col("tw")).as("total_w"))
      .orderBy(col("event_type"))
  }

  private val q186Sql =
    """WITH e AS (SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(15,2)) * 100 AS BIGINT) AS cents,
      |    CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT) AS k
      |  FROM events),
      |g AS (SELECT event_type, cents, SUM(k) AS w FROM e
      |      WHERE k >= 1 GROUP BY 1, 2),
      |c AS (SELECT event_type, cents,
      |    SUM(w) OVER (PARTITION BY event_type ORDER BY cents) AS cw,
      |    SUM(w) OVER (PARTITION BY event_type) AS tw
      |  FROM g)
      |SELECT event_type,
      |  MIN(CASE WHEN cw * 2 >= tw THEN cents END) AS wmedian_cents,
      |  MIN(CASE WHEN cw * 10 >= tw * 9 THEN cents END) AS wp90_cents,
      |  CAST(MAX(tw) AS BIGINT) AS total_w
      |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q189
  /** Chapman–Kolmogorov audit — IS the journey actually Markov? q185
    * publishes the first-order transition matrix; every downstream use
    * (journey simulation, Sankey forecasting, drift alerts on P) silently
    * assumes one-step memory. This query measures that assumption: the
    * PREDICTED two-step matrix P²(a,c) = Σ_b P(a,b)·P(b,c) (sparse
    * matmul via a self-join on the mid state) against the EMPIRICAL
    * two-step matrix counted directly from the event stream (lead-2
    * pairs), with the signed ppm gap per cell. Cells where memory exists
    * (|delta| large) are exactly where a first-order model misforecasts.
    *
    * Integer-exact throughout: both matrices are q185's ppm floor
    * divisions; the matmul accumulates pab·pbc ≤ 10¹² per term and the
    * row Σ_b pab ≤ 10⁶ (row-stochastic by construction), so
    * Σ_b pab·pbc ≤ 10⁶ · max_c pbc ≤ 10¹² — overflow-free in Long at ANY
    * corpus size, no guard needed (the reasoned-exemption discipline);
    * the raw lead counts keep q185's n·10⁶ guard.
    *
    * Scale shape: ONE user-keyed window exchange computes lead-1 and
    * lead-2 together, and BOTH matrices come from ONE map-side-combined
    * hash agg keyed (tag, a, c) over the tagged pair stream (each event
    * explodes into its lead-1 and lead-2 struct — the partial agg absorbs
    * the 2× row fan-out before any exchange). The ≤2·|types|² count frame
    * is materialized eagerly (localCheckpoint — the q124 precedent:
    * counts become plan literals), so the matmul, the ppm windows and the
    * full-outer diff all run on a tiny LogicalRDD and the corpus is
    * touched EXACTLY once — by construction, not by exchange-reuse luck
    * (the naive two-branch formulation planned the corpus window three
    * times: once per p1 reference in the matmul plus once for emp). */
  private val q189: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val counts = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("t1", lead(col("event_type"), 1).over(w))
      .withColumn("t2", lead(col("event_type"), 2).over(w))
      .select(col("event_type").as("a"), explode(array(
        struct(lit(1).as("tag"), col("t1").as("c")),
        struct(lit(2).as("tag"), col("t2").as("c")))).as("e"))
      .select(col("a"), col("e.tag").as("tag"), col("e.c").as("c"))
      .filter(col("c").isNotNull)
      .groupBy(col("tag"), col("a"), col("c"))
      .agg(count(lit(1)).as("n"))
    val cg = graft.functions.Guard.require(counts,
        col("n") <= lit(Long.MaxValue / 1000000L),
        "q189: transition count exceeds the n*10^6 Long bound - " +
          "promote ppm arithmetic to DECIMAL(38)")
      .localCheckpoint(true)
    def ppm(tag: Int, out: String): DataFrame = cg
      .filter(col("tag") === tag)
      .withColumn(out, expr("(n * 1000000) div sum(n) OVER (PARTITION BY a)"))
      .select(col("a"), col("c"), col(out))
    val p1 = ppm(1, "p_ppm")
    val emp = ppm(2, "emp_ppm")
    val pred = p1.select(col("a"), col("c").as("b"), col("p_ppm").as("pab"))
      .join(broadcast(p1.select(col("a").as("b"), col("c"), col("p_ppm").as("pbc"))),
        Seq("b"))
      .groupBy(col("a"), col("c"))
      .agg(expr("sum(pab * pbc) div 1000000").as("pred_ppm"))
    pred.join(emp, Seq("a", "c"), "full_outer")
      .select(col("a").as("from_type"), col("c").as("to_type"),
        coalesce(col("pred_ppm"), lit(0L)).as("pred_ppm"),
        coalesce(col("emp_ppm"), lit(0L)).as("emp_ppm"),
        (coalesce(col("emp_ppm"), lit(0L)) -
          coalesce(col("pred_ppm"), lit(0L))).as("delta_ppm"))
      .orderBy(col("from_type"), col("to_type"))
  }

  private val q189Sql =
    """WITH s AS (SELECT event_type AS a,
      |    LEAD(event_type, 1) OVER (PARTITION BY user_id
      |                              ORDER BY ts, event_id) AS t1,
      |    LEAD(event_type, 2) OVER (PARTITION BY user_id
      |                              ORDER BY ts, event_id) AS t2
      |  FROM events),
      |p1 AS (SELECT a, c, (n * 1000000) // SUM(n) OVER (PARTITION BY a) AS p_ppm
      |       FROM (SELECT a, t1 AS c, CAST(COUNT(*) AS BIGINT) AS n FROM s
      |             WHERE t1 IS NOT NULL GROUP BY 1, 2)),
      |emp AS (SELECT a, c, (n * 1000000) // SUM(n) OVER (PARTITION BY a) AS emp_ppm
      |        FROM (SELECT a, t2 AS c, CAST(COUNT(*) AS BIGINT) AS n FROM s
      |              WHERE t2 IS NOT NULL GROUP BY 1, 2)),
      |pred AS (SELECT l.a, r.c,
      |           SUM(l.p_ppm * r.p_ppm) // 1000000 AS pred_ppm
      |         FROM p1 l JOIN p1 r ON r.a = l.c GROUP BY 1, 2)
      |SELECT COALESCE(pred.a, emp.a) AS from_type,
      |  COALESCE(pred.c, emp.c) AS to_type,
      |  CAST(COALESCE(pred.pred_ppm, 0) AS BIGINT) AS pred_ppm,
      |  CAST(COALESCE(emp.emp_ppm, 0) AS BIGINT) AS emp_ppm,
      |  CAST(COALESCE(emp.emp_ppm, 0) - COALESCE(pred.pred_ppm, 0) AS BIGINT)
      |    AS delta_ppm
      |FROM pred FULL OUTER JOIN emp ON emp.a = pred.a AND emp.c = pred.c
      |ORDER BY from_type, to_type""".stripMargin

  // ---------------------------------------------------------------- q204
  /** Markov stationary distribution — the LONG-RUN companion to q185
    * (one-step transition probabilities) and q189 (two-step consistency):
    * five synchronous power-iteration rounds π_{t+1} = π_t·P from the
    * uniform start, answering "where does user behavior settle?" — the
    * ergodic summary a journey monitor alerts on. All integer ppm: P is
    * q185's n·10⁶ div row-total matrix; each step is
    * π'_j = Σ_i (π_i·p_ij) div 10⁶ with per-term floor BEFORE the
    * order-free sum (every value non-negative, so engine truncation
    * direction agrees); δ = Σ_j |π₅ − π₄| in the result row is the
    * convergence witness. States with no outgoing transitions would leak
    * mass (absorbing-state caveat, documented) — the events schema has
    * none.
    *
    * Scale shape: the corpus pays EXACTLY q185's one user-keyed window
    * exchange + hash agg, materialized ONCE by an eager localCheckpoint
    * of the ≤|types|² matrix (the q189 discipline — five iteration
    * consumers must not replay the corpus); every round after is a join
    * of a |types|-row frame with a |types|²-row broadcast. */
  private val q204: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val m0 = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val p = graft.functions.Guard.require(m0,
        col("n") <= lit(Long.MaxValue / 1000000L),
        "q204: transition count exceeds the n*10^6 Long bound - " +
          "promote p_ppm arithmetic to DECIMAL(38)")
      .withColumn("p_ppm", expr(
        "(n * 1000000) div sum(n) OVER (PARTITION BY from_type)"))
      .select(col("from_type"), col("to_type"), col("p_ppm"))
      .localCheckpoint(true) // ≤ |types|² rows; 5 consumers below
    val spine = p.select(col("from_type").as("state")).distinct()
    val nSt = spine.agg(count(lit(1)).as("n_states"))
    val pi0 = spine.crossJoin(broadcast(nSt))
      .select(col("state"), expr("1000000L div n_states").as("pi_ppm"))
    var prev = pi0
    var pi = pi0
    for (_ <- 1 to 5) {
      prev = pi
      pi = spine.join(
        pi.join(broadcast(p), pi("state") === p("from_type"))
          .groupBy(col("to_type").as("state"))
          .agg(sum(expr("(pi_ppm * p_ppm) div 1000000L")).as("pi_in")),
        Seq("state"), "left")
        .select(col("state"), coalesce(col("pi_in"), lit(0L)).as("pi_ppm"))
    }
    pi.select(col("state"), col("pi_ppm"))
      .join(prev.select(col("state"), col("pi_ppm").as("prev_ppm")), Seq("state"))
      .join(pi0.select(col("state"), col("pi_ppm").as("pi0_ppm")), Seq("state"))
      .select(col("state"), col("pi0_ppm"), col("pi_ppm"),
        abs(col("pi_ppm") - col("prev_ppm")).as("delta_ppm"))
      // In-band invariant (Round12InvariantsSpec's bound, enforced on
      // every oracle run too): per-term floors only LOSE mass, so each
      // stationary component stays a sub-probability in ppm.
      .transform(f => graft.functions.Guard.require(f,
        col("pi_ppm") >= 0L && col("pi_ppm") <= 1000000L,
        "q204: stationary component outside [0, 1e6] ppm - truncating " +
          "power iteration created probability mass"))
      .orderBy(col("state"))
  }

  private val q204Sql = {
    def step(t: Int): String =
      s"""pi$t AS (SELECT s.state,
         |    COALESCE((SELECT SUM((p0.pi_ppm * p.p_ppm) // 1000000)
         |              FROM pi${t - 1} p0 JOIN p ON p.from_type = p0.state
         |              WHERE p.to_type = s.state), 0) AS pi_ppm
         |  FROM spine s)""".stripMargin
    s"""WITH pr AS (SELECT event_type AS from_type,
       |    LEAD(event_type) OVER (PARTITION BY user_id
       |                           ORDER BY ts, event_id) AS to_type
       |  FROM events),
       |m AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
       |      FROM pr WHERE to_type IS NOT NULL GROUP BY 1, 2),
       |p AS (SELECT from_type, to_type,
       |    (n * 1000000) // SUM(n) OVER (PARTITION BY from_type) AS p_ppm
       |  FROM m),
       |spine AS (SELECT DISTINCT from_type AS state FROM p),
       |pi0 AS (SELECT state,
       |    1000000 // (SELECT COUNT(*) FROM spine) AS pi_ppm FROM spine),
       |${step(1)},
       |${step(2)},
       |${step(3)},
       |${step(4)},
       |${step(5)}
       |SELECT s.state,
       |  CAST(pi0.pi_ppm AS BIGINT) AS pi0_ppm,
       |  CAST(pi5.pi_ppm AS BIGINT) AS pi_ppm,
       |  CAST(ABS(pi5.pi_ppm - pi4.pi_ppm) AS BIGINT) AS delta_ppm
       |FROM spine s
       |JOIN pi0 ON pi0.state = s.state
       |JOIN pi4 ON pi4.state = s.state
       |JOIN pi5 ON pi5.state = s.state
       |ORDER BY s.state""".stripMargin
  }

  // ---------------------------------------------------------------- q209
  /** Kaplan–Meier time-to-conversion survival curve — the CENSORING-aware
    * operator the funnel family lacked (q132 counts converters, q134
    * buckets retention by calendar month; neither handles users still
    * under observation): entry = a user's first event, conversion = their
    * first purchase, censoring = their last observed event if they never
    * purchase. Per distinct conversion day t: users at risk n_t (duration
    * ≥ t, converted or not), conversions d_t, same-day censorings c_t,
    * and the curve itself in LOG SPACE —
    * −ln S(t) = Σ_{t'≤t} ln(n_{t'}/(n_{t'}−d_{t'})) in micro-nats — so
    * the KM product becomes an order-free integer SUM of per-day
    * floor-ln terms (each ratio all-integer and ≥ 1 → every term
    * non-negative, both engines floor the identical double; a float
    * running product would be order-sensitive). n−d is clamped to ≥ 1
    * (an everyone-converts-on-the-last-day corpus would otherwise
    * ln(∞)); the clamp only fires when S hits exact zero and is
    * replayed identically by the oracle.
    *
    * Scale shape: ONE user-keyed hash agg over the corpus (min/max/
    * conditional-min — map-side combined, no window) collapses events to
    * a per-user row; everything after lives on the ≤ observation-span
    * day frame. The at-risk suffix sum and the −ln S prefix sum are
    * BROADCAST theta self-joins on that ≤31-row frame (the q166
    * suffix-max discipline — the repo bans partition-less windows, and
    * at ≤31² pairs the join is cheaper than any exchange). */
  private val q209: Q = (s, d) => {
    val perUser = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_type"))
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("entry"), max(col("ts")).as("last"),
        min(when(col("event_type") === "purchase", col("ts"))).as("death"))
    val durs = perUser.select(
      when(col("death").isNotNull,
        datediff(to_date(col("death")), to_date(col("entry"))))
        .otherwise(datediff(to_date(col("last")), to_date(col("entry"))))
        .cast("long").as("day"),
      col("death").isNotNull.cast("long").as("conv"))
    val byDay = durs.groupBy(col("day"))
      .agg(sum(col("conv")).as("d"),
        (count(lit(1)) - sum(col("conv"))).as("c"),
        count(lit(1)).as("tot"))
      .localCheckpoint(true) // ≤ observation-span rows; two joins below
    val risk = byDay.as("a")
      .join(broadcast(byDay.as("b")), col("b.day") >= col("a.day"))
      .groupBy(col("a.day").as("day"), col("a.d").as("d"), col("a.c").as("c"))
      .agg(sum(col("b.tot")).as("n_risk"))
    val terms = risk.filter(col("d") > 0)
      .withColumn("lt", expr("CAST(floor(1000000.0 * " +
        "ln(CAST(n_risk AS DOUBLE) / CAST(greatest(n_risk - d, 1L) AS DOUBLE)))" +
        " AS BIGINT)"))
    terms.as("x")
      .join(broadcast(terms.as("y")), col("y.day") <= col("x.day"))
      .groupBy(col("x.day").as("day"), col("x.n_risk").as("n_risk"),
        col("x.d").as("d_events"), col("x.c").as("c_censored"))
      .agg(sum(col("y.lt")).as("nls_micro"))
      // In-band invariant (Round12InvariantsSpec's bound, enforced on
      // every oracle run too): every −ln S term is ≥ 0 (each per-day
      // ratio ≥ 1) and conversions never exceed the at-risk set. The
      // cross-row monotonicity stays in the spec (needs a second pass).
      .transform(f => graft.functions.Guard.require(f,
        col("nls_micro") >= 0L && col("n_risk") >= col("d_events"),
        "q209: negative -ln S(t) or conversions exceeding the at-risk " +
          "set - the KM construction is broken"))
      .orderBy(col("day"))
  }

  private val q209Sql =
    """WITH pu AS (SELECT user_id, MIN(ts) AS entry, MAX(ts) AS last,
      |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS death
      |  FROM events GROUP BY user_id),
      |du AS (SELECT CASE WHEN death IS NOT NULL
      |      THEN DATEDIFF('day', CAST(entry AS DATE), CAST(death AS DATE))
      |      ELSE DATEDIFF('day', CAST(entry AS DATE), CAST(last AS DATE))
      |    END AS day,
      |    CASE WHEN death IS NOT NULL THEN 1 ELSE 0 END AS conv
      |  FROM pu),
      |bd AS (SELECT day, CAST(SUM(conv) AS BIGINT) AS d,
      |    CAST(COUNT(*) - SUM(conv) AS BIGINT) AS c,
      |    CAST(COUNT(*) AS BIGINT) AS tot
      |  FROM du GROUP BY day),
      |rk AS (SELECT a.day, a.d, a.c, CAST(SUM(b.tot) AS BIGINT) AS n_risk
      |  FROM bd a JOIN bd b ON b.day >= a.day GROUP BY a.day, a.d, a.c),
      |tm AS (SELECT day, n_risk, d, c,
      |    CAST(floor(1000000.0 * ln(CAST(n_risk AS DOUBLE) /
      |      CAST(greatest(n_risk - d, 1) AS DOUBLE))) AS BIGINT) AS lt
      |  FROM rk WHERE d > 0)
      |SELECT x.day, x.n_risk, x.d AS d_events, x.c AS c_censored,
      |  CAST(SUM(y.lt) AS BIGINT) AS nls_micro
      |FROM tm x JOIN tm y ON y.day <= x.day
      |GROUP BY x.day, x.n_risk, x.d, x.c
      |ORDER BY x.day""".stripMargin

  // ---------------------------------------------------------------- q212
  /** Peak concurrency sweep-line — "how many sessions were open at
    * once?", the load-sizing operator the session family lacked (q25/q136
    * find the sessions; this finds their OVERLAP): 30-minute-gap
    * sessions per user become ±1 deltas at their start / end+1 minutes,
    * and the top-10 peak minutes fall out of the running sum.
    *
    * The interesting part at 100 TB is the RUNNING SUM: it is global by
    * definition, and the repo bans partition-less windows (one task
    * sorting the world). This implements the classic TWO-LEVEL
    * distributed prefix sum instead: minute deltas aggregate per epoch
    * DAY, the within-day cumulative runs under a day-PARTITIONED window
    * (parallel across days), day-level offsets come from a broadcast
    * theta self-join over the ≤ observation-span day frame (the
    * q166/q209 discipline), and the global running value is
    * offset + within-day cumulative. Same segmented-scan shape GPU/MPP
    * scans use; exact integers throughout, so order and engine cannot
    * drift.
    *
    * Work: one user-keyed window pass (the event family's standard
    * exchange) for sessionization, one (minute) hash agg, then
    * day-bounded frames only. */
  private val q212: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val wU = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // exact integer MICROSECONDS on both sides: Spark's unix_timestamp
    // truncates to seconds while DuckDB's epoch() keeps the fraction —
    // and every synthetic ts carries microseconds, so a seconds-based
    // gap test would disagree at the 1800 s boundary.
    val sess = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(wU)))
      .withColumn("new_s",
        when(col("gap_us").isNull || col("gap_us") > 1800000000L, 1L).otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(wU))
      .groupBy(col("user_id"), col("sid"))
      .agg(expr("unix_micros(min(ts)) div 60000000").as("m0"),
        expr("unix_micros(max(ts)) div 60000000").as("m1"))
    val deltas = sess.select(col("m0").as("minute"), lit(1L).as("d"))
      .unionByName(sess.select((col("m1") + 1).as("minute"), lit(-1L).as("d")))
      .groupBy(col("minute")).agg(sum(col("d")).as("net"))
      .withColumn("day", expr("minute div 1440"))
      .localCheckpoint(true) // minute-spine frame; three consumers below
    val wDay = Window.partitionBy(col("day")).orderBy(col("minute"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withinDay = deltas.withColumn("cum", sum(col("net")).over(wDay))
    val dayTot = deltas.groupBy(col("day")).agg(sum(col("net")).as("dnet"))
    val dayOff = dayTot.as("a")
      .join(broadcast(dayTot.as("b")), col("b.day") < col("a.day"), "left")
      .groupBy(col("a.day").as("day"))
      .agg(coalesce(sum(col("b.dnet")), lit(0L)).as("off"))
    withinDay.join(broadcast(dayOff), Seq("day"))
      .select(col("minute"), (col("off") + col("cum")).as("conc"))
      .orderBy(col("conc").desc, col("minute"))
      .limit(10)
  }

  private val q212Sql =
    """WITH lagd AS (SELECT user_id, ts,
      |    CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id
      |                                       ORDER BY ts, event_id)) > 1800000000
      |           OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |         THEN 1 ELSE 0 END AS new_s,
      |    event_id
      |  FROM events),
      |sid AS (SELECT user_id, ts,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
      |  FROM lagd),
      |sess AS (SELECT user_id, sid,
      |    CAST(epoch_us(MIN(ts)) // 60000000 AS BIGINT) AS m0,
      |    CAST(epoch_us(MAX(ts)) // 60000000 AS BIGINT) AS m1
      |  FROM sid GROUP BY user_id, sid),
      |deltas AS (SELECT minute, CAST(SUM(d) AS BIGINT) AS net FROM (
      |    SELECT m0 AS minute, 1 AS d FROM sess
      |    UNION ALL SELECT m1 + 1, -1 FROM sess) GROUP BY minute),
      |cum AS (SELECT minute,
      |    SUM(net) OVER (ORDER BY minute) AS conc
      |  FROM deltas)
      |SELECT minute, CAST(conc AS BIGINT) AS conc FROM cum
      |ORDER BY conc DESC, minute LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q214
  /** Inter-arrival burstiness audit per event type — "is this stream
    * Poisson?", the capacity-planning and anomaly-baseline question
    * (q183 fits a level trend; this characterizes the ARRIVAL PROCESS):
    * per type, the inter-arrival gaps' squared coefficient of variation
    * CV² = Var/Mean² in exact ppm — CV² ≈ 1 is exponential/Poisson
    * arrivals (memoryless), ≪ 1 is pacing/batch-emission, ≫ 1 is
    * bursts. Gaps are exact integer MICROSECONDS (the q212 lesson:
    * Spark's unix_timestamp truncates where DuckDB's epoch() keeps the
    * fraction); CV²_ppm = 10⁶·(n·Σg² − (Σg)²) div (Σg)² rides
    * DECIMAL(38)/HUGEINT products (the q183/q191 discipline — Σg ~ 10¹³
    * µs per type at sf1 squares past Long), and the variance identity
    * keeps the numerator non-negative so engine truncation agrees.
    *
    * Scale shape: one per-type window exchange (lag over the (ts,
    * event_id) total order) → one (type) hash agg carrying the moment
    * sums. Nothing after the scan is corpus-sized. */
  private val q214: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val wT = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    val gaps = Tables.events(s, d)
      .select(col("event_type"), col("event_id"), col("ts"))
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(wT)))
      .filter(col("gap_us").isNotNull)
    val sums = gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        min(col("gap_us")).as("min_gap_us"),
        max(col("gap_us")).as("max_gap_us"),
        sum(col("gap_us").cast("decimal(19,0)")).as("sg"),
        sum(expr("CAST(gap_us AS DECIMAL(19,0)) * CAST(gap_us AS DECIMAL(19,0))"))
          .as("sg2"))
    // A type with exactly 2 events has ONE gap — a variance of a single
    // sample is vacuous (both engines would emit cv2_ppm = 0), so the
    // contract EXCLUDES <2-gap types in BOTH engines rather than guarding
    // them into a crash the oracle cannot mirror (round-12 advisor). The
    // guard keeps only the genuinely-undefined case: zero total time.
    val defined = sums.filter(col("n_gaps") >= 2)
    graft.functions.Guard.require(defined,
        expr("sg > 0"),
        "q214: CV^2 undefined (zero total inter-arrival time) - " +
          "emit NULL explicitly if a degenerate type must flow through")
      .select(col("event_type"), col("n_gaps"), col("min_gap_us"), col("max_gap_us"),
        expr("CAST(sg div n_gaps AS BIGINT)").as("mean_gap_us"),
        expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) *
                (CAST(n_gaps AS DECIMAL(38,0)) * sg2 - sg * sg))
                div (sg * sg) AS BIGINT)""").as("cv2_ppm"))
      .orderBy(col("event_type"))
  }

  private val q214Sql =
    """WITH g AS (SELECT event_type,
      |    epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY event_type
      |                                          ORDER BY ts, event_id)) AS gap_us
      |  FROM events),
      |s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
      |    CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
      |    CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
      |    CAST(SUM(CAST(gap_us AS HUGEINT)) AS HUGEINT) AS sg,
      |    CAST(SUM(CAST(gap_us AS HUGEINT) * gap_us) AS HUGEINT) AS sg2
      |  FROM g WHERE gap_us IS NOT NULL GROUP BY event_type
      |  HAVING COUNT(*) >= 2)
      |SELECT event_type, n_gaps, min_gap_us, max_gap_us,
      |  CAST(sg // n_gaps AS BIGINT) AS mean_gap_us,
      |  CAST((1000000 * (CAST(n_gaps AS HUGEINT) * sg2 - sg * sg))
      |       // (sg * sg) AS BIGINT) AS cv2_ppm
      |FROM s ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q218
  /** SCD2 dimension-history build — the SLOWLY-CHANGING-DIMENSION
    * operator the warehouse family lacked (q149 merges a CDC batch into
    * a snapshot; this builds the full TYPE-2 HISTORY a warehouse keeps
    * so facts can join "the state as of then"): each user's event-type
    * stream, ordered by (ts, event_id), collapses consecutive
    * duplicates into VERSIONS (a version starts where the state
    * differs from its predecessor — the q136 gaps-islands change
    * detector); each version is valid from its first event to the next
    * version's start, the user's last observed event closing the open
    * (is_current) version. Emitted as a per-state census — versions,
    * currently-open versions, total/mean version duration in exact
    * integer microseconds (the q212 unix_micros rule) — the row a
    * modeler reads to size the dimension before materializing it.
    *
    * Long bound, guarded in-band (the q208 discipline): Σ durations per
    * state ≤ n_versions·max_duration; the guard proves the sum never
    * wrapped using the overflow-free factors.
    *
    * Scale shape: two user-partitioned windows (lag for change marks,
    * lead/max for version ends — the event family's standard bounded
    * partitions, both on the SAME (user, ts, event_id) order so they
    * share one exchange) and one (type) hash agg. Nothing after the
    * scan is corpus-sized except the version stream itself, which is
    * ≤ the event count by construction. */
  private val q218: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val wU = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val marked = e
      .withColumn("prev", lag(col("event_type"), 1).over(wU))
      .withColumn("last_us",
        max(col("us")).over(Window.partitionBy(col("user_id"))))
    val starts = marked
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
    val vers = starts
      .withColumn("next_us", lead(col("us"), 1).over(wU))
      .select(col("event_type"),
        (coalesce(col("next_us"), col("last_us")) - col("us")).as("dur_us"),
        col("next_us").isNull.cast("long").as("cur"))
    val cells = vers.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_versions"), sum(col("cur")).as("n_current"),
        sum(col("dur_us")).as("total_dur_us"), max(col("dur_us")).as("max_dur"))
    graft.functions.Guard.require(cells,
        col("n_versions") <= expr("9223372036854775807L div (max_dur + 1L)"),
        "q218: total version duration would overflow Long for this state " +
          "- promote the duration sum to DECIMAL(38)")
      .select(col("event_type"), col("n_versions"), col("n_current"),
        col("total_dur_us"),
        expr("total_dur_us div n_versions").as("mean_dur_us"))
      .orderBy(col("event_type"))
  }

  private val q218Sql =
    """WITH e AS (SELECT user_id, event_id, ts, event_type, epoch_us(ts) AS us
      |  FROM events),
      |m AS (SELECT user_id, event_id, ts, event_type, us,
      |    LAG(event_type) OVER (PARTITION BY user_id
      |                          ORDER BY ts, event_id) AS prev,
      |    MAX(us) OVER (PARTITION BY user_id) AS last_us
      |  FROM e),
      |st AS (SELECT user_id, event_id, ts, event_type, us, last_us FROM m
      |       WHERE prev IS NULL OR prev <> event_type),
      |v AS (SELECT event_type,
      |    COALESCE(LEAD(us) OVER (PARTITION BY user_id
      |                            ORDER BY ts, event_id), last_us) - us AS dur_us,
      |    CASE WHEN LEAD(us) OVER (PARTITION BY user_id
      |                             ORDER BY ts, event_id) IS NULL
      |         THEN 1 ELSE 0 END AS cur
      |  FROM st)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_versions,
      |  CAST(SUM(cur) AS BIGINT) AS n_current,
      |  CAST(SUM(dur_us) AS BIGINT) AS total_dur_us,
      |  CAST(SUM(dur_us) // COUNT(*) AS BIGINT) AS mean_dur_us
      |FROM v GROUP BY event_type ORDER BY event_type""".stripMargin

  val queries: Map[String, Q] = Map(
    "q218_scd2_history" -> q218,
    "q214_burstiness" -> q214,
    "q212_peak_concurrency" -> q212,
    "q209_survival_curve" -> q209,
    "q204_markov_stationary" -> q204,
    "q189_chapman_kolmogorov" -> q189,
    "q185_transition_matrix" -> q185,
    "q186_weighted_quantiles" -> q186,
    "q180_time_weighted_avg" -> q180,
    "q176_nearest_event_join" -> q176,
    "q128_event_trigram_funnel" -> q128,
    "q129_quantiles_histogram" -> q129,
    "q130_last_touch_attribution" -> q130,
    "q132_funnel_conversion" -> q132,
    "q134_cohort_retention" -> q134,
    "q136_session_gaps_islands" -> q136,
    "q139_grouped_topk" -> q139,
    "q144_mad_outliers" -> q144,
    "q146_json_schema_audit" -> q146,
    "q22_pivot_event_counts" -> q22,
    "q75_exact_moment_stats" -> q75,
    "q80_range_frame_trailing" -> q80,
    "q81_exact_quantiles" -> q81,
    "q104_approx_quantiles_banded" -> q104,
    "q82_unpivot_long" -> q82,
    "q83_gap_fill_calendar" -> q83,
    "q87_full_outer_daily" -> q87,
    "q88_set_ops_multiset" -> q88,
    "q23_tumbling_window" -> q23,
    "q24_sliding_window" -> q24,
    "q25_session_window" -> q25,
    "q26_json_extract_stats" -> q26,
    "q29_weighted_avg_udaf" -> q29,
    "q45_dedup_exact_events" -> q45,
    "q50_asof_join" -> q50,
    "q52_range_join_bucketized" -> q52,
    "q60_pipeline_es_projection" -> q60,
    "q177_wire_source_replay" -> q177,
    "q61_pipeline_splunk_envelope" -> q61,
    "q62_pipeline_daily_index_counts" -> q62)

  val oracle: Map[String, String] = Map(
    "q218_scd2_history" -> q218Sql,
    "q214_burstiness" -> q214Sql,
    "q212_peak_concurrency" -> q212Sql,
    "q209_survival_curve" -> q209Sql,
    "q204_markov_stationary" -> q204Sql,
    "q189_chapman_kolmogorov" -> q189Sql,
    "q185_transition_matrix" -> q185Sql,
    "q186_weighted_quantiles" -> q186Sql,
    "q180_time_weighted_avg" -> q180Sql,
    "q176_nearest_event_join" -> q176Sql,
    "q128_event_trigram_funnel" -> q128Sql,
    "q129_quantiles_histogram" -> q129Sql,
    "q130_last_touch_attribution" -> q130Sql,
    "q132_funnel_conversion" -> q132Sql,
    "q134_cohort_retention" -> q134Sql,
    "q136_session_gaps_islands" -> q136Sql,
    "q139_grouped_topk" -> q139Sql,
    "q144_mad_outliers" -> q144Sql,
    "q146_json_schema_audit" -> q146Sql,
    "q22_pivot_event_counts" -> q22Sql,
    "q75_exact_moment_stats" -> q75Sql,
    "q80_range_frame_trailing" -> q80Sql,
    "q81_exact_quantiles" -> q81Sql,
    "q104_approx_quantiles_banded" -> q104Sql,
    "q82_unpivot_long" -> q82Sql,
    "q83_gap_fill_calendar" -> q83Sql,
    "q87_full_outer_daily" -> q87Sql,
    "q88_set_ops_multiset" -> q88Sql,
    "q23_tumbling_window" -> q23Sql,
    "q24_sliding_window" -> q24Sql,
    "q25_session_window" -> q25Sql,
    "q26_json_extract_stats" -> q26Sql,
    "q29_weighted_avg_udaf" -> q29Sql,
    "q45_dedup_exact_events" -> q45Sql,
    "q50_asof_join" -> q50Sql,
    "q52_range_join_bucketized" -> q52Sql,
    "q60_pipeline_es_projection" -> q60Sql,
    "q177_wire_source_replay" -> q177Sql,
    "q61_pipeline_splunk_envelope" -> q61Sql,
    "q62_pipeline_daily_index_counts" -> q62Sql)
}
