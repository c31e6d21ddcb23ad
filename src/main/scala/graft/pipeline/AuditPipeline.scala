package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference pipeline's record-at-a-time semantics, re-expressed as pure
  * `DataFrame => DataFrame` transforms (declarative, so Catalyst prunes/pushes
  * them; no driver-side loops — each stage scales with partitions).
  *
  * Reference behavior reproduced (file:line cite into /root/reference):
  *  - base64 + JSON decode of the Kinesis payload (lambda_function.py:45)
  *  - derive `@timestamp` as a copy of `datetime` (lambda_function.py:46-47)
  *  - drop `ip` when present-but-falsy (lambda_function.py:48-49) — Spark's
  *    fixed-width schema models "absent key" as NULL
  *  - 9-field allowlist projection for the OpenSearch sink
  *    (lambda_function.py:16-19,52-54)
  *  - daily index routing key `prefix + date(datetime)` and idempotency key
  *    `_id = random_id` (lambda_function.py:80-81)
  *  - null-record skip before sinking (lambda_function.py:78-79,118-119)
  *  - Splunk HEC envelope `{"event":…, "sourcetype":"json", "index":…}`
  *    (lambda_function.py:121-125)
  */
object AuditPipeline {

  /** ES_ALLOWED_FIELDS, lambda_function.py:16-19 (canonical column order). */
  val EsAllowedFields: Seq[String] = Seq(
    "random_id", "kind_id", "account_id", "performer_id",
    "repository_id", "ip", "metadata", "datetime", "@timestamp")

  /** Full 18-field record shape (test_lambda_function.py:26-45). All nullable:
    * the reference is schema-on-read. `metadata` is the one nested field. */
  val auditSchema: StructType = StructType(Seq(
    StructField("datetime", StringType),
    StructField("random_id", StringType),
    StructField("kind_id", LongType),
    StructField("account_id", LongType),
    StructField("performer_id", LongType),
    StructField("repository_id", LongType),
    StructField("ip", StringType),
    StructField("metadata", MapType(StringType, StringType)),
    StructField("request_url", StringType),
    StructField("http_method", StringType),
    StructField("performer_username", StringType),
    StructField("performer_email", StringType),
    StructField("performer_kind", StringType),
    StructField("auth_type", StringType),
    StructField("user_agent", StringType),
    StructField("request_id", StringType),
    StructField("x_forwarded_for", StringType)))

  /** Decode a base64(JSON) payload column into the full record shape
    * (lambda_function.py:45). Malformed input becomes NULL columns rather
    * than failing the batch — route those rows to a dead-letter sink if the
    * reference's fail-the-batch semantics are wanted. */
  def decodeKinesis(df: DataFrame, dataCol: String): DataFrame =
    df.withColumn("_json", unbase64(col(dataCol)).cast("string"))
      .withColumn("_rec", from_json(col("_json"), auditSchema))
      .select(col("_rec.*"))

  /** `message["@timestamp"] = message["datetime"]` (lambda_function.py:46-47). */
  def withTimestamp(df: DataFrame): DataFrame =
    df.withColumn("@timestamp", col("datetime"))

  /** Drop present-but-falsy `ip` (lambda_function.py:48-49).
    *
    * Falsy-value mapping under the fixed StringType schema: `""` → NULL
    * (here), JSON `null` / absent key → NULL (from_json). The remaining
    * Python-falsy JSON scalars (`0`, `false`) are coerced by from_json to
    * the strings "0"/"false" and KEPT — a documented divergence: the
    * reference's `if not message["ip"]` would drop them, but Spark cannot
    * distinguish JSON `0` from the (Python-truthy) string "0" post-coercion,
    * and no real payload carries a numeric ip (test fixtures use IP strings
    * or "", test_lambda_function.py:34,144-164). The variant path
    * ([[decodeKinesisVariant]]) sees raw JSON types and applies the strict
    * falsy semantics exactly. */
  def nullOutEmptyIp(df: DataFrame): DataFrame =
    df.withColumn("ip", when(col("ip") === "", lit(null: String)).otherwise(col("ip")))

  /** Allowlist projection for the ES sink (lambda_function.py:52-54). Keeps
    * the canonical field order; tolerates records that already lack fields. */
  def filterForEs(df: DataFrame): DataFrame = {
    val present = EsAllowedFields.filter(df.columns.contains)
    df.select(present.map(col): _*)
  }

  /** Skip null records before sinking (lambda_function.py:78-79,118-119). */
  def skipNulls(df: DataFrame): DataFrame =
    df.filter(col("random_id").isNotNull)

  /** Daily index + idempotency key (lambda_function.py:80-81):
    * `_index = prefix + str(date(datetime))`, `_id = random_id`. */
  def withRoutingKeys(df: DataFrame, indexPrefix: String): DataFrame =
    df.withColumn("_index",
        concat(lit(indexPrefix), to_date(col("datetime")).cast("string")))
      .withColumn("_id", col("random_id"))

  /** Splunk HEC envelope columns (lambda_function.py:121-125). */
  def withSplunkEnvelope(df: DataFrame, splunkIndex: String): DataFrame =
    df.withColumn("sourcetype", lit("json"))
      .withColumn("index", lit(splunkIndex))

  /** Full enrich path in reference order: decode happens upstream;
    * this is `_process_kinesis_record` minus the decode. */
  def enrich(df: DataFrame): DataFrame =
    nullOutEmptyIp(withTimestamp(df))

  /** Split decoded records into (valid, deadLetter).
    *
    * The reference lets a malformed record crash the whole batch (at-least-
    * once redelivery, lambda_function.py:141,45-46); `from_json` instead
    * yields all-null rows. This is the stricter-than-reference option from
    * SURVEY §2a error semantics: valid rows flow on, undecodable payloads
    * are quarantined with their raw payload for replay instead of poisoning
    * redelivery forever. Validity = the two fields the reference reads
    * unconditionally ([[isValidRecord]]).
    */
  def partitionValid(decodedWithRaw: DataFrame): (DataFrame, DataFrame) =
    (decodedWithRaw.filter(isValidRecord), decodedWithRaw.filter(!isValidRecord))

  /** A record's day, the daily index it routes to (lambda_function.py:80);
    * null when `datetime` is missing or does not parse, never an error
    * whatever the ANSI mode. */
  val day: Column = try_to_date(col("datetime"))

  /** A record carries the two fields the reference reads unconditionally
    * (`datetime`, `random_id`, lambda_function.py:80-81), and it has a
    * [[day]] to route to, so a malformed `datetime` is quarantined instead
    * of failing its batch. */
  val isValidRecord: Column = col("random_id").isNotNull && day.isNotNull

  /** decodeKinesis, but keeps the raw payload column for dead-lettering. */
  def decodeKinesisWithRaw(df: DataFrame, dataCol: String): DataFrame =
    df.withColumn("_json", unbase64(col(dataCol)).cast("string"))
      .withColumn("_rec", from_json(col("_json"), auditSchema))
      .select(col(dataCol).as("_raw") +: auditSchema.fieldNames.toSeq.map(f => col(s"_rec.$f")): _*)

  /** Full-fidelity decode on Spark 4 VariantType (schema drift path).
    *
    * The fixed [[auditSchema]] silently DROPS unknown payload keys, but the
    * reference forwards the FULL record to Splunk (`lambda_function.py:
    * 147-148`) — extra fields a producer added yesterday must survive.
    * `parse_json` keeps every field with its type in a `variant` column;
    * the known fields used by the pipeline (`datetime`, `random_id`, `ip`)
    * are extracted alongside for enrich/route logic, and `to_json(rec)`
    * reconstitutes the complete record (plus derived `@timestamp`) for the
    * full-record sink. Binary-pushdown note: variant columns shred into
    * parquet like any other column; the allowlist path never reads them. */
  def decodeKinesisVariant(df: DataFrame, dataCol: String,
      strict: Boolean = true): DataFrame =
    df.withColumn("_json", unbase64(col(dataCol)).cast("string"))
      // strict (default) = parse_json: one malformed payload fails the
      // WHOLE micro-batch loudly — the reference's own posture
      // (lambda_function.py:45,141) and the right default when nobody is
      // quarantining (a lenient parse here would silently VANISH poison
      // records through the downstream null filters — undetected loss).
      // strict=false = try_parse_json: a null `rec` yields null
      // datetime/random_id below — the same all-null-row semantics
      // from_json gives the fixed-schema path, so [[partitionValid]] can
      // quarantine instead of letting at-least-once redelivery re-poison
      // every retry. Callers flip this ONLY when a dead-letter sink
      // actually consumes the invalid split.
      .withColumn("rec",
        if (strict) parse_json(col("_json")) else try_parse_json(col("_json")))
      .withColumn("datetime", expr("CAST(variant_get(rec, '$.datetime') AS STRING)"))
      .withColumn("random_id", expr("CAST(variant_get(rec, '$.random_id') AS STRING)"))
      // Strict Python-falsy `ip` drop (lambda_function.py:48-49): unlike the
      // fixed-schema path (whose from_json coerces JSON 0/false to the
      // truthy strings "0"/"false" — divergence documented on
      // [[nullOutEmptyIp]]), the variant keeps the RAW JSON type, so the
      // reference's `if not message["ip"]` can be reproduced exactly:
      // null/absent, "", false, numeric 0 (any width), and empty
      // containers all drop; the strings "0"/"false" stay, as in Python.
      .withColumn("ip", expr(
        """CASE WHEN variant_get(rec, '$.ip') IS NULL
          |       OR schema_of_variant(variant_get(rec, '$.ip')) = 'VOID'
          |       OR (schema_of_variant(variant_get(rec, '$.ip')) = 'STRING'
          |           AND CAST(variant_get(rec, '$.ip') AS STRING) = '')
          |       OR (schema_of_variant(variant_get(rec, '$.ip')) = 'BOOLEAN'
          |           AND CAST(variant_get(rec, '$.ip') AS BOOLEAN) = false)
          |       OR (schema_of_variant(variant_get(rec, '$.ip')) NOT IN ('STRING', 'BOOLEAN')
          |           AND try_cast(variant_get(rec, '$.ip') AS DOUBLE) = 0.0D)
          |       OR to_json(variant_get(rec, '$.ip')) IN ('{}', '[]')
          |     THEN NULL ELSE try_cast(variant_get(rec, '$.ip') AS STRING) END""".stripMargin))
      .withColumn("kind_id", expr("CAST(variant_get(rec, '$.kind_id') AS BIGINT)"))
      .withColumn("account_id", expr("CAST(variant_get(rec, '$.account_id') AS BIGINT)"))
      .withColumn("performer_id", expr("CAST(variant_get(rec, '$.performer_id') AS BIGINT)"))
      .withColumn("repository_id", expr("CAST(variant_get(rec, '$.repository_id') AS BIGINT)"))
      .withColumn("metadata",
        from_json(expr("to_json(variant_get(rec, '$.metadata'))"),
          MapType(StringType, StringType)))
      .drop("_json")

  /** The full record as flat JSON for the Splunk-style full-fidelity sink:
    * every original field (unknown keys included) plus derived
    * `@timestamp` at top level — the reference's post-enrich dict shape
    * (`lambda_function.py:46-47,147-148`). Built by casting the variant
    * record to `map<string,variant>`, dropping any pre-existing
    * `@timestamp` (the reference's dict assignment OVERWRITES it), and
    * merging the derived value before `to_json` — so escaping, empty
    * records, and drifted payloads that already carry `@timestamp` all
    * serialize correctly (no string surgery). Requires `datetime`
    * non-null (the reference crashes otherwise; callers filter on the
    * same validity pair as [[partitionValid]]). */
  val fullRecordJson: org.apache.spark.sql.Column =
    to_json(map_concat(
      map_filter(col("rec").cast("map<string,variant>"), (k, _) => k =!= "@timestamp"),
      map(lit("@timestamp"), col("datetime").cast("variant"))))
}
