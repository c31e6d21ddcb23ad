package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.pipeline.AuditPipeline
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** Success/total delivery counters, one pair per sink — the reference's
  * `print(f"{success} of {total} ...")` metrics (lambda_function.py:84-88,
  * 129-138) as Spark accumulators (merge correctly across tasks/retries at
  * any executor count). */
final case class SinkMetrics(
    esSuccess: LongAccumulator, esTotal: LongAccumulator,
    splunkSuccess: LongAccumulator, splunkTotal: LongAccumulator) {
  def summary: String =
    s"es: ${esSuccess.value} of ${esTotal.value}; " +
      s"splunk: ${splunkSuccess.value} of ${splunkTotal.value}"
}

object SinkMetrics {
  def apply(spark: org.apache.spark.sql.SparkSession): SinkMetrics = SinkMetrics(
    spark.sparkContext.longAccumulator("es_success"),
    spark.sparkContext.longAccumulator("es_total"),
    spark.sparkContext.longAccumulator("splunk_success"),
    spark.sparkContext.longAccumulator("splunk_total"))
}

/** The two sink simulators, with the reference's observable semantics.
  *
  * No network exists in this harness, so OpenSearch becomes a daily-
  * partitioned parquet "index" and Splunk HEC becomes chunked JSON-lines
  * files — but partitioning, idempotency keys, batching, envelope shape, and
  * delivery semantics match §2a's error-semantics notes exactly.
  */
object Sinks {

  /** OpenSearch bulk-upsert simulator (lambda_function.py:56-88).
    *
    * - daily routing: `_index = prefix + date(datetime)` → `partitionBy` on
    *   `index_date` (the file analogue of per-day indices)
    * - idempotency: `_id = random_id`, one bulk action per record as in
    *   the reference (lambda_function.py:81,84): an `_id` repeated in a
    *   batch or redelivered later is written again (OpenSearch updates the
    *   doc), and [[readEsIndex]] keeps one document per `_id` — "at-least-
    *   once delivery made idempotent by the key". With no in-batch dedup
    *   the write is one narrow stage, no exchange; the counters count
    *   actions, duplicates included (the reference's `success of total`).
    * - errors: bulk failures are logged, not raised (raise_on_error=False):
    *   the write is wrapped, failure returns 0 delivered.
    */
  def writeEs(pruned: DataFrame, dir: String, prefix: String, m: SinkMetrics,
      authMode: AuthMode = AuthMode.SigV4): Long = {
    writeTransportMeta(dir, authMode)
    // Observation rides along the write job — no separate count() pass over
    // the batch (at 100 TB a second full pass per micro-batch is real money).
    val obs = org.apache.spark.sql.Observation()
    val observed = esActions(pruned, prefix).observe(obs, count(lit(1)).as("n"))
    try {
      observed.write.mode("append").partitionBy("index_date").parquet(dir)
      val rows = obs.get("n").asInstanceOf[Long]
      m.esTotal.add(rows)
      m.esSuccess.add(rows)
      rows
    } catch {
      case e: Exception =>
        System.err.println(s"[es-sink] bulk write failed (logged, not raised): ${e.getMessage}")
        0L
    }
  }

  /** Both ES writers' bulk actions: one per record with a `random_id`,
    * keyed and routed to its `index_date` partition. */
  private def esActions(pruned: DataFrame, prefix: String): DataFrame =
    AuditPipeline.withRoutingKeys(AuditPipeline.skipNulls(pruned), prefix)
      .withColumn("index_date", to_date(col("datetime")).cast("string"))

  /** Record the transport configuration a real client would be built with
    * (lambda_function.py:61-74: auth mode + port 443 TLS + gzip + cert
    * verification) as a sidecar marker in the index dir — the simulator's
    * observable stand-in for the OpenSearch client kwargs. Driver-side,
    * tiny, idempotent (last write wins, like reconnecting a client). */
  private def writeTransportMeta(dir: String, authMode: AuthMode): Unit = {
    Files.createDirectories(Paths.get(dir))
    val meta = s"""{"auth_mode":"${authMode.name}","port":443,"use_ssl":true,""" +
      """"http_compress":true,"verify_certs":true}"""
    Files.write(Paths.get(dir, "_transport.json"),
      meta.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  /** Read back the transport marker for the simulated index (test hook). */
  def readTransportMeta(dir: String): String =
    new String(Files.readAllBytes(Paths.get(dir, "_transport.json")),
      StandardCharsets.UTF_8)

  /** Read the simulated index as an OpenSearch reader observes it: one
    * document per `_id`, however often it was sent. Which copy is kept is
    * unspecified; a redelivery resends the same record, so copies agree.
    * The `_transport` marker is invisible here — `_`-prefixed files are
    * metadata by Hadoop convention and the parquet reader skips them. */
  def readEsIndex(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir).dropDuplicates("_id")

  /** Dead-letter sink: quarantine rows that failed decode/validation, with
    * their RAW payload so they can be replayed after a fix. The reference
    * has no such path — a malformed record crashes the whole batch and
    * poisons at-least-once redelivery forever (lambda_function.py:45,141);
    * this is the stricter-than-reference option SURVEY §2a documents.
    * Parquet partitioned by batch tag with DYNAMIC partition overwrite, so
    * a foreachBatch retry of the same epoch replaces its own partition
    * instead of appending duplicate quarantine rows — the same
    * replay-idempotence the ES sink gets from its `_id` and the Splunk
    * sink from its deterministic chunk tag. (With an ad-hoc random tag —
    * batchId < 0 — each call still lands in a fresh partition, i.e. plain
    * append.)
    *
    * A batch with nothing to quarantine SKIPS the write entirely (a
    * zero-row dynamic-partition write would emit no files anyway, and a
    * clean epoch must never touch — let alone overwrite — existing
    * quarantine partitions). That `isEmpty` guard is one job of its own,
    * kept for direct callers; the streaming fan-out skips it, because its
    * ES pass has already counted the dead rows ([[writeDeadRows]]).
    * Consequences of the layout: the DLQ
    * directory exists only once something was actually quarantined
    * (readers should existence-check or read with an explicit schema),
    * and because epoch tags key overwrites, a DLQ directory belongs to
    * ONE streaming query's checkpoint lineage — pointing a second query
    * (or a checkpoint-reset restart) at the same directory would reuse
    * epoch ids and replace retained, un-replayed payloads.
    * Returns rows quarantined. */
  def writeDeadLetter(dead: DataFrame, dir: String, batchTag: String,
      rawCol: String = "_raw"): Long =
    if (dead.isEmpty) 0L else writeDeadRows(dead, dir, batchTag, rawCol)

  /** [[writeDeadLetter]] for a caller that already knows `dead` has rows:
    * the write alone, no emptiness check. */
  private[streaming] def writeDeadRows(dead: DataFrame, dir: String,
      batchTag: String, rawCol: String): Long = {
    val obs = org.apache.spark.sql.Observation()
    val observed = dead.select(col(rawCol).as("raw_payload"))
      .withColumn("dl_batch", lit(batchTag))
      .observe(obs, count(lit(1)).as("n"))
    observed.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("dl_batch")
      .parquet(dir)
    obs.get("n").asInstanceOf[Long]
  }

  /** The OpenSearch HTTP boundary: one bulk round-trip. Given a chunk's doc
    * `_id`s, return the subset that FAILED this attempt (the per-document
    * rejections a real bulk response itemizes, e.g. 429s). A real deployment
    * implements this with an HTTP bulk client built from the
    * [[writeTransportMeta]] kwargs (lambda_function.py:61-74,84); this
    * harness plugs in simulators / fault injectors. SAM trait so existing
    * `ids => …` literals convert unchanged; extends Serializable because the
    * transport runs inside executor tasks (foreachPartition — the same place
    * a real per-partition HTTP client would live). */
  trait BulkTransport extends Serializable {
    def apply(ids: Seq[String]): Seq[String]
  }

  /** A bulk transport that accepts every document — the happy-path simulator
    * (a real cluster with no rejections is observationally identical). */
  val acceptAllBulk: BulkTransport = (_: Seq[String]) => Seq.empty

  /** The Splunk HEC HTTP boundary: one POST of ≤maxBatchSize envelope lines
    * (lambda_function.py:90-102: `requests.post(hec_url, …, timeout=12)`).
    * Throwing signals transport failure → the caller drops the chunk and
    * continues (at-most-once per post, reference returns 0 and moves on).
    * `partitionId`/`chunkNo` identify the post within the batch so an
    * implementation can name artifacts or tag telemetry deterministically.
    * Runs on executors — implementations must be Serializable. */
  trait HecTransport extends Serializable {
    def post(partitionId: Int, chunkNo: Int, lines: Seq[String]): Unit
  }

  /** HEC simulator: one POST = one JSON-lines file under `dir`, named by
    * (postTag, partition, chunk) so redelivered micro-batches overwrite
    * their own posts instead of duplicating them. */
  final case class JsonlFileHec(dir: String, postTag: String) extends HecTransport {
    override def post(partitionId: Int, chunkNo: Int, lines: Seq[String]): Unit = {
      // Create the target dir here, not only in writeSplunk: a transport
      // constructed directly for writeSplunkVia against a fresh dir would
      // otherwise throw NoSuchFileException inside the per-chunk catch,
      // which reads as a transport 503 and silently drops EVERY chunk.
      Files.createDirectories(Paths.get(dir))
      val path = Paths.get(dir, f"post-$postTag-$partitionId%05d-$chunkNo%05d.jsonl")
      Files.write(path, lines.mkString("\n").getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    }
  }

  /** OpenSearch bulk upsert with PER-DOCUMENT partial-failure + retry
    * semantics (lambda_function.py:84-86: `helpers.bulk(client, actions,
    * max_retries=3, raise_on_error=False)`):
    *
    * - each ≤`chunkSize` chunk of a partition is one bulk request;
    * - documents the transport rejects are re-sent — alone, not the whole
    *   chunk — up to `maxRetries` additional attempts;
    * - documents still failing after the retries are LOGGED and dropped,
    *   never raised (`raise_on_error=False`), and excluded from the index
    *   write; everything else is delivered;
    * - counters report success/total exactly as the reference's
    *   `print(f"{success} of {total}")`, over the same actions as [[writeEs]];
    * - returns the documents this call indexed (0 when the index write
    *   fails, logged as in [[writeEs]]), whatever `m` counted before.
    *
    * The delivery decision runs per-partition on executors (the sink
    * boundary — same shape as a real HTTP bulk client in foreachPartition);
    * the surviving rows then flow to the daily-partitioned parquet index.
    */
  def writeEsBulk(pruned: DataFrame, dir: String, prefix: String, m: SinkMetrics,
      transport: BulkTransport, maxRetries: Int = 3, chunkSize: Int = 500): Long = {
    val keyed = esActions(pruned, prefix)
    val schema = keyed.schema
    val idIdx = schema.fieldIndex("_id")
    val total = m.esTotal
    val success = m.esSuccess
    val delivered = keyed.rdd.mapPartitions { it =>
      it.grouped(chunkSize).flatMap { chunk =>
        total.add(chunk.size)
        var failed = transport(chunk.map(_.getString(idIdx))).toSet
        var attempt = 0
        while (failed.nonEmpty && attempt < maxRetries) {
          failed = transport(failed.toSeq.sorted).toSet
          attempt += 1
        }
        if (failed.nonEmpty)
          System.err.println(
            s"[es-sink] ${failed.size} document(s) failed after $maxRetries retries " +
              s"(logged, not raised): ${failed.toSeq.sorted.take(10).mkString(", ")}")
        val ok = chunk.filter(r => !failed.contains(r.getString(idIdx)))
        success.add(ok.size)
        ok
      }
    }
    val obs = org.apache.spark.sql.Observation()
    val okDf = pruned.sparkSession.createDataFrame(delivered, schema)
      .observe(obs, count(lit(1)).as("n"))
    try {
      okDf.write.mode("append").partitionBy("index_date").parquet(dir)
      obs.get("n").asInstanceOf[Long]
    } catch {
      case e: Exception =>
        System.err.println(s"[es-sink] bulk write failed (logged, not raised): ${e.getMessage}")
        0L
    }
  }

  /** Splunk HEC simulator (lambda_function.py:90-102,115-134).
    *
    * Wraps every record in the HEC envelope {"event":…, "sourcetype":"json",
    * "index":…}, then each task posts its partition in chunks of ≤500 — one
    * "HTTP post" = one JSON-lines file. A failed post is logged and dropped
    * (at-most-once per batch, reference returns 0 and continues). Returns
    * the number of events delivered.
    */
  def writeSplunk(full: DataFrame, dir: String, index: String,
      m: SinkMetrics, maxBatchSize: Int = 500,
      postTag: String = java.util.UUID.randomUUID().toString.take(8)): Unit =
    writeSplunkLines(hecLines(full, index), dir, m, maxBatchSize, postTag)

  /** Each record of `full` in the HEC envelope, as one string column. */
  private[streaming] def hecLines(full: DataFrame, index: String): DataFrame =
    full
      .withColumn("line", to_json(struct(
        struct(full.columns.toIndexedSeq.map(col): _*).as("event"),
        lit("json").as("sourcetype"),
        lit(index).as("index"))))
      .select("line")

  /** Same delivery semantics for pre-built HEC envelope lines (single
    * string column) — the full-fidelity path where the event JSON was
    * assembled upstream (e.g. from a variant record,
    * AuditPipeline.fullRecordJson) rather than from fixed columns. */
  def writeSplunkLines(lines: DataFrame, dir: String,
      m: SinkMetrics, maxBatchSize: Int = 500,
      postTag: String = java.util.UUID.randomUUID().toString.take(8)): Unit = {
    Files.createDirectories(Paths.get(dir))
    writeSplunkVia(lines, JsonlFileHec(dir, postTag), m, maxBatchSize)
  }

  /** Delivery semantics over any [[HecTransport]] — the chunking, counters,
    * and at-most-once drop-on-failure are transport-independent; only the
    * POST itself is behind the trait. */
  def writeSplunkVia(lines: DataFrame, transport: HecTransport,
      m: SinkMetrics, maxBatchSize: Int = 500): Unit = {
    lines.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      val pid = TaskContext.getPartitionId()
      var chunkNo = 0
      it.map(_.getString(0)).grouped(maxBatchSize).foreach { chunk =>
        m.splunkTotal.add(chunk.size)
        try {
          transport.post(pid, chunkNo, chunk)
          m.splunkSuccess.add(chunk.size)
        } catch {
          case e: Exception =>
            // at-most-once: log, drop the chunk, keep going (lambda_function.py:100-102)
            System.err.println(s"[splunk-sink] post failed, batch dropped: ${e.getMessage}")
        }
        chunkNo += 1
      }
    }
  }
}
