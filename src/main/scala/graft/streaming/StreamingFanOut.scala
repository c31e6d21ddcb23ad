package graft.streaming

import java.nio.file.{Files, Paths}

import graft.pipeline.AuditPipeline
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.functions.{col, concat, lit, when}
import org.apache.spark.sql.streaming.StreamingQuery

/** The reference's whole application (`handler`, lambda_function.py:140-148)
  * as one Structured Streaming pipeline, one Spark job per micro-batch:
  *
  * {{{
  * kinesis/memory/file source              (one micro-batch = one Lambda invoke)
  *   → foreachBatch, one projection:
  *       decode base64+JSON                (lambda_function.py:45)
  *       enrich: @timestamp, empty-ip null (lambda_function.py:46-49)
  *   → each task reads its partition once and feeds ([[Sinks.deliver]]):
  *       ┌ ES bulk ← 9-field allowlist     (lambda_function.py:56-88,144-145)
  *       ├ Splunk  ← full record, unless disabled  (lambda_function.py:147,106-108)
  *       └ dead-letter ← raw payload of invalid rows, when a DLQ is set
  * }}}
  *
  * Nothing is persisted and no sink waits for another. Delivery semantics
  * as §2a: the checkpoint redelivers at least once on restart, and a
  * replayed epoch writes the same file names (batch tag, task, day), so it
  * replaces its own files; the tag holds the query id, so a query on a
  * fresh checkpoint never replaces another lineage's. ES: bulk requests of
  * ≤500 actions, rejections re-sent alone up to 3 times, then logged and
  * dropped; idempotent via `_id`. Splunk: at-most-once per chunk.
  * Dead-letter: every quarantined row is written, or the batch fails.
  */
object StreamingFanOut {

  /** One already-decoded micro-batch through both sinks — also usable in
    * pure batch mode (a Lambda invocation is exactly one call of this).
    * With no dead-letter sink, every record with a `random_id` is
    * delivered; one without a parseable `datetime` has no daily index and
    * is a failed (logged) ES action. */
  def processBatch(batch: DataFrame, esDir: String, splunkDir: String,
      config: PipelineConfig, metrics: SinkMetrics, batchId: Long = -1L): Unit =
    fanOut(batch, None, esDir, splunkDir, config, metrics, batchId)(
      Sinks.hecLine(_, config.splunkIndex))

  /** `b<batchId>` after the id of the query running it (kept by its
    * checkpoint across restarts), if any; random without a batch id. */
  private def batchTag(spark: SparkSession, batchId: Long): String =
    if (batchId < 0) Sinks.randomTag()
    else Option(spark.sparkContext.getLocalProperty(StreamExecution.QUERY_ID_KEY))
      .fold("")(_ + "-") + f"b$batchId%06d"

  /** The one fan-out body: each enriched row of `decoded` goes to ES as its
    * allowlist projection and to Splunk as `line` (none where null); with a
    * dead-letter sink `(dir, raw column)`, rows failing
    * [[AuditPipeline.isValidRecord]] go there alone. */
  private def fanOut(decoded: DataFrame, deadLetter: Option[(String, String)],
      esDir: String, splunkDir: String, config: PipelineConfig, metrics: SinkMetrics,
      batchId: Long)(line: DataFrame => Column): Unit = {
    val tag = batchTag(decoded.sparkSession, batchId)
    val rows = AuditPipeline.enrich(decoded)
    val ok = if (deadLetter.isEmpty) col("random_id").isNotNull else AuditPipeline.isValidRecord
    Sinks.writeTransportMeta(esDir, config.esAuthMode)
    val es = new Sinks.EsBulk(AuditPipeline.filterForEs(rows), config.esIndexPrefix, ok,
      esDir, tag, metrics)
    val splunk = if (config.splunkDisabled) None else {
      Files.createDirectories(Paths.get(splunkDir))
      Some(new Sinks.Hec(when(ok, line(rows)), Sinks.JsonlFileHec(splunkDir, tag),
        config.maxBatchSize, metrics))
    }
    val dead = deadLetter.map { case (dir, raw) => new Sinks.DeadLetter(!ok, raw, dir, tag) }
    val delivered = Sinks.deliver(rows, Seq(es) ++ splunk ++ dead)
    if (dead.nonEmpty) metrics.deadLettered.add(delivered.last)
  }

  /** One RAW micro-batch: decode keeping the raw payload, fan the rows that
    * pass [[AuditPipeline.isValidRecord]] out as [[processBatch]], and
    * quarantine the rest WITH their raw payload for replay, in one pass.
    * The reference lets one malformed record crash the whole Lambda invoke
    * (at-least-once redelivery re-poisons forever, lambda_function.py:45,
    * 141); here valid rows flow on and the poison pill is parked where an
    * operator can inspect and re-ingest it. */
  def processRawBatch(rawBatch: DataFrame, dataCol: String,
      esDir: String, splunkDir: String, deadLetterDir: String,
      config: PipelineConfig, metrics: SinkMetrics, batchId: Long = -1L): Unit =
    fanOut(AuditPipeline.decodeKinesisWithRaw(rawBatch, dataCol), Some((deadLetterDir, "_raw")),
      esDir, splunkDir, config, metrics, batchId)(
      rows => Sinks.hecLine(rows.drop("_raw"), config.splunkIndex))

  /** Full-fidelity micro-batch on the VariantType decode path, in the shape
    * of [[processRawBatch]]: ES gets the enriched 9-field allowlist
    * projection, but Splunk gets the COMPLETE original record — unknown
    * payload keys a producer added yesterday included — with `@timestamp`
    * merged at top level. This is the reference's exact fan-out asymmetry
    * (lambda_function.py:144-148) preserved under schema drift, which the
    * fixed-schema path cannot do (it drops unknown keys at decode).
    *
    * Deliberate divergence: the full-record JSON carries the ORIGINAL
    * payload verbatim (plus `@timestamp`) — the reference's falsy-`ip`
    * removal applies only to the extracted/ES side here, because verbatim
    * payload preservation is worth more in the archive copy than
    * reproducing a lossy in-place mutation. */
  def processBatchVariant(rawBatch: DataFrame, dataCol: String, esDir: String, splunkDir: String,
      config: PipelineConfig, metrics: SinkMetrics,
      batchId: Long = -1L, deadLetterDir: Option[String] = None): Unit =
    // Lenient decode ONLY when a DLQ takes the invalid rows: without one,
    // strict keeps the reference's loud whole-batch failure.
    fanOut(AuditPipeline.decodeKinesisVariant(rawBatch, dataCol,
        strict = deadLetterDir.isEmpty), deadLetterDir.map((_, dataCol)),
      esDir, splunkDir, config, metrics, batchId) { _ =>
      // fullRecordJson of a null datetime would be a literal "null" line
      when(col("datetime").isNotNull, concat(lit("{\"event\":"), AuditPipeline.fullRecordJson,
        lit(",\"sourcetype\":\"json\",\"index\":\"" + config.splunkIndex + "\"}")))
    }

  /** Start the streaming query over an already-decoded source stream.
    * `source` must be a streaming DataFrame with the audit record shape
    * (use [[AuditPipeline.decodeKinesis]] upstream for raw base64 payloads). */
  def start(source: DataFrame, esDir: String, splunkDir: String, checkpointDir: String,
      config: PipelineConfig, metrics: SinkMetrics): StreamingQuery =
    run(source, checkpointDir)(processBatch(_, esDir, splunkDir, config, metrics, _))

  private def run(source: DataFrame, checkpointDir: String)(
      batch: (DataFrame, Long) => Unit): StreamingQuery =
    source.writeStream.option("checkpointLocation", checkpointDir).foreachBatch(batch).start()

  /** Start the full reference pipeline over the REAL Kinesis wire
    * protocol: the [[graft.sources.KinesisMicroBatchSource]] stream
    * (per-shard sequence-number offsets in the checkpoint, executor-side
    * record fetch) feeding [[startRaw]]. The reference's event-source
    * contract (lambda_function.py:140-141: Kinesis re-invokes the Lambda
    * per poll batch, redelivering unacknowledged records) carried by
    * Spark's own checkpoint/replay machinery. */
  def startKinesis(spark: SparkSession, endpoint: String, streamName: String,
      esDir: String, splunkDir: String, deadLetterDir: String,
      checkpointDir: String, config: PipelineConfig, metrics: SinkMetrics,
      limitPerPoll: Int = 500, maxPollsPerShard: Int = 100): StreamingQuery =
    startRaw(graft.sources.KinesisMicroBatchSource.readStream(spark, endpoint, streamName,
      limitPerPoll, maxPollsPerShard), "data", esDir, splunkDir, deadLetterDir, checkpointDir,
      config, metrics)

  /** Start the streaming query over a RAW base64-payload stream, with the
    * dead-letter quarantine live: every micro-batch runs
    * [[processRawBatch]], so undecodable payloads land in `deadLetterDir`
    * (with raw payload, replayable) while valid rows reach both sinks. */
  def startRaw(rawSource: DataFrame, dataCol: String,
      esDir: String, splunkDir: String, deadLetterDir: String,
      checkpointDir: String, config: PipelineConfig, metrics: SinkMetrics): StreamingQuery =
    run(rawSource, checkpointDir)(
      processRawBatch(_, dataCol, esDir, splunkDir, deadLetterDir, config, metrics, _))
}
