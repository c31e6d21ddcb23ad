package graft.streaming

import java.util.concurrent.{CompletableFuture, CompletionException, ExecutorService, Executors}

import graft.pipeline.AuditPipeline
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.count_if
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.streaming.StreamingQuery

/** The reference's whole application (`handler`, lambda_function.py:140-148)
  * as one Structured Streaming pipeline:
  *
  * {{{
  * kinesis/memory/file source                      (one micro-batch = one Lambda invoke)
  *   → foreachBatch:
  *       decode base64+JSON, persist               (lambda_function.py:45; the one cached copy)
  *       enrich: @timestamp, empty-ip null-out     (lambda_function.py:46-49)
  *       ┌ ES sink ← 9-field allowlist projection  (lambda_function.py:144-145)
  *       │           counting the dead rows on the way
  *       └ Splunk  ← full record, unless disabled  (lambda_function.py:147,106-108)
  *         (side by side: one job each, both awaited)
  *       dead-letter ← rows without datetime/random_id, raw payload kept;
  *                     written only when the ES pass counted any
  *       unpersist
  * }}}
  *
  * Delivery semantics as §2a: the checkpoint gives at-least-once redelivery
  * on restart; the ES side is idempotent via `_id`, the Splunk side is
  * at-most-once per chunk. Every sink reads the SAME persisted batch — the
  * multi-sink fan-out the reference runs two list comprehensions for — and
  * none shuffles it: each write is one narrow stage, a task per shard. The
  * two sinks do not depend on each other, so their jobs run at once, on
  * sink threads that carry the batch thread's job group, batch id and
  * parent SQL execution: a query's `stop()` cancels them as its own.
  */
object StreamingFanOut {

  /** One already-decoded micro-batch through both sinks — also usable in
    * pure batch mode (a Lambda invocation is exactly one call of this). */
  def processBatch(batch: DataFrame, esDir: String, splunkDir: String,
      config: PipelineConfig, metrics: SinkMetrics,
      batchId: Long = -1L): Unit =
    persisted(batch) { b =>
      fanOut(b, b, esDir, splunkDir, config, metrics, batchId)(
        Sinks.hecLines(_, config.splunkIndex))
    }

  private def batchTag(batchId: Long): String =
    if (batchId >= 0) f"b$batchId%06d"
    else java.util.UUID.randomUUID().toString.take(8)

  /** Run `body` over `df` persisted, and release it however `body` ends. */
  private def persisted(df: DataFrame)(body: DataFrame => Unit): Unit = {
    df.persist()
    try body(df) finally df.unpersist()
  }

  /** The sink writes' threads, one per sink (ES, Splunk). Daemons, so a
    * JVM whose queries have stopped can exit; they inherit no thread-local
    * state, each write gets the batch thread's afresh. */
  private lazy val sinkThreads: ExecutorService =
    Executors.newFixedThreadPool(2, (r: Runnable) => {
      val t = new Thread(null, r, "graft-fan-out-sink", 0L, false)
      t.setDaemon(true)
      t
    })

  /** ES gets the enriched allowlist projection of `esBatch`, Splunk the
    * line `lines` builds of each enriched record of `batch` with a
    * `random_id`; `esBatch` is `batch`, or `batch` read through an
    * observer. The two writes run side by side as two jobs over the copy
    * the caller persisted (the first to reach a partition caches it, the
    * other reads it). Both are awaited before this returns, the first
    * failure is rethrown after that. Returns the ES actions delivered. */
  private def fanOut(batch: DataFrame, esBatch: DataFrame, esDir: String,
      splunkDir: String, config: PipelineConfig, metrics: SinkMetrics,
      batchId: Long)(lines: DataFrame => DataFrame): Long = {
    val spark = batch.sparkSession
    val es = bridge.withThreadLocalCaptured(spark, sinkThreads)(Sinks.writeEs(
      AuditPipeline.filterForEs(AuditPipeline.enrich(esBatch)), esDir,
      config.esIndexPrefix, metrics, config.esAuthMode))
    val splunk =
      if (config.splunkDisabled) CompletableFuture.completedFuture(())
      else bridge.withThreadLocalCaptured(spark, sinkThreads)(Sinks.writeSplunkLines(
        lines(AuditPipeline.skipNulls(AuditPipeline.enrich(batch))), splunkDir,
        metrics, config.maxBatchSize, batchTag(batchId)))
    awaitAll(es, splunk)
    es.join()
  }

  /** Wait until every write has ended, ignoring interrupts: a write still
    * running may read the cache the caller releases next (a stopping query
    * cancels their jobs, so they do end). Then rethrow the first failure. */
  private def awaitAll(writes: CompletableFuture[_]*): Unit = {
    CompletableFuture.allOf(writes: _*).exceptionally(_ => null).join()
    writes.foreach { w =>
      try w.join() catch { case e: CompletionException => throw e.getCause }
    }
  }

  /** `decoded` split on [[AuditPipeline.isValidRecord]]. `counted` is the
    * valid split read through an observer placed below its filter, so the
    * pass that reads it (the ES write) counts the dead rows as well. */
  private final class DeadSplit(decoded: DataFrame) {
    private val deadRows = Observation()
    val (valid, dead) = AuditPipeline.partitionValid(decoded)
    val counted: DataFrame = AuditPipeline.partitionValid(decoded.observe(
      deadRows, count_if(!AuditPipeline.isValidRecord).as("n")))._1

    /** Quarantine the dead rows if the ES pass counted any. `esRows > 0`
      * means that pass succeeded, so its count is whole. With 0 the write
      * may have failed (logged, not raised), and a failed execution still
      * reports what its finished tasks observed, a part of the count, or
      * none at all: the split itself is checked instead. */
    def quarantine(esRows: Long, dir: String, tag: String, rawCol: String): Unit =
      if (esRows == 0) Sinks.writeDeadLetter(dead, dir, tag, rawCol)
      else if (deadRows.get("n").asInstanceOf[Long] > 0)
        Sinks.writeDeadRows(dead, dir, tag, rawCol)
  }

  /** One RAW micro-batch: decode keeping the raw payload, fan the rows that
    * carry the two fields the reference reads unconditionally (`datetime`,
    * `random_id`, lambda_function.py:80-81) out exactly as [[processBatch]],
    * then quarantine the rest into the dead-letter sink WITH their raw
    * payload for replay. Only `decoded` is persisted: the sinks fill the
    * cache, the ES write counts the rest, and the dead-letter write runs
    * only when there is something to quarantine.
    *
    * This is the live wiring of [[AuditPipeline.partitionValid]]: the
    * reference lets one malformed record crash the whole Lambda invoke
    * (at-least-once redelivery re-poisons forever, lambda_function.py:45,
    * 141); here valid rows flow on and the poison pill is parked where an
    * operator can inspect and re-ingest it. */
  def processRawBatch(rawBatch: DataFrame, dataCol: String,
      esDir: String, splunkDir: String, deadLetterDir: String,
      config: PipelineConfig, metrics: SinkMetrics,
      batchId: Long = -1L): Unit =
    persisted(AuditPipeline.decodeKinesisWithRaw(rawBatch, dataCol)) { decoded =>
      val split = new DeadSplit(decoded)
      val esRows = fanOut(split.valid.drop("_raw"), split.counted.drop("_raw"),
        esDir, splunkDir, config, metrics, batchId)(Sinks.hecLines(_, config.splunkIndex))
      split.quarantine(esRows, deadLetterDir, batchTag(batchId), "_raw")
    }

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
  def processBatchVariant(rawBatch: DataFrame, dataCol: String,
      esDir: String, splunkDir: String,
      config: PipelineConfig, metrics: SinkMetrics,
      batchId: Long = -1L, deadLetterDir: Option[String] = None): Unit = {
    import org.apache.spark.sql.functions._
    // fullRecordJson needs non-null datetime (same validity pair as
    // partitionValid) — a null would otherwise serialize as a literal
    // "null" line in the HEC archive instead of being skipped.
    val fullLines = (records: DataFrame) =>
      records.filter(col("datetime").isNotNull).select(
        concat(lit("{\"event\":"), AuditPipeline.fullRecordJson,
          lit(",\"sourcetype\":\"json\",\"index\":\"" + config.splunkIndex + "\"}"))
          .as("line"))
    // Lenient decode ONLY when a DLQ consumes the invalid split; with no
    // dead-letter sink the strict default keeps the reference's loud
    // whole-batch failure instead of silently vanishing poison payloads.
    persisted(AuditPipeline.decodeKinesisVariant(rawBatch, dataCol,
        strict = deadLetterDir.isEmpty)) { full =>
      deadLetterDir match {
        case None =>
          fanOut(full, full, esDir, splunkDir, config, metrics, batchId)(fullLines)
        case Some(dir) =>
          // the variant decode keeps the raw payload for the dead-letter split
          val split = new DeadSplit(full)
          val esRows = fanOut(split.valid, split.counted, esDir, splunkDir,
            config, metrics, batchId)(fullLines)
          split.quarantine(esRows, dir, batchTag(batchId), dataCol)
      }
    }
  }

  /** Start the streaming query over an already-decoded source stream.
    * `source` must be a streaming DataFrame with the audit record shape
    * (use [[AuditPipeline.decodeKinesis]] upstream for raw base64 payloads). */
  def start(source: DataFrame, esDir: String, splunkDir: String, checkpointDir: String,
      config: PipelineConfig, metrics: SinkMetrics): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, esDir, splunkDir, config, metrics, batchId)
      }
      .start()

  /** Start the full reference pipeline over the REAL Kinesis wire
    * protocol: the [[graft.sources.KinesisMicroBatchSource]] DataSourceV2
    * stream (per-shard sequence-number offsets in the checkpoint,
    * executor-side record fetch) feeding the same dead-letter +
    * dual-sink fan-out as [[startRaw]]. This is the reference's actual
    * event-source contract (lambda_function.py:140-141: Kinesis
    * re-invokes the Lambda per poll batch, redelivering unacknowledged
    * records) carried by Spark's own checkpoint/replay machinery — the
    * third interchangeable source next to KinesisFileSource and
    * MemoryStream. */
  def startKinesis(spark: org.apache.spark.sql.SparkSession,
      endpoint: String, streamName: String,
      esDir: String, splunkDir: String, deadLetterDir: String,
      checkpointDir: String, config: PipelineConfig, metrics: SinkMetrics,
      limitPerPoll: Int = 500, maxPollsPerShard: Int = 100): StreamingQuery = {
    val raw = graft.sources.KinesisMicroBatchSource
      .readStream(spark, endpoint, streamName, limitPerPoll, maxPollsPerShard)
    startRaw(raw, "data", esDir, splunkDir, deadLetterDir, checkpointDir,
      config, metrics)
  }

  /** Start the streaming query over a RAW base64-payload stream, with the
    * dead-letter quarantine live: every micro-batch runs
    * [[processRawBatch]], so undecodable payloads land in `deadLetterDir`
    * (with raw payload, replayable) while valid rows reach both sinks. */
  def startRaw(rawSource: DataFrame, dataCol: String,
      esDir: String, splunkDir: String, deadLetterDir: String,
      checkpointDir: String, config: PipelineConfig,
      metrics: SinkMetrics): StreamingQuery =
    rawSource.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processRawBatch(batch, dataCol, esDir, splunkDir, deadLetterDir,
          config, metrics, batchId)
      }
      .start()
}
