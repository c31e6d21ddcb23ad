package graft.streaming

import java.io.IOException
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.collection.mutable

import graft.pipeline.AuditPipeline
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetWriteSupport}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.LongAccumulator

/** Success/total delivery counters, one pair per sink — the reference's
  * `print(f"{success} of {total} ...")` metrics (lambda_function.py:84-88,
  * 129-138) as Spark accumulators (merge correctly across tasks/retries at
  * any executor count) — and the rows the fan-out quarantined. */
final case class SinkMetrics(
    esSuccess: LongAccumulator, esTotal: LongAccumulator,
    splunkSuccess: LongAccumulator, splunkTotal: LongAccumulator,
    deadLettered: LongAccumulator) {
  def summary: String =
    s"es: ${esSuccess.value} of ${esTotal.value}; " +
      s"splunk: ${splunkSuccess.value} of ${splunkTotal.value}; " +
      s"dead-lettered: ${deadLettered.value}"
}

object SinkMetrics {
  def apply(spark: org.apache.spark.sql.SparkSession): SinkMetrics = SinkMetrics(
    spark.sparkContext.longAccumulator("es_success"),
    spark.sparkContext.longAccumulator("es_total"),
    spark.sparkContext.longAccumulator("splunk_success"),
    spark.sparkContext.longAccumulator("splunk_total"),
    spark.sparkContext.longAccumulator("dead_lettered"))
}

/** The three sink simulators, with the reference's observable semantics.
  *
  * No network exists here, so OpenSearch becomes a daily-partitioned
  * parquet "index", Splunk HEC chunked JSON-lines files and the
  * dead-letter queue parquet per batch; partitioning, idempotency keys,
  * batching, envelope shape and delivery semantics match §2a. Each sink has
  * one writer, run by a delivery pass ([[deliver]]). Layout, by batch tag:
  * {{{
  * <es>/_transport.json, <es>/index_date=<day>/part-<tag>-<task>.parquet
  * <splunk>/post-<tag>-<task>-<chunk>.jsonl
  * <dlq>/dl_batch=<tag>/part-<task>.parquet   (column raw_payload)
  * }}}
  * so a replayed epoch replaces its own files (a streaming batch's tag
  * holds its query id: other lineages' files stay). A task writes its
  * parquet files itself (Spark's `ParquetWriteSupport` on parquet-java's
  * `LocalOutputFile`) under a hidden name renamed into place when complete,
  * so readers never see a torn file. Spark's file committer cost more than
  * a live trigger's rows: on 4 vCPU a 400-row ES write in 4 tasks forked 22
  * `chmod` processes (Hadoop's local file system without its native
  * library) and deserialized a Hadoop `Configuration` per task, 265 ms
  * against 55 ms for the Splunk post of the same rows.
  */
object Sinks {

  /** Record the transport configuration a real client would be built with
    * (lambda_function.py:61-74: auth mode + port 443 TLS + gzip + cert
    * verification) as a sidecar marker in the index dir, the stand-in for
    * the OpenSearch client kwargs. Driver-side; last write wins. */
  private[streaming] def writeTransportMeta(dir: String, authMode: AuthMode): Unit = {
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
    * The `_transport` marker and unfinished (hidden) files are invisible
    * here: the parquet reader skips `_`- and `.`-prefixed files. */
  def readEsIndex(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir).dropDuplicates("_id")

  /** The OpenSearch HTTP boundary: one bulk round-trip. Given a chunk's doc
    * `_id`s, return the subset that FAILED this attempt (the per-document
    * rejections a real bulk response itemizes, e.g. 429s); a real client is
    * built from the [[writeTransportMeta]] kwargs (lambda_function.py:61-74,
    * 84). A SAM trait, Serializable: it runs inside executor tasks. */
  trait BulkTransport extends Serializable {
    def apply(ids: Seq[String]): Seq[String]
  }

  /** A bulk transport that accepts every document — the happy-path simulator
    * (a real cluster with no rejections is observationally identical). */
  val acceptAllBulk: BulkTransport = (_: Seq[String]) => Seq.empty

  /** OpenSearch bulk upsert (lambda_function.py:56-88: `helpers.bulk(client,
    * actions, max_retries=3, raise_on_error=False)`) of the rows of `pruned`
    * with a `random_id`, one action each (a repeated `_id` is written again;
    * [[readEsIndex]] keeps one document per `_id`). Each ≤`chunkSize` chunk
    * of a partition is one request; documents the transport rejects are
    * re-sent alone up to `maxRetries` times (a throw fails those pending).
    * Documents still failing, without a parseable `datetime` (no daily
    * index), or whose index file cannot be written are LOGGED and dropped,
    * never raised. Counters report success/total as the reference's
    * `print(f"{success} of {total}")`; returns the documents indexed. */
  def writeEsBulk(pruned: DataFrame, dir: String, prefix: String, m: SinkMetrics,
      transport: BulkTransport, maxRetries: Int = 3, chunkSize: Int = 500): Long = {
    Files.createDirectories(Paths.get(dir))
    deliver(pruned, Seq(new EsBulk(pruned, prefix, col("random_id").isNotNull, dir,
      randomTag(), m, transport, maxRetries, chunkSize))).head
  }

  /** Dead-letter sink: quarantine rows that failed decode/validation with
    * their RAW payload, for replay after a fix. The reference has no such
    * path — a malformed record crashes the whole batch and poisons
    * at-least-once redelivery forever (lambda_function.py:45,141); this is
    * the stricter option SURVEY §2a documents. Files are named by
    * `batchTag` and task, so an epoch retry replaces its own rows; a tag
    * must not be reused by another lineage. A task with nothing to
    * quarantine opens no file, so the directory exists only once something
    * was. Files are replaced one by one: a replay over FEWER tasks keeps the
    * first attempt's extra `part-<task>` files, quarantining those payloads
    * twice. Returns rows quarantined. */
  def writeDeadLetter(dead: DataFrame, dir: String, batchTag: String,
      rawCol: String = "_raw"): Long =
    deliver(dead, Seq(new DeadLetter(lit(true), rawCol, dir, batchTag))).head

  /** The Splunk HEC HTTP boundary: one POST of ≤maxBatchSize envelope lines
    * (lambda_function.py:90-102: `requests.post(hec_url, …, timeout=12)`).
    * Throwing signals transport failure: the chunk is dropped (at-most-once
    * per post). `partitionId`/`chunkNo` name the post within the batch.
    * Runs on executors — implementations must be Serializable. */
  trait HecTransport extends Serializable {
    def post(partitionId: Int, chunkNo: Int, lines: Seq[String]): Unit
  }

  /** HEC simulator: one POST = one JSON-lines file under `dir`, named by
    * (postTag, partition, chunk) so redelivered micro-batches overwrite
    * their own posts instead of duplicating them. */
  final case class JsonlFileHec(dir: String, postTag: String) extends HecTransport {
    override def post(partitionId: Int, chunkNo: Int, lines: Seq[String]): Unit = {
      // A missing dir would throw inside the per-chunk catch, which reads
      // as a transport 503 and silently drops EVERY chunk.
      Files.createDirectories(Paths.get(dir))
      val path = Paths.get(dir, f"post-$postTag-$partitionId%05d-$chunkNo%05d.jsonl")
      Files.write(path, lines.mkString("\n").getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    }
  }

  /** Splunk HEC simulator (lambda_function.py:90-102,115-134): every record
    * in the HEC envelope {"event":…, "sourcetype":"json", "index":…}, each
    * task's lines posted in chunks of ≤500, one post = one JSON-lines file. */
  def writeSplunk(full: DataFrame, dir: String, index: String, m: SinkMetrics,
      maxBatchSize: Int = 500, postTag: String = randomTag()): Unit =
    writeSplunkVia(full.select(hecLine(full, index)), JsonlFileHec(dir, postTag), m, maxBatchSize)

  /** Each record of `full` in the HEC envelope, as one string column. */
  private[streaming] def hecLine(full: DataFrame, index: String): Column =
    to_json(struct(
      struct(full.columns.toIndexedSeq.map(col): _*).as("event"),
      lit("json").as("sourcetype"),
      lit(index).as("index")))

  /** Splunk delivery over any [[HecTransport]]: chunking, counters and the
    * at-most-once drop of a failed post do not depend on the transport. */
  def writeSplunkVia(lines: DataFrame, transport: HecTransport,
      m: SinkMetrics, maxBatchSize: Int = 500): Unit =
    deliver(lines, Seq(new Hec(col(lines.columns.head), transport, maxBatchSize, m)))

  private[streaming] def randomTag(): String = java.util.UUID.randomUUID().toString.take(8)

  /** One delivery pass over `rows`: a single job in which each task reads
    * its partition of the writers' columns once and feeds every writer.
    * Its tasks see the session's SQL confs, as a SQL execution's would.
    * Returns what each writer delivered, in order. */
  private[streaming] def deliver(rows: DataFrame, writers: Seq[Writer]): Seq[Long] = {
    val input = rows.select(writers.flatMap(_.columns): _*)
    val schema = input.schema
    val perTask = bridge.withSqlConfPropagated(rows.sparkSession)(
      rows.sparkSession.sparkContext.runJob(input.queryExecution.toRdd,
        (ctx: TaskContext, it: Iterator[InternalRow]) => {
          val open = writers.map(_.open(ctx, schema))
          it.foreach(r => open.foreach(_.add(r)))
          open.map(_.close())
        }))
    writers.indices.map(i => perTask.map(_(i)).sum)
  }

  /** A writer of a delivery pass: `columns`, built on the driver over the
    * pass's rows, are what it reads (by their names); `open` gives its side
    * in one task. */
  private[streaming] sealed trait Writer extends Serializable {
    def columns: Seq[Column]
    def open(ctx: TaskContext, schema: StructType): TaskWriter
  }

  private[streaming] trait TaskWriter {
    def add(row: InternalRow): Unit
    def close(): Long // what the task delivered
  }

  /** The ES writer (see [[writeEsBulk]]) of each row where `keep` holds:
    * its bulk action `_es` — `pruned`'s columns, `_index = prefix + day`
    * and `_id = random_id` (lambda_function.py:80-81) — and `_day`. Each
    * day's accepted documents go to `index_date=<day>/part-<tag>-<task>`.
    * The first file error is logged and ends the task's ES delivery. */
  private[streaming] final class EsBulk(pruned: DataFrame, prefix: String, keep: Column,
      dir: String, tag: String, m: SinkMetrics, transport: BulkTransport = acceptAllBulk,
      maxRetries: Int = 3, chunkSize: Int = 500) extends Writer {
    @transient val columns: Seq[Column] = {
      val day = AuditPipeline.day.cast("string")
      Seq(when(keep, struct(pruned.columns.toIndexedSeq.map(col) :+
          concat(lit(prefix), day).as("_index") :+ col("random_id").as("_id"): _*)).as("_es"),
        day.as("_day"))
    }

    def open(ctx: TaskContext, schema: StructType): TaskWriter = new TaskWriter {
      private val docAt = schema.fieldIndex("_es")
      private val dayAt = schema.fieldIndex("_day")
      private val docSchema = schema(docAt).dataType.asInstanceOf[StructType]
      private val idAt = docSchema.fieldIndex("_id")
      private val chunk = mutable.ArrayBuffer.empty[(String, String, InternalRow)]
      private val files = new ParquetFiles(f"part-$tag-${ctx.partitionId()}%05d.parquet", docSchema)
      private var failed = false

      def add(row: InternalRow): Unit = if (!row.isNullAt(docAt)) {
        val doc = row.getStruct(docAt, docSchema.length)
        val id = doc.getUTF8String(idAt).toString
        if (row.isNullAt(dayAt)) {
          m.esTotal.add(1)
          System.err.println(s"[es-sink] document $id has no parseable datetime, " +
            "no index to route to (logged, not raised)")
        } else {
          chunk += ((id, row.getUTF8String(dayAt).toString, doc.copy()))
          if (chunk.size == chunkSize) send()
        }
      }

      private def send(): Unit = {
        m.esTotal.add(chunk.size)
        val rejected = bulk(chunk.map(_._1).toSeq)
        fileErrors(for ((id, d, doc) <- chunk if !rejected(id))
          files.write(Paths.get(dir, s"index_date=$d"), doc))
        chunk.clear()
      }

      /** One bulk request: the ids still failing after the retries. */
      private def bulk(ids: Seq[String]): Set[String] = {
        var failed = ids.toSet
        var attempt = 0
        val thrown = try {
          failed = transport(ids).toSet
          while (failed.nonEmpty && attempt < maxRetries) {
            failed = transport(failed.toSeq.sorted).toSet
            attempt += 1
          }
          ""
        } catch { case e: Exception => s", the transport threw: ${e.getMessage}" }
        if (failed.nonEmpty)
          System.err.println(s"[es-sink] ${failed.size} document(s) failed after $attempt " +
            s"retries$thrown (logged, not raised): ${failed.toSeq.sorted.take(10).mkString(", ")}")
        failed
      }

      private def fileErrors(body: => Unit): Unit = if (!failed) {
        try body catch {
          case e: IOException =>
            System.err.println(s"[es-sink] bulk write failed (logged, not raised): $e")
            failed = true
            files.abort()
        }
      }

      def close(): Long = {
        if (chunk.nonEmpty) send()
        fileErrors(files.commit())
        m.esSuccess.add(files.committed)
        files.committed
      }
    }
  }

  /** The Splunk writer (see [[writeSplunkVia]]) of `line`, none where null:
    * posts each task's lines in chunks of ≤`maxBatchSize`. Counts nothing. */
  private[streaming] final class Hec(line: Column, transport: HecTransport, maxBatchSize: Int,
      m: SinkMetrics) extends Writer {
    @transient val columns: Seq[Column] = Seq(line.as("_line"))

    def open(ctx: TaskContext, schema: StructType): TaskWriter = new TaskWriter {
      private val lineAt = schema.fieldIndex("_line")
      private val chunk = mutable.ArrayBuffer.empty[String]
      private var chunkNo = 0

      def add(row: InternalRow): Unit = if (!row.isNullAt(lineAt)) {
        chunk += row.getUTF8String(lineAt).toString
        if (chunk.size == maxBatchSize) post()
      }

      private def post(): Unit = {
        m.splunkTotal.add(chunk.size)
        try {
          transport.post(ctx.partitionId(), chunkNo, chunk.toSeq)
          m.splunkSuccess.add(chunk.size)
        } catch {
          case e: Exception =>
            // at-most-once: log, drop the chunk, keep going (lambda_function.py:100-102)
            System.err.println(s"[splunk-sink] post failed, batch dropped: ${e.getMessage}")
        }
        chunkNo += 1
        chunk.clear()
      }

      def close(): Long = { if (chunk.nonEmpty) post(); 0L }
    }
  }

  /** The dead-letter writer (see [[writeDeadLetter]]) of the `rawCol`
    * payload of each row where `quarantine` holds: writes
    * `dl_batch=<tag>/part-<task>`. A failure here fails the pass:
    * quarantined rows are never dropped. */
  private[streaming] final class DeadLetter(quarantine: Column, rawCol: String,
      dir: String, tag: String) extends Writer {
    @transient val columns: Seq[Column] =
      Seq(when(quarantine, struct(col(rawCol).as("raw_payload"))).as("_dead"))

    def open(ctx: TaskContext, schema: StructType): TaskWriter = new TaskWriter {
      private val deadAt = schema.fieldIndex("_dead")
      private val rowSchema = schema(deadAt).dataType.asInstanceOf[StructType]
      private val files = new ParquetFiles(f"part-${ctx.partitionId()}%05d.parquet", rowSchema)

      def add(row: InternalRow): Unit = if (!row.isNullAt(deadAt))
        files.write(Paths.get(dir, s"dl_batch=$tag"), row.getStruct(deadAt, rowSchema.length))

      def close(): Long = { files.commit(); files.committed }
    }
  }

  /** A task's parquet files of one writer, one per directory, each named
    * `name`: written under a hidden temp name, renamed over `name`
    * atomically by [[commit]], deleted if the task fails first. A
    * directory is created with its first row. Options and codec are the
    * session's: [[deliver]] gives its tasks the session's SQL confs. */
  private final class ParquetFiles(name: String, schema: StructType) {
    private val sql = SQLConf.get
    private val conf = new Configuration(false)
    Seq(SQLConf.PARQUET_WRITE_LEGACY_FORMAT, SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE,
      SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED, SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE)
      .foreach(e => conf.set(e.key, sql.getConf(e).toString))
    ParquetWriteSupport.setSchema(StructType(schema.fields.map(_.copy(nullable = true))), conf)
    private val codec = CompressionCodecName.valueOf(
      new ParquetOptions(Map.empty[String, String], sql).compressionCodecClassName)
    private val temp = s".$name.${TaskContext.get().taskAttemptId()}.tmp"
    private val writers = mutable.LinkedHashMap.empty[Path, (ParquetWriter[InternalRow], Array[Long])]
    TaskContext.get().addTaskFailureListener((_, _) => abort())
    /** Rows of the files committed so far. */
    var committed = 0L

    def write(dir: Path, row: InternalRow): Unit = {
      val (writer, rows) = writers.getOrElseUpdate(dir, (new RowWriterBuilder(
        new LocalOutputFile(Files.createDirectories(dir).resolve(temp))).withConf(conf)
        .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
        .withCompressionCodec(codec).build(), Array(0L)))
      writer.write(row)
      rows(0) += 1
    }

    def commit(): Unit = writers.foreach { case (dir, (writer, rows)) =>
      writer.close()
      Files.move(dir.resolve(temp), dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      committed += rows(0)
    }

    def abort(): Unit = writers.foreach { case (dir, (writer, _)) =>
      try writer.close() catch { case _: Exception => () }
      Files.deleteIfExists(dir.resolve(temp))
    }
  }

  private final class RowWriterBuilder(file: LocalOutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](file) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }
}
