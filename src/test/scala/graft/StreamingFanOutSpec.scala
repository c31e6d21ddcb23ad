package graft

import java.nio.file.{Files, Paths}
import java.util.{Base64, Properties}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import graft.streaming.{PipelineConfig, SinkMetrics, Sinks, StreamingFanOut}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.scalatest.concurrent.{Signaler, ThreadSignaler}
import org.scalatest.concurrent.TimeLimits.failAfter
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import scala.jdk.CollectionConverters._

/** End-to-end fan-out semantics (test_lambda_function.py:167-260 +
  * §2a error-semantics): ES gets the pruned projection, Splunk the full
  * record, both from one pass over the batch; toggle skips Splunk; metrics
  * count success/total; ES `_id` is idempotent across redelivery; Splunk
  * chunks are ≤ maxBatchSize.
  */
class StreamingFanOutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  private def recJson(id: Int): String =
    s"""{"datetime": "2026-02-18T10:30:0${id % 10}", "random_id": "id-$id",
       |"kind_id": $id, "account_id": 1, "ip": "1.2.3.$id",
       |"request_url": "https://x/$id", "http_method": "GET"}"""
      .stripMargin.replace("\n", " ")

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("streaming fan-out: pruned ES copy, full Splunk copy, checkpointed (lambda_function.py:140-148)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (esDir, splunkDir, ckpt) = (tmp("es"), tmp("splunk"), tmp("ckpt"))
    val metrics = SinkMetrics(spark)
    val stream = MemoryStream[String]
    val decoded = graft.pipeline.AuditPipeline.decodeKinesis(
      stream.toDF().withColumnRenamed("value", "data"), "data")

    val q = StreamingFanOut.start(decoded, esDir, splunkDir, ckpt,
      PipelineConfig(), metrics)
    stream.addData((1 to 7).map(i => b64(recJson(i))): _*)
    q.processAllAvailable()
    stream.addData((8 to 9).map(i => b64(recJson(i))): _*)
    q.processAllAvailable()
    q.stop()

    // ES copy: pruned to the allowlist + routing keys, daily-partitioned
    val es = Sinks.readEsIndex(spark, esDir)
    assert(es.count() == 9)
    assert(!es.columns.contains("request_url"), "ES must not see Splunk-only fields")
    assert(es.columns.contains("_id") && es.columns.contains("_index"))
    assert(es.select("_index").distinct().collect().map(_.getString(0)).toSet ==
      Set("audit-2026-02-18"))

    // Splunk copy: full record inside the HEC envelope
    val splunkLines = spark.read.json(s"$splunkDir/*.jsonl")
    assert(splunkLines.count() == 9)
    assert(splunkLines.select("sourcetype").distinct().collect().head.getString(0) == "json")
    val eventCols = splunkLines.select("event.*").columns
    assert(eventCols.contains("request_url"), "Splunk gets the FULL record")

    // metrics: success == total == 9 per sink (two micro-batches)
    assert(metrics.esTotal.value == 9 && metrics.esSuccess.value == 9)
    assert(metrics.splunkTotal.value == 9 && metrics.splunkSuccess.value == 9)
  }

  test("feature toggle skips Splunk entirely (lambda_function.py:106-108)") {
    import spark.implicits._
    val (esDir, splunkDir) = (tmp("es"), tmp("splunk"))
    val metrics = SinkMetrics(spark)
    val batch = graft.pipeline.AuditPipeline.decodeKinesis(
      Seq(b64(recJson(1))).toDF("data"), "data")
    val config = PipelineConfig.fromSecrets(Map("splunk_disabled" -> "true"))
    assert(config.splunkDisabled)

    StreamingFanOut.processBatch(batch, esDir, splunkDir, config, metrics)
    assert(Sinks.readEsIndex(spark, esDir).count() == 1)
    assert(Files.list(Paths.get(splunkDir)).iterator().asScala.isEmpty,
      "no Splunk posts when disabled")
    assert(metrics.splunkTotal.value == 0)
  }

  test("ES redelivery is idempotent via _id (lambda_function.py:81)") {
    import spark.implicits._
    val (esDir, splunkDir) = (tmp("es"), tmp("splunk"))
    val metrics = SinkMetrics(spark)
    val batch = graft.pipeline.AuditPipeline.decodeKinesis(
      Seq(b64(recJson(1)), b64(recJson(2))).toDF("data"), "data")
    // same batch delivered twice (at-least-once upstream)
    StreamingFanOut.processBatch(batch, esDir, splunkDir, PipelineConfig(), metrics)
    StreamingFanOut.processBatch(batch, esDir, splunkDir, PipelineConfig(), metrics)
    assert(Sinks.readEsIndex(spark, esDir).count() == 2,
      "reader observes one doc per _id after redelivery")
  }

  test("ES partial bulk failure: flaky docs recover via retry, residuals logged not raised (lambda_function.py:84-86)") {
    import spark.implicits._
    val esDir = tmp("es_retry")
    val metrics = SinkMetrics(spark)
    val batch = graft.pipeline.AuditPipeline.decodeKinesis(
      (1 to 10).map(i => b64(recJson(i))).toDF("data"), "data")
    val enriched = graft.pipeline.AuditPipeline.filterForEs(
      graft.pipeline.AuditPipeline.enrich(batch))

    // transport: id-3 / id-6 are rejected on their first two attempts
    // (recover on the in-retry third); id-9 always fails (residual).
    StreamingFanOutSpec.attempts.clear()
    val transport: Sinks.BulkTransport = ids => ids.filter { id =>
      val n: Int = StreamingFanOutSpec.attempts.merge(id, 1,
        (a: Integer, b: Integer) => Integer.valueOf(a + b))
      id == "id-9" || ((id == "id-3" || id == "id-6") && n <= 2)
    }

    val delivered = Sinks.writeEsBulk(enriched, esDir, "audit-", metrics,
      transport, maxRetries = 3)

    assert(delivered == 9, "id-9 dropped after exhausting retries")
    assert(metrics.esTotal.value == 10 && metrics.esSuccess.value == 9,
      s"reference-style success/total counters: ${metrics.summary}")
    val idx = Sinks.readEsIndex(spark, esDir)
    assert(idx.count() == 9)
    assert(idx.filter(col("_id") === "id-9").isEmpty, "failed doc must not be indexed")
    assert(idx.filter(col("_id").isin("id-3", "id-6")).count() == 2,
      "flaky docs delivered by the retry loop")
    // only the FAILED docs were re-sent, not the whole chunk
    assert(StreamingFanOutSpec.attempts.get("id-1") == 1)
    assert(StreamingFanOutSpec.attempts.get("id-3") == 3)
    assert(StreamingFanOutSpec.attempts.get("id-9") == 4, "initial + 3 retries")
  }

  test("ES bulk writer returns what each call delivered, not the shared counter's total") {
    import spark.implicits._
    val esDir = tmp("es_bulk_calls")
    val metrics = SinkMetrics(spark)
    def pruned(ids: Range) = graft.pipeline.AuditPipeline.filterForEs(
      graft.pipeline.AuditPipeline.enrich(graft.pipeline.AuditPipeline.decodeKinesis(
        ids.map(i => b64(recJson(i))).toDF("data"), "data")))
    assert(Sinks.writeEsBulk(pruned(1 to 3), esDir, "audit-", metrics, Sinks.acceptAllBulk) == 3)
    assert(Sinks.writeEsBulk(pruned(4 to 8), esDir, "audit-", metrics, Sinks.acceptAllBulk) == 5)
    assert(metrics.esTotal.value == 8 && metrics.esSuccess.value == 8, metrics.summary)
    assert(Sinks.readEsIndex(spark, esDir).count() == 8)
  }

  test("dead-letter path: malformed payloads quarantined with raw payload, valid rows flow on (SURVEY §2a error semantics)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (esDir, splunkDir, dlqDir, ckpt) = (tmp("es"), tmp("splunk"), tmp("dlq"), tmp("ckpt"))
    val metrics = SinkMetrics(spark)
    val stream = MemoryStream[String]
    val q = StreamingFanOut.startRaw(
      stream.toDF().withColumnRenamed("value", "data"), "data",
      esDir, splunkDir, dlqDir, ckpt, PipelineConfig(), metrics)

    // 2 valid records + a non-JSON payload + a JSON record missing the
    // fields the reference reads unconditionally (datetime/random_id)
    val poison1 = b64("this is not json at all")
    val poison2 = b64("""{"kind_id": 42, "ip": "9.9.9.9"}""")
    stream.addData(b64(recJson(1)), poison1, b64(recJson(2)), poison2)
    q.processAllAvailable()
    q.stop()

    // valid rows reached both sinks
    assert(Sinks.readEsIndex(spark, esDir).count() == 2)
    assert(spark.read.json(s"$splunkDir/*.jsonl").count() == 2)
    // poison pills are parked with their RAW payload, replayable
    val dead = spark.read.parquet(dlqDir)
    assert(dead.count() == 2)
    val raws = dead.select("raw_payload").collect().map(_.getString(0)).toSet
    assert(raws == Set(poison1, poison2),
      "dead letters must carry the original payload for replay")
    assert(dead.columns.contains("dl_batch"))
  }

  test("raw fan-out: every record is one ES action, the index keeps one doc per _id (lambda_function.py:81,84)") {
    import spark.implicits._
    val (esDir, splunkDir, dlqDir) = (tmp("es"), tmp("splunk"), tmp("dlq"))
    val metrics = SinkMetrics(spark)
    val poison = b64("this is not json at all")
    val raw = Seq(b64(recJson(1)), b64(recJson(1)), b64(recJson(2)), poison).toDF("data")
    StreamingFanOut.processRawBatch(raw, "data", esDir, splunkDir, dlqDir,
      PipelineConfig(), metrics)

    assert(Sinks.readEsIndex(spark, esDir).count() == 2, "one document per _id")
    // the repeated record is a second action, as in the reference's bulk
    // call, and counts in `success of total`
    assert(metrics.esTotal.value == 3 && metrics.esSuccess.value == 3, metrics.summary)
    assert(spark.read.json(s"$splunkDir/*.jsonl").count() == 3)
    assert(spark.read.parquet(dlqDir).select("raw_payload").as[String].collect().toSeq ==
      Seq(poison))
    assert(metrics.deadLettered.value == 1, metrics.summary)
  }

  /** What `body` starts on the context: each job's properties, each SQL
    * execution's physical plan, the bytes its stages shuffled and the
    * persisted RDDs they touched. */
  private final class Recorded {
    val jobProps = new ConcurrentLinkedQueue[Properties]
    val plans = new ConcurrentLinkedQueue[String]
    val shuffleBytes = new AtomicLong
    val cachedRdds = ConcurrentHashMap.newKeySet[Int]()
  }

  private def recording(body: => Unit): Recorded = {
    val sc = spark.sparkContext
    val rec = new Recorded
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = rec.jobProps.add(e.properties)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        rec.shuffleBytes.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        e.stageInfo.rddInfos.filter(_.storageLevel.isValid).foreach(r => rec.cachedRdds.add(r.id))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => rec.plans.add(x.physicalPlanDescription)
        case _ => ()
      }
    }
    bridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      bridge.drain(sc)
    } finally sc.removeSparkListener(listener)
    rec
  }

  test("raw fan-out job shape: one job, no shuffle, nothing cached, the caller's job group") {
    import spark.implicits._
    val sc = spark.sparkContext
    // batches in 2 partitions, as two shards would deliver them
    val clean = sc.parallelize((1 to 8).map(i => b64(recJson(i))), 2).toDF("data")
    val dirty = sc.parallelize((1 to 8).map(i => b64(recJson(i))) :+ b64("not json"), 2)
      .toDF("data")
    val persistedBefore = sc.getPersistentRDDs.size
    def run(raw: org.apache.spark.sql.DataFrame, esDir: String, splunkDir: String): Unit =
      StreamingFanOut.processRawBatch(raw, "data", esDir, splunkDir, tmp("dlq"),
        PipelineConfig(), SinkMetrics(spark))
    def settled(): Unit = {
      bridge.drain(sc)
      assert(sc.statusTracker.getActiveJobIds.isEmpty, "a sink job outlived the call")
      assert(sc.getPersistentRDDs.size == persistedBefore, "the call left an RDD persisted")
    }

    sc.setJobGroup("fan-out-shape", "job shape")
    sc.setLocalProperty("graft.test.caller", "shape")
    try {
      val cleanRun = recording(run(clean, tmp("es"), tmp("splunk")))
      settled()
      val dirtyRun = recording(run(dirty, tmp("es"), tmp("splunk")))
      settled()

      assert(cleanRun.jobProps.size == 1, s"${cleanRun.jobProps.size} jobs on a clean batch")
      assert(dirtyRun.jobProps.size == 1, s"${dirtyRun.jobProps.size} jobs on a batch with poison")
      for (r <- Seq(cleanRun, dirtyRun)) {
        assert(r.shuffleBytes.get == 0, "no stage may shuffle the batch")
        assert(r.cachedRdds.isEmpty, s"persisted RDDs in the stages: ${r.cachedRdds}")
        assert(!r.plans.asScala.exists(_.contains("InsertIntoHadoopFsRelationCommand")),
          "no sink goes through Spark's file committer")
        for (p <- r.jobProps.asScala) {
          assert(p.getProperty("spark.jobGroup.id") == "fan-out-shape")
          assert(p.getProperty("graft.test.caller") == "shape")
        }
      }

      // a sink directory that is a regular file fails the call on the
      // driver, before the job
      val file = Files.createTempFile("not-a-dir", ".txt").toString
      intercept[Exception](run(clean, file, tmp("splunk")))
      settled()
      intercept[Exception](run(clean, tmp("es"), file))
      settled()
    } finally {
      sc.clearJobGroup()
      sc.setLocalProperty("graft.test.caller", null)
    }
  }

  test("ES write failing inside its job: logged, Splunk gets every valid line, poison still quarantined") {
    import spark.implicits._
    implicit val signaler: Signaler = ThreadSignaler
    val (esDir, splunkDir, dlqDir) = (tmp("es"), tmp("splunk"), tmp("dlq"))
    // a regular file where the records' day directory goes: the ES writer
    // cannot open its index file, inside the job, after the transport
    // marker was written
    Files.createFile(Paths.get(esDir, "index_date=2026-02-18"))
    val metrics = SinkMetrics(spark)
    val poison = b64("this is not json at all")
    val raw = ((1 to 6).map(i => b64(recJson(i))) :+ poison).toDF("data")

    val err = captureErr(failAfter(Span(60, Seconds)) {
      StreamingFanOut.processRawBatch(raw, "data", esDir, splunkDir, dlqDir,
        PipelineConfig(), metrics)
    })

    assert(err.contains("[es-sink] bulk write failed"), "the ES failure is logged")
    assert(Sinks.readTransportMeta(esDir).contains("auth_mode"))
    assert(metrics.esSuccess.value == 0 && metrics.esTotal.value == 6, metrics.summary)
    assert(spark.read.json(s"$splunkDir/*.jsonl").count() == 6)
    assert(metrics.splunkSuccess.value == 6 && metrics.splunkTotal.value == 6, metrics.summary)
    assert(Files.list(Paths.get(dlqDir)).iterator().asScala
      .exists(_.getFileName.toString.startsWith("dl_batch=")), "the poison was not quarantined")
    assert(spark.read.parquet(dlqDir).select("raw_payload").as[String].collect().toSeq ==
      Seq(poison))
  }

  /** What `body` prints to stderr (the sinks' log), printed on as well. */
  private def captureErr(body: => Unit): String = {
    val err = new java.io.ByteArrayOutputStream
    val stderr = System.err
    System.setErr(new java.io.PrintStream(err, true))
    try body finally System.setErr(stderr)
    stderr.print(err.toString)
    err.toString
  }

  test("a malformed datetime is quarantined, never fails the batch") {
    import spark.implicits._
    val (esDir, splunkDir, dlqDir) = (tmp("es"), tmp("splunk"), tmp("dlq"))
    val metrics = SinkMetrics(spark)
    val bad = b64("""{"datetime":"not-a-date","random_id":"id-bad"}""")
    val raw = ((1 to 5).map(i => b64(recJson(i))) :+ bad).toDF("data")
    StreamingFanOut.processRawBatch(raw, "data", esDir, splunkDir, dlqDir,
      PipelineConfig(), metrics)

    assert(Sinks.readEsIndex(spark, esDir).count() == 5)
    assert(spark.read.json(s"$splunkDir/*.jsonl").count() == 5)
    assert(spark.read.parquet(dlqDir).select("raw_payload").as[String].collect().toSeq ==
      Seq(bad))
    assert(metrics.esSuccess.value == 5 && metrics.esTotal.value == 5, metrics.summary)
  }

  test("without a DLQ a malformed datetime is a failed ES action, logged") {
    import spark.implicits._
    val (esDir, splunkDir) = (tmp("es"), tmp("splunk"))
    val metrics = SinkMetrics(spark)
    val batch = graft.pipeline.AuditPipeline.decodeKinesis(
      ((1 to 3).map(i => b64(recJson(i))) :+
        b64("""{"datetime":"not-a-date","random_id":"id-bad"}""")).toDF("data"), "data")
    val err = captureErr(
      StreamingFanOut.processBatch(batch, esDir, splunkDir, PipelineConfig(), metrics))

    assert(err.contains("id-bad"), "the dropped action is logged")
    assert(metrics.esTotal.value == 4 && metrics.esSuccess.value == 3, metrics.summary)
    assert(Sinks.readEsIndex(spark, esDir).count() == 3)
    assert(metrics.splunkSuccess.value == 4, "Splunk needs no date")
  }

  /** Files a reader of each sink sees, by suffix, under `dir`. */
  private def files(dir: String, suffix: String): Int =
    if (!Files.exists(Paths.get(dir))) 0
    else Files.walk(Paths.get(dir)).iterator().asScala.count { p =>
      val name = p.getFileName.toString
      name.endsWith(suffix) && !name.startsWith(".")
    }

  test("a replayed epoch replaces its own files in every sink") {
    import spark.implicits._
    val (esDir, splunkDir, dlqDir) = (tmp("es"), tmp("splunk"), tmp("dlq"))
    val metrics = SinkMetrics(spark)
    val poison = Seq(b64("not json"), b64("""{"kind_id": 1}"""))
    val raw = spark.sparkContext.parallelize(
      (1 to 12).map(i => b64(recJson(i))) ++ poison, 3).toDF("data")
    def state() = (Sinks.readEsIndex(spark, esDir).count(),
      spark.read.text(splunkDir).count(),
      spark.read.parquet(dlqDir).select("raw_payload").as[String].collect().sorted.toSeq,
      files(esDir, ".parquet"), files(splunkDir, ".jsonl"), files(dlqDir, ".parquet"))

    StreamingFanOut.processRawBatch(raw, "data", esDir, splunkDir, dlqDir,
      PipelineConfig(), metrics, batchId = 7)
    val first = state()
    StreamingFanOut.processRawBatch(raw, "data", esDir, splunkDir, dlqDir,
      PipelineConfig(), metrics, batchId = 7)
    assert(state() == first)
    assert(first._1 == 12 && first._2 == 12 && first._3 == poison.sorted)
    assert(metrics.deadLettered.value == 4, "each pass counts what it quarantined")
  }

  test("queries on different checkpoints share the sink dirs without replacing each other's files") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (esDir, splunkDir, dlqDir) = (tmp("es"), tmp("splunk"), tmp("dlq"))
    // both lineages start at batch 0 and deliver in one task each, so
    // without a lineage in the tag their files would have the same names
    val poison = Seq(b64("not json"), b64("""{"kind_id": 7}"""))
    for ((ids, bad) <- Seq((1 to 3, poison(0)), (4 to 6, poison(1)))) {
      val stream = MemoryStream[String]
      val q = StreamingFanOut.startRaw(stream.toDF().withColumnRenamed("value", "data"), "data",
        esDir, splunkDir, dlqDir, tmp("ckpt"), PipelineConfig(), SinkMetrics(spark))
      stream.addData(ids.map(i => b64(recJson(i))) :+ bad: _*)
      q.processAllAvailable()
      q.stop()
    }

    assert(Sinks.readEsIndex(spark, esDir).select("_id").as[String].collect().sorted.toSeq ==
      (1 to 6).map(i => s"id-$i"))
    assert(spark.read.text(splunkDir).count() == 6)
    assert(spark.read.parquet(dlqDir).select("raw_payload").as[String].collect().sorted.toSeq ==
      poison.sorted)
  }

  test("the simulators' parquet files follow the caller's session write settings") {
    val session = spark.newSession()
    import session.implicits._
    session.conf.set("spark.sql.parquet.compression.codec", "gzip")
    session.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    val (esDir, dlqDir) = (tmp("es"), tmp("dlq"))
    val docs = Seq(("id-1", "2026-02-18T10:00:00")).toDF("random_id", "datetime")
      .withColumn("ts", to_timestamp(col("datetime")))
    assert(Sinks.writeEsBulk(docs, esDir, "audit-", SinkMetrics(session), Sinks.acceptAllBulk) == 1)
    assert(Sinks.writeDeadLetter(Seq("p1").toDF("_raw"), dlqDir, "b000001") == 1)

    def footer(dir: String) = {
      val file = Files.walk(Paths.get(dir)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      assert(file.size == 1, file)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        new org.apache.parquet.io.LocalInputFile(file.head))
      try reader.getFooter finally reader.close()
    }
    for (dir <- Seq(esDir, dlqDir))
      assert(footer(dir).getBlocks.asScala.flatMap(_.getColumns.asScala).map(_.getCodec).toSet ==
        Set(org.apache.parquet.hadoop.metadata.CompressionCodecName.GZIP))
    val ts = footer(esDir).getFileMetaData.getSchema.getFields.asScala.find(_.getName == "ts")
    assert(ts.exists(_.getLogicalTypeAnnotation.toString.contains("MILLIS")), ts)
  }

  test("a hidden (unfinished) file is invisible to the ES index and DLQ reads") {
    import spark.implicits._
    val (esDir, splunkDir, dlqDir) = (tmp("es"), tmp("splunk"), tmp("dlq"))
    val raw = Seq(b64(recJson(1)), b64("not json")).toDF("data")
    StreamingFanOut.processRawBatch(raw, "data", esDir, splunkDir, dlqDir,
      PipelineConfig(), SinkMetrics(spark), batchId = 1)
    // a torn write: half a parquet file under the writers' temp name
    for (d <- Seq(Paths.get(esDir, "index_date=2026-02-18"), Paths.get(dlqDir, "dl_batch=b000001")))
      Files.write(d.resolve(".part-b000002-00000.parquet.9.tmp"), "PAR1 torn".getBytes)
    assert(Sinks.readEsIndex(spark, esDir).count() == 1)
    assert(spark.read.parquet(dlqDir).count() == 1)
  }

  test("dead-letter write is idempotent per batch tag (foreachBatch retry semantics)") {
    import spark.implicits._
    // foreachBatch re-runs a whole epoch after a downstream sink failure;
    // the DLQ write for that epoch must replace its own partition, not
    // append the same quarantined payloads a second time.
    val dlq = tmp("dlq_idem")
    val dead = Seq("p1", "p2").toDF("_raw")
    assert(Sinks.writeDeadLetter(dead, dlq, "b000001") == 2)
    assert(Sinks.writeDeadLetter(dead, dlq, "b000001") == 2) // epoch retry
    assert(spark.read.parquet(dlq).count() == 2, "retry must not duplicate")
    // a different epoch lands alongside, untouched by later overwrites
    assert(Sinks.writeDeadLetter(Seq("p3").toDF("_raw"), dlq, "b000002") == 1)
    assert(spark.read.parquet(dlq).count() == 3)
    // a clean epoch never touches the directory — in particular it must
    // not overwrite an existing partition if its tag collides (b000001
    // here), because the DLQ retains payloads until replay
    assert(Sinks.writeDeadLetter(Seq.empty[String].toDF("_raw"), dlq, "b000001") == 0)
    assert(spark.read.parquet(dlq).count() == 3, "empty epoch must not destroy retained rows")
  }

  test("auth mode: secret with credentials selects basic, otherwise sigv4, recorded in sink transport metadata (lambda_function.py:61-74)") {
    import spark.implicits._
    val basic = PipelineConfig.fromSecrets(
      Map("master_user_name" -> "admin", "master_user_password" -> "s3cret"))
    assert(basic.esAuthMode == graft.streaming.AuthMode.Basic)
    val iam = PipelineConfig.fromSecrets(Map("es_index_prefix" -> "audit-"))
    assert(iam.esAuthMode == graft.streaming.AuthMode.SigV4)
    // one credential alone is not a basic-auth pair
    assert(PipelineConfig.fromSecrets(Map("master_user_name" -> "admin"))
      .esAuthMode == graft.streaming.AuthMode.SigV4)

    // the sink simulator records the transport it would build the client with
    val batch = graft.pipeline.AuditPipeline.decodeKinesis(
      Seq(b64(recJson(1))).toDF("data"), "data")
    for ((config, expect) <- Seq((basic, "\"auth_mode\":\"basic\""),
        (iam, "\"auth_mode\":\"sigv4\""))) {
      val (esDir, splunkDir) = (tmp("es"), tmp("splunk"))
      StreamingFanOut.processBatch(batch, esDir, splunkDir, config, SinkMetrics(spark))
      val meta = Sinks.readTransportMeta(esDir)
      assert(meta.contains(expect), s"transport meta: $meta")
      assert(meta.contains("\"use_ssl\":true") && meta.contains("\"http_compress\":true"))
      // the marker must not leak into the index read (Hadoop `_` convention)
      assert(Sinks.readEsIndex(spark, esDir).count() == 1)
    }
  }

  test("splunk chunks are <= maxBatchSize and preserve all events (lambda_function.py:115,128-134)") {
    import spark.implicits._
    val splunkDir = tmp("splunk")
    val metrics = SinkMetrics(spark)
    val n = 23
    val df = Seq.tabulate(n)(i => (s"id-$i", i)).toDF("random_id", "kind_id")
    Sinks.writeSplunk(df, splunkDir, "audit-splunk", metrics, maxBatchSize = 5)

    val files = Files.list(Paths.get(splunkDir)).iterator().asScala.toSeq
    val sizes = files.map(f => Files.readAllLines(f).size())
    assert(sizes.forall(_ <= 5), s"chunk over limit: $sizes")
    assert(sizes.sum == n)
    assert(metrics.splunkSuccess.value == n && metrics.splunkTotal.value == n)
    // envelope shape of the first line
    val first = spark.read.json(s"$splunkDir/*.jsonl")
    assert(first.columns.sorted.toSeq == Seq("event", "index", "sourcetype"))
  }
}

object StreamingFanOutSpec {
  /** Per-doc attempt counter for the fault-injecting transport: a JVM-wide
    * map because the transport closure runs in executor tasks (same JVM
    * under local[*]). */
  val attempts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
}
