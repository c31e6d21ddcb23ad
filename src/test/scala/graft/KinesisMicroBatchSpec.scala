package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.streaming.{HttpTransports, PipelineConfig, SinkMetrics, Sinks, StreamingFanOut}
import org.apache.spark.sql.DataFrame
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The DataSourceV2 MicroBatchStream Kinesis source, driven against a
  * MUTABLE loopback server speaking the real wire protocol (records are
  * appended between micro-batches, exactly how a live stream behaves):
  *
  *  - per-shard offsets advance trigger-over-trigger, every record
  *    delivered exactly once while the query runs;
  *  - a RESTARTED query resumes from the checkpointed offset with an
  *    `AFTER_SEQUENCE_NUMBER` iterator (asserted on the server's call
  *    log) and delivers only post-checkpoint records;
  *  - per-trigger admission is bounded by limitPerPoll × maxPollsPerShard
  *    (the Lambda poll unit, lambda_function.py:140-141);
  *  - under a producer that appends during every poll, the tip probe
  *    stops at the page that reports the tip (≤ 2 GetRecords per shard
  *    per trigger, also visible in the source metrics) instead of
  *    chasing the tip for the whole poll budget;
  *  - end-to-end: `StreamingFanOut.startKinesis` drives the wire source
  *    through the dead-letter fan-out into both sinks, and a simulated
  *    crash-before-commit (newest commit-log entry removed) redelivers
  *    the final batch idempotently — same ES doc count via `_id`, same
  *    Splunk lines via the epoch tag.
  */
class KinesisMicroBatchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private val mapper = new ObjectMapper()

  // ---- mutable loopback Kinesis: records appended while streams run ----
  private val shard0 = "shardId-000000000000"
  private val shard1 = "shardId-000000000001"
  private val store: Map[String, ArrayBuffer[String]] =
    Map(shard0 -> ArrayBuffer.empty[String], shard1 -> ArrayBuffer.empty[String])
  /** (shardId, iteratorType, startingSequenceNumber) per GetShardIterator. */
  private val iteratorCalls = new ConcurrentLinkedQueue[(String, String, String)]()
  /** X-Graft-Origin header of every payload-bearing GetRecords call —
    * the wire evidence that tip discovery and reads run on executors. */
  private val getRecordsOrigins = new ConcurrentLinkedQueue[String]()
  /** When > 0, the next GetRecords calls return an EMPTY page with
    * MillisBehindLatest > 0 and a same-position iterator — the legal
    * real-Kinesis transient that must not stall tip discovery or fail
    * the reader. */
  private val hiccups = new java.util.concurrent.atomic.AtomicInteger(0)
  /** When > 0, each GetRecords page that reaches the tip spends one unit
    * to append one new record to its shard AFTER the page is computed — a
    * live producer that always outruns the reader by one record, so
    * every probe page is non-empty and reports `MillisBehindLatest: 0`. */
  private val trickle = new java.util.concurrent.atomic.AtomicInteger(0)
  /** GetRecords pages per iterator chain (one chain per GetShardIterator,
    * carried through NextShardIterator) — the length of each probe or
    * read, as seen on the wire. */
  private val chainPages = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val chains = new java.util.concurrent.atomic.AtomicInteger(0)

  private var server: HttpServer = _
  private def endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}/"

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def recJson(id: Int): String =
    s"""{"datetime": "2026-02-18T10:30:0${id % 10}", "random_id": "id-$id",
       |"kind_id": $id, "account_id": 1, "ip": "1.2.3.$id",
       |"request_url": "https://x/$id", "http_method": "GET"}"""
      .stripMargin.replace("\n", " ")
  private def push(shard: String, payloads: String*): Unit =
    store(shard).synchronized { store(shard) ++= payloads }

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val target = ex.getRequestHeaders.getFirst("X-Amz-Target")
      val body = mapper.readTree(HttpTransports.readAll(ex.getRequestBody))
      def reply(status: Int, json: String): Unit = {
        val bytes = json.getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(status, bytes.length)
        ex.getResponseBody.write(bytes); ex.close()
      }
      target match {
        case "Kinesis_20131202.ListShards" =>
          if (body.path("StreamName").asText() != "audit-stream")
            reply(400, """{"__type":"ResourceNotFoundException"}""")
          else reply(200, store.keys.toSeq.sorted
            .map(s => s"""{"ShardId":"$s"}""").mkString("""{"Shards":[""", ",", "]}"))
        case "Kinesis_20131202.GetShardIterator" =>
          val shard = body.path("ShardId").asText()
          val typ = body.path("ShardIteratorType").asText()
          val seq = body.path("StartingSequenceNumber").asText("")
          iteratorCalls.add((shard, typ, seq))
          if (!store.contains(shard)) reply(400, """{"__type":"ResourceNotFoundException"}""")
          else {
            val pos = typ match {
              case "TRIM_HORIZON" => 0
              case "AT_SEQUENCE_NUMBER" => seq.toInt
              case "AFTER_SEQUENCE_NUMBER" => seq.toInt + 1
              case "LATEST" => store(shard).synchronized(store(shard).size)
              case other => -1
            }
            if (pos < 0) reply(400, s"""{"__type":"InvalidArgumentException","t":"$typ"}""")
            else reply(200, s"""{"ShardIterator":"it|$shard|$pos|${chains.incrementAndGet()}"}""")
          }
        case "Kinesis_20131202.GetRecords" =>
          getRecordsOrigins.add(
            Option(ex.getRequestHeaders.getFirst("X-Graft-Origin"))
              .getOrElse("unknown"))
          val Array(_, shard, posS, chain) = body.path("ShardIterator").asText().split('|')
          val limit = body.path("Limit").asInt(500)
          val pos = posS.toInt
          chainPages.merge(chain.toInt, 1, _ + _)
          if (hiccups.getAndUpdate(n => math.max(0, n - 1)) > 0) {
            // transient empty page: same-position iterator, still behind
            reply(200, s"""{"Records":[],"NextShardIterator":"it|$shard|$pos|$chain","MillisBehindLatest":5000}""")
          } else {
            val (recs, behind) = store(shard).synchronized {
              val r = store(shard).slice(pos, pos + limit).toIndexedSeq
              val b = math.max(0, store(shard).size - (pos + r.size)) * 1000L
              if (b == 0) {
                val left = trickle.getAndUpdate(n => math.max(0, n - 1))
                if (left > 0) store(shard) += b64(recJson(1000 + left))
              }
              (r, b)
            }
            val items = recs.zipWithIndex.map { case (d, i) =>
              s"""{"ShardId":"$shard","PartitionKey":"pk-${pos + i}","SequenceNumber":"${pos + i}","Data":"$d"}"""
            }.mkString(",")
            reply(200, s"""{"Records":[$items],"NextShardIterator":"it|$shard|${pos + recs.size}|$chain","MillisBehindLatest":$behind}""")
          }
        case other => reply(400, s"""{"__type":"UnknownOperationException","target":"$other"}""")
      }
    })
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.start()
  }
  override def afterAll(): Unit = if (server != null) server.stop(0)

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Collects (batchId, shard, seq, random_id-ish payload) per batch. */
  private def collectTo(buf: ConcurrentLinkedQueue[(Long, String, String)])(
      batch: DataFrame, batchId: Long): Unit =
    batch.select("shard_id", "sequence_number").collect()
      .foreach(r => buf.add((batchId, r.getString(0), r.getString(1))))

  // shared across the first two tests: the checkpoint the restart resumes
  private val resumeCkpt = tmp("kinesis_ckpt")

  test("per-shard offsets advance; records delivered exactly once across triggers") {
    val buf = new ConcurrentLinkedQueue[(Long, String, String)]()
    push(shard0, (1 to 5).map(i => b64(recJson(i))): _*)
    push(shard1, (6 to 8).map(i => b64(recJson(i))): _*)

    val q = graft.sources.KinesisMicroBatchSource
      .readStream(spark, endpoint, "audit-stream", limitPerPoll = 2)
      .writeStream
      .option("checkpointLocation", resumeCkpt)
      .foreachBatch(collectTo(buf) _)
      .start()
    q.processAllAvailable()
    val first = buf.asScala.toSeq
    assert(first.map(t => (t._2, t._3)).toSet ==
      ((0 to 4).map(i => (shard0, i.toString)) ++
        (0 to 2).map(i => (shard1, i.toString))).toSet,
      s"all 8 records exactly once, got $first")

    // live append between triggers: only the new records arrive
    push(shard0, b64(recJson(9)), b64(recJson(10)))
    q.processAllAvailable()
    q.stop()
    val second = buf.asScala.toSeq.diff(first)
    assert(second.map(t => (t._2, t._3)).toSet ==
      Set((shard0, "5"), (shard0, "6")),
      s"append delivered exactly the new records, got $second")
  }

  test("restart resumes from the checkpointed offset via AFTER_SEQUENCE_NUMBER") {
    // records appended while the query is DOWN
    push(shard0, b64(recJson(11)))
    push(shard1, b64(recJson(12)))
    iteratorCalls.clear()

    val buf = new ConcurrentLinkedQueue[(Long, String, String)]()
    val q = graft.sources.KinesisMicroBatchSource
      .readStream(spark, endpoint, "audit-stream", limitPerPoll = 2)
      .writeStream
      .option("checkpointLocation", resumeCkpt) // same checkpoint as above
      .foreachBatch(collectTo(buf) _)
      .start()
    q.processAllAvailable()
    q.stop()

    assert(buf.asScala.map(t => (t._2, t._3)).toSet ==
      Set((shard0, "7"), (shard1, "3")),
      s"only post-checkpoint records after restart, got ${buf.asScala.toSeq}")
    // the wire proves the resume: first iterator per shard is
    // AFTER_SEQUENCE_NUMBER at the checkpointed position, never TRIM_HORIZON
    val firstByShard = iteratorCalls.asScala.toSeq
      .groupBy(_._1).map { case (s, calls) => s -> calls.head }
    assert(firstByShard(shard0) == ((shard0, "AFTER_SEQUENCE_NUMBER", "6")),
      s"shard0 must resume after seq 6: ${iteratorCalls.asScala.toSeq}")
    assert(firstByShard(shard1) == ((shard1, "AFTER_SEQUENCE_NUMBER", "2")),
      s"shard1 must resume after seq 2: ${iteratorCalls.asScala.toSeq}")
    assert(!iteratorCalls.asScala.exists(_._2 == "TRIM_HORIZON"),
      "a resumed stream must never fall back to TRIM_HORIZON")
  }

  test("per-trigger admission is bounded by limitPerPoll * maxPollsPerShard") {
    val buf = new ConcurrentLinkedQueue[(Long, String, String)]()
    push(shard0, (20 to 28).map(i => b64(recJson(i))): _*)
    val q = graft.sources.KinesisMicroBatchSource
      .readStream(spark, endpoint, "audit-stream",
        limitPerPoll = 2, maxPollsPerShard = 1)
      .writeStream
      .option("checkpointLocation", tmp("kinesis_ckpt_bounded"))
      .foreachBatch(collectTo(buf) _)
      .start()
    q.processAllAvailable()
    q.stop()
    val byBatch = buf.asScala.toSeq.groupBy(_._1)
    // 2 shards x <= 2 records per trigger; fresh checkpoint reads all
    // history, so there must be several triggers, none over the cap
    assert(byBatch.values.forall(_.size <= 4),
      s"admission cap violated: ${byBatch.view.mapValues(_.size).toMap}")
    assert(byBatch.size >= 5,
      s"bounded admission must split the backlog: ${byBatch.size} batches")
    // and nothing was lost or duplicated under the paging
    val s0 = buf.asScala.toSeq.filter(_._2 == shard0).map(_._3.toInt).sorted
    assert(s0 == (0 until store(shard0).size).toList)
  }

  test("tip discovery and payload reads run on executors — the driver issues no GetRecords") {
    getRecordsOrigins.clear()
    val buf = new ConcurrentLinkedQueue[(Long, String, String)]()
    push(shard0, b64(recJson(40)), b64(recJson(41)))
    val q = graft.sources.KinesisMicroBatchSource
      .readStream(spark, endpoint, "audit-stream", limitPerPoll = 2)
      .writeStream
      .option("checkpointLocation", tmp("kinesis_ckpt_origin"))
      .foreachBatch(collectTo(buf) _)
      .start()
    q.processAllAvailable()
    q.stop()
    val origins = getRecordsOrigins.asScala.toSeq
    assert(origins.nonEmpty, "the run must have issued GetRecords calls")
    assert(origins.forall(_ == "task"),
      s"a payload-bearing GetRecords came from the driver: $origins")
    assert(buf.asScala.nonEmpty, "records were delivered")
  }

  test("empty pages with MillisBehindLatest > 0 neither stall the probe nor fail the reader") {
    val buf = new ConcurrentLinkedQueue[(Long, String, String)]()
    push(shard1, b64(recJson(50)), b64(recJson(51)))
    hiccups.set(6) // next 6 GetRecords return empty pages, still behind tip
    val q = graft.sources.KinesisMicroBatchSource
      .readStream(spark, endpoint, "audit-stream", limitPerPoll = 2)
      .writeStream
      .option("checkpointLocation", tmp("kinesis_ckpt_hiccup"))
      .foreachBatch(collectTo(buf) _)
      .start()
    q.processAllAvailable()
    q.stop()
    hiccups.set(0)
    // despite the transient empties, the full shard history (fresh
    // checkpoint = TRIM_HORIZON) arrives exactly once — the probe did not
    // under-advance on the empty page, and the reader kept polling
    val s1 = buf.asScala.toSeq.filter(_._2 == shard1).map(_._3.toInt).sorted
    assert(s1 == (0 until store(shard1).size).toList,
      s"shard1 history complete and unique, got $s1")
    val all = buf.asScala.toSeq.map(t => (t._2, t._3))
    assert(all.distinct.size == all.size, "no duplicates under hiccups")
  }

  test("a probe under a producer that appends on every poll stops at the tip, not the poll budget") {
    val buf = new ConcurrentLinkedQueue[(Long, String, String)]()
    push(shard0, b64(recJson(60)))
    push(shard1, b64(recJson(61)))
    chainPages.clear()
    // more appends than the poll budget of both shards: a probe that only
    // stops on an EMPTY page would use all maxPollsPerShard pages
    trickle.set(24)
    val q = graft.sources.KinesisMicroBatchSource
      .readStream(spark, endpoint, "audit-stream", maxPollsPerShard = 10)
      .writeStream
      .option("checkpointLocation", tmp("kinesis_ckpt_trickle"))
      .foreachBatch(collectTo(buf) _)
      .start()
    try q.processAllAvailable() finally q.stop()
    val leftOver = trickle.getAndSet(0)
    assert(leftOver == 0, s"the run must consume the whole trickle, $leftOver left")

    // on the wire: every chain (a probe or a read, one GetShardIterator
    // each) takes at most 2 GetRecords pages
    val pages = chainPages.asScala.values.toSeq
    assert(pages.nonEmpty && pages.max <= 2,
      s"a probe or read chased the tip: pages per chain ${pages.sorted.reverse.take(8)}")
    // in the source metrics: each trigger's probe, per shard
    val probePolls = q.recentProgress.toSeq.flatMap(_.sources.head.metrics.asScala)
      .collect { case (k, v) if k.startsWith("probePolls.") => v.toInt }
    assert(probePolls.nonEmpty && probePolls.max <= 2,
      s"per-shard probe polls per trigger: $probePolls")
    val lastMetrics = q.lastProgress.sources(0).metrics.asScala
    assert(Seq(shard0, shard1).forall(sh =>
      lastMetrics.get(s"probePolls.$sh").exists(_.toInt <= 2) &&
        lastMetrics.get(s"millisBehindLatest.$sh").contains("0")),
      s"last trigger's source metrics: $lastMetrics")

    // once the trickle ends, every record of the fresh-checkpoint run
    // (the full shard history) arrives exactly once
    Seq(shard0, shard1).foreach { sh =>
      val seqs = buf.asScala.toSeq.filter(_._2 == sh).map(_._3.toInt).sorted
      assert(seqs == (0 until store(sh).size).toList,
        s"$sh history complete and unique, got $seqs")
    }
  }

  test("caughtUp: MillisBehindLatest decides when reported; otherwise only an empty page") {
    import graft.sources.{KinesisPage, KinesisRecord}
    val one = Seq(KinesisRecord(shard0, "pk-0", "0", "e30="))
    val cases = Seq(
      (Seq.empty[KinesisRecord], None, true),
      (Seq.empty[KinesisRecord], Some(0L), true),
      (Seq.empty[KinesisRecord], Some(5000L), false),
      (one, None, false),
      (one, Some(0L), true),
      (one, Some(5000L), false))
    cases.foreach { case (recs, behind, expected) =>
      assert(KinesisPage(recs, Some("it"), behind).caughtUp == expected,
        s"records=${recs.size} millisBehindLatest=$behind")
    }
  }

  test("end-to-end: wire source through both sinks; crash-before-commit redelivers idempotently") {
    val (esDir, splunkDir, dlqDir) = (tmp("es"), tmp("splunk"), tmp("dlq"))
    val ckpt = tmp("kinesis_ckpt_e2e")
    val metrics = SinkMetrics(spark)
    // fresh records + one poison payload into the live stream
    push(shard1, b64(recJson(30)), b64("not json"), b64(recJson(31)))

    val q = StreamingFanOut.startKinesis(spark, endpoint, "audit-stream",
      esDir, splunkDir, dlqDir, ckpt, PipelineConfig(), metrics,
      limitPerPoll = 500)
    q.processAllAvailable()
    q.stop()

    val es = Sinks.readEsIndex(spark, esDir)
    val esCount = es.count()
    val splunkCount = spark.read.json(s"$splunkDir/*.jsonl").count()
    assert(esCount > 0 && splunkCount == esCount,
      s"both sinks see the decoded stream: es=$esCount splunk=$splunkCount")
    assert(spark.read.parquet(dlqDir).count() >= 1,
      "the poison payload lands in the dead-letter quarantine")
    val esIds = es.select("_id").collect().map(_.getString(0)).toSet
    assert(Set("id-30", "id-31").subsetOf(esIds))

    // simulate crash-before-commit: drop the newest commit-log entry so
    // the restarted query REDELIVERS the final batch from the wire
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty)
    assert(commits.last.delete(), "failed to remove the newest commit entry")
    // the local FS keeps a Hadoop checksum sidecar; a stale one makes the
    // re-written commit look like a concurrent writer
    new java.io.File(s"$ckpt/commits/.${commits.last.getName}.crc").delete()

    val q2 = StreamingFanOut.startKinesis(spark, endpoint, "audit-stream",
      esDir, splunkDir, dlqDir, ckpt, PipelineConfig(), metrics,
      limitPerPoll = 500)
    q2.processAllAvailable()
    q2.stop()

    assert(Sinks.readEsIndex(spark, esDir).count() == esCount,
      "ES redelivery is idempotent via _id")
    assert(spark.read.json(s"$splunkDir/*.jsonl").count() == splunkCount,
      "Splunk redelivery overwrites its epoch tag, not duplicates")
  }

  test("offset JSON roundtrip is stable and order-independent") {
    import graft.sources.KinesisOffset
    val off = KinesisOffset(Map(shard1 -> "17", shard0 -> "3"))
    assert(off.json() ==
      s"""{"$shard0":"3","$shard1":"17"}""")
    assert(KinesisOffset.fromJson(off.json()) == off)
    assert(KinesisOffset(Map(shard0 -> "3", shard1 -> "17")).json() == off.json())
  }
}
