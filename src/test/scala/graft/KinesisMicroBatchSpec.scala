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
  *  - each GetRecords page crosses the wire once: the reader takes the
  *    probe's pages from the executor's page store, the next probe
  *    continues on the previous probe's iterator (one GetShardIterator
  *    per shard for a whole run), an expired iterator reopens after the
  *    checkpointed tip, and a stored prefix that ends early is completed
  *    from the wire;
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
  /** (chain, shardId, position, records) per GetRecords page served. */
  private val pagesServed = new ConcurrentLinkedQueue[(Int, String, Int, Int)]()
  /** Chains whose next GetRecords the server rejects with HTTP 400
    * `ExpiredIteratorException`, as Kinesis does after five minutes. */
  private val expiredChains = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val expiredRejections = new java.util.concurrent.atomic.AtomicInteger(0)

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
          if (expiredChains.contains(chain.toInt)) {
            expiredRejections.incrementAndGet()
            reply(400, """{"__type":"ExpiredIteratorException","message":"Iterator expired"}""")
          } else if (hiccups.getAndUpdate(n => math.max(0, n - 1)) > 0) {
            chainPages.merge(chain.toInt, 1, _ + _)
            // transient empty page: same-position iterator, still behind
            reply(200, s"""{"Records":[],"NextShardIterator":"it|$shard|$pos|$chain","MillisBehindLatest":5000}""")
          } else {
            chainPages.merge(chain.toInt, 1, _ + _)
            val (recs, behind) = store(shard).synchronized {
              val r = store(shard).slice(pos, pos + limit).toIndexedSeq
              val b = math.max(0, store(shard).size - (pos + r.size)) * 1000L
              if (b == 0) {
                val left = trickle.getAndUpdate(n => math.max(0, n - 1))
                if (left > 0) store(shard) += b64(recJson(1000 + left))
              }
              (r, b)
            }
            pagesServed.add((chain.toInt, shard, pos, recs.size))
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
    // the restarted query's stream is a new instance: no iterator carried
    // over, and its reader took the pages its own first probe stored
    assert(iteratorCalls.size == 2,
      s"one iterator per shard after restart: ${iteratorCalls.asScala.toSeq}")
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
    iteratorCalls.clear()
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

    // on the wire: one chain per shard, opened by the first probe and
    // carried by every later one; no reader opened a chain, since the
    // store held every range
    assert(chainPages.size == 2 && iteratorCalls.size == 2,
      s"one iterator chain per shard, no reader chain: pages per chain " +
        s"${chainPages.asScala}, iterator calls ${iteratorCalls.asScala.toSeq}")
    // in the source metrics: each trigger's probe, per shard (the bound
    // per trigger that a chain spanning triggers no longer shows)
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

  /** Every record a partition reader emits, as (shard, seq). */
  private def readAll(part: org.apache.spark.sql.connector.read.InputPartition): Seq[(String, String)] = {
    val r = new graft.sources.KinesisPartitionReaderFactory().createReader(part)
    try Iterator.continually(r.next()).takeWhile(identity)
      .map(_ => (r.get().getUTF8String(0).toString, r.get().getUTF8String(2).toString)).toList
    finally r.close()
  }

  test("over a multi-trigger run each page crosses the wire once, on one iterator per shard") {
    val buf = new ConcurrentLinkedQueue[(Long, String, String)]()
    iteratorCalls.clear()
    pagesServed.clear()
    val q = graft.sources.KinesisMicroBatchSource
      .readStream(spark, endpoint, "audit-stream", limitPerPoll = 2)
      .writeStream
      .option("checkpointLocation", tmp("kinesis_ckpt_once"))
      .foreachBatch(collectTo(buf) _)
      .start()
    try {
      q.processAllAvailable() // the whole history, from TRIM_HORIZON
      (70 until 76).foreach { i =>
        push(if (i % 2 == 0) shard0 else shard1, b64(recJson(i)))
        q.processAllAvailable()
      }
    } finally q.stop()

    val calls = iteratorCalls.asScala.toSeq
    assert(calls.sortBy(_._1) == Seq((shard0, "TRIM_HORIZON", ""), (shard1, "TRIM_HORIZON", "")),
      s"one GetShardIterator per shard for the whole run: $calls")
    val served = pagesServed.asScala.toSeq
    assert(served.map(_._1).distinct.size == 2,
      s"every page on the two probe chains, none on a reader chain: ${served.map(_._1).distinct}")
    val withRecords = served.filter(_._4 > 0).map(p => (p._2, p._3))
    assert(withRecords.distinct.size == withRecords.size,
      s"a page crossed the wire twice: ${withRecords.diff(withRecords.distinct)}")
    Seq(shard0, shard1).foreach { sh =>
      val seqs = buf.asScala.toSeq.filter(_._2 == sh).map(_._3.toInt)
      assert(seqs.sorted == (0 until store(sh).size).toList,
        s"$sh history complete and unique, got ${seqs.sorted}")
    }
    // the probes kept every record the batches delivered
    val stored = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      .flatMap(_.sources.head.metrics.asScala)
      .collect { case (k, v) if k.startsWith("storedRecords.") => v.toLong }.sum
    assert(stored == buf.size, s"storedRecords $stored for ${buf.size} records delivered")
  }

  test("an expired carried iterator reopens after the checkpointed tip; nothing lost or repeated") {
    val buf = new ConcurrentLinkedQueue[(Long, String, String)]()
    val q = graft.sources.KinesisMicroBatchSource
      .readStream(spark, endpoint, "audit-stream")
      .writeStream
      .option("checkpointLocation", tmp("kinesis_ckpt_expired"))
      .foreachBatch(collectTo(buf) _)
      .start()
    try {
      q.processAllAvailable()
      val tips = Seq(shard0, shard1).map(sh => sh -> (store(sh).size - 1)).toMap
      iteratorCalls.clear()
      expiredRejections.set(0)
      (1 to chains.get()).foreach(expiredChains.add)
      push(shard0, b64(recJson(80)), b64(recJson(81)))
      push(shard1, b64(recJson(82)))
      q.processAllAvailable()
      assert(expiredRejections.get() >= 2, "both carried iterators were rejected")
      val firstByShard = iteratorCalls.asScala.toSeq.groupBy(_._1).map { case (sh, c) => sh -> c.head }
      Seq(shard0, shard1).foreach { sh =>
        assert(firstByShard.get(sh).contains((sh, "AFTER_SEQUENCE_NUMBER", tips(sh).toString)),
          s"$sh reopens after its checkpointed tip ${tips(sh)}: ${iteratorCalls.asScala.toSeq}")
      }
    } finally { q.stop(); expiredChains.clear() }
    Seq(shard0, shard1).foreach { sh =>
      val seqs = buf.asScala.toSeq.filter(_._2 == sh).map(_._3.toInt)
      assert(seqs.sorted == (0 until store(sh).size).toList,
        s"$sh history complete and unique across the expiry, got ${seqs.sorted}")
    }
  }

  test("page store: the prefix that fits the bound, oldest-first eviction, taken once") {
    import graft.sources.{KinesisRecord, ProbePageStore}
    // records of exactly 200 estimated bytes each
    def rec(seq: Int): KinesisRecord = {
      val r = KinesisRecord("s", "pk", seq.toString, "")
      r.copy(data = "x" * (200 - ProbePageStore.bytesOf(r).toInt))
    }
    def page(seqs: Int*): IndexedSeq[KinesisRecord] = seqs.map(rec).toIndexedSeq
    val st = new ProbePageStore(1000)
    // a probe that overflows the bound keeps its first five records
    assert(st.put(("a", "s", None), List(page(1, 2, 3), page(4, 5, 6), page(7))) == 5)
    assert(st.usedBytes == 1000)
    assert(st.take(("a", "s", None)) == List(page(1, 2, 3), page(4, 5)))
    assert(st.take(("a", "s", None)) == Nil, "an entry is taken once")
    assert(st.usedBytes == 0)
    // room for a new entry is made by evicting the oldest
    st.put(("a", "s", Some("0")), List(page(1, 2)))
    st.put(("a", "s", Some("2")), List(page(3, 4)))
    st.put(("b", "s", Some("4")), List(page(5, 6)))
    assert(st.take(("a", "s", Some("0"))) == Nil, "the oldest entry was evicted")
    assert(st.take(("a", "s", Some("2"))) == List(page(3, 4)))
    // a stopped stream instance drops its entries, and only its own
    st.put(("a", "s", Some("6")), List(page(7)))
    st.dropInstance("a")
    assert(st.take(("a", "s", Some("6"))) == Nil)
    assert(st.take(("b", "s", Some("4"))) == List(page(5, 6)))
    assert(st.usedBytes == 0)
  }

  test("a reader whose stored prefix ends before endSeq reads the rest from the wire once") {
    import graft.sources.{KinesisInputPartition, KinesisRecord, ProbePageStore}
    while (store(shard0).synchronized(store(shard0).size) < 9) push(shard0, b64(recJson(90)))
    val data = store(shard0).synchronized(store(shard0).toIndexedSeq)
    def rec(i: Int) = KinesisRecord(shard0, s"pk-$i", i.toString, data(i))
    ProbePageStore.local.put(("reader-spec", shard0, Some("2")), List(IndexedSeq(rec(3), rec(4))))
    iteratorCalls.clear()
    pagesServed.clear()
    val part = KinesisInputPartition(endpoint, "audit-stream", shard0, Some("2"), "8",
      limitPerPoll = 2, Map.empty, "reader-spec", None)
    assert(readAll(part) == (3 to 8).map(i => (shard0, i.toString)))
    assert(iteratorCalls.asScala.toSeq == Seq((shard0, "AFTER_SEQUENCE_NUMBER", "4")),
      s"one iterator after the stored prefix: ${iteratorCalls.asScala.toSeq}")
    assert(pagesServed.asScala.toSeq.map(p => (p._3, p._4)) == Seq((5, 2), (7, 2)),
      s"the wire served only the missing pages: ${pagesServed.asScala.toSeq}")
  }

  test("a new stream instance reads a replayed range from the wire, not another instance's pages") {
    import graft.sources.{KinesisMicroBatchStream, KinesisOffset}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    spark
    val opts = Map("endpoint" -> endpoint, "streamname" -> "audit-stream",
      "limitperpoll" -> "500", "maxpollspershard" -> "100")
    val first = new KinesisMicroBatchStream(opts)
    val restarted = new KinesisMicroBatchStream(opts)
    val start = KinesisOffset(Map.empty)
    try {
      iteratorCalls.clear()
      val end = first.latestOffset(start, ReadLimit.allAvailable())
      assert(iteratorCalls.size == 2, "the probe opens one iterator per shard")
      val history = Seq(shard0, shard1).flatMap(sh =>
        (0 until store(sh).size).map(i => (sh, i.toString))).toSet
      // a restart replays the logged range without probing: its store is empty
      val replayed = restarted.planInputPartitions(start, end)
      assert(replayed.forall(_.preferredLocations().isEmpty))
      assert(replayed.flatMap(readAll).toSet == history)
      assert(iteratorCalls.size == 4, "each replayed partition opened its own iterator")
      // the probing instance's reader takes the stored pages, off the wire
      val probed = first.planInputPartitions(start, end)
      assert(probed.forall(_.preferredLocations().length == 1),
        "each partition prefers the executor that probed it")
      val fromStore = probed.toSeq.flatMap(readAll)
      assert(fromStore.size == history.size && fromStore.toSet == history)
      assert(iteratorCalls.size == 4, "the stored pages needed no wire call")
    } finally { first.stop(); restarted.stop() }
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
