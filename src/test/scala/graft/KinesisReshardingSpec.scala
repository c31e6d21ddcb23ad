package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import graft.sources.{KinesisMicroBatchSource, KinesisOffset, LoopbackKinesisServer, ShardPos}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Kinesis RESHARDING lineage — the one production behavior of the
  * reference's upstream that Lambda's event source mapping provides for
  * free (lambda_function.py:140 always sees a closed parent drained
  * before its children) and a from-scratch DSv2 source must enforce
  * itself. Driven against [[LoopbackKinesisServer]] serving mid-stream
  * `split`/`merge` with real wire semantics (ParentShardId lineage in
  * ListShards, EndingSequenceNumber on closed shards, NULL
  * NextShardIterator at a closed shard's end):
  *
  *  - a child shard never shares a micro-batch with (or precedes) its
  *    closed parent's remaining records — parent-before-child order,
  *    the per-partition-key ordering contract across a split;
  *  - the parent-done fact is durable IN THE CHECKPOINT OFFSET: a
  *    restart across the split issues ZERO wire reads for the drained
  *    parent (asserted on the server's call log) and resumes children
  *    with AFTER_SEQUENCE_NUMBER;
  *  - a merge child waits for BOTH parents to drain;
  *  - no loss, no duplicates, per-shard order — before, across, and
  *    after the reshard.
  */
class KinesisReshardingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def recs(ids: Range): IndexedSeq[String] =
    ids.map(i => b64(s"""{"random_id":"id-$i","kind_id":$i}""")).toIndexedSeq
  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Run the wire source over `endpoint` until quiescent, appending
    * (batchId, shard, seq) rows to `buf`. */
  private def run(endpoint: String, stream: String, ckpt: String,
      buf: ConcurrentLinkedQueue[(Long, String, String)],
      limitPerPoll: Int = 2): Unit = {
    val q = KinesisMicroBatchSource
      .readStream(spark, endpoint, stream, limitPerPoll = limitPerPoll)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        b.select("shard_id", "sequence_number").collect()
          .foreach(r => buf.add((id, r.getString(0), r.getString(1))))
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  private val parent = "shardId-000000000000"
  private val childA = "shardId-000000000001"
  private val childB = "shardId-000000000002"

  // shared across the first two tests: the split survives a restart
  private val splitServer =
    new LoopbackKinesisServer("reshard-split", Seq(parent -> recs(0 until 4)))
  private val splitCkpt = tmp("reshard_split_ckpt")
  private var splitEndpoint: String = _

  test("split mid-stream: parent drains fully before any child record, exactly once") {
    splitEndpoint = splitServer.start()
    val endpoint = splitEndpoint
    val buf = new ConcurrentLinkedQueue[(Long, String, String)]()

    // phase 1: plain open-shard consumption
    run(endpoint, "reshard-split", splitCkpt, buf)
    assert(buf.asScala.map(t => (t._2, t._3)).toSet ==
      (0 until 4).map(i => (parent, i.toString)).toSet)

    // phase 2: two more parent records, then the SPLIT — the stream is
    // down while the reshard happens (the common deploy window), but the
    // same sequence holds live because admission is offset-gated
    splitServer.append(parent, recs(4 until 6): _*)
    splitServer.split(parent, childA -> recs(10 until 13), childB -> recs(20 until 22))
    run(endpoint, "reshard-split", splitCkpt, buf)

    val all = buf.asScala.toSeq
    val expected =
      (0 until 6).map(i => (parent, i.toString)) ++
        (0 until 3).map(i => (childA, i.toString)) ++
        (0 until 2).map(i => (childB, i.toString))
    assert(all.map(t => (t._2, t._3)).sorted == expected.sorted.toList,
      s"every record exactly once across the split, got $all")

    // the ordering contract: every child record's batch is strictly
    // after the batch that carried the parent's LAST record
    val lastParentBatch = all.filter(_._2 == parent).map(_._1).max
    val childBatches = all.filter(t => t._2 == childA || t._2 == childB).map(_._1)
    assert(childBatches.nonEmpty && childBatches.min > lastParentBatch,
      s"children must start strictly after the parent drains: " +
        s"parent last batch=$lastParentBatch, child batches=$childBatches")

    // per-shard in-order delivery within the run
    Seq(parent, childA, childB).foreach { sh =>
      val seqs = all.filter(_._2 == sh).sortBy(_._1).map(_._3.toInt)
      assert(seqs == seqs.sorted, s"$sh delivered out of order: $seqs")
    }
  }

  test("restart across the split: checkpointed done fact means zero parent reads") {
    val endpoint = splitEndpoint // the server stays up across the restart
    splitServer.append(childA, recs(13 until 15): _*)
    splitServer.clearCalls()

    val buf = new ConcurrentLinkedQueue[(Long, String, String)]()
    run(endpoint, "reshard-split", splitCkpt, buf)

    assert(buf.asScala.map(t => (t._2, t._3)).toSet ==
      Set((childA, "3"), (childA, "4")),
      s"only the new child records after restart, got ${buf.asScala.toSeq}")

    // the wire proves the checkpoint carried the parent-done fact: the
    // drained parent gets NO iterator and NO read of any kind
    val parentCalls = splitServer.calls.filter(c => c._2 == parent)
    assert(parentCalls.isEmpty,
      s"drained parent must receive zero wire reads after restart: $parentCalls")
    // children resume by sequence number, never TRIM_HORIZON
    val childIterators = splitServer.calls
      .filter(c => c._1 == "GetShardIterator" && c._2 == childA)
    assert(childIterators.nonEmpty &&
      childIterators.forall(_._3.startsWith("AFTER_SEQUENCE_NUMBER")),
      s"child must resume AFTER_SEQUENCE_NUMBER: $childIterators")
    splitServer.stop()
  }

  test("merge: the child waits for BOTH parents to drain") {
    val pA = "shardId-000000000010"
    val pB = "shardId-000000000011"
    val m = "shardId-000000000012"
    val server = new LoopbackKinesisServer("reshard-merge",
      Seq(pA -> recs(0 until 3), pB -> recs(5 until 7)))
    val endpoint = server.start()
    val ckpt = tmp("reshard_merge_ckpt")
    val buf = new ConcurrentLinkedQueue[(Long, String, String)]()
    try {
      run(endpoint, "reshard-merge", ckpt, buf)
      // a late record on one parent, then the merge closes both
      server.append(pA, recs(3 until 4): _*)
      server.merge(pA, pB, m -> recs(30 until 32))
      run(endpoint, "reshard-merge", ckpt, buf)

      val all = buf.asScala.toSeq
      val expected =
        (0 until 4).map(i => (pA, i.toString)) ++
          (0 until 2).map(i => (pB, i.toString)) ++
          (0 until 2).map(i => (m, i.toString))
      assert(all.map(t => (t._2, t._3)).sorted == expected.sorted.toList,
        s"every record exactly once across the merge, got $all")

      val lastParentBatch = all.filter(t => t._2 == pA || t._2 == pB).map(_._1).max
      val childBatches = all.filter(_._2 == m).map(_._1)
      assert(childBatches.nonEmpty && childBatches.min > lastParentBatch,
        s"merge child must start strictly after BOTH parents drain: " +
          s"parents last batch=$lastParentBatch, child batches=$childBatches")
    } finally server.stop()
  }

  test("empty closed parent: the |done marker with no sequence admits children") {
    val p = "shardId-000000000020"
    val c1 = "shardId-000000000021"
    val c2 = "shardId-000000000022"
    val server = new LoopbackKinesisServer("reshard-empty",
      Seq(p -> IndexedSeq.empty[String]))
    server.split(p, c1 -> recs(0 until 2), c2 -> recs(10 until 11))
    val endpoint = server.start()
    val buf = new ConcurrentLinkedQueue[(Long, String, String)]()
    try {
      run(endpoint, "reshard-empty", tmp("reshard_empty_ckpt"), buf)
      assert(buf.asScala.map(t => (t._2, t._3)).toSet ==
        Set((c1, "0"), (c1, "1"), (c2, "0")),
        s"children drain despite a record-less parent: ${buf.asScala.toSeq}")
    } finally server.stop()
  }

  test("admission gate at the API level: parent tail and children are in DIFFERENT batches") {
    import graft.sources.KinesisMicroBatchStream
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    spark // force the active session the distributed tip probe needs
    val p = "shardId-000000000030"
    val c1 = "shardId-000000000031"
    val c2 = "shardId-000000000032"
    val server = new LoopbackKinesisServer("reshard-api", Seq(p -> recs(0 until 3)))
    server.split(p, c1 -> recs(0 until 2), c2 -> recs(0 until 1))
    val endpoint = server.start()
    try {
      val stream = new KinesisMicroBatchStream(Map(
        "endpoint" -> endpoint, "streamname" -> "reshard-api",
        "limitperpoll" -> "500", "maxpollspershard" -> "100"))
      // trigger 1: only the closed parent is admissible; its end position
      // carries the done marker; children are absent from the offset
      val end0 = stream.latestOffset(KinesisOffset(Map.empty), ReadLimit.allAvailable())
        .asInstanceOf[KinesisOffset]
      assert(end0.positions == Map(p -> "2|done"),
        s"trigger 1 must end at the drained parent only: ${end0.positions}")
      val parts0 = stream.planInputPartitions(KinesisOffset(Map.empty), end0)
      assert(parts0.map(_.asInstanceOf[graft.sources.KinesisInputPartition].shardId)
        .toSeq == Seq(p), "trigger 1 plans exactly the parent partition")
      // trigger 2: with the parent done in the COMMITTED start, the
      // children are admitted; the parent's marker is carried verbatim
      val end1 = stream.latestOffset(end0, ReadLimit.allAvailable())
        .asInstanceOf[KinesisOffset]
      assert(end1.positions == Map(p -> "2|done", c1 -> "1", c2 -> "0"),
        s"trigger 2 admits the children: ${end1.positions}")
      val parts1 = stream.planInputPartitions(end0, end1)
        .map(_.asInstanceOf[graft.sources.KinesisInputPartition].shardId).sorted
      assert(parts1.toSeq == Seq(c1, c2),
        s"trigger 2 plans exactly the child partitions: ${parts1.toSeq}")
      // quiescence: a further trigger changes nothing and plans nothing
      val end2 = stream.latestOffset(end1, ReadLimit.allAvailable())
        .asInstanceOf[KinesisOffset]
      assert(end2 == end1, "no new data => identical offset")
      assert(stream.planInputPartitions(end1, end2).isEmpty)
    } finally server.stop()
  }

  test("closed parent read to its end on an at-tip page that still carries an iterator is done") {
    import graft.sources.KinesisMicroBatchStream
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    spark
    // A service that hands back a NextShardIterator on the page carrying a
    // closed shard's last record (MillisBehindLatest 0) and signals the
    // closed end (null iterator) only on the read past it. The probe stops
    // on the at-tip page, so the done marker must come from the listing's
    // EndingSequenceNumber, not from the null iterator.
    val p = "shardId-000000000040"
    val c = "shardId-000000000041"
    val data = Map(p -> recs(0 until 3), c -> recs(0 until 2))
    val reads = new ConcurrentLinkedQueue[String]()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val body = mapper.readTree(graft.streaming.HttpTransports.readAll(ex.getRequestBody))
      val json = ex.getRequestHeaders.getFirst("X-Amz-Target") match {
        case "Kinesis_20131202.ListShards" =>
          s"""{"Shards":[{"ShardId":"$p","SequenceNumberRange":{"StartingSequenceNumber":"0","EndingSequenceNumber":"2"}},""" +
            s"""{"ShardId":"$c","ParentShardId":"$p","SequenceNumberRange":{"StartingSequenceNumber":"0"}}]}"""
        case "Kinesis_20131202.GetShardIterator" =>
          val from = body.path("ShardIteratorType").asText() match {
            case "AFTER_SEQUENCE_NUMBER" => body.path("StartingSequenceNumber").asText().toInt + 1
            case _ => 0
          }
          s"""{"ShardIterator":"${body.path("ShardId").asText()}|$from"}"""
        case "Kinesis_20131202.GetRecords" =>
          val Array(shard, posS) = body.path("ShardIterator").asText().split('|')
          val pos = posS.toInt
          reads.add(shard)
          val page = data(shard).drop(pos)
          val items = page.indices.map(i =>
            s"""{"PartitionKey":"pk","SequenceNumber":"${pos + i}","Data":"${page(i)}"}""")
          val next =
            if (shard == p && page.isEmpty) "null" else s""""$shard|${pos + page.size}""""
          s"""{"Records":[${items.mkString(",")}],"NextShardIterator":$next,"MillisBehindLatest":0}"""
      }
      val bytes = json.getBytes("UTF-8")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes); ex.close()
    })
    server.start()
    try {
      val stream = new KinesisMicroBatchStream(Map(
        "endpoint" -> s"http://127.0.0.1:${server.getAddress.getPort}/",
        "streamname" -> "reshard-at-tip"))
      val end0 = stream.latestOffset(KinesisOffset(Map.empty), ReadLimit.allAvailable())
        .asInstanceOf[KinesisOffset]
      assert(end0.positions == Map(p -> "2|done"),
        s"the parent's at-tip end must carry the done marker: ${end0.positions}")
      assert(reads.asScala.toSeq == Seq(p),
        s"one GetRecords page settles the parent: ${reads.asScala.toSeq}")
      assert(stream.metrics(java.util.Optional.of(end0)).asScala ==
        Map(s"probePolls.$p" -> "1", s"storedRecords.$p" -> "3", s"millisBehindLatest.$p" -> "0"))
      val end1 = stream.latestOffset(end0, ReadLimit.allAvailable())
        .asInstanceOf[KinesisOffset]
      assert(end1.positions == Map(p -> "2|done", c -> "1"),
        s"the next trigger admits the child: ${end1.positions}")
    } finally server.stop(0)
  }

  test("ShardPos grammar and offset JSON stay backward-compatible") {
    assert(ShardPos.parse("17") == ShardPos(Some("17"), done = false))
    assert(ShardPos.parse("17|done") == ShardPos(Some("17"), done = true))
    assert(ShardPos.parse("|done") == ShardPos(None, done = true))
    assert(ShardPos(Some("17"), done = true).render == "17|done")
    assert(ShardPos(None, done = true).render == "|done")
    assert(ShardPos(Some("17"), done = false).render == "17")
    val off = KinesisOffset(Map("a" -> "3|done", "b" -> "17"))
    assert(KinesisOffset.fromJson(off.json()) == off,
      "done markers survive the offset JSON roundtrip")
  }
}
