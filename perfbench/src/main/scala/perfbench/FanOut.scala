package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.sources.LoopbackKinesisServer
import graft.streaming.{PipelineConfig, SinkMetrics, StreamingFanOut}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Seeded audit-record payloads in the reference's 18-field shape, already
  * base64-encoded as a Kinesis `Record.Data` carries them. */
object Records {
  private val users = IndexedSeq("john_doe", "jürgen.müller", "名前ユーザー",
    "ana-łucja", "søren", "ops-bot")
  private val agents = IndexedSeq("Mozilla/5.0", "curl/8.5.0",
    "Mozilla/5.0 (X11; Linux) Firefox/128.0 ünï", "python-requests/2.32",
    "Go-http-client/2.0 ✓")
  private val urls = IndexedSeq("/api/login", "/api/v1/repository/org/repo",
    "/api/v1/user/", "/api/v1/organization/team", "/signin")
  private val methods = IndexedSeq("GET", "POST", "PUT", "DELETE")
  private val auth = IndexedSeq("oauth", "cookie", "basic", "token")

  def b64(s: String): String = java.util.Base64.getEncoder.encodeToString(s.getBytes(UTF_8))

  private def q(s: String): String = "\"" + s + "\""

  /** One record's JSON. `day` (0-6) picks the date; `omit` drops a field. */
  def json(r: SplittableRandom, id: String, day: Int, emptyIp: Boolean,
      omit: String = ""): String = {
    val sec = r.nextInt(86400)
    val user = users(r.nextInt(users.size))
    val fields = Seq(
      "datetime" -> q(f"2026-02-${11 + day}%02dT${sec / 3600}%02d:${sec / 60 % 60}%02d:${sec % 60}%02d"),
      "random_id" -> q(id),
      "kind_id" -> r.nextInt(100).toString,
      "account_id" -> r.nextInt(100000).toString,
      "performer_id" -> r.nextInt(1000000).toString,
      "repository_id" -> r.nextInt(50000).toString,
      "ip" -> q(if (emptyIp) "" else s"10.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}"),
      "metadata" -> s"""{"oauth_token_id": ${r.nextInt(1000)}}""",
      "request_url" -> q(urls(r.nextInt(urls.size))),
      "http_method" -> q(methods(r.nextInt(methods.size))),
      "performer_username" -> q(user),
      "performer_email" -> q(s"$user@example.com"),
      "performer_kind" -> q(if (r.nextInt(10) == 0) "robot" else "user"),
      "auth_type" -> q(auth(r.nextInt(auth.size))),
      "user_agent" -> q(agents(r.nextInt(agents.size))),
      "request_id" -> q(s"req-${r.nextInt(Int.MaxValue)}"),
      "x_forwarded_for" -> q(s"192.168.${r.nextInt(256)}.${r.nextInt(256)}"))
    fields.filterNot(_._1 == omit).map { case (k, v) => q(k) + ": " + v }
      .mkString("{", ", ", "}")
  }

  /** A payload the pipeline must dead-letter. Four kinds: characters outside
    * the base64 alphabet (decodes to nothing), base64 of non-JSON text, and
    * JSON missing `random_id` or `datetime`. */
  def poison(r: SplittableRandom, id: String, kind: Int): String = kind match {
    case 0 => "%%!" + Seq.fill(8 + r.nextInt(8))("!#$%&*()~"(r.nextInt(9))).mkString
    case 1 => b64(s"not json {$id")
    case 2 => b64(json(r, id, r.nextInt(7), emptyIp = false, omit = "random_id"))
    case _ => b64(json(r, id, r.nextInt(7), emptyIp = false, omit = "datetime"))
  }
}

/** What a fixture promises: valid ids with their delivery multiplicity and
  * the poison payloads, so the sinks can be checked exactly. */
final case class Expected(validIds: Map[String, Int], poison: Seq[String]) {
  def offered: Long = validIds.values.sum.toLong + poison.size
}

/** The two streaming workloads, both driven only through
  * `StreamingFanOut.startKinesis` over `LoopbackKinesisServer`. */
final class FanOut(spark: SparkSession, work: String, shards: Int, spans: Spans) {
  private val shardIds = (0 until shards).map(i => f"shardId-$i%012d")
  private var runNo = 0

  private def dirs(label: String): (String, String, String, String) = {
    runNo += 1
    val base = Paths.get(work, f"$label-$runNo%02d")
    Files.createDirectories(base)
    (base.resolve("es").toString, base.resolve("splunk").toString,
      base.resolve("dlq").toString, base.resolve("ckpt").toString)
  }

  /** A dirty backlog of `total` records spread over the shards by the seed:
    * ~1% poison (four kinds), ~2% redelivered duplicates of earlier valid
    * records, dates over 7 days, ~5% empty `ip`, multi-byte strings. */
  def dirtyBacklog(seed: Long, total: Int, tag: String): (IndexedSeq[IndexedSeq[String]], Expected) = {
    val r = new SplittableRandom(seed)
    val out = Array.fill(shards)(new ArrayBuffer[String](total / shards + 16))
    val valid = new ArrayBuffer[(String, String)](total)
    val ids = mutable.HashMap.empty[String, Int]
    val poison = new ArrayBuffer[String]
    var i = 0
    while (i < total) {
      val u = r.nextInt(1000)
      val id = s"$tag-$i-${Integer.toHexString(r.nextInt())}"
      val payload =
        if (u < 10) { val p = Records.poison(r, id, u % 4); poison += p; p }
        else if (u < 30 && valid.nonEmpty) {
          val (dupId, p) = valid(r.nextInt(valid.size))
          ids(dupId) += 1
          p
        } else {
          val p = Records.b64(Records.json(r, id, r.nextInt(7), emptyIp = r.nextInt(20) == 0))
          valid += id -> p
          ids(id) = 1
          p
        }
      out(r.nextInt(shards)) += payload
      i += 1
    }
    (out.map(_.toIndexedSeq).toIndexedSeq, Expected(ids.toMap, poison.toSeq))
  }

  /** Start the fan-out over a loopback stream, run `drive` while it runs,
    * wait until everything offered is committed, stop, and check the sinks. */
  private def runQuery(label: String, fixture: IndexedSeq[IndexedSeq[String]])(
      drive: LoopbackKinesisServer => Expected): (Seq[Map[String, Any]], Map[String, Any], Double, LoopbackKinesisServer) = {
    val server = new LoopbackKinesisServer(s"pb-$label", shardIds.zip(fixture))
    val endpoint = server.start()
    val (es, splunk, dlq, ckpt) = dirs(label)
    val metrics = SinkMetrics(spark)
    try {
      val t0 = Clock.nowMs
      val q = StreamingFanOut.startKinesis(spark, endpoint, s"pb-$label",
        es, splunk, dlq, ckpt, PipelineConfig(), metrics)
      val expected = try {
        val e = drive(server)
        q.processAllAvailable()
        e
      } finally q.stop()
      q.exception.foreach(e => throw e)
      val progress = q.recentProgress.toSeq.map(progressRow)
      val check = spans.time(s"check:$label", label)(checkSinks(es, splunk, dlq, metrics, expected))
      (progress, check, t0, server)
    } finally server.stop()
  }

  private val mapper = new ObjectMapper()

  private def offsets(json: String): Map[String, Long] =
    if (json == null) Map.empty
    else {
      val node = mapper.readTree(json)
      node.fieldNames().asScala.map { f =>
        val v = node.path(f).asText().takeWhile(_ != '|')
        f -> (if (v.isEmpty) -1L else v.toLong)
      }.toMap
    }

  /** One progress report: trigger start, duration and phases, rows, and
    * the end offset per shard (in shard order, -1 before a shard's first
    * record) that maps records to the micro-batch that committed them. */
  private def progressRow(p: StreamingQueryProgress): Map[String, Any] = {
    val end = p.sources.headOption.map(x => offsets(x.endOffset)).getOrElse(Map.empty[String, Long])
    Map("batch" -> p.batchId,
      "ts" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "duration" -> p.batchDuration,
      "phases" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap,
      "rows" -> p.numInputRows,
      "end" -> shardIds.map(end.getOrElse(_, -1L)))
  }

  /** The correctness gate: ES distinct `_id` = distinct valid ids, one
    * Splunk line per valid record (duplicates included), one dead-letter
    * row per poison record and none for valid records, and every sink
    * counter reporting success = total. */
  private def checkSinks(es: String, splunk: String, dlq: String,
      m: SinkMetrics, exp: Expected): Map[String, Any] = {
    import spark.implicits._
    val esIds = spark.read.parquet(es).select("_id").distinct().as[String].collect().toSet
    val esMissing = exp.validIds.keySet.count(id => !esIds(id))
    val esExtra = esIds.count(id => !exp.validIds.contains(id))
    // a line without an id counts against the check under its own key
    val lines = spark.read.text(splunk)
      .select(coalesce(get_json_object(col("value"), "$.event.random_id"), lit("<no id>")).as("id"))
      .groupBy("id").count().as[(String, Long)].collect().toMap
    val splunkOff = (exp.validIds.keySet ++ lines.keySet).toSeq.map { id =>
      math.abs(lines.getOrElse(id, 0L) - exp.validIds.getOrElse(id, 0).toLong)
    }.sum
    val dead: Map[String, Int] =
      if (!Files.exists(Paths.get(dlq))) Map.empty
      else spark.read.parquet(dlq).select("raw_payload").as[String].collect()
        .groupBy(identity).map { case (k, v) => k -> v.length }
    val want = exp.poison.groupBy(identity).map { case (k, v) => k -> v.size }
    val dlqOff = (want.keySet ++ dead.keySet).toSeq.map(k =>
      math.abs(want.getOrElse(k, 0) - dead.getOrElse(k, 0))).sum
    val esDropped = m.esTotal.value - m.esSuccess.value
    val hecDropped = m.splunkTotal.value - m.splunkSuccess.value
    val esFiles = Files.walk(Paths.get(es)).iterator().asScala
      .count(p => p.toString.endsWith(".parquet"))
    val posts = Option(Paths.get(splunk).toFile.listFiles()).map(_.length).getOrElse(0)
    Map("offered" -> exp.offered, "valid_distinct" -> exp.validIds.size,
      "poison" -> exp.poison.size,
      "es_missing" -> esMissing, "es_extra" -> esExtra,
      "splunk_line_errors" -> splunkOff, "dlq_errors" -> dlqOff,
      "es_dropped" -> esDropped, "hec_dropped" -> hecDropped,
      "es_success" -> m.esSuccess.value, "es_total" -> m.esTotal.value,
      "splunk_success" -> m.splunkSuccess.value, "splunk_total" -> m.splunkTotal.value,
      "es_files" -> esFiles, "splunk_posts" -> posts,
      "failed" -> (esMissing + esExtra + splunkOff + dlqOff + esDropped + hecDropped))
  }

  private def wireStats(server: LoopbackKinesisServer): Map[String, Any] = {
    val reads = server.calls.filter(_._1 == "GetRecords")
    Map("getrecords" -> reads.size, "pages" -> reads.map(c => (c._2, c._3)).distinct.size)
  }

  /** Drain a pre-seeded backlog `repeats` times, each by a fresh query
    * (new checkpoint, new sink directories) over the same records: offered
    * records ÷ wall time from `start` to the last commit is the drain rate. */
  def drain(label: String, seed: Long, total: Int, repeats: Int = 1): Seq[Map[String, Any]] = {
    val (fixture, exp) = dirtyBacklog(seed, total, label)
    (1 to repeats).map { k =>
      val (progress, check, t0, server) = runQuery(s"$label$k", fixture)(_ => exp)
      Map("label" -> s"$label$k", "t0" -> t0, "offered" -> exp.offered,
        "shard_sizes" -> fixture.map(_.size), "progress" -> progress,
        "check" -> check) ++ wireStats(server)
    }
  }

  /** Open loop: one generator thread appends clean records one at a time,
    * each at its due time on a fixed schedule of `rate` records/s, for
    * `warmS + seconds + coolS`; the cool-down keeps the triggers that carry
    * the window's last records in steady state. A record's due time and
    * actual append time are kept for the delivery-latency mapping; a
    * generator that falls behind appends at once and its lateness shows in
    * the append times. */
  def live(label: String, seed: Long, rate: Double, warmS: Double,
      seconds: Double, coolS: Double): Map[String, Any] = {
    val n = (rate * (warmS + seconds + coolS)).toInt
    val r = new SplittableRandom(seed)
    val shardOf = Array.fill(n)(r.nextInt(shards))
    val ids = Array.tabulate(n)(i => s"$label-$i-${Integer.toHexString(r.nextInt())}")
    val payloads = Array.tabulate(n)(i =>
      Records.b64(Records.json(r, ids(i), 0, emptyIp = r.nextInt(20) == 0)))
    val due = new Array[Double](n)
    val appended = new Array[Double](n)
    val seq = new Array[Int](n)
    val (progress, check, t0, server) =
      runQuery(label, IndexedSeq.fill(shards)(IndexedSeq.empty)) { server =>
        val g0 = Clock.nowMs
        val next = new Array[Int](shards)
        var i = 0
        while (i < n) {
          due(i) = g0 + i * 1000.0 / rate
          var waitMs = due(i) - Clock.nowMs
          while (waitMs > 0) {
            LockSupport.parkNanos((waitMs * 1e6).toLong)
            waitMs = due(i) - Clock.nowMs
          }
          seq(i) = next(shardOf(i)); next(shardOf(i)) += 1
          server.append(shardIds(shardOf(i)), payloads(i))
          appended(i) = Clock.nowMs
          i += 1
        }
        Expected(ids.map(_ -> 1).toMap, Nil)
      }
    Map("label" -> label, "t0" -> t0, "rate" -> rate, "warm_s" -> warmS,
      "seconds" -> seconds, "progress" -> progress, "check" -> check,
      "shard" -> shardOf.toSeq, "seq" -> seq.toSeq, "due" -> due.toSeq,
      "appended" -> appended.toSeq) ++ wireStats(server)
  }
}
