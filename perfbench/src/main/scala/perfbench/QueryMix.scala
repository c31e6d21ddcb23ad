package perfbench

import scala.util.hashing.MurmurHash3

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The query workload: registered queries run exactly as `graft.Bench`
  * runs them — `SparkEntry.queries(name)(spark, dir)` then
  * `queryExecution.toRdd.count()`, never `count()`. */
final class QueryMix(spark: SparkSession, dir: String, spans: Spans) {
  private val registry = SparkEntry.queries ++ SparkEntry.perfQueries

  /** Full registry name for a short key such as "q196". */
  def fullName(short: String): String =
    registry.keys.find(_.startsWith(short + "_")).getOrElse(
      throw new IllegalArgumentException(s"no registered query $short"))

  /** Untraced warm-up, the first step of `graft.Bench`'s: one aggregate
    * over the largest table initialises the parquet reader and codegen. */
  def warmUp(): Unit =
    spark.read.parquet(s"$dir/lineitem.parquet").groupBy("l_returnflag").count().collect()

  /** One pass of the Bench expression per query, timed from outside. */
  def plainPass(order: Seq[String], pass: Int): Seq[Map[String, Any]] = order.map { q =>
    val fn = registry(fullName(q))
    val t0 = Clock.nowMs
    val (rows, error) =
      try (fn(spark, dir).queryExecution.toRdd.count(), "")
      catch { case e: Throwable => (-1L, String.valueOf(e.getMessage).take(300)) }
    Map("query" -> q, "pass" -> pass, "ms" -> (Clock.nowMs - t0), "rows" -> rows,
      "error" -> error)
  }

  /** A traced pass: the same work split at the frame boundary into
    * construction (the query function), planning (`executedPlan`) and
    * execution (`toRdd.count()`), each under its own job group, plus the
    * Catalyst phase times and an order-insensitive content hash. */
  def tracedPass(order: Seq[String], pass: Int): Seq[Map[String, Any]] = {
    val sc = spark.sparkContext
    order.map { q =>
      val fn = registry(fullName(q))
      val trace = s"$q#$pass"
      val t0 = Clock.nowMs
      sc.setJobGroup(s"construct:$trace", q)
      val df = fn(spark, dir)
      val t1 = Clock.nowMs
      sc.setJobGroup(s"plan:$trace", q)
      val qe = df.queryExecution
      qe.executedPlan
      val t2 = Clock.nowMs
      sc.setJobGroup(s"exec:$trace", q)
      val rows = qe.toRdd.count()
      val t3 = Clock.nowMs
      sc.clearJobGroup()
      val root = spans.add("query", t0, t3, trace)
      spans.add("construct", t0, t1, trace, root)
      spans.add("plan", t1, t2, trace, root)
      spans.add("exec", t2, t3, trace, root)
      val phases = qe.tracker.phases.map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs) }
      Map("query" -> q, "pass" -> pass, "ms" -> (t3 - t0), "rows" -> rows,
        "construct_ms" -> (t1 - t0), "plan_ms" -> (t2 - t1), "exec_ms" -> (t3 - t2),
        "phases" -> phases, "hash" -> QueryMix.contentHash(df), "error" -> "")
    }
  }

  /** Timed calls into `graft.Tables`: resolve every plain table and
    * `events` once, without an action. */
  def timeTables(pass: Int): Map[String, Any] = {
    val plain = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").map { t =>
      val t0 = Clock.nowMs
      spans.time(s"tables:$t", s"tables#$pass")(Tables.table(spark, dir, t).schema)
      Clock.nowMs - t0
    }
    val t0 = Clock.nowMs
    spans.time("tables:events", s"tables#$pass")(Tables.events(spark, dir).schema)
    Map("resolve_ms" -> plain, "events_ms" -> (Clock.nowMs - t0))
  }
}

object QueryMix {
  /** Order-insensitive content hash: each row rendered with floating-point
    * values at 6 significant digits, hashed, and the hashes summed. */
  def contentHash(df: DataFrame): String = {
    var sum = 0L
    df.collect().foreach(r => sum += (MurmurHash3.stringHash(render(r)) & 0xffffffffL))
    java.lang.Long.toHexString(sum)
  }

  private def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString
      else String.format(java.util.Locale.ROOT, "%.6g", Double.box(d))
    case f: Float => render(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.mkString("b[", ",", "]")
    case other => other.toString
  }
}
