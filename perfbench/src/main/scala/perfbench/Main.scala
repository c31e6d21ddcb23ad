package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM. `run.py` launches it, passes the
  * workload's constants, and turns the raw measurements written to `--out`
  * into metrics.
  *
  * Arguments (all `--key value`): workload, seed, seconds, trace (0|1),
  * cpus, work (directory for outputs), out (result file), and per workload:
  * shards, rate, warm_s, cool_s, backlog, drains, small_backlog, warm_records (streaming);
  * data, queries (query_mix, comma-separated in run order).
  *
  * A traced run measures the workload twice, each time in a fresh session:
  * once untraced and once with tracing on (the listener, deeper call sites,
  * block-status tracking). Which of the two goes first alternates with the
  * seed, so the warmer JVM does not always favour the same side. */
object Main {
  def main(args: Array[String]): Unit = {
    val mainMs = Clock.nowMs
    val heap = new HeapWatch
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val cpus = a("cpus").toInt
    val tracedFirst = traced && seed % 2 != 0
    var spark = session(cpus, work, tracedFirst)
    var sessions = 1
    val spans = new Spans
    val listener = new TraceListener
    val result = mutable.LinkedHashMap[String, Any]("workload" -> workload)
    var setupDone = 0.0

    def restart(tracing: Boolean, cores: Int = cpus): Unit = {
      spark.stop()
      spark = session(cores, work, tracing)
      sessions += 1
    }

    def withTrace[T](body: => T): T = {
      spark.sparkContext.addSparkListener(listener)
      try body
      finally {
        Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
    }

    /** The untraced and the traced half, in the seed's order; each after
      * the first starts a fresh session with its own tracing settings. */
    def halves(untraced: => Unit, tracedHalf: => Unit): Unit =
      Seq(tracedFirst, !tracedFirst).zipWithIndex.foreach { case (tracing, k) =>
        if (k > 0) restart(tracing)
        if (tracing) tracedHalf else untraced
      }

    try workload match {
      case "fanout_live" | "fanout_backlog" =>
        val shards = a("shards").toInt
        val warmRecords = a("warm_records").toInt
        val warmups = new ArrayBuffer[Any]
        // a fan-out bound to the current session, with a warm-up drain
        def fanOut(): FanOut = {
          val fan = new FanOut(spark, s"$work/s$sessions", shards, spans)
          warmups += fan.drain("warm", seed + 100, warmRecords).head("check")
          if (setupDone == 0) setupDone = Clock.nowMs
          fan
        }
        val (rate, warmS, coolS) = (a("rate").toDouble, a("warm_s").toDouble, a("cool_s").toDouble)
        val total = a("backlog").toInt
        if (!traced) {
          val fan = fanOut()
          result("runs") =
            if (workload == "fanout_live") Seq(fan.live("live", seed, rate, warmS, seconds, coolS))
            else fan.drain("backlog", seed, total, a("drains").toInt)
        } else if (workload == "fanout_live") {
          halves(
            result("runs") = Seq(fanOut().live("live", seed, rate, warmS, seconds / 2, coolS)),
            { val fan = fanOut()
              result("traced") = withTrace(fan.live("live_traced", seed, rate, warmS, seconds / 2, coolS)) })
        } else {
          val small = a("small_backlog").toInt
          halves(
            { val fan = fanOut()
              result("runs") = fan.drain("backlog", seed, total)
              // the same smaller backlog at local[cpus] here and at local[1] below
              result("small_n") = fan.drain("small_n", seed + 2, small).head },
            { val fan = fanOut()
              result("traced") = withTrace(fan.drain("backlog_traced", seed, total).head) })
          restart(tracing = false, cores = 1)
          result("small_1") = fanOut().drain("small_1", seed + 2, small).head
        }
        result("warmup") = warmups.toSeq
      case "query_mix" =>
        val order = a("queries").split(",").toSeq
        // warm-up aggregate and one untimed pass: the steepest part of JIT
        // warm-up lands in set-up
        def mixReady(): QueryMix = {
          val mix = new QueryMix(spark, a("data"), spans)
          mix.warmUp()
          mix.plainPass(order, -1)
          if (setupDone == 0) setupDone = Clock.nowMs
          mix
        }
        if (!traced) {
          val mix = mixReady()
          val runs = new ArrayBuffer[Map[String, Any]]
          var pass = 0
          while (pass < 2 || Clock.nowMs - setupDone < seconds * 1000) {
            runs ++= mix.plainPass(order, pass)
            pass += 1
          }
          result("runs") = runs.toSeq
        } else halves(
          result("runs") = mixReady().plainPass(order, 0),
          { val mix = mixReady()
            result("traced") = withTrace(Map(
              "passes" -> mix.tracedPass(order, 0), "tables" -> mix.timeTables(0))) })
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        result("error") = s"${e.getClass.getName}: ${e.getMessage}".take(2000)
    }
    result("setup_s") = (if (setupDone > 0) setupDone - mainMs else Clock.nowMs - mainMs) / 1000
    result("traced_first") = tracedFirst
    result("spans") = spans.dump
    if (traced) result("trace") = listener.dump
    result("rss_mb") = peakRssMb
    result("heap_after_gc_mb") = heap.afterGcMb
    result("heap_peak_mb") = heap.peakMb
    val json = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(result)
    Files.write(Paths.get(a("out")), json.getBytes(UTF_8))
    spark.stop()
    // the loopback server's HTTP worker pool keeps non-daemon threads alive
    System.exit(0)
  }

  /** A local session; `tracing` turns on deeper call sites (so a job's
    * stack reaches the program frame that ran it) and block-status
    * tracking (persisted bytes per task). */
  private def session(cpus: Int, work: String, tracing: Boolean): SparkSession = {
    if (tracing) System.setProperty("spark.callstack.depth", "200")
    else System.clearProperty("spark.callstack.depth")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.taskMetrics.trackUpdatedBlockStatuses", tracing.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** VmHWM of this JVM in MB. */
  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}
