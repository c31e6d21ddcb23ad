package graft

import java.nio.file.{Files, Paths}
import java.util.Properties

import scala.collection.mutable

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** The query probe: runs registered queries exactly as `Bench` does
  * (`fn(spark, sfDir).queryExecution.toRdd.count()`) and splits each run
  * at the frame boundary into three timed layers, each under its own job
  * group:
  *
  *   - `construct` — the query function (table resolution, eager and
  *     lazy checkpoints, driver-side round loops);
  *   - `plan` — `executedPlan` (analysis, optimization, physical planning);
  *   - `exec` — `toRdd.count()`, the materialization-only wall `Bench`'s
  *     scaladoc calls the "ExecPlan wall".
  *
  * Construction work is further attributed to the ROOT SQL execution that
  * ran it (AQE stage jobs run on pool threads whose job call sites name no
  * query line; the execution's own call site does), named by the first
  * `graft.queries.` frame of that call site. The post-AQE plans of those
  * construction-time actions are captured with a QueryExecutionListener.
  * Listeners are read after `listenerBus.waitUntilEmpty()`, never a sleep.
  *
  * Usage: `sbt "runMain graft.ExecPlan <q1,q2,..> [sfDir] [planDir]"`.
  * One session (Bench's config: `SPARK_GRAFT_CPUS`, default 4); each query
  * runs `SPARK_GRAFT_PASSES` times (default 1) and the LAST pass is
  * reported. Per query, the plan text — header, every construction-time
  * action's plan, then the final frame's — goes to `<planDir>/<query>.txt`,
  * or to stdout when `planDir` is omitted; then one JSON line:
  *
  * {{{
  * {"query", "sf", "passes", "rows", "wall_s",
  *  "phases_ms": {analysis, optimization, planning}   -- qe.tracker.phases
  *  "construct" | "plan" | "exec": {<work>},
  *  "executions": [{"frame": "GraphQueries.scala:412", <work>}, ..]}
  * }}}
  *
  * where `<work>` is `wall_s, jobs, tasks, cpu_s, gc_s, input_mb,
  * input_rows, shuffle_read_mb, shuffle_write_mb, shuffle_rows, spill_mb`
  * and `executions` lists the construct layer's root SQL executions in
  * start order. The three layer walls sum to `wall_s`.
  */
object ExecPlan {
  val Layers: Seq[String] = Seq("construct", "plan", "exec")
  private def group(layer: String): String = s"graft.ExecPlan:$layer"

  /** Work done by one layer or one SQL execution. */
  final class Work(val frame: String = "") {
    var wallS = 0.0
    var jobs, tasks, cpuNs, gcMs, inBytes, inRows = 0L
    var readBytes, writeBytes, writeRows, spillBytes = 0L

    private[ExecPlan] def add(m: TaskMetrics): Unit = {
      tasks += 1
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      inBytes += m.inputMetrics.bytesRead
      inRows += m.inputMetrics.recordsRead
      readBytes += m.shuffleReadMetrics.totalBytesRead
      writeBytes += m.shuffleWriteMetrics.bytesWritten
      writeRows += m.shuffleWriteMetrics.recordsWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }

    def json: String = {
      def mb(b: Long): String = f"${b / 1048576.0}%.3f"
      f""""wall_s":$wallS%.3f,"jobs":$jobs,"tasks":$tasks,""" +
        f""""cpu_s":${cpuNs / 1e9}%.3f,"gc_s":${gcMs / 1e3}%.3f,""" +
        s""""input_mb":${mb(inBytes)},"input_rows":$inRows,""" +
        s""""shuffle_read_mb":${mb(readBytes)},"shuffle_write_mb":${mb(writeBytes)},""" +
        s""""shuffle_rows":$writeRows,"spill_mb":${mb(spillBytes)}"""
    }
  }

  /** One probed pass. `plans` holds (action, post-AQE plan) per
    * construction-time action, in completion order. */
  final case class Probe(name: String, rows: Long, wallS: Double,
      phasesMs: Map[String, Long], layers: Map[String, Work],
      executions: Seq[Work], plans: Seq[(String, String)], finalPlan: String) {

    def json(sfDir: String, passes: Int): String = {
      val phases = phasesMs.toSeq.sorted
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      val layerJson = Layers.map(l => s""""$l":{${layers(l).json}}""").mkString(",")
      val execJson = executions
        .map(w => s"""{"frame":"${w.frame}",${w.json}}""").mkString("[", ",", "]")
      f"""{"query":"$name","sf":"$sfDir","passes":$passes,"rows":$rows,""" +
        f""""wall_s":$wallS%.3f,"phases_ms":$phases,$layerJson,"executions":$execJson}"""
    }

    def planText(sfDir: String): String =
      f"-- $name rows=$rows wall=$wallS%.2f s at $sfDir (post-AQE executed plan)%n" +
        plans.zipWithIndex.map { case ((fn, plan), i) =>
          f"%n-- construction action ${i + 1}/${plans.size} [$fn] --%n$plan"
        }.mkString +
        f"%n-- final frame --%n" + finalPlan
  }

  /** Attributes every task of the probe's job groups to its layer and, in
    * the construct layer, to its root SQL execution. Listener events
    * arrive on one bus thread; the probe reads only after a drain. */
  private final class Recorder extends SparkListener {
    val layers: Map[String, Work] = Layers.map(_ -> new Work).toMap
    val executions = mutable.LinkedHashMap[Long, Work]()
    private val starts = mutable.Map[Long, Long]()
    private val stages = mutable.Map[(Int, Int), Seq[Work]]()

    private def owners(p: Properties): Seq[Work] = {
      def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
      prop("spark.jobGroup.id").flatMap(g => Layers.find(group(_) == g)).toSeq
        .flatMap { layer =>
          layers(layer) +: prop(SQLExecution.EXECUTION_ROOT_ID_KEY)
            .flatMap(id => executions.get(id.toLong)).toSeq
        }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      owners(e.properties).foreach(_.jobs += 1)
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stages((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = owners(e.properties)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskMetrics != null)
        stages.getOrElse((e.stageId, e.stageAttemptId), Nil).foreach(_.add(e.taskMetrics))
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart
            if s.rootExecutionId.forall(_ == s.executionId) &&
              s.jobGroupId.contains(group("construct")) =>
          val frame = s.details.linesIterator.find(_.contains("graft.queries."))
            .map(l => l.substring(l.lastIndexOf('(') + 1, l.lastIndexOf(')')))
          executions(s.executionId) = new Work(frame.getOrElse(""))
          starts(s.executionId) = s.time
        case x: SparkListenerSQLExecutionEnd =>
          executions.get(x.executionId)
            .foreach(_.wallS = (x.time - starts(x.executionId)) / 1e3)
        case _ => ()
      }
    }
  }

  /** Run the registered query `name` `passes` times and return the last
    * pass. Assumes nothing else runs actions on `spark` meanwhile: the
    * plan listener sees every action of the session. */
  def probe(spark: SparkSession, name: String, sfDir: String, passes: Int = 1): Probe = {
    val fn = (SparkEntry.queries ++ SparkEntry.perfQueries)(name)
    val sc = spark.sparkContext
    (1 to passes).map { _ =>
      val rec = new Recorder
      val plans = mutable.ArrayBuffer[(String, String)]()
      val planListener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
            durationNs: Long): Unit =
          plans.synchronized { plans += ((funcName, qe.explainString(FormattedMode))) }
        override def onFailure(funcName: String, qe: QueryExecution,
            exception: Exception): Unit = ()
      }
      sc.addSparkListener(rec)
      spark.listenerManager.register(planListener)
      try {
        val t0 = System.nanoTime()
        sc.setJobGroup(group("construct"), name)
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        sc.setJobGroup(group("plan"), name)
        val qe = df.queryExecution
        qe.executedPlan
        val t2 = System.nanoTime()
        sc.setJobGroup(group("exec"), name)
        val rows = qe.toRdd.count()
        val t3 = System.nanoTime()
        sc.clearJobGroup()
        bridge.drain(sc)
        Seq(t1 - t0, t2 - t1, t3 - t2).zip(Layers)
          .foreach { case (ns, l) => rec.layers(l).wallS = ns / 1e9 }
        val phases = qe.tracker.phases.map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs) }
        rec.synchronized {
          Probe(name, rows, (t3 - t0) / 1e9, phases, rec.layers,
            rec.executions.values.toSeq, plans.synchronized(plans.toSeq),
            qe.explainString(FormattedMode))
        }
      } finally {
        sc.clearJobGroup()
        spark.listenerManager.unregister(planListener)
        sc.removeSparkListener(rec)
      }
    }.last
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ExecPlan <q1,q2,..> [sfDir] [planDir]")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val planDir = args.lift(2).map(Paths.get(_))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "1").toInt.max(1)
    // Call sites deep enough that an action run inside a graft.operators
    // helper still reaches the graft.queries frame that called it.
    System.setProperty("spark.callstack.depth", "64")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    planDir.foreach(Files.createDirectories(_))
    try names.foreach { name =>
      val p = probe(spark, name, sfDir, passes)
      planDir match {
        case Some(dir) =>
          Files.write(dir.resolve(s"$name.txt"), p.planText(sfDir).getBytes("UTF-8"))
        case None => println(p.planText(sfDir))
      }
      println(p.json(sfDir, passes))
    } finally spark.stop()
  }
}
