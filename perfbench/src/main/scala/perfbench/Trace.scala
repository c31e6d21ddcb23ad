package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.storage.RDDBlockId

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same base as Spark's listener timestamps and progress reports. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Heap in use from the start of the run: the largest amount left in use
  * right after a collection (what the program holds), from the
  * collectors' notifications, and the heap pools' summed peak usage. */
final class HeapWatch {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  private val heapNames = heapPools.map(_.getName).toSet
  @volatile private var maxAfterGc = 0L

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapNames(pool) => u.getUsed }.sum
        synchronized { if (used > maxAfterGc) maxAfterGc = used }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def afterGcMb: Double = maxAfterGc / 1048576.0
  def peakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** In-memory span log. A span is (name, start, end, parent, trace); the
  * benchmark opens spans around its own calls into the program, and the
  * listener's jobs, stages and SQL executions become spans in the analysis. */
final class Spans {
  private val buf = new ConcurrentLinkedQueue[Map[String, Any]]
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)

  def add(name: String, start: Double, end: Double, trace: String,
      parent: Long = -1L): Long = {
    val id = ids.incrementAndGet()
    buf.add(Map("id" -> id, "name" -> name, "start" -> start, "end" -> end,
      "parent" -> parent, "trace" -> trace))
    id
  }

  /** Time `body`, record it as a root span and return its result. */
  def time[T](name: String, trace: String)(body: => T): T = {
    val s = Clock.nowMs
    try body finally add(name, s, Clock.nowMs, trace)
  }

  def dump: Seq[Map[String, Any]] = buf.asScala.toSeq
}

/** Records every job, stage, task that stored RDD blocks, and SQL
  * execution the program runs, with the properties needed to attribute
  * them to a layer afterwards: the long call site, the SQL execution id,
  * the streaming batch id and the job group. Registered only in traced
  * runs. */
final class TraceListener extends SparkListener {
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]
  private val tasks = new ConcurrentLinkedQueue[Map[String, Any]]
  private val sqlStarts = new ConcurrentLinkedQueue[Map[String, Any]]
  private val sqlEnds = new java.util.concurrent.ConcurrentHashMap[Long, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String): String = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val last = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    jobs.add(Map("id" -> e.jobId, "start" -> e.time,
      "sql" -> prop("spark.sql.execution.id"),
      "batch" -> prop("streaming.sql.batchId"),
      "group" -> prop("spark.jobGroup.id"),
      "stages" -> e.stageIds,
      "site" -> last.map(_.details).getOrElse("")))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    val metrics: Map[String, Any] =
      if (m == null) Map.empty
      else Map(
        "cpu_ns" -> m.executorCpuTime, "run_ms" -> m.executorRunTime,
        "gc_ms" -> m.jvmGCTime, "input_b" -> m.inputMetrics.bytesRead,
        "shuffle_read_b" -> m.shuffleReadMetrics.totalBytesRead,
        "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten,
        "spill_b" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
    stages.add(Map("id" -> s.stageId, "attempt" -> s.attemptNumber(),
      "start" -> s.submissionTime.getOrElse(0L),
      "end" -> s.completionTime.getOrElse(0L),
      "tasks" -> s.numTasks, "name" -> s.name) ++ metrics)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val blocks = m.updatedBlockStatuses.collect {
        case (RDDBlockId(rdd, _), st) if st.memSize + st.diskSize > 0 =>
          Seq(rdd.toLong, st.memSize + st.diskSize)
      }
      if (blocks.nonEmpty)
        tasks.add(Map("stage" -> e.stageId, "start" -> e.taskInfo.launchTime,
          "end" -> e.taskInfo.finishTime, "cpu_ns" -> m.executorCpuTime,
          "blocks" -> blocks))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      sqlStarts.add(Map("id" -> s.executionId, "start" -> s.time,
        "root" -> s.rootExecutionId.map(_.toString).getOrElse(""),
        "desc" -> s.description, "site" -> s.details,
        "plan" -> planSummary(s.physicalPlanDescription)))
    case x: SparkListenerSQLExecutionEnd => sqlEnds.put(x.executionId, x.time)
    case _ => ()
  }

  /** The plan's operator tree plus the arguments of any file-writing
    * command (its output path): what the execution collects or writes. */
  private def planSummary(plan: String): String = {
    val lines = plan.linesIterator.toSeq
    val tree = lines.drop(1).takeWhile(_.trim.nonEmpty).take(30)
    val writes = lines.sliding(3).collect {
      case Seq(a, _, c) if a.contains("InsertIntoHadoopFsRelationCommand") && c.startsWith("Arguments:") =>
        c.take(300)
    }
    (tree ++ writes).mkString("\n")
  }

  def dump: Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq.map(j =>
      j + ("end" -> Option(jobEnds.get(j("id").asInstanceOf[Int])).getOrElse(0L))),
    "stages" -> stages.asScala.toSeq,
    "block_tasks" -> tasks.asScala.toSeq,
    "sql" -> sqlStarts.asScala.toSeq.map(s =>
      s + ("end" -> Option(sqlEnds.get(s("id").asInstanceOf[Long])).getOrElse(0L))))
}
