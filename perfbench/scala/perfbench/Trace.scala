package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the run, in epoch milliseconds. `parent` links
  * a builder call or action to its query, a sink write to its batch. */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long) {
  def ms: Long = end - start
}

/** In-memory spans, written out once at the end of the run. */
final class Spans {
  private val all = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger()
  def add(parent: Int, name: String, start: Long, end: Long): Int = {
    val id = ids.incrementAndGet()
    all.add(Span(id, parent, name, start, end))
    id
  }
  def toSeq: Seq[Span] = all.asScala.toSeq.sortBy(s => (s.start, s.id))
  /** span duration minus the part of it its children cover */
  def selfMs(s: Span, spans: Seq[Span]): Long =
    s.ms - Intervals.covered(spans.filter(_.parent == s.id).map(c => (c.start, c.end)), s.start, s.end)
  def json(spans: Seq[Span]): Seq[Map[String, Any]] = spans.map(s => Map("id" -> s.id,
    "parent" -> s.parent, "name" -> s.name, "start" -> s.start, "end" -> s.end,
    "self_ms" -> selfMs(s, spans)))
}

object Intervals {
  /** length of the union of `xs` clipped to [lo, hi) */
  def covered(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, curA, curB = 0L
    var open = false
    clipped.foreach { case (a, b) =>
      if (open && a <= curB) curB = math.max(curB, b)
      else {
        if (open) total += curB - curA
        curA = a; curB = b; open = true
      }
    }
    if (open) total += curB - curA
    total
  }
}

final case class TaskRec(start: Long, end: Long, failed: Boolean, runMs: Long, cpuMs: Double,
    gcMs: Long, shWrite: Long, shRead: Long, fetchWaitMs: Long, spill: Long)
final case class JobRec(start: Long, checkpoint: Boolean)
final case class PhaseRec(name: String, start: Long, end: Long)
final case class WriteRec(end: Long, path: String, ms: Double, rowsWritten: Long,
    bytesWritten: Long, rowsRead: Map[String, Long])
final case class CompileRec(at: Long, ms: Double)

/** Listener bundle for the traced run: Spark's scheduler events, the
  * query-execution callbacks (planning phases, sink writes) and the
  * code generator's compile log. Everything is timestamped so it can
  * be attributed to the harness's spans after the run. */
final class Tracer(spark: SparkSession) {
  val spans = new Spans
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[(Long, Boolean)]() // completion time, is retry
  val phases = new ConcurrentLinkedQueue[PhaseRec]()
  val writes = new ConcurrentLinkedQueue[WriteRec]()
  val compiles = new ConcurrentLinkedQueue[CompileRec]()

  private val sparkListener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) tasks.add(TaskRec(info.launchTime, info.finishTime, info.failed,
        m.executorRunTime, m.executorCpuTime / 1e6, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled))
      else tasks.add(TaskRec(info.launchTime, info.finishTime, info.failed, 0, 0, 0, 0, 0, 0, 0))
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // a job's call site names the action that started it, e.g.
      // "localCheckpoint at GraphOps.scala:57"
      val sites = e.stageInfos.map(_.name) ++
        Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short")))
      jobs.add(JobRec(e.time, sites.exists(_.toLowerCase.contains("checkpoint"))))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add((e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()),
        e.stageInfo.attemptNumber() > 0))
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe, 0L)
  }

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val end = System.currentTimeMillis()
    qe.tracker.phases.foreach { case (name, p) => phases.add(PhaseRec(name, p.startTimeMs, p.endTimeMs)) }
    val plan = qe.executedPlan
    nodes(plan).foreach {
      case w: DataWritingCommandExec =>
        val path = w.cmd match {
          case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
          case _ => ""
        }
        def metric(k: String) = w.cmd.metrics.get(k).map(_.value).getOrElse(0L)
        val reads = nodes(w.child).collect { case s: FileSourceScanExec =>
          s.relation.location.rootPaths.map(_.toString).mkString(",") ->
            s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        }.groupMapReduce(_._1)(_._2)(_ + _)
        writes.add(WriteRec(end, path, durationNs / 1e6, metric("numOutputRows"),
          metric("numOutputBytes"), reads))
      case _ =>
    }
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private val compileAppender = new AbstractAppender("perfbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    private val re = "Code generated in ([0-9.]+) ms".r
    override def append(e: LogEvent): Unit =
      re.findFirstMatchIn(e.getMessage.getFormattedMessage).foreach { m =>
        compiles.add(CompileRec(e.getTimeMillis, m.group(1).toDouble))
      }
  }
  private val codegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    compileAppender.start()
    cfg.addAppender(compileAppender)
    val lc = new LoggerConfig(codegenLogger, Level.INFO, false)
    lc.addAppender(compileAppender, Level.INFO, null)
    cfg.addLogger(codegenLogger, lc)
    ctx.updateLoggers()
  }

  /** Block until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Scheduler, execution, shuffle and codegen totals over the windows. */
  def layerTotals(windows: Seq[(Long, Long)]): Map[String, Double] = {
    def in(t: Long) = windows.exists { case (a, b) => t >= a && t < b }
    val ts = tasks.asScala.toSeq.filter(t => in(t.end))
    val ph = phases.asScala.toSeq.filter(p => in(p.end))
    def phase(n: String) = ph.filter(_.name == n).map(p => (p.end - p.start).toDouble).sum
    val cs = compiles.asScala.toSeq.filter(c => in(c.at))
    Map(
      "plan.analysis_ms" -> phase("analysis"),
      "plan.optimization_ms" -> phase("optimization"),
      "plan.planning_ms" -> phase("planning"),
      "codegen.compile_ms" -> cs.map(_.ms).sum,
      "codegen.compiles" -> cs.size.toDouble,
      "sched.jobs" -> jobs.asScala.count(j => in(j.start)).toDouble,
      "sched.checkpoint_jobs" -> jobs.asScala.count(j => in(j.start) && j.checkpoint).toDouble,
      "sched.stages" -> stages.asScala.count(s => in(s._1)).toDouble,
      "sched.stage_retries" -> stages.asScala.count(s => in(s._1) && s._2).toDouble,
      "sched.tasks" -> ts.size.toDouble,
      "sched.task_failures" -> ts.count(_.failed).toDouble,
      "exec.task_run_ms" -> ts.map(_.runMs.toDouble).sum,
      "exec.task_cpu_ms" -> ts.map(_.cpuMs).sum,
      "exec.gc_ms" -> ts.map(_.gcMs.toDouble).sum,
      "shuffle.write_bytes" -> ts.map(_.shWrite.toDouble).sum,
      "shuffle.read_bytes" -> ts.map(_.shRead.toDouble).sum,
      "shuffle.fetch_wait_ms" -> ts.map(_.fetchWaitMs.toDouble).sum,
      "spill.bytes" -> ts.map(_.spill.toDouble).sum)
  }

  /** Wall time of [lo, hi) split into task-busy time, planning outside
    * tasks and the remaining driver gap. */
  def decompose(lo: Long, hi: Long): Map[String, Double] = {
    val busyIv = tasks.asScala.toSeq.map(t => (t.start, t.end))
    val busy = Intervals.covered(busyIv, lo, hi)
    val phIv = phases.asScala.toSeq.filter(p => p.end > lo && p.start < hi)
    val planRaw = phIv.map(p => math.min(p.end, hi) - math.max(p.start, lo)).sum
    val planOrBusy = Intervals.covered(busyIv ++ phIv.map(p => (p.start, p.end)), lo, hi)
    val gap = (hi - lo) - planOrBusy
    Map("wall_ms" -> (hi - lo).toDouble, "busy_ms" -> busy.toDouble,
      "planning_ms" -> planRaw.toDouble, "driver_gap_ms" -> gap.toDouble,
      "compile_ms" -> compiles.asScala.filter(c => c.at >= lo && c.at < hi).map(_.ms).sum)
  }
}

/** JVM-wide counters read at the edges of the timed windows. */
object Jvm {
  /** Wait (at most `maxMs`) until the JIT has compiled nothing for
    * `quietMs`: on 4 cores its compiler threads otherwise compete with
    * the first timed batches and queries for the cores. Returns the
    * time waited. */
  def awaitJitQuiet(quietMs: Long = 500, maxMs: Long = 4000): Long = {
    val jit = ManagementFactory.getCompilationMXBean
    val start = System.currentTimeMillis()
    var last = jit.getTotalCompilationTime
    var since = start
    while (System.currentTimeMillis() - since < quietMs && System.currentTimeMillis() - start < maxMs) {
      Thread.sleep(50)
      val now = jit.getTotalCompilationTime
      if (now != last) { last = now; since = System.currentTimeMillis() }
    }
    System.currentTimeMillis() - start
  }
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def resetHeapPeak(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0
  /** VmHWM: the process's peak resident set */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
