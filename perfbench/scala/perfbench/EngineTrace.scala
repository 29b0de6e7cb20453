package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one timed interval at a layer boundary. Times are epoch ms
  * (the clock Spark's listener events carry); `parent` is the id of the
  * span that caused it, 0 for a root. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      startMs: Long, endMs: Long,
                      attrs: Map[String, Any] = Map.empty) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "layer" -> layer, "name" -> name, "start_ms" -> startMs,
    "end_ms" -> endMs) ++ attrs
}

/** Spans kept in memory and written out when the run ends. The run's
  * own spans (run, pass, query, build, action) are added by the caller;
  * job and stage spans come from the listener, parented on the query
  * span through the `perfbench.span` job property. */
final class Spans {
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = buf.add(s)
  def all: Seq[Span] = buf.iterator().asScala.toSeq.sortBy(_.id)
}

/** Passive engine hooks for the traced run: a `SparkListener` (jobs,
  * stages, task aggregates), a `QueryExecutionListener` (the
  * `QueryPlanningTracker` phases of every executed query) and
  * `CodegenMetrics` / `CodeGenerator.compileTime` deltas. Attached by the
  * benchmark from outside; nothing in the program is changed. */
final class EngineTrace(spark: SparkSession, cores: Int, val spans: Spans)
    extends SparkListener with QueryExecutionListener {

  final case class Phase(name: String, startMs: Long, endMs: Long)
  final case class Job(startMs: Long, endMs: Long)

  private val lock = new Object
  private val jobParent = mutable.Map[Int, Long]()
  private val jobStart = mutable.Map[Int, Long]()
  private val stageJob = mutable.Map[Int, Int]()
  private val jobTaskMs = mutable.Map[Int, Long]().withDefaultValue(0L)
  private val stageMaxTaskMs = mutable.Map[(Int, Int), Long]().withDefaultValue(0L)
  private val jobIds = mutable.Map[Int, Long]()
  private val phases = mutable.ArrayBuffer[Phase]()
  private val jobs = mutable.ArrayBuffer[Job]()

  var nStages, nTasks, nFailedTasks = 0L
  var taskMs, cpuNs, gcMs, critTaskMs, idleCoreMs = 0L
  var shuffleWrite, shuffleRead, spillDisk, peakMem = 0L

  private val compiles0 =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private val compileNs0 =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def detach(): Unit = {
    org.apache.spark.sql.perfbench.Internals.drainListenerBus(spark)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
  def codegenCompileMs: Double =
    (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime -
      compileNs0) / 1e6

  // ---- QueryExecutionListener: Catalyst phases ----
  private def recordPhases(qe: QueryExecution): Unit = lock.synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      phases += Phase(name, p.startTimeMs, p.endTimeMs)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    recordPhases(qe)

  // ---- SparkListener: scheduler and task layers ----
  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span")))
      .map(_.toLong).getOrElse(0L)
    jobParent(e.jobId) = parent
    jobStart(e.jobId) = e.time
    jobIds(e.jobId) = spans.nextId()
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    nTasks += 1
    if (e.taskInfo.failed || e.taskInfo.killed) nFailedTasks += 1
    val d = e.taskInfo.duration
    stageJob.get(e.stageId).foreach(j => jobTaskMs(j) += d)
    val k = (e.stageId, e.stageAttemptId)
    stageMaxTaskMs(k) = math.max(stageMaxTaskMs(k), d)
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spillDisk += m.diskBytesSpilled
      peakMem = math.max(peakMem, m.peakExecutionMemory)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val si = e.stageInfo
    nStages += 1
    val crit = stageMaxTaskMs.getOrElse((si.stageId, si.attemptNumber()), 0L)
    critTaskMs += crit
    val job = stageJob.get(si.stageId)
    spans.add(Span(spans.nextId(), job.flatMap(jobIds.get).getOrElse(0L), "stage",
      s"stage ${si.stageId}", si.submissionTime.getOrElse(0L),
      si.completionTime.getOrElse(0L),
      Map("tasks" -> si.numTasks, "crit_task_ms" -> crit)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    val start = jobStart.getOrElse(e.jobId, e.time)
    val wall = e.time - start
    val tms = jobTaskMs(e.jobId)
    idleCoreMs += math.max(0L, wall * cores - tms)
    val parent = jobParent.getOrElse(e.jobId, 0L)
    jobs += Job(start, e.time)
    spans.add(Span(jobIds.getOrElse(e.jobId, spans.nextId()), parent, "sched",
      s"job ${e.jobId}", start, e.time, Map("task_ms" -> tms)))
  }

  /** Sum of phase durations by Catalyst phase name. */
  def phaseMs(name: String): Long = lock.synchronized {
    phases.iterator.filter(_.name == name).map(p => p.endMs - p.startMs).sum
  }

  /** Length of the union of `ivs`, each clipped to [lo, hi]. */
  def unionMs(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total, curS, curE = 0L
    var open = false
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (open && s <= curE) curE = math.max(curE, e)
        else {
          if (open) total += curE - curS
          curS = s; curE = e; open = true
        }
      }
    if (open) total += curE - curS
    total
  }

  /** Planning and job time inside [lo, hi]: phases that started there,
    * and the union of job intervals. */
  def planMsIn(lo: Long, hi: Long): Long = lock.synchronized {
    phases.iterator.filter(p => p.startMs >= lo && p.startMs <= hi)
      .map(p => p.endMs - p.startMs).sum
  }
  def jobMsIn(lo: Long, hi: Long): Long = lock.synchronized {
    unionMs(jobs.map(j => (j.startMs, j.endMs)).toSeq, lo, hi)
  }
  def jobsIn(lo: Long, hi: Long): Int = lock.synchronized {
    jobs.count(j => j.startMs >= lo && j.startMs <= hi)
  }
  def nJobs: Long = lock.synchronized(jobs.size.toLong)

  /** Totals of every counter, for the run's result file. */
  def summary: Map[String, Any] = Map(
    "jobs" -> nJobs, "stages" -> nStages, "tasks" -> nTasks,
    "failed_tasks" -> nFailedTasks, "idle_core_ms" -> idleCoreMs,
    "task_ms" -> taskMs, "cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs,
    "crit_task_ms" -> critTaskMs,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_disk_bytes" -> spillDisk, "peak_mem_bytes" -> peakMem,
    "analysis_ms" -> phaseMs("analysis"), "optimizer_ms" -> phaseMs("optimization"),
    "physical_ms" -> phaseMs("planning"),
    "codegen_compiles" -> codegenCompiles, "codegen_compile_ms" -> codegenCompileMs,
    "cores" -> cores, "spans" -> spans.all.map(_.toMap))
}
