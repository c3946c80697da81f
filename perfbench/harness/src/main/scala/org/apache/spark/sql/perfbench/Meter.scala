package org.apache.spark.sql.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Engine counters for one attribution group (a job group = one span). */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuMs, schedDelayMs, gcMs = 0.0
  var bytesRead, recordsRead, bytesWritten, recordsWritten = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var sqlExecs, sqlFailures = 0L
  var analysisMs, optimizationMs, planningMs = 0.0
  var filesRead = 0L

  def catalystMs: Double = analysisMs + optimizationMs + planningMs

  def +=(o: Counters): this.type = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    runMs += o.runMs; cpuMs += o.cpuMs; schedDelayMs += o.schedDelayMs; gcMs += o.gcMs
    bytesRead += o.bytesRead; recordsRead += o.recordsRead
    bytesWritten += o.bytesWritten; recordsWritten += o.recordsWritten
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
    sqlExecs += o.sqlExecs; sqlFailures += o.sqlFailures
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs; planningMs += o.planningMs
    filesRead += o.filesRead
    this
  }

  def -(o: Counters): Counters = {
    val d = new Counters
    d += this
    d.jobs -= o.jobs; d.stages -= o.stages; d.tasks -= o.tasks; d.failedTasks -= o.failedTasks
    d.runMs -= o.runMs; d.cpuMs -= o.cpuMs; d.schedDelayMs -= o.schedDelayMs; d.gcMs -= o.gcMs
    d.bytesRead -= o.bytesRead; d.recordsRead -= o.recordsRead
    d.bytesWritten -= o.bytesWritten; d.recordsWritten -= o.recordsWritten
    d.shuffleReadBytes -= o.shuffleReadBytes; d.shuffleWriteBytes -= o.shuffleWriteBytes
    d.spillBytes -= o.spillBytes
    d.sqlExecs -= o.sqlExecs; d.sqlFailures -= o.sqlFailures
    d.analysisMs -= o.analysisMs; d.optimizationMs -= o.optimizationMs; d.planningMs -= o.planningMs
    d.filesRead -= o.filesRead
    d
  }

  def copy: Counters = { val c = new Counters; c += this }

  /** Drift-free subset written into every run record. */
  def toMap: Seq[(String, Double)] = Seq(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "failed_tasks" -> failedTasks.toDouble,
    "exec_run_ms" -> runMs, "exec_cpu_ms" -> cpuMs, "sched_delay_ms" -> schedDelayMs,
    "gc_ms" -> gcMs,
    "bytes_read" -> bytesRead.toDouble, "records_read" -> recordsRead.toDouble,
    "bytes_written" -> bytesWritten.toDouble, "records_written" -> recordsWritten.toDouble,
    "shuffle_read_bytes" -> shuffleReadBytes.toDouble,
    "shuffle_write_bytes" -> shuffleWriteBytes.toDouble, "spill_bytes" -> spillBytes.toDouble,
    "sql_execs" -> sqlExecs.toDouble, "files_read" -> filesRead.toDouble,
    "catalyst_analysis_ms" -> analysisMs, "catalyst_optimization_ms" -> optimizationMs,
    "catalyst_planning_ms" -> planningMs)
}

/** Measures the engine from outside with one SparkListener: jobs, tasks,
  * executor time, bytes, shuffle and cached blocks from the scheduler
  * events, and the Catalyst phase times (`qe.tracker.phases`) and
  * file-scan counts of every Dataset action from the SQL execution-end
  * events (the events that drive QueryExecutionListeners; unlike those,
  * they carry the execution id, which the start event maps to the job
  * group).
  *
  * Everything is attributed to the job group that was set on the calling
  * thread when the job or SQL execution started. The harness sets one
  * group per span, so counters roll up per layer call; calls made with no
  * group land in the "" group.
  */
final class Meter(spark: SparkSession) extends SparkListener with AdaptiveSparkPlanHelper {

  private val groups = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val execGroup = mutable.Map.empty[Long, String]
  private val blockBytes = mutable.Map.empty[String, Long]
  private var cachedNow = 0L
  private var cachedPeak = 0L

  def install(): this.type = { spark.sparkContext.addSparkListener(this); this }

  def uninstall(): Unit = spark.sparkContext.removeSparkListener(this)

  /** Block until every event posted so far has been delivered. */
  def drain(): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  private def group(g: String): Counters = groups.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    group(g).jobs += 1
    e.stageIds.foreach(s => stageGroup(s) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    group(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = group(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    if (!e.taskInfo.successful) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuMs += m.executorCpuTime / 1e6
      c.gcMs += m.jvmGCTime
      val wall = e.taskInfo.finishTime - e.taskInfo.launchTime
      c.schedDelayMs += math.max(0L, wall - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime)
      c.bytesRead += m.inputMetrics.bytesRead
      c.recordsRead += m.inputMetrics.recordsRead
      c.bytesWritten += m.outputMetrics.bytesWritten
      c.recordsWritten += m.outputMetrics.recordsWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cachedNow += size - blockBytes.getOrElse(id, 0L)
      if (size > 0) blockBytes(id) = size else blockBytes.remove(id)
      cachedPeak = math.max(cachedPeak, cachedNow)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execGroup(s.executionId) = s.jobGroupId.getOrElse("")
    }
    case e: SparkListenerSQLExecutionEnd =>
      record(e.executionId, Option(e.qe), e.executionFailure.isDefined)
    case _ =>
  }

  private def record(executionId: Long, qe: Option[QueryExecution], failed: Boolean): Unit =
    synchronized {
      val c = group(execGroup.remove(executionId).getOrElse(""))
      c.sqlExecs += 1
      if (failed) c.sqlFailures += 1
      qe.foreach { q =>
        val phases = q.tracker.phases
        def ms(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        c.analysisMs += ms("analysis")
        c.optimizationMs += ms("optimization")
        c.planningMs += ms("planning")
        if (!failed) c.filesRead += collectWithSubqueries(q.executedPlan) {
          case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        }.sum
      }
    }

  /** Counters per group, as delivered so far (call [[drain]] first). */
  def byGroup: Map[String, Counters] = synchronized { groups.map { case (k, v) => k -> v.copy }.toMap }

  /** Sum over every group. */
  def total: Counters = synchronized { groups.values.foldLeft(new Counters)(_ += _) }

  def peakCachedBytes: Long = synchronized(cachedPeak)

  def resetPeakCached(): Unit = synchronized { cachedPeak = cachedNow }
}
