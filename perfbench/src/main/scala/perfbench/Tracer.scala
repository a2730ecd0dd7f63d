package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory event log, written out once at the end of the run. */
final class Recorder {
  private val lines = mutable.ArrayBuffer.empty[String]
  def add(kv: (String, Any)*): Unit = synchronized { lines += Json.obj(kv: _*) }
  def writeTo(path: String): Unit = synchronized {
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

/** Epoch microseconds on the monotonic clock, aligned once with the wall
  * clock so spans line up with the scheduler's millisecond event times. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def us(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** Per-layer recording for traced passes: a SparkListener for jobs, stages
  * and task metrics, and a QueryExecutionListener for planning phases,
  * scan nodes and write-command metrics. Attach before a traced pass and
  * detach after it; detaching drains the listener bus first. */
final class Tracer(spark: SparkSession, rec: Recorder) {

  private final class StageAcc {
    var tasks = 0; var failed = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var durMs = 0L
    val runTimes = mutable.ArrayBuffer.empty[Long]
    var inBytes = 0L; var inRows = 0L
    var shWrite = 0L; var shRead = 0L; var fetchWaitMs = 0L
    var memSpill = 0L; var diskSpill = 0L; var peakMem = 0L; var resultBytes = 0L
  }

  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.Map.empty[(Int, Int), StageAcc]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      rec.add("kind" -> "job_start", "job" -> e.jobId, "t_ms" -> e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      rec.add("kind" -> "job_end", "job" -> e.jobId, "t_ms" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
      a.tasks += 1
      if (!e.taskInfo.successful) a.failed += 1
      a.durMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
        a.runTimes += m.executorRunTime
        a.inBytes += m.inputMetrics.bytesRead; a.inRows += m.inputMetrics.recordsRead
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.memSpill += m.memoryBytesSpilled; a.diskSpill += m.diskBytesSpilled
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        a.resultBytes += m.resultSize
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val a = stages.remove((i.stageId, i.attemptNumber())).getOrElse(new StageAcc)
      val sorted = a.runTimes.sorted
      rec.add("kind" -> "stage", "stage" -> i.stageId, "job" -> stageJob.getOrElse(i.stageId, -1),
        "start_ms" -> i.submissionTime.getOrElse(-1L), "end_ms" -> i.completionTime.getOrElse(-1L),
        "tasks" -> a.tasks, "failed_tasks" -> a.failed,
        "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs, "task_ms" -> a.durMs,
        "max_run_ms" -> sorted.lastOption.getOrElse(0L),
        "median_run_ms" -> (if (sorted.isEmpty) 0L else sorted(sorted.length / 2)),
        "input_bytes" -> a.inBytes, "input_rows" -> a.inRows,
        "shuffle_write_bytes" -> a.shWrite, "shuffle_read_bytes" -> a.shRead,
        "fetch_wait_ms" -> a.fetchWaitMs, "spill_mem_bytes" -> a.memSpill,
        "spill_disk_bytes" -> a.diskSpill, "peak_exec_mem_bytes" -> a.peakMem,
        "result_bytes" -> a.resultBytes)
    }
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper {
    /** Every node of an executed plan: through adaptive query stages,
      * subqueries and the physical plan a command result wraps. */
    def nodes(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) {
      case c: CommandResultExec => nodes(c.commandPhysicalPlan) :+ c
      case n => Seq(n)
    }.flatten
  }

  private def record(qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    def phaseMs(name: String): Long = phases.get(name).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
    val start = if (phases.isEmpty) -1L else phases.values.map(_.startTimeMs).min
    val all = try PlanWalk.nodes(qe.executedPlan) catch { case scala.util.control.NonFatal(_) => Nil }
    val writes = all.collect { case w: DataWritingCommandExec => w.cmd.metrics }
    def wsum(key: String): Long = writes.map(m => m.get(key).map(_.value).getOrElse(0L)).sum
    rec.add("kind" -> "plan", "ok" -> ok, "start_ms" -> start, "end_ms" -> System.currentTimeMillis(),
      "analysis_ms" -> phaseMs("analysis"), "optimization_ms" -> phaseMs("optimization"),
      "planning_ms" -> phaseMs("planning"),
      "scans" -> all.count(_.isInstanceOf[FileSourceScanExec]),
      "write_files" -> wsum("numFiles"), "write_bytes" -> wsum("numOutputBytes"),
      "write_rows" -> wsum("numOutputRows"),
      "write_commit_ms" -> (wsum("taskCommitTime") + wsum("jobCommitTime")))
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe, ok = false)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Bytes held by persisted RDDs and Datasets right now. */
  def cachedBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Janino compilations so far in this JVM. */
  def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
