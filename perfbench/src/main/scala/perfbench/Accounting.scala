package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative Spark-side counters; the difference of two snapshots is what
 * ran between them. Codegen time is process-wide (driver and, in local
 * mode, executors share the JVM). */
final case class Counters(cpuNs: Long, gcMs: Long, spillBytes: Long,
    shuffleWriteBytes: Long, fetchWaitMs: Long, jobs: Long, stages: Long,
    tasks: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long,
    codegenNs: Long, stageMark: Int) {
  def -(o: Counters): Counters = Counters(cpuNs - o.cpuNs, gcMs - o.gcMs,
    spillBytes - o.spillBytes, shuffleWriteBytes - o.shuffleWriteBytes,
    fetchWaitMs - o.fetchWaitMs, jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, analysisMs - o.analysisMs,
    optimizationMs - o.optimizationMs, planningMs - o.planningMs,
    codegenNs - o.codegenNs, o.stageMark)
}

/** The harness's own listeners: a SparkListener for task, stage and job
 * accounting and a QueryExecutionListener for per-query phase times. Both
 * are registered on the session the harness created; the program is not
 * asked for any of these numbers. */
final class Accounting(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val cpuNs, gcMs, spill, shuffleW, fetchWait, jobs, stages, tasks,
    analysis, optimization, planning = new AtomicLong
  // task durations per stage, and stage ids in completion order, for the
  // slowest-task-over-median skew figure
  private val taskMs = new ConcurrentHashMap[Int, java.util.Vector[java.lang.Long]]
  private val completed = new java.util.Vector[java.lang.Integer]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      fetchWait.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
    }
    taskMs.computeIfAbsent(e.stageId, _ => new java.util.Vector[java.lang.Long])
      .add(e.taskInfo.duration)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    completed.add(e.stageInfo.stageId)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    ph.get("analysis").foreach(p => analysis.addAndGet(p.durationMs))
    ph.get("optimization").foreach(p => optimization.addAndGet(p.durationMs))
    ph.get("planning").foreach(p => planning.addAndGet(p.durationMs))
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Drain the listener bus, then read every counter. */
  def snapshot(): Counters = {
    PerfbenchBus.drain(spark.sparkContext)
    Counters(cpuNs.get, gcMs.get, spill.get, shuffleW.get, fetchWait.get,
      jobs.get, stages.get, tasks.get, analysis.get, optimization.get,
      planning.get, CodeGenerator.compileTime + WholeStageCodegenExec.codeGenTime,
      completed.size)
  }

  /** Slowest task over the median task, among all tasks of the stages
   * completed since `since` (a snapshot). Taken over the layer's tasks, not
   * one stage's, so that work collapsed onto a single task shows as one
   * long task beside many short ones. */
  def maxTaskOverMedian(since: Counters): Double = {
    val d = completed.asScala.drop(since.stageMark).flatMap(id => Option(taskMs.get(id.intValue)))
      .flatMap(_.asScala.map(_.longValue)).toVector.sorted
    if (d.isEmpty) 1.0 else d.last.toDouble / math.max(1L, d(d.size / 2)).toDouble
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}
