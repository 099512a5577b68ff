package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters summed over a window of listener events. */
final case class EngineCounts(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskRunMs: Long = 0, taskCpuNs: Long = 0, gcMs: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0, outputBytes: Long = 0,
    planMs: Long = 0) {
  def -(o: EngineCounts): EngineCounts = EngineCounts(jobs - o.jobs,
    stages - o.stages, tasks - o.tasks, taskRunMs - o.taskRunMs,
    taskCpuNs - o.taskCpuNs, gcMs - o.gcMs,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    outputBytes - o.outputBytes, planMs - o.planMs)
}

/** The benchmark's engine probe: a SparkListener for jobs, stages, tasks and
  * task metrics, plus a QueryExecutionListener for Catalyst planning time
  * (analysis + optimization + physical planning of every executed query).
  * Both deliver on Spark's asynchronous listener bus, so readers call
  * [[snapshot]], which drains the bus first. Only the traced iterations
  * attach it. */
final class EngineProbe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private var c = EngineCounts()
  private val taskSpans = ArrayBuffer.empty[(Long, Long)] // launch, finish (epoch ms)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { c = c.copy(jobs = c.jobs + 1) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    c = if (m == null) c.copy(tasks = c.tasks + 1) else c.copy(
      tasks = c.tasks + 1,
      taskRunMs = c.taskRunMs + m.executorRunTime,
      taskCpuNs = c.taskCpuNs + m.executorCpuTime,
      gcMs = c.gcMs + m.jvmGCTime,
      shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
      outputBytes = c.outputBytes + m.outputMetrics.bytesWritten)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      c = c.copy(planMs = c.planMs + qe.tracker.phases.values.map(_.durationMs).sum)
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def snapshot(): EngineCounts = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    synchronized(c)
  }

  /** Wall milliseconds inside [fromMs, toMs] during which no task ran. */
  def idleMs(fromMs: Long, toMs: Long): Long = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val spans = synchronized(taskSpans.toVector)
      .map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var curA = -1L
    var curB = -1L
    spans.foreach { case (a, b) =>
      if (a > curB) { busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    busy += curB - curA
    (toMs - fromMs) - busy
  }
}

object EngineLayers {
  val MB = 1e6

  /** The `spark.*` per-layer metrics of one traced window. */
  def apply(d: EngineCounts, idleMs: Long): Map[String, Double] = Map(
    "spark.jobs" -> d.jobs.toDouble,
    "spark.stages" -> d.stages.toDouble,
    "spark.tasks" -> d.tasks.toDouble,
    "spark.task_run_s" -> d.taskRunMs / 1e3,
    "spark.task_cpu_s" -> d.taskCpuNs / 1e9,
    "spark.gc_s" -> d.gcMs / 1e3,
    "spark.driver_only_s" -> idleMs / 1e3,
    "spark.plan_s" -> d.planMs / 1e3,
    "spark.shuffle_write_mb" -> d.shuffleWriteBytes / MB,
    "spark.spill_mb" -> d.spillBytes / MB)
}

object Storage {
  /** Bytes of RDD blocks the session still holds, in memory and on disk. */
  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}
