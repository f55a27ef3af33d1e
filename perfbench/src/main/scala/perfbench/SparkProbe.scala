package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler, executor, shuffle and Catalyst numbers of a traced run, taken
  * from Spark's public listeners. Events are kept with their epoch-ms times so
  * a window of the run (the timed phase, one key, one micro-batch) can be
  * summarised after the fact.
  */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, startMs: Long, endMs: Long)
  final case class Task(stageId: Int, stageAttempt: Int, finishMs: Long, durationMs: Long,
      runMs: Long, cpuNs: Long, deserMs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, fetchWaitMs: Long)
  final case class Stage(id: Int, attempt: Int, numTasks: Int, endMs: Long)
  final case class Planned(endMs: Long, analysisMs: Double, optimizationMs: Double, planningMs: Double)

  private val jobStarts = scala.collection.mutable.Map.empty[Int, Long]
  private val jobBuf = ArrayBuffer.empty[Job]
  private val taskBuf = ArrayBuffer.empty[Task]
  private val stageBuf = ArrayBuffer.empty[Stage]
  private val plannedBuf = ArrayBuffer.empty[Planned]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobStarts(e.jobId) = e.time }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobBuf += Job(e.jobId, jobStarts.getOrElse(e.jobId, e.time), e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageBuf += Stage(i.stageId, i.attemptNumber(), i.numTasks, i.completionTime.getOrElse(System.currentTimeMillis()))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      taskBuf += Task(e.stageId, e.stageAttemptId, info.finishTime, info.duration,
        m.executorRunTime, m.executorCpuTime, m.executorDeserializeTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val phases = qe.tracker.phases
    def ms(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    plannedBuf += Planned(System.currentTimeMillis(), ms("analysis"), ms("optimization"), ms("planning"))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def jobs(fromMs: Double, toMs: Double): Seq[Job] = synchronized {
    jobBuf.filter(j => j.endMs >= fromMs && j.endMs <= toMs).toSeq
  }

  /** Sums and counts of everything that ended within [fromMs, toMs]. */
  def window(fromMs: Double, toMs: Double): Map[String, Double] = synchronized {
    def in(t: Long) = t >= fromMs && t <= toMs
    val tasks = taskBuf.filter(t => in(t.finishMs))
    val stages = stageBuf.filter(s => in(s.endMs))
    val planned = plannedBuf.filter(p => in(p.endMs))
    // slowest / median task of the widest stage(s); 1 when a stage has one task
    val widest = if (stages.isEmpty) 0 else stages.map(_.numTasks).max
    val skews = stages.filter(_.numTasks == widest).flatMap { s =>
      val d = tasks.filter(t => t.stageId == s.id && t.stageAttempt == s.attempt).map(_.durationMs.toDouble)
      if (d.isEmpty) None else Some(d.max / math.max(1.0, Stats.median(d.toSeq)))
    }
    Map(
      "scheduler.jobs" -> jobBuf.count(j => in(j.endMs)).toDouble,
      "scheduler.stages" -> stages.size.toDouble,
      "scheduler.tasks" -> tasks.size.toDouble,
      "executor.run_ms" -> tasks.map(_.runMs).sum.toDouble,
      "executor.cpu_ms" -> tasks.map(_.cpuNs).sum / 1e6,
      "executor.deser_ms" -> tasks.map(_.deserMs).sum.toDouble,
      "executor.gc_ms" -> tasks.map(_.gcMs).sum.toDouble,
      "executor.task_skew" -> (if (skews.isEmpty) 1.0 else Stats.median(skews.toSeq)),
      "shuffle.write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
      "shuffle.read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
      "shuffle.fetch_wait_ms" -> tasks.map(_.fetchWaitMs).sum.toDouble,
      "catalyst.analysis_ms" -> planned.map(_.analysisMs).sum,
      "catalyst.optimization_ms" -> planned.map(_.optimizationMs).sum,
      "catalyst.planning_ms" -> planned.map(_.planningMs).sum)
  }
}

object SparkProbe {
  def attach(spark: SparkSession): SparkProbe = {
    val p = new SparkProbe
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }

  /** Count and summed ms of whole-stage codegen compilations so far. The
    * histogram keeps a sample, so the sum is its mean times the count.
    */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean * h.getCount)
  }
}
