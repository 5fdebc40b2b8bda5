package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Per-task numbers the trace keeps (times in ms unless named otherwise). */
final case class TaskRec(stage: Int, op: String, durationMs: Long, cpuNs: Long,
                         shufWriteBytes: Long, shufWriteNs: Long, shufReadBytes: Long,
                         spillBytes: Long)

final case class JobRec(op: String, startMs: Long, endMs: Long)

/** SparkListener registered by the benchmark for the traced passes only.
  * Every Spark job is tagged with the operation (layer call) that ran it
  * through the job group, so task metrics roll up per operation as well as
  * per pass. */
final class Recorder(spark: SparkSession) extends SparkListener {
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  def attach(): Unit = spark.sparkContext.addSparkListener(this)

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
  }

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  def reset(): Unit = {
    drain()
    tasks.clear(); jobs.clear(); jobStart.clear(); stageOp.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("untagged")
    jobStart.put(e.jobId, (op, e.time))
    e.stageIds.foreach(s => stageOp.put(s, op))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.get(e.jobId)).foreach { case (op, t0) => jobs.add(JobRec(op, t0, e.time)) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      tasks.add(TaskRec(e.stageId, stageOp.getOrDefault(e.stageId, "untagged"),
        e.taskInfo.duration, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.writeTime,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  def taskList: Seq[TaskRec] = { drain(); tasks.asScala.toSeq }
  def jobList: Seq[JobRec] = { drain(); jobs.asScala.toSeq }
}

object Plans extends AdaptiveSparkPlanHelper {
  /** Shuffle exchanges in a DataFrame's physical plan as planned before it
    * runs (the adaptive plan's initial form), subqueries included. */
  def exchanges(df: org.apache.spark.sql.DataFrame): Int =
    collectWithSubqueries(df.queryExecution.executedPlan) { case e: ShuffleExchangeLike => e }.size
}

/** Summaries of one traced pass. */
object Summaries {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Largest (max task / median task) over stages with at least 4 tasks. */
  def skew(ts: Seq[TaskRec]): Double = {
    val per = ts.groupBy(_.stage).values.filter(_.size >= 4)
      .map { g =>
        val d = g.map(_.durationMs.toDouble)
        d.max / math.max(median(d), 1.0)
      }
    if (per.isEmpty) 1.0 else per.max
  }

  /** Seconds covered by the union of the jobs' intervals, clipped to
    * [fromMs, toMs]. */
  def busy(jobs: Seq[JobRec], fromMs: Long, toMs: Long): Double = {
    val iv = jobs.map(j => (math.max(j.startMs, fromMs), math.min(j.endMs, toMs)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L
    var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered / 1000.0
  }

  /** Pass wall minus the union of the pass's job intervals: time in which
    * the Spark driver plans, collects or commits while no job runs. */
  def driverGap(jobs: Seq[JobRec], passStartMs: Long, passEndMs: Long): Double =
    math.max(0.0, (passEndMs - passStartMs) / 1000.0 - busy(jobs, passStartMs, passEndMs))

  /** The layer numbers every workload reports for one traced pass. */
  def pass(ts: Seq[TaskRec], jobs: Seq[JobRec], startMs: Long, endMs: Long): Map[String, Double] = {
    val dur = ts.map(_.durationMs.toDouble)
    val mapTasks = ts.filter(_.shufWriteBytes > 0)
    Map(
      "stage.task_p50_ms" -> median(dur),
      "stage.task_max_ms" -> (if (dur.isEmpty) 0.0 else dur.max),
      "stage.task_skew" -> skew(ts),
      "stage.spill_bytes" -> ts.map(_.spillBytes).sum.toDouble,
      "stage.executor_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "scheduler.jobs" -> jobs.size.toDouble,
      "scheduler.tasks" -> ts.size.toDouble,
      "scheduler.driver_gap_s" -> driverGap(jobs, startMs, endMs),
      "pipeline.exchange.shuffle_write_bytes" -> ts.map(_.shufWriteBytes).sum.toDouble,
      "pipeline.exchange.shuffle_read_bytes" -> ts.map(_.shufReadBytes).sum.toDouble,
      "pipeline.exchange.shuffle_write_s" -> ts.map(_.shufWriteNs).sum / 1e9,
      "pipeline.exchange.map_stage_cpu_s" -> mapTasks.map(_.cpuNs).sum / 1e9)
  }

  /** Per-operation numbers (query.<op>.*) for one traced pass. */
  def perOp(ts: Seq[TaskRec]): Map[String, Double] =
    ts.groupBy(_.op).toSeq.flatMap { case (op, g) =>
      Seq(s"query.$op.shuffle_bytes" -> g.map(_.shufWriteBytes).sum.toDouble,
        s"query.$op.task_skew" -> skew(g),
        s"query.$op.spill_bytes" -> g.map(_.spillBytes).sum.toDouble)
    }.toMap
}
