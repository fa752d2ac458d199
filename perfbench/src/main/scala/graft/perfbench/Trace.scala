package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side trace of a benchmark window: a `SparkListener` records every
  * job, stage and task, and a `QueryExecutionListener` records each query's
  * planning phases. Nothing is attributed while events arrive; after the
  * window, `layer` sums the records that fall inside each op's wall-clock
  * interval. That works because the benchmark has one closed-loop client:
  * ops never overlap, so time alone says which op a job belongs to.
  */
final class Trace(spark: SparkSession) {
  final case class Job(id: Int, startMs: Long, var endMs: Long,
                       callSite: String, nStages: Int)
  final case class Task(endMs: Long, runMs: Long, cpuNs: Long,
                        shuffleWrite: Long, shuffleRead: Long,
                        fetchWaitMs: Long, spill: Long, gcMs: Long,
                        input: Long, output: Long)
  final case class Plan(atMs: Long, planMs: Long)

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val plans = new ConcurrentLinkedQueue[Plan]()

  private val listener = new SparkListener {
    // the job's call stack is the `details` of its result stage, the stage
    // the job itself created last
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      jobs.put(e.jobId, Job(e.jobId, e.time, -1L, site, e.stageInfos.size))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        tasks.add(Task(e.taskInfo.finishTime, m.executorRunTime,
          m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleReadMetrics.fetchWaitTime,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime,
          m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
      }
  }

  private val qeListener = new QueryExecutionListener {
    // stamped with the start of planning, which lies inside the op (the
    // callback itself arrives later, on the listener bus)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        plans.add(Plan(phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Detach once the listener bus has delivered everything posted so far
    * (the bus is asynchronous: spin until the record counts stop moving). */
  def detach(): Unit = {
    var prev = -1L
    var spins = 0
    def size = jobs.size.toLong + tasks.size + plans.size
    while (size != prev && spins < 300) {
      prev = size; Thread.sleep(50); spins += 1
    }
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Jobs that started inside [startMs, endMs], in start order. */
  def jobsIn(startMs: Long, endMs: Long): Seq[Job] =
    jobs.values.asScala.filter(j => j.startMs >= startMs && j.startMs <= endMs)
      .toSeq.sortBy(_.startMs)

  /** The Spark engine's layer metrics for one op interval. */
  def layer(startMs: Long, endMs: Long): Map[String, Double] = {
    val js = jobsIn(startMs, endMs)
    val ts = tasks.asScala.filter(t => t.endMs >= startMs && t.endMs <= endMs)
    val planMs = plans.asScala
      .filter(p => p.atMs >= startMs && p.atMs <= endMs).map(_.planMs).sum
    // union of the job intervals, clipped to the op
    val spans = js.map(j => (j.startMs, if (j.endMs < 0) endMs else j.endMs))
    var covered = 0L
    var reach = startMs
    spans.foreach { case (s, e) =>
      val from = math.max(s, reach)
      val to = math.min(e, endMs)
      if (to > from) covered += to - from
      reach = math.max(reach, to)
    }
    val mb = 1e6
    Map(
      "spark.plan_s" -> planMs / 1e3,
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> js.map(_.nStages).sum.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.job_gap_s" -> (endMs - startMs - covered) / 1e3,
      "spark.task_run_s" -> ts.map(_.runMs).sum / 1e3,
      "spark.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / mb,
      "spark.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / mb,
      "spark.fetch_wait_s" -> ts.map(_.fetchWaitMs).sum / 1e3,
      "spark.spill_mb" -> ts.map(_.spill).sum / mb,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "spark.input_mb" -> ts.map(_.input).sum / mb,
      "spark.output_mb" -> ts.map(_.output).sum / mb)
  }
}

object Trace {
  /** The Spark layer metric names, in report order. */
  val SparkMetrics: Seq[String] = Seq("spark.plan_s", "spark.jobs",
    "spark.stages", "spark.tasks", "spark.job_gap_s", "spark.task_run_s",
    "spark.task_cpu_s", "spark.shuffle_write_mb", "spark.shuffle_read_mb",
    "spark.fetch_wait_s", "spark.spill_mb", "spark.gc_s", "spark.input_mb",
    "spark.output_mb")
}
