package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instruments, all attached from outside graft:
  *  - a SparkListener that sums each job's stages, tasks and task metrics
  *    and files the job under the span named by the [[Tracer.SpanKey]]
  *    local property of the thread that submitted it;
  *  - a StreamingQueryListener that keeps every micro-batch progress;
  *  - a QueryExecutionListener that keeps the planning phases of every
  *    action.
  * Everything stays in memory until [[json]] is called at the end. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  final class JobRec(val id: Int, val span: String, val submitMs: Long) {
    var endMs = 0L
    var stages, tasks = 0
    var cpuNs, runMs, gcMs, shuffleRead, shuffleWrite, spill = 0L
    var bytesWritten, recordsWritten = 0L
    def json: String = Json.obj("id" -> id, "span" -> span,
      "submit_ms" -> submitMs, "end_ms" -> endMs, "stages" -> stages,
      "tasks" -> tasks, "cpu_ns" -> cpuNs, "run_ms" -> runMs, "gc_ms" -> gcMs,
      "shuffle_read" -> shuffleRead, "shuffle_write" -> shuffleWrite,
      "spill" -> spill, "bytes_written" -> bytesWritten,
      "records_written" -> recordsWritten)
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val progress = mutable.ArrayBuffer.empty[String]
  private val plans = mutable.ArrayBuffer.empty[String]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).map(_.getProperty(SpanKey)).orNull
      jobs(e.jobId) = new JobRec(e.jobId, span, e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val info = e.taskInfo
      if (info != null) taskSpans += ((info.launchTime, info.finishTime))
      for (j <- stageJob.get(e.stageId).flatMap(jobs.get)) {
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.runMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.bytesWritten += m.outputMetrics.bytesWritten
          j.recordsWritten += m.outputMetrics.recordsWritten
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e.progress.json }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
      val rec = Json.obj("func" -> funcName, "start_ms" -> start,
        "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning"))
      Tracer.this.synchronized { plans += rec }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(planListener)
  }

  def detach(): Unit = {
    org.apache.spark.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(planListener)
  }

  def json: String = synchronized {
    Json.obj(
      "jobs" -> Json.Raw(jobs.values.map(_.json).mkString("[", ",", "]")),
      "task_spans" -> taskSpans.map { case (a, b) => Seq(a, b) },
      "progress" -> Json.Raw(progress.mkString("[", ",", "]")),
      "plans" -> Json.Raw(plans.mkString("[", ",", "]")))
  }
}

object Tracer {
  /** Local property naming the span a Spark job belongs to. */
  val SpanKey = "perfbench.span"

  /** Runs `body` with the calling thread's span set to `span`, restoring
    * the previous span afterwards. */
  def within[T](spark: SparkSession, span: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, span)
    try body finally sc.setLocalProperty(SpanKey, prev)
  }
}
