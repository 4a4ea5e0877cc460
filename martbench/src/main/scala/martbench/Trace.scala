package martbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded by the benchmark around its calls into the program,
  * plus the counts a SparkListener and a QueryExecutionListener see while
  * they are attached. Everything stays in memory until [[dump]].
  *
  * A span is (id, name, parent, start, end, rows); times are epoch
  * milliseconds on one monotonic clock. Jobs carry the id of the span
  * open when they were submitted (a Spark local property); an execution
  * is placed by the start of its physical planning, which the client
  * thread stamps. Neither depends on when the asynchronous listener bus
  * delivers an event. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc: SparkContext = spark.sparkContext
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Int] = Nil
  private var recording = false
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val execs = mutable.ArrayBuffer[Exec]()

  /** Attaches the listeners and starts recording spans (idempotent). */
  def attach(): Unit = if (!recording) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(execListener)
    recording = true
  }

  /** Detaches the listeners once they have seen every event so far;
    * spans opened from now on are not recorded. */
  def detach(): Unit = if (recording) {
    org.apache.spark.martbench.ListenerBus.drain(sc)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(execListener)
    recording = false
  }

  def span[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      val id = spans.size
      spans += Span(id, name, open.headOption.getOrElse(-1), nowMs, Double.NaN, 0L)
      open = id :: open
      sc.setLocalProperty(SpanKey, id.toString)
      try body
      finally {
        open = open.tail
        spans(id) = spans(id).copy(t1 = nowMs)
        sc.setLocalProperty(SpanKey, open.headOption.map(_.toString).orNull)
      }
    }

  /** Rows the program handed back to the benchmark inside the open span. */
  def addRows(n: Long): Unit = open.headOption.foreach(id => spans(id) = spans(id).copy(rows = spans(id).rows + n))

  private object jobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      e.stageInfos.foreach(s => stageJob(s.stageId) = e.jobId)
      jobs(e.jobId) = Job(e.jobId, span.map(_.toInt).getOrElse(-1), e.time.toDouble, stages = e.stageInfos.size)
    }
    // a job's stages that are never submitted were skipped: their output
    // was reused from an earlier job's shuffle, checkpoint or cache
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stagesRun += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        if (e.reason != Success) j.failedTasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.busyMs += m.executorRunTime
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.diskBytesSpilled
          j.recordsWritten += m.outputMetrics.recordsWritten
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.t1 = Some(e.time.toDouble))
    }
  }

  private object execListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
      val planned = qe.tracker.phases.get("planning").map(_.startTimeMs.toDouble)
      val ex = shuffleExchanges(qe.executedPlan)
      jobListener.synchronized {
        execs += Exec(planned, phases.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum, ex)
      }
    }
  }

  /** The raw record: spans, jobs and executions, for run.py to reduce. */
  def dump: Map[String, Any] = jobListener.synchronized {
    Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "t0" -> s.t0, "t1" -> s.t1, "rows" -> s.rows)).toSeq,
      "jobs" -> jobs.values.map(j => Map("id" -> j.id, "span" -> j.span,
        "t0" -> j.t0, "t1" -> j.t1, "stages" -> j.stages, "stages_run" -> j.stagesRun,
        "tasks" -> j.tasks, "failed_tasks" -> j.failedTasks,
        "busy_ms" -> j.busyMs, "shuffle_write_bytes" -> j.shuffleWriteBytes,
        "spill_bytes" -> j.spillBytes, "records_written" -> j.recordsWritten)).toSeq,
      "execs" -> execs.map(x => Map("t" -> x.plannedAt, "plan_ms" -> x.planMs,
        "exchanges" -> x.exchanges)).toSeq)
  }
}

object Trace {
  val SpanKey = "martbench.span"

  final case class Span(id: Int, name: String, parent: Int, t0: Double, t1: Double, rows: Long)
  final case class Exec(plannedAt: Option[Double], planMs: Double, exchanges: Int)
  final case class Job(id: Int, span: Int, t0: Double, stages: Int, var t1: Option[Double] = None,
      var stagesRun: Int = 0, var tasks: Int = 0, var failedTasks: Int = 0,
      var busyMs: Long = 0L, var shuffleWriteBytes: Long = 0L, var spillBytes: Long = 0L,
      var recordsWritten: Long = 0L)

  /** Shuffle exchanges in the plan that actually ran (AQE's final plan,
    * including query stages and subqueries; reused exchanges not counted). */
  def shuffleExchanges(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => shuffleExchanges(a.executedPlan)
    case s: QueryStageExec => shuffleExchanges(s.plan)
    case _: ReusedExchangeExec => 0
    case e: ShuffleExchangeLike => 1 + e.children.map(shuffleExchanges).sum
    case p => (p.children ++ p.subqueries).map(shuffleExchanges).sum
  }
}
