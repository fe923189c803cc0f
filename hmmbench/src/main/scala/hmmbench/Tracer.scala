package hmmbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-op tracing for the traced run. Every Spark job started while an
  * op runs carries the op id and the op's phase ("build" or "run") as
  * local properties; the listener groups jobs, stages and task metrics
  * by those ids and tags every job with its call site. A job of a SQL
  * execution takes the call site of the action that started the
  * execution (adaptive query stages run on other threads, whose own
  * call site says nothing). Everything is kept in memory and written
  * out when the run ends. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  final class JobRec(val id: Int, val op: Int, val phase: String,
      val site: String, val frames: String, val stageIds: Seq[Int], val startMs: Long) {
    @volatile var endMs: Long = -1L
  }
  final class StageRec(val id: Int, val op: Int) {
    var submittedMs = -1L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var waitMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var peakMem = 0L
    var inputRows = 0L
    var inputBytes = 0L
    var scanTasks = 0L
    var outputBytes = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val plans = ArrayBuffer.empty[PlanRec]
  private val execSites = new ConcurrentHashMap[Long, (String, String)]()

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execSites.put(s.executionId, (s.description, s.details))
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      val op = if (p == null) null else p.getProperty(OpKey)
      if (op != null) {
        val last = e.stageInfos.maxBy(_.stageId)
        val exec = Option(p.getProperty(SQLExecution.EXECUTION_ROOT_ID_KEY))
          .orElse(Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .flatMap(id => Option(execSites.get(id.toLong)))
        val (site, details) = exec.getOrElse((last.name, last.details))
        val frames = details.linesIterator.map(_.trim)
          .filter(_.contains(".scala:")).filterNot(_.startsWith("org.apache.spark"))
          .filterNot(_.startsWith("scala.")).take(6).mkString(" | ")
        jobs.put(e.jobId, new JobRec(e.jobId, op.toInt,
          p.getProperty(PhaseKey, "run"), site, frames, e.stageIds, e.time))
        e.stageIds.foreach(s => stages.putIfAbsent(s, new StageRec(s, op.toInt)))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) j.endMs = e.time
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = stages.get(e.stageInfo.stageId)
      if (s != null) s.synchronized {
        s.submittedMs = e.stageInfo.submissionTime.getOrElse(-1L)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stages.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) s.synchronized {
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        if (s.submittedMs > 0) s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submittedMs)
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
        val in = m.inputMetrics
        if (in.bytesRead > 0) {
          s.scanTasks += 1
          s.inputRows += in.recordsRead
          s.inputBytes += in.bytesRead
        }
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) {
      val rec = PlanRec(phases.values.map(_.startTimeMs).min,
        phases.values.map(_.durationMs).sum, PlanWalk.exchanges(qe.executedPlan))
      plans.synchronized(plans += rec)
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Wait until every queued listener event has been delivered. */
  def drain(): Unit = org.apache.spark.hmmbench.Bus.drain(spark.sparkContext)

  /** The spans, for the run record. */
  def record: Map[String, Any] = Map(
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      Map("id" -> j.id, "op" -> j.op, "phase" -> j.phase, "site" -> j.site,
        "frames" -> j.frames, "stages" -> j.stageIds, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs)
    },
    "stages" -> stages.values.asScala.toSeq.sortBy(_.id).map { s =>
      Map("id" -> s.id, "op" -> s.op, "tasks" -> s.tasks, "run_ms" -> s.runMs,
        "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "wait_ms" -> s.waitMs,
        "shuffle_write" -> s.shuffleWrite, "shuffle_read" -> s.shuffleRead,
        "spill" -> s.spill, "peak_mem" -> s.peakMem, "input_rows" -> s.inputRows,
        "input_bytes" -> s.inputBytes, "scan_tasks" -> s.scanTasks,
        "output_bytes" -> s.outputBytes)
    },
    "plans" -> plans.synchronized(plans.toList).map { p =>
      Map("start_ms" -> p.startMs, "plan_ms" -> p.planMs, "exchanges" -> p.exchanges)
    })
}

object Tracer {
  /** One planned QueryExecution: when its analysis began, how long the
    * analysis, optimization and planning phases took, and how many
    * shuffle exchanges the executed plan holds. */
  final case class PlanRec(startMs: Long, planMs: Long, exchanges: Int)

  val OpKey = "hmmbench.op"
  val PhaseKey = "hmmbench.phase"

  /** Tag the jobs the current thread starts with `op` and `phase`;
    * `op < 0` clears the tags. */
  def tag(spark: SparkSession, op: Int, phase: String): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(OpKey, if (op < 0) null else op.toString)
    sc.setLocalProperty(PhaseKey, if (op < 0) null else phase)
  }
}

/** Shuffle exchanges in an executed plan, looking through adaptive
  * query stages and subqueries. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  def exchanges(p: SparkPlan): Int =
    collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }.size
}
