package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{ListenerBusDrain, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import Harness.{arr, num, obj, str}
import Tracer.Span

/** In-memory trace of one traced run, written once at exit.
  *
  * Spans are opened and closed by the harness around its calls into the
  * library (set-up table loads, and per query: build, action, sweep), all
  * spans of one query sharing its id. The listeners are attached only
  * while the harness traces (`attach` / `detach`), so untraced passes
  * run without them. Listener records carry wall-clock
  * millisecond times, so `run.py` attributes each Spark job, stage and
  * final-plan record to the span it falls in. Per job the record keeps
  * the `graft*` frames of its call site (and of its SQL execution's), from
  * which `run.py` derives module attribution and iteration rounds.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private final class StageAgg {
    var tasks, failures = 0L
    var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
    var attempts, retries = 0
  }

  private val nextId = new AtomicInteger()
  private val spans = ArrayBuffer.empty[Span]
  private val jobOfStage = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()
  private val jobEnd = new ConcurrentHashMap[Int, (Long, Boolean)]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long, String, String)]()
  private val execFrames = new ConcurrentHashMap[Long, String]()
  private val plans = ArrayBuffer.empty[String]

  def open(qid: String, kind: String): Span = spans.synchronized {
    val s = new Span(nextId.getAndIncrement(), qid, kind, System.currentTimeMillis(), System.nanoTime())
    spans += s
    s
  }
  def close(s: Span): Unit = { s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis() }

  private def graftFrames(callSite: String): String =
    arr(Option(callSite).toSeq.flatMap(_.split('\n')).map(_.trim)
      .filter(_.startsWith("graft")).map(str))

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => execFrames.put(e.executionId, graftFrames(e.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    e.stageIds.foreach(s => jobOfStage.putIfAbsent(s, e.jobId))
    val execId = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    jobStart.put(e.jobId, (e.time, execId, graftFrames(site), e.stageIds.mkString(",")))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnd.put(e.jobId, (e.time, e.jobResult == JobSucceeded))

  private def agg(stageId: Int): StageAgg = stages.computeIfAbsent(stageId, _ => new StageAgg)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = agg(e.stageId)
    a.synchronized {
      a.tasks += 1
      if (e.reason != Success) a.failures += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = agg(e.stageInfo.stageId)
    a.synchronized {
      a.attempts += 1
      if (e.stageInfo.attemptNumber() > 0) a.retries += 1
    }
  }

  private def plan(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val ph = qe.tracker.phases
    def phase(name: String) = ph.get(name).map(p =>
      obj("start_ms" -> p.startTimeMs.toString, "ms" -> p.durationMs.toString)).getOrElse("null")
    val rec = obj("func" -> str(funcName), "ok" -> ok.toString,
      "analysis" -> phase(QueryPlanningTracker.ANALYSIS),
      "optimization" -> phase(QueryPlanningTracker.OPTIMIZATION),
      "planning" -> phase(QueryPlanningTracker.PLANNING))
    plans.synchronized { plans += rec }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plan(funcName, qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    plan(funcName, qe, ok = false)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Removes the listeners once they have seen every event posted so far. */
  def detach(spark: SparkSession): Unit = {
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  /** The whole trace as one JSON object; call after the last `detach`. */
  def json: String = {
    val jobRecs = jobStart.asScala.toSeq.sortBy(_._1).map { case (id, (t0, execId, frames, stageIds)) =>
      val mine = stageIds.split(',').filter(_.nonEmpty).map(_.toInt)
        .filter(s => jobOfStage.get(s) == id).flatMap(s => Option(stages.get(s)))
      val (t1, ok) = jobEnd.asScala.getOrElse(id, (-1L, false))
      def sum(f: StageAgg => Long) = mine.map(f).sum.toString
      obj("id" -> id.toString, "exec_id" -> execId.toString,
        "start_ms" -> t0.toString, "end_ms" -> t1.toString, "ok" -> ok.toString,
        "frames" -> frames, "exec_frames" -> Option(execFrames.get(execId)).getOrElse("[]"),
        "stages" -> mine.count(_.attempts > 0).toString, "tasks" -> sum(_.tasks),
        "task_failures" -> sum(_.failures), "stage_retries" -> sum(_.retries.toLong),
        "run_ms" -> sum(_.runMs), "cpu_ns" -> sum(_.cpuNs), "gc_ms" -> sum(_.gcMs),
        "shuffle_read" -> sum(_.shuffleRead), "shuffle_write" -> sum(_.shuffleWrite),
        "spill" -> sum(_.spill))
    }
    val spanRecs = spans.synchronized(spans.toList).map { s =>
      obj("id" -> s.id.toString, "qid" -> str(s.qid), "kind" -> str(s.kind),
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "seconds" -> num((s.endNs - s.startNs) / 1e9))
    }
    obj("spans" -> arr(spanRecs), "jobs" -> arr(jobRecs), "plans" -> arr(plans.synchronized(plans.toList)))
  }
}

object Tracer {
  final class Span(val id: Int, val qid: String, val kind: String, val startMs: Long, val startNs: Long) {
    @volatile var endMs: Long = -1L
    @volatile var endNs: Long = -1L
  }
}
