package perfbench

import java.time.Instant

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of a request. Times are epoch microseconds, so spans
  * placed by the client thread (nanoTime-based) and spans derived from
  * Spark's own timestamps (epoch ms) share one clock. `parent` is the
  * enclosing span's id, -1 for a request's root. */
final case class Span(id: Int, request: Int, layer: String, name: String,
    parent: Int, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000 + (System.nanoTime() - baseNs) / 1000
}

/** Spans in memory, written out when the run ends. The client thread opens
  * and closes them; [[Tracer.place]] adds spans the engine reported (query
  * planning phases, streaming micro-batches) under whichever span
  * encloses them. Disabled, [[span]] only runs its body. */
final class Tracer {
  @volatile var enabled = false
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var request = -1

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val open = Span(spans.size, request, layer, name, parent, Clock.nowUs, 0L)
      spans += open
      stack = open :: stack
      try body
      finally {
        spans(open.id) = open.copy(endUs = Clock.nowUs)
        stack = stack.tail
      }
    }

  /** Root span of one request; every span inside shares its id. */
  def request[T](id: Int, name: String)(body: => T): T = {
    request = id
    span("request", name)(body)
  }

  /** Place an engine-reported interval inside the innermost span of
    * `requestId` that contains its start, clipped to that span. */
  def place(requestId: Int, layer: String, name: String, startUs: Long,
      endUs: Long): Unit = {
    val mine = spans.iterator.filter(_.request == requestId).toSeq
    val enclosing = mine.filter(s => s.startUs <= startUs && startUs < s.endUs)
    if (enclosing.nonEmpty) {
      // innermost = latest-starting enclosing span (spans nest)
      val p = enclosing.maxBy(s => (s.startUs, s.id))
      spans += Span(spans.size, requestId, layer, name, p.id,
        startUs, math.min(math.max(endUs, startUs), p.endUs))
    }
  }

  /** Per-request self time by layer: each span's duration minus the part
    * of it its children cover. The root's self time is the request time no
    * layer span accounts for ("unattributed"). */
  def selfTimes(requestId: Int): Map[String, Long] = {
    val mine = spans.filter(_.request == requestId)
    val children = mine.groupBy(_.parent)
    mine.map { s =>
      val covered = union(children.getOrElse(s.id, Nil).toSeq
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs))))
      val layer = if (s.layer == "request") "unattributed" else s.layer
      layer -> (s.durUs - covered)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"request":${s.request},"layer":"${s.layer}","name":"${Json.esc(s.name)}",""" +
      s""""parent":${s.parent},"start_us":${s.startUs},"end_us":${s.endUs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long, failed: Boolean,
    killed: Boolean, runMs: Long, cpuNs: Long, gcMs: Long, inBytes: Long, inRows: Long,
    shWrite: Long, shRead: Long, spill: Long, peakMem: Long)

final case class JobRec(jobId: Int, startMs: Long, stageIds: Seq[Int])

final case class BatchRec(startMs: Long, durations: Map[String, Long])

/** What the engine reported during one traced request. */
final case class EngineEvents(tasks: Seq[TaskRec], jobs: Seq[JobRec], completedStages: Set[Int],
    batches: Seq[BatchRec], planPhasesMs: Seq[(Long, Long)], exchanges: Long)

/** The benchmark's view of the engine: a `SparkListener` on the shared
  * listener bus plus a `QueryExecutionListener` on the client's session.
  *
  * Always on (cheap): each micro-batch's `triggerExecution`, which gives
  * `streaming.batch_p50_ms`. With `detail` on: tasks, stages, jobs and
  * query-planning phases, for the traced run. Streaming progress arrives
  * through `onOtherEvent` because `QueryProgressEvent` is a listener-bus
  * event, so progress of every session's queries is seen here, including
  * the fresh session each streaming builder starts. */
final class EngineListener extends SparkListener with QueryExecutionListener {
  @volatile var detail = false
  val batchTriggerMs = ArrayBuffer.empty[Long]

  // detail buffers, drained per request
  val tasks = ArrayBuffer.empty[TaskRec]
  val jobs = ArrayBuffer.empty[JobRec]
  val completedStages = scala.collection.mutable.HashSet.empty[Int]
  val batches = ArrayBuffer.empty[BatchRec]
  val planPhases = ArrayBuffer.empty[(Long, Long)] // epoch ms
  var exchanges = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = if (detail) synchronized {
    jobs += JobRec(e.jobId, e.time, e.stageIds)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (detail) synchronized {
    completedStages += e.stageInfo.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (detail) synchronized {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def mv(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
    tasks += TaskRec(e.stageId, i.launchTime, i.finishTime, i.failed, i.killed,
      mv(_.executorRunTime), mv(_.executorCpuTime), mv(_.jvmGCTime),
      mv(_.inputMetrics.bytesRead), mv(_.inputMetrics.recordsRead),
      mv(_.shuffleWriteMetrics.bytesWritten), mv(_.shuffleReadMetrics.totalBytesRead),
      mv(t => t.memoryBytesSpilled + t.diskBytesSpilled), mv(_.peakExecutionMemory))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent => synchronized {
      val pr = p.progress
      val d = pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      d.get("triggerExecution").foreach(batchTriggerMs += _)
      if (detail) batches += BatchRec(Instant.parse(pr.timestamp).toEpochMilli, d)
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (detail) synchronized {
      val ph = qe.tracker.phases
      Seq("optimization", "planning").flatMap(ph.get).foreach { s =>
        planPhases += ((s.startTimeMs, s.endTimeMs))
      }
      exchanges += countExchanges(qe.executedPlan)
    }

  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()

  private def countExchanges(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => countExchanges(a.executedPlan)
    case s: QueryStageExec => countExchanges(s.plan)
    case x: ShuffleExchangeLike => 1 + x.children.map(countExchanges).sum
    case other => other.children.map(countExchanges).sum
  }

  /** Take and clear the detail buffers (call after the bus drained). */
  def drain(): EngineEvents =
    synchronized {
      val out = EngineEvents(tasks.toSeq, jobs.toSeq, completedStages.toSet, batches.toSeq,
        planPhases.toSeq, exchanges)
      tasks.clear(); jobs.clear(); completedStages.clear(); batches.clear()
      planPhases.clear(); exchanges = 0L
      out
    }
}
