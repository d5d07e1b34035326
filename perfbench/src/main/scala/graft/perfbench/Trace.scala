package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one benchmark run.
  *
  * Spans are recorded by the benchmark around each call into a layer (a
  * pass, an operation, and the calls inside it). Every Spark job started
  * inside a span carries the span's id in the local property [[Tag]], so
  * the job listener can tie jobs to the span that caused them; stream
  * micro-batches and Catalyst phases are tied by time, which is exact
  * because the closed loop keeps one operation in flight. Nothing here is
  * written until the run ends ([[records]]); `layers.py` builds the span
  * tree and the self times from these records.
  *
  * All times are epoch microseconds.
  */
object Trace {
  val Tag = "perfbench.span"

  private val ms0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  def nowUs: Long = ms0 * 1000 + (System.nanoTime() - ns0) / 1000

  final case class Span(id: Long, parent: Long, name: String, layer: String, start: Long, end: Long)

  @volatile var enabled = false
  private var sc: SparkContext = _
  private var nextId = 0L
  private var stack: List[Long] = Nil
  private val spans = new ConcurrentLinkedQueue[Span]()
  private[perfbench] val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private[perfbench] val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private[perfbench] val batches = new ConcurrentLinkedQueue[Map[String, Any]]()
  private[perfbench] val phases = new ConcurrentLinkedQueue[Map[String, Any]]()

  /** Install the job listener; the plan-phase and stream-progress
    * listeners are installed through static confs (see [[Main]]), since
    * the replays run on child sessions.
    */
  def install(context: SparkContext): Unit = {
    sc = context
    sc.addSparkListener(new JobListener)
  }

  /** Run `body` inside a span when tracing is on; jobs it starts are tagged. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0L)
      val start = nowUs
      stack = id :: stack
      sc.setLocalProperty(Tag, id.toString)
      try body
      finally {
        spans.add(Span(id, parent, name, layer, start, nowUs))
        stack = stack.tail
        sc.setLocalProperty(Tag, stack.headOption.map(_.toString).orNull)
      }
    }

  def records: Map[String, Any] = Map(
    "spans" -> spans.asScala.toSeq.sortBy(_.id).map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
      "start" -> s.start, "end" -> s.end)),
    "jobs" -> jobs.asScala.toSeq,
    "stages" -> stages.asScala.toSeq,
    "batches" -> batches.asScala.toSeq,
    "phases" -> phases.asScala.toSeq)
}

/** Jobs, stages and task metrics of tagged jobs. Task metrics are summed
  * per stage attempt; task durations are kept for the straggler ratio.
  */
class JobListener extends SparkListener {
  private case class Acc(var tasks: Int = 0, var runMs: Long = 0, var cpuNs: Long = 0,
      var gcMs: Long = 0, var shuffleRead: Long = 0, var shuffleWrite: Long = 0,
      var spill: Long = 0, var input: Long = 0, var output: Long = 0,
      durations: scala.collection.mutable.ArrayBuffer[Long] = scala.collection.mutable.ArrayBuffer())

  private val jobStart = TrieMap.empty[Int, (Long, Long)]
  private val stageJob = TrieMap.empty[Int, Int]
  private val acc = TrieMap.empty[(Int, Int), Acc]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Trace.Tag))).foreach { tag =>
      jobStart(e.jobId) = (e.time * 1000, tag.toLong)
      e.stageIds.foreach(stageJob.putIfAbsent(_, e.jobId))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (start, tag) =>
      Trace.jobs.add(Map("id" -> e.jobId, "span" -> tag, "start" -> start, "end" -> e.time * 1000,
        "ok" -> (e.jobResult == JobSucceeded)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageJob.contains(e.stageId) && e.taskMetrics != null) {
      val a = acc.getOrElseUpdate((e.stageId, e.stageAttemptId), Acc())
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
        a.output += m.outputMetrics.bytesWritten
        a.durations += e.taskInfo.duration
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    stageJob.get(si.stageId).foreach { job =>
      val a = acc.remove((si.stageId, si.attemptNumber())).getOrElse(Acc())
      val d = a.durations.sorted
      val start = si.submissionTime.getOrElse(0L)
      Trace.stages.add(Map(
        "id" -> si.stageId, "job" -> job, "start" -> start * 1000,
        "end" -> si.completionTime.getOrElse(start) * 1000, "num_tasks" -> si.numTasks,
        "tasks" -> a.tasks, "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs,
        "shuffle_read" -> a.shuffleRead, "shuffle_write" -> a.shuffleWrite, "spill" -> a.spill,
        "input" -> a.input, "output" -> a.output,
        "max_task_ms" -> d.lastOption.getOrElse(0L),
        "median_task_ms" -> (if (d.isEmpty) 0L else d(d.length / 2))))
    }
  }
}

/** Stream progress: one record per micro-batch (`StreamingQueryProgress`). */
class StreamProgressListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000
    Trace.batches.add(Map(
      "start" -> start, "end" -> (start + d.getOrElse("triggerExecution", 0L) * 1000),
      "input_rows" -> p.numInputRows, "durations" -> d,
      "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
      "state_memory_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum))
  }
}

/** Catalyst phase times of every executed query (`QueryExecution.tracker`). */
class PlanPhaseListener extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      Trace.phases.add(Map("name" -> name, "start" -> p.startTimeMs * 1000, "end" -> p.endTimeMs * 1000))
    }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}
