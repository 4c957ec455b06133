package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed section at a layer boundary: run → pass → query or batch →
  * construct, action, sink write, schema resolve. `startMs`/`endMs` are
  * wall-clock milliseconds, the clock Spark's listener events use, so a
  * span can be matched against the jobs that ran inside it.
  */
final case class Span(id: Long, parent: Long, name: String, startMs: Long, endMs: Long,
    attrs: Map[String, String])

/** Spans of one run, kept in memory and written out when the run ends.
  * With tracing off nothing is recorded and no listener is installed;
  * the workloads still time their sections, since the end-to-end
  * metrics come from the same timers.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]

  def newId(): Long = ids.incrementAndGet()

  /** Runs `body` as span `id`, returning its value and elapsed seconds.
    * When tracing, jobs submitted from this thread are tagged with the
    * span through a Spark local property.
    */
  def timed[T](spark: SparkSession, id: Long, parent: Long, name: String,
      attrs: Map[String, String] = Map.empty)(body: => T): (T, Double) = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(Tracer.SpanProperty)
    if (enabled) sc.setLocalProperty(Tracer.SpanProperty, id.toString)
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val v = body
      (v, (System.nanoTime() - t0) / 1e9)
    } finally {
      if (enabled) {
        record(Span(id, parent, name, ms0, System.currentTimeMillis(), attrs))
        sc.setLocalProperty(Tracer.SpanProperty, outer)
      }
    }
  }

  def record(s: Span): Unit = if (enabled) spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    all.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      val attrs = s.attrs.map { case (k, v) => s""""${Json.esc(k)}":"${Json.esc(v)}"""" }
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":"${Json.esc(s.name)}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"attrs":{${attrs.mkString(",")}}}""")
    }
    sb.append("\n]\n")
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  /** Session confs that install the traced run's listeners. They are
    * static confs, so sessions a query clones with `newSession` get them
    * too.
    */
  def sessionConfs: Map[String, String] = Map(
    "spark.extraListeners" -> classOf[JobListener].getName,
    "spark.sql.queryExecutionListeners" -> classOf[PlanListener].getName,
    "spark.sql.streaming.streamingQueryListeners" -> classOf[ProgressListener].getName)
}

/** What Spark's listeners saw since the last [[Events.reset]]. */
object Events {
  final case class Job(span: Long, startMs: Long, @volatile var endMs: Long)

  val jobs = new ConcurrentHashMap[Int, Job]
  private val stageSubmitMs = new ConcurrentHashMap[(Int, Int), java.lang.Long]
  val stages, tasks = new LongAdder
  val taskRunMs, taskCpuNs, gcMs, taskWaitMs = new LongAdder
  val shuffleReadBytes, shuffleWriteBytes, spillBytes = new LongAdder
  val planMs = new DoubleAdder
  val triggers = new LongAdder
  val progressMs = new ConcurrentHashMap[String, LongAdder]

  def reset(): Unit = {
    jobs.clear(); stageSubmitMs.clear(); progressMs.clear()
    Seq(stages, tasks, taskRunMs, taskCpuNs, gcMs, taskWaitMs, shuffleReadBytes,
      shuffleWriteBytes, spillBytes, triggers).foreach(_.reset())
    planMs.reset()
  }

  def jobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, Job(span, e.time, -1L))
  }

  def jobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  def stageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    stageSubmitMs.put((i.stageId, i.attemptNumber()),
      java.lang.Long.valueOf(i.submissionTime.getOrElse(System.currentTimeMillis())))
  }

  def taskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    Option(stageSubmitMs.get((e.stageId, e.stageAttemptId))).foreach { s =>
      taskWaitMs.add(math.max(0L, e.taskInfo.launchTime - s))
    }
    Option(e.taskMetrics).foreach { m =>
      taskRunMs.add(m.executorRunTime)
      taskCpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      shuffleReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Finished jobs as `(start, end)` ms intervals, with the span that
    * submitted them (-1 when untagged).
    */
  def jobIntervals: Seq[(Long, (Long, Long))] =
    jobs.values.asScala.toSeq.filter(_.endMs >= 0).map(j => j.span -> (j.startMs, j.endMs))
}

class JobListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = Events.jobStart(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = Events.jobEnd(e)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Events.stageSubmitted(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Events.stages.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Events.taskEnd(e)
}

/** Optimizer plus physical planning (and analysis) time of every action,
  * from the action's `QueryPlanningTracker`.
  */
class PlanListener extends QueryExecutionListener {
  private def add(qe: QueryExecution): Unit =
    Events.planMs.add(qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
}

/** Each streaming trigger's split, from `StreamingQueryProgress.durationMs`. */
class ProgressListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val d = e.progress.durationMs
    if (d.containsKey("triggerExecution")) Events.triggers.increment()
    d.asScala.foreach { case (k, v) =>
      Events.progressMs.computeIfAbsent(k, _ => new LongAdder).add(v.longValue)
    }
  }
}
