package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQuery

/** TYPED physical-plan profiling shared by the scale/plan harnesses.
  *
  * Why typed, not regex-over-plan-string: (a) `"Exchange".r` counts
  * BroadcastExchange and ReusedExchange as shuffles ("Exchange" is a
  * substring), so a broadcast→shuffle bound silently mixes the two;
  * (b) the plan STRING of a freshly planned query under AQE (Spark 4
  * default) is the INITIAL adaptive plan — runtime join-strategy
  * conversions at scale (the exact regression ScaleRehearsal gates)
  * never appear in it. Both are fixed here: node classes are matched
  * exactly, and the count recurses through
  * AdaptiveSparkPlanExec.executedPlan / QueryStageExec.plan, so
  * callers that EXECUTE the frame first read the AQE FINAL plan.
  */
object PlanShape {

  /** The shape keys every verdict compares. */
  val Keys: Seq[String] = Seq(
    "ShuffleExchange", "BroadcastExchange", "BroadcastHashJoin",
    "SortMergeJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin",
    "CartesianProduct")

  /** All nodes reachable from `p`, descending through the adaptive
    * wrappers (both are leaf nodes whose real subtree hangs off a
    * non-child field) and skipping ReusedExchange subtrees (the reused
    * exchange was already counted where it was planned).
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] =
    p.collect { case x => x }.flatMap {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case r: ReusedExchangeExec => Seq(r)
      case x => Seq(x)
    }

  /** Count the scale-deciding operators in (the final form of) `p`. */
  def counts(p: SparkPlan): Map[String, Int] = {
    val ns = nodes(p)
    Map(
      "ShuffleExchange" -> ns.count(_.isInstanceOf[ShuffleExchangeLike]),
      "BroadcastExchange" -> ns.count(_.isInstanceOf[BroadcastExchangeLike]),
      "BroadcastHashJoin" -> ns.count(_.isInstanceOf[BroadcastHashJoinExec]),
      "SortMergeJoin" -> ns.count(_.isInstanceOf[SortMergeJoinExec]),
      "ShuffledHashJoin" -> ns.count(_.isInstanceOf[ShuffledHashJoinExec]),
      "BroadcastNestedLoopJoin" -> ns.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "CartesianProduct" -> ns.count(_.isInstanceOf[CartesianProductExec]))
  }

  /** Execute `df` through ITS OWN QueryExecution (a foreachPartition
    * over the internal-row RDD — distributed, nothing collected) and
    * return the AQE FINAL plan's operator counts. A `noop`-sink write
    * runs a SEPARATE QueryExecution, whose adaptive plan this df never
    * sees.
    */
  def executedCounts(df: DataFrame): Map[String, Int] = {
    df.queryExecution.toRdd.foreachPartition(_ => ())
    counts(df.queryExecution.executedPlan)
  }

  /** One finished streaming run's scale-relevant readout: the final
    * micro-batch plan shape plus the state-store totals — FINAL rows
    * (what watermark eviction leaves behind: the end-state claim) and
    * PEAK rows across every reported micro-batch (the in-flight bound:
    * what an executor must actually hold while the stream runs).
    */
  final case class StreamRunInfo(
      shape: Map[String, Int], stateRows: Long, statePeakRows: Long,
      stateBytes: Long)

  private val streamTelemetry =
    new java.util.concurrent.ConcurrentHashMap[String, StreamRunInfo]()

  /** Record shape + state metrics of a TERMINATED streaming query
    * under `tag` (queried later via [[lastStreamRun]]). The micro-batch
    * plan comes from the StreamExecution's lastExecution (the
    * IncrementalExecution that really ran, AQE-final by construction —
    * streaming disables AQE for stateful plans); state totals from the
    * newest progress that carries stateOperators (AvailableNow's
    * closing no-data batch reports them too; -1 = stateless query).
    */
  def captureStream(tag: String, q: StreamingQuery): Unit = try {
    val exec = q match {
      case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
        w.streamingQuery.lastExecution
      case _ => null
    }
    val shape =
      if (exec == null) Map.empty[String, Int] else counts(exec.executedPlan)
    val sos = q.recentProgress.reverse
      .collectFirst { case p if p.stateOperators.nonEmpty => p.stateOperators }
    val perBatch = q.recentProgress.toSeq
      .filter(_.stateOperators.nonEmpty)
      .map(_.stateOperators.map(_.numRowsTotal).sum)
    streamTelemetry.put(tag, StreamRunInfo(
      shape,
      sos.map(_.map(_.numRowsTotal).sum).getOrElse(-1L),
      if (perBatch.nonEmpty) perBatch.max else -1L,
      sos.map(_.map(_.memoryUsedBytes).sum).getOrElse(-1L)))
  } catch { case scala.util.control.NonFatal(_) => () }

  def lastStreamRun(tag: String): Option[StreamRunInfo] =
    Option(streamTelemetry.get(tag))
}
