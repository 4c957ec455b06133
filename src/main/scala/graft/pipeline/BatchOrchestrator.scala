package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.expr.PipelineConfig
import graft.io.RecordSink
import graft.schema.SchemaProvider
import graft.types.ColumnMeta

/** The per-batch orchestrator with schema-drift retry (reference S10,
  * `process_packets` main.py:394-466):
  *
  *   1. schema cache miss → resolve once, reuse across batches
  *      (main.py:421-425);
  *   2. validate + coerce + insert (main.py:428-432);
  *   3. on insert failure: re-resolve the schema, re-validate the
  *      ORIGINAL payloads against it, retry the insert once
  *      (main.py:434-445);
  *   4. on second failure: the still-valid rows go to the DLQ as
  *      `{row: original payload, error}` envelopes (main.py:446-450);
  *   5. invalid rows go to the DLQ on every path (main.py:452-463).
  *
  * This is the body the streaming job hands to `foreachBatch`; it is
  * batch-scoped and deterministic — the only cross-batch state is the
  * cached schema, exactly like the reference (SURVEY §2.5).
  *
  * Parallelism: a batch with fewer partitions than the session's
  * `spark.sql.shuffle.partitions` (`n`) is first spread over `n`
  * partitions by a hash of its payload ([[BatchOrchestrator.spread]]),
  * so parse, validate, coerce and both sink writes run as `n` tasks
  * rather than one. A single-file backlog or a single-partition Kafka
  * topic (the reference's single-consumer shape) otherwise runs every
  * stage of every batch on one core. A batch with at least `n`
  * partitions is processed as it arrives. The payload hash sends a
  * redelivered batch's rows to the same partitions again, which the
  * partition-keyed ledger of `IdempotentJdbcSink` relies on — provided
  * `n` is the same on the redelivery: the `foreachBatch` frame's
  * session reads the CURRENT conf, not the value the offset log
  * recorded, so keep `spark.sql.shuffle.partitions` fixed across
  * restarts of one checkpoint. For the same reason the spread does not
  * look at load: where concurrent streams already fill the cores it
  * adds only its shuffle (about 10% fewer rows/s at 4 streams on 4
  * cores, `dev/PERF_LEDGER.md`), but skipping it under load would make
  * a redelivered batch's partitioning depend on timing.
  */
final class BatchOrchestrator(
    provider: SchemaProvider,
    cfg: PipelineConfig,
    validSink: RecordSink,
    dlqSink: RecordSink,
    onBatchComplete: BatchStats => Unit = BatchStats.logLine,
    metricWaitMs: Long = BatchOrchestrator.DefaultMetricWaitMs)
  extends Serializable {

  @volatile private var cachedMetas: Option[Seq[ColumnMeta]] = None
  /** Visible for tests: schema resolutions + insert attempts. */
  @volatile var schemaFetches: Int = 0
  @volatile var insertAttempts: Int = 0
  /** Telemetry of the most recent batch (reference main.py:420, 466:
    * "Processed {n} packets in {t:.2f} sec"). Counts ride the sink
    * writes via `Dataset.observe` — collected DURING the existing
    * action, never a second pass over the batch (`df.count()` here
    * would re-run decode→validate→coerce for every batch).
    */
  @volatile var lastStats: Option[BatchStats] = None

  private def metas(): Seq[ColumnMeta] = cachedMetas.getOrElse {
    schemaFetches += 1
    val m = provider.resolveFiltered()
    cachedMetas = Some(m)
    m
  }

  private def refreshMetas(): Seq[ColumnMeta] = {
    cachedMetas = None
    metas()
  }

  def processBatch(raw: DataFrame, batchId: Long): Unit = {
    val t0 = System.nanoTime()
    val batch = BatchOrchestrator.spread(raw)
    // The valid-row path is epoch-keyed (exactly-once under an
    // idempotent sink); DLQ writes stay at-least-once — duplicate
    // diagnostic envelopes on a redelivered batch are acceptable, as
    // in the reference (a retried batch re-produces to the DLQ topic).
    val res = Pipeline.process(batch, metas(), cfg)
    val (validObs, validDf) = observed(res.valid)
    val firstAttempt: Either[Exception, Boolean] =
      try { insertAttempts += 1; Right(validSink.write(validDf, batchId)) }
      catch { case e: Exception => Left(e) }
    firstAttempt match {
      case Right(wroteValid) =>
        val (dlqObs, dlqDf) = observed(res.dlq)
        val wroteDlq = dlqSink.write(dlqDf) // invalid → DLQ (main.py:452-456)
        res.release()
        finish(batchId, validObs, wroteValid, dlqObs, wroteDlq,
          retried = false, t0)
      case Left(_) =>
        // Schema drift path: rebuild schema, re-validate the ORIGINAL
        // payloads (not the already-coerced rows), retry the insert
        // once (main.py:434-445).
        val res2 = Pipeline.process(batch, refreshMetas(), cfg)
        val (validObs2, validDf2) = observed(res2.valid)
        val wroteValid2 =
          try { insertAttempts += 1; validSink.write(validDf2, batchId) }
          catch {
            case e2: Exception => // still-valid rows → DLQ (main.py:446-450)
              dlqSink.write(res2.validRaw.withColumn("error", lit(e2.getMessage)))
              false // the valid write died mid-action; its metrics may never arrive
          }
        val (dlqObs2, dlqDf2) = observed(res2.dlq)
        val wroteDlq2 = dlqSink.write(dlqDf2) // invalid → DLQ (main.py:459-463)
        res2.release()
        res.release()
        finish(batchId, validObs2, wroteValid2, dlqObs2, wroteDlq2,
          retried = true, t0)
    }
  }

  // One Observation per write: the count aggregates map-side inside
  // the sink's own job (an AggregatingAccumulator on the existing
  // scan), so telemetry costs zero extra passes.
  private def observed(df: DataFrame): (Observation, DataFrame) = {
    val obs = Observation()
    (obs, df.observe(obs, count(lit(1)).as("rows")))
  }

  private def finish(
      batchId: Long,
      valid: Observation,
      wroteValid: Boolean,
      dlq: Observation,
      wroteDlq: Boolean,
      retried: Boolean,
      t0: Long): Unit = {
    // Metric read keyed on the sink's own report (RecordSink.write's
    // Boolean): if the sink skipped its action (redelivered idempotent
    // epoch, empty batch) no job ran, no metrics exist, and the count
    // is honestly None — never wait for an event that will not come.
    // When the write DID run, the completed action's metrics travel an
    // ASYNC listener bus, so a bare non-blocking read here raced it
    // and silently dropped real counts. The read parks on the
    // observation's completion FUTURE with a bounded deadline (no
    // sleep-poll; `Observation.get` alone would block forever on a
    // lost event) and LOGS a deadline hit, so "listener event lost"
    // is distinguishable from "sink skipped the write" downstream
    // (IngestBench treats None-after-write as metric loss, not 0).
    def n(o: Observation, wrote: Boolean): Option[Long] = {
      if (!wrote) return None
      org.apache.spark.sql.graft.bridge.observationAwait(o, metricWaitMs) match {
        case Some(m) => m.get("rows").map(_.asInstanceOf[Long])
        case None =>
          System.err.println(
            s"[graft] batch $batchId: observation metrics missing after " +
              s"$metricWaitMs ms — listener event lost (metric loss, the " +
              "write itself reported success)")
          None
      }
    }
    val stats = BatchStats(batchId, n(valid, wroteValid), n(dlq, wroteDlq),
      retried, (System.nanoTime() - t0) / 1000000L)
    lastStats = Some(stats)
    onBatchComplete(stats)
  }
}

object BatchOrchestrator {
  /** How long `finish` waits for a completed write's observation
    * metrics to cross the async listener bus before declaring the
    * event lost. Generous: the bus drains in milliseconds unless the
    * driver is saturated; a hit is logged, never silent.
    */
  val DefaultMetricWaitMs: Long = 10000L

  /** `raw` itself when it already has at least `n` =
    * `spark.sql.shuffle.partitions` partitions, else `raw` hash-
    * partitioned on its payload into exactly `n`. The explicit count
    * keeps AQE from coalescing the (small) shuffle back into one
    * partition; the hash, unlike round-robin, needs no local sort to
    * be deterministic across redeliveries. The partition count comes
    * from the RDD: a `foreachBatch` frame's plan reports an unknown
    * partitioning, and its already-built RDD answers without a job.
    */
  private[graft] def spread(raw: DataFrame): DataFrame = {
    val n = raw.sparkSession.sessionState.conf.numShufflePartitions
    if (raw.queryExecution.toRdd.getNumPartitions >= n) raw
    else raw.repartition(n, col(Pipeline.ValueCol))
  }
}

/** Per-batch processing telemetry (the reference's per-batch log:
  * "Processed {n} packets in {t:.2f} sec", main.py:420, 466 — plus
  * the valid/DLQ split and the drift-retry flag it doesn't surface).
  * A count is None when its sink skipped the write (idempotent
  * redelivery, or an empty batch the sink elided), distinguishing
  * "rows rode a write" from "did not write".
  */
final case class BatchStats(
    batchId: Long,
    validRows: Option[Long],
    dlqRows: Option[Long],
    retried: Boolean,
    wallMs: Long)

object BatchStats {
  /** Default `onBatchComplete`: the reference's log line, on stderr. */
  val logLine: BatchStats => Unit = s =>
    System.err.println(
      f"[graft] batch ${s.batchId}: valid=${s.validRows.getOrElse(-1L)} " +
        f"dlq=${s.dlqRows.getOrElse(-1L)} retried=${s.retried} " +
        f"in ${s.wallMs / 1000.0}%.2f sec")
}
