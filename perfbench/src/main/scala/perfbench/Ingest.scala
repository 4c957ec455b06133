package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.expr.PipelineConfig
import graft.io.{FileJsonSource, IdempotentParquetSink, ParquetDlqSink, RecordSink}
import graft.pipeline.{BatchOrchestrator, BatchStats}
import graft.schema.SchemaProvider
import graft.sources.Tables
import graft.streaming.StreamJob
import graft.types.ColumnMeta

/** `ingest`: the service path. A staged backlog of JSON files drains
  * through `StreamJob.start(FileJsonSource(dir, 1), orchestrator, ...,
  * Trigger.AvailableNow)`, valid rows into `IdempotentParquetSink`,
  * invalid ones into `ParquetDlqSink`. Passes repeat, each into a fresh
  * checkpoint and sink, until the time is up.
  */
object Ingest {
  /** Backlog files per pass, 25,000 lines each: one pass drains in
    * about 22 s on 4 cores, and 5% of 16 rounds to one drift batch.
    */
  val FilesPerPass = 16
  /** Files drained before measuring, so the JIT has compiled the batch
    * path; batch times settle after about three.
    */
  val WarmupFiles = 3

  val Cfg = PipelineConfig(required = Seq("event_id", "ts"), datetimeCols = Set("ts"),
    stringEnumCols = Set.empty)

  /** Per-layer time the benchmark's wrappers saw, summed. */
  final class Timers {
    val validWrite, dlqWrite, resolve = new DoubleAdder
    val resolves = new java.util.concurrent.atomic.AtomicLong
  }

  /** Times sink writes; the valid side also injects drift, failing the
    * first write of each drift batch the way a sink whose table changed
    * would.
    */
  final class TimedSink(inner: RecordSink, span: String, timer: DoubleAdder, drift: Set[Long],
      onWrite: (String, Long, Long) => Unit) extends RecordSink {
    private val failed = ConcurrentHashMap.newKeySet[Long]()
    def write(df: DataFrame): Boolean = write(df, -1L)
    override def write(df: DataFrame, batchId: Long): Boolean = {
      if (drift(batchId) && failed.add(batchId))
        throw new IllegalStateException(s"batch $batchId: sink table schema changed")
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try inner.write(df, batchId)
      finally {
        timer.add((System.nanoTime() - t0) / 1e6)
        onWrite(span, ms0, System.currentTimeMillis())
      }
    }
  }

  def run(run: Run): Outcome = {
    val spark = run.spark
    val o = run.opts
    var plans: Seq[FilePlan] = Nil
    // Set-up: read the source table, stage the seeded backlog, and write
    // the sink table's (empty) schema that the SchemaProvider describes.
    val (setupS, setupDir) = run.setup(Main.SetupReps) { d =>
      val events = Tables.events(spark, o.data.toString)
      plans = Gen.backlog(o.seed, FilesPerPass, events.collect().toIndexedSeq.map(Gen.eventJson),
        d.resolve("backlog"))
      events.limit(0).write.parquet(d.resolve("sink_schema").toString)
    }
    val backlog = setupDir.resolve("backlog")
    val timers = new Timers
    val inner = SchemaProvider.fromParquet(spark, setupDir.resolve("sink_schema").toString)
    @volatile var batchSpan = 0L
    val provider = new SchemaProvider {
      def resolve(): Seq[ColumnMeta] = {
        val ms0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        try inner.resolve()
        finally {
          timers.resolve.add((System.nanoTime() - t0) / 1e6)
          timers.resolves.incrementAndGet()
          run.tracer.record(Span(run.tracer.newId(), batchSpan, "schema_resolve", ms0,
            System.currentTimeMillis(), Map.empty))
        }
      }
    }
    val driftIds = plans.filter(_.drift).map(_.index.toLong).toSet

    final case class Batch(stats: BatchStats, span: Long, startMs: Long, endMs: Long, secs: Double)
    final case class Pass(batches: Seq[Batch], wall: Double, committed: Long, inserts: Long,
        constructS: Double, actionS: Double, err: Option[Throwable])

    /** One drain of `dir` into a fresh checkpoint and sinks. */
    def pass(p: Int, dir: Path, drift: Set[Long]): Pass = {
      val pdir = o.work.resolve(s"pass-$p")
      val passSpan = run.tracer.newId()
      val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]
      var last = System.nanoTime()
      var lastMs = System.currentTimeMillis()
      batchSpan = run.tracer.newId()
      def onWrite(name: String, s: Long, e: Long): Unit =
        run.tracer.record(Span(run.tracer.newId(), batchSpan, name, s, e, Map.empty))
      val validSink = new TimedSink(new IdempotentParquetSink(pdir.resolve("sink").toString), "valid_write",
        timers.validWrite, drift, (n, s, e) => { run.sampleCache(); onWrite(n, s, e) })
      val dlqSink = new TimedSink(new ParquetDlqSink(pdir.resolve("dlq").toString), "dlq_write",
        timers.dlqWrite, Set.empty, onWrite)
      val orch = new BatchOrchestrator(provider, Cfg, validSink, dlqSink, onBatchComplete = { s =>
        val now = System.nanoTime()
        val nowMs = System.currentTimeMillis()
        batches.add(Batch(s, batchSpan, lastMs, nowMs, (now - last) / 1e9))
        run.tracer.record(Span(batchSpan, passSpan, s"batch ${s.batchId}", lastMs, nowMs,
          Map("valid" -> s.validRows.getOrElse(-1L).toString, "dlq" -> s.dlqRows.getOrElse(-1L).toString,
            "retried" -> s.retried.toString)))
        batchSpan = run.tracer.newId()
        last = now; lastMs = nowMs
      })
      val t = run.tracer
      val (res, wall) = t.timed(spark, passSpan, run.runSpan, s"pass $p") {
        val start = t.timed(spark, t.newId(), passSpan, "construct") {
          StreamJob.start(new FileJsonSource(dir.toString, maxFilesPerTrigger = 1).load(spark),
            orch, pdir.resolve("checkpoint").toString, Trigger.AvailableNow())
        }
        val action = t.timed(spark, t.newId(), passSpan, "action") {
          try { start._1.awaitTermination(); None } catch { case e: Throwable => Some(e) }
        }
        (start._2, action._2, action._1)
      }
      val committed = IdempotentParquetSink.readCommitted(spark, pdir.resolve("sink").toString).count()
      Main.deleteTree(pdir)
      val (cs, as, err) = res
      Pass(batches.asScala.toSeq, wall, committed, orch.insertAttempts, cs, as, err)
    }

    // Warm-up: the first files in a directory of their own, no drift.
    val warm = o.work.resolve("warm")
    Files.createDirectories(warm)
    (0 until WarmupFiles).foreach { f =>
      val name = f"part-$f%05d.json"
      Files.copy(backlog.resolve(name), warm.resolve(name))
      Files.setLastModifiedTime(warm.resolve(name), Files.getLastModifiedTime(backlog.resolve(name)))
    }
    pass(0, warm, Set.empty)
    run.hygiene()
    run.startMeasuring()
    timers.validWrite.reset(); timers.dlqWrite.reset(); timers.resolve.reset(); timers.resolves.set(0)

    val byIndex = plans.map(p => p.index.toLong -> p).toMap
    val mismatches = Seq.newBuilder[String]
    val allBatches = Seq.newBuilder[Batch]
    var walls = Vector.empty[Double]
    var attempted, failed, attempts = 0L
    var constructS, actionS = 0.0
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    var p = 1
    while (p == 1 || System.nanoTime() < deadline) {
      val Pass(batches, wall, committed, inserts, cs, as, err) = pass(p, backlog, driftIds)
      walls :+= wall
      attempts += inserts
      constructS += cs
      actionS += as
      attempted += plans.size
      failed += plans.size - batches.size
      err.foreach(e => mismatches += s"pass $p stopped: ${e.getClass.getSimpleName}: ${e.getMessage}")
      batches.foreach { b =>
        val s = b.stats
        byIndex.get(s.batchId) match {
          case None => mismatches += s"pass $p: unexpected batch ${s.batchId}"
          case Some(fp) =>
            if (s.validRows != Some(fp.valid.toLong) || s.dlqRows != Some(fp.dlq.toLong))
              mismatches += s"pass $p batch ${s.batchId}: valid ${s.validRows} dlq ${s.dlqRows}, " +
                s"generated valid ${fp.valid} dlq ${fp.dlq}"
            if (s.retried != fp.drift)
              mismatches += s"pass $p batch ${s.batchId}: retried ${s.retried}, drift ${fp.drift}"
        }
      }
      val valid = batches.flatMap(_.stats.validRows).sum
      if (committed != valid)
        mismatches += s"pass $p: sink committed $committed rows, batches reported $valid valid"
      allBatches ++= batches
      p += 1
    }
    val batches = allBatches.result()
    val valid = batches.flatMap(_.stats.validRows).sum
    val dlq = batches.flatMap(_.stats.dlqRows).sum
    val blank = plans.map(_.blank).sum.toLong * walls.size
    val lines = plans.map(_.lines).sum.toLong * walls.size
    if (valid + dlq + blank != lines)
      mismatches += s"valid $valid + dlq $dlq + blank $blank != generated $lines"
    val batchMs = batches.map(_.stats.wallMs.toDouble).sum
    val n = math.max(1, batches.size).toDouble
    val timed = timers.validWrite.sum + timers.dlqWrite.sum + timers.resolve.sum
    val ops = batches.map(b => Op(b.span, b.startMs, b.endMs, b.secs, ok = true))
    val rowsPerS = lines / walls.sum
    Outcome(attempted, failed, mismatches.result(), setupS, rowsPerS, ops,
      Seq(f"ingest_rows_per_s $rowsPerS%.1f rows/s (${walls.size} passes of ${plans.size} " +
        f"files x ${Gen.LinesPerFile} lines, pass walls ${walls.map(w => f"$w%.2f").mkString(" ")} s)",
        s"ingest batch s ${batches.map(b => f"${b.secs}%.2f").mkString(" ")}",
        s"ingest batches ${batches.size}: valid $valid dlq $dlq blank $blank " +
          s"retried ${batches.count(_.stats.retried)} (drift files ${driftIds.toSeq.sorted.mkString(",")})"),
      Map(
        "pipeline.batch_ms" -> batchMs / n,
        "pipeline.parse_validate_ms" -> (batchMs - timed) / n,
        "io.valid_write_ms" -> timers.validWrite.sum / n,
        "io.dlq_write_ms" -> timers.dlqWrite.sum / n,
        "schema.resolve_ms" -> timers.resolve.sum,
        "schema.fetches" -> timers.resolves.get.toDouble,
        "pipeline.valid_rows" -> valid.toDouble,
        "pipeline.dlq_rows" -> dlq.toDouble,
        "pipeline.retried_batches" -> batches.count(_.stats.retried).toDouble,
        "pipeline.insert_attempts" -> attempts.toDouble,
        "queries.construct_s" -> constructS,
        "queries.action_s" -> actionS))
  }
}
