package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    benchDir: Path, work: Path, pin: Boolean) {
  def data: Path = benchDir.resolve("data").resolve("sf0.01")
}

/** One measured operation (a query or a micro-batch). */
final case class Op(span: Long, startMs: Long, endMs: Long, seconds: Double, ok: Boolean)

/** What a workload hands back. `throughput` is per second of the
  * workload's own unit (rows for ingest, queries otherwise);
  * `layers` are the per-layer figures only that workload can measure.
  */
final case class Outcome(attempted: Long, failed: Long, mismatches: Seq[String],
    setupS: Double, throughput: Double, ops: Seq[Op], report: Seq[String],
    layers: Map[String, Double])

/** State shared by a run's workload code. */
final class Run(val spark: SparkSession, val opts: Opts, val tracer: Tracer) {
  val runSpan: Long = tracer.newId()
  val cachePeak = new java.util.concurrent.atomic.AtomicLong(0)
  @volatile var codegen0: Codegen = Codegen.now()

  /** Marks the end of set-up and warm-up: the per-layer counters start
    * from here.
    */
  def startMeasuring(): Unit = {
    if (tracer.enabled) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      Events.reset()
      cachePeak.set(0)
    }
    codegen0 = Codegen.now()
    Main.phase("measuring")
  }

  /** Bytes the block manager holds, sampled before hygiene drops them. */
  def sampleCache(): Unit = if (tracer.enabled) {
    val b = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    cachePeak.accumulateAndGet(b, math.max)
  }

  /** `Bench`'s inter-query hygiene: release tracked persists, clear the
    * session caches and persisted RDDs, and collect garbage.
    */
  def hygiene(): Unit = {
    graft.CacheRegistry.releaseAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
  }

  /** Median of `reps` set-ups, each into a fresh directory; returns the
    * median seconds and the last directory set up.
    */
  def setup(reps: Int)(body: Path => Unit): (Double, Path) = {
    val dirs = (1 to reps).map(i => opts.work.resolve(s"setup-$i"))
    val secs = dirs.map { d =>
      val t0 = System.nanoTime()
      body(d)
      (System.nanoTime() - t0) / 1e9
    }
    dirs.init.foreach(Main.deleteTree)
    Main.phase(s"set-ups took ${secs.map(s => f"$s%.2f").mkString(" ")} s")
    (Stats.median(secs), dirs.last)
  }
}

object Main {
  val Cores = 4
  val SetupReps = 3

  /** Progress on stderr, stamped with the JVM's uptime. */
  def phase(what: String): Unit = System.err.println(
    s"perfbench: ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime} ms: $what")

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("bench-dir")).toAbsolutePath, Paths.get(need("work")).toAbsolutePath,
      m.get("pin").contains("1"))
  }

  def session(o: Opts): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
    (if (o.trace) Tracer.sessionConfs else Map.empty[String, String])
      .foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
      .getOrCreate()
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    require(Paths.get("").toAbsolutePath == opts.work, "run the JVM in the --work directory")
    val spark = session(opts)
    spark.sparkContext.setLogLevel("WARN")
    Main.phase("session ready")
    val run = new Run(spark, opts, new Tracer(opts.trace))
    if (opts.pin) { QueryWorkloads.pin(run); spark.stop(); return }
    val out = opts.workload match {
      case "ingest" => Ingest.run(run)
      case "sweep" => QueryWorkloads.sweep(run)
      case w => sys.error(s"unknown workload $w")
    }
    val layers = if (opts.trace) Layers.collect(run, out, Codegen.now().minus(run.codegen0)) else Nil
    if (opts.trace) run.tracer.writeJson(opts.work.resolve(s"trace_${opts.workload}.json"))
    spark.stop()

    // Both workloads are closed loops at capacity, so work per second at
    // the stated input size is the bounded metric. A run has 16 batches
    // or 31 queries: too few for a steady percentile, so latency
    // percentiles are printed with their sample count, not bounded.
    val lat = out.ops.filter(_.ok).map(_.seconds * 1000)
    val e2e = Seq(
      ("setup_s", out.setupS, "s"),
      ("throughput_per_s", out.throughput, "1/s"))
    out.report.foreach(println)
    println(f"failed_share ${out.failed.toDouble / math.max(1L, out.attempted)}%.4f " +
      s"(${out.failed} of ${out.attempted} ${opts.workload} operations)")
    if (lat.nonEmpty)
      println(f"latency p50 ${Stats.median(lat)}%.1f ms, p90 ${Stats.percentile(lat, 0.9)}%.1f ms over n=${lat.size} " +
        s"(p90 has ${lat.size - math.ceil(0.9 * lat.size).toInt} samples beyond it)")
    out.mismatches.foreach(m => println(s"MISMATCH $m"))
    val metrics =
      if (opts.trace) layers ++ e2e.map { case (n, v, u) => (s"traced.$n", v, u) }
      else e2e
    // A wrong output fails the run. An operation that threw is counted
    // in `failed`, named above, and stays in the workload.
    val correct = out.mismatches.isEmpty
    val body = metrics.map { case (n, v, u) => s""""$n":{"value":${Json.num(v)},"unit":"$u"}""" }
    println(s"""{"correct":$correct,"attempted":${out.attempted},"failed":${out.failed},""" +
      s""""metrics":{${body.mkString(",")}}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}

/** JVM-wide code generation counters the program's Spark keeps. */
final case class Codegen(compileNs: Long, compiles: Long, codegenNs: Long) {
  def minus(o: Codegen): Codegen =
    Codegen(compileNs - o.compileNs, compiles - o.compiles, codegenNs - o.codegenNs)
}

object Codegen {
  def now(): Codegen = Codegen(
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime)
}

/** The traced run's per-layer record. */
object Layers {
  /** `StreamingQueryProgress.durationMs` keys, per trigger. */
  val Streaming = Seq("trigger_ms" -> "triggerExecution", "add_batch_ms" -> "addBatch",
    "wal_commit_ms" -> "walCommit", "commit_offsets_ms" -> "commitOffsets",
    "latest_offset_ms" -> "latestOffset", "get_batch_ms" -> "getBatch",
    "query_planning_ms" -> "queryPlanning")
  /** Figures only the workload's own timers give; 0 where it has none. */
  val Workload = Seq("pipeline.batch_ms" -> "ms", "pipeline.parse_validate_ms" -> "ms",
    "io.valid_write_ms" -> "ms", "io.dlq_write_ms" -> "ms", "schema.resolve_ms" -> "ms",
    "schema.fetches" -> "count", "pipeline.valid_rows" -> "count",
    "pipeline.dlq_rows" -> "count", "pipeline.retried_batches" -> "count",
    "pipeline.insert_attempts" -> "count", "queries.construct_s" -> "s",
    "queries.action_s" -> "s")

  def collect(run: Run, out: Outcome, cg: Codegen): Seq[(String, Double, String)] = {
    org.apache.spark.PerfbenchBus.drain(run.spark.sparkContext)
    val ev = Events
    val streaming = Streaming.map { case (name, key) =>
      val total = Option(ev.progressMs.get(key)).map(_.sum).getOrElse(0L)
      (s"streaming.$name", total.toDouble / math.max(1L, ev.triggers.sum), "ms")
    } :+ ("streaming.triggers", ev.triggers.sum.toDouble, "count")
    val workload = Workload.map { case (n, u) => (n, out.layers.getOrElse(n, 0.0), u) }

    // A job belongs to the operation whose span, or a span inside it,
    // submitted it. Jobs from threads outside any operation (the
    // stream thread of an ingest pass) belong to the operation running
    // when they started; ingest runs one stream at a time.
    val spans = run.tracer.all
    val parent = spans.map(s => s.id -> s.parent).toMap
    val opIds = out.ops.map(_.span).toSet
    def opOf(id: Long): Option[Long] =
      if (id <= 0) None else if (opIds(id)) Some(id) else parent.get(id).flatMap(opOf)
    val jobs = ev.jobIntervals
    val tagged = jobs.groupBy { case (tag, _) => opOf(tag) }
    val loose = tagged.getOrElse(None, Nil).map(_._2)
    val gapMs = out.ops.map { op =>
      val mine = tagged.getOrElse(Some(op.span), Nil).map(_._2) ++
        loose.filter { case (s, _) => s >= op.startMs && s < op.endMs }
      Stats.uncovered(op.startMs, op.endMs, mine)
    }.sum
    val busyMs = Stats.unionLength(jobs.map(_._2))
    val leaked = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    val graftDirs = try leaked.iterator.asScala.filter(_.getFileName.toString.startsWith("graft_")).toSeq
      finally leaked.close()
    val leakedBytes = graftDirs.map { d =>
      val s = Files.walk(d)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }.sum

    streaming ++ workload ++ Seq(
      ("spark.plan_s", ev.planMs.sum / 1000, "s"),
      ("spark.compile_s", cg.compileNs / 1e9, "s"),
      ("spark.compiles", cg.compiles.toDouble, "count"),
      ("spark.codegen_s", cg.codegenNs / 1e9, "s"),
      ("spark.jobs", jobs.size.toDouble, "count"),
      ("spark.stages", ev.stages.sum.toDouble, "count"),
      ("spark.tasks", ev.tasks.sum.toDouble, "count"),
      ("spark.job_busy_s", busyMs / 1000.0, "s"),
      ("spark.driver_gap_s", gapMs / 1000.0, "s"),
      ("spark.task_run_s", ev.taskRunMs.sum / 1000.0, "s"),
      ("spark.task_cpu_s", ev.taskCpuNs.sum / 1e9, "s"),
      ("spark.task_wait_s", ev.taskWaitMs.sum / 1000.0, "s"),
      ("spark.gc_s", ev.gcMs.sum / 1000.0, "s"),
      ("spark.shuffle_read_bytes", ev.shuffleReadBytes.sum.toDouble, "bytes"),
      ("spark.shuffle_write_bytes", ev.shuffleWriteBytes.sum.toDouble, "bytes"),
      ("spark.spill_bytes", ev.spillBytes.sum.toDouble, "bytes"),
      ("cache.peak_bytes", run.cachePeak.get.toDouble, "bytes"),
      ("tmp.leaked_dirs", graftDirs.size.toDouble, "count"),
      ("tmp.leaked_bytes", leakedBytes.toDouble, "bytes"))
  }
}
