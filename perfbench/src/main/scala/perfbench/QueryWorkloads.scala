package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.SparkEntry
import graft.sources.Tables

/** The query-engine workload. It reads the fixed sf0.01 test tables in
  * `data/sf0.01` (the seed does not change them) and calls the queries
  * through `SparkEntry.queries`.
  */
object QueryWorkloads {
  val Tables10 = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  private def lines(p: Path): Seq[String] =
    Files.readAllLines(p).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq

  def sweepList(o: Opts): Seq[String] = lines(o.benchDir.resolve("sweep_queries.txt"))

  /** Set-up: copy the tables into a fresh directory and open each one
    * through `Tables.read`. The median of [[Main.SetupReps]] set-ups is
    * `setup_s`; the queries read the last. They get its path relative to
    * the run's working directory, so the program sees the same `dir`
    * string in every run and every checkout (queries key staged state
    * on it).
    */
  def setupTables(run: Run): (Double, String) = {
    val (secs, dir) = run.setup(Main.SetupReps) { d =>
      Files.createDirectories(d)
      Tables10.foreach { t =>
        Files.copy(run.opts.data.resolve(s"$t.parquet"), d.resolve(s"$t.parquet"))
        Tables.read(run.spark, d.toString, t).schema
      }
    }
    (secs, run.opts.work.relativize(dir).toString)
  }

  /** One query as a span with construct and action children: builds the
    * DataFrame through `SparkEntry.queries` (eager staging, collects and
    * drains happen here), then runs it to a no-op sink with the
    * fingerprint riding the action.
    */
  def execute(run: Run, name: String, dir: String, parent: Long,
      write: (DataFrame, Seq[String]) => Unit = (d, _) => d.write.format("noop").mode("overwrite").save())
      : (String, Double, Double) = {
    val (t, spark) = (run.tracer, run.spark)
    val (df, cs) = t.timed(spark, t.newId(), parent, "construct") { SparkEntry.queries(name)(spark, dir) }
    val (obs, observed) = Fingerprint.observe(df)
    val (_, as) = t.timed(spark, t.newId(), parent, "action") { write(observed, df.columns.toSeq) }
    run.sampleCache()
    (Fingerprint.read(obs), cs, as)
  }

  /** `sweep`: cold serial passes over the committed query list, with
    * `Bench`'s hygiene between queries, until the time is up (at least
    * one). A query that throws stays in the list and counts as failed.
    */
  def sweep(run: Run): Outcome = {
    val names = sweepList(run.opts)
    val pinned = Fingerprint.load(run.opts.benchDir.resolve("fingerprints.tsv"))
    val (setupS, dir) = setupTables(run)
    // Bench's warm-up: class loading and reader init stay out of the
    // first query.
    run.spark.read.parquet(s"$dir/region.parquet").groupBy("r_name").count().collect()
    run.hygiene()
    run.startMeasuring()
    var constructS, actionS = 0.0
    val mismatches = Seq.newBuilder[String]
    val ops = Seq.newBuilder[Op]
    val deadline = System.nanoTime() + run.opts.seconds * 1000000000L
    var passes = 0
    while (passes == 0 || System.nanoTime() < deadline) {
      names.foreach { name =>
        val id = run.tracer.newId()
        val ms0 = System.currentTimeMillis()
        val (res, secs) = run.tracer.timed(run.spark, id, run.runSpan, name) {
          try Right(execute(run, name, dir, id))
          catch { case e: Throwable => Left(e) }
        }
        run.hygiene()
        System.err.println(f"SWEEP_QUERY $name $secs%.3f")
        val ok = res match {
          case Right((fp, c, a)) =>
            constructS += c
            actionS += a
            if (!pinned.get(name).contains(fp))
              mismatches += s"$name fingerprint $fp, pinned ${pinned.getOrElse(name, "none")}"
            true
          case Left(e) =>
            System.err.println(s"SWEEP_FAIL $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
            println(s"failed: $name (${e.getClass.getSimpleName}: ${e.getMessage})")
            false
        }
        ops += Op(id, ms0, ms0 + (secs * 1000).toLong, secs, ok)
      }
      passes += 1
    }
    val all = ops.result()
    val wall = all.map(_.seconds).sum
    Outcome(all.size, all.count(!_.ok), mismatches.result(), setupS, all.size / wall, all,
      Seq(f"sweep_wall_s $wall%.3f s ($passes x ${names.size} queries, local[${Main.Cores}], sf0.01)"),
      Map("queries.construct_s" -> constructS, "queries.action_s" -> actionS))
  }

  /** Records the fingerprints of the sweep list and dumps every
    * oracle-expressible result with its SQL for a DuckDB cross-check
    * (`<work>/oracle`, the layout `dev/check_oracle.py` reads).
    */
  def pin(run: Run): Unit = {
    val (_, dir) = setupTables(run)
    val names = sweepList(run.opts)
    val oracleDir = run.opts.work.resolve("oracle")
    val sql = SparkEntry.oracleSql
    val out = names.map { name =>
      val t0 = System.nanoTime()
      val fp = execute(run, name, dir, run.runSpan, write = (df, columns) =>
        if (sql.contains(name))
          df.toDF(columns: _*).coalesce(1).write.mode("overwrite")
            .parquet(oracleDir.resolve(name).toString)
        else df.write.format("noop").mode("overwrite").save())._1
      run.hygiene()
      println(f"pin $name $fp ${(System.nanoTime() - t0) / 1e9}%.3f s")
      s"$name\t$fp"
    }
    val oracle = names.filter(sql.contains).map(n => s""""$n":"${Json.esc(sql(n))}"""")
    Files.createDirectories(oracleDir)
    Files.write(oracleDir.resolve("oracle_sql.json"), oracle.mkString("{", ",\n", "}\n").getBytes("UTF-8"))
    Files.write(run.opts.work.resolve("fingerprints.tsv"), (out.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
