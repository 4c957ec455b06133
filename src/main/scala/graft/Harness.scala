package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The setup every runnable `main` shares: the env-contract session,
  * the data directory, inter-query hygiene, warm-up, cold timing and
  * temp-dir ownership. Harnesses differ in what they run, never in how
  * a run is set up, so a measurement taken by one is comparable with
  * any other.
  *
  * Env contract: `$SPARK_GRAFT_CPUS` sets `local[n]` and the shuffle
  * partition count (default: the host's core count);
  * `$SPARK_GRAFT_SF_DIR` names the data directory (each caller keeps
  * its own default scale).
  */
object Harness {

  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Where the sf0.001/sf0.01/sf0.1 test tables live. */
  val DataRoot = "/root/testdata"

  /** `$SPARK_GRAFT_SF_DIR`, else scale `defaultSf` under [[DataRoot]]. */
  def sfDir(defaultSf: String): String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", s"$DataRoot/$defaultSf")

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]

  /** Build the session (`confs` are applied last, so a caller can
    * override a default), run `body`, then stop the session and delete
    * every [[tempDir]] the run created — also when `body` throws.
    */
  def run[T](confs: (String, String)*)(body: SparkSession => T): T = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = confs.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try body(spark)
    finally {
      spark.stop()
      deleteTempDirs()
    }
  }

  /** A fresh temp dir owned by the current [[run]]: deleted when it ends. */
  def tempDir(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    tempDirs.add(p)
    p.toString
  }

  private def deleteTempDirs(): Unit =
    Iterator.continually(tempDirs.poll()).takeWhile(_ != null).foreach { root =>
      if (Files.exists(root)) {
        val walk = Files.walk(root)
        try walk.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      }
    }

  /** Inter-query hygiene. Queries that persist or localCheckpoint
    * intermediates would otherwise leave blocks pinned for every later
    * query, and that pressure shows up as phantom regressions in
    * whichever queries run late. The GC lets the ContextCleaner reap
    * dropped broadcasts. Callers run it OUTSIDE any timed region, and
    * identically before every query, so no query gets a privileged
    * just-collected heap.
    */
  def hygiene(spark: SparkSession): Unit = {
    CacheRegistry.releaseAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
  }

  /** Pay the JVM/Spark one-time cost (class loading, codegen, parquet
    * reader init) so the first timed query does not absorb it.
    */
  def warmUp(spark: SparkSession, dir: String): Unit =
    spark.read.parquet(s"$dir/region.parquet").groupBy("r_name").count().collect()

  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Materialize the FULL plan: `count()` would let the optimizer elide
    * final sorts and unreferenced columns.
    */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Seconds for one cold run of a registered query: hygiene first,
    * then construction plus a `noop` write under the clock.
    */
  def coldRun(spark: SparkSession, name: String, dir: String): Double = {
    hygiene(spark)
    timed(noop(SparkEntry.queries(name)(spark, dir)))._1
  }
}
