package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Cold per-query profiler. Every rep runs after [[Harness.hygiene]],
  * so its numbers compare with Bench's cold medians. Per rep it prints
  * the wall time, the Spark jobs the query triggered (submit→end wall
  * and callsite), the job-busy time (union of job intervals) and the
  * GAP — wall time with no job running: planning, codegen compile,
  * collect post-processing, persist bookkeeping. The per-query fixed
  * cost is made of the gap; the job list shows which actions a
  * restructure could merge or delete. It also prints the cached bytes (memory, disk) and the
  * number of cached RDDs read right after the action, before hygiene
  * releases them: the peak footprint a persist held during the query.
  *
  * Usage: `runMain graft.Profile <q1,q2,...> [reps] [dir] [build=<baseDir>:<copies>]`
  * — dir defaults to `$SPARK_GRAFT_SF_DIR`, else sf0.01; `build=` first
  * derives the token-suffix scaled corpus into dir
  * ([[ScaleRehearsal.buildCorpusSuffix]], reused if already built).
  */
object Profile {

  final case class Job(id: Int, start: Long, end: Long, site: String)

  final case class Rep(wall: Double, jobs: Seq[Job], busy: Double,
      cacheMemBytes: Long, cacheDiskBytes: Long, nCached: Int) {
    def gap: Double = wall - busy
  }

  /** Total length of the union of `[start, end]` intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = Long.MinValue
    for ((s, e) <- intervals.sortBy(_._1)) {
      val from = math.max(s, reach)
      if (e > from) { covered += e - from; reach = e }
    }
    covered
  }

  /** One cold rep of `name` over `dir`. */
  def rep(spark: SparkSession, name: String, dir: String): Rep = {
    val started = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val ended = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // The result stage's name is the job's short call site.
        val site = if (e.stageInfos.isEmpty) "?" else e.stageInfos.maxBy(_.stageId).name
        started.put(e.jobId, Job(e.jobId, e.time, -1L, site))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.put(e.jobId, e.time)
    }
    val sc = spark.sparkContext
    Harness.hygiene(spark)
    sc.addSparkListener(listener)
    try {
      val (wall, _) = Harness.timed(Harness.noop(SparkEntry.queries(name)(spark, dir)))
      val info = sc.getRDDStorageInfo
      Thread.sleep(200) // job-end events arrive asynchronously
      val jobs = started.values().toArray(Array.empty[Job]).toSeq
        .map(j => j.copy(end = ended.getOrDefault(j.id, -1L))).sortBy(_.start)
      val busy = unionLength(jobs.filter(_.end > 0).map(j => (j.start, j.end))) / 1e3
      Rep(wall, jobs, busy, info.map(_.memSize).sum, info.map(_.diskSize).sum, info.length)
    } finally sc.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = Harness.run() { spark =>
    val (builds, pos) = args.partition(_.startsWith("build="))
    val names = pos.headOption.getOrElse("q131_pagerank").split(",").toSeq
    val reps = if (pos.length > 1) pos(1).toInt else 2
    val dir = if (pos.length > 2) pos(2) else Harness.sfDir("sf0.01")
    builds.foreach { a =>
      val Array(base, copies) = a.stripPrefix("build=").split(":")
      ScaleRehearsal.buildCorpusSuffix(spark, base, dir, copies.toInt)
    }
    Harness.warmUp(spark, dir)
    for (n <- names; r <- 1 to reps) {
      val p = rep(spark, n, dir)
      println(f"[profile] $n rep$r wall=${p.wall}%.2fs jobs=${p.jobs.length} " +
        f"busy=${p.busy}%.2fs gap=${p.gap}%.2fs " +
        f"cacheMem=${p.cacheMemBytes / 1048576.0}%.1fMB " +
        f"cacheDisk=${p.cacheDiskBytes / 1048576.0}%.1fMB nCached=${p.nCached}")
      for (j <- p.jobs) {
        val secs = if (j.end > 0) (j.end - j.start) / 1e3 else -1.0
        println(f"[profile]   job${j.id}%-4d $secs%6.2fs  ${j.site}")
      }
    }
  }
}
