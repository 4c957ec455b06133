package graft

import org.apache.spark.sql.functions._

/** The harness kernel ([[Harness]], [[Profile]]) and the scale tooling
  * it drives: typed plan shapes ([[PlanShape]]) and the rehearsal
  * corpus's text rotation ([[ScaleRehearsal.rotateText]]).
  */
class HarnessSpec extends SparkSpec {
  import spark.implicits._

  test("Harness.hygiene releases tracked persists, local checkpoints " +
      "and the catalog cache") {
    import CacheRegistry.TrackedPersist
    def frame = spark.range(0, 1000).toDF("id")
    val tracked = frame.withColumn("g", col("id") % 7).persistTracked()
    val ckpt = frame.withColumn("h", col("id") * 2).localCheckpoint(true)
    val cached = frame.withColumn("c", col("id") + 1).cache()
    assert(tracked.join(ckpt, "id").join(cached, "id").count() == 1000)
    assert(CacheRegistry.outstanding >= 1)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    assert(!spark.sharedState.cacheManager.isEmpty)
    Harness.hygiene(spark)
    assert(CacheRegistry.outstanding == 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"persistent RDDs left: ${spark.sparkContext.getPersistentRDDs.keys}")
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("Profile.unionLength: disjoint, overlapping, nested, touching, empty") {
    import Profile.unionLength
    assert(unionLength(Nil) == 0)
    assert(unionLength(Seq(5L -> 7L, 0L -> 2L)) == 4)   // disjoint, unsorted
    assert(unionLength(Seq(0L -> 5L, 3L -> 8L)) == 8)   // overlapping
    assert(unionLength(Seq(0L -> 10L, 2L -> 3L)) == 10) // nested
    assert(unionLength(Seq(0L -> 5L, 5L -> 10L)) == 10) // touching
    assert(unionLength(Seq(0L -> 10L, 2L -> 3L, 9L -> 12L, 20L -> 21L)) == 13)
  }

  test("Profile.rep: one cold rep of q01 records jobs and busy <= wall") {
    val r = Profile.rep(spark, "q01_agg_pricing", sf())
    assert(r.jobs.nonEmpty, "q01 must run at least one job")
    assert(r.busy >= 0 && r.busy <= r.wall, s"busy=${r.busy} wall=${r.wall}")
    assert(r.jobs.forall(j => j.end >= j.start), s"unfinished jobs: ${r.jobs}")
  }

  test("PlanShape.counts separates broadcast from shuffle exchanges " +
      "and reads the AQE-final plan") {
    val fact = spark.range(0, 1000).toDF("k")
      .withColumn("v", col("k") % 7)
    val dim = spark.range(0, 10).toDF("k").withColumn("name", col("k") * 2)
    val df = fact.join(broadcast(dim), "k").groupBy("v").count()
    val c = PlanShape.executedCounts(df)
    assert(c("BroadcastHashJoin") == 1, s"expected 1 BHJ: $c")
    assert(c("BroadcastExchange") == 1, s"expected 1 broadcast exchange: $c")
    // The substring bug this replaces counted BroadcastExchange in the
    // "Exchange" total; typed counting must see ONLY the groupBy
    // shuffle here.
    assert(c("ShuffleExchange") == 1, s"expected exactly 1 shuffle: $c")
    assert(c("CartesianProduct") == 0 && c("BroadcastNestedLoopJoin") == 0)
  }

  test("PlanShape.captureStream records micro-batch shape and state totals") {
    import org.apache.spark.sql.streaming.Trigger
    val src = java.nio.file.Files.createTempDirectory("ps_cap_src_").toString
    spark.range(0, 100).toDF("id").withColumn("g", col("id") % 5)
      .write.mode("overwrite").parquet(src)
    val q = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
      .groupBy("g").count()
      .writeStream.format("noop")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ps_cap_ckpt_").toString)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    PlanShape.captureStream("spec_cap", q)
    val info = PlanShape.lastStreamRun("spec_cap")
      .getOrElse(fail("no telemetry captured"))
    assert(info.stateRows == 5, s"5 group keys in state, got ${info.stateRows}")
    assert(info.stateBytes > 0)
    // The stateful agg's micro-batch plan shuffles on the group key.
    assert(info.shape.getOrElse("ShuffleExchange", 0) >= 1,
      s"micro-batch plan shape missing the state shuffle: ${info.shape}")
  }

  test("ScaleRehearsal.rotateText: mixed-case/numeric copies share zero shingles") {
    import graft.functions.TextFunctions
    // Uppercase + digits — exactly the content the pre-fix rotation
    // passed through unchanged, silently sharing shingles across copies.
    val text = "The Quick BROWN fox 99 jumps OVER 42 lazy dogs 7 times TODAY"
    val df = Seq(text).toDF("text").select(
      TextFunctions.wordShingles(TextFunctions.tokens(
        ScaleRehearsal.rotateText(col("text"), 0)), 2).as("s0"),
      TextFunctions.wordShingles(TextFunctions.tokens(
        ScaleRehearsal.rotateText(col("text"), 3)), 2).as("s3"))
    val r = df.select(size(col("s0")).as("n0"),
      size(array_intersect(col("s0"), col("s3"))).as("shared")).collect()(0)
    assert(r.getInt(0) > 0, "rotation must preserve token structure")
    assert(r.getInt(1) == 0,
      s"copies must share ZERO shingles, got ${r.getInt(1)}")
    // And rotation is a bijection on the rotated alphabet: token
    // counts/lengths are preserved (same workload, different content).
    val counts = Seq(text).toDF("text").select(
      size(TextFunctions.tokens(ScaleRehearsal.rotateText(col("text"), 0))),
      size(TextFunctions.tokens(ScaleRehearsal.rotateText(col("text"), 3))))
      .collect()(0)
    assert(counts.getInt(0) == counts.getInt(1))
  }
}
