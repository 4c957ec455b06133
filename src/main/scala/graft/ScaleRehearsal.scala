package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Scale rehearsal: converts the "survives 100x" plan arguments into
  * a MEASUREMENT. The test tables stop at sf0.1, so this harness
  * derives an N-copy corpus in scratch — a union of ID-SHIFTED copies,
  * deterministic, no new data source — and runs the heaviest judged
  * operators at both scales, reporting
  *
  *   1. the wall-time ratio (near-linear expected: these are scan/
  *      shuffle-bound plans with no quadratic term),
  *   2. a PLAN-SHAPE assert: the same counts of shuffle exchanges and
  *      join strategies at both scales — a broadcast that flips to a
  *      shuffle, or a new exchange appearing only at scale, is exactly
  *      the scale regression the 100 TB story cannot absorb, and
  *   3. [[components]]: the q106/q171 stages' seconds and row counts,
  *      so candidate growth is measured, not inferred from walls.
  *
  * The copy count picks the corpus and the query set. Up to
  * [[RotationStates]] copies: the rotation corpus ([[buildCorpus]]),
  * [[Heavy]] + [[StreamHeavy]], 3 cold reps. Beyond: the token-suffix
  * corpus ([[buildCorpusSuffix]]), [[FlipSet]] + the q328 drain, 1
  * cold rep (the verdict at that tier is shape and counts; the ratio
  * is reported for trend).
  *
  * Corpus derivation per table (copy k of the base):
  *   - lineitem: l_orderkey/l_partkey shifted by k·(max+1) — DISJOINT
  *     basket graphs (nodes, edges and triangles all scale by N);
  *     same-key copies would multiply edge WEIGHT, not graph size.
  *   - events: user_id/event_id shifted — disjoint click→purchase
  *     attribution universes.
  *   - documents: doc_id shifted AND the text derived per copy so
  *     copies share no alphanumeric shingles: identical text would
  *     make every doc an N-way near-duplicate and blow the dedup pair
  *     count up QUADRATICALLY. Each copy keeps its planted near-dup
  *     structure, so pair output scales by N like the corpus.
  *   - embeddings: vec_id shifted, vectors verbatim (covariance cost
  *     is row-linear; values repeating changes nothing it computes).
  *
  * Timing: cold reps ([[Harness.coldRun]]); with 3 reps the MIN of
  * reps 2-3 is kept — rep 1 carries the per-dir staged builds (basket
  * edges, adjacency, shingle signatures), which a deployment pays once
  * per corpus snapshot, and is reported separately as build1.
  *
  * Usage: sbt "runMain graft.ScaleRehearsal [baseDir] [scratchDir] [copies]"
  * (defaults: the sf0.1 tables, /tmp/graft_scale<copies>x and 10).
  */
object ScaleRehearsal {

  /** The bench's heaviest judged operators, one per cost family. */
  val Heavy: Seq[String] = Seq(
    "q212_local_clustering",    // triangle credits (staged adjacency)
    "q153_triangle_count",      // triangle census (staged adjacency)
    "q154_interval_attribution",// interval equi-join on user_id
    "q107_stem_topwords",       // regex-heavy token map + agg
    "q325_ngram_perplexity",    // bigram LM train + held-out score
    "q158_dedup_pipeline",      // full LSH dedup pipeline
    "q106_setsim_prefix",       // PPJoin prefix self-join (staged)
    "q171_containment_join",    // containment index join (staged)
    "q192_dsir_select",         // DSIR importance weights
    "q159_embed_covariance")    // d(d+1)/2 co-moment aggregation

  /** The streaming drains: the batch Heavy set never rehearses the
    * stateful half of the 100 TB story — RocksDB state growth,
    * watermark eviction, changelog checkpointing. Each entry is (query,
    * stream tag) where the tag is the [[PlanShape.captureStream]] key
    * the query's drain records, so the rehearsal reads the MICRO-BATCH
    * plan shape and the final state-store totals (rows + bytes) at both
    * scales.
    */
  val StreamHeavy: Seq[(String, String)] = Seq(
    "q324_sessions_tws_stream" -> "tws", // transformWithState sessions
    "q328_stream_outer_join" -> "soj",   // stream-stream outer interval join
    "q333_stream_join_window" -> "sjw")  // stream-stream join + windowed agg

  /** Queries whose scaladoc DOCUMENTS that a planner-chosen broadcast
    * of a CORPUS-DERIVED side flips to a shuffle join at scale (the
    * design, not a regression — e.g. SetSimJoin's verify join: "AQE
    * broadcasts the checkpointed index when it is small; at scale it
    * is an equi-join on the pair ids"). For these, [[shapeVerdict]]
    * accepts a BHJ→SMJ/SHJ flip and the exchanges/sorts the shuffle
    * join adds; everything else must still match exactly. The deep
    * tier runs exactly these.
    */
  val FlipSet: Seq[String] = Seq(
    "q106_setsim_prefix",
    "q171_containment_join",
    // q159: the designed plan is the co-partitioned self-join on
    // vec_id (both sides explicitly repartitioned); at base SF AQE
    // shortcuts it to a broadcast, at scale it reverts to the design
    // with ZERO added exchanges — visible only in the AQE-final plan.
    "q159_embed_covariance")

  private val Alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"

  private def rotated(k: Int): String = Alphabet.drop(k) + Alphabet.take(k)

  /** Copy k's text derivation: LOWERCASE, then rotate the letter AND
    * digit alphabets by k. Lowercasing first closes the loudest
    * collision channel: an uppercase letter or digit that passed
    * through `translate` unrotated would re-create shared shingles
    * across copies (tokens() lowercases downstream), silently turning
    * the linear dedup scale-up quadratic. The invariant this buys is
    * "no shared ALPHANUMERIC shingles across copies, up to Caesar
    * coincidences": punctuation-only tokens pass through identical in
    * every copy, and a corpus that happens to contain both shingle x
    * and rot_(k1-k2)(x) shares that shingle between copies k1 and k2.
    * Neither residual occurs in the driver's generated documents
    * corpus (word-salad over a lowercase lexicon — measured zero
    * cross-copy candidate pairs in the rehearsal ledger), but the
    * guarantee is empirical for a given corpus, not universal.
    * Exposed for the spec that pins the rotation itself.
    */
  def rotateText(c: Column, k: Int): Column =
    translate(lower(c), rotated(0), rotated(k))

  /** Distinct states of the [[rotateText]] alphabet rotation: more
    * copies than this would repeat a rotation and give docs exact
    * cross-copy twins, turning the near-dup workload quadratic (a
    * different workload, not a scale-up of this one).
    */
  val RotationStates: Int = Alphabet.length

  /** Rotation corpus: all four tables, text rotated per copy. */
  def buildCorpus(s: SparkSession, baseDir: String, outDir: String,
      copies: Int): Unit = {
    require(copies <= RotationStates, s"$copies copies exceed the rotation's $RotationStates states")
    build(s, baseDir, outDir, copies,
      Seq("lineitem" -> Seq("l_orderkey", "l_partkey"), "events" -> Seq("event_id", "user_id"),
        "documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id")),
      rotateText)
  }

  /** Token-suffix corpus for any copy count. Text derivation is a
    * per-copy TOKEN SUFFIX (`tok` → `tok_k`), collision-proof for ANY
    * corpus whose tokens contain no underscore (tokenA+"_"+k1 ==
    * tokenB+"_"+k2 forces k1 == k2 then tokenA == tokenB), which also
    * closes the punctuation-token caveat of the rotation. Only the
    * tables the deep tier's query set reads are built — lineitem at
    * 100x would be build time no [[FlipSet]] query scans.
    */
  def buildCorpusSuffix(s: SparkSession, baseDir: String, outDir: String,
      copies: Int): Unit =
    build(s, baseDir, outDir, copies,
      Seq("documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id"),
        "events" -> Seq("event_id", "user_id")),
      (c, k) => regexp_replace(lower(c), "(\\S+)", s"$$1_$k"))

  /** Union of `copies` id-shifted copies of each table (documents'
    * `text` derived per copy by `text`), plus the region table the
    * warm-up reads. Reuses `outDir` when its `_BUILT_v2` marker exists
    * (v1 corpora rotated only lowercase letters and shared shingles
    * across copies).
    */
  private def build(s: SparkSession, baseDir: String, outDir: String, copies: Int,
      tables: Seq[(String, Seq[String])], text: (Column, Int) => Column): Unit = {
    val done = new java.io.File(s"$outDir/_BUILT_v2")
    if (done.exists()) { System.err.println(s"[scale] reusing $outDir"); return }
    new java.io.File(outDir).mkdirs()
    for ((table, idCols) <- tables) {
      val df =
        if (table == "events") sources.Tables.events(s, baseDir)
        else s.read.parquet(s"$baseDir/$table.parquet")
      val shifts = idCols.map(c =>
        c -> (df.agg(max(col(c))).collect()(0).getLong(0) + 1L)).toMap
      (0 until copies).map { k =>
        val withIds = idCols.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(k * shifts(c))))
        if (table == "documents") withIds.withColumn("text", text(col("text"), k))
        else withIds
      }.reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$outDir/$table.parquet")
    }
    s.read.parquet(s"$baseDir/region.parquet")
      .write.mode("overwrite").parquet(s"$outDir/region.parquet")
    done.createNewFile()
    System.err.println(s"[scale] built ${copies}x corpus at $outDir")
  }

  /** Shape verdict: Some(reason) if the scaled plan regressed, None if
    * acceptable. Nested-loop/cartesian joins must stay at zero, the
    * total join count must match, and broadcast→shuffle flips are
    * allowed only for [[FlipSet]] queries — each flip may add
    * at most 2 SHUFFLE exchanges (one per flipped-join side) and
    * remove at most its own broadcast exchange; broadcast exchanges
    * may never INCREASE with scale. Counts are typed and AQE-final
    * ([[PlanShape]]), so broadcast exchanges can no longer hide inside
    * a substring-matched "Exchange" bound.
    */
  private[graft] def shapeVerdict(name: String, base: Map[String, Int],
      x10: Map[String, Int]): Option[String] = {
    def joins(m: Map[String, Int]) =
      m("BroadcastHashJoin") + m("SortMergeJoin") + m("ShuffledHashJoin")
    // 1-row stats-frame crossJoins plan as BroadcastNestedLoopJoin at
    // EVERY scale (q145's audited pattern) — the regression signal is
    // a nested-loop/cartesian join that appears ONLY at 10x.
    if (base("CartesianProduct") != x10("CartesianProduct") ||
        base("BroadcastNestedLoopJoin") != x10("BroadcastNestedLoopJoin"))
      Some(s"nested-loop/cartesian count changed: base=$base x10=$x10")
    else if (joins(base) != joins(x10))
      Some(s"join count changed ${joins(base)} -> ${joins(x10)}")
    else {
      val flips = base("BroadcastHashJoin") - x10("BroadcastHashJoin")
      if (flips == 0 && base == x10) None
      else if (flips > 0 && FlipSet.contains(name) &&
          x10("ShuffleExchange") - base("ShuffleExchange") <= 2 * flips &&
          base("BroadcastExchange") - x10("BroadcastExchange") <= flips &&
          x10("BroadcastExchange") <= base("BroadcastExchange"))
        None // documented corpus-derived-side flip
      else Some(s"plan diverged: base=$base x10=$x10")
    }
  }

  final case class Comp(name: String, secs: Double, rows: Long)

  /** The q106 and q171 pipelines split into their stages, timed and
    * counted over `dir`:
    *
    *   q106: (1) signature-table build (tokenize+shingle+hash+write —
    *         the staged once-per-corpus cost), (2) prefix index,
    *         (3) candidate join (the stage whose fan-out the prefix/
    *         length/positional filters bound), (4) verify join (the
    *         stage that FLIPS: broadcast of the checkpointed index at
    *         small scale, pair-id equi-join at scale).
    *   q171: (1) df-capped inverted-index build+write (staged),
    *         (2) index self-join + containment rollup (the flipping
    *         consumer).
    *
    * If candidates scale ~linearly while a stage's wall scales worse,
    * the excess is the flipped join's sort/shuffle machinery and the
    * df-cap is NOT the lever; if candidates scale super-linearly, the
    * cap is. The candidates checkpoint exists only to time stages 3
    * and 4 apart (the fused q106 never materializes it), so stage
    * RATIOS across scales compare, absolute stage-4 walls do not.
    */
  def components(spark: SparkSession, dir: String): Seq[Comp] = {
    import graft.operators.SetSimJoin
    import Harness.timed
    val scratch = Harness.tempDir("graft_components_")
    Harness.hygiene(spark)
    val (tSig, _) = timed {
      spark.read.parquet(s"$dir/documents.parquet")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          graft.expr.ShingleExpression.shingleHashes(col("text"), 3).as("sh"))
        .filter(size(col("sh")) >= 1)
        .write.mode("overwrite").parquet(s"$scratch/sig")
    }
    val sig = spark.read.parquet(s"$scratch/sig")
    val nDocs = sig.count()
    val (tPre, withPre) = timed(SetSimJoin.prefixIndexed(sig, "doc_id", "sh", 0.5))
    val (tCand, (cand, nCand)) = timed {
      val c = SetSimJoin.prefixCandidates(withPre, 0.5).localCheckpoint(true)
      (c, c.count())
    }
    val (tVer, nPairs) = timed(SetSimJoin.verifyCandidates(withPre, cand, 0.5).count())
    Harness.hygiene(spark)
    val (tIdx, _) = timed {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      SetSimJoin.containmentIndex(docs, "doc_id", "toks", shingleSize = 3, maxDf = 50L)
        .write.mode("overwrite").parquet(s"$scratch/cidx")
    }
    val idx = spark.read.parquet(s"$scratch/cidx")
    val nIdx = idx.count()
    val (tCont, nCont) = timed(SetSimJoin.containmentJoinFromIndex(idx, minContainment = 0.7).count())
    Harness.hygiene(spark)
    Seq(
      Comp("q106.sig_build", tSig, nDocs),
      Comp("q106.prefix_ckpt", tPre, nDocs),
      Comp("q106.cand_join", tCand, nCand),
      Comp("q106.verify_join", tVer, nPairs),
      Comp("q171.index_build", tIdx, nIdx),
      Comp("q171.contain_join", tCont, nCont))
  }

  def main(args: Array[String]): Unit = Harness.run() { spark =>
    val baseDir = args.headOption.getOrElse(s"${Harness.DataRoot}/sf0.1")
    val copies = if (args.length > 2) args(2).toInt else 10
    val outDir = if (args.length > 1) args(1) else s"/tmp/graft_scale${copies}x"
    val deep = copies > RotationStates
    val (batch, streams, reps) =
      if (deep) (FlipSet, Seq("q328_stream_outer_join" -> "soj"), 1)
      else (Heavy, StreamHeavy, 3)
    if (deep) buildCorpusSuffix(spark, baseDir, outDir, copies)
    else buildCorpus(spark, baseDir, outDir, copies)
    Harness.warmUp(spark, baseDir)
    val x = s"x$copies"

    /** Cold reps; returns (min of reps after the first, or the only
      * rep; rep1). Shape is NOT taken here: the noop write runs its own
      * QueryExecution, whose adaptive plan the frame never sees —
      * [[PlanShape.executedCounts]] executes the frame's own QE.
      */
    def measure(name: String, dir: String): (Double, Double) = {
      val ts = (1 to reps).map(_ => Harness.coldRun(spark, name, dir))
      (if (reps > 1) ts.tail.min else ts.head, ts.head)
    }
    def finalShape(name: String, dir: String): Map[String, Int] =
      PlanShape.executedCounts(SparkEntry.queries(name)(spark, dir))

    components(spark, baseDir) // discarded: pays whole-pipeline codegen warm-up
    val compBase = components(spark, baseDir)
    val compScaled = components(spark, outDir)
    println(f"${"component"}%-20s ${"base_s"}%7s ${s"${x}_s"}%7s ${"t_ratio"}%7s ${"base_rows"}%10s ${s"${x}_rows"}%11s ${"r_ratio"}%7s")
    compBase.zip(compScaled).foreach { case (b, c) =>
      // A stage with 0 rows or a sub-ms wall at base scale has no ratio.
      def ratio(num: Double, den: Double): String =
        if (den > 0) f"${num / den}%7.2f" else "    n/a"
      println(f"${b.name}%-20s ${b.secs}%7.2f ${c.secs}%7.2f ${ratio(c.secs, b.secs)} " +
        f"${b.rows}%10d ${c.rows}%11d ${ratio(c.rows.toDouble, b.rows.toDouble)}")
    }

    println(f"${"query"}%-26s ${"base_s"}%7s ${s"${x}_s"}%7s ${"ratio"}%6s  ${"build1"}%7s  shape")
    val rows = batch.map { name =>
      val (b, _) = measure(name, baseDir)
      val shB = finalShape(name, baseDir)
      val (t, t1) = measure(name, outDir)
      val shX = finalShape(name, outDir)
      val verdict = shapeVerdict(name, shB, shX)
      val flag = verdict.getOrElse(
        if (shB == shX) "same" else "documented-flip")
      println(f"$name%-26s $b%7.2f $t%7.2f ${t / b}%6.2f  $t1%7.2f  $flag")
      (name, b, t, verdict)
    }

    // Streaming drains: the drain runs while the query CONSTRUCTS, so
    // the timed reps include it, and it records its micro-batch plan
    // shape and final state metrics under its tag. The micro-batch plan
    // must match EXACTLY across scales (no documented flips in the
    // stateful path); state rows are printed so growth is visible
    // (expected ~N x keys, bounded per key by watermark eviction).
    println(f"${"stream query"}%-26s ${"base_s"}%7s ${s"${x}_s"}%7s ${"ratio"}%6s  final rows (base->$x)  peak rows (base->$x)  mem MiB  shape")
    val sRows = streams.map { case (name, tag) =>
      def drained(dir: String): (Double, PlanShape.StreamRunInfo) = {
        val (t, _) = measure(name, dir)
        (t, PlanShape.lastStreamRun(tag)
          .getOrElse(sys.error(s"$name recorded no stream telemetry under '$tag'")))
      }
      val (b, infoB) = drained(baseDir)
      val (t, infoX) = drained(outDir)
      val verdict =
        if (infoB.shape == infoX.shape) None
        else Some(s"micro-batch plan diverged: base=${infoB.shape} $x=${infoX.shape}")
      println(f"$name%-26s $b%7.2f $t%7.2f ${t / b}%6.2f  " +
        f"${infoB.stateRows}%8d -> ${infoX.stateRows}%-8d " +
        f"${infoB.statePeakRows}%8d -> ${infoX.statePeakRows}%-8d " +
        f"${infoX.stateBytes / 1048576.0}%7.1f  ${verdict.getOrElse("same")}")
      (name, b, t, verdict)
    }

    val all = rows ++ sRows
    val bad = all.filter(_._4.isDefined)
    println(f"""{"metric":"scale${copies}x_ratio_median","value":${all.map(r => r._3 / r._2).sorted.apply(all.size / 2)}%.2f,"queries":${all.size},"shape_regressions":${bad.size}}""")
    require(bad.isEmpty, s"plan shape REGRESSED at ${copies}x: " +
      bad.map(r => s"${r._1} (${r._4.get})").mkString("; "))
  }
}
