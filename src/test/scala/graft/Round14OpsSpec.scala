package graft

import org.apache.spark.sql.functions._

/** Round-12 additions: the q368 DEFLATE contract twin and the sorted
  * intersect kernels. (The PlanShape and rotation tests live in
  * HarnessSpec.)
  */
class Round14OpsSpec extends SparkSpec {
  import spark.implicits._

  test("deflateLen: edge cases, ratio consistency, expansion bound, " +
      "doubling strictly beats 2x") {
    import graft.functions.CompressionScore
    val prose = "the quick brown fox jumps over a lazy dog while seventeen " +
      "violinists argue about parquet footers in a crowded cafe"
    // Incompressible-ish: seeded-uniform printable bytes (arithmetic
    // sequences mod 94 all have period <= 94 and deflate to half size
    // — two drafts of this test learned that).
    val rnd = new scala.util.Random(42)
    val rand = Array.fill(200)((rnd.nextInt(94) + 33).toChar).mkString
    val df = Seq((1L, prose), (2L, rand), (3L, ""), (4L, null.asInstanceOf[String]))
      .toDF("id", "text")
      .select(col("id"),
        octet_length(col("text")).cast("long").as("raw"),
        CompressionScore.deflateLen(col("text")).as("z"),
        CompressionScore.deflateLen(concat(col("text"), lit(" "), col("text")))
          .as("z2x"),
        CompressionScore.ratio(col("text")).as("r"))
    val rows = df.collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(4L).isNullAt(2), "null text -> null length")
    val empty = rows(3L).getLong(2)
    assert(empty > 0 && empty <= 16, s"'' must cost only the zlib wrapper, got $empty")
    for (id <- Seq(1L, 2L)) {
      val (raw, z, z2x, r) =
        (rows(id).getLong(1), rows(id).getLong(2), rows(id).getLong(3),
          rows(id).getDouble(4))
      assert(z > 0 && z <= raw + 16, s"id=$id bound violated: z=$z raw=$raw")
      // deflateRatio and deflateLen must agree exactly (shared core).
      assert(r == z.toDouble / raw, s"id=$id ratio/len diverged")
      assert(z2x < 2 * z, s"id=$id doubling must beat 2x: z2x=$z2x z=$z")
    }
    // Compressible text really compresses; random text really doesn't.
    assert(rows(1L).getLong(2) < rows(1L).getLong(1),
      "prose must compress below raw")
    // Entropy coding alone still shaves printable-ASCII text (~6.6
    // bits/char), so "barely compresses" is ratio > 3/4 — the contrast
    // with prose (< 1) is the ordering that matters.
    assert(rows(2L).getLong(2) > rows(2L).getLong(1) * 3 / 4,
      "structureless text must not compress much")
    assert(rows(2L).getLong(2).toDouble / rows(2L).getLong(1) >
      rows(1L).getLong(2).toDouble / rows(1L).getLong(1),
      "prose must compress better than structureless text")
  }

  test("q368 flags hold on sf0.001 and the frame is source-grain") {
    val out = Queries.all("q368_compress_contract")(spark, sf()).collect()
    assert(out.length == 20, s"20 sources, got ${out.length}")
    assert(out.forall(r => r.getBoolean(3) && r.getBoolean(4) && r.getBoolean(5)),
      "every contract flag must hold on the real corpus")
  }

  test("sortedIntersectCount == size(array_intersect) on sorted distinct " +
      "longs; jaccardSortedLongs == jaccard on real shingle hashes") {
    import graft.expr.SortedIntersectExpression.sortedIntersectCount
    // Hand cases: disjoint, nested, partial, empty sides.
    val cases = Seq(
      (Seq(1L, 3L, 5L), Seq(2L, 4L, 6L)),
      (Seq(1L, 2L, 3L, 4L), Seq(2L, 4L)),
      (Seq(-5L, 0L, 7L, 9L), Seq(-5L, 9L, 11L)),
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq.empty[Long], Seq.empty[Long]))
    val df = cases.toDF("a", "b")
      .select(sortedIntersectCount(col("a"), col("b")).as("got"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("want"))
    df.collect().foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    // Differential over the real corpus: the verify stage's sorted
    // jaccard must equal the generic form on every near-dup pair
    // grain (shingleHashes output is sorted+distinct by contract).
    import graft.functions.TextFunctions
    val sh = Queries.tWide(spark, sf(), "documents")
      .select(col("doc_id"),
        graft.expr.ShingleExpression.shingleHashes(col("text"), 3).as("sh"))
      .filter(size(col("sh")) >= 1).limit(40)
    val pairs = sh.toDF("ia", "sa").crossJoin(sh.toDF("ib", "sb"))
      .filter(col("ia") < col("ib"))
      .select(
        TextFunctions.jaccardSortedLongs(col("sa"), col("sb")).as("got"),
        TextFunctions.jaccard(col("sa"), col("sb")).as("want"))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach(r => assert(r.getDouble(0) == r.getDouble(1), r.toString))
  }
}
