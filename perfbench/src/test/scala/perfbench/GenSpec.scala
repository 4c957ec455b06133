package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private val rows = IndexedSeq(
    EventJson("\"2024-01-01T00:00:07.179575Z\"", "8", "\"error\"", "6.55", "\"{\\\"k\\\": 69}\""),
    EventJson("\"2024-01-01T00:03:52Z\"", "46", "\"click\"", "12.31", "\"{\\\"k\\\": 89}\""),
    EventJson("\"2024-01-02T10:00:00Z\"", "7", "\"view\"", "1.63", "null"))

  private def stage(seed: Long, files: Int): (Path, Seq[FilePlan]) = {
    val dir = Files.createTempDirectory("perfbench_gen_")
    (dir, Gen.backlog(seed, files, rows, dir.resolve("backlog")))
  }

  private def bytes(dir: Path): Seq[(String, Seq[Byte])] =
    Files.list(dir.resolve("backlog")).iterator.asScala.toSeq.sortBy(_.toString)
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq)

  test("the same seed gives byte-identical backlog files; another seed does not") {
    val (a, pa) = stage(7, 3)
    val (b, pb) = stage(7, 3)
    val (c, _) = stage(8, 3)
    assert(pa == pb)
    assert(bytes(a) == bytes(b))
    assert(bytes(a) != bytes(c))
    Seq(a, b, c).foreach(Main.deleteTree)
  }

  test("file contents match the plan the checks compare against") {
    val (dir, plans) = stage(11, 2)
    plans.foreach { p =>
      val path = dir.resolve("backlog").resolve(f"part-${p.index}%05d.json")
      val lines = Files.readAllLines(path).asScala
      assert(lines.size == Gen.LinesPerFile)
      assert(p.blank + p.dlq == Gen.DirtyPerFile)
      assert(lines.count(_.trim.isEmpty) == p.blank)
      assert(lines.count(l => l.trim.nonEmpty && !l.endsWith("}")) == p.malformed)
      assert(lines.count(l => l.endsWith("}") && !l.contains("\"ts\":")) == p.missingRequired)
      assert(lines.count(_.startsWith("{\"event_id\":\"x")) == p.wrongType)
      assert(lines.count(_.contains("\"sdk\":\"v2\"")) == (if (p.drift) Gen.LinesPerFile - p.blank - p.malformed else 0))
      // Fresh event ids: numeric ids never repeat.
      val ids = lines.filter(_.matches("\\{\"event_id\":[0-9].*")).map(_.drop(12).takeWhile(_ != ','))
      assert(ids.size == p.valid + p.missingRequired + p.malformed)
      assert(ids.distinct.size == ids.size)
    }
    assert(Files.getLastModifiedTime(dir.resolve("backlog/part-00001.json")).toMillis >
      Files.getLastModifiedTime(dir.resolve("backlog/part-00000.json")).toMillis)
    Main.deleteTree(dir)
  }

  test("drift files are a seeded 5% share, at least one") {
    assert(Gen.driftFiles(3, 8).size == 1)
    assert(Gen.driftFiles(3, 40).size == 2)
    assert(Gen.driftFiles(3, 40) == Gen.driftFiles(3, 40))
    assert(Gen.driftFiles(3, 40).forall(i => i >= 0 && i < 40))
  }
}
