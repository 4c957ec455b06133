package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The staged-parquet memo (`Queries.stagedParquet` over [[OnceCache]]):
  * one build per key, builds may nest, and a failed build does not
  * poison its key.
  */
class StageCacheSpec extends AnyFunSuite {

  // "Aa" and "BB" share a String hash code, so keys with a common
  // suffix land in the same ConcurrentHashMap bin.
  private def sameBinKeys(): (String, String) = {
    val suffix = s"|stage-cache-spec-${System.nanoTime()}"
    ("Aa" + suffix, "BB" + suffix)
  }

  test("nested builds under two keys in one bin: computeIfAbsent throws, stagedParquet builds both") {
    val (outer, inner) = sameBinKeys()
    assert(outer.hashCode == inner.hashCode)
    val chm = new ConcurrentHashMap[String, String]()
    intercept[IllegalStateException] {
      chm.computeIfAbsent(outer, _ => chm.computeIfAbsent(inner, _ => "i") + "o")
    }

    var innerDir = ""
    val outerDir = Queries.stagedParquet(outer) { _ =>
      innerDir = Queries.stagedParquet(inner)(_ => ())
    }
    try {
      assert(innerDir.nonEmpty && innerDir != outerDir)
      assert(Queries.stagedParquet(inner)(_ => fail("inner built twice")) == innerDir)
      assert(Queries.stagedParquet(outer)(_ => fail("outer built twice")) == outerDir)
    } finally Seq(outerDir, innerDir).foreach(d => new java.io.File(d).delete())
  }

  test("4 concurrent callers of one key: exactly one build, one value") {
    val cache = new OnceCache
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val results = (1 to 4).map(_ => pool.submit(() => {
        start.await()
        cache("k") { builds.incrementAndGet(); Thread.sleep(50); s"v${builds.get}" }
      }))
      start.countDown()
      assert(results.map(_.get(10, TimeUnit.SECONDS)).toSet == Set("v1"))
      assert(builds.get == 1)
    } finally pool.shutdownNow()
  }

  test("a failing build leaves the key unpoisoned: the next call builds again") {
    val cache = new OnceCache
    val err = intercept[RuntimeException](cache("k")(throw new RuntimeException("boom")))
    assert(err.getMessage == "boom")
    assert(cache("k")("ok") == "ok")
    assert(cache("k")(fail("built after success")) == "ok")
  }
}
