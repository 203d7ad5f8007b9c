package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import graft.sources.CachedLookupSource

class CachedLookupSpec extends SparkSpec {
  import spark.implicits._

  test("fetches each miss once, rate-limited, then serves from cache") {
    val dir = Files.createTempDirectory("graft-lookup").toString + "/cache"
    CachedLookupSpec.calls.set(0)
    val src = new CachedLookupSource(
      k => { CachedLookupSpec.calls.incrementAndGet()
             if (k == "nope") None else Some(k.toUpperCase) },
      dir, minIntervalMs = 50, maxConcurrency = 1)

    val keys = Seq("a", "b", "c", "nope", "a").toDF("key")
    val t0 = System.currentTimeMillis()
    val out = src.lookup(spark, keys)
    val vals = out.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val elapsed = System.currentTimeMillis() - t0
    assert(vals == Map("a" -> "A", "b" -> "B", "c" -> "C"))
    assert(CachedLookupSpec.calls.get() == 4, "each distinct key fetched once")
    // 4 calls on one partition at >=50ms spacing -> >=150ms between
    // first and last call
    assert(elapsed >= 150, s"rate limit not applied (took ${elapsed}ms)")

    // second pass: full cache hit for known keys ("nope" returned None so
    // it is retried — negative results are not cached)
    val before = CachedLookupSpec.calls.get()
    def files: Set[String] = new java.io.File(dir).list().toSet
    val filesBefore = files
    val again = src.lookup(spark, Seq("a", "b", "c").toDF("key"))
    assert(again.count() == 3)
    assert(CachedLookupSpec.calls.get() == before, "no refetch on cache hit")
    // a cache holding every key writes nothing either
    assert(files == filesBefore)
  }
}

object CachedLookupSpec {
  val calls = new AtomicInteger(0)
}
