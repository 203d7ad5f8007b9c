package graft

import graft.harmonize.Harmonize
import graft.operators.{ProductQuantIndex, WindowIndex}
import graft.queries.TextQueries
import graft.sources.{EventsAdapter, SourceAdapter}

/** MemoRegistry eviction: a long-lived session can release every
  * session-scoped memoized frame (the brick's bucketed tables, staged
  * triplets, table-keyed store read-backs such as the PQ codes, window
  * index tables, shingle/centroid caches) and rebuild bit-identically —
  * content-addressed ids make eviction invisible to results.
  */
class MemoEvictionSpec extends SparkSpec {

  private def persistentCount: Int =
    spark.sparkContext.getPersistentRDDs.size

  test("evictAll releases memoized storage and rebuild is identical") {
    val d = sf()
    def build(): (Long, Long, Long) = {
      val b = Harmonize.cachedBrick(spark, d, SourceAdapter.all)
      (b.activities.count(),
        SparkEntry.queries("dd3_minhash_lsh")(spark, d).count(),
        SparkEntry.queries("x6_bigram_lm")(spark, d).count())
    }
    val r1 = build()
    val nBuilt = persistentCount
    MemoRegistry.evictAll(spark)
    val nEvicted = persistentCount
    // the brick checkpoints, staging persists, and query memos are gone
    assert(nEvicted < nBuilt, s"evict freed nothing: $nBuilt -> $nEvicted")

    // rebuild after evict: same results (content-addressed ids), and a
    // second evict returns storage to the same level — no growth across
    // repeated evict/build cycles
    val r2 = build()
    assert(r2 == r1, s"$r2 vs $r1")
    MemoRegistry.evictAll(spark)
    assert(persistentCount <= nEvicted,
      s"storage grew across cycles: $nEvicted -> $persistentCount")
  }

  test("eviction is scoped to the session (other sessions untouched)") {
    val d = sf()
    Harmonize.cachedBrick(spark, d, SourceAdapter.all).activities.count()
    val other = spark.newSession()
    // the brick, a staged triplet, the PQ artifact and a window-index
    // table: four memos with different keys and frame shapes
    val winIdx = TextQueries.windowIndexArtifact(spark, d)
    def memoized() = (
      Harmonize.cachedBrick(spark, d, SourceAdapter.all).activities,
      SourceAdapter.cachedStaging(EventsAdapter, spark, d).activities,
      ProductQuantIndex.cached(spark, d)._2,
      WindowIndex.cached(spark, winIdx, WindowIndex.Windows))
    // evicting through a DIFFERENT session must not drop this one's
    // memos: each frame is still served from storage (same object
    // identity), whether the other session evicts one memo or all
    val before = memoized()
    Harmonize.evict(other)
    SourceAdapter.evict(other)
    MemoRegistry.evictAll(other)
    val after = memoized()
    assert(before._1 eq after._1)
    assert(before._2 eq after._2)
    assert(before._3 eq after._3)
    assert(before._4 eq after._4)
    // evicting THIS session drops them: the next access builds anew
    MemoRegistry.evictAll(spark)
    val rebuilt = memoized()
    assert(rebuilt._1 ne before._1)
    assert(rebuilt._2 ne before._2)
    assert(rebuilt._3 ne before._3)
    assert(rebuilt._4 ne before._4)
    MemoRegistry.evictAll(spark)
  }
}
