package graft

import java.nio.file.Files
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions.col
import graft.harmonize.Harmonize
import graft.sources.{EventsAdapter, OrdersAdapter, SourceAdapter}

/** Soak test for memo eviction (VERDICT r4 #5): MemoEvictionSpec proves
  * ONE evict/rebuild cycle; a long-lived service (Thrift server,
  * notebook kernel, streaming driver) cycles indefinitely. N cycles must
  * hold two invariants the single-cycle test can't see:
  *
  *   - FLAT STORAGE: the persistent-RDD census after every evict returns
  *     to the same level — no leaked checkpoint blocks, no memo map
  *     entries surviving eviction and re-registering duplicates;
  *   - BIT-IDENTICAL RESULTS: every cycle's rebuild reproduces the same
  *     aggregates (content-addressed ids make this a hard equality).
  *
  * The per-cycle workload deliberately crosses memo layers: the brick
  * (Harmonize memo + staging memos underneath) plus a dedup query
  * (shingle/candidate memos) — the layering is where a stale cross-
  * reference would leak. A size-gated session adds the scratch brick
  * route, whose eviction deletes its dir and catalog tables.
  */
class MemoSoakSpec extends SparkSpec {

  private def persistentCount: Int =
    spark.sparkContext.getPersistentRDDs.size

  test("five evict/rebuild cycles: flat storage, identical results") {
    val d = sf()
    // one more input: a size-gated session, whose brick is a scratch
    // dir under its checkpoint base. Each eviction must delete the dir
    // and drop its catalog tables, and nothing may land in its store.
    val gated = spark.newSession()
    val ckpt = Files.createTempDirectory("graft-soak-ckpt").toString
    val store = Files.createTempDirectory("graft-soak-store").toString
    gated.conf.set(MemoRegistry.CkptDirKey, ckpt)
    gated.conf.set(ArtifactStore.DirKey, store)
    gated.conf.set(ArtifactStore.MaxInputBytesKey, "1")
    val gatedAdapters = Seq(EventsAdapter, OrdersAdapter)
    // ann8/ann9 exercise the quantizer artifact memos
    // (ScalarQuantIndex.cachedDecoded, ProductQuantIndex.cached) AND the
    // eager release of PQ training-intermediate checkpoints inside
    // build() — a leak there shows up as a rising post-evict census
    def build(): (Long, Long, Long, Long, Long, String) = {
      val b = Harmonize.cachedBrick(spark, d, SourceAdapter.all)
      val g = Harmonize.cachedBrick(gated, d, gatedAdapters).activities
      (b.activities.count(),
        b.substances.count(),
        SparkEntry.queries("dd3_minhash_lsh")(spark, d).count(),
        SparkEntry.queries("ann8_scalar_quant")(spark, d).count(),
        SparkEntry.queries("ann9_product_quant")(spark, d).count(),
        ArtifactStore.corpusKey(g, "", g.columns.toSeq.map(col): _*))
    }
    def evictAll(): Unit = Seq(spark, gated).foreach(MemoRegistry.evictAll)
    def clean(cycle: Int): Unit = {
      val left = new java.io.File(ckpt).list().filter(_.startsWith("brick"))
      assert(left.isEmpty, s"cycle $cycle left scratch bricks: ${left.toSeq}")
      val cat = spark.sessionState.catalog
      // listTables also lists the session's temp views: keep the tables
      val scratchTables = cat.listTables("graft_brick")
        .filter(_.database.nonEmpty)
        .map(t => cat.getTableMetadata(TableIdentifier(t.table, t.database)))
        .filter(_.location.getPath.startsWith(ckpt))
      assert(scratchTables.isEmpty, s"cycle $cycle left tables on " +
        s"deleted scratch dirs: ${scratchTables.map(_.identifier)}")
      assert(new java.io.File(store).list().isEmpty,
        s"cycle $cycle wrote the store of a size-gated session")
    }
    try {
      // cycle 0 establishes the baselines
      val expected = build()
      evictAll()
      clean(0)
      val floorAfterEvict = persistentCount

      (1 to 5).foreach { cycle =>
        val r = build()
        assert(r == expected, s"cycle $cycle diverged: $r vs $expected")
        evictAll()
        clean(cycle)
        val now = persistentCount
        assert(now <= floorAfterEvict,
          s"cycle $cycle leaked storage: floor $floorAfterEvict, now $now")
      }
    } finally {
      evictAll()
      Seq(ckpt, store).foreach(p =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
    }
  }
}
