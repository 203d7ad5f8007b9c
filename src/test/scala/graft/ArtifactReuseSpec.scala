package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import graft.harmonize.Harmonize
import graft.sources.{EventsAdapter, OrdersAdapter, SourceAdapter}

/** The round-11 cross-session artifact tier (VERDICT r10 #4): brick and
  * staging builds land in content-keyed ArtifactStore dirs, and a
  * post-eviction rebuild ADOPTS the published dir instead of
  * re-running the pipeline — pinned here by checking that the second
  * build adds no new artifact dirs and returns identical frames. (The
  * bit-identical rebuild-after-evict guarantee itself is
  * MemoEvictionSpec's; this spec pins the reuse path specifically.)
  */
class ArtifactReuseSpec extends SparkSpec {

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def artifactDirs(base: String): Set[String] =
    Option(new java.io.File(base).listFiles())
      .map(_.map(_.getName).toSet).getOrElse(Set.empty)

  test("brick and staging rebuilds adopt the store dir, not re-run") {
    val base = Files.createTempDirectory("graft-reuse").toString
    spark.conf.set(ArtifactStore.DirKey, base)
    try {
      // drop memos carried over from earlier suites in this JVM, so
      // the builds below actually hit the (empty) temp store
      MemoRegistry.evictAll(spark)
      val adapters = Seq(EventsAdapter, OrdersAdapter)
      val b1 = Harmonize.cachedBrick(spark, sf(), adapters)
      val acts1 = sortedRows(b1.activities)
      val t1 = sortedRows(
        SourceAdapter.cachedStaging(EventsAdapter, spark, sf()).activities)
      val dirs1 = artifactDirs(base)
      // the bucketed layout (`brickb-`) is the brick's only artifact:
      // no plain `brick-` dir is published beside it
      assert(dirs1.exists(_.startsWith("brickb-")), dirs1)
      assert(!dirs1.exists(_.startsWith("brick-")), dirs1)
      assert(dirs1.exists(_.startsWith("staging-events-")))

      // forget every session memo; the next access must ADOPT the
      // published dirs — same dir set afterwards, same frames
      MemoRegistry.evictAll(spark)
      val b2 = Harmonize.cachedBrick(spark, sf(), adapters)
      assert(sortedRows(b2.activities) == acts1)
      assert(sortedRows(SourceAdapter
        .cachedStaging(EventsAdapter, spark, sf()).activities) == t1)
      assert(artifactDirs(base) == dirs1,
        "rebuild created new artifact dirs instead of adopting")
    } finally {
      spark.conf.unset(ArtifactStore.DirKey)
      MemoRegistry.evictAll(spark)
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(base))
    }
  }

  test("inputs above the hosting size gate stay session-local") {
    val base = Files.createTempDirectory("graft-sizecap").toString
    spark.conf.set(ArtifactStore.DirKey, base)
    // a cap below any gate corpus: every dir-derived build must fall
    // back to the checkpoint form and write NOTHING into the store
    spark.conf.set(ArtifactStore.MaxInputBytesKey, "1")
    try {
      MemoRegistry.evictAll(spark)
      assert(!ArtifactStore.hostableInput(spark, sf()))
      val t = SourceAdapter.cachedStaging(EventsAdapter, spark, sf())
      assert(t.activities.count() > 0)
      val b = Harmonize.cachedBrick(spark, sf(),
        Seq(EventsAdapter, OrdersAdapter))
      assert(b.activities.count() > 0)
      assert(artifactDirs(base).isEmpty,
        "size-gated build wrote store artifacts anyway")
      // corpus-keyed artifacts are output-bounded and stay hosted
      spark.conf.unset(ArtifactStore.MaxInputBytesKey)
      assert(ArtifactStore.hostableInput(spark, sf()))
    } finally {
      spark.conf.unset(ArtifactStore.MaxInputBytesKey)
      spark.conf.unset(ArtifactStore.DirKey)
      MemoRegistry.evictAll(spark)
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(base))
    }
  }

  test("autoPrune: aged dirs swept on init when enabled, fresh kept") {
    val base = Files.createTempDirectory("graft-autoprune").toString
    spark.conf.set(ArtifactStore.DirKey, base)
    try {
      def mkArtifact(name: String, ageMs: Long): java.nio.file.Path = {
        val d = java.nio.file.Paths.get(base, name)
        Files.createDirectories(d)
        val ok = d.resolve("_OK")
        Files.write(ok, Array.empty[Byte])
        Files.setLastModifiedTime(ok, java.nio.file.attribute.FileTime
          .fromMillis(System.currentTimeMillis() - ageMs))
        d
      }
      val aged = mkArtifact("idx-old", 72L * 3600 * 1000)
      val fresh = mkArtifact("idx-new", 0L)
      // default off: no conf → no-op, nothing deleted
      assert(ArtifactStore.autoPrune(spark).isEmpty)
      assert(Files.exists(aged) && Files.exists(fresh))
      // enabled at a 24 h age: the 72 h-old dir is swept, the fresh kept
      spark.conf.set(ArtifactStore.AutoPruneKey, (24L * 3600 * 1000).toString)
      val swept = ArtifactStore.autoPrune(spark)
      assert(swept.map(p => java.nio.file.Paths.get(p).getFileName.toString)
        == Seq("idx-old"))
      assert(!Files.exists(aged) && Files.exists(fresh))
    } finally {
      spark.conf.unset(ArtifactStore.AutoPruneKey)
      spark.conf.unset(ArtifactStore.DirKey)
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(base))
    }
  }

  test("prune closes its directory listing: open fds flat over 100 calls") {
    val base = Files.createTempDirectory("graft-fdcensus").toString
    spark.conf.set(ArtifactStore.DirKey, base)
    try {
      // a populated base so each prune call actually opens and walks it
      for (i <- 0 until 5) {
        val d = java.nio.file.Paths.get(base, s"a$i-k")
        Files.createDirectories(d)
        Files.write(d.resolve("_OK"), Array.empty[Byte])
      }
      def openFds(): Int =
        Option(new java.io.File("/proc/self/fd").list()).map(_.length)
          .getOrElse(0)
      ArtifactStore.prune(spark, Long.MaxValue) // warm any lazy statics
      val before = openFds()
      for (_ <- 0 until 100) ArtifactStore.prune(spark, Long.MaxValue)
      val after = openFds()
      // r11 leaked exactly one directory fd per call (unclosed
      // Files.list) — 100 calls made the leak unambiguous vs ambient
      // JVM fd churn
      assert(after - before < 20,
        s"fd census grew $before -> $after across 100 prune calls")
    } finally {
      spark.conf.unset(ArtifactStore.DirKey)
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(base))
    }
  }
}
