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
  * The table-keyed artifacts (Jaccard/candidate pairs, the window
  * index, the IVF assignment) are pinned the same way, plus the one
  * fingerprint they share per input table.
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

  test("readParquet reports the inferred parquet schema and runs no job") {
    val base = Files.createTempDirectory("graft-footer").toString
    spark.conf.set(ArtifactStore.DirKey, base)
    try {
      MemoRegistry.evictAll(spark)
      Harmonize.cachedBrick(spark, sf(), Seq(EventsAdapter, OrdersAdapter))
      // non-null and nested fields, which a parquet read makes nullable
      import org.apache.spark.sql.functions._
      spark.range(3).select(col("id"),
        struct(col("id").as("a"), lit("x").as("b")).as("s"),
        array(struct(col("id").as("c"))).as("arr"),
        map(lit("k"), col("id")).as("m"))
        .write.parquet(s"$base/nested")
      def leafDirs(d: java.io.File): Seq[java.io.File] = {
        val kids = d.listFiles().toSeq
        (if (kids.exists(_.getName.endsWith(".parquet"))) Seq(d) else Nil) ++
          kids.filter(_.isDirectory).flatMap(leafDirs)
      }
      val dirs = leafDirs(new java.io.File(base)).map(_.getPath)
      // the brick's three bucketed tables, three staging parts per
      // adapter, and the nested frame
      assert(dirs.size == 3 + 2 * 3 + 1, dirs)

      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      val drain = org.apache.spark.sql.graftbridge.Bridge.drainListenerBus _
      drain(spark, 10000L)
      spark.sparkContext.addSparkListener(listener)
      val read = try {
        val r = dirs.map(d => ArtifactStore.readParquet(spark, d).schema)
        drain(spark, 10000L)
        r
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(jobs.get == 0, "readParquet ran a Spark job")
      assert(read == dirs.map(d => spark.read.parquet(d).schema))
    } finally {
      spark.conf.unset(ArtifactStore.DirKey)
      MemoRegistry.evictAll(spark)
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(base))
    }
  }

  test("corpus-keyed artifacts adopt the store dir and share one " +
    "fingerprint per table") {
    val base = Files.createTempDirectory("graft-tablekey").toString
    spark.conf.set(ArtifactStore.DirKey, base)
    try {
      MemoRegistry.evictAll(spark)
      // ann12 runs before ann5: from an empty store its residual
      // codebook build reads the IVF assignment through the same store
      // memo, so the assignment's build nests inside the codebook's
      val queries = Seq("dd2_ngram_jaccard", "dd3_minhash_lsh",
        "x24_window_index_lifecycle", "ann12_residual_pq", "ann5_ivf_topk")
      def run(): Seq[Seq[String]] =
        queries.map(q => sortedRows(SparkEntry.queries(q)(spark, sf())))
      def persisted() = spark.sparkContext.getPersistentRDDs.toMap
      val before = persisted().keySet
      val rows1 = run()
      val dirs1 = artifactDirs(base)
      def dir(prefix: String): String = {
        val hits = dirs1.filter(_.startsWith(prefix))
        assert(hits.size == 1, s"$prefix: $dirs1")
        hits.head
      }
      val docDirs = Seq("jaccard-", "cand-minhash-", "x24-winidx-").map(dir)
      dir("ivf-assigned-")
      dir("respq-")
      // the frames the first run holds, by storage level: shingles,
      // Jaccard and candidate pairs, the dup census, the IVF assignment
      // and the centroids deserialized; the windows and the residual
      // codebooks and codes serialized. Recorded from the same run at
      // commit 1653575, when each read had its own memo in the query
      // modules.
      val n1 = persisted()
      val levels = (n1 -- before).values.toSeq.map(_.getStorageLevel)
        .groupBy(identity).view.mapValues(_.size).toMap
      assert(levels == Map(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK -> 6,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER -> 3),
        levels)
      // a second run in the session is served by the memos: no store
      // dir and, as at 1653575, no persisted RDD is added
      assert(run() == rows1)
      assert(artifactDirs(base) == dirs1, "warm rerun wrote store dirs")
      assert(persisted().size == n1.size)
      // a content key ends in the table fingerprint <xor>-<sum>-<count>:
      // every artifact over `documents` must carry the same one
      val fingerprints = docDirs.map(_.split('-').takeRight(3).toSeq)
      assert(fingerprints.distinct.size == 1, docDirs)

      MemoRegistry.evictAll(spark)
      assert(run() == rows1)
      assert(artifactDirs(base) == dirs1,
        "rerun created new artifact dirs instead of adopting")
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
