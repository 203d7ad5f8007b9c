package graft

/** The reliable-materialization posture (VERDICT r7 #3): with
  * `spark.graft.checkpoint.mode=reliable`, every fact-scale memo
  * materialization (size-gated staging triplets, the brick assembly's
  * staging unions) becomes a parquet handoff under
  * `spark.graft.checkpoint.dir` instead of executor-local checkpoint
  * blocks — the posture a real cluster needs, where a lost executor
  * must not fail the brick. This spec executes the WHOLE h-family
  * through that alternate path and pins result identity against the
  * default local-checkpoint mode, plus the handoff artifact lifecycle
  * (written under the dir, intermediates deleted on release).
  */
class ReliableCheckpointSpec extends SparkSpec {

  private val hQueries = (1 to 12).map(i =>
    SparkEntry.queries.keys.find(_.startsWith(s"h${i}_")).get)

  private def runAll(): Map[String, Seq[String]] =
    hQueries.map { n =>
      n -> SparkEntry.queries(n)(spark, sf())
        .collect().map(_.toString).toSeq.sorted
    }.toMap

  test("h1-h12 identical through the parquet-handoff materialization") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-reliable").toString
    // this spec tests the checkpointLarge PLUMBING — gate every input
    // out of artifact hosting so the stagings run through the
    // materializer instead of adopting a store dir (where no handoff
    // would be written)
    spark.conf.set(ArtifactStore.MaxInputBytesKey, "1")
    // baseline: default local-checkpoint mode (fresh build so both
    // modes pay the same staging work)
    MemoRegistry.evictAll(spark)
    val local = runAll()
    // alternate path: evict every memo so the brick rebuilds through
    // the reliable materializer
    MemoRegistry.evictAll(spark)
    spark.conf.set(MemoRegistry.CkptModeKey, "reliable")
    spark.conf.set(MemoRegistry.CkptDirKey, dir)
    try {
      val reliable = runAll()
      for (n <- hQueries)
        assert(reliable(n) == local(n), s"$n diverged in reliable mode")
      // the handoff wrote real parquet artifacts under the dir: the
      // memoized staging triplets' handoffs survive (the staging-union
      // intermediates were released). Only `ckpt-*` dirs count: the
      // scratch brick dir lives under the same base.
      val kept = new java.io.File(dir).listFiles()
      assert(kept != null && kept.exists(_.getName.startsWith("ckpt-")),
        "reliable mode wrote no parquet handoffs")
    } finally {
      spark.conf.unset(MemoRegistry.CkptModeKey)
      spark.conf.unset(MemoRegistry.CkptDirKey)
      spark.conf.unset(ArtifactStore.MaxInputBytesKey)
      // drop frames whose blocks/files belong to the reliable run
      MemoRegistry.evictAll(spark)
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir))
    }
  }

  test("evictAll reclaims an orphaned handoff only once its frame died") {
    // a handoff whose frame never saw release (a build that died after
    // materializing) must not be deleted by the first evictAll — the
    // path could belong to a build still in flight (builds run outside
    // every lock) — but once the frame is unreachable, a later
    // consecutive eviction reclaims the dir
    val dir = java.nio.file.Files
      .createTempDirectory("graft-reliable-orph").toString
    spark.conf.set(MemoRegistry.CkptModeKey, "reliable")
    spark.conf.set(MemoRegistry.CkptDirKey, dir)
    try {
      // build in a method scope so the frame reference genuinely dies
      def make(): Unit = {
        val df = MemoRegistry.checkpointLarge(spark.range(50).toDF("id"))
        assert(df.count() == 50): Unit
      }
      make()
      MemoRegistry.evictAll(spark)
      val afterFirst = new java.io.File(dir).listFiles()
      assert(afterFirst != null && afterFirst.length == 1,
        "first sweep must spare a possibly-in-flight handoff")
      // the weak frame→path entry clears on GC; sweep until reclaimed
      var tries = 0
      while (tries < 20 && {
        val fs = new java.io.File(dir).listFiles()
        fs != null && fs.nonEmpty
      }) {
        System.gc(); Thread.sleep(50)
        MemoRegistry.evictAll(spark)
        tries += 1
      }
      val afterSweeps = new java.io.File(dir).listFiles()
      assert(afterSweeps == null || afterSweeps.isEmpty,
        "sweep must reclaim the orphan once its frame is unreachable")
    } finally {
      spark.conf.unset(MemoRegistry.CkptModeKey)
      spark.conf.unset(MemoRegistry.CkptDirKey)
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir))
    }
  }

  test("a LIVE unreleased frame survives repeated sweeps (ADVICE r8)") {
    // a reliable-mode build that spans two evictions — or memoizes just
    // after the hooks ran — still holds its frame; the sweep used to
    // delete the parquet dir out from under it (FileNotFoundException
    // on the next read). The liveness guard must spare it for as long
    // as the frame is reachable, then release() reclaims it as usual.
    val dir = java.nio.file.Files
      .createTempDirectory("graft-reliable-live").toString
    spark.conf.set(MemoRegistry.CkptModeKey, "reliable")
    spark.conf.set(MemoRegistry.CkptDirKey, dir)
    try {
      val df = MemoRegistry.checkpointLarge(spark.range(75).toDF("id"))
      assert(df.count() == 75)
      for (i <- 1 to 3) {
        MemoRegistry.evictAll(spark)
        val fs = new java.io.File(dir).listFiles()
        assert(fs != null && fs.length == 1,
          s"sweep $i deleted a handoff whose frame is still live")
      }
      // the frame still reads — the files really are intact
      assert(df.count() == 75)
      MemoRegistry.release(df)
      val after = new java.io.File(dir).listFiles()
      assert(after == null || after.isEmpty,
        "release must reclaim the live handoff's files")
    } finally {
      spark.conf.unset(MemoRegistry.CkptModeKey)
      spark.conf.unset(MemoRegistry.CkptDirKey)
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir))
    }
  }

  test("comma-list checkpoint dir round-robins handoffs across dirs") {
    // the multi-spindle posture for the 30x single-disk I/O wall:
    // successive materializations alternate dirs; results unchanged
    // and release/sweep still reclaim files wherever they landed
    val d1 = java.nio.file.Files
      .createTempDirectory("graft-ckpt-a").toString
    val d2 = java.nio.file.Files
      .createTempDirectory("graft-ckpt-b").toString
    spark.conf.set(MemoRegistry.CkptModeKey, "reliable")
    spark.conf.set(MemoRegistry.CkptDirKey, s"$d1, $d2")
    try {
      val frames = (1 to 4).map(i =>
        MemoRegistry.checkpointLarge(spark.range(i * 10L).toDF("id")))
      assert(frames.map(_.count()) == Seq(10L, 20L, 30L, 40L))
      def nDirs(d: String): Int = {
        val fs = new java.io.File(d).listFiles()
        if (fs == null) 0 else fs.length
      }
      assert(nDirs(d1) == 2 && nDirs(d2) == 2,
        s"expected 2+2 handoffs, got ${nDirs(d1)}+${nDirs(d2)}")
      frames.foreach(MemoRegistry.release)
      assert(nDirs(d1) == 0 && nDirs(d2) == 0,
        "release left files behind in a round-robin dir")
    } finally {
      spark.conf.unset(MemoRegistry.CkptModeKey)
      spark.conf.unset(MemoRegistry.CkptDirKey)
      for (d <- Seq(d1, d2))
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
    }
  }

  test("release() deletes a reliable handoff's files") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-reliable-rel").toString
    spark.conf.set(MemoRegistry.CkptModeKey, "reliable")
    spark.conf.set(MemoRegistry.CkptDirKey, dir)
    try {
      val df = MemoRegistry.checkpointLarge(
        spark.range(100).toDF("id"))
      assert(df.count() == 100)
      val before = new java.io.File(dir).listFiles()
      assert(before != null && before.length == 1)
      MemoRegistry.release(df)
      val after = new java.io.File(dir).listFiles()
      assert(after == null || after.isEmpty,
        s"handoff files survived release: ${after.mkString(",")}")
    } finally {
      spark.conf.unset(MemoRegistry.CkptModeKey)
      spark.conf.unset(MemoRegistry.CkptDirKey)
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir))
    }
  }
  test("blank/comma-only checkpoint dir falls back to the default base") {
    // ADVICE r9: "" or "," trimmed to zero entries and the round-robin
    // then mod'ed by zero at the first reliable materialization
    spark.conf.set(MemoRegistry.CkptModeKey, "reliable")
    for (bad <- Seq("", " , ", ",")) {
      spark.conf.set(MemoRegistry.CkptDirKey, bad)
      try {
        val df = MemoRegistry.checkpointLarge(spark.range(10).toDF("id"))
        assert(df.count() == 10, s"fallback failed for value '$bad'")
        MemoRegistry.release(df)
      } finally spark.conf.unset(MemoRegistry.CkptDirKey)
    }
    spark.conf.unset(MemoRegistry.CkptModeKey)
  }
}
