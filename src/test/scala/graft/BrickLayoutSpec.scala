package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.harmonize.{DataQuality, Harmonize}
import graft.sources.{Catalog, SourceAdapter}

/** The bucketed brick layout over the full EIGHT-source brick: written
  * once via Catalog.writeBrickBucketedFiles, adopted via
  * registerBrickBucketedFiles, downstream sid-joins run with zero
  * shuffle exchange. Every cachedBrick route serves this layout, and
  * the brick takes its bucket count from the building session's
  * shuffle partitions.
  */
class BrickLayoutSpec extends SparkSpec {

  test("bucketed 8-source brick round-trips and the sid join elides the exchange") {
    val brick = Harmonize.cachedBrick(spark, sf(), SourceAdapter.all)
    val path = Files.createTempDirectory("graft-brick-b").toString
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Catalog.writeBrickBucketedFiles(spark, path, 8) { append =>
        append(brick)
      }
      val back = Catalog.registerBrickBucketedFiles(spark, path, 8)

      // read-back equality: the artifact IS the brick (row-level, not
      // just counts — content-hash ids make except() exact)
      assert(back.activities.count() == brick.activities.count())
      assert(back.activities.exceptAll(brick.activities).isEmpty &&
        brick.activities.exceptAll(back.activities).isEmpty)
      assert(back.substances.exceptAll(brick.substances).isEmpty)
      assert(back.properties.exceptAll(brick.properties).isEmpty)

      // the 10-check QC suite holds on the read-back artifact
      val dq = DataQuality.run(back, SourceAdapter.all.map(_.name).toSet)
      assert(dq.count(_.passed) == dq.size, dq.filterNot(_.passed).toString)

      // co-bucketed sid join: no exchange on either side
      val joined = back.activities.join(back.substances, "sid")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"co-bucketed sid join must not shuffle:\n$plan")
      val expected = brick.activities.join(brick.substances, "sid").count()
      assert(joined.count() == expected && expected > 0)

      // a sid aggregation over the bucketed table also skips the exchange
      val agg = back.activities.groupBy(col("sid")).agg(count(lit(1)))
      assert(!agg.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        "bucketed groupBy(sid) should be exchange-free")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    }
  }

  test("cachedBrick serves the bucketed catalog layout (VERDICT r14 #2)") {
    val brick = Harmonize.cachedBrick(spark, sf(), SourceAdapter.all)
    // the hosted read path IS the bucketed layout: the memoized frame's
    // plan bottoms out in a bucketed catalog scan, and the partitioning
    // survives the memo persist (InMemoryRelation keeps the cached
    // scan's partitioning)
    brick.activities.count()
    val scanPlan = brick.activities.queryExecution.executedPlan.toString
    assert(scanPlan.contains("Bucketed: true"), scanPlan)
    val agg = brick.activities.groupBy(col("sid"))
      .agg(countDistinct(col("pid")).as("np"))
    val aggPlan = agg.queryExecution.executedPlan.toString
    assert(!aggPlan.contains("Exchange"),
      s"sid-keyed aggregate over the hosted brick must ride the bucket " +
        s"layout exchange-free:\n$aggPlan")

    // h3's pyramid: no exchange may carry the fact stream — neither on
    // the (source, value, sid) collapse (bucket key ⊆ group key) nor on
    // aid (the old flat-countDistinct shuffle of every unique aid)
    val h3 = SparkEntry.queries("h3_activities_qc")(spark, sf())
    val h3plan = h3.queryExecution.executedPlan.toString
    assert(!h3plan.matches(
      "(?s).*Exchange hashpartitioning\\([^)]*\\bsid\\b.*"), h3plan)
    assert(!h3plan.matches(
      "(?s).*Exchange hashpartitioning\\([^)]*\\baid\\b.*"), h3plan)

    // the hosted pathway (assembly -> bucketed files -> catalog
    // registration) loses nothing: row-identical to the declarative build
    val plain = Harmonize.brick(spark, sf(), SourceAdapter.all)
    assert(brick.activities.exceptAll(plain.activities).isEmpty &&
      plain.activities.exceptAll(brick.activities).isEmpty)
    assert(brick.substances.exceptAll(plain.substances).isEmpty)
    assert(brick.properties.exceptAll(plain.properties).isEmpty)
  }

  test("every cachedBrick route is bucketed: size-gated and custom-converter bricks too") {
    // the two scratch routes: a session whose input is over the hosting
    // size gate, and a converter no store key can fingerprint. Each
    // writes the same bucketed dir as the hosted route, into a scratch
    // dir under the checkpoint base, and eviction deletes it.
    class Upper extends graft.chem.StructureConverter {
      def inchiToSmiles(i: String): String =
        if (i == null) null else i.toUpperCase
      def smilesToInchi(s: String): String =
        if (s == null) null else s.toLowerCase
    }
    val upper = new Upper
    val adapters = Seq(graft.sources.EventsAdapter,
      graft.sources.OrdersAdapter)
    val ckpt = Files.createTempDirectory("graft-brick-scratch").toString
    def scratchDirs: Seq[String] = new java.io.File(ckpt).list().toSeq
      .filter(_.startsWith("brick-"))
    val gated = spark.newSession()
    def same(label: String, a: Harmonize.Brick, b: Harmonize.Brick): Unit =
      Seq((a.substances, b.substances), (a.properties, b.properties),
        (a.activities, b.activities)).foreach { case (x, y) =>
        assert(x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty, label)
      }
    def bucketed(label: String, b: Harmonize.Brick): Unit = {
      b.activities.count()
      val scan = b.activities.queryExecution.executedPlan.toString
      assert(scan.contains("Bucketed: true"), s"$label:\n$scan")
      val agg = b.activities.groupBy(col("sid")).agg(count(lit(1)))
      val aggPlan = agg.queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange hashpartitioning"),
        s"$label: groupBy(sid) must be exchange-free:\n$aggPlan")
    }
    try {
      Seq(spark, gated).foreach(_.conf.set(MemoRegistry.CkptDirKey, ckpt))
      gated.conf.set(ArtifactStore.MaxInputBytesKey, "1")
      val hosted = Harmonize.cachedBrick(spark, sf(), adapters)
      bucketed("hosted", hosted)

      val sizeGated = Harmonize.cachedBrick(gated, sf(), adapters)
      bucketed("size-gated", sizeGated)
      same("size-gated", sizeGated, hosted)

      val custom = Harmonize.cachedBrick(spark, sf(), adapters, upper)
      bucketed("custom converter", custom)
      same("custom converter", custom,
        Harmonize.brick(spark, sf(), adapters, upper))
      assert(scratchDirs.size == 2, scratchDirs)
    } finally {
      MemoRegistry.evictAll(gated)
      Harmonize.evict(spark)
      Seq(spark, gated).foreach(_.conf.unset(MemoRegistry.CkptDirKey))
    }
    assert(scratchDirs.isEmpty, s"eviction left scratch bricks: $scratchDirs")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
  }

  test("the hosted brick has one bucket per shuffle partition of its session") {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.execution.datasources.BucketingUtils
    val base = Files.createTempDirectory("graft-brick-width").toString
    val narrow = spark.newSession()
    val adapters = Seq(graft.sources.EventsAdapter,
      graft.sources.OrdersAdapter)
    def brickDirs: Set[String] = new java.io.File(base).list().toSet
      .filter(_.startsWith("brick"))
    // bucket ids in a table's files, and its catalog CLUSTERED BY count
    def fileBuckets(dir: String, table: String): Set[Int] =
      new java.io.File(s"$base/$dir/$table").list().toSeq
        .filter(_.endsWith(".parquet")).map { f =>
          val id = BucketingUtils.getBucketId(f)
          assert(id.isDefined, f); id.get
        }.toSet
    def catalogBuckets(dir: String, table: String): Option[Int] = {
      val cat = spark.sessionState.catalog
      def canon(f: java.io.File) = f.getCanonicalPath
      val loc = canon(new java.io.File(s"$base/$dir/$table"))
      val tables = cat.listTables("graft_brick")
        .map(t => cat.getTableMetadata(TableIdentifier(t.table, t.database)))
      val hits = tables
        .filter(t => canon(new java.io.File(t.location)) == loc)
      assert(hits.size == 1, s"$loc: " + tables.map(_.location))
      hits.head.bucketSpec.map(_.numBuckets)
    }
    def checkWidth(dir: String, n: Int): Unit =
      Seq("substances", "properties", "activities").foreach { t =>
        assert(fileBuckets(dir, t) == (0 until n).toSet, s"$t in $dir")
        assert(catalogBuckets(dir, t).contains(n), s"$t in $dir")
      }
    try {
      Seq(spark, narrow).foreach { s =>
        s.conf.set(ArtifactStore.DirKey, base)
        MemoRegistry.evictAll(s)
      }
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
      Harmonize.cachedBrick(spark, sf(), adapters).activities.count()
      val wide = brickDirs
      assert(wide.size == 1 && wide.head.startsWith("brickb-"), wide)
      checkWidth(wide.head, 4)

      // another width keys another dir; the 4-bucket one is untouched
      narrow.conf.set("spark.sql.shuffle.partitions", "3")
      Harmonize.cachedBrick(narrow, sf(), adapters).activities.count()
      val added = brickDirs -- wide
      assert(brickDirs.size == 2 && added.size == 1 &&
        added.head.startsWith("brickb-"), brickDirs)
      checkWidth(added.head, 3)
      checkWidth(wide.head, 4)
    } finally {
      Seq(spark, narrow).foreach { s =>
        MemoRegistry.evictAll(s)
        s.conf.unset(ArtifactStore.DirKey)
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }
}
