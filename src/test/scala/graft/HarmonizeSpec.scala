package graft

import org.apache.spark.sql.functions._
import graft.harmonize.Harmonize
import graft.sources.{EventsAdapter, OrdersAdapter}

/** Brick-level invariants — the reference's own QC suite (SURVEY §2.12)
  * run against the harmonized testdata brick at sf0.001.
  */
class HarmonizeSpec extends SparkSpec {

  lazy val brick: Harmonize.Brick =
    Harmonize.brick(spark, sf(), Seq(EventsAdapter, OrdersAdapter))

  test("brick tables are non-empty (ref: 80_harmonize.py:96-99)") {
    assert(brick.substances.count() > 0)
    assert(brick.properties.count() > 0)
    assert(brick.activities.count() > 0)
  }

  test("activities re-key joins are shuffled-hash — the fact side never sorts") {
    // VERDICT r12 #4: the fourth-decade assembly's one remaining spill
    // was the fact side's sort residency under the default sort-merge
    // re-key joins; the SHUFFLE_HASH hints on the id-map/inchi sides
    // must actually plan as ShuffledHashJoin (a silently-ignored hint
    // would reintroduce the spill at scale with no correctness signal)
    val plan = brick.activities.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("assembly initial-partition scaling tracks staged bytes, then restores") {
    val key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val cur = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // gate-scale staged mass: at or below the session floor — the conf
    // must NOT be touched, so gate-scale plans are unchanged
    Harmonize.withScaledInitialPartitions(spark, 10L << 20) {
      assert(spark.conf.getOption(key).isEmpty)
    }
    try {
      // 48 GiB of staged tables -> 3072 first-shot reducers (one per
      // 16 MB of staged bytes ≈ 64 MB of decoded rows), restored after
      Harmonize.withScaledInitialPartitions(spark, 48L << 30) {
        assert(spark.conf.get(key).toInt == 3072)
      }
      assert(spark.conf.getOption(key).isEmpty)
      // the 4096 ceiling holds at any size
      Harmonize.withScaledInitialPartitions(spark, 10L << 40) {
        assert(spark.conf.get(key).toInt == 4096)
      }
      // a pre-existing value is restored, not clobbered
      spark.conf.set(key, "99")
      Harmonize.withScaledInitialPartitions(spark, 48L << 30) {
        assert(spark.conf.get(key).toInt == 3072)
      }
      assert(spark.conf.get(key) == "99")
      // the stats basis is planner-side and live: a staged triplet's
      // estimated bytes are positive and grow with the table
      val staged = Seq("events" ->
        graft.sources.SourceAdapter.cachedStaging(
          graft.sources.EventsAdapter, spark, sf()))
      assert(Harmonize.stagedBytes(staged) > 0L)
    } finally {
      spark.conf.unset(key)
    }
    assert(cur == spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }

  test("pid is unique per source in properties (ref: 80_harmonize.py:104-105)") {
    val n = brick.properties.count()
    val nDistinct = brick.properties.select("pid", "source").distinct().count()
    assert(n == nDistinct)
  }

  test("all activity sources appear in the adapter set (ref: 80_harmonize.py:100-101)") {
    val sources = brick.activities.select("source").distinct()
      .collect().map(_.getString(0)).toSet
    assert(sources == Set("events", "orders"))
  }

  test("activity ids are unique and content-addressed (ref: 80_harmonize.py:83-84)") {
    val acts = brick.activities
    assert(acts.count() == acts.select("aid").distinct().count())
    // rerun produces identical ids — idempotence the reference asserts via
    // before/after-distinct counts
    val again = Harmonize.brick(spark, sf(), Seq(EventsAdapter, OrdersAdapter))
      .activities
    assert(acts.select("aid").except(again.select("aid")).count() == 0)
  }

  test("every activity sid/pid resolves to a brick substance/property (FK integrity)") {
    val orphanSids = brick.activities.join(brick.substances.select("sid"),
      Seq("sid"), "left_anti")
    val orphanPids = brick.activities.join(brick.properties.select("pid"),
      Seq("pid"), "left_anti")
    assert(orphanSids.count() == 0)
    assert(orphanPids.count() == 0)
  }

  test("per-source property counts consistent between tables (ref: src/tests.py:17-56)") {
    val nProps = brick.properties.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nApids = brick.activities.groupBy("source")
      .agg(countDistinct(col("pid")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(nProps == nApids)
  }

  test("values are the closed positive/negative vocabulary") {
    val vals = brick.activities.select("value").distinct()
      .collect().map(_.getString(0)).toSet
    assert(vals.subsetOf(Set("positive", "negative")))
  }

  test("numvalue is carried through (README.md:24/37 gap closed)") {
    assert(brick.activities.filter(col("numvalue").isNull).count() == 0)
  }

  test("DataQuality suite passes on the brick and catches corruption") {
    import graft.harmonize.DataQuality
    val ok = DataQuality.run(brick, Set("events", "orders"))
    assert(ok.forall(_.passed), ok.filterNot(_.passed).mkString("; "))
    // corrupt: mislabel a value and add an unknown source
    val bad = brick.copy(activities = brick.activities
      .withColumn("value", lit("maybe"))
      .withColumn("source", lit("mystery")))
    val res = DataQuality.run(bad, Set("events", "orders"))
      .map(r => r.name -> r.passed).toMap
    assert(!res("closed_value_vocabulary"))
    assert(!res("sources_closed"))
    assert(!res("property_count_consistency"))
  }

  test("three-source harmonize passes the full DataQuality suite") {
    import graft.harmonize.{DataQuality, Harmonize}
    import graft.sources.DocumentsAdapter
    val b3 = Harmonize.brick(spark, sf(),
      Seq(EventsAdapter, OrdersAdapter, DocumentsAdapter))
    val res = DataQuality.run(b3, Set("events", "orders", "documents"))
    assert(res.forall(_.passed), res.filterNot(_.passed).mkString("; "))
    val sources = b3.activities.select("source").distinct()
      .collect().map(_.getString(0)).toSet
    assert(sources == Set("events", "orders", "documents"))
  }

  test("composite lineitem integrator stages non-trivially and passes DataQuality") {
    import graft.harmonize.DataQuality
    import graft.sources.LineitemAdapter
    val t = LineitemAdapter.staging(spark, sf())
    assert(t.activities.count() > 0)
    // support filters actually cut (the decode drops unmapped rows and
    // discordance removes ambiguous pairs — the staging set must be a
    // strict subset of the raw pairs)
    assert(t.activities.count() <
      Tables.lineitem(spark, sf()).select("l_partkey", "l_suppkey")
        .distinct().count())
    val b = Harmonize.brick(spark, sf(),
      Seq(EventsAdapter, OrdersAdapter, LineitemAdapter))
    val res = DataQuality.run(b, Set("events", "orders", "lineitem"))
    assert(res.forall(_.passed), res.filterNot(_.passed).mkString("; "))
  }

  test("ICE-shaped integrator balances classes and synthesizes negatives") {
    import graft.harmonize.DataQuality
    import graft.sources.IceAdapter
    val acts = IceAdapter.staging(spark, sf()).activities
    assert(acts.count() > 0)
    // per-endpoint class balance: both classes down-sampled to the
    // minority count (ref: src/06_integrate_ice.R:107-110)
    val unbalanced = acts.groupBy("pid")
      .agg(
        sum(when(col("value") === "positive", 1).otherwise(0)).as("p"),
        sum(when(col("value") === "negative", 1).otherwise(0)).as("n"))
      .filter(col("p") =!= col("n"))
    assert(unbalanced.count() == 0)
    // synthesized negatives exist and carry NULL numvalue (the grid is
    // larger than the observed pair set)
    assert(acts.filter(col("numvalue").isNull &&
      col("value") === "negative").count() > 0)
    // five-source brick (all adapters incl. both composites) stays clean
    val b5 = Harmonize.brick(spark, sf(), Seq(EventsAdapter, OrdersAdapter,
      graft.sources.DocumentsAdapter, graft.sources.LineitemAdapter,
      IceAdapter))
    val res = DataQuality.run(b5,
      Set("events", "orders", "documents", "lineitem", "icegrid"))
    assert(res.forall(_.passed), res.filterNot(_.passed).mkString("; "))
  }

  test("incremental merge is bit-identical to a from-scratch rebuild") {
    import graft.harmonize.Harmonize
    import graft.sources.DocumentsAdapter
    val existing = Harmonize.brick(spark, sf(),
      Seq(EventsAdapter, OrdersAdapter))
    val merged = Harmonize.incremental(spark, sf(), existing,
      Seq(DocumentsAdapter))
    val full = Harmonize.brick(spark, sf(),
      Seq(EventsAdapter, OrdersAdapter, DocumentsAdapter))
    def same(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Unit = {
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    }
    same(merged.substances, full.substances)
    same(merged.properties, full.properties)
    same(merged.activities, full.activities)
    // and merging the same source twice is a no-op (idempotence —
    // content-addressed ids dedup on distinct)
    val twice = Harmonize.incremental(spark, sf(), merged,
      Seq(DocumentsAdapter))
    assert(twice.activities.count() == merged.activities.count())
    assert(twice.substances.count() == merged.substances.count())
  }

  test("sliced assembly is bit-identical to the one-shot brick (VERDICT r14 #1)") {
    import graft.sources.{BindingdbAdapter, Catalog, DocumentsAdapter,
      IceAdapter}
    import org.apache.spark.sql.execution.datasources.BucketingUtils
    // bindingdb: multi-measurement groups exercise the per-slice
    // collapse; a 3-slice deal over 5 adapters covers a two-adapter
    // slice and single-adapter slices in one run
    val adapters = Seq(EventsAdapter, OrdersAdapter, DocumentsAdapter,
      BindingdbAdapter, IceAdapter)
    // first forced after the direct sliced build below, which evicts
    // the session's staging memos
    lazy val one = Harmonize.brick(spark, sf(), adapters)
    def same(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Unit = {
      // the count catches a slice that silently replaced an earlier
      // slice's files instead of appending to them
      assert(a.count() == b.count())
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    }
    // a k-slice build read back through its bucketed catalog tables
    def check(dir: String, k: Int, b: Harmonize.Brick): Unit = {
      same(b.substances, one.substances)
      same(b.properties, one.properties)
      same(b.activities, one.activities)
      // the appended union arrives FULLY collapsed — source is in the
      // collapse key, so no group crosses slices and no re-collapse is
      // needed (the decomposability argument buildBrickBucketedTo
      // states)
      assert(b.activities.groupBy("aid", "source").count()
        .filter(col("count") > 1).count() == 0)
      // each slice appends at most one file per bucket
      val ids = new java.io.File(s"$dir/activities").listFiles().toSeq
        .map(_.getName).filter(_.endsWith(".parquet"))
        .map(BucketingUtils.getBucketId)
      assert(ids.nonEmpty && ids.forall(_.isDefined), ids)
      val filesPerBucket = ids.flatten.groupBy(identity).values.map(_.size)
      assert(filesPerBucket.forall(_ <= k), filesPerBucket)
      // multi-file buckets keep the layout: groupBy(sid) plans no
      // exchange
      val agg = b.activities.groupBy(col("sid")).agg(count(lit(1)))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), plan)
    }
    def rmDir(dir: String): Unit = org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
    spark.conf.set(Harmonize.ReclaimMsKey, "0")
    try {
      // slicing degenerates gracefully: k past the adapter count
      // clamps to one-adapter slices, k<=1 to a single slice
      assert(Harmonize.sliceAdapters(adapters, 99).size == adapters.size)
      assert(Harmonize.sliceAdapters(adapters, 0) == Seq(adapters))
      val slices = Harmonize.sliceAdapters(adapters, 3)
      assert(slices.size == 3 && slices.flatten.toSet == adapters.toSet)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sliced-brick").toString
      try {
        Harmonize.buildBrickBucketedTo(spark, sf(), slices,
          graft.chem.StructureConverter.Stub, dir, 4)
        check(dir, 3, Catalog.registerBrickBucketedFiles(spark, dir, 4))
      } finally rmDir(dir)
      // the CONF-GATED route: spark.graft.assembly.slices > 1 makes the
      // hosted build (cachedBrick -> buildBrickBucketedTo) run sliced
      // and publish the bucketed layout as the brick's only artifact
      Seq(2, 3).foreach { k =>
        val base = java.nio.file.Files
          .createTempDirectory("graft-sliced-store").toString
        spark.conf.set(graft.ArtifactStore.DirKey, base)
        spark.conf.set(Harmonize.SlicesKey, k.toString)
        try {
          graft.MemoRegistry.evictAll(spark)
          val hosted = Harmonize.cachedBrick(spark, sf(), adapters)
          val bricks = new java.io.File(base).list().toSeq
            .filter(_.startsWith("brick"))
          assert(bricks.size == 1 && bricks.head.startsWith("brickb-"),
            bricks)
          check(s"$base/${bricks.head}", k, hosted)
        } finally {
          spark.conf.unset(Harmonize.SlicesKey)
          spark.conf.unset(graft.ArtifactStore.DirKey)
          graft.MemoRegistry.evictAll(spark)
          rmDir(base)
        }
      }
    } finally spark.conf.unset(Harmonize.ReclaimMsKey)
  }
}
