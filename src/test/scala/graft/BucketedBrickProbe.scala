package graft

import org.apache.spark.sql.functions._
import graft.harmonize.Harmonize
import graft.sources.{Catalog, SourceAdapter}

/** Dev tool (VERDICT r13 #5): the bucketed-brick HANDOFF at stretch
  * scale — BrickLayoutSpec proves exchange-free downstream sid work at
  * gate scale; this probe does it on the fourth-decade artifact
  * (156.1M activities). One job assembles and writes the brick with
  * `Catalog.writeBrickBucketedFiles`; the consumer half adopts the
  * files with `registerBrickBucketedFiles`, runs the h3-shaped QC
  * aggregate and the sid fact-dimension join off those CATALOG tables
  * and (a) dumps whether any `Exchange hashpartitioning` remains in the
  * executed plans, (b) times the same work against the identical
  * parquet bytes read WITHOUT bucket metadata (`spark.read.parquet` on
  * the same files) — so the receipt
  * isolates exactly what the layout buys: the exchanges, not the I/O.
  *
  * `sbt "Test/runMain graft.BucketedBrickProbe [sfDir] [buckets]"`
  * (defaults: target/sf10-stretch, 64 — ~2.4M rows per bucket at the
  * stretch, the "bucket slice fits an executor" sizing).
  * SPARK_DRIVER_MEM=48g + the AssemblyProfile env applies at sf10.
  */
object BucketedBrickProbe {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("target/sf10-stretch")
    val buckets = args.lift(1).map(_.toInt).getOrElse(64)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus, "bucketed-brick-probe")
    spark.sparkContext.setLogLevel("ERROR")
    StretchGen.ensure(spark, d): Unit
    sys.env.get("SPARK_GRAFT_CKPT_MODE").foreach { m =>
      spark.conf.set(MemoRegistry.CkptModeKey, m)
      spark.conf.set(MemoRegistry.CkptDirKey,
        sys.env.getOrElse("SPARK_GRAFT_CKPT_DIR",
          "/root/repo/target/graft-ckpt"))
    }
    spark.conf.set(graft.ArtifactStore.MaxInputBytesKey, "1")

    def time[T](n: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[bprobe] $n%-34s ${(System.nanoTime() - t0) / 1e9}%8.2fs")
      r
    }

    // build the brick exactly like AssemblyProfile's production path
    val staged = SourceAdapter.all.map(a =>
      a.name -> SourceAdapter.cachedStaging(a, spark, d))
    staged.foreach(_._2.activities.count())
    val brick = Harmonize.withScaledInitialPartitions(spark,
      Harmonize.stagedBytes(staged)) {
      val b = Harmonize.brickFromStaged(staged,
        materialize = MemoRegistry.checkpointLarge)
      if (sys.env.contains("SPARK_GRAFT_EVICT_STAGED")) {
        SourceAdapter.evict(spark)
        System.gc(); Thread.sleep(5000)
      }
      Harmonize.Brick(
        MemoRegistry.checkpointLarge(b.substances),
        MemoRegistry.checkpointLarge(b.properties),
        MemoRegistry.checkpointLarge(b.activities))
    }

    val path = s"/root/repo/target/brick-bucketed-probe"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    time(s"writeBrickBucketedFiles($buckets)") {
      Catalog.writeBrickBucketedFiles(spark, path, buckets) { append =>
        append(brick)
      }
    }
    Seq(brick.substances, brick.properties, brick.activities)
      .foreach(MemoRegistry.release)

    // the consumer half: catalog (bucketed) vs the same files as plain
    // parquet. Broadcast off so the join layout, not the dim size,
    // decides the plan — the h3 QC shapes are fact-side aggregations.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val back = Catalog.registerBrickBucketedFiles(spark, path, buckets)
    val plainActs = spark.read.parquet(s"$path/activities")
    val plainSubs = spark.read.parquet(s"$path/substances")

    def qc(acts: org.apache.spark.sql.DataFrame) = acts
      .groupBy(col("sid"))
      .agg(count(lit(1)).as("n"), countDistinct(col("pid")).as("n_pid"))
      .agg(count(lit(1)).as("n_sids"), sum(col("n")).as("n_rows"),
        max(col("n_pid")).as("max_pid"))
    def sidJoin(acts: org.apache.spark.sql.DataFrame,
        subs: org.apache.spark.sql.DataFrame) =
      acts.join(subs.select(col("sid"), col("source").as("ssrc")), "sid")
        .groupBy(col("ssrc")).agg(count(lit(1)).as("n"))

    // warm the page cache on both forms once, then measure
    time("warmup (bucketed count)") { back.activities.count() }
    time("warmup (plain count)") { plainActs.count() }
    val frames = Seq(
      "qc-agg  bucketed" -> qc(back.activities),
      "qc-agg  plain" -> qc(plainActs),
      "sid-join bucketed" -> sidJoin(back.activities, back.substances),
      "sid-join plain" -> sidJoin(plainActs, plainSubs))
    frames.foreach { case (n, df) =>
      val rows = time(n) { df.collect().length }
      val plan = df.queryExecution.executedPlan.toString
      val ex = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
      println(s"[bprobe] $n rows=$rows exchanges=$ex")
    }
    // the receipt plan: the bucketed QC aggregate end-to-end
    println("[bprobe] bucketed qc-agg plan:")
    println(qc(back.activities).queryExecution.executedPlan.toString
      .linesIterator.take(25).mkString("\n"))
    // external tables: the files outlive the session — reclaim the
    // multi-GB probe artifact from the shared scratch disk
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path)): Unit
    spark.stop()
  }
}
