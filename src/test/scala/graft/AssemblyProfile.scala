package graft

import org.apache.spark.sql.DataFrame
import graft.harmonize.Harmonize
import graft.sources.SourceAdapter

/** Dev tool: SUB-stage attribution for the brick assembly — the one
  * macro stage BrickProfile times as a single line and the round-6
  * scale-step flagged as superlinear (9.3s → 102.8s at 10× data).
  * `sbt "Test/runMain graft.AssemblyProfile [sfDir]"` stages everything
  * first (cached, untimed here — BrickProfile covers it), then runs the
  * exact production assembly (`Harmonize.brickFromStaged` with the
  * localCheckpoint materialize hook, same as cachedBrick) with each
  * materialization and each final-table checkpoint timed separately:
  *
  *   subs.union+canon   the substances staging union + canonicalize UDF
  *                      + md5 re-key, checkpointed
  *   props.union+canon  same for properties
  *   acts.union+precollapse  the activities union + (source, old-id)
  *                      pre-collapse groupBy, checkpointed
  *   substances.ckpt    distinct over subs staging → checkpoint
  *   properties.ckpt    distinct over props staging → checkpoint
  *   activities.ckpt    both (source, old-id) re-key joins + inchi
  *                      distinct/convert/join-back + final collapse →
  *                      checkpoint
  *
  * Each line also reports the JVM-wide GC-time delta for the stage: in
  * a single-JVM local run, superlinear wall-clock with a matching GC
  * blow-up means storage-memory pressure (checkpoint blocks evicting),
  * not shuffle work — two different fixes.
  */
object AssemblyProfile {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    // optional second arg: assembly repetitions in ONE session (stagings
    // build once) — co-tenant noise on this box swings single passes
    // ±2-4×, so per-stage medians across passes are the usable signal
    val reps = args.lift(1).map(_.toInt).getOrElse(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus, "assembly-profile")
    spark.sparkContext.setLogLevel("ERROR")
    StretchGen.ensure(spark, d): Unit
    // SPARK_GRAFT_CKPT_MODE=reliable measures the fault-tolerant
    // parquet-handoff posture (round-8 table in BENCH_LOCAL.md)
    sys.env.get("SPARK_GRAFT_CKPT_MODE").foreach { m =>
      spark.conf.set(MemoRegistry.CkptModeKey, m)
      spark.conf.set(MemoRegistry.CkptDirKey,
        sys.env.getOrElse("SPARK_GRAFT_CKPT_DIR",
          "/root/repo/target/graft-ckpt"))
      println(s"[aprof] checkpoint mode: $m")
    }
    // SPARK_GRAFT_SHUFFLE overrides shuffle partitions for THIS profile
    // run: the fourth-decade finding (BENCH_LOCAL r10) is that the
    // session default (= cores) under-partitions once per-partition
    // aggregate state outgrows execution memory — at 100× the
    // activities pipeline spilled 210 GB at 32 partitions. On a real
    // cluster this is exactly "partitions scale with data, cores per
    // executor stay fixed"; locally the env lets the probe demonstrate
    // the spill collapsing without oversubscribing threads.
    // Since r11 the PRODUCTION path no longer needs it: cachedBrick
    // scales AQE initialPartitionNum with input bytes automatically
    // (Harmonize.withScaledInitialPartitions). The knob stays for
    // probing ALTERNATIVE widths against that default.
    sys.env.get("SPARK_GRAFT_SHUFFLE").foreach { n =>
      spark.conf.set("spark.sql.shuffle.partitions", n)
      println(s"[aprof] shuffle partitions: $n")
    }

    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    // spill + shuffle-write listener totals per stage: superlinear wall
    // WITH spill means memory starvation; without, real work growth
    @volatile var spill = 0L
    @volatile var shufW = 0L
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) {
            spill += m.memoryBytesSpilled + m.diskBytesSpilled
            shufW += m.shuffleWriteMetrics.bytesWritten
          }
        }
      })
    def time[T](n: String)(f: => T): T = {
      // drain queued task-end events so the previous block's metrics
      // can't bleed into this block's counters (the bus is async)
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      val t0 = System.nanoTime(); val g0 = gcMs
      val s0 = spill; val w0 = shufW
      val r = f
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      println(f"[aprof] $n%-24s ${(System.nanoTime() - t0) / 1e9}%7.2fs  gc=${gcMs - g0}%5dms  spill=${(spill - s0) / 1e6}%8.1fMB shufW=${(shufW - w0) / 1e6}%8.1fMB")
      r
    }

    // stage everything first (what BrickProfile attributes per adapter).
    // Session-local staging (every input over the hosting size gate):
    // the profile measures the ASSEMBLY; store-hosting the 14
    // stretch-scale triplets would spend tens of GB of the scratch disk
    // the acts shuffle needs.
    spark.conf.set(graft.ArtifactStore.MaxInputBytesKey, "1")
    // one job at a time: the timed materialize hook below labels the
    // staging unions in call order
    spark.conf.set(MemoRegistry.StageThreadsKey, "1")
    val t0 = System.nanoTime()
    val staged = SourceAdapter.all.map(a =>
      a.name -> SourceAdapter.cachedStaging(a, spark, d))
    staged.foreach(_._2.activities.count())
    println(f"[aprof] stagings(all, cached)    ${(System.nanoTime() - t0) / 1e9}%7.2fs")

    // the production assembly with each materialization timed; the hook
    // fires in brickFromStaged's fixed order: subs, props, acts.
    // withScaledInitialPartitions = cachedBrick's posture (r11): the
    // first-shot reducer count scales with input bytes automatically,
    // so this profile now measures exactly what the production path
    // runs — SPARK_GRAFT_SHUFFLE remains only to probe OTHER widths.
    (1 to reps).foreach { rep =>
      val labels = Iterator("subs.union+canon", "props.union+canon",
        "acts.union+precollapse")
      val inter = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      val tAll = System.nanoTime()
      // under EVICT_STAGED a prior rep deleted the triplet handoffs, so
      // re-resolve through the memo (it re-stages evicted entries;
      // without evict this returns the same cached frames)
      val stagedRep =
        if (rep == 1) staged
        else SourceAdapter.all.map(a =>
          a.name -> SourceAdapter.cachedStaging(a, spark, d))
      val (subs, props, acts) =
        Harmonize.withScaledInitialPartitions(spark,
          Harmonize.stagedBytes(stagedRep)) {
          println("[aprof] auto initialPartitionNum: " + spark.conf
            .getOption("spark.sql.adaptive.coalescePartitions." +
              "initialPartitionNum").getOrElse("(floor — session default)"))
          val b = Harmonize.brickFromStaged(stagedRep,
            materialize = { df =>
              val c = time(labels.next()) { MemoRegistry.checkpointLarge(df) }
              inter += c; c
            })
          // SPARK_GRAFT_EVICT_STAGED=1: once the three staging unions
          // are materialized, the 14 per-adapter triplet handoffs are
          // DEAD (brickFromStaged reads them only to build the unions)
          // and the union-build jobs' shuffle files are GC-able — but
          // both keep sitting on scratch until session end. At the
          // fourth decade that dead set is what starved the final
          // activities write into ENOSPC (BENCH_LOCAL round 11), so
          // the probe can now reclaim it at exactly the point a
          // cluster would: when the lineage no longer references it.
          // (Env-gated: multi-rep comparisons want stagings cached.)
          if (sys.env.contains("SPARK_GRAFT_EVICT_STAGED")) {
            // report the dirs the run actually scratches on — shuffle
            // spill (spark.local.dir) + the checkpoint handoff bases —
            // not hard-coded machine paths (ADVICE r12)
            def freeGB = {
              val ckptBases = spark.conf
                .getOption(MemoRegistry.CkptDirKey)
                .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
                .getOrElse(Seq(
                  sys.props.getOrElse("java.io.tmpdir", "/tmp")))
              val localDirs = spark.conf.getOption("spark.local.dir")
                .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
                .getOrElse(Seq(sys.props.getOrElse("java.io.tmpdir", "/tmp")))
              (localDirs ++ ckptBases).distinct
                .map(p => f"$p ${new java.io.File(p).getUsableSpace / 1e9}%.1fGB")
                .mkString("  ")
            }
            println(s"[aprof] scratch before evict: $freeGB")
            time("evict.staged+gc") {
              graft.sources.SourceAdapter.evict(spark)
              System.gc()        // lets ContextCleaner drop the union
              Thread.sleep(5000) // jobs' shuffle deps (async deletes)
            }
            println(s"[aprof] scratch after evict:  $freeGB")
          }
          val subs = time("substances.ckpt") {
            MemoRegistry.checkpointLarge(b.substances) }
          val props = time("properties.ckpt") {
            MemoRegistry.checkpointLarge(b.properties) }
          val acts = time("activities.ckpt") {
            MemoRegistry.checkpointLarge(b.activities) }
          (subs, props, acts)
        }
      println(f"[aprof] ASSEMBLY TOTAL pass$rep     ${(System.nanoTime() - tAll) / 1e9}%7.2fs rows: subs=${subs.count()} props=${props.count()} acts=${acts.count()}")
      (inter ++ Seq(subs, props, acts)).foreach(MemoRegistry.release)
      Thread.sleep(2000)
    }
    spark.stop()
  }
}
