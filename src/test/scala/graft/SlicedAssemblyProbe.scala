package graft

import graft.harmonize.Harmonize
import graft.sources.SourceAdapter

/** Dev tool: the bounded-scratch SLICED brick assembly at stretch scale
  * (VERDICT r14 #1). The fifth-decade one-shot probe died on peak
  * CONCURRENT scratch (~135 GB of staged handoffs + precollapse shuffle
  * live at once against 65 GB of disk + tmpfs that competes with the
  * heap for RAM — BENCH_LOCAL r14); this probe runs the same assembly
  * through `Harmonize.buildBrickBucketedTo` with k slices, which stages
  * → materializes → evicts one adapter-slice at a time and appends each
  * slice to the bucketed brick layout in outDir, and reports per-slice
  * wall / spill / shuffle-write / scratch free-space so the bounded-peak
  * claim is measured, not argued.
  *
  * `sbt "Test/runMain graft.SlicedAssemblyProbe [sfDir] [k] [outDir]
  * [buckets]"` — k defaults to one adapter per slice (the minimal-peak
  * extreme), buckets to the session's shuffle partitions (= cpus, the
  * hosted brick's count, `Harmonize.brickBuckets`);
  * same env posture as AssemblyProfile: SPARK_GRAFT_CKPT_MODE=reliable,
  * SPARK_GRAFT_CKPT_DIR=<comma list>, SPARK_DRIVER_MEM, and
  * SPARK_LOCAL_DIRS weighting shuffle onto /dev/shm.
  */
object SlicedAssemblyProbe {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/repo/target/sf30-stretch")
    val k = args.lift(1).map(_.toInt).getOrElse(SourceAdapter.all.size)
    val out = args.lift(2).getOrElse("/root/repo/target/sliced-brick")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus, "sliced-assembly-probe")
    val buckets = args.lift(3).map(_.toInt)
      .getOrElse(Harmonize.brickBuckets(spark))
    spark.sparkContext.setLogLevel("ERROR")
    StretchGen.ensure(spark, d): Unit
    sys.env.get("SPARK_GRAFT_CKPT_MODE").foreach { m =>
      spark.conf.set(MemoRegistry.CkptModeKey, m)
      spark.conf.set(MemoRegistry.CkptDirKey,
        sys.env.getOrElse("SPARK_GRAFT_CKPT_DIR",
          "/root/repo/target/graft-ckpt"))
      println(s"[sliced] checkpoint mode: $m")
    }
    // session-local staging (every input over the hosting size gate),
    // same rationale as AssemblyProfile: the probe measures the
    // assembly; store-hosting stretch-scale triplets would spend the
    // scratch the run is budgeting
    spark.conf.set(graft.ArtifactStore.MaxInputBytesKey, "1")

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
    def freeGB: String = {
      val ckptBases = spark.conf.getOption(MemoRegistry.CkptDirKey)
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq(sys.props.getOrElse("java.io.tmpdir", "/tmp")))
      // shuffle dirs come from SPARK_LOCAL_DIRS (the env wins over the
      // conf in local mode and never lands in spark.local.dir — the
      // first sf30 run reported only /tmp and missed the shm dirs)
      val localDirs = sys.env.get("SPARK_LOCAL_DIRS")
        .orElse(spark.conf.getOption("spark.local.dir"))
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq(sys.props.getOrElse("java.io.tmpdir", "/tmp")))
      (localDirs ++ ckptBases).distinct
        .map(p => f"$p ${new java.io.File(p).getUsableSpace / 1e9}%.1fGB")
        .mkString("  ")
    }

    // a fresh output tree: append-mode slices must not land on a
    // prior run's files
    val p = new org.apache.hadoop.fs.Path(out)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true): Unit

    val slices = Harmonize.sliceAdapters(SourceAdapter.all, k)
    println(s"[sliced] ${slices.size} slices over " +
      s"${SourceAdapter.all.size} adapters -> $out")
    println(s"[sliced] scratch at start: $freeGB")
    var lastSpill = 0L
    var lastShufW = 0L
    val t0 = System.nanoTime()
    Harmonize.buildBrickBucketedTo(spark, d, slices,
      graft.chem.StructureConverter.Stub, out, buckets,
      instrument = { msg =>
        org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
        println(f"[sliced] $msg  spill=${(spill - lastSpill) / 1e6}%9.1fMB " +
          f"shufW=${(shufW - lastShufW) / 1e6}%9.1fMB  scratch: $freeGB")
        lastSpill = spill; lastShufW = shufW
      })
    val wall = (System.nanoTime() - t0) / 1e9
    val subs = spark.read.parquet(s"$out/substances").count()
    val props = spark.read.parquet(s"$out/properties").count()
    val acts = spark.read.parquet(s"$out/activities").count()
    println(f"[sliced] SLICED ASSEMBLY TOTAL $wall%8.1fs  " +
      f"spill=${spill / 1e6}%.1fMB shufW=${shufW / 1e6}%.1fMB")
    println(s"[sliced] rows: subs=$subs props=$props acts=$acts")
    println(s"[sliced] scratch at end: $freeGB")
    spark.stop()
  }
}
