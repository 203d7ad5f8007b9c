package graft
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
object Bench {

  /** Force FULL materialization of every output column — the honest
    * benchmark barrier. `df.count()` (the old forcing) lets Catalyst
    * prune aggregate values and then eliminate entire row-preserving
    * subtrees feeding only them (found on x22: a unique-key left join
    * whose whole dup-span pipeline vanished under count(), 0.4s
    * "measured" vs ~19s real; Spark 4's join elimination over
    * aggregate-unique keys makes this legal and silent). Hashing every
    * column into one xxhash64 and bit_xor-folding forces each output
    * row to be fully computed while returning one long — no pruning,
    * no driver-side result transfer, overflow-free (bit_xor, not sum —
    * ANSI mode errors on long-sum overflow). Map-typed columns (and
    * any type nesting a map) go through to_json first: hash() refuses
    * MapType because map iteration order is undefined — which is also
    * why the checksum VALUE is not compared across engines here; this
    * is a materialization barrier, not an oracle (verify_local.py is
    * the oracle).
    */
  def force(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, to_json, xxhash64}
    import org.apache.spark.sql.types._
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType => hasMap(a.elementType)
      case _ => false
    }
    val cols: Array[Column] = df.schema.fields.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val barrier = df.select(xxhash64(cols: _*).as("__h"))
      .agg(expr("bit_xor(__h)"))
    barrier.collect()
    // the frame that actually EXECUTED — its queryExecution carries the
    // AQE-final plan of the whole pipeline (plus the one-row hash agg),
    // which is what the plan dump should show
    barrier
  }

  /** SPARK_GRAFT_FORCE=count restores the pre-round-9 count() barrier
    * for apples-to-apples comparison against older artifacts.
    */
  private val forceMode = sys.env.getOrElse("SPARK_GRAFT_FORCE", "checksum")

  /** Returns the frame whose execution did the measuring: the barrier
    * frame in checksum mode (AQE-final plan of the full pipeline), the
    * original frame in count mode (its plan never executed — dump shows
    * the initial form).
    */
  private def run(df: DataFrame): DataFrame =
    if (forceMode == "count") { df.count(); df } else force(df)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus, "graft-bench")
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.quietGlobalWindowWarns(spark)
    // session warm-up (scheduler, codegen, shuffle service) so the first
    // measured query isn't charged Spark's init cost
    spark.range(1000000).selectExpr("sum(id)").collect()
    // Fixed CPU-bound calibration job (VERDICT r13 #4): its wall on a
    // calm machine is a constant, so recording it makes co-tenant-loaded
    // bench windows SELF-IDENTIFYING in the artifact — the r13 driver
    // map ran 1.6x slow with nothing in the JSON saying so. Sampled
    // before the cold pass and again after the last warm pass (load can
    // arrive mid-run); the JSON carries the per-sample walls and their
    // median. NEVER change this job's shape or size — round-over-round
    // marker comparison depends on it being the same work forever.
    def loadMarkerSample(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 256000000L, 1L, 32)
        .selectExpr("bit_xor(xxhash64(id))").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // Second, MEMORY-BANDWIDTH-bound calibration job (round-15 finding:
    // a co-tenant regime inflated every query ~1.29x uniformly while
    // the CPU marker stayed calm — a register-resident xxhash64 loop
    // cannot see memory-bus pressure). Fixed shape forever, like the
    // CPU marker: a 64M-long array (512 MB — far past any LLC) streamed
    // end-to-end by 8 fixed threads (NOT scaled to SPARK_GRAFT_CPUS —
    // the driver benches at several core counts and the two artifacts'
    // markers must be the same work), 4 passes per sample, xor-folded
    // so nothing elides. Both markers together make a loaded window
    // self-identifying in the artifact whichever resource the
    // co-tenant saturates.
    // ADVICE r15: the 512 MB array is allocated and initialized INSIDE
    // each sample, before t0 — the timed streaming work is unchanged
    // (the frozen-shape contract holds: same array size, same 8
    // threads/stride-8/4-pass scan), but the buffer is collectible
    // between samples instead of sitting reachable through every
    // measured pass and skewing GC/spill against pre-r15 artifacts.
    // (The same ADVICE's stride-layout suggestion — contiguous 64 MB
    // blocks per thread — is deliberately NOT taken: it changes the
    // sample's DRAM traffic and therefore its value, and the r15
    // driver artifacts already carry the stride-8 shape; breaking
    // cross-round marker comparability costs more than the determinism
    // it buys.)
    def memMarkerSample(): Double = {
      val memMarkerArr = {
        val a = new Array[Long](1 << 26)
        var i = 0
        while (i < a.length) { a(i) = i.toLong; i += 1 }
        a
      }
      val t0 = System.nanoTime()
      val threads = (0 until 8).map { t =>
        new Thread(() => {
          var pass = 0
          var acc = 0L
          while (pass < 4) {
            var i = t
            while (i < memMarkerArr.length) {
              acc ^= memMarkerArr(i); i += 8
            }
            pass += 1
          }
          if (acc == 42L) System.err.print("") // defeat dead-code elim
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    loadMarkerSample(): Unit // codegen/JIT warm-up for the marker itself
    memMarkerSample(): Unit
    val markerPre = (1 to 3).map(_ => loadMarkerSample())
    val memMarkerPre = (1 to 3).map(_ => memMarkerSample())
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    // Optional parallel artifact prewarm (VERDICT r13 #7): the cold
    // pass's dominant cost is a handful of INDEPENDENT cross-session
    // artifact/memo builders (the IVF-PQ chain, the brick, the window
    // index, the component stores) that the alphabetical pass
    // serializes; SPARK_GRAFT_PREWARM=<threads> executes the WHOLE
    // builder queries concurrently first (body + collect, not just
    // the artifact/memo construction — the prewarm wall therefore
    // includes some measured-query work; ADVICE r14) — SessionMemo's
    // in-flight futures already arbitrate concurrent builders, and
    // local-mode jobs from many threads just share the scheduler.
    // DEFAULT OFF: with it on, cold_queries measures a prewarmed
    // session (attribution moves to the one prewarm line), so
    // committed artifacts keep the per-query cold attribution.
    sys.env.get("SPARK_GRAFT_PREWARM").map(_.toInt).filter(_ >= 2)
      .foreach { n =>
        val builders = Seq("h12_incremental_brick", "ann11_ivf_pq",
          "ann12_residual_pq", "ann13_shortlist_rerank",
          "ann14_index_lifecycle", "x24_window_index_lifecycle",
          "x23_containment", "dd11_incremental_components",
          "dd12_semdedup", "dd3_minhash_lsh", "mm4_phash_near_dup",
          "a14_quantiles").filter(SparkEntry.queries.contains)
        val t0 = System.nanoTime()
        val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
        builders.foreach { q =>
          pool.execute(() =>
            try { run(SparkEntry.queries(q)(spark, sfDir)): Unit }
            catch { case e: Throwable => System.err.println(
              s"[bench] WARN prewarm $q failed: ${e.getMessage}") })
        }
        pool.shutdown()
        pool.awaitTermination(30, java.util.concurrent.TimeUnit.MINUTES): Unit
        System.err.println(f"[bench] prewarm ${builders.size} builders " +
          f"on $n threads: ${(System.nanoTime() - t0) / 1e9}%.1fs")
      }
    // Pass 0 (unmeasured cold pass): materializes the shared memoized
    // frames (brick, shingles), fills codegen/JIT caches. Then N measured
    // warm passes; the reported per-query number is the MEDIAN across
    // passes — a single pass is hostage to co-tenant load bursts (the r3
    // driver run showed contiguous alphabetical spans at 3-12x their
    // calm-machine cost while interleaved neighbors were unaffected; a
    // per-query median across spaced passes suppresses exactly that).
    val coldT0 = System.nanoTime()
    val coldTimes = ordered.map { case (name, fn) =>
      // errors stay non-fatal (the driver wants the whole surface timed)
      // but NEVER silent — a failed query otherwise masquerades as a
      // fast one
      val t0 = System.nanoTime()
      try { run(fn(spark, sfDir)) } catch { case e: Throwable =>
        System.err.println(s"[bench] WARN cold $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    val coldTotal = (System.nanoTime() - coldT0) / 1e9
    val warmPasses =
      sys.env.get("SPARK_GRAFT_WARM_PASSES").map(_.toInt).getOrElse(3)
    // last pass keeps each query's executed frame so the optional plan
    // dump reflects the FINAL AQE plan of a run that actually executed
    var lastFrames = Map.empty[String, DataFrame]
    val passes: Seq[Map[String, Double]] = (1 to warmPasses).map { p =>
      ordered.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val df = try {
          Some(run(fn(spark, sfDir)))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] WARN $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
        }
        if (p == warmPasses && df.isDefined)
          lastFrames += (name -> df.get)
        name -> (System.nanoTime() - t0) / 1e9
      }.toMap
    }
    val markerPost = (1 to 3).map(_ => loadMarkerSample())
    val memMarkerPost = (1 to 3).map(_ => memMarkerSample())
    // Per-query fixed-overhead floor (VERDICT r15 #7): at sf0.1 the
    // suite is overhead-bound (129.2s @ 32 cores ≈ 129.9s @ 8 in the
    // r15 driver runs), so a low-core scaling probe sees nothing. This
    // publishes the attribution: the wall of a TRIVIAL one-row query
    // through the same checksum barrier as every measured query —
    // fresh plan + analysis + codegen + one task + collect — i.e. the
    // floor each of the 206 queries pays regardless of data or core
    // count. Subtract it 206× before reading core-count scaling.
    def overheadSample(): Double = {
      val t0 = System.nanoTime()
      run(spark.range(1).selectExpr("id AS v")): Unit
      (System.nanoTime() - t0) / 1e9
    }
    overheadSample(): Unit // warm the barrier codegen path once
    val overheadSamples = (1 to 5).map(_ => overheadSample())
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) -1.0
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val results = ordered.map { case (name, _) =>
      name -> median(passes.map(_(name)))
    }
    // Optional plan dump (SPARK_GRAFT_PLANS=<dir>): one formatted
    // physical plan per query, captured from the frames the LAST warm
    // pass executed — so AQE shows its final re-planned form and the
    // dump itself runs nothing (it previously ran a near-full extra
    // execution between the cold and measured passes).
    sys.env.get("SPARK_GRAFT_PLANS").foreach { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      lastFrames.foreach { case (name, df) =>
        try {
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, s"$name.txt"),
            plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        } catch { case _: Throwable => () }
      }
    }
    // Artifact split (round-4 lesson: the driver keeps only a ~4 KB TAIL
    // of stdout, and the 176-query map is ~5.5 KB — half the per-query
    // numbers were lost to truncation and the line never parsed):
    //   - the FULL per-query JSON is written to BENCH_LATEST.json in the
    //     working directory (the repo root under the driver), where the
    //     end-of-round commit preserves it whole for round-over-round
    //     comparison;
    //   - stdout gets ONE compact line (summary + the 10 slowest queries
    //     + a pointer to the file) that fits the tail window and parses.
    // Locale.ROOT: the f-interpolator uses the default locale, and a
    // comma-decimal locale would corrupt the JSON
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    // per-query COLD times (pass 0, memo/artifact builds included) —
    // the attribution data for the cross-session artifact work: a
    // query whose cold time collapses on a second same-machine run is
    // riding a reused ArtifactStore dir instead of rebuilding
    val coldQs = coldTimes.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val passTotals = passes.map(p => f3(p.values.sum)).mkString("[", ",", "]")
    val markerAll = markerPre ++ markerPost
    val markerMed = median(markerAll)
    val markerJson = markerAll.map(f3).mkString("[", ",", "]")
    val memAll = memMarkerPre ++ memMarkerPost
    val memMed = median(memAll)
    val memJson = memAll.map(f3).mkString("[", ",", "]")
    val passVals = passes.map(_.values.sum)
    val passSpread =
      if (passVals.nonEmpty && passVals.min > 0) passVals.max / passVals.min
      else 1.0
    val overheadFloor = median(overheadSamples)
    val fullJson =
      s"""{"queries":$qs,"cold_queries":$coldQs,"n_queries":${results.size},"cold_total_sec":${f3(coldTotal)},"warm_passes":$warmPasses,"pass_totals_sec":$passTotals,"pass_spread_ratio":${f3(passSpread)},"load_marker_sec":${f3(markerMed)},"load_marker_samples":$markerJson,"load_marker_mem_sec":${f3(memMed)},"load_marker_mem_samples":$memJson,"overhead_floor_sec":${f3(overheadFloor)},"sf":"$sfDir","metric":"total","unit":"sec","value":${f3(total)}}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_LATEST.json"), fullJson + "\n")
    catch { case _: Throwable => () }
    val top10 = results.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    // VERDICT r15 #1 wants the per-query map back in the stdout line so
    // the driver's compare populates. The hard constraint: the driver
    // retains only a ~2000-char stdout TAIL (every BENCH_rNN wrapper
    // r4-r15 carries exactly 2000 chars), and rounds 4-5 — where the
    // full map DID ride the line — are the measured proof it overflows:
    // both parsed:null, the whole bench lost to truncation. The full
    // 206-query map is ~5.2 KB and cannot fit whole; names dominate, so
    // no precision trick closes the gap. Compromise, additions-only:
    // "queries" carries the LARGEST slowest-first prefix of the map
    // that keeps the whole line under 1850 chars (~40 queries — every
    // query the 1.5×/0.2s regression gate can flag is in it; the
    // omitted tail is the sub-0.4s mass whose absolute deltas sit
    // under the gate's floor), "queries_omitted" counts the rest, and
    // BENCH_LATEST.json keeps the whole map as before.
    val lineNoQueries =
      s"""{"n_queries":${results.size},"cold_total_sec":${f3(coldTotal)},"warm_passes":$warmPasses,"pass_totals_sec":$passTotals,"pass_spread_ratio":${f3(passSpread)},"load_marker_sec":${f3(markerMed)},"load_marker_mem_sec":${f3(memMed)},"overhead_floor_sec":${f3(overheadFloor)},"slowest10":$top10,"queries":{},"queries_omitted":000,"queries_file":"BENCH_LATEST.json","sf":"$sfDir","metric":"total","unit":"sec","value":${f3(total)}}"""
    val budget = 1850 - lineNoQueries.length
    val entries = results.sortBy(-_._2)
      .map { case (k, v) => "\"" + k + "\":" + f3(v) }
    val keep = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 0
    var full = false // strict prefix: stop at the first entry that
    entries.foreach { e => // doesn't fit, so "queries" = the N slowest
      if (!full && used + e.length + 1 <= budget) {
        keep += e; used += e.length + 1
      } else full = true
    }
    val inlineQs = keep.mkString("{", ",", "}")
    val omitted = results.size - keep.size
    println(s"""{"n_queries":${results.size},"cold_total_sec":${f3(coldTotal)},"warm_passes":$warmPasses,"pass_totals_sec":$passTotals,"pass_spread_ratio":${f3(passSpread)},"load_marker_sec":${f3(markerMed)},"load_marker_mem_sec":${f3(memMed)},"overhead_floor_sec":${f3(overheadFloor)},"slowest10":$top10,"queries":$inlineQs,"queries_omitted":$omitted,"queries_file":"BENCH_LATEST.json","sf":"$sfDir","metric":"total","unit":"sec","value":${f3(total)}}""")
    spark.stop()
  }
}
