package graft.harmonize

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.chem.StructureConverter
import graft.functions.CanonicalJson.canonicalizeJson
import graft.sources.SourceAdapter

/** The harmonize job — the reference's core pipeline
  * (ref: src/80_harmonize.py:20-108; SURVEY §3.1) re-expressed as one
  * declarative Spark plan:
  *
  *   union staging triplets (+source) → canonicalize data → re-key
  *   sid/pid as md5(canonical data) → re-key activities through the
  *   (source, old-id) → new-id maps → smiles enrichment via distinct
  *   inchi (py:72-73) → binary_value (py:68) →
  *   aid = md5(sid|pid|inchi|value) (py:83) → distinct.
  *
  * Scale notes (100 TB posture):
  *   - The id maps are joined on (source, old-id) WITHOUT a broadcast
  *     hint: at reference scale substances is 17 GB — AQE broadcasts the
  *     map only when it is actually small, otherwise both sides hash-
  *     partition on the composite key (the reference does the same two
  *     joins, src/80_harmonize.py:76-78).
  *   - canonicalize runs as an in-JVM Scala UDF only on the `data` column
  *     of the two small tables (substances/properties), never on the
  *     activities fact table; the reference pays a Python-worker pickle
  *     boundary per row here.
  *   - `distinct()` on the fact table shuffles on the full row hash — it
  *     is applied after projecting to the final narrow schema.
  */
object Harmonize {

  case class Brick(substances: DataFrame, properties: DataFrame,
      activities: DataFrame)

  /** Session-scoped memo of the brick per (session, sfDir, adapters):
    * Verify/Bench run every query in one session and six queries read the
    * brick — materializing the three tables once (the
    * explicit-materialization stance of the reference's staging cache,
    * SURVEY §4 "Materialization") removes five rebuilds. Results are
    * unchanged: the checkpoint only stores the deterministic plan output.
    *
    * localCheckpoint, not persist: the eight-source union's analyzed
    * lineage is ~900 plan nodes, and a persisted DataFrame KEEPS that
    * lineage — every downstream action then pays cache-lookup
    * canonicalization and re-optimization over the whole tree (measured:
    * h5's two-aggregate join ran 9-19 s on fully-hot caches at sf0.1,
    * pure planning overhead). Checkpointing truncates the lineage to a
    * scanned leaf, which is also the 100 TB posture: a brick this
    * expensive is written to storage once and every consumer reads the
    * artifact, not the recipe.
    */
  private val memo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String),
    java.util.concurrent.CompletableFuture[Brick]]

  /** Evict this session's cached bricks (frees the checkpoint blocks);
    * the next cachedBrick call rebuilds bit-identically. Registered with
    * MemoRegistry for the one-call evict-everything path. In-flight
    * builds (pending futures) are left in place: removing one would
    * orphan the checkpoint blocks its builder is about to create — the
    * next evict call collects it once complete.
    */
  def evict(spark: SparkSession): Unit = {
    val it = memo.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if ((e.getKey._1 eq spark) && e.getValue.isDone &&
          !e.getValue.isCompletedExceptionally) {
        it.remove()
        val b = e.getValue.join()
        Seq(b.substances, b.properties, b.activities)
          .foreach(graft.MemoRegistry.release)
      }
    }
  }

  graft.MemoRegistry.register(evict)

  def cachedBrick(spark: SparkSession, sfDir: String,
      adapters: Seq[SourceAdapter],
      converter: StructureConverter = StructureConverter.Stub): Brick = {
    // identity hash, not class name: two differently-configured
    // instances of the same converter class must not share a brick
    val key = (spark, sfDir,
      adapters.map(_.name).mkString(",") + "/" +
        converter.getClass.getName + "@" +
        System.identityHashCode(converter))
    // Per-key future, not a global lock: a brick build runs tens of
    // seconds at sf0.1, and holding one monitor across it would
    // serialize every unrelated session/key (and eviction) behind it.
    // putIfAbsent elects one builder per key; losers block on that
    // key's future only.
    val fresh = new java.util.concurrent.CompletableFuture[Brick]()
    val prior = memo.putIfAbsent(key, fresh)
    if (prior != null) prior.join()
    else try {
      val out =
        // CROSS-SESSION brick (VERDICT r10 #4): with the default stub
        // converter — the only converter whose output is a pure
        // function of the input files — the three tables live in a
        // content-keyed ArtifactStore dir, so a second JVM on this
        // machine READS the brick instead of re-staging 14 sources and
        // re-assembling (the single largest block of the cold pass). A
        // custom converter is an opaque instance the key cannot
        // fingerprint; those builds stay session-local.
        if ((converter eq StructureConverter.Stub) &&
            graft.ArtifactStore.enabled(spark) &&
            graft.ArtifactStore.hostableInput(spark, sfDir)) {
          // VERDICT r14 #2 / r15 #5: the brick's one stored layout is
          // BUCKETED files (activities and substances bucketed+sorted
          // on sid, properties on pid), written straight by the build —
          // one write of the fact table — and read back as bucketed
          // catalog tables, so every sid/pid-keyed aggregate or join
          // over the brick starts from the key's partitioning and
          // elides its fact-side exchange (the BucketedBrickProbe
          // receipt, 3.5× at 156M rows). v2 of the recipe writes ONE
          // file per bucket per slice (guide §6 small files: v1 left
          // ~94 task-files per bucket). `spark.graft.assembly.slices`
          // only changes how many adapter slices the build deals.
          val names = adapters.map(_.name).mkString(",")
          val buckets = spark.conf.getOption(BrickBucketsKey)
            .map(_.toInt).getOrElse(32)
          val bkey = graft.ArtifactStore.dirKey(spark, sfDir,
            s"brickb-v2-$buckets-" + names)
          val slices = spark.conf.getOption(SlicesKey)
            .map(_.trim.toInt).getOrElse(1)
          val bdir = graft.ArtifactStore.ensure(spark, "brickb", bkey) {
            tmp =>
              buildBrickBucketedTo(spark, sfDir,
                sliceAdapters(adapters, slices), converter, tmp, buckets)
          }
          val b = graft.sources.Catalog.registerBrickBucketedFiles(
            spark, bdir, buckets)
          // read-back frames get the same serialized-block residency
          // the checkpointed build had, so warm consumers are
          // unchanged; the persist KEEPS the bucketed partitioning
          // (InMemoryRelation reports the cached scan's partitioning —
          // BrickLayoutSpec pins it)
          def pr(df: DataFrame) = df.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
          Brick(pr(b.substances), pr(b.properties), pr(b.activities))
        } else buildBrick(spark, sfDir, adapters, converter)
      fresh.complete(out)
      out
    } catch {
      case e: Throwable =>
        // a failed build must not poison the key: drop the entry so the
        // next caller retries, and wake anyone already waiting
        memo.remove(key, fresh)
        fresh.completeExceptionally(e)
        throw e
    }
  }

  /** Scale the assembly's FIRST-SHOT reducer count with the STAGED
    * data size (VERDICT r10 #7 — the automatic posture replacing the
    * SPARK_GRAFT_SHUFFLE probe knob): the fourth-decade profile showed
    * the session default (= cores) under-partitions once per-partition
    * aggregate state outgrows execution memory — 210 GB of spill at 32
    * partitions, collapsing 23× at 256. The lever is AQE's
    * `initialPartitionNum`: shuffles START wide (one partition per
    * ~16 MB of staged-table bytes ≈ 64 MB of in-flight UnsafeRows at
    * the staged tables' measured ~4× decode expansion — md5 hex +
    * canonical-JSON strings) and AQE coalesces small ones back down,
    * so gate-scale runs plan exactly as before (the floor) while a
    * 100× corpus gets hundreds-to-thousands of first-shot reducers
    * with NO manual knob — "partitions scale with data, cores per
    * executor stay fixed", the cluster posture, made the default.
    *
    * Basis: [[stagedBytes]] — Catalyst's sizeInBytes of the staged
    * TRIPLETS (parquet store dirs or cached blocks), not the raw
    * source dir: staging pipelines amplify their input (the sf10
    * stretch is 0.9 GB of compressed source parquet but >100 GB of
    * assembly shuffle mass), so raw-input bytes under-scale by two
    * orders of magnitude. The conf is restored after the build (every
    * materialization in the block is eager); a concurrent query seeing
    * the wider value mid-build merely starts wider and AQE-coalesces.
    */
  private[graft] def withScaledInitialPartitions[T](spark: SparkSession,
      stagedSize: Long)(f: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val cur = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val n = math.min(4096L,
      math.max(cur.toLong, stagedSize / (16L << 20))).toInt
    if (n <= cur) f
    else {
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, n.toString)
      try f finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  /** Conf: thread count for concurrent adapter staging inside the brick
    * builds (guide §2.6 — the 13-14 stagings are INDEPENDENT multi-job
    * pipelines that the pre-r16 sequential map serialized, leaving the
    * scheduler idle through every staging's single-task tail stages;
    * jobs submitted from a small pool back-fill those tails). Default 4
    * — enough in-flight jobs to fill stage tails without thrashing the
    * scheduler, at ANY core count (the pool bounds concurrent JOBS, not
    * tasks; each job still fans out to every core). 1 restores the
    * sequential behavior.
    */
  val StageThreadsKey = "spark.graft.staging.threads"

  /** Stage `adapters` through the session memo, submitting independent
    * stagings from a bounded pool so their jobs overlap (§2.6). Memo
    * arbitration is unchanged — cachedStaging's per-key in-flight
    * futures elect one builder per adapter — and the returned order is
    * the input order, so every downstream union is byte-identical to
    * the sequential build.
    */
  private def stageAll(spark: SparkSession, sfDir: String,
      adapters: Seq[SourceAdapter])
      : Seq[(String, graft.sources.StagingTriplet)] = {
    val n = math.min(spark.conf.getOption(StageThreadsKey)
      .map(_.toInt).getOrElse(4), adapters.size)
    if (n <= 1)
      adapters.map(a => a.name -> SourceAdapter.cachedStaging(a, spark, sfDir))
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
      try {
        val futs = adapters.map { a =>
          a.name -> pool.submit(new java.util.concurrent.Callable[
            graft.sources.StagingTriplet] {
            def call(): graft.sources.StagingTriplet =
              SourceAdapter.cachedStaging(a, spark, sfDir)
          })
        }
        futs.map { case (name, f) =>
          name -> (try f.get()
          catch { // surface the builder's own failure, not the wrapper
            case e: java.util.concurrent.ExecutionException =>
              throw e.getCause
          })
        }
      } finally pool.shutdown()
    }
  }

  /** Catalyst-estimated bytes of a staged triplet set — planner-side
    * only (file-scan statistics or cached-block sizes), no job.
    */
  private[graft] def stagedBytes(
      staged: Seq[(String, graft.sources.StagingTriplet)]): Long =
    staged.flatMap { case (_, t) =>
      Seq(t.substances, t.properties, t.activities)
    }.map { df =>
      df.queryExecution.optimizedPlan.stats.sizeInBytes
        .min(BigInt(Long.MaxValue)).toLong
    }.foldLeft(0L)((a, b) => if (a + b < a) Long.MaxValue else a + b)

  /** The checkpointed in-memory assembly — cachedBrick's session-local
    * route (store disabled, input over the hosting size gate, or a
    * custom converter); hosted bricks go through [[buildBrickBucketedTo]].
    *
    * Shared-scan assembly: the canonicalize+md5 staging unions are
    * each consumed twice (substances + sidMap, properties + pidMap,
    * activities-union + inchiMap), so checkpointing the three final
    * tables separately executed every staging union — and the
    * canonicalize UDF — twice. Materializing the intermediates once
    * makes the three table checkpoints cheap projections of shared
    * scans (BrickProfile: assembly 30.8s → ~17s at sf0.1).
    * checkpointLarge (serialized blocks) for the staging unions and
    * the three tables: these are the fact-scale frames whose
    * deserialized footprint starved the assembly's aggregation into
    * spill at the 10× stretch (see MemoRegistry.checkpointLarge).
    */
  private def buildBrick(spark: SparkSession, sfDir: String,
      adapters: Seq[SourceAdapter], converter: StructureConverter): Brick = {
    val inter = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val staged = stageAll(spark, sfDir, adapters)
    // the staging-union checkpoints only serve the assembly; the three
    // final tables carry their own blocks, so free the intermediates as
    // soon as the assembly finishes — in a finally, so a failed final
    // checkpoint doesn't leave them pinned for the session (ADVICE r12)
    try withScaledInitialPartitions(spark, stagedBytes(staged)) {
      val b = brickFromStaged(staged, converter,
        materialize = { df =>
          val c = graft.MemoRegistry.checkpointLarge(df); inter += c; c })
      Brick(graft.MemoRegistry.checkpointLarge(b.substances),
        graft.MemoRegistry.checkpointLarge(b.properties),
        graft.MemoRegistry.checkpointLarge(b.activities))
    } finally inter.foreach(graft.MemoRegistry.release)
  }

  /** Conf: adapter-slice count for the hosted brick build
    * ([[buildBrickBucketedTo]]). Default 1 — the one-shot build; every
    * gate-scale plan is unchanged unless a deployment opts in.
    */
  val SlicesKey = "spark.graft.assembly.slices"

  /** Conf: bucket count for the hosted brick's catalog layout. Default
    * 32 (= the local core count, so gate-scale scans keep full
    * parallelism); a cluster sizes it so each bucket's activities
    * slice fits an executor — the writeBrickBucketedFiles guidance.
    */
  val BrickBucketsKey = "spark.graft.brick.buckets"

  /** Deal `adapters` into `k` slices round-robin (adjacent heavy
    * sources land in different slices); order within a slice follows
    * the input order. k is clamped to [1, adapters.size].
    */
  def sliceAdapters(adapters: Seq[SourceAdapter],
      k: Int): Seq[Seq[SourceAdapter]] = {
    val n = math.max(1, math.min(k, adapters.size))
    (0 until n).map(i =>
      adapters.zipWithIndex.collect { case (a, j) if j % n == i => a })
  }

  /** The one function that writes a brick dir: assemble the brick
    * from `slices` (disjoint adapter sets, see [[sliceAdapters]]) and
    * stream each slice's three final tables straight into the bucketed
    * layout under `dir` ([[graft.sources.Catalog.writeBrickBucketedFiles]]).
    * Only the staging unions (each consumed twice: table + id map, or
    * re-key chain + inchi scan) are materialized; each final-table
    * write projects them once, so the fact table crosses the disk once
    * — no checkpoint copy (VERDICT r11 #2: at the sf10 stretch that
    * copy was the scratch spender that kept the assembly from
    * completing). The bucketing exchange per table replaces no
    * assembly exchange: the collapse output is partitioned on inchi,
    * never on sid.
    *
    * The one-shot build is the ONE-slice case. More slices bound peak
    * scratch (VERDICT r14 #1): the brick is built one adapter-slice at
    * a time, and between slices the staged handoffs and shuffle files
    * are reclaimed. Peak concurrent scratch drops from the sum over all
    * sources (staged handoffs + the whole union's precollapse shuffle —
    * the ~135 GB that ended the fifth-decade one-shot probe in a kernel
    * OOM, BENCH_LOCAL r14) to the max over slices, plus the growing
    * output dir, which is the product, not scratch. Total work is
    * unchanged; only the CONCURRENCY of scratch is bounded.
    *
    * The slices' appended union is BIT-IDENTICAL to the one-shot brick
    * (HarmonizeSpec pins it) because the brick is per-SOURCE
    * decomposable and slices are whole-adapter partitions:
    *   - substances/properties rows carry `source` and their distinct
    *     keys include it, so per-slice distinct ∪ per-slice distinct
    *     IS the global distinct — no group crosses slices;
    *   - both re-key joins are on (source, old-id): every activities
    *     row joins only its OWN source's id maps, which live in its
    *     slice;
    *   - the activities collapse key (source, new_sid, new_pid, inchi,
    *     value) contains `source`, so min(numvalue) groups are
    *     slice-confined too — the appended union is already fully
    *     collapsed, unlike [[merge]]'s input, whose units may SPLIT a
    *     source and therefore must re-collapse;
    *   - smiles = converter(inchi) is a pure function: a structure
    *     shared by two slices converts once per slice to the same
    *     value.
    *
    * Scratch lifecycle of a multi-slice build, per slice: stage
    * (handoff S) → materialize the three staging unions (checkpoints
    * U; peak S+U) → EVICT the staged handoffs (dead once the unions
    * exist; the memo rebuilds them bit-identically if later queries
    * re-stage — a one-slice build keeps them, because h-family
    * consumers share the session memo) → append the three tables
    * (join/collapse shuffles W; peak U+W) → release U, GC so
    * ContextCleaner reclaims W. Each slice's first-shot reducer width
    * scales with ITS staged bytes. `instrument` receives one line per
    * finished slice (SlicedAssemblyProbe's per-slice receipts).
    */
  def buildBrickBucketedTo(spark: SparkSession, sfDir: String,
      slices: Seq[Seq[SourceAdapter]], converter: StructureConverter,
      dir: String, buckets: Int,
      instrument: String => Unit = _ => ()): Unit = {
    require(slices.nonEmpty && slices.forall(_.nonEmpty),
      "brick assembly needs at least one non-empty adapter slice")
    val names = slices.flatten.map(_.name)
    require(names.distinct.size == names.size,
      s"adapter slices must be disjoint (source is the decomposition " +
        s"key): ${names.mkString(",")}")
    val sliced = slices.size > 1
    graft.sources.Catalog.writeBrickBucketedFiles(spark, dir, buckets) {
      append =>
        slices.zipWithIndex.foreach { case (sl, i) =>
          val t0 = System.nanoTime()
          val inter = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
          // finally: if a write dies (ENOSPC), the staging-union
          // checkpoints must not stay resident and starve the retry
          // (ADVICE r12)
          try {
            val staged = stageAll(spark, sfDir, sl)
            withScaledInitialPartitions(spark, stagedBytes(staged)) {
              val b = brickFromStaged(staged, converter,
                materialize = { df =>
                  val c = graft.MemoRegistry.checkpointLarge(df)
                  inter += c; c
                })
              if (sliced) {
                SourceAdapter.evict(spark)
                reclaimShuffles(spark)
              }
              append(b)
            }
          } finally {
            inter.foreach(graft.MemoRegistry.release)
            if (sliced) reclaimShuffles(spark)
          }
          instrument(f"slice ${i + 1}/${slices.size} " +
            f"[${sl.map(_.name).mkString(",")}] " +
            f"${(System.nanoTime() - t0) / 1e9}%.1fs")
        }
    }
  }

  /** Shuffle files are reclaimed by ContextCleaner only after the GC
    * proves their dependencies unreachable, and the deletes are async —
    * a GC pass plus a short bounded wait lets a slice's shuffle mass
    * actually leave the scratch disk before the next slice starts
    * writing to it. (Same pattern AssemblyProfile validated under
    * SPARK_GRAFT_EVICT_STAGED; on a cluster this is the executors'
    * shuffle-file GC, which needs no hint.) The wait is conf-able so
    * gate-scale specs, whose slices carry kilobytes, can skip it.
    */
  val ReclaimMsKey = "spark.graft.assembly.reclaimMs"
  private def reclaimShuffles(spark: SparkSession): Unit = {
    System.gc()
    Thread.sleep(
      spark.conf.getOption(ReclaimMsKey).map(_.toLong).getOrElse(3000L))
  }

  def brick(spark: SparkSession, sfDir: String,
      adapters: Seq[SourceAdapter],
      converter: StructureConverter = StructureConverter.Stub): Brick =
    brickFromStaged(
      adapters.map(a =>
        a.name -> graft.sources.SourceAdapter.cachedStaging(a, spark, sfDir)),
      converter)

  /** The harmonize transformation over already-staged triplets — the
    * adapter-independent core. Besides the batch path above, this is the
    * micro-batch unit for STREAMING ingestion: a foreachBatch sink can
    * harmonize each arriving staging slice and `merge` it into the
    * accumulated brick; content-addressed ids make the result
    * bit-identical to a one-shot batch build regardless of how rows
    * were batched (HarmonizeStreamSpec proves it).
    *
    * `materialize` is applied to each frame the assembly consumes more
    * than once (the three staging unions): identity for the pure
    * declarative plan (streaming micro-batches), `_.localCheckpoint()`
    * for the memoized batch build where re-executing the canonicalize
    * scan per consumer would double the work. Output is identical
    * either way — the hook only pins WHERE the shared subplan runs.
    */
  def brickFromStaged(staged: Seq[(String, graft.sources.StagingTriplet)],
      converter: StructureConverter = StructureConverter.Stub,
      materialize: DataFrame => DataFrame = identity): Brick = {

    def unionWithSource(pick: graft.sources.StagingTriplet => DataFrame)
        : DataFrame =
      staged.map { case (n, t) => pick(t).withColumn("source", lit(n)) }
        .reduce(_ unionByName _)

    // substances: canonicalize + content-hash re-key (py:33-43)
    val subsStaging = materialize(unionWithSource(_.substances)
      .withColumn("data", canonicalizeJson(col("data")))
      .withColumn("new_sid", md5(col("data"))))
    val substances = subsStaging
      .select(col("new_sid").as("sid"), col("source"), col("data"))
      .distinct()
    val sidMap = subsStaging
      .select(col("source"), col("sid").as("old_sid"), col("new_sid"))
      .distinct()

    // properties: same (py:48-58)
    val propsStaging = materialize(unionWithSource(_.properties)
      .withColumn("data", canonicalizeJson(col("data")))
      .withColumn("new_pid", md5(col("data"))))
    val properties = propsStaging
      .select(col("new_pid").as("pid"), col("source"), col("data"))
      .distinct()
    val pidMap = propsStaging
      .select(col("source"), col("pid").as("old_pid"), col("new_pid"))
      .distinct()

    // activities: composite-key re-key joins (py:76-78). The union is
    // consumed twice (re-key chain + the distinct-inchi scan below).
    //
    // PRE-COLLAPSE below the joins, INSIDE the materialization: a
    // wide-assay source (bindingdb shape) stages many measurements per
    // (sid, pid, value) — 6.8× at the testdata — and every duplicate
    // would otherwise be checkpointed raw and ride through BOTH id-map
    // shuffle joins only to be collapsed at the end. Grouping on the
    // OLD ids first is a pure refinement of the final collapse (the
    // old→new mapping is per-(source, old-id) functional, so groups
    // can only merge downstream and min-of-min = min): bit-identical
    // output, with the checkpoint, both join shuffles, AND the
    // distinct-inchi scan carrying the collapsed row count instead of
    // the raw staging count (the collapse preserves the inchi set).
    // This is the partial-aggregation-below-join pushdown Catalyst
    // can't infer across the union + join + hash re-key chain.
    val actsStaging = materialize(unionWithSource(_.activities)
      .groupBy(col("source"), col("sid"), col("pid"), col("inchi"),
        col("value"))
      .agg(min(col("numvalue")).as("numvalue")))
    // SHUFFLE_HASH on the id-map sides (VERDICT r12 #4): the default
    // sort-merge plan sorts the FACT side once per re-key join — at the
    // fourth decade that sort residency was the assembly's one
    // remaining spill (7.5 GB, BENCH_LOCAL r12; the id maps are the
    // smaller sides by 5-45×). With the maps as shuffled-hash build
    // sides the fact stream never sorts: per task the build partition
    // is map_bytes/width (~5 MB at the sf10 stretch), the probe-side
    // activities rows stream through. Output is bit-identical — join
    // strategy doesn't change join semantics — and the same argument
    // holds at cluster scale: the dimension tables grow with distinct
    // substances/properties, the fact table with measurements, and the
    // auto width grows partitions with the data, so the per-task build
    // stays bounded.
    val rekeyed = actsStaging
      .withColumnRenamed("sid", "old_sid")
      .withColumnRenamed("pid", "old_pid")
      .join(sidMap.hint("shuffle_hash"), Seq("source", "old_sid"))
      .join(pidMap.hint("shuffle_hash"), Seq("source", "old_pid"))

    // D2 smiles enrichment, the reference's distinct-inchi → convert →
    // join-back step (py:72-73): the converter (an expensive chemistry
    // call in the real impl) runs once per DISTINCT structure, and the
    // result joins back to the fact rows. The distinct scan reads the
    // cheap PRE-join staging union (the reference's own shape, distinct
    // over staging) — not the re-keyed frame, which would drag the
    // sid/pid map joins under this branch too. No broadcast hint — the
    // distinct-structure set is substance-sized (17 GB at reference
    // scale), so AQE broadcasts only when it is actually small.
    val inchiMap = actsStaging.select(col("inchi"))
      .distinct()
      .withColumn("smiles", converter.inchiToSmilesCol(col("inchi")))

    // binary_value mapping (py:68) + content-hash aid over
    // (sid, pid, inchi, value) (py:83) + final dedup (py:84). The
    // reference's `.distinct()` runs on a frame WITHOUT numvalue (py:67
    // drops it), so repeated measurements of one (sid, pid, inchi, value)
    // — e.g. a bindingdb-shaped source reporting the same assay many
    // times — collapse to ONE row per aid. Because this engine retains
    // numvalue (README.md:24/37 gap), the faithful generalization is a
    // deterministic collapse: group by every reference column and keep
    // min(numvalue). Same shuffle shape as distinct (hash on the same
    // keys), identical output where staging already has one row per
    // (sid, pid, value), and aid stays unique (DataQuality.aid_unique).
    // same sort-elision as the re-key joins: the distinct-structure map
    // is substance-sized, the fact side must not sort on inchi
    // THE collapse (VERDICT r13 #1), narrow-keyed, on ONE shared inchi
    // exchange. Grouping on (source, new_sid, new_pid, inchi, value)
    // is the SAME partition of rows as the old wide-key
    // collapseActivities — aid = md5(new_sid|new_pid|inchi|value),
    // binary_value = f(value), smiles = f(inchi) (inchiMap is
    // distinct-per-inchi) are all FUNCTIONS of this key, so min-of-min
    // = min keeps the output bit-identical, and the wide columns are
    // attached AFTER the collapse (aid/binary_value computed per
    // group; smiles via the inchi join, which now streams collapsed
    // rows). The explicit repartition(inchi) is what makes the plan
    // right: hashpartitioning(inchi) satisfies BOTH the group key
    // (inchi ⊆ keys → the agg adds no exchange) and the join key (the
    // fact side of the SHJ adds no exchange), so the fact table still
    // crosses exactly three exchanges — two re-keys + this one — same
    // as before the restructure, while the aggregate's hash map holds
    // five narrow columns + one double instead of the aid/smiles
    // strings that made it the last spill site. Two rejected shapes,
    // both measured: collapsing BETWEEN the re-key joins needs its own
    // fact exchange (+9.9 GB shuffle-write at sf10, spill 1.25 GB);
    // collapsing after the join with smiles in a max() buffer plans a
    // SortAggregate (immutable string buffer → hash fallback) — a
    // corpus-wide sort, the exact residency the SHJ hints removed.
    val activities = rekeyed
      .repartition(col("inchi"))
      .groupBy(col("source"), col("new_sid"), col("new_pid"),
        col("inchi"), col("value"))
      .agg(min(col("numvalue")).as("numvalue"))
      .join(inchiMap.hint("shuffle_hash"), Seq("inchi"), "left")
      .withColumn("binary_value",
        when(col("value") === "positive", 1).otherwise(0))
      .withColumn("aid",
        md5(concat_ws("|", col("new_sid"), col("new_pid"), col("inchi"),
          col("value"))))
      .select(col("aid"), col("new_sid").as("sid"), col("new_pid").as("pid"),
        col("source"), col("inchi"), col("smiles"), col("value"),
        col("binary_value"), col("numvalue"))

    // no collapseActivities here: the narrow collapse above already
    // produced exactly one row per (aid, sid, pid, source, inchi,
    // smiles, value, binary_value) group — every wide column is a
    // function of the collapse key, so the final aggregate would
    // shuffle 156M wide rows at sf10 to reduce nothing
    Brick(substances, properties, activities)
  }

  /** The one deterministic collapse of the activities fact table: one
    * row per reference-visible key, numvalue = min over the group. The
    * one-shot build applies the SAME reduction via its narrow
    * (source, new_sid, new_pid, inchi, value) form — a bijective
    * re-labeling of this key (aid/smiles/binary_value are functions of
    * it), collapsed before the wide columns exist; `merge` must apply
    * it on the wide brick rows it receives. distinct() does not commute
    * with it (two merge units each emitting their own group min would
    * leave two aid rows after distinct), so merge re-collapses and the
    * min-of-mins equals the global min.
    */
  private def collapseActivities(df: DataFrame): DataFrame =
    df.groupBy("aid", "sid", "pid", "source", "inchi", "smiles", "value",
        "binary_value")
      .agg(min(col("numvalue")).as("numvalue"))

  /** Incremental harmonize: fold newly-staged sources into an existing
    * brick. Because every id is a content hash (sid/pid =
    * md5(canonical data), aid = md5(sid|pid|inchi|value)), merging is plain
    * set union + distinct — no id reconciliation, no rewrite of
    * existing rows — and the result is BIT-IDENTICAL to rebuilding from
    * all sources at once (HarmonizeSpec proves it). This is the scale
    * story for the reference's rerun-from-scratch DVC pipeline: adding
    * source N+1 to a 43 GB brick touches only the new source's rows
    * plus one distinct/collapse per table.
    *
    * Activities use `collapseActivities`, NOT distinct: the one-shot
    * build keeps min(numvalue) per (aid,…) group, and if rows of one
    * group arrive in different merge units (a row-wise-streamed
    * bindingdb-shaped source), each unit's brick carries its own local
    * min — distinct would keep both. Re-collapsing keeps the merge
    * associative and bit-identical to the one-shot build
    * (min(min(a),min(b)) = min(a∪b)); HarmonizeStreamSpec pins it with
    * a multi-numvalue-per-group source split across batches.
    */
  def merge(existing: Brick, incoming: Brick): Brick =
    Brick(
      existing.substances.unionByName(incoming.substances).distinct(),
      existing.properties.unionByName(incoming.properties).distinct(),
      collapseActivities(
        existing.activities.unionByName(incoming.activities)))

  /** [[merge]] specialized to units that are whole-SOURCE partitions —
    * the sliced assembly's decomposability argument (see
    * [[buildBrickBucketedTo]]) applied to the incremental path. When the
    * two bricks' source sets are DISJOINT, every distinct/collapse key
    * contains `source` (substances/properties rows carry it; the
    * activities collapse key is (aid, sid, pid, source, …)), so no
    * group spans the union, and each side is already internally
    * distinct/collapsed by its own build — the re-collapse and the two
    * distincts reduce NOTHING and the union IS the merged brick. The
    * general [[merge]] must keep them because its units may SPLIT a
    * source (a row-wise-streamed batch); this variant's precondition is
    * the caller's to guarantee (adapter-granular increments guarantee
    * it structurally — adapter names are unique and stamp `source`).
    * Same rows as [[merge]] on any disjoint input (HarmonizeSpec pins
    * it); what it removes is merge's fact-scale re-collapse exchange —
    * at 100 TB, re-shuffling a 43 GB brick to add one source is
    * exactly the cost the incremental path exists to avoid.
    */
  def mergeDisjointSources(existing: Brick, incoming: Brick): Brick =
    Brick(
      existing.substances.unionByName(incoming.substances),
      existing.properties.unionByName(incoming.properties),
      existing.activities.unionByName(incoming.activities))

  /** Convenience: stage+harmonize only `newAdapters` and merge into an
    * existing brick (e.g. one read back from parquet). When the caller
    * can guarantee `existing` contains none of `newAdapters`' sources
    * (the adapter-granular add-a-source workflow), pass
    * `disjointSources = true` to take the collapse-free
    * [[mergeDisjointSources]] path — identical rows, no fact-scale
    * re-shuffle of the existing brick.
    */
  def incremental(spark: SparkSession, sfDir: String, existing: Brick,
      newAdapters: Seq[SourceAdapter],
      disjointSources: Boolean = false): Brick = {
    val incoming = brick(spark, sfDir, newAdapters)
    if (disjointSources) mergeDisjointSources(existing, incoming)
    else merge(existing, incoming)
  }
}
