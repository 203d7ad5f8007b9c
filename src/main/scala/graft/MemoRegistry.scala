package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Central eviction for session-scoped memoized frames.
  *
  * The Verify/Bench lifecycle builds every memo (brick, staged triplets,
  * shingles, candidate indexes, centroids…) once and exits, so the
  * memos hold their storage for exactly one driver run. A LONG-LIVED
  * session, though, would accumulate persisted frames forever — this
  * registry is the unpersist hook such a service calls between
  * workloads. Each [[SessionMemo]] registers its eviction when it is
  * constructed; `evictAll(spark)` releases and forgets everything
  * memoized FOR THAT SESSION (other sessions' entries are untouched),
  * after which the next access rebuilds bit-identically — every id in
  * the engine is a content hash, so eviction can never change results
  * (MemoEvictionSpec proves rebuild equality and storage reclamation).
  */
object MemoRegistry {
  private val hooks =
    scala.collection.mutable.ArrayBuffer.empty[SparkSession => Unit]

  private def register(hook: SparkSession => Unit): Unit =
    hooks.synchronized { hooks += hook }

  def evictAll(spark: SparkSession): Unit = {
    hooks.synchronized { hooks.toSeq }.foreach(_(spark))
    // Owned dirs (reliable-mode handoffs, scratch bricks) whose frames
    // were dropped WITHOUT release (a build that failed after
    // materializing, a race-overwritten memo entry) would otherwise
    // orphan their dirs forever — the weak frame→path map can't see
    // them once the frame is GC'd. The sweep is TWO-PHASE: a path is
    // deleted only when it is still unreleased at a SECOND consecutive
    // evictAll. A build in flight
    // during one eviction (builds run outside every lock by design)
    // keeps its handoff; by the next eviction it has either memoized —
    // the hooks above just released it — or died, and only then is the
    // dir reclaimed. This is exactly SessionMemo's documented contract
    // ("released at the next eviction").
    //
    // Liveness guard (ADVICE r8): "seen unreleased twice" alone is not
    // proof of death — a build that spans two evictions, or completes
    // between the hooks above and this sweep and THEN memoizes, still
    // holds its frame, and deleting the parquet dir under it turns the
    // next read into FileNotFoundException. A path whose frame is still
    // reachable in the weak frame→path map is LIVE: skip it and keep it
    // in the grace set (it is re-checked — and skipped again — for as
    // long as the frame stays reachable; once the frame is released or
    // GC'd the weak entry vanishes and the sweep reclaims the dir).
    val toDelete = pathsLock.synchronized {
      import scala.jdk.CollectionConverters._
      val current = Option(sessionPaths.get(spark))
        .map(_.asScala.toSet).getOrElse(Set.empty[String])
      val pending = Option(pendingSweep.get(spark))
        .map(_.asScala.toSet).getOrElse(Set.empty[String])
      val live = reliablePaths.synchronized {
        // Collections.synchronizedMap: iteration must hold the wrapper's
        // monitor. Nesting order is pathsLock → reliablePaths only (the
        // put/remove sites touch the two locks sequentially, never
        // nested the other way), so this cannot deadlock.
        val vs = Set.newBuilder[String]
        val it = reliablePaths.values.iterator()
        while (it.hasNext) vs += it.next()
        vs.result()
      }
      val dead = (current intersect pending) diff live
      Option(sessionPaths.get(spark)).foreach(s => dead.foreach(s.remove))
      val grace = new java.util.HashSet[String]()
      (current diff dead).foreach(grace.add)
      if (grace.isEmpty) pendingSweep.remove(spark)
      else pendingSweep.put(spark, grace)
      dead
    }
    toDelete.foreach(deletePath(spark, _))
  }

  /** Eager localCheckpoint at MEMORY_AND_DISK_SER — the storage level
    * for LARGE memoized fact frames (size-gated staging triplets, the
    * brick assembly's staging unions). The default deserialized level
    * keeps one UnsafeRow copy + object header per row resident; serialized
    * blocks are one compact buffer per partition, several times
    * smaller. That footprint is the difference between the brick
    * assembly aggregating with free execution memory and spilling:
    * at the 10× stretch on a 16 GB heap the resident staging blocks
    * starved the pre-collapse aggregation into 4 GB of spill and a 44×
    * sub-stage blow-up (AssemblyProfile/AggProbe, round 7) — with
    * serialized blocks the same stage is near-linear at the same heap.
    * Small frames (per-round component labels, centroid tables, query
    * slices) stay on the default level where per-read deserialization
    * would cost more than the footprint saves.
    */
  def checkpointLarge(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    if (spark.conf.getOption(CkptModeKey).contains("reliable")) {
      // Cluster/fault-tolerant posture: a parquet handoff instead of
      // executor-local blocks. localCheckpoint ties every downstream
      // stage to the liveness of the executors holding the blocks —
      // acceptable in a single-JVM run, wrong on a 1000-executor
      // cluster where one lost node would fail the whole brick.
      // Parquet (vs RDD .checkpoint()) keeps the handoff columnar:
      // re-reads prune columns/filters like any table, and the
      // artifact is debuggable. Cost is one write+read of the frame
      // per materialization — measured in BENCH_LOCAL.md round 8.
      // `spark.graft.checkpoint.dir` accepts a COMMA LIST of dirs:
      // successive handoffs round-robin across them, spreading the
      // write+read bytes over independent disks. Motivation: the 30×
      // single-JVM profile's one super-linear wall stage
      // (activities.ckpt, ~6× at 3× data) was attributed to one
      // spindle serializing the handoff I/O — zero spill, linear
      // shuffle bytes (BENCH_LOCAL round 8). On a cluster the list
      // would be mount points; a single dir keeps the old behavior.
      val bases = ckptBases(spark)
      val base = bases(
        Math.floorMod(ckptRoundRobin.getAndIncrement(), bases.length))
      val path = s"$base/ckpt-${java.util.UUID.randomUUID()}"
      // zstd: handoffs are write-once/read-once I/O-bound artifacts,
      // and the brick's canonical-JSON text compresses ~2× better
      // under zstd than snappy — at the fourth decade the activities
      // handoff alone is tens of GB, and the disk it occupies is the
      // scratch space the next stage's shuffle needs (round-11 finding).
      df.write.mode("overwrite").option("compression", "zstd")
        .parquet(path)
      owned(spark.read.parquet(path), path)
    } else df.localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
  }

  /** Conf knobs for the materialization posture: `local` (default —
    * executor-local checkpoint blocks, fastest, no fault tolerance) or
    * `reliable` (parquet handoff under `spark.graft.checkpoint.dir`,
    * survives executor loss; the dir should be durable storage on a
    * real cluster).
    */
  val CkptModeKey = "spark.graft.checkpoint.mode"
  val CkptDirKey = "spark.graft.checkpoint.dir"
  private val ckptRoundRobin = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The `spark.graft.checkpoint.dir` entries; "" or "," falls back to
    * the default, never a mod-by-zero (ADVICE r9). The first entry also
    * holds scratch bricks (`Harmonize.cachedBrick`).
    */
  private[graft] def ckptBases(spark: SparkSession): Array[String] = {
    val defaultBase =
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-ckpt"
    val configured = spark.conf.getOption(CkptDirKey).getOrElse(defaultBase)
      .split(',').map(_.trim).filter(_.nonEmpty)
    if (configured.isEmpty) Array(defaultBase) else configured
  }

  /** Make `path` a session-owned dir that lives as long as `df`:
    * [[release]] of the frame deletes the dir, `evictAll`'s sweep
    * reclaims it if the frame is dropped without a release, and a JVM
    * that exits first deletes it on exit. Several frames may own one
    * dir (a scratch brick's three tables); the first release deletes
    * it. Returns `df`.
    */
  private[graft] def owned(df: DataFrame, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      .deleteOnExit(p): Unit
    reliablePaths.put(df, path)
    pathsLock.synchronized {
      var s = sessionPaths.get(df.sparkSession)
      if (s == null) {
        s = new java.util.HashSet[String]()
        sessionPaths.put(df.sparkSession, s): Unit
      }
      s.add(path): Unit
    }
    df
  }

  private val reliablePaths = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, String]())

  /** Per-session registry of every [[owned]] dir — the cleanup
    * backstop `evictAll` uses for paths whose frame never saw `release`
    * (the weak frame→path map alone would orphan those files). Keys are
    * WEAK: a session that stops without ever calling evictAll doesn't
    * pin itself (or its path strings) in memory for the JVM's lifetime.
    * `pendingSweep` holds each session's once-seen leftovers for the
    * two-phase eviction sweep. All access under `pathsLock`.
    */
  private val pathsLock = new Object
  private val sessionPaths =
    new java.util.WeakHashMap[SparkSession, java.util.HashSet[String]]()
  private val pendingSweep =
    new java.util.WeakHashMap[SparkSession, java.util.HashSet[String]]()

  // a scratch brick dir is also catalog tables: drop them first
  private def deletePath(spark: SparkSession, path: String): Unit = {
    graft.sources.Catalog.dropBrickTables(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    fs.cancelDeleteOnExit(p): Unit
  }

  /** Release one memoized frame: drop its CacheManager entry AND any
    * localCheckpoint blocks backing its plan leaves (unpersist alone
    * leaves those to the garbage collector). A frame that [[owned]] a
    * dir (a reliable-mode handoff, a scratch brick) also deletes it.
    */
  def release(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    org.apache.spark.sql.graftbridge.Bridge.freeCheckpointBlocks(df)
    Option(reliablePaths.remove(df)).foreach { path =>
      pathsLock.synchronized {
        Option(sessionPaths.get(df.sparkSession)).foreach(_.remove(path))
        Option(pendingSweep.get(df.sparkSession)).foreach(_.remove(path))
      }
      deletePath(df.sparkSession, path)
    }
  }

  /** Conf: the width of [[inParallel]], and so the bound on ALL of the
    * brick build's concurrency: adapter stagings, each staging's three
    * part writes, the three staging-union checkpoints and the three
    * bucketed table writes. These are INDEPENDENT jobs: submitted one
    * after another they leave the scheduler idle through every job's
    * driver round-trips and single-task tail stages, and jobs from a
    * small pool back-fill them. Default 4 — enough in-flight
    * jobs to fill stage tails without thrashing the scheduler, at ANY
    * core count (the pool bounds concurrent JOBS, not tasks; each job
    * still fans out to every core). Nested sites multiply: four
    * stagings each writing three parts can run twelve jobs at once.
    * 1 restores the fully sequential schedule.
    */
  val StageThreadsKey = "spark.graft.staging.threads"

  /** Run independent `thunks` (each typically one or more Spark jobs)
    * concurrently, at most [[StageThreadsKey]] at a time, and return
    * their results in input order — so a caller that unions or zips the
    * results is byte-identical to the sequential schedule. The pool is
    * created per call, from the calling thread: its threads inherit
    * that thread's Spark local properties (job group, description, the
    * active session), so their jobs are attributed exactly like the
    * caller's own. Every thunk is waited for before the first failure
    * (in input order) is rethrown as its own cause, never wrapped in an
    * `ExecutionException`: a caller's cleanup — `ArtifactStore.ensure`
    * deleting its `.tmp-*` dir — must not run while a sibling is still
    * writing into it.
    */
  def inParallel[T](spark: SparkSession)(thunks: Seq[() => T]): Seq[T] = {
    val n = math.min(spark.conf.getOption(StageThreadsKey)
      .map(_.trim.toInt).getOrElse(4), thunks.size)
    if (n <= 1) thunks.map(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
      try {
        val futs = thunks.map(t => pool.submit(
          new java.util.concurrent.Callable[T] { def call(): T = t() }))
        val outcomes = futs.map { f =>
          try Right(f.get())
          catch {
            case e: java.util.concurrent.ExecutionException =>
              Left(e.getCause)
          }
        }
        outcomes.collectFirst { case Left(t) => throw t }
        outcomes.collect { case Right(v) => v }
      } finally pool.shutdown()
    }
  }

  /** A session-scoped memo, `(SparkSession, K) → V`: every memoized
    * value in the engine that lives for one session is held in one of
    * these. The contract, for every memo:
    *   - Single flight: concurrent callers of one key run `build` once;
    *     the others block on that key's in-flight future only.
    *   - The build runs OUTSIDE the map lock, so a long multi-job Spark
    *     build never serializes other keys, other sessions or an
    *     eviction behind it.
    *   - A failed build caches nothing: its waiters get the failure and
    *     the next call builds again.
    *   - A build that overlaps an eviction of its own key lands in the
    *     map afterwards and is released at the next eviction.
    *   - `evict(spark)` drops that session's entries only and releases
    *     `frames(v)` of each; a value that holds no frame (a table
    *     fingerprint, a driver-side matrix) is just forgotten.
    * The memo registers its own `evict` for `evictAll` when constructed.
    */
  final class SessionMemo[K, V](
      frames: V => Seq[DataFrame] = (_: V) => Nil) {
    private val memo =
      scala.collection.mutable.Map.empty[(SparkSession, K), V]
    private val inflight = new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, K), java.util.concurrent.CompletableFuture[V]]()
    register(evict)

    def apply(spark: SparkSession, key: K)(build: => V): V = {
      val k = (spark, key)
      memo.synchronized(memo.get(k)) match {
        case Some(v) => v
        case None =>
          val fresh = new java.util.concurrent.CompletableFuture[V]()
          val prior = inflight.putIfAbsent(k, fresh)
          if (prior != null) prior.join()
          else try {
            // re-check under the lock AFTER winning the in-flight slot: a
            // racing builder may have completed (memo.update + inflight
            // .remove) between this thread's miss above and its
            // putIfAbsent — without this, the key would build twice and
            // the overwritten value's storage would leak unreleased
            val v = memo.synchronized(memo.get(k)).getOrElse {
              val built = build
              memo.synchronized { memo.update(k, built) }
              built
            }
            fresh.complete(v)
            v
          } catch {
            case t: Throwable => fresh.completeExceptionally(t); throw t
          } finally inflight.remove(k, fresh)
      }
    }

    def evict(spark: SparkSession): Unit = memo.synchronized {
      memo.keys.filter(_._1 eq spark).toSeq.foreach { k =>
        memo.remove(k).toSeq.flatMap(frames).foreach(release)
      }
    }
  }
}
