package graft

import org.apache.spark.sql.SparkSession

/** The library's session entry point: one place that wires the full
  * graft extension surface (native functions, optimizer rules, planner
  * strategies) and the engine's recommended runtime configuration.
  *
  * Deployment paths, equivalent:
  *   - `GraftSession.local(cpus)` / `GraftSession.configure(builder)` —
  *     programmatic;
  *   - `--conf spark.sql.extensions=graft.functions.GraftExtensions` —
  *     for clusters where the session is built by the platform
  *     (spark-submit, Thrift server, notebooks).
  *
  * Configuration stance (SURVEY §4): rely on AQE (on by default in
  * Spark 4) for runtime coalescing, broadcast conversion, and skew-join
  * splitting rather than hand-tuned fixed values; pin only what
  * correctness needs (UTC session timezone) and what local-mode sizing
  * needs (shuffle partitions ≈ cores — at cluster scale leave the
  * default and let AQE coalesce).
  */
object GraftSession {

  /** Apply graft extensions + recommended confs to an arbitrary builder.
    *
    * (Round-7 note: lowering spark.memory.storageFraction to let the
    * brick assembly evict resident staging blocks was tried and
    * REJECTED — mid-stage eviction trades aggregation spill for disk
    * churn that the join stages then re-pay reading the blocks back;
    * measured slower than the default floor at the 10× stretch. The
    * working levers are serialized blocks for fact-scale memos (the
    * staging unions' MemoRegistry.checkpointLarge, the brick's persist)
    * and a heap sized to the data for single-JVM macro runs; see
    * BENCH_LOCAL.md round 7.)
    *
    * The generated-code cache holds 2000 classes instead of Spark's
    * 100: one pass of six session queries (q1, j1, h10, x24, dd3, ann5)
    * already generates about 110, so at the default a warm pass evicts
    * and recompiles its own classes (measured 2.8 s against 2.1 s per
    * pass on 4 cores). The cache is JVM-wide and sized once, at the
    * JVM's first code generation, from the active session's conf; so
    * the setting holds when this session is the JVM's first.
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "2000")

  /** Local session sized for this machine — Verify/Bench/Explain use it. */
  def local(cpus: String, appName: String = "graft"): SparkSession = {
    val spark = configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    // When getOrCreate returned a PRE-EXISTING session, the extensions
    // conf above could not retrofit it — fall back to the additive
    // session state. When the session is fresh, GraftExtensions already
    // injected everything; adding to experimental too would run the rule
    // in two optimizer batches and consult the strategy twice per query.
    val viaExtensions = spark.conf.getOption("spark.sql.extensions")
      .exists(_.contains("GraftExtensions"))
    if (!viaExtensions) {
      plans.addStrategy(spark, plans.AsOfStrategy)
      plans.addOptimization(spark, plans.PushDistinctThroughUnion)
      // Best effort only: an existing session has no analyzer hook, and
      // by the user-provided-optimizers batch column pruning may have
      // specialised the union branches (the rule then no-ops). The full
      // rewrite needs the extensions path or plans.Melt.rewrite(df).
      plans.addOptimization(spark, plans.MeltUnionToExpand)
      functions.GraftFunctions.register(spark)
    }
    // conf-gated artifact-store GC (default off: no conf → no-op);
    // spark.* system properties flow into the session conf, so
    // -Dspark.graft.artifact.autoPruneMs=<age> enables it machine-wide
    ArtifactStore.autoPrune(spark)
    quietGlobalWindowWarns(spark)
    spark
  }

  /** Raise the window-exec logger to ERROR (VERDICT r12 #7): the
    * engine's two deliberately-global windows (o11's remainder ranking
    * over |languages| rows, x23's df-distribution rank cut — both
    * bounded by construction and documented in-code) spam
    * "No Partition Defined for Window operation" hundreds of times per
    * bench run, burying any REAL single-partition regression in noise.
    * Scoped to exactly the `execution.window` package so every other
    * Spark warning still surfaces; set
    * `spark.graft.quietGlobalWindowWarn=false` to keep the spam (e.g.
    * when hunting for an unintended global window).
    */
  def quietGlobalWindowWarns(spark: SparkSession): Unit =
    if (spark.conf.getOption("spark.graft.quietGlobalWindowWarn")
        .forall(_.toBoolean)) {
      try org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window",
        org.apache.logging.log4j.Level.ERROR)
      catch { case _: Throwable => () } // non-log4j2 backend: keep logs
    }
}
