package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{ArtifactStore, GraftSession, MemoRegistry, SparkEntry}
import graft.harmonize.{DataQuality, Harmonize}
import graft.queries._
import graft.sources.SourceAdapter

/** The benchmark program. One invocation is one run of one workload,
  * driven by `run.py`, which passes the data dir, the hosted store and
  * the run dir. It times calls into the layers' public functions from
  * outside and never edits the program under test.
  *
  * Modes:
  *   - `build`: two cold brick builds, each into empty stores (the first
  *     untimed, as JIT warm-up), then warm re-opens of the brick.
  *   - `session`: first pass and warm passes of the session queries over
  *     the hosted store.
  *   - `fill`: fills the hosted store (outside every timing).
  *   - `record`: writes the expected fingerprints from a `graft.Verify`
  *     dump and a live build.
  */
object Main {

  /** The build's adapters: a simple assay shape and the REST-lookup
    * adapter (`CachedLookupSource`). Two of the 14 keep a run within the
    * benchmark's time budget: the build's cost is mostly fixed per-job
    * cost, which the other adapters would only repeat.
    */
  val BuildAdapters: Seq[String] =
    Seq("events", "ctdbase")

  /** Warm samples per untraced run, at least; more while `--seconds`
    * has not passed. `warm_s` is their median. One untimed warm sample
    * comes before them, because the first repeat of a cold call still
    * runs much slower while the JIT catches up.
    */
  val MinWarm = 3

  val AnalyticsModules: Seq[(String, QueryModule)] = Seq(
    "Relational" -> RelationalQueries, "Join" -> JoinQueries,
    "Window" -> WindowQueries, "SortSample" -> SortSampleQueries,
    "SetReshape" -> SetReshapeQueries, "ScalarFunc" -> ScalarFuncQueries,
    "Harmonize" -> HarmonizeQueries, "Curation" -> CurationQueries,
    "Streaming" -> StreamingQueries, "Enrich" -> EnrichQueries,
    "SourceSink" -> SourceSinkQueries)
  val SearchModules: Seq[(String, QueryModule)] = Seq(
    "Text" -> TextQueries, "Dedup" -> DedupQueries,
    "Similarity" -> SimilarityQueries, "Multimodal" -> MultimodalQueries)
  val Modules: Seq[(String, QueryModule)] = AnalyticsModules ++ SearchModules

  /** One query from each of six modules. The analytics three are the
    * fixed-per-query-cost regime (an aggregate and a join) plus a hosted
    * staging read (h10, the ctdbase adapter behind `CachedLookupSource`);
    * the search three drive the index operators and the corpus-keyed
    * artifact and memo tier (window index, minhash candidates, IVF list
    * assignments).
    */
  val SessionQueries: Seq[(String, String)] = Seq(
    "Relational" -> "q1_pricing_summary", "Join" -> "j1_inner_equi",
    "Harmonize" -> "h10_ctdbase_staging",
    "Text" -> "x24_window_index_lifecycle", "Dedup" -> "dd3_minhash_lsh",
    "Similarity" -> "ann5_ivf_topk")

  final case class Opts(mode: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, store: String, runDir: String,
      expected: String, t0Ms: Long, verifyDump: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Opts(m("mode"), m.getOrElse("seed", "0").toLong,
      m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", m("data"), m("store"), m("run-dir"),
      m("expected"), m.getOrElse("t0-ms", "0").toLong,
      m.getOrElse("verify-dump", ""))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally s.close()
    }

  def storeDirs(p: Path): Seq[String] =
    if (!Files.isDirectory(p)) Nil
    else {
      val s = Files.list(p)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filterNot(_.startsWith(".")).toSeq.sorted
      finally s.close()
    }

  /** Expected results: `fp <query> <fingerprint>` and
    * `brick <substances> <properties> <activities>` lines.
    */
  final case class Expected(fingerprints: Map[String, String],
      brickRows: Seq[Long])

  def readExpected(file: String): Expected = {
    if (!Files.exists(Paths.get(file))) return Expected(Map.empty, Nil)
    val lines = Files.readAllLines(Paths.get(file)).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+").toSeq)
    Expected(
      lines.collect { case Seq("fp", q, f) => q -> f }.toMap,
      lines.collectFirst { case "brick" +: rows => rows.map(_.toLong) }
        .getOrElse(Nil))
  }

  /** The two load markers of `graft.Bench`, in their frozen shapes: a
    * CPU-bound xxhash64 job over 256M ids in 32 partitions, and a
    * memory-bandwidth scan of a 64M-long array by 8 threads, 4 passes.
    */
  def cpuMarker(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 256000000L, 1L, 32)
      .selectExpr("bit_xor(xxhash64(id))").collect()
    secs(t0)
  }

  def memMarker(): Double = {
    val arr = new Array[Long](1 << 26)
    var i = 0
    while (i < arr.length) { arr(i) = i.toLong; i += 1 }
    val t0 = System.nanoTime()
    val threads = (0 until 8).map { t =>
      new Thread(() => {
        var pass = 0
        var acc = 0L
        while (pass < 4) {
          var j = t
          while (j < arr.length) { acc ^= arr(j); j += 8 }
          pass += 1
        }
        if (acc == 42L) System.err.print("")
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    secs(t0)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.local(cores.toString, s"perfbench-${o.mode}")
    spark.sparkContext.setLogLevel("ERROR")
    // the store under test: the hosted store for `session`/`fill`, the
    // per-run store (under the run's own java.io.tmpdir) for `build`
    if (o.mode != "build") spark.conf.set(ArtifactStore.DirKey, o.store)
    spark.range(1000000).selectExpr("sum(id)").collect()
    val setupS = (System.currentTimeMillis() - o.t0Ms) / 1e3
    val runId = Paths.get(o.runDir).getFileName.toString
    val markersPre = Seq(cpuMarker(spark), memMarker())
    val tracer = new Tracer(spark, runId, o.trace)
    val bench = new Bench(spark, o, tracer, readExpected(o.expected))
    val out = o.mode match {
      case "build" => bench.build()
      case "session" => bench.session()
      case "fill" => bench.fill()
      case "record" => bench.record()
    }
    val markersPost = Seq(cpuMarker(spark), memMarker())
    val metrics = (if (o.trace) out.layers else out.endToEnd) ++
      (if (o.trace) Nil else Seq(("setup_s", setupS, "s")))
    val metricJson = metrics.map { case (k, v, u) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val result = s"""{"correct":${out.failed == 0 && out.attempted > 0},"attempted":${out.attempted},"failed":${out.failed},"metrics":$metricJson}"""
    val env = s"""{"mode":${Json.str(o.mode)},"seed":${o.seed},"trace":${o.trace},"cores":$cores,"setup_s":${Json.num(setupS)},"load_marker_cpu_s":{"start":${Json.num(markersPre(0))},"end":${Json.num(markersPost(0))}},"load_marker_mem_s":{"start":${Json.num(markersPre(1))},"end":${Json.num(markersPost(1))}},"store":${Json.str(out.store)},"store_dirs":${out.storeDirs.map(Json.str).mkString("[", ",", "]")},"failures":${out.failures.map(Json.str).mkString("[", ",", "]")},"rounds":${out.rounds.mkString("[", ",", "]")},"queries":${out.queryRecords.mkString("[", ",", "]")}}"""
    Files.writeString(Paths.get(o.runDir, "run.json"), env + "\n")
    if (o.trace)
      Files.writeString(Paths.get(o.runDir, "trace.json"), tracer.json(env))
    Files.writeString(Paths.get(o.runDir, "result.json"), result + "\n")
    spark.stop()
  }
}

/** One query execution, split into construct, plan and execute. */
final case class QRun(module: String, wall: Double, construct: Double,
    plan: Double, exec: Double, compileNs: Long, compiles: Long)

/** What one run produced: metrics plus the correctness tally. */
final case class Outcome(endToEnd: Seq[(String, Double, String)],
    layers: Seq[(String, Double, String)], attempted: Int, failed: Int,
    failures: Seq[String], store: String, storeDirs: Seq[String],
    queryRecords: Seq[String], rounds: Seq[String])

final class Bench(spark: SparkSession, o: Main.Opts, tracer: Tracer,
    expected: Main.Expected) {
  import Main._

  private var attempted = 0
  private val failures = mutable.ArrayBuffer.empty[String]
  private val queryRecords = mutable.ArrayBuffer.empty[String]
  private val samples = mutable.ArrayBuffer.empty[String]

  private def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch { case e: Throwable =>
      failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
      return
    }
    if (!pass) failures += s"$what: wrong result"
  }

  private val adapters =
    SourceAdapter.all.filter(a => BuildAdapters.contains(a.name))
  private val queryFns = SparkEntry.queries
  private val storeBase: Path = Paths.get(o.store)

  /** 149 analytics + 57 search queries = the whole surface. */
  private def surfaceCheck(): Unit =
    check("surface") {
      val n = Modules.map(_._2.queries.size).sum
      n == SparkEntry.expectedQueryCount && n == queryFns.size &&
        SessionQueries.forall { case (m, q) =>
          Modules.toMap.apply(m).queries.contains(q) }
    }

  private def rowsOk(b: Harmonize.Brick): Boolean = {
    val rows =
      Seq(b.substances.count(), b.properties.count(), b.activities.count())
    if (rows != expected.brickRows)
      System.err.println(s"[perfbench] brick rows ${rows.mkString(" ")}, " +
        s"expected ${expected.brickRows.mkString(" ")}")
    rows == expected.brickRows
  }

  private def brickOk(b: Harmonize.Brick,
      dq: Seq[DataQuality.CheckResult]): Boolean =
    dq.size == 10 && dq.forall(_.passed) && rowsOk(b)

  // ---- per-query execution -------------------------------------------

  private def compileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .compileTime
  private def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount

  private def runQuery(module: String, name: String, pass: String): QRun =
    tracer.span(s"query.$name") {
      val c0 = compileNs; val n0 = compiles
      val t0 = System.nanoTime()
      var construct, plan = 0.0
      var ok = false
      attempted += 1
      try {
        val df = tracer.span("construct")(queryFns(name)(spark, o.data))
        construct = secs(t0)
        val (fp, barrier) = tracer.span("execute")(Fingerprint.run(df))
        val ph = barrier.queryExecution.tracker.phases
        plan = Seq("optimization", "planning")
          .flatMap(ph.get).map(_.durationMs).sum / 1e3
        ok = expected.fingerprints.get(name).contains(fp)
        if (!ok) failures += s"$name: fingerprint $fp, expected " +
          expected.fingerprints.getOrElse(name, "none")
      } catch { case e: Throwable =>
        failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      val wall = secs(t0)
      val r = QRun(module, wall, construct, plan,
        math.max(0.0, wall - construct - plan), compileNs - c0,
        compiles - n0)
      queryRecords += s"""{"query":${Json.str(name)},"module":${Json.str(module)},"pass":${Json.str(pass)},"wall_s":${Json.num(wall)},"construct_s":${Json.num(r.construct)},"plan_s":${Json.num(plan)},"exec_s":${Json.num(r.exec)},"codegen_s":${Json.num(r.compileNs / 1e9)},"compiles":${r.compiles},"ok":$ok}"""
      r
    }

  /** One pass over the session queries, in the given order. */
  private def pass(label: String, order: Seq[(String, String)]): Seq[QRun] =
    tracer.span(s"pass.$label") {
      order.map { case (m, q) => runQuery(m, q, label) }
    }

  /** Lets the previous phase's garbage and background JIT work settle
    * before a timed phase, so they are not charged to it.
    */
  private def settle(): Unit = { System.gc(); Thread.sleep(200) }

  private def floorSample(): Double = {
    val t0 = System.nanoTime()
    Fingerprint.run(spark.range(1).selectExpr("id AS v"))
    secs(t0)
  }

  // ---- workloads -----------------------------------------------------

  /** Points `java.io.tmpdir`, which the ArtifactStore base, the
    * checkpoint base and the ctdbase lookup cache derive from, at a new
    * empty dir under the run's own tmpdir, and evicts every session memo,
    * so the next build starts from empty stores.
    */
  private val runTmp = sys.props("java.io.tmpdir")
  private def freshStores(label: String): Path = {
    val d = Paths.get(runTmp, label)
    Files.createDirectories(d)
    System.setProperty("java.io.tmpdir", d.toString)
    MemoRegistry.evictAll(spark)
    d.resolve("graft-artifacts-" + sys.props.getOrElse("user.name", "anon"))
  }

  /** One cold build (stagings, assembly, DQ) into empty stores through
    * the production route (concurrent staging inside `cachedBrick`).
    */
  private def coldBuild(label: String): (Double, Path) = {
    val store = freshStores(label)
    settle()
    val t0 = System.nanoTime()
    val brick = Harmonize.cachedBrick(spark, o.data, adapters)
    val dq = DataQuality.run(brick, adapters.map(_.name).toSet)
    val s = secs(t0)
    check(s"$label.build")(brickOk(brick, dq))
    samples += s"""{"round":${Json.str(label)},"cold_s":${Json.num(s)}}"""
    (s, store)
  }

  /** Two cold builds, each into empty stores: the first is untimed and
    * takes the cold JVM's JIT and codegen warm-up, the second is
    * `cold_s`. Then one untimed re-open of the brick it hosted and timed
    * re-opens until `seconds` have passed (at least `MinWarm`): evict
    * every session memo, open the brick again and read its three tables,
    * which is what each later session pays to get the brick.
    */
  def build(): Outcome = {
    surfaceCheck()
    if (o.trace) return traced()
    val (_, store0) = coldBuild("warmup")
    val (coldS, store) = coldBuild("timed")
    val dirs = storeDirs(store)
    check("store")(dirs == storeDirs(store0))
    val storeMb = dirBytes(store) / 1e6
    def reopen(label: String): Double = {
      MemoRegistry.evictAll(spark)
      settle()
      val t1 = System.nanoTime()
      val ok = rowsOk(Harmonize.cachedBrick(spark, o.data, adapters))
      val s = secs(t1)
      check(label)(ok)
      s
    }
    reopen("reopen.warmup")
    val warm = mutable.ArrayBuffer.empty[Double]
    val w0 = System.nanoTime()
    while (warm.size < MinWarm || secs(w0) < o.seconds)
      warm += reopen(s"reopen.${warm.size + 1}")
    samples += s"""{"round":"reopen","warm_s":${warm.map(Json.num).mkString("[", ",", "]")}}"""
    outcome(Seq(("cold_s", coldS, "s"), ("warm_s", median(warm.toSeq), "s"),
      ("store_mb", storeMb, "MB")), Nil, dirs, store)
  }

  /** The query order of every pass after the first: the rotation of
    * `SessionQueries` the seed picks. Every such pass repeats this one
    * cycle, so the warm passes of a run are the same work in the same
    * order and their median is taken over like samples.
    */
  private val seedOrder: Seq[(String, String)] = {
    val k = new scala.util.Random(o.seed).nextInt(SessionQueries.size)
    SessionQueries.drop(k) ++ SessionQueries.take(k)
  }

  /** First pass in a new session over the hosted store, one untimed warm
    * pass, then timed warm passes until `seconds` have passed (at least
    * `MinWarm`). The first pass runs in the fixed `SessionQueries`
    * order: in a cold JVM the first queries pay the JIT warm-up and build
    * the memos later ones share, so a reordered first pass would make
    * `cold_s` depend on the seed. Later passes run in `seedOrder`.
    */
  def session(): Outcome = {
    surfaceCheck()
    if (o.trace) return traced()
    val coldS = pass("first", SessionQueries).map(_.wall).sum
    settle()
    pass("warm0", seedOrder)
    val warm = mutable.ArrayBuffer.empty[Double]
    val w0 = System.nanoTime()
    while (warm.size < MinWarm || secs(w0) < o.seconds) {
      settle()
      warm += pass(s"warm${warm.size + 1}", seedOrder).map(_.wall).sum
    }
    outcome(Seq(("cold_s", coldS, "s"), ("warm_s", median(warm.toSeq), "s"),
      ("store_mb", dirBytes(storeBase) / 1e6, "MB")), Nil,
      storeDirs(storeBase))
  }

  /** The traced run, the same two phases for both workloads:
    *   - queries, on the hosted store: a first pass in the cold JVM, as in
    *     the untraced `session` run, one warm pass and a memo-isolation
    *     pass (`MemoRegistry.evictAll` before each query);
    *   - layers: the stagings one by one, the brick assembly over the
    *     memoized stagings, and DQ, into the workload's store (empty
    *     stores for `build`, the hosted store for `session`), after every
    *     session memo is evicted.
    */
  private def traced(): Outcome = {
    val hosted = Paths.get(o.store)
    val hostedBefore = storeDirs(hosted)
    spark.conf.set(ArtifactStore.DirKey, o.store)
    val first = pass("first", SessionQueries)
    settle()
    val warm = pass("warm1", seedOrder)
    val floor = { floorSample(); median((1 to 5).map(_ => floorSample())) }
    val isolated = tracer.span("pass.isolated") {
      seedOrder.map { case (m, q) =>
        MemoRegistry.evictAll(spark)
        runQuery(m, q, "isolated")
      }
    }
    val layerStore =
      if (o.mode == "build") {
        spark.conf.unset(ArtifactStore.DirKey)
        freshStores("pipeline")
      } else { MemoRegistry.evictAll(spark); hosted }
    val before = storeDirs(layerStore)
    settle()
    val (staged, assembleS, brick, dq, dqS) = tracer.span("pipeline") {
      val staged = adapters.map { a =>
        val t0 = System.nanoTime()
        val t = tracer.span(s"stage.${a.name}")(
          SourceAdapter.cachedStaging(a, spark, o.data))
        (a.name, secs(t0), t)
      }
      val t1 = System.nanoTime()
      val brick = tracer.span("assemble")(
        Harmonize.cachedBrick(spark, o.data, adapters))
      val assembleS = secs(t1)
      val t2 = System.nanoTime()
      val dq = tracer.span("dq")(
        DataQuality.run(brick, adapters.map(_.name).toSet))
      (staged, assembleS, brick, dq, secs(t2))
    }
    check("build")(brickOk(brick, dq))
    val stagedRows = staged.map(_._3.activities.count()).sum.toDouble
    val dqJobs = tracer.inclusive(tracer.find("dq").get.id).jobs
    val builds = (storeDirs(layerStore).toSet -- before.toSet).size +
      (if (hosted == layerStore) 0
       else (storeDirs(hosted).toSet -- hostedBefore.toSet).size)
    // the workload's primary phase: the pipeline for `build`, the warm
    // pass for `session`
    val primary = tracer.find(
      if (o.mode == "build") "pipeline" else "pass.warm1").get
    val c = tracer.inclusive(primary.id)
    val covered = tracer.children(primary.id).map(_.seconds).sum
    val cores = Runtime.getRuntime.availableProcessors()
    def byModule(rs: Seq[QRun]) = rs.groupBy(_.module)
      .map { case (m, xs) => m -> xs.map(_.wall).sum }
    val firstBy = byModule(first); val warmBy = byModule(warm)
    val warmWalls = warm.map(_.wall)
    val firstS = first.map(_.wall).sum
    val isolatedS = isolated.map(_.wall).sum
    val layers = mutable.ArrayBuffer.empty[(String, Double, String)]
    layers += (("sources.stage_s", staged.map(_._2).sum, "s"))
    staged.foreach { case (n, s, _) => layers += ((s"sources.stage_s.$n", s, "s")) }
    layers ++= Seq(
      ("sources.staged_rows", stagedRows, "count"),
      ("harmonize.assemble_s", assembleS, "s"),
      ("harmonize.collapse_ratio",
        brick.activities.count() / math.max(1.0, stagedRows), "ratio"),
      ("harmonize.dq_s", dqS, "s"),
      ("harmonize.dq_jobs", dqJobs.toDouble, "count"),
      ("artifact.builds", builds.toDouble, "count"),
      ("artifact.mb", dirBytes(layerStore) / 1e6, "MB"),
      ("memo.isolated_s", isolatedS, "s"),
      // isolated minus the warm pass, not minus the first pass: the first
      // pass also pays the cold JVM's JIT and codegen warm-up
      ("memo.sharing_s", isolatedS - warmWalls.sum, "s"),
      ("queries.first_s", firstS, "s"),
      ("queries.warm_s", warmWalls.sum, "s"))
    SessionQueries.foreach { case (m, _) =>
      layers += ((s"queries.$m.first_s", firstBy(m), "s"))
      layers += ((s"queries.$m.warm_s", warmBy(m), "s"))
    }
    layers ++= Seq(
      ("queries.p50_s", median(warmWalls), "s"),
      ("queries.p90_s", percentile(warmWalls, 0.9), "s"),
      ("queries.samples", warmWalls.size.toDouble, "count"),
      ("spark.construct_s", warm.map(_.construct).sum, "s"),
      ("spark.plan_s", warm.map(_.plan).sum, "s"),
      ("spark.exec_s", warm.map(_.exec).sum, "s"),
      ("spark.floor_s", floor, "s"),
      ("codegen.compile_s", (first ++ warm).map(_.compileNs).sum / 1e9, "s"),
      ("codegen.compiles", (first ++ warm).map(_.compiles).sum.toDouble,
        "count"),
      ("spark.jobs", c.jobs.toDouble, "count"),
      ("spark.tasks", c.tasks.toDouble, "count"),
      ("spark.cpu_util", c.cpuNs / 1e9 / (primary.seconds * cores), "ratio"),
      ("spark.gc_s", c.gcMs / 1e3, "s"),
      ("spark.shuffle_write_mb", c.shuffleWriteBytes / 1e6, "MB"),
      ("spark.spill_mb", c.spillBytes / 1e6, "MB"),
      ("trace.coverage", covered / primary.seconds, "ratio"),
      ("trace.overhead_s", tracer.overheadNs / 1e9, "s"))
    outcome(Nil, layers.toSeq, storeDirs(layerStore), layerStore)
  }

  /** Fills the hosted store: the session queries once, then the build's
    * brick (so the traced session run re-opens it).
    */
  def fill(): Outcome = {
    pass("fill", SessionQueries)
    val b = Harmonize.cachedBrick(spark, o.data, adapters)
    DataQuality.run(b, adapters.map(_.name).toSet)
    outcome(Nil, Nil, storeDirs(storeBase))
  }

  /** Writes the expected file: each session query's fingerprint taken
    * from a `graft.Verify` dump (the dump `tools/verify_local.py` checked
    * against the DuckDB oracle), cross-checked live, plus the brick rows.
    */
  def record(): Outcome = {
    val lines = SessionQueries.map { case (_, q) =>
      val (dumped, _) = Fingerprint.run(
        spark.read.parquet(s"${o.verifyDump}/$q"))
      val (live, _) = Fingerprint.run(queryFns(q)(spark, o.data))
      check(s"record.$q")(dumped == live)
      if (dumped != live)
        System.err.println(s"[perfbench] $q dump $dumped live $live")
      s"fp $q $live"
    }
    val b = Harmonize.cachedBrick(spark, o.data, adapters)
    val dq = DataQuality.run(b, adapters.map(_.name).toSet)
    check("record.dq")(dq.forall(_.passed))
    val brick = Seq(b.substances.count(), b.properties.count(),
      b.activities.count()).mkString(" ")
    Files.writeString(Paths.get(o.expected),
      (Seq("# expected results of the benchmark's operations",
        s"brick $brick") ++ lines).mkString("", "\n", "\n"))
    outcome(Nil, Nil, storeDirs(storeBase))
  }

  private def outcome(e2e: Seq[(String, Double, String)],
      layers: Seq[(String, Double, String)], dirs: Seq[String],
      store: Path = storeBase): Outcome =
    Outcome(e2e, layers, attempted, failures.size, failures.toSeq,
      store.toString, dirs, queryRecords.toSeq, samples.toSeq)
}
