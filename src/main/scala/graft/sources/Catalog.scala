package graft.sources

import org.apache.spark.sql.SparkSession
import graft.Tables
import graft.harmonize.Harmonize

/** Catalog surface: the testdata tables and the brick as named SQL
  * relations —
  *
  *   - `registerViews`: session temp views (the lightweight path the
  *     q2/q6-q9 SQL queries use ad hoc, centralized);
  *   - `registerExternal`: external catalog tables
  *     (`CREATE TABLE ... USING parquet LOCATION`) + `ANALYZE TABLE` so
  *     the tables carry row/size statistics — this is what unlocks
  *     cost-based join planning (CBO reorder, stats-driven broadcast
  *     decisions) for pure-SQL users, on top of AQE's runtime stats;
  *   - `registerBrick`: the harmonized tables as views;
  *   - `writeBrickBucketedFiles` / `registerBrickBucketedFiles`: the
  *     brick's one stored layout — bucketed files in a dir, written by
  *     the build and adopted as bucketed catalog tables by any session.
  *
  * The reference has no catalog (paths wired through DVC stage args);
  * a queryable engine needs one (CatalogSpec).
  */
object Catalog {

  val tableNames: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** Temp views named after the testdata tables (events carries the
    * ts_ns/ts normalization from Tables.events).
    */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    tableNames.foreach {
      case "events" =>
        Tables.events(spark, sfDir).createOrReplaceTempView("events")
      case t =>
        Tables.t(spark, sfDir, t).createOrReplaceTempView(t)
    }

  /** External catalog tables with computed statistics, in database
    * `db`. Raw file schemas (events keeps its nanos-long `ts`; the
    * legacy nanos conf is set so the scan works).
    */
  def registerExternal(spark: SparkSession, sfDir: String,
      db: String = "graft"): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    tableNames.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $db.$t")
      spark.sql(
        s"CREATE TABLE $db.$t USING parquet LOCATION '$sfDir/$t.parquet'")
      spark.sql(s"ANALYZE TABLE $db.$t COMPUTE STATISTICS")
    }
  }

  /** The harmonized brick as substances/properties/activities views. */
  def registerBrick(spark: SparkSession, brick: Harmonize.Brick): Unit = {
    brick.substances.createOrReplaceTempView("substances")
    brick.properties.createOrReplaceTempView("properties")
    brick.activities.createOrReplaceTempView("activities")
  }

  /** Write the brick as BUCKETED FILES under `dir`, keeping no catalog
    * state once it returns — the brick's one artifact layout:
    * activities and substances bucketed and sorted on sid, properties
    * on pid, so every sid/pid join or aggregation over the brick starts
    * from its key's partitioning and elides its exchange. Size the
    * bucket count so each bucket's activities slice fits an executor.
    *
    * `body` receives an `append` that writes one brick's three tables
    * into the bucket dirs; a sliced build calls it once per slice.
    * Spark's only bucketed-file writer is saveAsTable, so each target
    * gets ONE throwaway external table for the whole build: created on
    * the first append, appended to on later ones, dropped in a finally
    * (the files, bucket ids in their names, remain). The table must be
    * kept: a saveAsTable under a NEW name onto a non-empty path replaces
    * the files already there, even in append mode. Each append writes
    * at most one file per bucket, so a k-slice build leaves at most k
    * files per bucket; Spark ignores SORTED BY on read by default
    * (`spark.sql.legacy.bucketedTableScan.outputOrdering`), so the
    * extra files cost only file opens. Any session adopts the files
    * with [[registerBrickBucketedFiles]]; `spark.read.parquet` also
    * reads them as plain parquet.
    */
  def writeBrickBucketedFiles(spark: SparkSession, dir: String,
      buckets: Int)(body: (Harmonize.Brick => Unit) => Unit): Unit = {
    val targets = Seq("substances" -> "sid", "properties" -> "pid",
      "activities" -> "sid").map { case (name, key) =>
      (name, key,
        "graft_tmp_" + java.util.UUID.randomUUID().toString.replace("-", ""))
    }
    var created = false
    def append(b: Harmonize.Brick): Unit = {
      val mode = if (created) "append" else "overwrite"
      // the three tables are independent writes: run them concurrently
      graft.MemoRegistry.inParallel(spark)(
        Seq(b.substances, b.properties, b.activities).zip(targets).map {
          case (df, (name, key, t)) => () =>
            // repartition on the bucket key FIRST: repartition's
            // HashPartitioning and the bucket-file assignment use the
            // same murmur3 pmod, so each write task holds exactly one
            // bucket and emits exactly one file — without it every scan
            // task writes its own file per bucket (~94 files/bucket at
            // sf0.1, 3 000 tiny files per table)
            df.repartition(buckets, org.apache.spark.sql.functions.col(key))
              .write.mode(mode)
              .bucketBy(buckets, key).sortBy(key)
              .option("path", s"$dir/$name").saveAsTable(t)
        }): Unit
      created = true
    }
    try body(append)
    finally targets.foreach { case (_, _, t) =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  /** Adopt bucketed brick FILES (written by
    * [[writeBrickBucketedFiles]], possibly by another JVM) as catalog
    * tables in THIS session, returning the catalog-backed Brick. The
    * external CREATE TABLE carries the bucket spec (CLUSTERED/SORTED
    * BY), which is what makes every scan report hashpartitioning(key,
    * buckets) — sid/pid-keyed aggregates and joins over the brick then
    * plan with their fact-side exchange ELIDED, and the partitioning
    * survives a persist() (InMemoryRelation keeps the cached plan's
    * output partitioning; BrickLayoutSpec pins both). Table names are
    * keyed by a hash of the RESOLVED dir — not just the content key —
    * so differently-sourced bricks coexist AND two artifact-store
    * BASES holding the same content never collide on one table (a
    * temp-store test registering then deleting its base must not
    * leave a default-base session reading the dead location).
    * Registration is idempotent per session; an adopted existing
    * table is REFRESHed so a pruned-and-rebuilt dir (same path, new
    * part files) doesn't serve stale file listings. The column schema
    * comes from the files' footers ([[graft.ArtifactStore.readParquet]]),
    * not from an inference job per table.
    */
  def registerBrickBucketedFiles(spark: SparkSession, dir: String,
      buckets: Int): Harmonize.Brick = {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_brick")
    def reg(name: String, key: String): org.apache.spark.sql.DataFrame = {
      val tbl = brickTable(dir, name)
      if (!spark.catalog.tableExists(tbl))
        spark.sql(
          s"""CREATE TABLE $tbl
             |(${graft.ArtifactStore.readParquet(spark, s"$dir/$name")
                  .schema.toDDL})
             |USING parquet
             |CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS
             |LOCATION '$dir/$name'""".stripMargin)
      else spark.sql(s"REFRESH TABLE $tbl")
      spark.table(tbl)
    }
    Harmonize.Brick(reg("substances", "sid"), reg("properties", "pid"),
      reg("activities", "sid"))
  }

  /** Catalog name of brick table `name` adopted from `dir`. */
  private def brickTable(dir: String, name: String): String =
    s"graft_brick.${name}_" + java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(12)

  /** Drop the tables [[registerBrickBucketedFiles]] adopted from `dir`,
    * if any; the files stay (the tables are external).
    */
  private[graft] def dropBrickTables(spark: SparkSession,
      dir: String): Unit =
    Seq("substances", "properties", "activities").map(brickTable(dir, _))
      .filter(spark.catalog.tableExists)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
}
