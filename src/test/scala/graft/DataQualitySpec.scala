package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.harmonize.{DataQuality, Harmonize}
import graft.harmonize.DataQuality.CheckResult

/** Fault injection for `DataQuality.run`: a hand-built clean brick, one
  * fault at a time, and for every case the exact set of checks that
  * fail. Each result is also compared, verdict and detail, with the
  * per-check formulas the suite ran before it became one action (one
  * Spark action each, written inline below as the oracle), null rows
  * included: `distinct()` counts a null as a value, `countDistinct`
  * does not.
  */
class DataQualitySpec extends SparkSpec {
  import spark.implicits._

  private val names = Set("a", "b")

  // pid p2 belongs to both sources, so a duplicate (pid, source) can
  // replace (p2, a) without orphaning an activity
  private def substances(rows: (String, String)*): DataFrame =
    rows.toDF("sid", "source").withColumn("data", lit("{}"))
  private def properties(rows: (String, String)*): DataFrame =
    rows.toDF("pid", "source").withColumn("data", lit("{}"))
  private def activities(rows: (String, String, String, String, String)*)
      : DataFrame = rows.toDF("aid", "sid", "pid", "source", "value")

  private val clean = Harmonize.Brick(
    substances(("s1", "a"), ("s2", "a"), ("s3", "b")),
    properties(("p1", "a"), ("p2", "a"), ("p2", "b"), ("p3", "b")),
    activities(
      ("x1", "s1", "p1", "a", "positive"),
      ("x2", "s2", "p2", "a", "negative"),
      ("x3", "s1", "p2", "b", "positive"),
      ("x4", "s3", "p3", "b", "negative"),
      ("x5", "s2", "p3", "b", "positive")))

  private def withActs(rows: (String, String, String, String, String)*) =
    clean.copy(activities = clean.activities.union(activities(rows: _*)))

  /** The suite as it ran before: one action per formula. Map details
    * print sorted by source, as `DataQuality` prints them.
    */
  private def oracle(brick: Harmonize.Brick, adapterNames: Set[String],
      minRows: Long): Seq[CheckResult] = {
    val nSubs = brick.substances.count()
    val nProps = brick.properties.count()
    val nActs = brick.activities.count()
    val pidDupes = nProps -
      brick.properties.select("pid", "source").distinct().count()
    val badSources = brick.activities.select("source").distinct()
      .collect().map(_.getString(0)).toSet -- adapterNames
    val aidDupes = nActs - brick.activities.select("aid").distinct().count()
    val orphanSids = brick.activities
      .join(brick.substances.select("sid"), Seq("sid"), "left_anti").count()
    val orphanPids = brick.activities
      .join(brick.properties.select("pid"), Seq("pid"), "left_anti").count()
    val propCounts = brick.properties.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val actPidCounts = brick.activities.groupBy("source")
      .agg(countDistinct(col("pid")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val badValues = brick.activities
      .filter(!col("value").isin("positive", "negative")).count()
    def show(m: Map[String, Long]): String =
      m.toSeq.sortBy(kv => Option(kv._1))
        .map { case (k, v) => s"$k -> $v" }.mkString("Map(", ", ", ")")
    Seq(
      CheckResult("substances_nonempty", nSubs >= minRows,
        s"substances=$nSubs (floor $minRows)"),
      CheckResult("properties_nonempty", nProps >= 1, s"properties=$nProps"),
      CheckResult("activities_nonempty", nActs >= minRows,
        s"activities=$nActs (floor $minRows)"),
      CheckResult("pid_unique_per_source", pidDupes == 0, s"dupes=$pidDupes"),
      CheckResult("sources_closed", badSources.isEmpty,
        s"unknown=${badSources.toSeq.sortBy(Option(_)).mkString(",")}"),
      CheckResult("aid_unique", aidDupes == 0, s"dupes=$aidDupes"),
      CheckResult("fk_sid", orphanSids == 0, s"orphans=$orphanSids"),
      CheckResult("fk_pid", orphanPids == 0, s"orphans=$orphanPids"),
      CheckResult("property_count_consistency", propCounts == actPidCounts,
        s"properties=${show(propCounts)} activities=${show(actPidCounts)}"),
      CheckResult("closed_value_vocabulary", badValues == 0,
        s"bad=$badValues"))
  }

  private def failing(brick: Harmonize.Brick, adapterNames: Set[String] =
      names, minRows: Long = 1): Set[String] = {
    val res = DataQuality.run(brick, adapterNames, minRows)
    assert(res == oracle(brick, adapterNames, minRows))
    res.filterNot(_.passed).map(_.name).toSet
  }

  test("the clean brick passes all ten checks") {
    val res = DataQuality.run(clean, names)
    assert(res.map(_.name) == Seq("substances_nonempty",
      "properties_nonempty", "activities_nonempty", "pid_unique_per_source",
      "sources_closed", "aid_unique", "fk_sid", "fk_pid",
      "property_count_consistency", "closed_value_vocabulary"))
    assert(res == oracle(clean, names, 1))
    assert(res.forall(_.passed), res.filterNot(_.passed))
    assert(res.find(_.name == "property_count_consistency").get.detail ==
      "properties=Map(a -> 2, b -> 2) activities=Map(a -> 2, b -> 2)")
  }

  test("each injected fault flips exactly its own check") {
    // duplicate aid: the same activity row twice
    assert(failing(withActs(("x1", "s1", "p1", "a", "positive"))) ==
      Set("aid_unique"))
    // orphan sid
    assert(failing(withActs(("x6", "s9", "p1", "a", "positive"))) ==
      Set("fk_sid"))
    // orphan pid: source a's activities name p9 where they named p1,
    // so a still has two distinct pids against two property rows
    assert(failing(clean.copy(activities = clean.activities.withColumn(
      "pid", when(col("pid") === "p1", "p9").otherwise(col("pid"))))) ==
      Set("fk_pid"))
    // duplicate (pid, source): (p2, a) becomes a second (p1, a); p2
    // stays a property through source b
    assert(failing(clean.copy(properties = properties(("p1", "a"),
      ("p1", "a"), ("p2", "b"), ("p3", "b")))) == Set("pid_unique_per_source"))
    // unknown source: b renamed to c in both tables
    def rename(df: DataFrame) = df.withColumn("source",
      when(col("source") === "b", "c").otherwise(col("source")))
    assert(failing(Harmonize.Brick(rename(clean.substances),
      rename(clean.properties), rename(clean.activities))) ==
      Set("sources_closed"))
    // value outside the vocabulary
    assert(failing(clean.copy(activities = clean.activities.withColumn(
      "value", when(col("aid") === "x2", "maybe").otherwise(col("value"))))) ==
      Set("closed_value_vocabulary"))
    // a floor above the substances count (3), not above activities (5)
    assert(failing(clean, minRows = 4) == Set("substances_nonempty"))
  }

  test("empty tables fail their floor and the checks that read them") {
    def empty(df: DataFrame) = df.limit(0)
    assert(failing(clean.copy(substances = empty(clean.substances))) ==
      Set("substances_nonempty", "fk_sid"))
    assert(failing(clean.copy(properties = empty(clean.properties))) ==
      Set("properties_nonempty", "fk_pid", "property_count_consistency"))
    assert(failing(clean.copy(activities = empty(clean.activities))) ==
      Set("activities_nonempty", "property_count_consistency"))
    assert(failing(clean.copy(activities = empty(clean.activities)),
      minRows = 0) == Set("property_count_consistency"))
  }

  test("null rows keep the per-check formulas' semantics") {
    val nul: String = null
    // one null aid is one distinct value; two are a duplicate
    assert(failing(withActs((nul, "s1", "p1", "a", "positive"))) == Set())
    assert(failing(withActs((nul, "s1", "p1", "a", "positive"),
      (nul, "s2", "p2", "a", "negative"))) == Set("aid_unique"))
    // a null pid or sid never joins: an orphan, but not a distinct pid
    assert(failing(withActs(("x7", "s1", nul, "a", "positive"))) ==
      Set("fk_pid"))
    assert(failing(withActs(("x7", nul, "p1", "a", "positive"))) ==
      Set("fk_sid"))
    // a null value is not outside the vocabulary
    assert(failing(withActs(("x7", "s1", "p1", "a", nul))) == Set())
    // a null-pid property is one more property row for its source;
    // two in one source are also a duplicate (pid, source)
    val nullProp = clean.copy(properties =
      clean.properties.union(properties((nul, "a"))))
    assert(failing(nullProp) == Set("property_count_consistency"))
    assert(failing(nullProp.copy(properties =
      nullProp.properties.union(properties((nul, "a"))))) ==
      Set("property_count_consistency", "pid_unique_per_source"))
    // a null source is unknown, and a key of both per-source maps
    val nullSource = Harmonize.Brick(clean.substances,
      clean.properties.union(properties(("p4", nul))),
      clean.activities.union(activities(("x8", "s1", "p4", nul, "positive"))))
    assert(failing(nullSource) == Set("sources_closed"))
    assert(DataQuality.run(nullSource, names)
      .find(_.name == "sources_closed").get.detail == "unknown=null")
  }

  test("the suite runs as one Spark action") {
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = actions.incrementAndGet()
      def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = actions.incrementAndGet()
    }
    val brick = withActs(("x6", "s9", "p9", "c", "maybe"))
    brick.activities.count() // plan the inputs outside the count
    val drain = org.apache.spark.sql.graftbridge.Bridge.drainListenerBus _
    drain(spark, 10000L)
    spark.listenerManager.register(listener)
    try {
      val res = DataQuality.run(brick, names)
      drain(spark, 10000L)
      assert(actions.get() == 1, s"${actions.get()} actions")
      assert(res.count(!_.passed) == 5, res)
      // the formulas it replaces took eleven
      actions.set(0)
      oracle(brick, names, 1)
      drain(spark, 10000L)
      assert(actions.get() == 11, s"${actions.get()} actions")
    } finally spark.listenerManager.unregister(listener)
  }
}
