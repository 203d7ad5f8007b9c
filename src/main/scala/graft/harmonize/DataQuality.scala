package graft.harmonize

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

/** Reusable data-quality suite — the reference's embedded assertions
  * (SURVEY §2.12) as named, composable checks over a Brick. The
  * reference fails its DVC stage on these (src/80_harmonize.py:96-105,
  * src/tests.py:17-56); here they return structured results so callers
  * choose between hard-fail (HarmonizeJob) and reporting.
  *
  * One Spark action: the ten checks read one row, collected once from
  * a cross join of four one-row aggregates — the substances count;
  * properties per source (rows, distinct pid); activities per source
  * after left joins to the distinct sids and pids (rows, distinct pid,
  * orphan sids, orphan pids, values outside the vocabulary); and the
  * activities' distinct aid. The per-source rows fold into one row
  * with collect_list, so nothing reaches the driver beyond one entry
  * per source. It runs on any Brick, an adopted one included, which
  * has no build pass to observe.
  *
  * Null semantics are those of the per-check formulas this replaces:
  * the uniqueness checks count null as one value (as `distinct()`
  * does), the per-source pid count of activities ignores null (as
  * `countDistinct` does), an activity with a null sid or pid is an
  * orphan (a null key never matches), and a null value is not outside
  * the vocabulary (a null predicate drops the row from the count).
  */
object DataQuality {

  case class CheckResult(name: String, passed: Boolean, detail: String)

  /** Row-count floors, scaled by `minRows` (the reference hard-codes
    * 1e6/1e3/1e7 at production scale, src/80_harmonize.py:96-99).
    */
  def run(brick: Harmonize.Brick, adapterNames: Set[String],
      minRows: Long = 1): Seq[CheckResult] = {
    val subs = brick.substances.agg(count(lit(1)).as("n"))
    val props = brick.properties.groupBy("source")
      .agg(count(lit(1)).as("rows"), distinctWithNull(col("pid")).as("pids"))
      .agg(collect_list(struct("source", "rows", "pids")).as("props"))
    val sids = brick.substances.select("sid").distinct()
      .withColumn("__sid_ok", lit(true))
    val pids = brick.properties.select("pid").distinct()
      .withColumn("__pid_ok", lit(true))
    val acts = brick.activities
      .join(sids, Seq("sid"), "left").join(pids, Seq("pid"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("rows"), countDistinct(col("pid")).as("pids"),
        count(when(col("__sid_ok").isNull, 1)).as("orphan_sids"),
        count(when(col("__pid_ok").isNull, 1)).as("orphan_pids"),
        count(when(!col("value").isin("positive", "negative"), 1))
          .as("bad_values"))
      .agg(collect_list(struct("source", "rows", "pids", "orphan_sids",
        "orphan_pids", "bad_values")).as("acts"))
    val aids = brick.activities.agg(distinctWithNull(col("aid")).as("aids"))
    val r = subs.crossJoin(props).crossJoin(acts).crossJoin(aids).head()

    val propRows = r.getSeq[Row](1)
    val actRows = r.getSeq[Row](2)
    def total(rows: Seq[Row], field: String): Long =
      rows.map(_.getAs[Long](field)).sum
    val nSubs = r.getLong(0)
    val nProps = total(propRows, "rows")
    val nActs = total(actRows, "rows")
    val pidDupes = nProps - total(propRows, "pids")
    val aidDupes = nActs - r.getLong(3)
    val orphanSids = total(actRows, "orphan_sids")
    val orphanPids = total(actRows, "orphan_pids")
    val badValues = total(actRows, "bad_values")
    val badSources = actRows.map(_.getString(0)).toSet -- adapterNames
    val propCounts = bySource(propRows, "rows")
    val actPidCounts = bySource(actRows, "pids")

    Seq(
      CheckResult("substances_nonempty", nSubs >= minRows,
        s"substances=$nSubs (floor $minRows)"),
      CheckResult("properties_nonempty", nProps >= 1,
        s"properties=$nProps"),
      CheckResult("activities_nonempty", nActs >= minRows,
        s"activities=$nActs (floor $minRows)"),
      CheckResult("pid_unique_per_source", pidDupes == 0,
        s"dupes=$pidDupes"),
      CheckResult("sources_closed", badSources.isEmpty,
        s"unknown=${badSources.toSeq.sortBy(Option(_)).mkString(",")}"),
      CheckResult("aid_unique", aidDupes == 0, s"dupes=$aidDupes"),
      CheckResult("fk_sid", orphanSids == 0, s"orphans=$orphanSids"),
      CheckResult("fk_pid", orphanPids == 0, s"orphans=$orphanPids"),
      CheckResult("property_count_consistency",
        propCounts == actPidCounts,
        s"properties=${show(propCounts)} activities=${show(actPidCounts)}"),
      CheckResult("closed_value_vocabulary", badValues == 0,
        s"bad=$badValues"))
  }

  /** `countDistinct` counting null as one more value, as `distinct()`
    * does.
    */
  private def distinctWithNull(c: Column): Column =
    countDistinct(c) + coalesce(max(c.isNull.cast("long")), lit(0L))

  private def bySource(rows: Seq[Row], field: String): Map[String, Long] =
    rows.map(r => r.getString(0) -> r.getAs[Long](field)).toMap

  /** A per-source map sorted by source, a null source first. */
  private def show(m: Map[String, Long]): String =
    m.toSeq.sortBy(kv => Option(kv._1)).map { case (k, v) => s"$k -> $v" }
      .mkString("Map(", ", ", ")")
}
