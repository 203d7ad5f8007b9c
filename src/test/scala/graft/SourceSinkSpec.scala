package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.harmonize.Harmonize
import graft.sources.{EventsAdapter, OrdersAdapter}

/** S2 (glob/recursive scan + path provenance) and S9 (parquet sink) —
  * the staging-directory round trip the reference's harmonize performs
  * (src/80_harmonize.py:20-43).
  */
class SourceSinkSpec extends SparkSpec {
  import spark.implicits._

  test("staging sink + recursive glob scan + path provenance round-trip") {
    val root = Files.createTempDirectory("graft-staging").toString
    val staged = Seq(EventsAdapter, OrdersAdapter)
      .map(a => a.name -> a.staging(spark, sf()))
    // S9: one triplet directory per source, overwrite mode
    staged.foreach { case (name, t) =>
      t.substances.write.mode("overwrite")
        .parquet(s"$root/$name/substances.parquet")
    }
    // S2+S3: recursive scan over the staging tree, source from the path
    val scanned = spark.read
      .option("recursiveFileLookup", "true")
      .parquet(s"$root")
      .withColumn("source",
        regexp_extract(input_file_name(), s"$root/([^/]+)/", 1))
    val bySource = scanned.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = staged.map { case (n, t) =>
      n -> t.substances.count()
    }.toMap
    assert(bySource == expected)
  }

  test("parquet sink preserves schema and rows exactly (S9)") {
    val dir = Files.createTempDirectory("graft-sink").toString + "/acts"
    implicit val s = spark
    val brick = Harmonize.brick(spark, sf(), Seq(EventsAdapter, OrdersAdapter))
    brick.activities.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    // parquet read-back is always nullable; compare names + types
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq
      == brick.activities.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.exceptAll(brick.activities).count() == 0)
    assert(brick.activities.exceptAll(back).count() == 0)
  }

  test("source-partitioned brick: static pruning reaches the scan") {
    // SURVEY §4 "partition brick by source": a literal source predicate
    // must prune to one directory instead of scanning the whole brick —
    // at reference scale that is 24 GB (pubchem) instead of 43 GB.
    val dir = Files.createTempDirectory("graft-part").toString + "/acts"
    val brick = Harmonize.brick(spark, sf(), Seq(EventsAdapter, OrdersAdapter))
    brick.activities.write.mode("overwrite")
      .partitionBy("source").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("source") === "events")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head
    val scanStr = scan.toString
    assert(scanStr.contains("PartitionFilters") &&
      scanStr.contains("source"), scanStr)
    assert(pruned.count() ==
      brick.activities.filter(col("source") === "events").count())
    // and the partition column round-trips (moved to directory, restored
    // on read)
    assert(spark.read.parquet(dir).columns.toSet
      == brick.activities.columns.toSet)
  }

  test("dynamic partition pruning fires on a dimension-filtered join") {
    // The 100 TB shape: fact partitioned by a key, dimension filter only
    // known at runtime — DPP injects a subquery filter into the fact
    // scan so only matching partitions are read.
    val dir = Files.createTempDirectory("graft-dpp").toString + "/fact"
    Tables.orders(spark, sf())
      .withColumn("bucket", (col("o_custkey") % 8).cast("int"))
      .write.mode("overwrite").partitionBy("bucket").parquet(dir)
    val fact = spark.read.parquet(dir)
    val dim = spark.range(0, 8).select(col("id").cast("int").as("bucket"),
        (col("id") % 2).as("flag"))
      .filter(col("flag") === 0)
    val joined = fact.join(dim, Seq("bucket"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("DynamicPruning")
      || plan.contains("dynamicpruningexpression"), plan)
    val expected = Tables.orders(spark, sf())
      .filter((col("o_custkey") % 8) % 2 === 0).count()
    assert(joined.count() == expected)
  }

  test("dynamic partition overwrite replaces only the re-run source") {
    // The re-run-one-integrator workflow: overwriting the brick with a
    // fresh batch from ONE source must leave every other source's
    // partition untouched — static overwrite would drop them all.
    val dir = Files.createTempDirectory("graft-dpo").toString + "/acts"
    val brick = Harmonize.brick(spark, sf(), Seq(EventsAdapter, OrdersAdapter))
    brick.activities.write.mode("overwrite")
      .partitionBy("source").parquet(dir)
    val ordersRows = spark.read.parquet(dir)
      .filter(col("source") === "orders").count()
    val saved = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // re-run the events integrator on a restricted slice and overwrite
      val rerun = brick.activities.filter(col("source") === "events")
        .limit(10)
      rerun.write.mode("overwrite").partitionBy("source").parquet(dir)
      val after = spark.read.parquet(dir)
      assert(after.filter(col("source") === "events").count() == 10)
      // the orders partition survived the overwrite
      assert(after.filter(col("source") === "orders").count() == ordersRows)
    } finally {
      saved match {
        case Some(v) => spark.conf.set(
          "spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset(
          "spark.sql.sources.partitionOverwriteMode")
      }
    }
  }

  test("mergeSchema reads evolving staging triplets as one union schema") {
    // Integrators evolve independently: a later staging batch adds a
    // column (the reference's numvalue appeared in one source first).
    // mergeSchema must surface the union schema with nulls for old
    // batches instead of failing or silently dropping the column.
    val dir = Files.createTempDirectory("graft-evolve").toString + "/staging"
    Seq(("a1", "s1", "positive")).toDF("aid", "sid", "value")
      .write.parquet(s"$dir/batch=1")
    Seq(("a2", "s2", "negative", 0.5)).toDF("aid", "sid", "value", "numvalue")
      .write.parquet(s"$dir/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet ==
      Set("aid", "sid", "value", "numvalue", "batch"))
    val old = merged.filter(col("aid") === "a1").head
    assert(old.isNullAt(old.fieldIndex("numvalue")))
    assert(merged.filter(col("numvalue").isNotNull).count() == 1)
  }

  test("ORC sink/scan round-trips rows and pushes filters like parquet") {
    val dir = Files.createTempDirectory("graft-orc").toString
    val src = Tables.nation(spark, sf())
    src.write.mode("overwrite").orc(s"$dir/nation.orc")
    val back = spark.read.orc(s"$dir/nation.orc")
    assert(back.schema == src.schema)
    assert(back.exceptAll(src).count() == 0 && src.exceptAll(back).count() == 0)
    // predicate pushdown reaches the ORC scan too
    val plan = back.filter(col("n_regionkey") === 1)
      .select(col("n_name")).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("n_regionkey"),
      s"ORC pushdown expected:\n$plan")
  }

  test("permissive JSON ingestion quarantines corrupt records") {
    // Real feeds carry broken lines; ingestion must keep good rows,
    // capture bad ones for triage, and never fail the job (PERMISSIVE —
    // the default — vs FAILFAST, which a 100 TB backfill cannot afford).
    val dir = Files.createTempDirectory("graft-corrupt").toString
    val f = new java.io.File(s"$dir/feed.jsonl")
    val w = new java.io.PrintWriter(f)
    w.println("""{"event_type": "click", "weight": 1.5}""")
    w.println("""{"event_type": "view", "weight": }""") // broken
    w.println("""not json at all""")
    w.println("""{"event_type": "signup", "weight": 2.0}""")
    w.close()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("weight",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("_corrupt_record",
        org.apache.spark.sql.types.StringType)))
    val read = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(s"$dir/feed.jsonl")
      .cache() // corrupt-record column requires a materialized referent
    assert(read.count() == 4)
    assert(read.filter(col("_corrupt_record").isNotNull).count() == 2)
    assert(read.filter(col("_corrupt_record").isNull)
      .select(col("event_type")).as[String].collect().sorted.toSeq ==
      Seq("click", "signup"))
    read.unpersist()
  }

  test("event_weights.jsonl matches the s12 oracle's literal table") {
    // the s12 DuckDB oracle hardcodes these four (event_type, weight)
    // pairs in a VALUES list (SourceSinkQueries.oracle) — editing the
    // resource without the oracle (or vice versa) must fail HERE, not
    // desynchronize silently
    val pairs = spark.read.json("/root/repo/resources/event_weights.jsonl")
      .select(col("event_type"), col("weight"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toSet
    val oracleLiterals = Set("click" -> 0.5, "purchase" -> 2.0,
      "signup" -> 1.5, "view" -> 0.25)
    assert(pairs == oracleLiterals, pairs)
    val sql = graft.queries.SourceSinkQueries.oracle("s12_jsonl_weights")
    oracleLiterals.foreach { case (t, w) =>
      assert(sql.contains(s"('$t', $w)"), s"oracle VALUES missing ($t, $w)")
    }
  }
}
