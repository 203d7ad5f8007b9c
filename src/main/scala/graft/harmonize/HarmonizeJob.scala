package graft.harmonize

import org.apache.spark.sql.SparkSession

/** The reference's harmonize entry point as a standalone job
  * (ref: dvc.yaml harmonize stage + src/80_harmonize.py):
  * `runMain graft.harmonize.HarmonizeJob <sfDir> <outDir>` builds the
  * brick from every registered adapter, writes the three tables as
  * parquet (overwrite — rerun-from-scratch idempotent like the
  * reference, SURVEY §2.11), runs the DataQuality suite, and exits
  * non-zero on any failed check.
  */
object HarmonizeJob {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.addOptimization(spark, graft.plans.PushDistinctThroughUnion)

    val adapters = graft.sources.SourceAdapter.all
    val brick = Harmonize.cachedBrick(spark, sfDir, adapters)
    brick.substances.write.mode("overwrite").parquet(s"$outDir/substances.parquet")
    brick.properties.write.mode("overwrite").parquet(s"$outDir/properties.parquet")
    brick.activities.write.mode("overwrite").parquet(s"$outDir/activities.parquet")

    val results = DataQuality.run(brick, adapters.map(_.name).toSet)
    results.foreach { r =>
      println(f"[dq] ${if (r.passed) "PASS" else "FAIL"}%-4s ${r.name}%-30s ${r.detail}")
    }
    spark.stop()
    if (results.exists(!_.passed)) sys.exit(1)
  }
}
