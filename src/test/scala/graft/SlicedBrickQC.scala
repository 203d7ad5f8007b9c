package graft

import org.apache.spark.sql.functions._
import graft.harmonize.{DataQuality, Harmonize}
import graft.sources.SourceAdapter

/** Dev tool: independent correctness receipts over a SLICED-assembled
  * brick dir (SlicedAssemblyProbe's output: the bucketed layout that
  * `Harmonize.buildBrickBucketedTo` writes, read here as plain parquet,
  * without the bucket metadata) — the reference's own
  * 10-check QC suite plus per-source row counts, so the fifth-decade
  * completion receipt carries the same integrity evidence the gate
  * brick does (HarmonizeSpec pins sliced ≡ one-shot at gate scale;
  * this validates the at-scale artifact itself).
  *
  * `sbt "Test/runMain graft.SlicedBrickQC [brickDir]"`
  */
object SlicedBrickQC {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/target/sliced-brick")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus, "sliced-brick-qc")
    spark.sparkContext.setLogLevel("ERROR")
    def rd(n: String) = spark.read.parquet(s"$dir/$n")
    val brick = Harmonize.Brick(rd("substances"), rd("properties"),
      rd("activities"))
    val t0 = System.nanoTime()
    val perSource = brick.activities.groupBy(col("source"))
      .agg(count(lit(1)).as("n_acts"),
        countDistinct(col("sid")).as("n_sids"),
        countDistinct(col("pid")).as("n_pids"))
      .orderBy(col("source")).collect()
    perSource.foreach(r => println(s"[qc] ${r.mkString(" ")}"))
    val dq = DataQuality.run(brick, SourceAdapter.all.map(_.name).toSet)
    dq.foreach(c => println(s"[qc] ${if (c.passed) "PASS" else "FAIL"} " +
      s"${c.name}: ${c.detail}"))
    println(f"[qc] ${dq.count(_.passed)}/${dq.size} checks passed in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1fs")
    spark.stop()
  }
}
