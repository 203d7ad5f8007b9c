package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S7: remote-lookup source with checkpointed cache and per-partition
  * rate limiting — the reference's PubChem CAS→CID pattern
  * (ref: src/07_integrate_ctdbase.R:13-28: REST call, memoised to disk,
  * 300 ms sleep between calls).
  *
  * Architecture: `fetch` is pluggable (an HTTP client in a real
  * deployment; deterministic stubs in this zero-egress container — same
  * stance as Enrich.Labeler). Misses are found with an anti-join against
  * the parquet cache table, fetched on executors inside `mapPartitions`
  * with a per-partition pacer, appended to the cache, and served from it
  * thereafter — so a re-run fetches nothing.
  *
  * Scale notes: the rate limit is per partition (the reference's global
  * 300 ms driver-side sleep would serialize a cluster); coalesce the
  * miss frame to bound aggregate request rate (`maxConcurrency`).
  *
  * Concurrency contract: check-then-append is not atomic — single writer
  * assumed (same as the reference's disk memo). The read path dedups on
  * key and returns only the requested keys, so a retry-duplicated cache
  * never yields duplicate join rows downstream.
  */
class CachedLookupSource(fetch: String => Option[String],
    cacheDir: String, minIntervalMs: Long, maxConcurrency: Int = 4)
    extends Serializable {

  private val fetchFn = fetch

  def lookup(spark: SparkSession, keys: DataFrame): DataFrame = {
    import spark.implicits._
    val wanted = keys.select(col(keys.columns.head).as("key")).distinct()
    // the cache's fixed schema: reading with it skips schema inference
    def cached = spark.read.schema("key STRING, value STRING").parquet(cacheDir)
    val path = new org.apache.hadoop.fs.Path(cacheDir)
    // no cache dir yet: every key is a miss, no probe job needed
    val cold = !path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(path)
    val misses =
      if (cold) wanted
      else wanted.join(cached.select("key"), Seq("key"), "left_anti")
    if (cold || !misses.isEmpty) {
      val interval = minIntervalMs
      val f = fetchFn
      misses.coalesce(maxConcurrency).as[String].mapPartitions { it =>
        var last = 0L
        it.map { k =>
          val wait = last + interval - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          last = System.currentTimeMillis()
          k -> f(k).orNull
        }
      }.toDF("key", "value")
        .filter(col("value").isNotNull)
        .write.mode("append").parquet(cacheDir)
    }
    // min() rather than dropDuplicates: deterministic winner if a retry
    // ever appended two values for one key
    cached.groupBy(col("key")).agg(min(col("value")).as("value"))
      .join(wanted, Seq("key"), "left_semi")
  }
}
