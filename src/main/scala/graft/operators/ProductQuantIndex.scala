package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted product-quantization index — the artifact form of the ann9
  * query, completing the index family (minhash/simhash bands,
  * ScalarQuantIndex):
  *
  *   codebooks: (b, cid, cv: array<double>)   — subspaces × k rows, broadcast
  *   codes:     (vec_id, code: array<int>)    — one byte-sized id per subspace
  *
  * A 64-dim float corpus becomes 4 ints per vector (64× compression) plus
  * 32 centroid rows. ADC search keeps the QUERY exact (its normalized
  * slices) and decodes each NEIGHBOR as its per-subspace centroids — so
  * search needs the artifact plus only the query rows' originals, never
  * the corpus vectors. Training follows ann9: per-subspace L2 k-means on
  * a bounded deterministic sample, decimal-exact means, deterministic
  * tiebreaks throughout — same build in, same artifact out, on any
  * partitioning.
  */
object ProductQuantIndex {

  val Subspaces = 4
  val SubDim = 16
  val K = 8
  val Rounds = 2
  val TrainIds = 256L

  // (‖s‖² − 2 s·c) + ‖c‖², each dot a sequential fold — deterministic
  private val l2 = "(aggregate(zip_with(sv, sv, (x, y) -> x * y), 0D, " +
    "(a, b) -> a + b) - 2D * aggregate(zip_with(sv, cv, " +
    "(x, y) -> x * y), 0D, (a, b) -> a + b)) + " +
    "aggregate(zip_with(cv, cv, (x, y) -> x * y), 0D, (a, b) -> a + b)"

  private def assignL2(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("__d2").asc, col("cid"))
    vecs.crossJoin(broadcast(cents))
      .withColumn("__d2", expr(l2))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__d2", "__rk", "cv")
  }

  /** Train codebooks and encode the corpus: (codebooks, codes).
    *
    * The per-subspace slice checkpoints and the intermediate Lloyd-round
    * centroids only feed the training/encode passes that run eagerly
    * inside this method (localCheckpoint materializes on the spot); once
    * the final code table is checkpointed they are dead weight, so their
    * blocks are released before returning — repeated builds (the ann9
    * validator used to retrain per bench pass) no longer accumulate
    * persisted RDDs.
    */
  def build(e: DataFrame): (DataFrame, DataFrame) =
    buildScalar(ScalarQuantIndex.normalizedScalar(e))

  /** Train + encode from an arbitrary (vec_id, pos, nvv) scalar view —
    * the residual-PQ path (ann12) trains on coarse-centroid residuals
    * instead of the normalized vectors; `build` is the identity view.
    */
  /** (vec_id, sv): subspace `b`'s 16-element slice of a (vec_id, pos,
    * nvv) scalar view — THE slice builder. buildScalar, encode, and
    * searchFrames all go through it: the encode-reproduces-build and
    * candidate≡full-search guarantees depend on the slice arithmetic
    * being literally shared, not textually copied.
    */
  private def subSlice(nvd: DataFrame, b: Int): DataFrame =
    nvd.filter(col("pos") >= b * SubDim && col("pos") < (b + 1) * SubDim)
      .groupBy(col("vec_id"))
      .agg(expr("transform(sort_array(collect_list(struct(pos, nvv))), " +
        "x -> x.nvv)").as("sv"))

  def buildScalar(scalarView: DataFrame): (DataFrame, DataFrame) = {
    val spent = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val nvd = scalarView
    val perSub = (0 until Subspaces).map { b =>
      val sub = subSlice(nvd, b)
        .coalesce(4)
        .localCheckpoint()
      spent += sub
      val tsub = sub.filter(col("vec_id") < TrainIds)
      val init = tsub.filter(col("vec_id") < K)
        .select(col("vec_id").cast("long").as("cid"), col("sv").as("cv"))
      val trained = (1 to Rounds).foldLeft(init) { (cents, r) =>
        val next = KMeans.meanCentroids(assignL2(tsub, cents), "sv")
          .coalesce(1).localCheckpoint()
        if (r < Rounds) spent += next
        next
      }
      val codes = assignL2(sub, trained)
        .select(col("vec_id"), lit(b).as("b"), col("cid"))
      (trained.withColumn("b", lit(b)), codes)
    }
    val codebooks = perSub.map(_._1).reduce(_ unionByName _)
      .select(col("b"), col("cid"), col("cv"))
    // checkpoint the code table: ADC reads it once per subspace (4×),
    // and without this each leg would re-run every assignment pass
    val codes = perSub.map(_._2).reduce(_ unionByName _)
      .groupBy(col("vec_id"))
      .agg(expr("transform(sort_array(collect_list(struct(b, cid))), " +
        "s -> cast(s.cid AS int))").as("code"))
      .coalesce(4)
      .localCheckpoint()
    // codes is materialized (eager localCheckpoint) and codebooks rides
    // only on the final per-subspace trained checkpoints — the slice and
    // intermediate-round blocks are no longer reachable from either
    spent.foreach(graft.MemoRegistry.release)
    (codebooks, codes)
  }

  /** Encode vectors against FROZEN codebooks — no training. The
    * incremental-append path (`IvfPqIndex.append`): per-subspace
    * normalized slices L2-assigned to the EXISTING centroids, exactly
    * the build's own encode pass, so encoding the training corpus with
    * its own codebooks reproduces the build's code table bit-for-bit
    * (spec-pinned in `IvfPqIndexSpec`). At scale this is a scan + four
    * broadcast assignments — no shuffle beyond the per-vector slice
    * aggregation.
    */
  def encode(e: DataFrame, codebooks: DataFrame): DataFrame = {
    val nvd = ScalarQuantIndex.normalizedScalar(e)
    val perSub = (0 until Subspaces).map { b =>
      assignL2(subSlice(nvd, b), codebooks.filter(col("b") === b)
          .select(col("cid"), col("cv")))
        .select(col("vec_id"), lit(b).as("b"), col("cid"))
    }
    perSub.reduce(_ unionByName _)
      .groupBy(col("vec_id"))
      .agg(expr("transform(sort_array(collect_list(struct(b, cid))), " +
        "s -> cast(s.cid AS int))").as("code"))
  }

  /** The trained artifact per (session, sfDir), store-hosted: training
    * and encoding are the expensive, DETERMINISTIC part (decimal-exact
    * means, deterministic tiebreaks: same corpus in, bit-identical
    * artifact out), so a second JVM reads codebooks+codes instead of
    * re-running four subspace trainings, and warm passes run only the
    * ADC search — quantize once, search many.
    */
  def cached(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val Seq(books, codes) = graft.ArtifactStore.tableFrames(s, d,
      "embeddings", "pq", "pq-v1",
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER,
      "codebooks", "codes")(write(graft.Tables.embeddings(s, d), _))
    (books, codes)
  }

  def write(e: DataFrame, path: String): Unit = {
    val (codebooks, codes) = build(e)
    codebooks.coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    codes.write.mode("overwrite").parquet(s"$path/codes")
    // the artifact now lives in parquet; free the build's checkpoint
    // blocks instead of leaving them to the ContextCleaner
    Seq(codebooks, codes).foreach(graft.MemoRegistry.release)
  }

  /** ADC top-k from the artifact: exact query slices vs decoded
    * neighbors, fixed-order sum across subspaces (b0+b1+b2+b3 — a
    * groupBy-sum would add in nondeterministic order).
    */
  def search(spark: SparkSession, path: String, e: DataFrame,
      isQuery: org.apache.spark.sql.Column, k: Int): DataFrame =
    searchFrames(spark.read.parquet(s"$path/codebooks"),
      spark.read.parquet(s"$path/codes"), e, isQuery, k)

  /** Same ADC search against in-memory (codebooks, codes) frames — the
    * form ann9 validates end-to-end against its DuckDB replay.
    */
  def searchFrames(codebooks: DataFrame, codes: DataFrame, e: DataFrame,
      isQuery: org.apache.spark.sql.Column, k: Int): DataFrame = {
    // one tiny frame (queries × dims), read by all four ADC legs.
    // Collected to a LOCAL RELATION, not localCheckpoint'd: the query
    // side is bounded (the recall-audit contract pins Q ≤ ~10; Q × 64
    // dims rows), a local relation broadcasts for free in every leg,
    // and an eager per-execution checkpoint left an UNTRACKED
    // persistent RDD behind each search — the MemoSoak +1 whose
    // lifetime depended on GC timing (round-11 finding).
    val nvd = {
      val src = ScalarQuantIndex.normalizedScalar(e.filter(isQuery))
      val rows = src.collect()
      // the Q ≤ ~10 contract, ENFORCED: a mis-scoped isQuery predicate
      // (e.g. lit(true)) would silently materialize the whole corpus on
      // the driver and OOM it — fail loudly instead (ADVICE r11). 4096
      // is far above any recall-audit query set and far below driver
      // heap trouble.
      require(rows.length <= 4096, s"searchFrames collected " +
        s"${rows.length} query rows to the driver - isQuery must select " +
        "a bounded query set (<= 4096); for corpus-scale scoring use " +
        "the distributed candidate path (searchCandidates)")
      src.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), src.schema)
    }
    val subDots = (0 until Subspaces).map { b =>
      val q = subSlice(nvd, b)
        .select(col("vec_id").as("query_id"), col("sv").as("qs"))
      val n = codes
        .select(col("vec_id").as("neighbor_id"),
          expr(s"code[$b]").cast("long").as("cid"))
        .join(broadcast(codebooks.filter(col("b") === b)), Seq("cid"))
        .select(col("neighbor_id"), col("cv"))
      q.join(n, col("query_id") =!= col("neighbor_id"))
        .withColumn(s"dp$b", expr(
          "aggregate(zip_with(qs, cv, (x, y) -> x * y), 0D, " +
            "(a, b) -> a + b)"))
        .select(col("query_id"), col("neighbor_id"), col(s"dp$b"))
    }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id"))
    subDots.reduce((l, r) => l.join(r, Seq("query_id", "neighbor_id")))
      .withColumn("adc",
        col("dp0") + col("dp1") + col("dp2") + col("dp3"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** IVF-PQ search tail: ADC top-k over a PRE-GENERATED candidate set
    * `cands(query_id, neighbor_id)` — the inverted-file + product-
    * quantization composition (IVFADC), where the coarse probe bounds
    * the pairs and ADC only ever scores those. Plan shape for scale:
    * candidates hash-join the 4-int code table by neighbor_id (the one
    * corpus-sized exchange, proportional to probed-list occupancy, not
    * the corpus), then four 8-row broadcast codebook joins and one
    * broadcast of the query slices keep the whole score pipeline a
    * single narrow stage; the per-query window ranks only candidates.
    * Arithmetic is identical to [[searchFrames]]: sequential-fold dots
    * of the exact normalized query slices vs decoded subspace
    * centroids, fixed-order dp0+dp1+dp2+dp3, ties to the lowest
    * neighbor_id — so the DuckDB replay (ann11) reuses ann9's
    * per-subspace CTEs verbatim, restricted to the candidate pairs.
    */
  def searchCandidates(codebooks: DataFrame, codes: DataFrame,
      e: DataFrame, isQuery: org.apache.spark.sql.Column,
      cands: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id"))
    scoreCandidates(codebooks, codes, e, isQuery, cands)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** The scored form of [[searchCandidates]] — the candidate frame's
    * columns plus `adc`, no rank cut, for callers that combine the ADC
    * term with another score component before ranking (the
    * residual-IVFADC composition adds dot(query, coarse centroid) —
    * ann12). Extra candidate columns (e.g. the probe's list_id) pass
    * through, so the caller's follow-up terms can ride broadcast joins
    * on the SAME stream instead of re-joining pair-keyed frames.
    */
  /** (query_id, qv): the full normalized query vectors scoreCandidates
    * scores against — shared with ann12's centroid-dot term so the two
    * constructions can't drift.
    */
  def queryVectors(e: DataFrame,
      isQuery: org.apache.spark.sql.Column): DataFrame =
    ScalarQuantIndex.normalizedScalar(e.filter(isQuery))
      .groupBy(col("vec_id"))
      .agg(expr("transform(sort_array(collect_list(struct(pos, nvv))), " +
        "x -> x.nvv)").as("qv"))
      .select(col("vec_id").as("query_id"), col("qv"))

  def scoreCandidates(codebooks: DataFrame, codes: DataFrame,
      e: DataFrame, isQuery: org.apache.spark.sql.Column,
      cands: DataFrame): DataFrame = {
    val q = queryVectors(e, isQuery)
    val withCode = cands
      .join(codes.select(col("vec_id").as("neighbor_id"), col("code")),
        Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
    val scored = (0 until Subspaces).foldLeft(withCode) { (df, b) =>
      df.join(broadcast(codebooks.filter(col("b") === b)
          .select(col("cid").as(s"__cid$b"), col("cv").as(s"__cv$b"))),
          expr(s"cast(code[$b] AS bigint)") === col(s"__cid$b"))
        .withColumn(s"dp$b", expr(
          s"aggregate(zip_with(slice(qv, ${b * SubDim + 1}, $SubDim), " +
            s"__cv$b, (x, y) -> x * y), 0D, (a, b) -> a + b)"))
    }
    scored
      .withColumn("adc",
        col("dp0") + col("dp1") + col("dp2") + col("dp3"))
      .select(cands.columns.map(col).toSeq :+ col("adc"): _*)
  }
}
