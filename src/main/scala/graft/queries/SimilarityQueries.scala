package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.MemoRegistry.SessionMemo
import graft.Tables
import graft.functions.GraftFunctions

/** Similarity search over the `embeddings` table — brute-force cosine
  * top-k as the exact baseline, random-hyperplane LSH bucketing as the
  * scale path, and nearest-centroid assignment (the IVF building block).
  *
  * All cosine math runs through the native `cosine_sim` Catalyst
  * expression (graft.functions.CosineSim — fused codegen loop, no UDF,
  * no intermediate arrays).
  *
  * Scale notes: ann1 is O(Q×N) with the query side tiny (broadcast
  * nested-loop) — exact, fine for Q≪N, the baseline for recall checks.
  * ann2 buckets every vector by 4 hyperplane signs (16 buckets) so
  * search is an equi-join on bucket — at 100 TB this is the shape that
  * works: signatures are one narrow projection, candidates co-partition
  * by bucket id. ann3's centroid build is a (label, pos) hash aggregate
  * over exploded elements — decimal-summed for deterministic centroids.
  */
object SimilarityQueries extends QueryModule {

  /** 4 deterministic ±1 hyperplanes over 64 dims (seed 42). Literals on
    * both engines — the oracle embeds the same matrix.
    */
  private val planes: Seq[Seq[Int]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(4)(Seq.fill(64)(if (rnd.nextBoolean()) 1 else -1))
  }

  private def planeLitSpark(p: Seq[Int]): String =
    s"array(${p.map(v => s"${v}D").mkString(",")})"

  private def planeLitDuck(p: Seq[Int]): String =
    s"[${p.map(v => s"$v.0").mkString(",")}]"

  /** bucket = Σ_j [dot(v, plane_j) >= 0] << j, as a SQL expression. */
  private def bucketExprSpark(v: String): String =
    planes.zipWithIndex.map { case (p, j) =>
      s"(CASE WHEN aggregate(zip_with($v, ${planeLitSpark(p)}, " +
        s"(x, p) -> cast(x AS double) * p), 0D, (a, b) -> a + b) >= 0 " +
        s"THEN ${1 << j} ELSE 0 END)"
    }.mkString(" + ")

  private def bucketExprDuck(v: String): String =
    planes.zipWithIndex.map { case (p, j) =>
      s"(CASE WHEN list_dot_product($v::DOUBLE[], ${planeLitDuck(p)}) >= 0 " +
        s"THEN ${1 << j} ELSE 0 END)"
    }.mkString(" + ")

  private val duckCos =
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / " +
      "(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * " +
      "sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"

  /** DuckDB replay of ONE deterministic spherical Lloyd round from the
    * 8-lowest-vec_id init: `v` (double vectors) → `c0` (init) → `a1`
    * (first assignment) → `m1` (decimal-exact positional means) → `c1`
    * (trained centroids). Shared by the ann7 oracle and dd12's
    * SemDeDup oracle so the training-replay SQL can't drift between
    * them — the twin of [[graft.operators.KMeans.lloyd]] at iters = 1.
    */
  private[queries] val kmeansRoundCte: String =
    """WITH v AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS ev FROM embeddings),
      |c0 AS (SELECT vec_id AS cid, ev AS cv FROM v WHERE vec_id < 8),
      |a1 AS (
      |  SELECT vec_id, label, ev, cid FROM (
      |    SELECT v.vec_id, v.label, v.ev, c.cid,
      |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |        list_dot_product(v.ev, c.cv) /
      |          (sqrt(list_dot_product(v.ev, v.ev)) *
      |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS rk
      |    FROM v CROSS JOIN c0 c) WHERE rk = 1),
      |e1 AS (
      |  SELECT cid, unnest(ev) AS e,
      |    unnest(range(0, len(ev))) AS pos
      |  FROM a1),
      |m1 AS (
      |  SELECT cid, pos,
      |    CAST(sum(CAST(e AS DECIMAL(27,12))) AS DOUBLE) / count(*) AS c
      |  FROM e1 GROUP BY 1, 2),
      |c1 AS (SELECT cid, list(c ORDER BY pos) AS cv FROM m1 GROUP BY 1)"""
      .stripMargin

  val queries: Map[String, Q] = Map(
    // Exact brute-force top-5 neighbors for the first 10 query vectors.
    "ann1_brute_topk" -> ((s, d) => {
      GraftFunctions.register(s)
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val c = e.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nv"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      q.join(c, col("query_id") =!= col("neighbor_id"))
        .withColumn("cos", expr("cosine_sim(qv, nv)"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // LSH-bucketed ANN: hyperplane-sign bucket signatures, then top-3
    // within the query's bucket.
    "ann2_lsh_topk" -> ((s, d) => {
      GraftFunctions.register(s)
      val e = Tables.embeddings(s, d)
        .withColumn("bucket", expr(bucketExprSpark("embedding")))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("bucket"))
      val c = e.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nv"), col("bucket"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      q.join(c, Seq("bucket"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cos", expr("cosine_sim(qv, nv)"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("bucket"), col("rank"),
          col("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Bucket census — the signature distribution an IVF/LSH planner
    // would use to balance probes.
    "ann3_bucket_census" -> ((s, d) => {
      Tables.embeddings(s, d)
        .withColumn("bucket", expr(bucketExprSpark("embedding")))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("label")).as("n_labels"))
        .orderBy(col("bucket"))
    }),

    // Nearest-centroid assignment (IVF coarse quantizer step): per-label
    // decimal-exact centroids, assign every vector to its nearest, score
    // against the true label.
    "ann4_nearest_centroid" -> ((s, d) => {
      cachedAssigned(s, d)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          count(when(col("list_id") === col("label"), 1)).as("n_correct"))
        .orderBy(col("label"))
    }),

    // Full IVF probe path: assign every vector to its nearest centroid
    // (the inverted lists), then each query searches ONLY its own list —
    // the sub-linear ANN shape. At 100 TB: centroids broadcast, lists
    // hash-partition on list_id, the probe is an equi-join — search cost
    // is |list| not |corpus|. Exact top-3 within the probed list,
    // oracle-replayed end to end.
    "ann5_ivf_topk" -> ((s, d) => {
      val assigned = cachedAssigned(s, d)
      val q = assigned.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("list_id"))
      val c = assigned.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nv"), col("list_id"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      q.join(c, Seq("list_id"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cos", expr("cosine_sim(qv, nv)"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("list_id"), col("rank"),
          col("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Multi-probe IVF: each query searches its top-2 centroid lists —
    // the standard recall knob (nprobe) of an IVF index. The probe set
    // comes from the FUSED top-n expression (VERDICT r12 #2 —
    // KMeans.probesFused): no crossJoin row stream, no window sort;
    // per query the k×d loop + 2-slot insertion run in registers and
    // posexplode emits the probe rows — same (ccos desc, lowest-cid
    // tie) winners as the row_number form the oracle replays
    // (KMeansSpec pins fused ≡ window). Candidates come from the same
    // inverted lists via the same equi-join. Lists are disjoint, so no
    // candidate dedup is needed.
    "ann6_ivf_multiprobe" -> ((s, d) => {
      GraftFunctions.register(s)
      val probes = queryProbes(s, d, Tables.embeddings(s, d)
          .filter(col("vec_id") < 10), nProbe = 2)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("list_id"))
      val c = cachedAssigned(s, d).select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nv"), col("list_id"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      probes.join(c, Seq("list_id"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cos", expr("cosine_sim(qv, nv)"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF trainer: one full distributed Lloyd round (assign → recompute
    // means → re-assign) of spherical k-means from a fixed init (the 8
    // lowest vec_ids), reporting the final cluster census. The oracle
    // replays the ENTIRE training round in SQL — possible only because
    // assignment ties and the centroid means are deterministic
    // (KMeans scaladoc).
    "ann7_kmeans_train" -> ((s, d) => {
      GraftFunctions.register(s)
      import graft.operators.KMeans
      val e = Tables.embeddings(s, d)
      val init = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"),
          expr("transform(embedding, x -> cast(x AS double))").as("cv"))
      val trained = KMeans.lloyd(e, init, "vec_id", "embedding", iters = 1)
      KMeans.assign(e, trained, "vec_id", "embedding")
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("label")).as("n_labels"))
        .orderBy(col("cid"))
    }),

    // Int8 scalar quantization — the memory-side ANN lever: normalize,
    // then floor each unit-vector dim into a 0..255 byte against
    // per-dim corpus min/max (4× smaller corpus in executor memory at
    // search time). The in-query recall columns compare against the
    // exact cosine top-3 (the ann1 formulation). At 100 TB: the 64-row
    // stats frame broadcasts, quantization is one map-side projection,
    // and only the byte codes + 64-entry stats live in memory.
    "ann8_scalar_quant" -> ((s, d) => {
      GraftFunctions.register(s)
      // Quantize/decode live in operators/ScalarQuantIndex (the
      // persisted-artifact operator — single source of truth; this
      // query validates that formulation end-to-end against the DuckDB
      // replay). Key decisions documented there: L2-normalize first so
      // the quantized dot tracks cosine; scalar posexploded pipeline
      // (nesting the steps as array expressions would let
      // project-collapse inline each layer 64× per element); search
      // ranks by the dot of DECODED midpoints, which cancels the
      // affine Σnb-popularity bias.
      // Decoded midpoints come from the session artifact memo
      // (quantize once per (session, sfDir), search many — the ann9
      // pattern); the oracle still replays quantize+decode end-to-end.
      val e = Tables.embeddings(s, d)
      val rvec = graft.operators.ScalarQuantIndex.cachedDecoded(s, d)
      val quant = rvec.join(e, Seq("vec_id"))

      val q = quant.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("rv").as("qa"),
          col("embedding").as("qe"))
      val c = quant.select(col("vec_id").as("neighbor_id"),
        col("rv").as("qb"), col("embedding").as("ne"))
      val wq = Window.partitionBy(col("query_id"))
        .orderBy(col("dot_q").desc, col("neighbor_id"))
      val approx = q.join(c, col("query_id") =!= col("neighbor_id"))
        .withColumn("dot_q", expr(
          "aggregate(zip_with(qa, qb, (x, y) -> x * y), 0D, (a, b) -> a + b)"))
        .withColumn("rank", row_number().over(wq))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"))

      val wx = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      val exact3 = q.select(col("query_id"), col("qe"))
        .join(c.select(col("neighbor_id"), col("ne")),
          col("query_id") =!= col("neighbor_id"))
        .withColumn("cos", expr("cosine_sim(qe, ne)"))
        .withColumn("rn", row_number().over(wx))
        .filter(col("rn") <= 3)
        .select(col("query_id"), col("neighbor_id"))
      val overlap = approx.join(exact3, Seq("query_id", "neighbor_id"),
          "left_semi")
        .agg(count(lit(1)).as("sq_overlap_top3"))

      approx.crossJoin(broadcast(overlap))
        .withColumn("sq_recall_ge_08", col("sq_overlap_top3") >= 24)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Product quantization — the billion-scale ANN compression: split
    // the 64 normalized dims into 4 subspaces of 16, train an 8-entry
    // codebook per subspace (one deterministic spherical Lloyd round,
    // the ann7 trainer on sliced vectors), encode every vector as 4
    // bytes, and search by ADC (asymmetric distance): the query keeps
    // its exact slices, each neighbor is its 4 codebook centroids, and
    // the approx dot is the fixed-order sum of the 4 per-subspace
    // dots. 64 floats -> 4 codes = 64× memory compression; at 100 TB
    // the codebooks broadcast and search touches only the code table.
    //
    // Contract: the testdata embeddings are near-isotropic (true top-1
    // cosine ≈0.35 vs top-10 ≈0.25), so 4-byte codes cannot resolve
    // the exact top-3 — the warranted, measured contract is that PQ's
    // top-3 hits the true top-3 ≥4/30 times (chance at sf0.01 is
    // ≈0.2/30, so ≥4 is >20× chance). The flag is deterministic per
    // dataset; production recall tuning = more/larger codebooks, the
    // same knobs as real PQ.
    "ann9_product_quant" -> ((s, d) => {
      GraftFunctions.register(s)
      // Training, encoding and ADC all live in operators/ProductQuantIndex
      // (the persisted-artifact operator — single source of truth; this
      // query validates that exact formulation end-to-end against the
      // DuckDB replay and the measured beats-chance flag). PQ details:
      // EUCLIDEAN assignment (cosine ignores slice magnitude, measured
      // 3x worse recall), d2 as sequential folds so both engines produce
      // identical doubles, decimal-exact centroid means, fixed-order ADC
      // sum across the 4 subspaces.
      // The artifact (codebooks + codes) is trained once per (session,
      // sfDir) via the session memo — deterministic build, so replaying
      // it per execution only re-derived the identical frames; warm runs
      // now pay just the ADC search, the quantize-once-search-many
      // production shape (the dd3/dd4 candidate-index pattern).
      val pqE = Tables.embeddings(s, d)
      val (pqBooks, pqCodes) =
        graft.operators.ProductQuantIndex.cached(s, d)
      val approx = graft.operators.ProductQuantIndex.searchFrames(
        pqBooks, pqCodes, pqE, col("vec_id") < 10, 3)

      val e = Tables.embeddings(s, d)
      val exact3 = exactTop3Audit(e, col("vec_id") < 10)
      val overlap = approx.join(exact3, Seq("query_id", "neighbor_id"),
          "left_semi")
        .agg(count(lit(1)).as("pq_overlap_top3"))

      approx.crossJoin(broadcast(overlap))
        .withColumn("pq_beats_chance", col("pq_overlap_top3") >= 4)
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF-PQ composite — the production ANN shape at corpus scale
    // (inverted-file probe + asymmetric-distance PQ scoring, the IVFADC
    // composition of Jégou et al. 2011 that Faiss defaults to): the
    // coarse 2-probe list assignment (shared memo with ann4/ann5/ann6)
    // bounds the candidate set, and the PQ artifact (shared memo with
    // ann9) ADC-scores ONLY those candidates — search touches the
    // probed lists' 4-int codes, never the corpus vectors and never the
    // full code table. At 100 TB: candidates hash-join the code table
    // by neighbor (the one corpus-sized exchange, proportional to
    // probed-list occupancy), codebooks (32 rows) and query slices
    // broadcast. Same recall audit as ann8/ann9 vs the exact top-3.
    "ann11_ivf_pq" -> ((s, d) => {
      GraftFunctions.register(s)
      val e = Tables.embeddings(s, d)
      val probes = queryProbes(s, d, e.filter(col("vec_id") < 10), 2)
        .select(col("vec_id").as("query_id"), col("list_id"))
      // each vector lives in exactly ONE list (rk=1 assignment), so the
      // probe join yields every (query, neighbor) pair at most once —
      // no distinct needed, no extra shuffle
      // probes is queries×2 rows — broadcast it so the corpus-sized
      // assignment never shuffles on list_id (map-side probe join)
      val cands = broadcast(probes)
        .join(cachedAssigned(s, d)
            .select(col("vec_id").as("neighbor_id"), col("list_id")),
          Seq("list_id"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"))
      val (books, codes) =
        graft.operators.ProductQuantIndex.cached(s, d)
      val approx = graft.operators.ProductQuantIndex.searchCandidates(
        books, codes, e, col("vec_id") < 10, cands, 3)
      val exact3 = exactTop3Audit(e, col("vec_id") < 10)
      val overlap = approx.join(exact3, Seq("query_id", "neighbor_id"),
          "left_semi")
        .agg(count(lit(1)).as("ivfpq_overlap_top3"))
      approx.crossJoin(broadcast(overlap))
        .withColumn("ivfpq_beats_chance", col("ivfpq_overlap_top3") >= 4)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Two-stage retrieval — the standard production SERVING shape:
    // a compressed-domain shortlist (ann11's IVF-PQ ADC, R=10 per
    // query, shared memoized artifacts) followed by EXACT cosine
    // re-ranking of only those Q×R pairs. The corpus is touched in
    // compressed form (4-int codes); exact math runs on ≤10 rows per
    // query — one broadcast of the query originals and one id-join for
    // the shortlisted neighbors' originals. Recall can only improve on
    // the shortlist's own top-3 (exact ordering of a superset).
    // SIZING CONTRACT for R (VERDICT r9 #5, measured in the IvfPqProbe
    // R∈{10,30,100} sweep at 200k ε-perturbed vectors): the shortlist
    // can only separate duplicate GROUPS shallower than R — on a
    // near-dup-heavy corpus the compressed top-R fills with
    // byte-similar twins of one original before a second original's
    // neighbors enter, so the exact stage never sees them. R is now
    // DERIVED, not hand-tuned (VERDICT r10 #6): IvfPqIndex.shortlistR
    // turns a duplicate-group size census into R = max(10, depth × k).
    // Here the census is the memoized one-pass EXACT-duplicate census
    // (this corpus's duplication notion — depth 1, so R lands on the
    // floor 10 and the oracle's rank-10 cut stays exact by
    // construction); a near-dup-heavy deployment feeds the dd8-style
    // near-dup component census through the same derivation instead —
    // IvfPqProbe does exactly that at the 200k ε-twin stretch, where
    // the derived R recovers full recall at nprobe=1 hands-free.
    "ann13_shortlist_rerank" -> ((s, d) => {
      GraftFunctions.register(s)
      val e = Tables.embeddings(s, d)
      val rShort = shortlistWidth(s, d)
      val probes = queryProbes(s, d, e.filter(col("vec_id") < 10), 2)
        .select(col("vec_id").as("query_id"), col("list_id"))
      val cands = broadcast(probes)
        .join(cachedAssigned(s, d)
            .select(col("vec_id").as("neighbor_id"), col("list_id")),
          Seq("list_id"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"))
      val (books, codes) =
        graft.operators.ProductQuantIndex.cached(s, d)
      val shortlist = graft.operators.ProductQuantIndex.searchCandidates(
        books, codes, e, col("vec_id") < 10, cands, rShort)
      val wr = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      val approx = shortlist
        .join(e.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("ne")), Seq("neighbor_id"))
        .join(broadcast(e.filter(col("vec_id") < 10)
            .select(col("vec_id").as("query_id"),
              col("embedding").as("qe"))), Seq("query_id"))
        .withColumn("cos", expr("cosine_sim(qe, ne)"))
        .withColumn("rrank", row_number().over(wr))
        .filter(col("rrank") <= 3)
        .select(col("query_id"), col("rrank").as("rank"),
          col("neighbor_id"))
      val exact3 = exactTop3Audit(e, col("vec_id") < 10)
      val overlap = approx.join(exact3, Seq("query_id", "neighbor_id"),
          "left_semi")
        .agg(count(lit(1)).as("rerank_overlap_top3"))
      approx.crossJoin(broadcast(overlap))
        .withColumn("rerank_beats_chance",
          col("rerank_overlap_top3") >= 4)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Residual IVFADC — ann11 with the published refinement: the PQ
    // codebooks are trained on RESIDUALS r = x − c_list (each
    // normalized vector minus its coarse list's centroid), and the
    // score decomposes as dot(q, c_list) + dot(q, r̂) — the exact
    // centroid term plus the residual ADC. Residuals are small and
    // centered, so the same codebook budget (4×8 entries) spends its
    // resolution on the informative part of each vector. Plan shape is
    // ann11's (candidates hash-join the code table; centroids, query
    // slices, and codebooks broadcast) plus one broadcast centroid-dot
    // leg. Both engines compute score = cdot + (((dp0+dp1)+dp2)+dp3)
    // in that exact association, so float ties can't diverge the rank.
    "ann12_residual_pq" -> ((s, d) => {
      GraftFunctions.register(s)
      val e = Tables.embeddings(s, d)
      val probes = queryProbes(s, d, e.filter(col("vec_id") < 10), 2)
        .select(col("vec_id").as("query_id"), col("list_id"))
      val candsL = broadcast(probes)
        .join(cachedAssigned(s, d)
            .select(col("vec_id").as("neighbor_id"), col("list_id")),
          Seq("list_id"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), col("list_id"))
      val (rBooks, rCodes) = cachedResidualPq(s, d)
      // ONE scoring stream: list_id rides through scoreCandidates, so
      // the centroid term is two broadcast joins on the same pipeline —
      // never a pair-keyed join between two corpus-sized legs
      val scored = graft.operators.ProductQuantIndex.scoreCandidates(
        rBooks, rCodes, e, col("vec_id") < 10, candsL)
      val qn = graft.operators.ProductQuantIndex
        .queryVectors(e, col("vec_id") < 10)
      val wr = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("neighbor_id"))
      val approx = scored
        .join(broadcast(qn), Seq("query_id"))
        .join(broadcast(centroids(s, d)),
          col("list_id") === col("clabel"))
        .withColumn("cdot", expr(
          "aggregate(zip_with(qv, cv, (x, y) -> x * y), 0D, " +
            "(a, b) -> a + b)"))
        .withColumn("score", col("cdot") + col("adc"))
        .withColumn("rank", row_number().over(wr))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
      val exact3 = exactTop3Audit(e, col("vec_id") < 10)
      val overlap = approx.join(exact3, Seq("query_id", "neighbor_id"),
          "left_semi")
        .agg(count(lit(1)).as("ivfadc_overlap_top3"))
      approx.crossJoin(broadcast(overlap))
        .withColumn("ivfadc_beats_chance",
          col("ivfadc_overlap_top3") >= 4)
        .orderBy(col("query_id"), col("rank"))
    }),

    // The persisted IVF-PQ artifact LIFECYCLE, oracle-grade: write the
    // on-disk index from a base corpus (every 10th vector held out),
    // append the held-out slice with FROZEN quantizers — TWICE, so the
    // retry path's per-leg anti-join idempotence faces the oracle, not
    // just a spec — then serve a 2-probe ADC search entirely off the
    // artifact files (operators/IvfPqIndex.search: corpus vectors are
    // never read, only the query rows' originals). The audit columns
    // pin |lists| = |codes| = |corpus|: a duplicated append leg would
    // break them, a lost one would break the search rows. DuckDB
    // replays the whole lifecycle from the frozen-quantizer identity:
    // base-trained coarse/codebooks + append-encode of the delta ≡
    // assigning/encoding ALL vectors against the base-trained tables.
    // The coarse quantizer here is the base corpus's label-mean table
    // (the bring-your-own-quantizer `write` overload) — exactly
    // replayable in SQL, while hash-min k-means coarse training stays
    // covered by ann7/IvfPqIndexSpec.
    "ann14_index_lifecycle" -> ((s, d) => {
      GraftFunctions.register(s)
      val e = Tables.embeddings(s, d)
      val path = lifecycleArtifact(s, d)
      val hits = graft.operators.IvfPqIndex.search(
        s, path, e, col("vec_id") < 10, k = 3, nprobe = 2)
      val audit = s.read.parquet(s"$path/lists")
        .agg(count(lit(1)).as("n_lists"))
        .crossJoin(s.read.parquet(s"$path/pq/codes")
          .agg(count(lit(1)).as("n_codes")))
      hits.crossJoin(broadcast(audit))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Attribute-FILTERED ANN — the production "pre-filter" serving
    // pattern (a metadata predicate constrains the eligible neighbor
    // set: shard membership, license class, language…): the predicate
    // is applied DURING candidate generation — on the inverted-list
    // side, where a columnar store pushes it into the scan — so the
    // probe still yields k eligible results. The one-row audit column
    // quantifies why the naive alternative (post-filtering the
    // UNFILTERED top-k) is wrong: of the 30 unfiltered exact top-3
    // rows, only the even-label survivors remain after the fact —
    // a post-filtering server returns fewer than k hits exactly when
    // the filter is selective, while the pre-filter path here pays the
    // same probe cost and fills all k slots. Same probe/join shape as
    // ann6 (fused probes, equi-join on list_id, exact cosine rank).
    "ann15_filtered_search" -> ((s, d) => {
      GraftFunctions.register(s)
      val e = Tables.embeddings(s, d)
      val probes = queryProbes(s, d, e.filter(col("vec_id") < 10), 2)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("list_id"))
      val c = cachedAssigned(s, d)
        .filter(col("label") % 2 === 0) // the pushed predicate
        .select(col("vec_id").as("neighbor_id"),
          col("embedding").as("nv"), col("list_id"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      val pre = probes.join(c, Seq("list_id"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cos", expr("cosine_sim(qv, nv)"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
      val post = exactTop3Audit(e, col("vec_id") < 10)
        .join(e.select(col("vec_id").as("neighbor_id"), col("label")),
          Seq("neighbor_id"))
        .filter(col("label") % 2 === 0)
        .agg(count(lit(1)).as("post_filter_hits"))
      pre.crossJoin(broadcast(post))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Cluster-blocked embedding near-dup — the sub-quadratic production
    // counterpart of dd5's brute pair scan (which stays as the labeled
    // ground-truth baseline). Vectors are blocked by their nearest
    // centroids (the IVF assignment, shared memo with ann4/ann5); pairs
    // form only WITHIN a block: an equi-join on list_id, so at 100 TB
    // the pair generation hash-partitions by list and never touches the
    // N² cross space. Like dd7's banding-tradeoff, the query emits the
    // RECALL CURVE over the nprobe knob (1 and 2 probes) next to the
    // brute ground truth, oracle-pinned — on this synthetic corpus the
    // 0.4-cosine pairs are noise-level (no true near-dups exist), so
    // single-probe recall is visibly partial and the 2-probe point
    // shows exactly what widening the probe set buys.
    "dd10_blocked_near_dup" -> ((s, d) => {
      GraftFunctions.register(s)
      val e = Tables.embeddings(s, d)
      // Posture switch (VERDICT r7 #2): at the gate scales (≤10k
      // vectors) blocks are the 10 label-mean centroids and the
      // ground truth is exhaustive — the oracle replays both. Above,
      // the whole query flips to the production IVF shape: centroid
      // count grows ~√(10·N) (bounded list occupancy → within-list
      // pair mass ~N^1.5, never N²/|labels|) and the denominator is
      // the seeded sample. One parquet-statistics count picks the path.
      val nVec = e.count()
      val probes =
        if (nVec <= 10000L)
          queryProbes(s, d, Tables.embeddings(s, d), 2)
            .select(col("vec_id"), col("list_id"), col("rk"))
        else refinedProbes(s, d, nVec)
      def cosPairs(cand: DataFrame): DataFrame = cand
        .join(broadcast(e.select(col("vec_id").as("va"),
          col("embedding").as("x"))), Seq("va"))
        .join(broadcast(e.select(col("vec_id").as("vb"),
          col("embedding").as("y"))), Seq("vb"))
        .withColumn("c", expr("cosine_sim(x, y)"))
      val p1 = probes.filter(col("rk") === 1)
      val pairs1 = cosPairs(
        p1.select(col("list_id"), col("vec_id").as("va"))
          .join(p1.select(col("list_id"), col("vec_id").as("vb")),
            Seq("list_id"))
          .filter(col("va") < col("vb"))
          .select(col("va"), col("vb")))
        .agg(count(lit(1)).as("n_cand_p1"),
          count(when(col("c") >= 0.4, 1)).as("n_dup_p1"))
      val pairs2 = cosPairs(
        probes.select(col("list_id"), col("vec_id").as("va"))
          .join(probes.select(col("list_id"), col("vec_id").as("vb")),
            Seq("list_id"))
          .filter(col("va") < col("vb"))
          .select(col("va"), col("vb")).distinct())
        .agg(count(lit(1)).as("n_cand_p2"),
          count(when(col("c") >= 0.4, 1)).as("n_dup_p2"))
      // ground-truth denominator: exact below 10k vectors (both gate
      // scales), seeded-sampled with a 95% CI above — the validator
      // stays honest at any corpus size without the N²/2 pair scan
      // (VERDICT r7 #2); BruteSampleSpec pins estimate-vs-exhaustive
      val brute = graft.operators.Dedup.bruteNearDupStats(
        e, expr("cosine_sim(x, y)"), 0.4, nVecKnown = Some(nVec))
      pairs1.crossJoin(broadcast(pairs2)).crossJoin(broadcast(brute))
    }),

    // Embedding-space eval-set decontamination — x8's operator in
    // vector space: the corpus is scrubbed of anything too close to a
    // held-out eval slice (vec_id ≡ 0 mod 50) in COSINE, not n-gram,
    // space. Production shape: both sides take the 4-bit hyperplane
    // signature, the candidate pairing is an equi-join on bucket with
    // the (tiny) eval side broadcast — never corpus×eval brute force —
    // and the flag set distincts BEFORE the census join. At 100 TB the
    // corpus side stays a scan + map-side bucket signature; only
    // bucket-colliding pairs pay the cosine. Output is the per-label
    // contamination census (integers only — cosines never surface).
    "ann10_eval_decontam" -> ((s, d) => {
      GraftFunctions.register(s)
      val e = Tables.embeddings(s, d)
        .withColumn("bucket", expr(bucketExprSpark("embedding")))
      val ev = e.filter(col("vec_id") % 50 === 0)
        .select(col("bucket"), col("embedding").as("qv"))
      val corp = e.filter(col("vec_id") % 50 =!= 0)
        .select(col("vec_id"), col("label"), col("embedding"),
          col("bucket"))
      val flagged = corp.join(broadcast(ev), Seq("bucket"))
        .filter(expr("cosine_sim(embedding, qv)") >= 0.3)
        .select(col("vec_id")).distinct()
      corp.join(flagged.withColumn("hit", lit(1)), Seq("vec_id"), "left")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_corpus"),
          count(col("hit")).as("n_contaminated"))
        .orderBy(col("label"))
    })
  )

  /** L2-normalized embeddings as a SCALAR (vec_id, pos, nvv) frame —
    * the shared front end of the quantizers (ann8/ann9). Kept scalar
    * so downstream steps never nest array expressions (the
    * project-collapse inlining trap); vectors are re-assembled with
    * sort_array(collect_list(struct)) only at consumption points.
    */
  private val centMemo = new SessionMemo[String, DataFrame](Seq(_))

  /** Top-`nProbe` centroid lists per query vector — the probe-set
    * builder every IVF query shares (ann6/ann11/ann12/ann13, dd10's
    * gate path), on the FUSED top-n expression (VERDICT r12 #2 —
    * [[graft.operators.KMeans.probesFused]]): no crossJoin row stream,
    * no window sort, no heap exec; the plan is scan → project
    * (generated k×d loop + n-slot insertion) → posexplode. Same
    * winners as the row_number-window formulation the oracles replay
    * (cosine desc, ties to the lowest label — KMeansSpec pins fused ≡
    * window ≡ heap, bit-identical ccos). Returns qs.* + list_id +
    * rk (1 = best).
    */
  private def queryProbes(s: SparkSession, d: String, qs: DataFrame,
      nProbe: Int): DataFrame =
    graft.operators.KMeans.probesFused(qs, centroidMatrix(s, d),
        "embedding", nProbe)
      .withColumnRenamed("cid", "list_id")
      .drop("ccos")

  /** Per-label decimal-exact centroids → (clabel, cv). One definition for
    * ann4/ann5/ann6 (their oracle CTEs replay exactly this formulation),
    * memoized + persisted: the centroid frame is tiny but its build scans
    * and explodes the whole embeddings table.
    */
  private def centroids(s: SparkSession, d: String): DataFrame =
    centMemo(s, d) {
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos"))
        .agg((sum(col("col").cast(org.apache.spark.sql.types
          .DecimalType(27, 12))).cast("double") / count(lit(1))).as("c"))
        .groupBy(col("label"))
        .agg(expr("transform(sort_array(collect_list(struct(pos, c))), " +
          "x -> x.c)").as("cv"))
        .select(col("label").as("clabel"), col("cv"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Every vector with its nearest-centroid list id, memoized + persisted
    * per session: the scoring pass is the expensive stage and ann4/ann5
    * both consume it (ann5 twice, as query and candidate sides).
    * Assignment is the FUSED nearest-centroid expression (VERDICT r12
    * #1 — KMeans.assignFused): no N×k row stream exists at all; per
    * vector the k×d cosine loop runs in registers and one winner
    * struct comes out — same winner as the argmax-struct aggregate and
    * the row_number window it previously replaced (highest cosine,
    * ties to the lowest label; KMeansSpec pins fused ≡ aggregate ≡
    * window, bit-identical ccos), so the DuckDB oracles replaying the
    * window formulation are unchanged.
    */
  private def cachedAssigned(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    // the expensive scoring pass ann4/5/11/12/13 all ride. Recipe
    // bumped v1→v2 with the fused swap: output is bit-identical, but
    // a stale-artifact reuse must not mask the new build path.
    graft.ArtifactStore.tableFrames(s, d, "embeddings", "ivf-assigned",
      "assigned-v2", org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK,
      "assigned") { tmp =>
      graft.operators.KMeans.assignFused(
          Tables.embeddings(s, d), centroidMatrix(s, d), "embedding")
        .select(col("vec_id"), col("label"), col("embedding"),
          col("cid").as("list_id"))
        .write.parquet(s"$tmp/assigned")
    }.head
  }

  private val centMatMemo =
    new SessionMemo[String, graft.operators.KMeans.CentroidMatrix]()

  /** The corpus quantizer's driver-resident centroid matrix, collected
    * ONCE per (session, sfDir) and shared by every fused consumer
    * (queryProbes behind ann6/11/12/13/15 + dd10, the assignment
    * artifact build) — VERDICT r13 #3: the quantizer-scale collect was
    * repeating per call site. `KMeans.centroidCollects` is the probe
    * receipt that it really runs once.
    */
  private def centroidMatrix(s: SparkSession, d: String)
      : graft.operators.KMeans.CentroidMatrix =
    centMatMemo(s, d) {
      graft.operators.KMeans.collectCentroids(
        centroids(s, d).select(col("clabel").as("cid"), col("cv")))
    }

  /** ann14's on-disk IVF-PQ artifact: write from the base corpus
    * (vec_id % 10 ≠ 7), then append the held-out slice twice — the
    * second append MUST be a no-op (per-leg anti-joins); the query's
    * count audit and search rows face the oracle either way. The
    * query reads the index by path, so the dir itself is the value: a
    * published dir costs two `exists` checks and an owner check.
    */
  private val Ann14Recipe = "v1-mod10ne7-labelmean"
  private def lifecycleArtifact(s: SparkSession, d: String): String =
    graft.ArtifactStore.ensure(s, "ann14-ivfpq",
      graft.ArtifactStore.tableKey(s, d, "embeddings", Ann14Recipe)) { dir =>
      val e = Tables.embeddings(s, d)
      val isDelta = col("vec_id") % 10 === 7
      val base = e.filter(!isDelta)
      // base label-mean coarse quantizer — the centroids(s,d)
      // construction restricted to the base corpus (decimal-exact
      // positional means, the exact formulation the oracle replays)
      val coarse = base
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos"))
        .agg((sum(col("col").cast(org.apache.spark.sql.types
          .DecimalType(27, 12))).cast("double") / count(lit(1))).as("c"))
        .groupBy(col("label"))
        .agg(expr("transform(sort_array(collect_list(struct(pos, c))), " +
          "x -> x.c)").as("cv"))
        .select(col("label").as("cid"), col("cv"))
      graft.operators.IvfPqIndex.write(base, dir, coarse)
      graft.operators.IvfPqIndex.append(e.filter(isDelta), dir)
      // the retry path, exercised IN the gate: identical re-append
      graft.operators.IvfPqIndex.append(e.filter(isDelta), dir)
    }

  /** ann13's derived shortlist width (VERDICT r10 #6, widened to
    * MEASURED near-dup depth by r12 #5): the ε-twin component census —
    * within-list pairs at cosine ≥ 0.9 over the corpus's own IVF
    * blocking (never all-pairs: the dd10 candidate shape, ~N²/lists at
    * the ≤10k gate posture, ~N^1.5 on the √(10·N)-list scale posture),
    * connected components, size census — fed through
    * [[graft.operators.IvfPqIndex.shortlistR]]. This subsumes the old
    * exact-dup xxhash64 census: exact duplicates are cosine-1 twins,
    * and the 200k ε-perturbed stretch showed R must exceed the
    * NEAR-dup group depth, not just the exact one (a compressed top-R
    * fills with byte-similar twins of one original before a second
    * original's neighbors enter — BENCH_LOCAL third-decade recall
    * rows). On a twin-free corpus every component is trivial and R
    * lands on the floor 10, which is what keeps the oracle's literal
    * rank-10 cut exact at the gate scales. The census is a multi-job
    * build (pair scan + component propagation), so the resolved R is
    * store-hosted as a one-line artifact: a published dir costs an
    * integer read instead of the ~N²/lists pair leg.
    */
  private def shortlistWidth(s: SparkSession, d: String): Int = {
    val dir = graft.ArtifactStore.ensure(s, "shortr",
      graft.ArtifactStore.tableKey(s, d, "embeddings", "shortr-v1")) { tmp =>
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(tmp)): Unit
      java.nio.file.Files.write(java.nio.file.Paths.get(tmp, "R"),
        computeShortlistWidth(s, d).toString
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    }
    new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "R")),
      java.nio.charset.StandardCharsets.UTF_8).trim.toInt
  }

  private def computeShortlistWidth(s: SparkSession, d: String): Int =
    locally {
      GraftFunctions.register(s)
      val e = Tables.embeddings(s, d)
      val nVec = e.count()
      val lists =
        if (nVec <= 10000L)
          cachedAssigned(s, d).select(col("vec_id"), col("list_id"))
        else refinedProbes(s, d, nVec).filter(col("rk") === 1)
          .select(col("vec_id"), col("list_id"))
      val emb = e.select(col("vec_id"), col("embedding"))
      // plain equi-joins to attach vectors: AQE broadcasts the corpus
      // side while it fits (both gate scales) and falls back to a hash
      // join at real scale — the pair frame is the big side either way
      // the within-list pair scan with the cosine filter is the
      // dominant job (~N²/lists); persist it so the isEmpty probe and
      // connectedComponents' sym/distinct localCheckpoint share ONE
      // cache instead of each recomputing the scan (ADVICE r13). The
      // probe itself is take(1) and fills only the first partitions'
      // cache blocks; the components pass computes (and caches) the
      // remainder on first read — the win is no SECOND full scan, not
      // full materialization at probe time (ADVICE r14)
      val pairs = lists.select(col("list_id"), col("vec_id").as("da"))
        .join(lists.select(col("list_id"), col("vec_id").as("db")),
          Seq("list_id"))
        .filter(col("da") < col("db"))
        .join(emb.select(col("vec_id").as("da"),
          col("embedding").as("ea")), Seq("da"))
        .join(emb.select(col("vec_id").as("db"),
          col("embedding").as("eb")), Seq("db"))
        .filter(expr("cosine_sim(ea, eb)") >= 0.9)
        .select(col("da"), col("db"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // twin-free: every component trivial → the shared floor
        if (pairs.isEmpty) graft.operators.IvfPqIndex.ShortlistRMin
        else {
          val census = graft.operators.Graph
            .connectedComponents(pairs, "da", "db")
            .groupBy(col("component")).agg(count(lit(1)).as("size"))
            .groupBy(col("size")).agg(count(lit(1)).as("n_components"))
          graft.operators.IvfPqIndex.shortlistR(census, k = 3)
        }
      } finally pairs.unpersist(blocking = false)
    }

  /** Residual-PQ artifact per (session, sfDir) — codebooks trained on
    * the coarse-centroid RESIDUALS (r = normalized vector − its list's
    * centroid), the IVFADC encoding: residual magnitudes are small and
    * centered, so the same 8-entry-per-subspace budget quantizes them
    * with less error than raw vectors. Deterministic like the raw PQ
    * artifact (decimal-exact centroid means, total-order ties).
    */
  private def cachedResidualPq(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val Seq(books, codes) = graft.ArtifactStore.tableFrames(s, d,
      "embeddings", "respq", "respq-v1",
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER,
      "codebooks", "codes") { tmp =>
      val nvd = graft.operators.ScalarQuantIndex
        .normalizedScalar(Tables.embeddings(s, d))
      val centScalar = centroids(s, d)
        .select(col("clabel"),
          posexplode(col("cv")).as(Seq("pos", "cval")))
      val assignedL = cachedAssigned(s, d)
        .select(col("vec_id"), col("list_id").as("clabel"))
      val rvd = nvd.join(assignedL, Seq("vec_id"))
        .join(broadcast(centScalar), Seq("clabel", "pos"))
        .select(col("vec_id"), col("pos"),
          (col("nvv") - col("cval")).as("nvv"))
      val (books, codes) =
        graft.operators.ProductQuantIndex.buildScalar(rvd)
      books.coalesce(1).write.parquet(s"$tmp/codebooks")
      codes.write.parquet(s"$tmp/codes")
      Seq(books, codes).foreach(graft.MemoRegistry.release)
    }
    (books, codes)
  }

  /** Exact top-3 ground truth for the recall audits (ann8/9/11/12/13):
    * a broadcast nested-loop of the pinned query vectors against the
    * FULL corpus. O(Q·N) BY CONTRACT — sound at any corpus size only
    * while Q stays small and fixed (the audits pin Q=10). Cloning this
    * pattern with Q ~ corpus re-creates exactly the N² brute scan the
    * engine avoids everywhere else; corpus-scale ground truth belongs
    * to `Dedup.bruteNearDupStats`' seeded-sample estimator. The guard
    * counts the query side through a LIMIT, so its cost is bounded by
    * the threshold — not the corpus — and an unbounded audit fails
    * fast instead of silently going quadratic.
    */
  private[graft] val MaxAuditQueries = 1024
  private[graft] def exactTop3Audit(e: DataFrame,
      qPred: org.apache.spark.sql.Column): DataFrame = {
    val qs = e.filter(qPred)
    // The bound is enforced INSIDE the plan (ADVICE r9): the old eager
    // limit().count() ran a Spark job during query CONSTRUCTION, taxing
    // every bench/probe pass of the recall audits with an extra action.
    // Now a LIMIT-bounded 1-row census leg rides the query itself —
    // cost bounded by the threshold, not the corpus — and raise_error
    // fails the EXECUTION if the audit is unbounded. The guard lives in
    // a filter condition so column pruning can't delete it, and the
    // 1-row broadcast cross join adds nothing measurable.
    val guard = qs.limit(MaxAuditQueries + 1)
      .agg(count(lit(1)).as("__qn"))
      .select(when(col("__qn") <= MaxAuditQueries, lit(1))
        .otherwise(raise_error(lit(
          s"recall audit got more than $MaxAuditQueries query vectors; " +
            "the exact ground-truth leg is O(queries x corpus) and must " +
            "stay bounded - sample the queries, or use " +
            "Dedup.bruteNearDupStats for corpus-scale ground truth"))
          .cast("int")).as("__ok"))
      .filter(col("__ok") === 1)
    val wx = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    qs.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .crossJoin(broadcast(guard)).drop("__ok")
      .join(e.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("ne")),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", expr("cosine_sim(qe, ne)"))
      .withColumn("rn", row_number().over(wx))
      .filter(col("rn") <= 3)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** dd10's above-threshold blocking: 2-probe assignment against
    * sample-trained k-means centroids with k = ⌈√(10·N)⌉ — the IVF
    * nlist-grows-with-corpus posture. List occupancy stays ~√(N/10)·2,
    * so within-list candidate pairs scale ~N^1.5 instead of N²/10
    * (the fixed-label blocks' fate at any real corpus). Deterministic
    * end-to-end: seeded hash-min init (k lowest xxhash64 ids via
    * TakeOrderedAndProject — no global window), a seeded ~10·k-vector
    * training sample for ONE Lloyd round, total-order tie-breaks.
    * Probe ranking is [[graft.operators.KMeans.probesFused]]'s fused
    * expression — the N×k scored stream (k = ⌈√(10·N)⌉, the index
    * build's dominant mass) never materializes at all; per vector the
    * k×d loop and 2-slot insertion run in registers and posexplode
    * emits exactly N×2 winner rows (VERDICT r12 #2 — previously the
    * TopKPerGroup bounded heaps, which streamed but still built the
    * N×k rows). Memoized + persisted per (session, sfDir) like the
    * other index artifacts — build once, search many.
    */
  private def refinedProbes(s: SparkSession, d: String,
      nVec: Long): DataFrame = {
    GraftFunctions.register(s)
    graft.ArtifactStore.tableFrames(s, d, "embeddings", "refined-probes",
      "refined-v1", org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK,
      "probes") { tmp =>
      val e = Tables.embeddings(s, d)
      val k = math.ceil(math.sqrt(10.0 * nVec)).toInt
      val init = graft.operators.KMeans
        .hashMinInit(e, k, "vec_id", "embedding")
      val pTrain = math.max(1L, nVec / (10L * k))
      val train = e
        .filter(pmod(xxhash64(col("vec_id"), lit(11L)), lit(pTrain)) === 0)
        .select(col("vec_id"), col("embedding"))
      // fused Lloyd + fused probe ranking (VERDICT r12 #1/#2): the
      // N×k scored stream — this path's dominant mass at scale-grown
      // k — never materializes; per vector the k×d loop and 2-slot
      // insertion run in registers (same winners as the heap/window
      // forms, KMeansSpec)
      val cents = graft.operators.KMeans
        .lloydFused(train, init, "embedding", iters = 1)
      graft.operators.KMeans
        .probesFused(e.select(col("vec_id"), col("embedding")),
          cents, "embedding", 2)
        .select(col("vec_id"), col("cid").as("list_id"), col("rk"))
        .write.parquet(s"$tmp/probes")
    }.head
  }

  /** Per-subspace CTE block for the ann9 oracle: slice → init → one
    * Lloyd round (assign by cosine, decimal-exact means — the ann7
    * replay pattern) → encode → per-pair subspace ADC contribution.
    * `trainPred` restricts the TRAINING rows (sample + init) — the
    * ann14 lifecycle trains on the pre-append base corpus while still
    * encoding (and pairing) every vector.
    */
  private def pqSubCte(b: Int, trainPred: String = "TRUE"): String = {
    val lo = b * 16 + 1
    val hi = (b + 1) * 16
    // L2 assignment in the exact Spark-side formulation:
    // (‖s‖² − 2·s·c) + ‖c‖², ascending, ties to the lowest cid
    def d2(svRef: String, cvRef: String): String =
      s"(list_dot_product($svRef, $svRef) - " +
        s"2 * list_dot_product($svRef, $cvRef)) + " +
        s"list_dot_product($cvRef, $cvRef)"
    def assignCte(name: String, cents: String,
        from: String = s"sb$b"): String =
      s"""$name AS (
         |  SELECT vec_id, sv, cid FROM (
         |    SELECT s.vec_id, s.sv, c.cid,
         |      row_number() OVER (PARTITION BY s.vec_id ORDER BY
         |        ${d2("s.sv", "c.cv")} ASC, c.cid) AS rk
         |    FROM $from s CROSS JOIN $cents c) WHERE rk = 1)""".stripMargin
    def meanCte(from: String, u: String, m: String, t: String): String =
      s"""$u AS (
         |  SELECT cid, unnest(sv) AS e,
         |    unnest(range(0, len(sv))) AS pos FROM $from),
         |$m AS (
         |  SELECT cid, pos,
         |    CAST(sum(CAST(e AS DECIMAL(27,12))) AS DOUBLE) / count(*) AS c
         |  FROM $u GROUP BY 1, 2),
         |$t AS (SELECT cid, list(c ORDER BY pos) AS cv FROM $m GROUP BY 1)""".stripMargin
    s"""sb$b AS (SELECT vec_id, nv[$lo:$hi] AS sv FROM nvt),
       |tb$b AS (SELECT vec_id, sv FROM sb$b
       |  WHERE vec_id < 256 AND $trainPred),
       |i$b AS (SELECT vec_id AS cid, sv AS cv FROM sb$b
       |  WHERE vec_id < 8 AND $trainPred),
       |${assignCte(s"x$b", s"i$b", s"tb$b")},
       |${meanCte(s"x$b", s"u$b", s"m$b", s"t$b")},
       |${assignCte(s"x2$b", s"t$b", s"tb$b")},
       |${meanCte(s"x2$b", s"u2$b", s"m2$b", s"t2$b")},
       |${assignCte(s"g$b", s"t2$b")},
       |p$b AS (
       |  SELECT q.vec_id AS query_id, g.vec_id AS neighbor_id,
       |    list_dot_product(q.sv, c.cv) AS dp$b
       |  FROM sb$b q JOIN g$b g ON q.vec_id < 10 AND q.vec_id <> g.vec_id
       |  JOIN t2$b c ON c.cid = g.cid)""".stripMargin
  }

  /** Residual variant of [[pqSubCte]] for the ann12 oracle: training,
    * encoding, and the neighbor decode all run on the residual table
    * `rvt(vec_id, rv)`, while the PAIRING's query side stays the exact
    * normalized slices from `nvt` — IVFADC keeps the query exact.
    */
  private def pqResSubCte(b: Int): String = {
    val lo = b * 16 + 1
    val hi = (b + 1) * 16
    def d2(svRef: String, cvRef: String): String =
      s"(list_dot_product($svRef, $svRef) - " +
        s"2 * list_dot_product($svRef, $cvRef)) + " +
        s"list_dot_product($cvRef, $cvRef)"
    def assignCte(name: String, cents: String,
        from: String = s"rb$b"): String =
      s"""$name AS (
         |  SELECT vec_id, sv, cid FROM (
         |    SELECT s.vec_id, s.sv, c.cid,
         |      row_number() OVER (PARTITION BY s.vec_id ORDER BY
         |        ${d2("s.sv", "c.cv")} ASC, c.cid) AS rk
         |    FROM $from s CROSS JOIN $cents c) WHERE rk = 1)""".stripMargin
    def meanCte(from: String, u: String, m: String, t: String): String =
      s"""$u AS (
         |  SELECT cid, unnest(sv) AS e,
         |    unnest(range(0, len(sv))) AS pos FROM $from),
         |$m AS (
         |  SELECT cid, pos,
         |    CAST(sum(CAST(e AS DECIMAL(27,12))) AS DOUBLE) / count(*) AS c
         |  FROM $u GROUP BY 1, 2),
         |$t AS (SELECT cid, list(c ORDER BY pos) AS cv FROM $m GROUP BY 1)""".stripMargin
    s"""rb$b AS (SELECT vec_id, rv[$lo:$hi] AS sv FROM rvt),
       |qb$b AS (SELECT vec_id, nv[$lo:$hi] AS sv FROM nvt WHERE vec_id < 10),
       |tb$b AS (SELECT vec_id, sv FROM rb$b WHERE vec_id < 256),
       |i$b AS (SELECT vec_id AS cid, sv AS cv FROM rb$b WHERE vec_id < 8),
       |${assignCte(s"x$b", s"i$b", s"tb$b")},
       |${meanCte(s"x$b", s"u$b", s"m$b", s"t$b")},
       |${assignCte(s"x2$b", s"t$b", s"tb$b")},
       |${meanCte(s"x2$b", s"u2$b", s"m2$b", s"t2$b")},
       |${assignCte(s"g$b", s"t2$b")},
       |p$b AS (
       |  SELECT q.vec_id AS query_id, g.vec_id AS neighbor_id,
       |    list_dot_product(q.sv, c.cv) AS dp$b
       |  FROM qb$b q JOIN g$b g ON q.vec_id <> g.vec_id
       |  JOIN t2$b c ON c.cid = g.cid)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "ann9_product_quant" ->
      s"""WITH v AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
         |nr AS (
         |  SELECT vec_id, ev, sqrt(list_dot_product(ev, ev)) AS n FROM v),
         |nvt AS (
         |  SELECT vec_id, CASE WHEN n = 0
         |    THEN list_transform(ev, x -> 0.0)
         |    ELSE list_transform(ev, x -> x / n) END AS nv FROM nr),
         |${(0 until 4).map(b => pqSubCte(b)).mkString(",\n")},
         |approx AS (
         |  SELECT query_id, rank, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY dp0 + dp1 + dp2 + dp3 DESC, neighbor_id) AS rank
         |    FROM p0
         |    JOIN p1 USING (query_id, neighbor_id)
         |    JOIN p2 USING (query_id, neighbor_id)
         |    JOIN p3 USING (query_id, neighbor_id))
         |  WHERE rank <= 3),
         |exact3 AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY a.vec_id
         |        ORDER BY $duckCos DESC, b.vec_id) AS rn
         |    FROM embeddings a JOIN embeddings b
         |      ON a.vec_id < 10 AND a.vec_id <> b.vec_id)
         |  WHERE rn <= 3),
         |ov AS (
         |  SELECT count(*) AS pq_overlap_top3 FROM approx
         |  JOIN exact3 USING (query_id, neighbor_id))
         |SELECT query_id, rank, neighbor_id, pq_overlap_top3,
         |  pq_overlap_top3 >= 4 AS pq_beats_chance
         |FROM approx CROSS JOIN ov ORDER BY query_id, rank""".stripMargin,

    // ann9's per-subspace PQ CTEs verbatim, with the rank restricted to
    // the coarse-probe candidate pairs (2-probe lists vs rk=1 lists —
    // the ann6 probe text) before the top-3 window
    "ann11_ivf_pq" ->
      s"""WITH expl AS (
         |  SELECT label, unnest(embedding) AS e,
         |    unnest(range(0, len(embedding))) AS pos
         |  FROM embeddings),
         |cent AS (
         |  SELECT label, pos,
         |    CAST(sum(CAST(e AS DECIMAL(27,12))) AS DOUBLE) / count(*) AS c
         |  FROM expl GROUP BY 1, 2),
         |cvec AS (
         |  SELECT label AS clabel, list(c ORDER BY pos) AS cv
         |  FROM cent GROUP BY 1),
         |assigned AS (
         |  SELECT vec_id, clabel AS list_id FROM (
         |    SELECT v.vec_id, c.clabel,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        list_dot_product(v.embedding::DOUBLE[], c.cv) /
         |          (sqrt(list_dot_product(v.embedding::DOUBLE[],
         |             v.embedding::DOUBLE[])) *
         |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.clabel) AS rk
         |    FROM embeddings v CROSS JOIN cvec c)
         |  WHERE rk = 1),
         |probes AS (
         |  SELECT vec_id AS query_id, clabel AS list_id FROM (
         |    SELECT v.vec_id, c.clabel,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        list_dot_product(v.embedding::DOUBLE[], c.cv) /
         |          (sqrt(list_dot_product(v.embedding::DOUBLE[],
         |             v.embedding::DOUBLE[])) *
         |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.clabel) AS prk
         |    FROM embeddings v CROSS JOIN cvec c WHERE v.vec_id < 10)
         |  WHERE prk <= 2),
         |cand AS (
         |  SELECT p.query_id, b.vec_id AS neighbor_id
         |  FROM probes p JOIN assigned b ON p.list_id = b.list_id
         |    AND p.query_id <> b.vec_id),
         |v AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
         |nr AS (
         |  SELECT vec_id, ev, sqrt(list_dot_product(ev, ev)) AS n FROM v),
         |nvt AS (
         |  SELECT vec_id, CASE WHEN n = 0
         |    THEN list_transform(ev, x -> 0.0)
         |    ELSE list_transform(ev, x -> x / n) END AS nv FROM nr),
         |${(0 until 4).map(b => pqSubCte(b)).mkString(",\n")},
         |approx AS (
         |  SELECT query_id, rank, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY dp0 + dp1 + dp2 + dp3 DESC, neighbor_id) AS rank
         |    FROM p0
         |    JOIN p1 USING (query_id, neighbor_id)
         |    JOIN p2 USING (query_id, neighbor_id)
         |    JOIN p3 USING (query_id, neighbor_id)
         |    JOIN cand USING (query_id, neighbor_id))
         |  WHERE rank <= 3),
         |exact3 AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY a.vec_id
         |        ORDER BY $duckCos DESC, b.vec_id) AS rn
         |    FROM embeddings a JOIN embeddings b
         |      ON a.vec_id < 10 AND a.vec_id <> b.vec_id)
         |  WHERE rn <= 3),
         |ov AS (
         |  SELECT count(*) AS ivfpq_overlap_top3 FROM approx
         |  JOIN exact3 USING (query_id, neighbor_id))
         |SELECT query_id, rank, neighbor_id, ivfpq_overlap_top3,
         |  ivfpq_overlap_top3 >= 4 AS ivfpq_beats_chance
         |FROM approx CROSS JOIN ov ORDER BY query_id, rank""".stripMargin,

    // The artifact lifecycle replayed from the frozen-quantizer
    // identity: coarse (base label-means) and PQ codebooks train on
    // the BASE corpus only (vec_id % 10 <> 7 — pqSubCte's trainPred),
    // while assignment/encoding covers ALL vectors — write(base) plus
    // append(delta) with frozen quantizers lands exactly there, and a
    // duplicated or lost append leg breaks the count audit or the
    // candidate rows
    "ann14_index_lifecycle" ->
      s"""WITH bexpl AS (
         |  SELECT label, unnest(embedding) AS e,
         |    unnest(range(0, len(embedding))) AS pos
         |  FROM embeddings WHERE vec_id % 10 <> 7),
         |bcent AS (
         |  SELECT label, pos,
         |    CAST(sum(CAST(e AS DECIMAL(27,12))) AS DOUBLE) / count(*) AS c
         |  FROM bexpl GROUP BY 1, 2),
         |cvec AS (
         |  SELECT label AS clabel, list(c ORDER BY pos) AS cv
         |  FROM bcent GROUP BY 1),
         |assigned AS (
         |  SELECT vec_id, clabel AS list_id FROM (
         |    SELECT v.vec_id, c.clabel,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        list_dot_product(v.embedding::DOUBLE[], c.cv) /
         |          (sqrt(list_dot_product(v.embedding::DOUBLE[],
         |             v.embedding::DOUBLE[])) *
         |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.clabel) AS rk
         |    FROM embeddings v CROSS JOIN cvec c)
         |  WHERE rk = 1),
         |probes AS (
         |  SELECT vec_id AS query_id, clabel AS list_id FROM (
         |    SELECT v.vec_id, c.clabel,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        list_dot_product(v.embedding::DOUBLE[], c.cv) /
         |          (sqrt(list_dot_product(v.embedding::DOUBLE[],
         |             v.embedding::DOUBLE[])) *
         |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.clabel) AS prk
         |    FROM embeddings v CROSS JOIN cvec c WHERE v.vec_id < 10)
         |  WHERE prk <= 2),
         |cand AS (
         |  SELECT p.query_id, b.vec_id AS neighbor_id
         |  FROM probes p JOIN assigned b ON p.list_id = b.list_id
         |    AND p.query_id <> b.vec_id),
         |v AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
         |nr AS (
         |  SELECT vec_id, ev, sqrt(list_dot_product(ev, ev)) AS n FROM v),
         |nvt AS (
         |  SELECT vec_id, CASE WHEN n = 0
         |    THEN list_transform(ev, x -> 0.0)
         |    ELSE list_transform(ev, x -> x / n) END AS nv FROM nr),
         |${(0 until 4).map(b =>
              pqSubCte(b, "(vec_id % 10 <> 7)")).mkString(",\n")},
         |approx AS (
         |  SELECT query_id, rank, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY dp0 + dp1 + dp2 + dp3 DESC, neighbor_id) AS rank
         |    FROM p0
         |    JOIN p1 USING (query_id, neighbor_id)
         |    JOIN p2 USING (query_id, neighbor_id)
         |    JOIN p3 USING (query_id, neighbor_id)
         |    JOIN cand USING (query_id, neighbor_id))
         |  WHERE rank <= 3),
         |counts AS (
         |  SELECT count(*) AS n_lists, count(*) AS n_codes
         |  FROM embeddings)
         |SELECT query_id, rank, neighbor_id, n_lists, n_codes
         |FROM approx CROSS JOIN counts ORDER BY query_id, rank""".stripMargin,

    // ann11's CTEs with the rank cut at 10 (the shortlist), then exact
    // cosine re-ranking of only those pairs
    "ann13_shortlist_rerank" ->
      s"""WITH expl AS (
         |  SELECT label, unnest(embedding) AS e,
         |    unnest(range(0, len(embedding))) AS pos
         |  FROM embeddings),
         |cent AS (
         |  SELECT label, pos,
         |    CAST(sum(CAST(e AS DECIMAL(27,12))) AS DOUBLE) / count(*) AS c
         |  FROM expl GROUP BY 1, 2),
         |cvec AS (
         |  SELECT label AS clabel, list(c ORDER BY pos) AS cv
         |  FROM cent GROUP BY 1),
         |assigned AS (
         |  SELECT vec_id, clabel AS list_id FROM (
         |    SELECT v.vec_id, c.clabel,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        list_dot_product(v.embedding::DOUBLE[], c.cv) /
         |          (sqrt(list_dot_product(v.embedding::DOUBLE[],
         |             v.embedding::DOUBLE[])) *
         |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.clabel) AS rk
         |    FROM embeddings v CROSS JOIN cvec c)
         |  WHERE rk = 1),
         |probes AS (
         |  SELECT vec_id AS query_id, clabel AS list_id FROM (
         |    SELECT v.vec_id, c.clabel,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        list_dot_product(v.embedding::DOUBLE[], c.cv) /
         |          (sqrt(list_dot_product(v.embedding::DOUBLE[],
         |             v.embedding::DOUBLE[])) *
         |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.clabel) AS prk
         |    FROM embeddings v CROSS JOIN cvec c WHERE v.vec_id < 10)
         |  WHERE prk <= 2),
         |cand AS (
         |  SELECT p.query_id, b.vec_id AS neighbor_id
         |  FROM probes p JOIN assigned b ON p.list_id = b.list_id
         |    AND p.query_id <> b.vec_id),
         |v AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
         |nr AS (
         |  SELECT vec_id, ev, sqrt(list_dot_product(ev, ev)) AS n FROM v),
         |nvt AS (
         |  SELECT vec_id, CASE WHEN n = 0
         |    THEN list_transform(ev, x -> 0.0)
         |    ELSE list_transform(ev, x -> x / n) END AS nv FROM nr),
         |${(0 until 4).map(b => pqSubCte(b)).mkString(",\n")},
         |shortlist AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY dp0 + dp1 + dp2 + dp3 DESC, neighbor_id) AS srank
         |    FROM p0
         |    JOIN p1 USING (query_id, neighbor_id)
         |    JOIN p2 USING (query_id, neighbor_id)
         |    JOIN p3 USING (query_id, neighbor_id)
         |    JOIN cand USING (query_id, neighbor_id))
         |  WHERE srank <= 10),
         |approx AS (
         |  SELECT query_id, rank, neighbor_id FROM (
         |    SELECT s.query_id, s.neighbor_id,
         |      row_number() OVER (PARTITION BY s.query_id
         |        ORDER BY $duckCos DESC, s.neighbor_id) AS rank
         |    FROM shortlist s JOIN embeddings a ON a.vec_id = s.query_id
         |    JOIN embeddings b ON b.vec_id = s.neighbor_id)
         |  WHERE rank <= 3),
         |exact3 AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY a.vec_id
         |        ORDER BY $duckCos DESC, b.vec_id) AS rn
         |    FROM embeddings a JOIN embeddings b
         |      ON a.vec_id < 10 AND a.vec_id <> b.vec_id)
         |  WHERE rn <= 3),
         |ov AS (
         |  SELECT count(*) AS rerank_overlap_top3 FROM approx
         |  JOIN exact3 USING (query_id, neighbor_id))
         |SELECT query_id, rank, neighbor_id, rerank_overlap_top3,
         |  rerank_overlap_top3 >= 4 AS rerank_beats_chance
         |FROM approx CROSS JOIN ov ORDER BY query_id, rank""".stripMargin,

    // ann11's coarse/candidate CTEs + residual-PQ training (pqResSubCte:
    // residual table for train/encode/decode, exact nvt for the query
    // side) + the centroid-dot term; the rank's score uses the same
    // float association as the Spark side: cdot + (((dp0+dp1)+dp2)+dp3)
    "ann12_residual_pq" ->
      s"""WITH expl AS (
         |  SELECT label, unnest(embedding) AS e,
         |    unnest(range(0, len(embedding))) AS pos
         |  FROM embeddings),
         |cent AS (
         |  SELECT label, pos,
         |    CAST(sum(CAST(e AS DECIMAL(27,12))) AS DOUBLE) / count(*) AS c
         |  FROM expl GROUP BY 1, 2),
         |cvec AS (
         |  SELECT label AS clabel, list(c ORDER BY pos) AS cv
         |  FROM cent GROUP BY 1),
         |assigned AS (
         |  SELECT vec_id, clabel AS list_id FROM (
         |    SELECT v.vec_id, c.clabel,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        list_dot_product(v.embedding::DOUBLE[], c.cv) /
         |          (sqrt(list_dot_product(v.embedding::DOUBLE[],
         |             v.embedding::DOUBLE[])) *
         |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.clabel) AS rk
         |    FROM embeddings v CROSS JOIN cvec c)
         |  WHERE rk = 1),
         |probes AS (
         |  SELECT vec_id AS query_id, clabel AS list_id FROM (
         |    SELECT v.vec_id, c.clabel,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        list_dot_product(v.embedding::DOUBLE[], c.cv) /
         |          (sqrt(list_dot_product(v.embedding::DOUBLE[],
         |             v.embedding::DOUBLE[])) *
         |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.clabel) AS prk
         |    FROM embeddings v CROSS JOIN cvec c WHERE v.vec_id < 10)
         |  WHERE prk <= 2),
         |cand AS (
         |  SELECT p.query_id, b.vec_id AS neighbor_id, b.list_id
         |  FROM probes p JOIN assigned b ON p.list_id = b.list_id
         |    AND p.query_id <> b.vec_id),
         |v AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
         |nr AS (
         |  SELECT vec_id, ev, sqrt(list_dot_product(ev, ev)) AS n FROM v),
         |nvt AS (
         |  SELECT vec_id, CASE WHEN n = 0
         |    THEN list_transform(ev, x -> 0.0)
         |    ELSE list_transform(ev, x -> x / n) END AS nv FROM nr),
         |rsc AS (
         |  SELECT n.vec_id, g AS pos, n.nv[g] - c.cv[g] AS rvv
         |  FROM nvt n JOIN assigned a USING (vec_id)
         |  JOIN cvec c ON c.clabel = a.list_id
         |  CROSS JOIN range(1, 65) AS r(g)),
         |rvt AS (
         |  SELECT vec_id, list(rvv ORDER BY pos) AS rv
         |  FROM rsc GROUP BY 1),
         |${(0 until 4).map(pqResSubCte).mkString(",\n")},
         |ct AS (
         |  SELECT cd.query_id, cd.neighbor_id,
         |    list_dot_product(n.nv, c.cv) AS cdot
         |  FROM cand cd JOIN nvt n ON n.vec_id = cd.query_id
         |  JOIN cvec c ON c.clabel = cd.list_id),
         |approx AS (
         |  SELECT query_id, rank, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cdot + (((dp0 + dp1) + dp2) + dp3) DESC,
         |          neighbor_id) AS rank
         |    FROM p0
         |    JOIN p1 USING (query_id, neighbor_id)
         |    JOIN p2 USING (query_id, neighbor_id)
         |    JOIN p3 USING (query_id, neighbor_id)
         |    JOIN ct USING (query_id, neighbor_id))
         |  WHERE rank <= 3),
         |exact3 AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY a.vec_id
         |        ORDER BY $duckCos DESC, b.vec_id) AS rn
         |    FROM embeddings a JOIN embeddings b
         |      ON a.vec_id < 10 AND a.vec_id <> b.vec_id)
         |  WHERE rn <= 3),
         |ov AS (
         |  SELECT count(*) AS ivfadc_overlap_top3 FROM approx
         |  JOIN exact3 USING (query_id, neighbor_id))
         |SELECT query_id, rank, neighbor_id, ivfadc_overlap_top3,
         |  ivfadc_overlap_top3 >= 4 AS ivfadc_beats_chance
         |FROM approx CROSS JOIN ov ORDER BY query_id, rank""".stripMargin,

    "ann8_scalar_quant" ->
      s"""WITH nvd AS (
         |  SELECT vec_id, g AS pos,
         |    CASE WHEN nrm = 0 THEN 0
         |      ELSE embedding[g]::DOUBLE / nrm END AS nvv
         |  FROM (SELECT vec_id, embedding,
         |          sqrt(list_dot_product(embedding::DOUBLE[],
         |            embedding::DOUBLE[])) AS nrm
         |        FROM embeddings)
         |  CROSS JOIN range(1, 65) AS r(g)),
         |stats AS (
         |  SELECT pos, min(nvv) AS mn, max(nvv) AS mx
         |  FROM nvd GROUP BY 1),
         |qd AS (
         |  SELECT vec_id, pos,
         |    CASE WHEN mx = mn THEN 0
         |      ELSE least(CAST(floor((nvv - mn) /
         |        (mx - mn) * 256) AS INT), 255) END AS qval
         |  FROM nvd JOIN stats USING (pos)),
         |rvec AS (
         |  SELECT vec_id,
         |    list(mn + (qval + 0.5) / 256 * (mx - mn) ORDER BY pos) AS rv
         |  FROM qd JOIN stats USING (pos) GROUP BY 1),
         |pairs AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    list_dot_product(a.rv::DOUBLE[], b.rv::DOUBLE[]) AS dot_q
         |  FROM rvec a JOIN rvec b
         |    ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
         |approx AS (
         |  SELECT query_id, rank, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY dot_q DESC, neighbor_id) AS rank FROM pairs)
         |  WHERE rank <= 3),
         |exact3 AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY a.vec_id
         |        ORDER BY $duckCos DESC, b.vec_id) AS rn
         |    FROM embeddings a JOIN embeddings b
         |      ON a.vec_id < 10 AND a.vec_id <> b.vec_id)
         |  WHERE rn <= 3),
         |ov AS (
         |  SELECT count(*) AS sq_overlap_top3 FROM approx
         |  JOIN exact3 USING (query_id, neighbor_id))
         |SELECT query_id, rank, neighbor_id, sq_overlap_top3,
         |  sq_overlap_top3 >= 24 AS sq_recall_ge_08
         |FROM approx CROSS JOIN ov ORDER BY query_id, rank""".stripMargin,

    "ann1_brute_topk" ->
      s"""SELECT query_id, rank, neighbor_id FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY $duckCos DESC, b.vec_id) AS rank
         |  FROM embeddings a JOIN embeddings b
         |    ON a.vec_id < 10 AND a.vec_id <> b.vec_id)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "ann2_lsh_topk" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding,
         |    ${bucketExprDuck("embedding")} AS bucket
         |  FROM embeddings)
         |SELECT query_id, bucket, rank, neighbor_id FROM (
         |  SELECT a.vec_id AS query_id, a.bucket, b.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY $duckCos DESC, b.vec_id) AS rank
         |  FROM e a JOIN e b
         |    ON a.bucket = b.bucket AND a.vec_id < 10
         |      AND a.vec_id <> b.vec_id)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "ann3_bucket_census" ->
      s"""SELECT ${bucketExprDuck("embedding")} AS bucket,
         |  count(*) AS n, count(DISTINCT label) AS n_labels
         |FROM embeddings GROUP BY 1 ORDER BY bucket""".stripMargin,

    "ann4_nearest_centroid" ->
      """WITH expl AS (
        |  SELECT label, unnest(embedding) AS e,
        |    unnest(range(0, len(embedding))) AS pos
        |  FROM embeddings),
        |cent AS (
        |  SELECT label, pos,
        |    CAST(sum(CAST(e AS DECIMAL(27,12))) AS DOUBLE) / count(*) AS c
        |  FROM expl GROUP BY 1, 2),
        |cvec AS (
        |  SELECT label AS clabel, list(c ORDER BY pos) AS cv
        |  FROM cent GROUP BY 1),
        |assigned AS (
        |  SELECT v.vec_id, v.label, c.clabel,
        |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |      list_dot_product(v.embedding::DOUBLE[], c.cv) /
        |        (sqrt(list_dot_product(v.embedding::DOUBLE[],
        |           v.embedding::DOUBLE[])) *
        |         sqrt(list_dot_product(c.cv, c.cv))) DESC, c.clabel) AS rk
        |  FROM embeddings v CROSS JOIN cvec c)
        |SELECT label, count(*) AS n,
        |  count(CASE WHEN clabel = label THEN 1 END) AS n_correct
        |FROM assigned WHERE rk = 1 GROUP BY 1 ORDER BY label""".stripMargin,

    "ann5_ivf_topk" ->
      """WITH expl AS (
        |  SELECT label, unnest(embedding) AS e,
        |    unnest(range(0, len(embedding))) AS pos
        |  FROM embeddings),
        |cent AS (
        |  SELECT label, pos,
        |    CAST(sum(CAST(e AS DECIMAL(27,12))) AS DOUBLE) / count(*) AS c
        |  FROM expl GROUP BY 1, 2),
        |cvec AS (
        |  SELECT label AS clabel, list(c ORDER BY pos) AS cv
        |  FROM cent GROUP BY 1),
        |assigned AS (
        |  SELECT vec_id, embedding, clabel AS list_id FROM (
        |    SELECT v.vec_id, v.embedding, c.clabel,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_dot_product(v.embedding::DOUBLE[], c.cv) /
        |          (sqrt(list_dot_product(v.embedding::DOUBLE[],
        |             v.embedding::DOUBLE[])) *
        |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.clabel) AS rk
        |    FROM embeddings v CROSS JOIN cvec c)
        |  WHERE rk = 1)
        |SELECT query_id, list_id, rank, neighbor_id FROM (
        |  SELECT a.vec_id AS query_id, a.list_id, b.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |      list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |        (sqrt(list_dot_product(a.embedding::DOUBLE[],
        |           a.embedding::DOUBLE[])) *
        |         sqrt(list_dot_product(b.embedding::DOUBLE[],
        |           b.embedding::DOUBLE[]))) DESC, b.vec_id) AS rank
        |  FROM assigned a JOIN assigned b
        |    ON a.list_id = b.list_id AND a.vec_id < 10
        |      AND a.vec_id <> b.vec_id)
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "ann6_ivf_multiprobe" ->
      """WITH expl AS (
        |  SELECT label, unnest(embedding) AS e,
        |    unnest(range(0, len(embedding))) AS pos
        |  FROM embeddings),
        |cent AS (
        |  SELECT label, pos,
        |    CAST(sum(CAST(e AS DECIMAL(27,12))) AS DOUBLE) / count(*) AS c
        |  FROM expl GROUP BY 1, 2),
        |cvec AS (
        |  SELECT label AS clabel, list(c ORDER BY pos) AS cv
        |  FROM cent GROUP BY 1),
        |assigned AS (
        |  SELECT vec_id, embedding, clabel AS list_id FROM (
        |    SELECT v.vec_id, v.embedding, c.clabel,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_dot_product(v.embedding::DOUBLE[], c.cv) /
        |          (sqrt(list_dot_product(v.embedding::DOUBLE[],
        |             v.embedding::DOUBLE[])) *
        |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.clabel) AS rk
        |    FROM embeddings v CROSS JOIN cvec c)
        |  WHERE rk = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, embedding AS qv, clabel AS list_id
        |  FROM (
        |    SELECT v.vec_id, v.embedding, c.clabel,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_dot_product(v.embedding::DOUBLE[], c.cv) /
        |          (sqrt(list_dot_product(v.embedding::DOUBLE[],
        |             v.embedding::DOUBLE[])) *
        |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.clabel) AS prk
        |    FROM embeddings v CROSS JOIN cvec c WHERE v.vec_id < 10)
        |  WHERE prk <= 2)
        |SELECT query_id, rank, neighbor_id FROM (
        |  SELECT p.query_id, b.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY p.query_id ORDER BY
        |      list_dot_product(p.qv::DOUBLE[], b.embedding::DOUBLE[]) /
        |        (sqrt(list_dot_product(p.qv::DOUBLE[], p.qv::DOUBLE[])) *
        |         sqrt(list_dot_product(b.embedding::DOUBLE[],
        |           b.embedding::DOUBLE[]))) DESC, b.vec_id) AS rank
        |  FROM probes p JOIN assigned b ON p.list_id = b.list_id
        |    AND p.query_id <> b.vec_id)
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    // ann6's CTEs with the even-label predicate on the candidate side
    // (pre-filtering), plus the post-filter audit over the unfiltered
    // exact top-3
    "ann15_filtered_search" ->
      """WITH expl AS (
        |  SELECT label, unnest(embedding) AS e,
        |    unnest(range(0, len(embedding))) AS pos
        |  FROM embeddings),
        |cent AS (
        |  SELECT label, pos,
        |    CAST(sum(CAST(e AS DECIMAL(27,12))) AS DOUBLE) / count(*) AS c
        |  FROM expl GROUP BY 1, 2),
        |cvec AS (
        |  SELECT label AS clabel, list(c ORDER BY pos) AS cv
        |  FROM cent GROUP BY 1),
        |assigned AS (
        |  SELECT vec_id, label, embedding, clabel AS list_id FROM (
        |    SELECT v.vec_id, v.label, v.embedding, c.clabel,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_dot_product(v.embedding::DOUBLE[], c.cv) /
        |          (sqrt(list_dot_product(v.embedding::DOUBLE[],
        |             v.embedding::DOUBLE[])) *
        |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.clabel) AS rk
        |    FROM embeddings v CROSS JOIN cvec c)
        |  WHERE rk = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, embedding AS qv, clabel AS list_id
        |  FROM (
        |    SELECT v.vec_id, v.embedding, c.clabel,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_dot_product(v.embedding::DOUBLE[], c.cv) /
        |          (sqrt(list_dot_product(v.embedding::DOUBLE[],
        |             v.embedding::DOUBLE[])) *
        |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.clabel) AS prk
        |    FROM embeddings v CROSS JOIN cvec c WHERE v.vec_id < 10)
        |  WHERE prk <= 2),
        |pre AS (
        |  SELECT query_id, rank, neighbor_id FROM (
        |    SELECT p.query_id, b.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY p.query_id ORDER BY
        |        list_dot_product(p.qv::DOUBLE[], b.embedding::DOUBLE[]) /
        |          (sqrt(list_dot_product(p.qv::DOUBLE[], p.qv::DOUBLE[])) *
        |           sqrt(list_dot_product(b.embedding::DOUBLE[],
        |             b.embedding::DOUBLE[]))) DESC, b.vec_id) AS rank
        |    FROM probes p JOIN assigned b ON p.list_id = b.list_id
        |      AND p.query_id <> b.vec_id
        |    WHERE b.label % 2 = 0)
        |  WHERE rank <= 3),
        |exact3 AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |        list_dot_product(a.embedding::DOUBLE[],
        |          b.embedding::DOUBLE[]) /
        |          (sqrt(list_dot_product(a.embedding::DOUBLE[],
        |             a.embedding::DOUBLE[])) *
        |           sqrt(list_dot_product(b.embedding::DOUBLE[],
        |             b.embedding::DOUBLE[]))) DESC, b.vec_id) AS rn
        |    FROM embeddings a JOIN embeddings b
        |      ON a.vec_id < 10 AND a.vec_id <> b.vec_id)
        |  WHERE rn <= 3),
        |post AS (
        |  SELECT count(*) AS post_filter_hits
        |  FROM exact3 x JOIN embeddings n ON n.vec_id = x.neighbor_id
        |  WHERE n.label % 2 = 0)
        |SELECT query_id, rank, neighbor_id, post_filter_hits
        |FROM pre CROSS JOIN post ORDER BY query_id, rank""".stripMargin,

    // full Lloyd round replay: init -> assign -> decimal-exact means ->
    // re-assign -> census
    "ann7_kmeans_train" ->
      (kmeansRoundCte + """,
        |a2 AS (
        |  SELECT vec_id, label, cid FROM (
        |    SELECT v.vec_id, v.label, c.cid,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_dot_product(v.ev, c.cv) /
        |          (sqrt(list_dot_product(v.ev, v.ev)) *
        |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS rk
        |    FROM v CROSS JOIN c1 c) WHERE rk = 1)
        |SELECT cid, count(*) AS n, count(DISTINCT label) AS n_labels
        |FROM a2 GROUP BY 1 ORDER BY cid""".stripMargin),

    "dd10_blocked_near_dup" ->
      """WITH expl AS (
        |  SELECT label, unnest(embedding) AS e,
        |    unnest(range(0, len(embedding))) AS pos
        |  FROM embeddings),
        |cent AS (
        |  SELECT label, pos,
        |    CAST(sum(CAST(e AS DECIMAL(27,12))) AS DOUBLE) / count(*) AS c
        |  FROM expl GROUP BY 1, 2),
        |cvec AS (
        |  SELECT label AS clabel, list(c ORDER BY pos) AS cv
        |  FROM cent GROUP BY 1),
        |probes AS (
        |  SELECT vec_id, clabel AS list_id, rk FROM (
        |    SELECT v.vec_id, c.clabel,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_dot_product(v.embedding::DOUBLE[], c.cv) /
        |          (sqrt(list_dot_product(v.embedding::DOUBLE[],
        |             v.embedding::DOUBLE[])) *
        |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.clabel) AS rk
        |    FROM embeddings v CROSS JOIN cvec c)
        |  WHERE rk <= 2),
        |cos1 AS (
        |  SELECT list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |     sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS c
        |  FROM probes p1 JOIN probes p2
        |    ON p1.list_id = p2.list_id AND p1.vec_id < p2.vec_id
        |   AND p1.rk = 1 AND p2.rk = 1
        |  JOIN embeddings a ON p1.vec_id = a.vec_id
        |  JOIN embeddings b ON p2.vec_id = b.vec_id),
        |cand2 AS (
        |  SELECT DISTINCT p1.vec_id AS va, p2.vec_id AS vb
        |  FROM probes p1 JOIN probes p2
        |    ON p1.list_id = p2.list_id AND p1.vec_id < p2.vec_id),
        |cos2 AS (
        |  SELECT list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |     sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS c
        |  FROM cand2 JOIN embeddings a ON cand2.va = a.vec_id
        |  JOIN embeddings b ON cand2.vb = b.vec_id),
        |brute AS (
        |  SELECT list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |     sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS c
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |SELECT
        |  (SELECT count(*) FROM cos1) AS n_cand_p1,
        |  (SELECT count(CASE WHEN c >= 0.4 THEN 1 END) FROM cos1)
        |    AS n_dup_p1,
        |  (SELECT count(*) FROM cos2) AS n_cand_p2,
        |  (SELECT count(CASE WHEN c >= 0.4 THEN 1 END) FROM cos2)
        |    AS n_dup_p2,
        |  (SELECT count(CASE WHEN c >= 0.4 THEN 1 END) FROM brute)
        |    AS n_dup_brute,
        |  'exact' AS brute_mode,
        |  0.0 AS brute_ci95""".stripMargin,

    "ann10_eval_decontam" ->
      s"""WITH sig AS (
         |  SELECT vec_id, label, embedding,
         |    ${bucketExprDuck("embedding")} AS bucket
         |  FROM embeddings),
         |ev AS (SELECT bucket, embedding FROM sig WHERE vec_id % 50 = 0),
         |corp AS (
         |  SELECT vec_id, label, embedding, bucket FROM sig
         |  WHERE vec_id % 50 <> 0),
         |flagged AS (
         |  SELECT DISTINCT a.vec_id
         |  FROM corp a JOIN ev b ON a.bucket = b.bucket
         |  WHERE $duckCos >= 0.3)
         |SELECT label, count(*) AS n_corpus,
         |  count(CASE WHEN vec_id IN (SELECT vec_id FROM flagged)
         |    THEN 1 END) AS n_contaminated
         |FROM corp GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
