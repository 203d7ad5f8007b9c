package graft.queries

import org.apache.spark.sql.functions._
import graft.MemoRegistry.SessionMemo
import graft.Tables
import graft.operators.WindowIndex

/** Text analysis over the `documents` table — the training-data-pipeline
  * operator set: tokenization, language-ID, quality scoring, document
  * fingerprinting, term frequencies.
  *
  * Scale notes: everything is per-row narrow compute (split/filter/
  * higher-order functions — all codegen'd, no UDFs) followed by small
  * hash aggregates, so the plan is scan → project → partial agg →
  * exchange(few rows) → final agg. Token explosion (x5) shuffles only
  * (token, count) partials thanks to map-side combine.
  */
object TextQueries extends QueryModule {

  private val stop = Map(
    "en" -> Seq("the", "a", "and", "of", "to"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "de", "et", "les"))

  private def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(",")

  /** Per-document quality score (type-token ratio + stopword ratio +
    * length prior), defined ONCE and shared by x3's census and c5's
    * curriculum deciles — a boundary change in one consumer can't drift
    * the other (the o7/c2 hashSplit lesson). Returns the documents
    * frame plus `n_tok` and `score`. The SQL twin is
    * [[qualityScoreSql]]; both must change together.
    */
  def qualityScored(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val allStop = stop.values.flatten.toSeq.distinct
    Tables.documents(s, d)
      .withColumn("ts", split(lower(col("text")), " "))
      .withColumn("n_tok", size(col("ts")))
      .withColumn("ttr", size(array_distinct(col("ts"))) / col("n_tok"))
      .withColumn("stop_ratio",
        expr(s"size(filter(ts, x -> x IN (${inList(allStop)})))") /
          col("n_tok"))
      .withColumn("len_prior",
        least(col("n_tok") / lit(100.0), lit(1.0)))
      .withColumn("score",
        col("ttr") * 0.3 + col("stop_ratio") * 0.3 + col("len_prior") * 0.4)
  }

  /** DuckDB CTE body computing (doc_id, lang, n_chars, score) — the SQL
    * twin of [[qualityScored]], interpolated into the x3 and c5 oracles.
    */
  val qualityScoreSql: String =
    """SELECT doc_id, lang, n_chars,
      |    ttr * 0.3 + stop_ratio * 0.3 + len_prior * 0.4 AS score
      |  FROM (SELECT doc_id, lang, n_chars,
      |      len(list_distinct(ts)) * 1.0 / len(ts) AS ttr,
      |      len(list_filter(ts, x -> x IN ('the','a','and','of','to','el',
      |        'la','de','que','y','der','die','das','und','ist','le','et',
      |        'les'))) * 1.0 / len(ts) AS stop_ratio,
      |      least(len(ts) / 100.0, 1.0) AS len_prior
      |    FROM (SELECT doc_id, lang, n_chars,
      |        string_split(lower(text), ' ') AS ts FROM documents))"""
      .stripMargin

  /** Session-scoped memo of the exploded bigram instance frame — the
    * corpus bigram LM is a train-once-score-many artifact (same policy
    * as the LSH/SimHash candidate indexes in DedupQueries): the explode
    * is the expensive part, the model (per-bigram counts) and any
    * scoring pass both derive from it. At corpus scale it would be
    * written alongside the data, not rebuilt per query.
    */
  private val bigramMemo =
    new SessionMemo[String, org.apache.spark.sql.DataFrame](Seq(_))

  private def cachedBigrams(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    bigramMemo(s, d) {
      Tables.documents(s, d)
        .withColumn("ts", split(lower(col("text")), " "))
        .filter(size(col("ts")) >= 2)
        .select(col("doc_id"), col("lang"), explode(expr(
          "transform(sequence(1, size(ts)-1), " +
            "g -> concat_ws(' ', ts[g-1], ts[g]))")).as("bg"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** The x13 chunk transform: 32-token windows at stride 24 within each
    * doc (window starts 0, 24, 48, …; tail runs short). Single
    * definition point shared by the x13 census and the streaming parity
    * spec — a pure per-row generator (explode of a sequence), so it is
    * stateless and applies unchanged to a readStream frame.
    */
  private[graft] def chunked(docs: org.apache.spark.sql.DataFrame,
      w: Int = 32, stride: Int = 24)
      : org.apache.spark.sql.DataFrame = {
    require(w >= 1 && stride >= 1, s"bad chunking params w=$w stride=$stride")
    docs
      .withColumn("ts", split(lower(col("text")), " "))
      .withColumn("st",
        explode(expr(s"sequence(0, size(ts) - 1, $stride)")))
      .withColumn("chunk", expr(s"slice(ts, st + 1, $w)"))
      .withColumn("n_ck", size(col("chunk")))
      .withColumn("ck_fp", md5(concat_ws(" ", col("chunk"))))
  }

  val queries: Map[String, Q] = Map(
    // Token counting: whitespace tokenizer + per-language profile.
    "x1_token_stats" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("n_tokens", size(split(col("text"), " ")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          sum(col("n_chars")).as("sum_chars"),
          max(col("n_tokens")).as("max_tokens"))
        .orderBy(col("lang"))
    }),

    // Language-ID: stopword-hit scoring with a deterministic argmax —
    // the n-gram-heuristic operator (scores, then confusion counts
    // against the labeled lang column).
    "x2_lang_id" -> ((s, d) => {
      val scored = Tables.documents(s, d)
        .withColumn("ts", split(lower(col("text")), " "))
        .withColumn("s_en", expr(s"size(filter(ts, x -> x IN (${inList(stop("en"))})))"))
        .withColumn("s_es", expr(s"size(filter(ts, x -> x IN (${inList(stop("es"))})))"))
        .withColumn("s_de", expr(s"size(filter(ts, x -> x IN (${inList(stop("de"))})))"))
        .withColumn("s_fr", expr(s"size(filter(ts, x -> x IN (${inList(stop("fr"))})))"))
        .withColumn("predicted",
          when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de") &&
            col("s_en") >= col("s_fr"), "en")
          .when(col("s_es") >= col("s_de") && col("s_es") >= col("s_fr"), "es")
          .when(col("s_de") >= col("s_fr"), "de")
          .otherwise("fr"))
      scored.groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"), sum(col("s_en")).as("sum_s_en"))
        .orderBy(col("lang"), col("predicted"))
    }),

    // Quality scoring: type-token ratio + stopword ratio + length prior,
    // identical double arithmetic on both engines.
    "x3_quality_score" -> ((s, d) => {
      qualityScored(s, d)
        .groupBy(col("lang"))
        .agg(count(when(col("score") >= 0.5, 1)).as("n_good"),
          count(lit(1)).as("n"),
          min(col("score")).as("min_score"),
          max(col("score")).as("max_score"))
        .orderBy(col("lang"))
    }),

    // Document fingerprinting: full-content hash + leading-shingle hash
    // (rolling-hash stand-in), per source.
    "x4_fingerprint" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("fp_full", md5(lower(col("text"))))
        .withColumn("fp_head",
          md5(concat_ws(" ", slice(split(lower(col("text")), " "), 1, 5))))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp_full")).as("n_full_fp"),
          countDistinct(col("fp_head")).as("n_head_fp"))
        .orderBy(col("source"))
    }),

    // Self-trained bigram LM scoring: per-doc fluency = mean corpus
    // frequency of its bigrams (the n-gram-LM quality signal without a
    // float log, keeping cross-engine arithmetic exact).
    "x6_bigram_lm" -> ((s, d) => {
      val bi = cachedBigrams(s, d)
      // the bigram vocabulary is tiny relative to the corpus — broadcast
      // it so the 400k-row instance frame never shuffles
      val counts = bi.groupBy(col("bg")).agg(count(lit(1)).as("cnt"))
      bi.join(broadcast(counts), Seq("bg"))
        .groupBy(col("doc_id"), col("lang"))
        .agg((sum(col("cnt")) / count(lit(1))).as("score"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("score")).as("min_score"),
          max(col("score")).as("max_score"))
        .orderBy(col("lang"))
    }),

    // Term frequency: regex (BPE-ish) tokenizer, global top-20 with
    // deterministic tiebreak.
    "x5_token_freq" -> ((s, d) => {
      Tables.documents(s, d)
        .select(explode(split(lower(col("text")), "[^a-z0-9]+")).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)
    }),

    // Winnowing fingerprints (rolling-hash document fingerprinting, the
    // MOSS scheme over word 3-grams): hash every gram, keep the min hash
    // of each 4-gram window, dedupe per doc. ROW-LOCAL since round 16
    // (VERDICT r15 #6): a document is one row, so the per-doc sliding
    // minima never needed the posexplode → corpus-scale Exchange → Sort
    // → Window pipeline this ran through before
    // (plans/r16/x7_winnowing_before.txt) — they are computed inside
    // the row with array expressions, and the only shuffle left is the
    // final per-lang distinct aggregate over per-doc-deduped
    // fingerprints (guide §2.4 "remove shuffles outright"). Expression
    // shape matters in two ways, both measured: the naive
    // transform(j -> array_min(slice(hs, j, w))) references hs ONCE, so
    // CollapseProject inlines the whole md5 transform into the
    // per-window lambda and the hash work goes O(n²); here hs is
    // referenced four times (shifted slices), which blocks the collapse
    // (multi-referenced non-cheap producers don't inline), so md5 runs
    // exactly once per gram and the w-window min is three pairwise
    // zip_with/least passes — O(n·w) comparisons, zero pre-aggregate
    // exchanges at any corpus size.
    "x7_winnowing" -> ((s, d) => {
      val w = 4 // window width; the zip_with ladder is its pairwise form
      Tables.documents(s, d)
        .withColumn("ts", split(lower(col("text")), " "))
        .filter(size(col("ts")) >= 3 + w - 1)
        .withColumn("hs", expr(
          "transform(sequence(1, size(ts) - 2), " +
            "g -> md5(concat_ws(' ', ts[g-1], ts[g], ts[g+1])))"))
        // min over hs[j..j+3], j = 1..size(hs)-3 (full windows only —
        // the pre-r16 form filtered i <= n - w identically)
        .withColumn("ms", expr(
          "zip_with(" +
            "zip_with(slice(hs, 1, size(hs) - 3), " +
            "slice(hs, 2, size(hs) - 3), (x, y) -> least(x, y)), " +
            "zip_with(slice(hs, 3, size(hs) - 3), " +
            "slice(hs, 4, size(hs) - 3), (x, y) -> least(x, y)), " +
            "(x, y) -> least(x, y))"))
        .select(col("lang"), col("doc_id"),
          explode(array_distinct(col("ms"))).as("m"))
        .groupBy(col("lang"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_fp_total"),
          countDistinct(col("m")).as("n_fp_unique"))
        .orderBy(col("lang"))
    }),

    // Benchmark decontamination: word-trigram overlap between the corpus
    // and a held-out benchmark set (here a deterministic doc_id slice —
    // in production the eval suites). Per-doc gram dedup happens INSIDE
    // the row (array_distinct before explode), so no corpus-wide distinct
    // shuffle; the benchmark gram set is small and broadcast, making the
    // whole check one scan + broadcast-hash join at any corpus size.
    "x8_decontamination" -> ((s, d) => {
      val grams = Tables.documents(s, d)
        .withColumn("ts", split(lower(col("text")), " "))
        .filter(size(col("ts")) >= 3)
        .select(col("doc_id"), col("lang"), explode(array_distinct(expr(
          "transform(sequence(1, size(ts) - 2), " +
            "g -> concat_ws(' ', ts[g-1], ts[g], ts[g+1]))"))).as("gm"))
      val bench = grams.filter(col("doc_id") % 37 === 0)
        .select(col("gm")).distinct()
      grams.filter(col("doc_id") % 37 =!= 0)
        .join(broadcast(bench), Seq("gm"))
        .groupBy(col("lang"))
        .agg(countDistinct(col("doc_id")).as("n_contaminated"),
          count(lit(1)).as("n_hits"))
        .orderBy(col("lang"))
    }),

    // Gopher-style repetition quality rules: top-bigram fraction (most
    // frequent bigram's share of the doc) and duplicate-token ratio, with
    // threshold flags. Reuses the session bigram instance memo; both
    // signals are per-doc aggregates, so the only shuffle is on doc_id.
    "x9_repetition_filter" -> ((s, d) => {
      val top = cachedBigrams(s, d)
        .groupBy(col("doc_id"), col("lang"), col("bg"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"), col("lang"))
        .agg((max(col("c")) * lit(1.0) / sum(col("c"))).as("top_bg_frac"))
      val dup = Tables.documents(s, d)
        .withColumn("ts", split(lower(col("text")), " "))
        .select(col("doc_id"), (lit(1.0) -
          size(array_distinct(col("ts"))) * lit(1.0) / size(col("ts")))
          .as("dup_ratio"))
      top.join(dup, Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("top_bg_frac") > 0.05 || col("dup_ratio") > 0.6, 1))
            .as("n_flagged"),
          min(col("top_bg_frac")).as("min_top_bg"),
          max(col("top_bg_frac")).as("max_top_bg"),
          max(col("dup_ratio")).as("max_dup_ratio"))
        .orderBy(col("lang"))
    }),

    // TF-IDF top terms per language (rational idf — tf · n_docs / df —
    // keeps the arithmetic exactly replayable). Token stats build with
    // one map-side-combined aggregate; the per-language doc counts are a
    // broadcast scalar table; top-5 is a bounded per-group window.
    "x10_tfidf" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val toks = docs
        .select(col("lang"), col("doc_id"),
          explode(split(lower(col("text")), " ")).as("token"))
        .filter(col("token") =!= "")
      val stats = toks.groupBy(col("lang"), col("token"))
        .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      val nd = docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs")) // doc_id is the table key
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("score").desc, col("token"))
      stats.join(broadcast(nd), Seq("lang"))
        .withColumn("score", col("tf") * lit(1.0) * col("n_docs") / col("df"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("lang"), col("rn"), col("token"), col("tf"), col("df"),
          col("score"))
        .orderBy(col("lang"), col("rn"))
    }),

    // PII redaction: regex scrub of email-shaped tokens. The corpus
    // carries no PII, so the query injects a deterministic address (two
    // for even doc_ids) and then redacts — proving detection count and
    // masked-width accounting end-to-end. Narrow per-row regex work
    // (codegen'd string kernels, no UDF), one tiny aggregate; at corpus
    // scale this is a single scan with nothing shuffled but (lang, 3
    // longs) partials.
    "x11_pii_redact" -> ((s, d) => {
      val pat = "[a-z0-9._]+@[a-z]+\\.[a-z]+"
      Tables.documents(s, d)
        .withColumn("pii_text", concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com"),
          when(col("doc_id") % 2 === 0,
            concat(lit(" cc admin"), col("doc_id").cast("string"),
              lit("@corp.net"))).otherwise(lit(""))))
        .withColumn("n_emails",
          size(regexp_extract_all(col("pii_text"), lit(pat), lit(0))))
        .withColumn("redacted",
          regexp_replace(col("pii_text"), pat, "<EMAIL>"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_emails")).as("n_redacted"),
          sum(length(col("pii_text")) - length(col("redacted")))
            .as("len_delta"))
        .orderBy(col("lang"))
    }),

    // Sequence packing — the concat-and-chop step that turns documents
    // into fixed-budget training sequences (2048 "tokens" here): a
    // deterministic order per language, a running token cumsum, and each
    // doc assigned to the sequence its first token lands in. Per-stream
    // sort is inherent to packing (you must pick an order); it stays a
    // PER-LANGUAGE window — at corpus scale the stream key would be
    // (lang, shard) so no partition exceeds executor memory.
    "x12_sequence_packing" -> ((s, d) => {
      val budget = 2048L
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)
      Tables.documents(s, d)
        .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("seq_id",
          floor((col("cum") - col("n_tok")) / budget))
        .groupBy(col("lang"), col("seq_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("fill"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sequences"),
          sum(col("n_docs")).as("n_docs"),
          sum(col("fill")).as("total_tokens"),
          max(col("n_docs")).as("max_docs_per_seq"))
        .orderBy(col("lang"))
    }),

    // Token-window chunking with stride — the doc→chunk step of
    // long-context prep: 32-token windows at stride 24 (25% overlap),
    // window starts at 0, 24, 48, … so every token is covered and the
    // tail window is allowed to run short. Unlike x12 (which packs
    // whole docs into budgets via a per-language cumsum window), this
    // is windowing WITHIN a doc: a pure per-row generator explode
    // (row growth bounded by ~W/S ≈ 1.33×, no window functions, no
    // shuffle before the final small aggregate), so it parallelizes
    // per-document at any corpus size. Chunk identity is the md5 of
    // the joined window — the cross-chunk distinct doubles as a
    // chunk-level dedup census.
    "x13_chunking" -> ((s, d) => {
      chunked(Tables.documents(s, d))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(col("n_ck")).cast("long").as("sum_chunk_tokens"),
          count(when(col("n_ck") === 32, 1)).as("n_full"),
          countDistinct(col("ck_fp")).as("n_unique_chunks"))
        .orderBy(col("lang"))
    }),

    // Leave-one-out fluency filter — the perplexity-style quality cut
    // without a pretrained LM: a doc's support is how often its bigrams
    // occur ELSEWHERE in the corpus (global count minus the doc's own
    // occurrences), so a doc full of self-repeated phrases cannot
    // self-certify. Keep = mean external support >= 29 per bigram,
    // compared as integers (support >= 29 * n_bg) so the threshold is
    // exact cross-engine. Scale shape: rides the memoized bigram frame;
    // the per-(doc,bigram) aggregate map-side-combines, and the global
    // count aggregates the SAME cached frame directly by bg (round 15:
    // deriving it from perDoc re-ran the whole per-(doc,lang,bg)
    // pipeline — Catalyst shares no subtree between the two branches —
    // so the query paid the corpus-scale (doc,lang,bg) exchange twice;
    // sum-of-per-doc-counts ≡ count-per-bg, and the direct aggregate's
    // exchange carries only (bg, partial) rows) and broadcasts — same
    // train-once-score-many policy as x6.
    "x14_loo_fluency" -> ((s, d) => {
      val perDoc = cachedBigrams(s, d)
        .groupBy(col("doc_id"), col("lang"), col("bg"))
        .agg(count(lit(1)).as("c_doc"))
      val gcnt = cachedBigrams(s, d).groupBy(col("bg"))
        .agg(count(lit(1)).as("cnt"))
      perDoc.join(broadcast(gcnt), Seq("bg"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("c_doc") * (col("cnt") - col("c_doc")))
            .cast("long").as("support"),
          sum(col("c_doc")).cast("long").as("n_bg"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("support") >= lit(29) * col("n_bg"), 1))
            .as("n_kept"),
          sum(col("support")).cast("long").as("sum_support"),
          sum(col("n_bg")).cast("long").as("sum_bigrams"))
        .orderBy(col("lang"))
    }),

    // One BPE merge round — the unit step of tokenizer vocabulary
    // induction, distributed: pick the globally most frequent adjacent
    // token pair (deterministic tiebreak on the pair string) and
    // report, per language, how many merges it applies and the token
    // count before/after. The pair is constrained to w1 != w2, which
    // makes occurrences provably non-overlapping (an overlap at
    // adjacent positions would force w1 == w2), so greedy left-to-right
    // merge count == plain occurrence count and the whole round is two
    // aggregates over the memoized bigram frame + a broadcast of the
    // single winning pair — per-iteration cost at 100 TB is one scan of
    // the (persisted) instance frame, the shape real BPE trainers use.
    "x15_bpe_merge" -> ((s, d) => {
      val bi = cachedBigrams(s, d)
      val top = bi
        .filter(expr("split(bg, ' ')[0] != split(bg, ' ')[1]"))
        .groupBy(col("bg")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bg")).limit(1)
        .select(col("bg").as("top_pair"))
      val merges = bi.join(broadcast(top), bi("bg") === col("top_pair"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("merged"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(split(lower(col("text")), " ")).cast("long").as("n_tok"))
        .join(merges, Seq("doc_id"), "left")
        .withColumn("nm", coalesce(col("merged"), lit(0L)))
        .crossJoin(broadcast(top))
        .groupBy(col("lang"), col("top_pair"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("nm") > 0, 1)).as("n_docs_affected"),
          sum(col("nm")).cast("long").as("n_merges"),
          sum(col("n_tok")).cast("long").as("tokens_before"),
          (sum(col("n_tok")) - sum(col("nm"))).cast("long")
            .as("tokens_after"))
        .orderBy(col("lang"))
    }),

    // DSIR-style data selection (Xie et al. 2023, arXiv:2302.03169):
    // hashed-bigram importance weights — each doc scored by how much its
    // hashed n-gram features look like a target domain (here lang='en')
    // relative to the raw corpus. Faithful to the paper's hashed-feature
    // pipeline (bigrams → fixed 4096-bucket hash via the first 3 md5 hex
    // chars → add-1-smoothed target/raw bucket counts); the weight is
    // the log-free rational surrogate w = Σ n_b·(t_b+1) / Σ n_b·(r_b+1)
    // (integer sums, ONE float divide — the x6 discipline that keeps
    // cross-engine arithmetic exact; production would sum log-ratios).
    // Scale shape: the bucket-stats frame is FIXED-size (≤4096 rows) at
    // any corpus scale → broadcast; everything else is per-doc map-side
    // compute plus doc-keyed partial aggs, then TakeOrderedAndProject
    // for the top-15.
    "x16_dsir_weights" -> ((s, d) =>
      dsirScored(s, d)
        .orderBy(col("w").desc, col("doc_id"))
        .limit(15)),

    // BM25 retrieval scoring (Robertson/Spärck Jones; k1=1.2, b=0.75):
    // score the corpus against a 3-term query and return the top-10
    // docs. The query is data-derived (top-3 content tokens — length
    // ≥6 — by document frequency, deterministic tiebreak) so the same
    // code is meaningful at every sf. Cross-engine exactness, the
    // x6/x16 discipline, twice over: (1) each term score is ONE float
    // divide of two INTEGER polynomials — the standard formula
    // tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) · (N−df+0.5)/(df+0.5)
    // cleared of denominators (×10·sum_dl and ×2 — avgdl = sum_dl/N;
    // the idf is the log-free odds surrogate, production wraps it in
    // ln(1+·)). Long overflow bound: tf·22·sum_dl·2N < 2^63 holds to
    // ~1e14 token corpora; past that production computes the float
    // form after broadcast. (2) the per-doc sum folds term scores in
    // token order over a sorted array — float addition is
    // order-sensitive and an unordered SUM() would be free to
    // associate differently than Spark's partial aggregation.
    // Scale shape: df stats are one token-keyed map-side-combined
    // aggregate (the x10 shape); the 3-row query-term frame and the
    // 1-row corpus totals broadcast; tf aggregation touches only
    // query-term tokens (broadcast semi-join BEFORE the shuffle); the
    // final top-10 is TakeOrderedAndProject. Nothing corpus-sized ever
    // sits on the build side.
    "x17_bm25" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(split(lower(col("text")), " ")).as("token"))
        .filter(col("token") =!= "")
      val dfs = toks.select(col("doc_id"), col("token")).distinct()
        .groupBy(col("token")).agg(count(lit(1)).as("df"))
      val qterms = dfs.filter(length(col("token")) >= 6)
        .orderBy(col("df").desc, col("token")).limit(3)
      val dl = toks.groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("dl"))
      val tot = dl.agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).as("sum_dl"))
      val tf = toks.join(broadcast(qterms), Seq("token"))
        .groupBy(col("doc_id"), col("token"), col("df"))
        .agg(count(lit(1)).as("tf"))
      tf.join(dl, Seq("doc_id"))
        .crossJoin(broadcast(tot))
        .withColumn("num", col("tf") * 22L * col("sum_dl") *
          (col("n_docs") * 2L - col("df") * 2L + 1L))
        .withColumn("den",
          (col("sum_dl") * 10L * col("tf") + col("sum_dl") * 3L +
            col("dl") * 9L * col("n_docs")) * (col("df") * 2L + 1L))
        .withColumn("ts_score", col("num") * lit(1.0) / col("den"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_terms"),
          sort_array(collect_list(struct(col("token"), col("ts_score"))))
            .as("arr"))
        .withColumn("score",
          expr("aggregate(arr, cast(0.0 as double), (a, x) -> a + x.ts_score)"))
        .select(col("doc_id"), col("lang"), col("n_terms"), col("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(10)
    }),

    // Cross-document duplicate-span detection (the signal behind
    // substring-level training-data dedup, Lee et al. 2022,
    // arXiv:2107.06499 — approximated at word-5-gram granularity): a
    // window is "duplicated" when its hash occurs in ≥2 DISTINCT
    // docs; per doc we count duplicated windows and flag docs whose
    // duplicated fraction exceeds 20% (integer-exact as 5·n_dup >
    // n_win — no float threshold for the oracle to disagree on).
    // Every output is an integer. Scale shape (round 14, VERDICT r13
    // #2): BOTH per-doc inputs come off the persisted index's narrow
    // per-doc tables — n_win from docstats (one row per doc) and n_dup
    // from the summable dupc deltas (appends emitted retroactive flip
    // corrections, so the sum IS the global ≥2-distinct-docs
    // criterion) — the window-scale mark-back join and its census
    // shuffle are gone from the query entirely; what remains is one
    // doc-keyed join of two doc-sized frames and a per-lang rollup.
    // Within-doc repeats of a UNIQUE hash still do not count (the
    // criterion is distinct docs), matching the oracle's HAVING
    // count(DISTINCT doc_id) >= 2 replay bit-for-bit.
    "x18_dup_spans" -> ((s, d) => {
      val idx = windowIndexArtifact(s, d)
      val per = WindowIndex.cached(s, idx, WindowIndex.DocStats)
        .filter(col("n_win") > 0)
        .join(WindowIndex.cached(s, idx, WindowIndex.DupCounts),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"), col("n_win"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      per.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("n_dup") * 5 > col("n_win"), 1))
            .as("n_docs_flagged"),
          sum(col("n_dup")).cast("long").as("n_dup_windows"),
          sum(col("n_win")).cast("long").as("n_windows"))
        .orderBy(col("lang"))
    }),

    // Gopher document-quality rules (Rae et al. 2021, arXiv:2112.11446
    // Table A1), the rule-based pre-filter every large text pipeline
    // runs before model-based scoring — adapted to this corpus (no
    // punctuation, bounds scaled to the synthetic doc lengths) and made
    // INTEGER-EXACT so the oracle can't disagree on a float boundary:
    // each ratio rule is cross-multiplied (mean word length in [3,8] ⇔
    // 3·n ≤ Σlen ≤ 8·n; short-word fraction ≤ 20% ⇔ 5·n_short ≤ n;
    // top-word fraction ≤ 10% ⇔ 10·max_tf ≤ n). Per-lang census of
    // pass/fail per rule plus the all-rules pass count. Scale shape:
    // one pass over the token stream (map-side-combined per-doc
    // aggregate; max_tf needs a (doc,token) pre-aggregate — two
    // shuffles total, both on keys that grow with the corpus), then a
    // tiny per-lang rollup. No joins, nothing collected.
    "x19_gopher_rules" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(split(lower(col("text")), " ")).as("token"))
        .filter(col("token") =!= "")
      val tf = toks.groupBy(col("doc_id"), col("lang"), col("token"))
        .agg(count(lit(1)).as("tf"))
        .withColumn("wlen", length(col("token")))
        .withColumn("is_stop",
          when(col("token").isin(stop("en"): _*), 1).otherwise(0))
      val per = tf.groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("tf")).as("n_tok"),
          sum(col("wlen") * col("tf")).as("sum_len"),
          sum(when(col("wlen") <= 2, col("tf")).otherwise(0L))
            .as("n_short"),
          sum(col("is_stop")).as("n_stop_kinds"),
          max(col("tf")).as("max_tf"))
        .withColumn("r_count",
          col("n_tok") >= 25 && col("n_tok") <= 100000)
        .withColumn("r_meanlen",
          col("sum_len") >= col("n_tok") * 3 &&
            col("sum_len") <= col("n_tok") * 8)
        .withColumn("r_short", col("n_short") * 5 <= col("n_tok"))
        .withColumn("r_stop", col("n_stop_kinds") >= 2)
        .withColumn("r_rep", col("max_tf") * 10 <= col("n_tok"))
      per.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("r_count") && col("r_meanlen") &&
            col("r_short") && col("r_stop") && col("r_rep"), 1))
            .as("n_pass"),
          count(when(!col("r_count"), 1)).as("f_count"),
          count(when(!col("r_meanlen"), 1)).as("f_meanlen"),
          count(when(!col("r_short"), 1)).as("f_short"),
          count(when(!col("r_stop"), 1)).as("f_stop"),
          count(when(!col("r_rep"), 1)).as("f_rep"))
        .orderBy(col("lang"))
    }),

    // Longest duplicated-span RUN per document — the contiguity signal
    // that separates "this doc shares scattered boilerplate 5-grams"
    // from "this doc contains a long verbatim copy" (the unit Lee et
    // al. 2022 actually remove: a run of L consecutive duplicated
    // windows = a copied substring of L+4 words). Since round 15 the
    // gaps-and-islands pass lives in the INDEX (WindowIndex.spanStatsOf,
    // maintained per-append over only flip-affected docs — VERDICT r14
    // #3); the query is a top-10 over the committed per-doc spans
    // table, one narrow row per dup-affected doc. Integer-exact; the
    // oracle still replays the full island derivation in SQL.
    "x20_dup_runs" -> ((s, d) => {
      WindowIndex.cached(s, windowIndexArtifact(s, d), WindowIndex.Spans)
        .select(col("doc_id"), col("lang"), col("longest_run"),
          col("n_runs"))
        .orderBy(col("longest_run").desc, col("doc_id"))
        .limit(10)
    }),

    // Cross-source span contamination matrix: which pairs of sources
    // share verbatim 5-gram windows — the provenance audit behind
    // "did crawl A leak into curated set B" and train/eval
    // cross-contamination checks (x8's decontamination cousin, but
    // source×source instead of corpus×heldout). Pair enumeration is
    // ROW-LOCAL since round 16: one groupBy(h) collecting the (tiny,
    // catalog-bounded) per-hash source SET replaces the r15
    // distinct + h-keyed self-join — the plan before
    // (plans/r16/x21_cross_source_spans_before.txt) computed the
    // distinct frame TWICE (once per join side) plus the join's own
    // exchange; now ONE exchange carries per-partition-deduped
    // (h, {sources}) partial sets (guide §2.3 "aggregate before you
    // shuffle", §2.4). Pairs come from the sorted set with s1 < s2, so
    // per-hash fan-out stays bounded by C(|sources|, 2) — a
    // catalog-sized constant, never corpus-quadratic — and n_shared is
    // a plain count: each hash contributes each pair at most once by
    // construction, exactly the old countDistinct(a.h) over the
    // equi-join. Integer counts, top-15 pairs.
    "x21_cross_source_spans" -> ((s, d) => {
      WindowIndex.cached(s, windowIndexArtifact(s, d), WindowIndex.Windows)
        .groupBy(col("h"))
        .agg(sort_array(collect_set(col("source"))).as("ss"))
        .filter(size(col("ss")) >= 2)
        .select(explode(expr(
          "flatten(transform(ss, (sa, i) -> " +
            "transform(slice(ss, i + 2, size(ss)), " +
            "sb -> named_struct('a', sa, 'b', sb))))")).as("p"))
        .groupBy(col("p.a").as("source_a"), col("p.b").as("source_b"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy(col("n_shared").desc, col("source_a"), col("source_b"))
        .limit(15)
    }),

    // Substring-dedup YIELD accounting — what x18 flags, this
    // materializes: how many WORDS deleting every duplicated span
    // actually removes per language, and what fraction of the corpus
    // survives (Lee et al. 2022 report exactly this table for C4/RW).
    // A duplicated window at position g covers words [g, g+4], so two
    // dup windows whose positions differ by ≤4 overlap in words and
    // must count once — handled by a single gaps-and-islands pass with
    // the MERGE criterion gap > 4 (not gap > 1): each merged span of
    // positions [g1, g2] removes exactly g2+4−g1+1 words. Same
    // one-window-per-doc shape as x20 (state bounded by windows per
    // doc), integer-exact end to end.
    "x22_dedup_yield" -> ((s, d) => {
      // the merge-at-gap≤4 span accounting lives in the INDEX since
      // round 15 (WindowIndex.spanStatsOf — VERDICT r14 #3): this
      // query joins two narrow per-doc artifact tables (docstats ⋈
      // spans) where it used to sort the corpus-scale dup-window
      // stream per session. Same integers; the oracle replays the full
      // span derivation in SQL.
      val idx = windowIndexArtifact(s, d)
      val perDoc = WindowIndex.cached(s, idx, WindowIndex.Spans)
        .select(col("doc_id"), col("removed_words"))
      // word totals off the index's narrow docstats table (round 14) —
      // this leg used to re-split the ENTIRE corpus text per run
      val docs = WindowIndex.cached(s, idx, WindowIndex.DocStats)
        .select(col("doc_id"), col("lang"),
          col("n_words").as("total_words"))
      docs.join(perDoc, Seq("doc_id"), "left")
        .withColumn("removed_words",
          coalesce(col("removed_words"), lit(0L)))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("total_words")).as("total_words"),
          sum(col("removed_words")).as("removed_words"),
          sum(col("total_words") - col("removed_words"))
            .as("kept_words"))
        .orderBy(col("lang"))
    }),

    // Rare-window containment detection — "is doc A a (near-)substring
    // of doc B": the estimator behind catalog-level URL/doc subsumption
    // passes (Broder's rare-shingle containment,
    // resemblance-and-containment 1997). Candidate pairs come ONLY
    // from shared RARE windows — the df cap that makes this scale:
    // boilerplate hashes, the skewed mass that would drive a quadratic
    // fan-out, are excluded by construction, so per-hash pair fan-out
    // is ≤ cap·(cap−1) and the self-join shuffles like any equi-join.
    // The cap is CORPUS-CALIBRATED (VERDICT r10 #5, replacing the
    // fixed df ≤ 8): the integer-rank p99 of the df distribution —
    // smallest df v with |{h : df(h) ≤ v}|·100 ≥ 99·|hashes| — floored
    // at 2 (df=1 can't pair) and CEILINGED at 64. The floor keeps a
    // mostly-unique corpus pairable; the calibration lets a moderately
    // duplicated corpus (df mostly 10–30, where the fixed 8 silently
    // starved the estimator) keep its informative windows; the ceiling
    // is the scale guarantee — per-hash pair fan-out stays ≤ 64·63
    // even on a pathological corpus where everything is ~100-deep
    // duplicated and p99 ≈ group depth (there, windows above the
    // ceiling are boilerplate BY the rare-shingle premise and drop
    // out, exactly like the old fixed cap). The census rides the
    // existing hdf frame; the rank cut runs on the tiny (df, cnt)
    // distribution — ≤ max-df rows, catalog-scale, the one
    // deliberately unpartitioned window in this query (the o11
    // apportionment rationale). Integer-exact in both engines.
    // The containment score for (a → b) is
    // |rare windows of a shared with b| / |rare windows of a|,
    // integer-cross-multiplied for the ≥ 90% flag. Consumes the shared
    // window index's windows and df census.
    // df = 1 windows can't pair but DO count in a's denominator:
    // unique content dilutes containment, exactly the intent.
    "x23_containment" -> ((s, d) => {
      val idx = windowIndexArtifact(s, d)
      val hd = WindowIndex.cached(s, idx, WindowIndex.Windows)
        .select(col("h"), col("doc_id"), col("lang")).distinct()
      val hdf = WindowIndex.cached(s, idx, WindowIndex.Df)
      val dist = hdf.groupBy(col("df")).agg(count(lit(1)).as("cnt"))
      val wcum = org.apache.spark.sql.expressions.Window
        .orderBy(col("df")).rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val cap = dist
        .crossJoin(broadcast(dist.agg(sum(col("cnt")).as("ntot"))))
        .withColumn("cum", sum(col("cnt")).over(wcum))
        .filter(col("cum") * 100 >= col("ntot") * 99)
        .agg(greatest(least(min(col("df")), lit(64L)), lit(2L)).as("cap"))
      val rare = hd.join(hdf, Seq("h"))
        .crossJoin(broadcast(cap)).filter(col("df") <= col("cap"))
        .select(col("h"), col("doc_id"), col("lang"), col("df"))
      val nRare = rare.groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_rare"))
      val pairable = rare.filter(col("df") >= 2)
      val shared = pairable.select(col("h"), col("doc_id").as("doc_a"))
        .join(pairable.select(col("h"), col("doc_id").as("doc_b")),
          Seq("h"))
        .filter(col("doc_a") =!= col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
      shared.join(nRare.select(col("doc_id").as("doc_a"), col("lang"),
          col("n_rare")), Seq("doc_a"))
        .withColumn("contained", col("n_shared") * 10 >= col("n_rare") * 9)
        .orderBy(col("n_shared").desc, col("doc_a"), col("doc_b"))
        .limit(15)
    }),

    // The PERSISTED window index's whole lifecycle under the oracle
    // (VERDICT r10 #1 — the ann14 treatment for WindowIndex): build
    // the on-disk artifact with write(docs where doc_id%3≠0), append
    // the rest, append it AGAIN (the retried-batch no-op faces the
    // oracle through the n_batches audit — a double-applied append
    // would also break every per-lang count), then answer entirely
    // from the artifact files: per-lang window/dup-window/doc counts
    // off the committed snapshot plus the manifest/batch audits.
    // DuckDB replays it from the frozen windows() definition — the
    // incremental min/max census merge must land exactly where the
    // one-shot HAVING count(DISTINCT doc_id) >= 2 census does. The
    // artifact is content-keyed and cross-session (ArtifactStore
    // elects ONE builder, satisfying WindowIndex's single-writer
    // contract by construction).
    "x24_window_index_lifecycle" -> ((s, d) => {
      val path = windowIndexArtifact(s, d)
      val wins = WindowIndex.cached(s, path, WindowIndex.Windows)
      val dup = WindowIndex.cached(s, path, WindowIndex.Dup)
        .withColumn("is_dup", lit(1))
      val per = wins.join(dup, Seq("h"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_windows"),
          count(col("is_dup")).as("n_dup_windows"),
          countDistinct(col("doc_id")).as("n_docs_win"))
      val audit = WindowIndex.readManifest(s, path)
        .agg(count(lit(1)).as("n_docs_indexed"))
        .withColumn("n_batches",
          lit(WindowIndex.batchCount(s, path)))
      per.crossJoin(broadcast(audit)).orderBy(col("lang"))
    })
  )

  /** x24's on-disk window-index artifact: write from the doc_id%3≠0
    * base, append the held-out third TWICE (retry idempotence faces
    * the oracle via the batch-count audit). Cross-session under
    * [[graft.ArtifactStore]] — content key = corpus fingerprint +
    * recipe version; the store's one-builder election is how the
    * index's single-writer contract is met in a many-session world.
    */
  // v2: the index's census became LSM deltas (round 12) — same reader
  // semantics (pointer read is back-compat) but bumping the recipe
  // makes the gate artifact exercise the current write path
  // v3: census rows gained the summable per-batch df column (round 13,
  // x23's frame) — a v2 artifact would serve readDf nulls
  // v4: census rows gained tc, and batches gained the docstats +
  // summable dupc delta tables (round 14, VERDICT r13 #2 — x18 answers
  // from the two narrow tables, x22's word totals come off docstats).
  // v5 (round 15, VERDICT r14 #3): batches gained the per-doc SPANS
  // table — x20's longest-run and x22's removed-words now read one
  // narrow row per dup-affected doc instead of re-joining the
  // corpus-scale window frame against the dup set each session; a
  // pre-v5 artifact fails the readSpans loud gate
  private val Wx24Recipe = "x24-v5-mod3split"

  // readers open the index by path, so the dir itself is the value: a
  // published dir costs two `exists` checks and an owner check. Every
  // window-index reader (x18, x20–x24) ensures it, so whichever runs
  // first elects the one builder and every later reader rides the same
  // files instead of re-exploding the corpus text.
  private[graft] def windowIndexArtifact(
      s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.ArtifactStore.ensure(s, "x24-winidx",
      graft.ArtifactStore.tableKey(s, d, "documents", Wx24Recipe)) { dir =>
      val docs = Tables.documents(s, d)
      val idx = s"$dir/idx"
      val delta = docs.filter(col("doc_id") % 3 === 0)
      WindowIndex.write(docs.filter(col("doc_id") % 3 =!= 0), idx)
      WindowIndex.append(delta, idx)
      // the retry path, exercised IN the gate: identical re-append
      WindowIndex.append(delta, idx)
    } + "/idx"

  /** The x16 per-doc DSIR importance frame (doc_id, lang, n_feats,
    * w_num, w_den, w) over the FULL corpus — factored out so
    * DataSelectionSpec can assert the weight bounds and target-affinity
    * properties on every doc, not just the query's top-15.
    */
  private[graft] def dsirScored(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val bucketed = cachedBigrams(s, d)
      .withColumn("bucket",
        conv(substring(md5(col("bg")), 1, 3), 16, 10).cast("int"))
    val feat = bucketed
      .groupBy(col("doc_id"), col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n"))
    // bucket totals straight off the instance frame — one shuffle of
    // ≤4096-key partials, not a second pass over the doc-keyed aggs
    val stats = bucketed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("r"),
        count(when(col("lang") === "en", 1)).as("t"))
    feat.join(broadcast(stats), Seq("bucket"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("n")).as("n_feats"),
        sum(col("n") * (col("t") + 1)).as("w_num"),
        sum(col("n") * (col("r") + 1)).as("w_den"))
      .withColumn("w", col("w_num") * lit(1.0) / col("w_den"))
  }

  val oracle: Map[String, String] = Map(
    "x1_token_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  max(len(string_split(text, ' '))) AS max_tokens
        |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin,

    "x2_lang_id" ->
      """WITH scored AS (
        |  SELECT lang,
        |    len(list_filter(ts, x -> x IN ('the','a','and','of','to'))) AS s_en,
        |    len(list_filter(ts, x -> x IN ('el','la','de','que','y'))) AS s_es,
        |    len(list_filter(ts, x -> x IN ('der','die','das','und','ist'))) AS s_de,
        |    len(list_filter(ts, x -> x IN ('le','la','de','et','les'))) AS s_fr
        |  FROM (SELECT lang, string_split(lower(text), ' ') AS ts FROM documents))
        |SELECT lang,
        |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
        |       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
        |       WHEN s_de >= s_fr THEN 'de'
        |       ELSE 'fr' END AS predicted,
        |  count(*) AS n, CAST(sum(s_en) AS BIGINT) AS sum_s_en
        |FROM scored GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin,

    "x3_quality_score" ->
      s"""WITH q AS (
        |  $qualityScoreSql)
        |SELECT lang,
        |  count(CASE WHEN score >= 0.5 THEN 1 END) AS n_good,
        |  count(*) AS n,
        |  min(score) AS min_score,
        |  max(score) AS max_score
        |FROM q GROUP BY 1 ORDER BY lang""".stripMargin,

    "x4_fingerprint" ->
      """SELECT source, count(*) AS n_docs,
        |  count(DISTINCT md5(lower(text))) AS n_full_fp,
        |  count(DISTINCT md5(array_to_string(
        |    list_slice(string_split(lower(text), ' '), 1, 5), ' '))) AS n_head_fp
        |FROM documents GROUP BY 1 ORDER BY source""".stripMargin,

    "x6_bigram_lm" ->
      """WITH bi AS (
        |  SELECT doc_id, lang, ts[g] || ' ' || ts[g+1] AS bg
        |  FROM (SELECT doc_id, lang, string_split(lower(text), ' ') AS ts
        |        FROM documents WHERE len(string_split(lower(text), ' ')) >= 2)
        |  CROSS JOIN unnest(range(1, len(ts))) AS u(g)),
        |counts AS (SELECT bg, count(*) AS cnt FROM bi GROUP BY 1),
        |scored AS (
        |  SELECT doc_id, lang, sum(cnt) * 1.0 / count(*) AS score
        |  FROM bi JOIN counts USING (bg) GROUP BY 1, 2)
        |SELECT lang, count(*) AS n_docs,
        |  min(score) AS min_score, max(score) AS max_score
        |FROM scored GROUP BY 1 ORDER BY lang""".stripMargin,

    "x5_token_freq" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS token
        |  FROM documents)
        |WHERE token <> '' GROUP BY 1
        |ORDER BY n DESC, token LIMIT 20""".stripMargin,

    "x7_winnowing" ->
      """WITH docs AS (
        |  SELECT doc_id, lang, string_split(lower(text), ' ') AS ts
        |  FROM documents WHERE len(string_split(lower(text), ' ')) >= 6),
        |grams AS (
        |  SELECT doc_id, lang,
        |    [md5(ts[g] || ' ' || ts[g+1] || ' ' || ts[g+2])
        |      FOR g IN range(1, len(ts) - 1)] AS hs
        |  FROM docs),
        |wins AS (
        |  SELECT doc_id, lang,
        |    list_distinct([list_aggregate(hs[j:j+3], 'min')
        |      FOR j IN range(1, len(hs) - 2)]) AS fps
        |  FROM grams)
        |SELECT lang, count(DISTINCT doc_id) AS n_docs,
        |  count(*) AS n_fp_total, count(DISTINCT fp) AS n_fp_unique
        |FROM (SELECT doc_id, lang, unnest(fps) AS fp FROM wins)
        |GROUP BY 1 ORDER BY lang""".stripMargin,

    "x8_decontamination" ->
      """WITH grams AS (
        |  SELECT doc_id, lang, unnest(list_distinct(
        |    [ts[g] || ' ' || ts[g+1] || ' ' || ts[g+2]
        |      FOR g IN range(1, len(ts) - 1)])) AS gm
        |  FROM (SELECT doc_id, lang, string_split(lower(text), ' ') AS ts
        |        FROM documents)
        |  WHERE len(ts) >= 3),
        |bench AS (SELECT DISTINCT gm FROM grams WHERE doc_id % 37 = 0)
        |SELECT lang, count(DISTINCT doc_id) AS n_contaminated,
        |  count(*) AS n_hits
        |FROM (SELECT * FROM grams WHERE doc_id % 37 <> 0) c
        |JOIN bench USING (gm)
        |GROUP BY 1 ORDER BY lang""".stripMargin,

    "x9_repetition_filter" ->
      """WITH bi AS (
        |  SELECT doc_id, lang, ts[g] || ' ' || ts[g+1] AS bg
        |  FROM (SELECT doc_id, lang, string_split(lower(text), ' ') AS ts
        |        FROM documents WHERE len(string_split(lower(text), ' ')) >= 2)
        |  CROSS JOIN unnest(range(1, len(ts))) AS u(g)),
        |per AS (SELECT doc_id, lang, bg, count(*) AS c FROM bi GROUP BY 1,2,3),
        |top AS (SELECT doc_id, lang, max(c) * 1.0 / sum(c) AS top_bg_frac
        |        FROM per GROUP BY 1, 2),
        |dup AS (
        |  SELECT doc_id,
        |    1.0 - len(list_distinct(ts)) * 1.0 / len(ts) AS dup_ratio
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS ts
        |        FROM documents))
        |SELECT lang, count(*) AS n_docs,
        |  count(CASE WHEN top_bg_frac > 0.05 OR dup_ratio > 0.6 THEN 1 END)
        |    AS n_flagged,
        |  min(top_bg_frac) AS min_top_bg,
        |  max(top_bg_frac) AS max_top_bg,
        |  max(dup_ratio) AS max_dup_ratio
        |FROM top JOIN dup USING (doc_id)
        |GROUP BY 1 ORDER BY lang""".stripMargin,

    "x10_tfidf" ->
      """WITH toks AS (
        |  SELECT lang, doc_id,
        |    unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents),
        |stats AS (
        |  SELECT lang, token, count(*) AS tf,
        |    count(DISTINCT doc_id) AS df
        |  FROM toks WHERE token <> '' GROUP BY 1, 2),
        |nd AS (SELECT lang, count(*) AS n_docs
        |       FROM documents GROUP BY 1)
        |SELECT lang, rn, token, tf, df, score FROM (
        |  SELECT s.lang, token, tf, df,
        |    tf * 1.0 * n_docs / df AS score,
        |    row_number() OVER (PARTITION BY s.lang
        |      ORDER BY tf * 1.0 * n_docs / df DESC, token) AS rn
        |  FROM stats s JOIN nd ON s.lang = nd.lang)
        |WHERE rn <= 5 ORDER BY lang, rn""".stripMargin,

    "x11_pii_redact" ->
      """WITH p AS (
        |  SELECT lang,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com'
        |      || CASE WHEN doc_id % 2 = 0
        |           THEN ' cc admin' || CAST(doc_id AS VARCHAR) || '@corp.net'
        |           ELSE '' END AS pii_text
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(regexp_extract_all(pii_text,
        |    '[a-z0-9._]+@[a-z]+\.[a-z]+'))) AS BIGINT) AS n_redacted,
        |  CAST(sum(len(pii_text) - len(regexp_replace(pii_text,
        |    '[a-z0-9._]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'))) AS BIGINT)
        |    AS len_delta
        |FROM p GROUP BY 1 ORDER BY lang""".stripMargin,

    "x12_sequence_packing" ->
      """WITH toks AS (
        |  SELECT lang, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |packed AS (
        |  SELECT lang, n_tok,
        |    CAST(floor((SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
        |      / 2048) AS BIGINT) AS seq_id
        |  FROM toks),
        |per AS (
        |  SELECT lang, seq_id, count(*) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS fill
        |  FROM packed GROUP BY 1, 2)
        |SELECT lang, count(*) AS n_sequences,
        |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |  CAST(sum(fill) AS BIGINT) AS total_tokens,
        |  max(n_docs) AS max_docs_per_seq
        |FROM per GROUP BY 1 ORDER BY lang""".stripMargin,

    "x13_chunking" ->
      """WITH docs AS (
        |  SELECT doc_id, lang, string_split(lower(text), ' ') AS ts
        |  FROM documents),
        |chunks AS (
        |  SELECT doc_id, lang, ts[st + 1 : st + 32] AS chunk
        |  FROM docs
        |  CROSS JOIN unnest(generate_series(0, len(ts) - 1, 24)) AS u(st))
        |SELECT lang, count(*) AS n_chunks,
        |  count(DISTINCT doc_id) AS n_docs,
        |  CAST(sum(len(chunk)) AS BIGINT) AS sum_chunk_tokens,
        |  count(CASE WHEN len(chunk) = 32 THEN 1 END) AS n_full,
        |  count(DISTINCT md5(array_to_string(chunk, ' ')))
        |    AS n_unique_chunks
        |FROM chunks GROUP BY 1 ORDER BY lang""".stripMargin,

    "x14_loo_fluency" ->
      """WITH bi AS (
        |  SELECT doc_id, lang, ts[g] || ' ' || ts[g+1] AS bg
        |  FROM (SELECT doc_id, lang, string_split(lower(text), ' ') AS ts
        |        FROM documents WHERE len(string_split(lower(text), ' ')) >= 2)
        |  CROSS JOIN unnest(range(1, len(ts))) AS u(g)),
        |per_doc AS (
        |  SELECT doc_id, lang, bg, count(*) AS c_doc FROM bi GROUP BY 1, 2, 3),
        |gcnt AS (SELECT bg, CAST(sum(c_doc) AS BIGINT) AS cnt
        |         FROM per_doc GROUP BY 1),
        |scored AS (
        |  SELECT doc_id, lang,
        |    CAST(sum(c_doc * (cnt - c_doc)) AS BIGINT) AS support,
        |    CAST(sum(c_doc) AS BIGINT) AS n_bg
        |  FROM per_doc JOIN gcnt USING (bg) GROUP BY 1, 2)
        |SELECT lang, count(*) AS n_docs,
        |  count(CASE WHEN support >= 29 * n_bg THEN 1 END) AS n_kept,
        |  CAST(sum(support) AS BIGINT) AS sum_support,
        |  CAST(sum(n_bg) AS BIGINT) AS sum_bigrams
        |FROM scored GROUP BY 1 ORDER BY lang""".stripMargin,

    "x15_bpe_merge" ->
      """WITH bi AS (
        |  SELECT doc_id, lang, ts[g] AS w1, ts[g+1] AS w2
        |  FROM (SELECT doc_id, lang, string_split(lower(text), ' ') AS ts
        |        FROM documents WHERE len(string_split(lower(text), ' ')) >= 2)
        |  CROSS JOIN unnest(range(1, len(ts))) AS u(g)),
        |top AS (
        |  SELECT w1 || ' ' || w2 AS top_pair
        |  FROM bi WHERE w1 <> w2
        |  GROUP BY 1 ORDER BY count(*) DESC, 1 LIMIT 1),
        |merges AS (
        |  SELECT doc_id, count(*) AS merged
        |  FROM bi JOIN top ON bi.w1 || ' ' || bi.w2 = top.top_pair
        |  GROUP BY 1),
        |toks AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok
        |  FROM documents)
        |SELECT lang, top_pair,
        |  count(*) AS n_docs,
        |  count(CASE WHEN COALESCE(merged, 0) > 0 THEN 1 END)
        |    AS n_docs_affected,
        |  CAST(sum(COALESCE(merged, 0)) AS BIGINT) AS n_merges,
        |  CAST(sum(n_tok) AS BIGINT) AS tokens_before,
        |  CAST(sum(n_tok) - sum(COALESCE(merged, 0)) AS BIGINT)
        |    AS tokens_after
        |FROM toks LEFT JOIN merges USING (doc_id) CROSS JOIN top
        |GROUP BY 1, 2 ORDER BY lang""".stripMargin,

    // hashed-bigram importance replay: same md5-prefix bucket (hex
    // chars decoded positionally — DuckDB has no base-16 conv), same
    // integer sums, one divide
    "x16_dsir_weights" ->
      """WITH bi AS (
        |  SELECT doc_id, lang, ts[g] || ' ' || ts[g+1] AS bg
        |  FROM (SELECT doc_id, lang, string_split(lower(text), ' ') AS ts
        |        FROM documents WHERE len(string_split(lower(text), ' ')) >= 2)
        |  CROSS JOIN unnest(range(1, len(ts))) AS u(g)),
        |feat AS (
        |  SELECT doc_id, lang,
        |    (strpos('0123456789abcdef', substr(md5(bg), 1, 1)) - 1) * 256 +
        |    (strpos('0123456789abcdef', substr(md5(bg), 2, 1)) - 1) * 16 +
        |    (strpos('0123456789abcdef', substr(md5(bg), 3, 1)) - 1)
        |      AS bucket,
        |    count(*) AS n
        |  FROM bi GROUP BY 1, 2, 3),
        |stats AS (
        |  SELECT bucket, CAST(sum(n) AS BIGINT) AS r,
        |    CAST(sum(CASE WHEN lang = 'en' THEN n ELSE 0 END) AS BIGINT)
        |      AS t
        |  FROM feat GROUP BY 1),
        |scored AS (
        |  SELECT doc_id, lang, CAST(sum(n) AS BIGINT) AS n_feats,
        |    CAST(sum(n * (t + 1)) AS BIGINT) AS w_num,
        |    CAST(sum(n * (r + 1)) AS BIGINT) AS w_den
        |  FROM feat JOIN stats USING (bucket) GROUP BY 1, 2)
        |SELECT doc_id, lang, n_feats, w_num, w_den,
        |  w_num * 1.0 / w_den AS w
        |FROM scored ORDER BY w DESC, doc_id LIMIT 15""".stripMargin,

    // the per-doc sum adds list elements in token order with explicit
    // parentheses — the same ((s1+s2)+s3) tree the Spark fold builds
    // (0.0+s1 == s1 exactly), so the doubles stay bit-identical
    "x17_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents),
        |tk AS (SELECT * FROM toks WHERE token <> ''),
        |dfs AS (
        |  SELECT token, count(*) AS df
        |  FROM (SELECT DISTINCT doc_id, token FROM tk) GROUP BY 1),
        |qterms AS (
        |  SELECT token, df FROM dfs WHERE len(token) >= 6
        |  ORDER BY df DESC, token LIMIT 3),
        |dl AS (SELECT doc_id, lang, count(*) AS dl
        |       FROM tk GROUP BY 1, 2),
        |tot AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
        |        FROM dl),
        |tf AS (
        |  SELECT doc_id, token, df, count(*) AS tf
        |  FROM tk JOIN qterms USING (token) GROUP BY 1, 2, 3),
        |scored AS (
        |  SELECT doc_id, lang, token,
        |    (tf * 22 * sum_dl * (n_docs * 2 - df * 2 + 1)) * 1.0 /
        |      ((sum_dl * 10 * tf + sum_dl * 3 + dl * 9 * n_docs) *
        |        (df * 2 + 1)) AS sc
        |  FROM tf JOIN dl USING (doc_id) CROSS JOIN tot),
        |per AS (
        |  SELECT doc_id, lang, count(*) AS n_terms,
        |    list(sc ORDER BY token) AS l
        |  FROM scored GROUP BY 1, 2)
        |SELECT doc_id, lang, n_terms,
        |  (l[1] + COALESCE(l[2], 0)) + COALESCE(l[3], 0) AS score
        |FROM per ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "x18_dup_spans" ->
      """WITH docs AS (
        |  SELECT doc_id, lang, string_split(lower(text), ' ') AS ts
        |  FROM documents WHERE len(string_split(lower(text), ' ')) >= 5),
        |wins AS (
        |  SELECT doc_id, lang, md5(ts[g] || ' ' || ts[g+1] || ' ' ||
        |    ts[g+2] || ' ' || ts[g+3] || ' ' || ts[g+4]) AS h
        |  FROM docs CROSS JOIN unnest(range(1, len(ts) - 3)) AS u(g)),
        |dup AS (SELECT h FROM wins GROUP BY h
        |        HAVING count(DISTINCT doc_id) >= 2),
        |per AS (
        |  SELECT w.doc_id, w.lang, count(*) AS n_win, count(d.h) AS n_dup
        |  FROM wins w LEFT JOIN dup d USING (h) GROUP BY 1, 2)
        |SELECT lang, count(*) AS n_docs,
        |  count(CASE WHEN n_dup * 5 > n_win THEN 1 END) AS n_docs_flagged,
        |  CAST(sum(n_dup) AS BIGINT) AS n_dup_windows,
        |  CAST(sum(n_win) AS BIGINT) AS n_windows
        |FROM per GROUP BY 1 ORDER BY lang""".stripMargin,

    // integer-exact rules (cross-multiplied ratios), so the pass/fail
    // census can't drift on a float boundary
    "x19_gopher_rules" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, lang, token, count(*) AS tf,
        |    len(token) AS wlen,
        |    CASE WHEN token IN ('the','a','and','of','to') THEN 1
        |         ELSE 0 END AS is_stop
        |  FROM toks WHERE token <> '' GROUP BY 1, 2, 3),
        |per AS (
        |  SELECT doc_id, lang, sum(tf) AS n_tok,
        |    sum(wlen * tf) AS sum_len,
        |    sum(CASE WHEN wlen <= 2 THEN tf ELSE 0 END) AS n_short,
        |    sum(is_stop) AS n_stop_kinds, max(tf) AS max_tf
        |  FROM tf GROUP BY 1, 2),
        |rules AS (
        |  SELECT lang,
        |    (n_tok >= 25 AND n_tok <= 100000) AS r_count,
        |    (sum_len >= n_tok * 3 AND sum_len <= n_tok * 8) AS r_meanlen,
        |    (n_short * 5 <= n_tok) AS r_short,
        |    (n_stop_kinds >= 2) AS r_stop,
        |    (max_tf * 10 <= n_tok) AS r_rep
        |  FROM per)
        |SELECT lang, count(*) AS n_docs,
        |  count(CASE WHEN r_count AND r_meanlen AND r_short AND r_stop
        |    AND r_rep THEN 1 END) AS n_pass,
        |  count(CASE WHEN NOT r_count THEN 1 END) AS f_count,
        |  count(CASE WHEN NOT r_meanlen THEN 1 END) AS f_meanlen,
        |  count(CASE WHEN NOT r_short THEN 1 END) AS f_short,
        |  count(CASE WHEN NOT r_stop THEN 1 END) AS f_stop,
        |  count(CASE WHEN NOT r_rep THEN 1 END) AS f_rep
        |FROM rules GROUP BY 1 ORDER BY lang""".stripMargin,

    "x20_dup_runs" ->
      """WITH docs AS (
        |  SELECT doc_id, lang, string_split(lower(text), ' ') AS ts
        |  FROM documents WHERE len(string_split(lower(text), ' ')) >= 5),
        |wins AS (
        |  SELECT doc_id, lang, g, md5(ts[g] || ' ' || ts[g+1] || ' ' ||
        |    ts[g+2] || ' ' || ts[g+3] || ' ' || ts[g+4]) AS h
        |  FROM docs CROSS JOIN unnest(range(1, len(ts) - 3)) AS u(g)),
        |dup AS (SELECT h FROM wins GROUP BY h
        |        HAVING count(DISTINCT doc_id) >= 2),
        |isl AS (
        |  SELECT doc_id, lang,
        |    g - row_number() OVER (PARTITION BY doc_id ORDER BY g)
        |      AS island
        |  FROM wins JOIN dup USING (h)),
        |runs AS (
        |  SELECT doc_id, lang, island, count(*) AS run_len
        |  FROM isl GROUP BY 1, 2, 3)
        |SELECT doc_id, lang, CAST(max(run_len) AS BIGINT) AS longest_run,
        |  count(*) AS n_runs
        |FROM runs GROUP BY 1, 2
        |ORDER BY longest_run DESC, doc_id LIMIT 10""".stripMargin,

    "x21_cross_source_spans" ->
      """WITH docs AS (
        |  SELECT doc_id, source, string_split(lower(text), ' ') AS ts
        |  FROM documents WHERE len(string_split(lower(text), ' ')) >= 5),
        |hs AS (
        |  SELECT DISTINCT source, md5(ts[g] || ' ' || ts[g+1] || ' ' ||
        |    ts[g+2] || ' ' || ts[g+3] || ' ' || ts[g+4]) AS h
        |  FROM docs CROSS JOIN unnest(range(1, len(ts) - 3)) AS u(g))
        |SELECT a.source AS source_a, b.source AS source_b,
        |  count(DISTINCT a.h) AS n_shared
        |FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
        |GROUP BY 1, 2
        |ORDER BY n_shared DESC, source_a, source_b LIMIT 15""".stripMargin,

    "x22_dedup_yield" ->
      """WITH docs AS (
        |  SELECT doc_id, lang, string_split(lower(text), ' ') AS ts
        |  FROM documents WHERE len(string_split(lower(text), ' ')) >= 5),
        |wins AS (
        |  SELECT doc_id, lang, g, md5(ts[g] || ' ' || ts[g+1] || ' ' ||
        |    ts[g+2] || ' ' || ts[g+3] || ' ' || ts[g+4]) AS h
        |  FROM docs CROSS JOIN unnest(range(1, len(ts) - 3)) AS u(g)),
        |duph AS (SELECT h FROM wins GROUP BY h
        |         HAVING count(DISTINCT doc_id) >= 2),
        |dup AS (SELECT doc_id, lang, g FROM wins JOIN duph USING (h)),
        |marked AS (
        |  SELECT doc_id, lang, g,
        |    CASE WHEN g - lag(g) OVER w > 4 OR lag(g) OVER w IS NULL
        |         THEN 1 ELSE 0 END AS new_span
        |  FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY g)),
        |spanned AS (
        |  SELECT doc_id, lang, g,
        |    sum(new_span) OVER (PARTITION BY doc_id ORDER BY g
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span
        |  FROM marked),
        |spans AS (
        |  SELECT doc_id, lang, span,
        |    max(g) + 4 - min(g) + 1 AS removed
        |  FROM spanned GROUP BY 1, 2, 3),
        |per_doc AS (
        |  SELECT doc_id, sum(removed) AS removed_words
        |  FROM spans GROUP BY 1),
        |alldocs AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(lower(text), ' ')) AS BIGINT)
        |      AS total_words
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(total_words) AS BIGINT) AS total_words,
        |  CAST(sum(COALESCE(removed_words, 0)) AS BIGINT)
        |    AS removed_words,
        |  CAST(sum(total_words - COALESCE(removed_words, 0)) AS BIGINT)
        |    AS kept_words
        |FROM alldocs LEFT JOIN per_doc USING (doc_id)
        |GROUP BY 1 ORDER BY lang""".stripMargin,

    "x23_containment" ->
      """WITH docs AS (
        |  SELECT doc_id, lang, string_split(lower(text), ' ') AS ts
        |  FROM documents WHERE len(string_split(lower(text), ' ')) >= 5),
        |hd AS (
        |  SELECT DISTINCT doc_id, lang, md5(ts[g] || ' ' || ts[g+1] ||
        |    ' ' || ts[g+2] || ' ' || ts[g+3] || ' ' || ts[g+4]) AS h
        |  FROM docs CROSS JOIN unnest(range(1, len(ts) - 3)) AS u(g)),
        |hdf AS (SELECT h, count(*) AS df FROM hd GROUP BY h),
        |dist AS (SELECT df, count(*) AS cnt FROM hdf GROUP BY df),
        |cap AS (
        |  SELECT greatest(least(min(df), 64), 2) AS cap FROM (
        |    SELECT df, sum(cnt) OVER (ORDER BY df) AS cum,
        |      (SELECT sum(cnt) FROM dist) AS ntot FROM dist)
        |  WHERE cum * 100 >= ntot * 99),
        |rare AS (
        |  SELECT w.doc_id, w.lang, w.h, f.df
        |  FROM hd w JOIN hdf f USING (h) CROSS JOIN cap
        |  WHERE f.df <= cap.cap),
        |nr AS (
        |  SELECT doc_id, lang, count(*) AS n_rare FROM rare GROUP BY 1, 2),
        |sh AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    count(*) AS n_shared
        |  FROM rare a JOIN rare b USING (h)
        |  WHERE a.df >= 2 AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
        |  lang, CAST(n_rare AS BIGINT) AS n_rare,
        |  n_shared * 10 >= n_rare * 9 AS contained
        |FROM sh JOIN nr ON nr.doc_id = sh.doc_a
        |ORDER BY n_shared DESC, doc_a, doc_b LIMIT 15""".stripMargin,

    // the artifact lifecycle replayed from the frozen windows()
    // definition: write(base) + append(delta) + no-op re-append must
    // land exactly where the one-shot census does (the incremental
    // min/max merge ≡ HAVING count(DISTINCT doc_id) >= 2), the
    // manifest covers every doc (zero-window short docs included),
    // and exactly 2 batches commit (3 would mean the retry re-applied)
    "x24_window_index_lifecycle" ->
      """WITH docs AS (
        |  SELECT doc_id, lang, string_split(lower(text), ' ') AS ts
        |  FROM documents WHERE len(string_split(lower(text), ' ')) >= 5),
        |wins AS (
        |  SELECT doc_id, lang, md5(ts[g] || ' ' || ts[g+1] || ' ' ||
        |    ts[g+2] || ' ' || ts[g+3] || ' ' || ts[g+4]) AS h
        |  FROM docs CROSS JOIN unnest(range(1, len(ts) - 3)) AS u(g)),
        |dup AS (SELECT h FROM wins GROUP BY h
        |        HAVING count(DISTINCT doc_id) >= 2),
        |per AS (
        |  SELECT lang, count(*) AS n_windows, count(d.h) AS n_dup_windows,
        |    count(DISTINCT w.doc_id) AS n_docs_win
        |  FROM wins w LEFT JOIN dup d USING (h) GROUP BY 1),
        |audit AS (
        |  SELECT count(DISTINCT doc_id) AS n_docs_indexed,
        |    CAST(2 AS BIGINT) AS n_batches FROM documents)
        |SELECT lang, n_windows, n_dup_windows, n_docs_win,
        |  n_docs_indexed, n_batches
        |FROM per CROSS JOIN audit ORDER BY lang""".stripMargin
  )
}
