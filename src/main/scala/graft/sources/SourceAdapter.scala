package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.MemoRegistry.SessionMemo
import org.apache.spark.sql.functions._
import graft.Tables

/** The staging-triplet contract every source integrator satisfies
  * (ref: src/01_integrate_toxvaldb.R:29-45; SURVEY §1.1):
  *
  *   substances(sid, data)  — one row per entity, data = canonical JSON
  *   properties(pid, data)  — one row per endpoint
  *   activities(aid, sid, pid, inchi, value, numvalue)
  *       inchi identifies the structure (the reference's staging
  *       activities carry it for the harmonize-time smiles enrichment,
  *       src/80_harmonize.py:72-73); value ∈ {"positive","negative"};
  *       numvalue carries the raw magnitude the reference drops
  *       (README.md:24/37 gap, SURVEY §1.1).
  *
  * The testdata tables have no chemical structures, so each adapter
  * synthesizes a valid-format InChI from its natural substance key
  * (`InChI=1S/<tag><key>`) — the structure ALGEBRA (distinct → convert →
  * join back) is the thing under test, not chemistry.
  *
  * Staging ids are deterministic content hashes of the natural key
  * (SURVEY §4 decision 2) instead of the reference's per-group UUIDs —
  * same shape, reproducible across runs and engines.
  */
case class StagingTriplet(substances: DataFrame, properties: DataFrame,
    activities: DataFrame)

trait SourceAdapter {
  def name: String
  def staging(spark: SparkSession, sfDir: String): StagingTriplet
}

object SourceAdapter {

  /** Every registered integrator — the full harmonize union
    * (the reference unions ~15 staging dirs, src/80_harmonize.py:33):
    * the three simple assay shapes plus every composite pattern the
    * reference's dvc.yaml actually runs (chembl-, ICE-, bindingdb-,
    * ctdbase-, toxrefdb-, toxvaldb-, tox21-, toxcast-, reach-,
    * pubchem-, and sider/tox21_12-shaped). HIV and skinsensdb exist in
    * the reference tree but are not wired into dvc.yaml — the reference
    * never runs them.
    */
  val all: Seq[SourceAdapter] = Seq(
    EventsAdapter, OrdersAdapter, DocumentsAdapter, LineitemAdapter,
    IceAdapter, BindingdbAdapter, CtdbaseAdapter, ToxrefdbAdapter,
    ToxvaldbAdapter, Tox21Adapter, ToxcastAdapter, ReachAdapter,
    PubchemAdapter, SiderAdapter)

  /** Session-scoped memo of staged triplets. The composite stagings
    * (LineitemAdapter, IceAdapter, …) run full multi-window pipelines;
    * the end-to-end queries (h7-h11) and the brick build each need the
    * same deterministic output, so it is computed once per (session,
    * sfDir, adapter) and shared. Keyed by adapter name — adapters are
    * stateless objects, so name identifies the computation.
    *
    * A hosted staging is a parquet read-back of its store dir; an input
    * over the hosting size gate is localCheckpoint-ed instead. Either
    * way the triplet's leaves are materialized, never the staging
    * lineage: the brick's assembly plan references every staging FOUR
    * times (activities union, sid map, pid map, inchi map), so
    * un-truncated lineages multiply into a plan Catalyst spends a
    * DATA-INDEPENDENT ~60-80 s analyzing (measured via BrickProfile:
    * 'brick.checkpoint' 82 s at sf0.01 vs 59 s at sf0.1 — pure
    * planning). With materialized leaves the same step is seconds.
    */
  private val memo = new SessionMemo[
    (String, String), StagingTriplet](t =>
    Seq(t.substances, t.properties, t.activities))

  /** Evict this session's staged triplets; next access re-stages. */
  def evict(spark: SparkSession): Unit = memo.evict(spark)

  def cachedStaging(a: SourceAdapter, spark: SparkSession,
      sfDir: String): StagingTriplet =
    memo(spark, (sfDir, a.name)) {
      if (!graft.ArtifactStore.hostableInput(spark, sfDir)) {
        // an input dir above the hosting size gate (stretch-scale
        // corpora would write tens of GB of artifacts): the pre-r11
        // session-local form — serialized checkpoint blocks
        val t = a.staging(spark, sfDir)
        StagingTriplet(graft.MemoRegistry.checkpointLarge(t.substances),
          graft.MemoRegistry.checkpointLarge(t.properties),
          graft.MemoRegistry.checkpointLarge(t.activities))
      } else {
        // the staging is keyed on the source dir (the REST/JDBC shapes
        // run against deterministic stubs here; on a live deployment
        // those two adapters would key on their upstream snapshot
        // instead). Serialized blocks on the read-backs: 14 resident
        // triplets are the biggest storage tenant in a macro run, and
        // their footprint is what starves the downstream assembly's
        // execution memory.
        val Seq(subs, props, acts) = graft.ArtifactStore.frames(spark,
          s"staging-${a.name}",
          graft.ArtifactStore.dirKey(spark, sfDir, s"staging-v1-${a.name}"),
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER,
          "substances", "properties", "activities") { tmp =>
          // the three part writes are independent jobs (each runs the
          // staging plan for its own table): run them concurrently
          val t = a.staging(spark, sfDir)
          graft.MemoRegistry.inParallel(spark)(Seq(
            "substances" -> t.substances, "properties" -> t.properties,
            "activities" -> t.activities).map { case (part, df) =>
            () => df.write.parquet(s"$tmp/$part")
          }): Unit
        }
        StagingTriplet(subs, props, acts)
      }
    }
}

/** Events-as-assay adapter: user = substance, event_type = property, a
  * user's per-type median value binarized against the per-type median of
  * those medians — the toxvaldb integrator's exact shape
  * (ref: src/01_integrate_toxvaldb.R:12-31).
  */
object EventsAdapter extends SourceAdapter {
  val name = "events"

  def staging(s: SparkSession, d: String): StagingTriplet = {
    val ev = Tables.events(s, d)
    val sid = md5(concat(lit("user:"), col("user_id").cast("string")))
    val pid = md5(concat(lit("etype:"), col("event_type")))

    val subs = ev.select(col("user_id")).distinct()
      .withColumn("data", to_json(struct(col("user_id"))))
      .withColumn("sid", sid)
      .select("sid", "data")

    val props = ev.select(col("event_type")).distinct()
      .withColumn("data", to_json(struct(col("event_type"))))
      .withColumn("pid", pid)
      .select("pid", "data")

    // per-(substance, property) exact median, then binarize against the
    // per-property median split (A5 + W2 join-back). Two formulations by
    // group size: pair-level groups are small and bounded (one user's
    // values) — percentile's per-group buffer is fine at any corpus
    // size; the med-of-medians groups ALL pairs per property — the
    // unbounded-group shape — so it uses the spillable sort-based
    // median (bit-identical, Ops.groupedMedianBySort).
    val pair = ev.groupBy(col("user_id"), col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("numvalue"))
    val med = graft.operators.Ops.groupedMedianBySort(pair,
      Seq("event_type"), "numvalue", "med")
    val acts = pair.join(broadcast(med), Seq("event_type"))
      .withColumn("value",
        when(col("numvalue") >= col("med"), "positive").otherwise("negative"))
      .withColumn("sid", sid)
      .withColumn("pid", pid)
      .withColumn("inchi",
        concat(lit("InChI=1S/U"), col("user_id").cast("string")))
      .withColumn("aid",
        concat(lit("events-"), md5(concat_ws("|", col("sid"), col("pid")))))
      .select("aid", "sid", "pid", "inchi", "value", "numvalue")

    StagingTriplet(subs, props, acts)
  }
}

/** Documents-as-assay adapter: document = substance, language =
  * property, document length binarized against the per-language median —
  * third source so harmonize exercises a >2-way union + re-key
  * (the reference unions ~15, src/80_harmonize.py:33).
  */
object DocumentsAdapter extends SourceAdapter {
  val name = "documents"

  def staging(s: SparkSession, d: String): StagingTriplet = {
    val docs = Tables.documents(s, d)
    val sid = md5(concat(lit("doc:"), col("doc_id").cast("string")))
    val pid = md5(concat(lit("lang:"), col("lang")))

    val subs = docs.select(col("doc_id")).distinct()
      .withColumn("data", to_json(struct(col("doc_id"))))
      .withColumn("sid", sid)
      .select("sid", "data")

    val props = docs.select(col("lang")).distinct()
      .withColumn("data", to_json(struct(col("lang"))))
      .withColumn("pid", pid)
      .select("pid", "data")

    val med = graft.operators.Ops.groupedMedianBySort(
      docs.withColumn("n_chars_d", col("n_chars").cast("double")),
      Seq("lang"), "n_chars_d", "med")
    val acts = docs.join(broadcast(med), Seq("lang"))
      .withColumn("numvalue", col("n_chars").cast("double"))
      .withColumn("value",
        when(col("numvalue") >= col("med"), "positive").otherwise("negative"))
      .withColumn("sid", sid)
      .withColumn("pid", pid)
      .withColumn("inchi",
        concat(lit("InChI=1S/D"), col("doc_id").cast("string")))
      .withColumn("aid",
        concat(lit("documents-"), md5(concat_ws("|", col("sid"), col("pid")))))
      .select("aid", "sid", "pid", "inchi", "value", "numvalue")

    StagingTriplet(subs, props, acts)
  }
}

/** Orders-as-assay adapter: customer = substance, order priority =
  * property, per-(customer, priority) median order value binarized by the
  * per-priority split. Second source so harmonize exercises the
  * multi-source union + re-key path (ref: src/80_harmonize.py:33-86).
  */
object OrdersAdapter extends SourceAdapter {
  val name = "orders"

  def staging(s: SparkSession, d: String): StagingTriplet = {
    val orders = Tables.orders(s, d)
    val sidOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      k => md5(concat(lit("cust:"), k.cast("string")))
    val pid = md5(concat(lit("prio:"), col("o_orderpriority")))

    val subs = Tables.customer(s, d)
      .withColumn("data", to_json(struct(col("c_custkey"), col("c_name"))))
      .withColumn("sid", sidOf(col("c_custkey")))
      .select("sid", "data")

    val props = orders.select(col("o_orderpriority")).distinct()
      .withColumn("data", to_json(struct(col("o_orderpriority"))))
      .withColumn("pid", pid)
      .select("pid", "data")

    // same split as EventsAdapter: bounded pair groups -> percentile,
    // unbounded per-priority groups -> sort-based median
    val pair = orders.groupBy(col("o_custkey"), col("o_orderpriority"))
      .agg(expr("percentile(o_totalprice, 0.5)").as("numvalue"))
    val med = graft.operators.Ops.groupedMedianBySort(pair,
      Seq("o_orderpriority"), "numvalue", "med")
    val acts = pair.join(broadcast(med), Seq("o_orderpriority"))
      .withColumn("value",
        when(col("numvalue") >= col("med"), "positive").otherwise("negative"))
      .withColumn("sid", sidOf(col("o_custkey")))
      .withColumn("pid", pid)
      .withColumn("inchi",
        concat(lit("InChI=1S/C"), col("o_custkey").cast("string")))
      .withColumn("aid",
        concat(lit("orders-"), md5(concat_ws("|", col("sid"), col("pid")))))
      .select("aid", "sid", "pid", "inchi", "value", "numvalue")

    StagingTriplet(subs, props, acts)
  }
}
