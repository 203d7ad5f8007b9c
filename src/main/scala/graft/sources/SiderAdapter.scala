package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multi-label binary-matrix integrator — the sider / tox21_12 shape
  * (ref: src/15_integrate_sider.py:28-83, src/17_integrate_tox21_12.py:
  * 28-104; BBBP/BACE/clintox are the degenerate single-label case,
  * src/13_integrate_BBBP.py:28-68). The source arrives WIDE: one row per
  * compound, one 0/1 column per label, labels NOT known to the
  * integrator up front — the reference discovers them as
  * `cmpraw.columns[1:]` and loops per column, building one lit-pid slice
  * per label and unioning them (15:61-70). Pattern elements reproduced:
  *
  *   1. smiles NOT NULL filter (15:35)
  *   2. smiles → inchi; rows whose InChI conversion failed (NULL or
  *      empty) drop — the tox21_12 variant's extra filter (17:38)
  *   3. substances data = {mol_id, smiles, inchi} JSON (17:42-44)
  *   4. properties: one row per DISCOVERED label column, metadata dict
  *      {property, description, active_value: 1, inactive_value: 0,
  *      active_label, inactive_label} (17:48-77)
  *   5. activities: per-label slice with value = the label column,
  *      0 → "negative", OTHERWISE → "positive" — the reference's
  *      `when(col==0,...).otherwise(...)` maps a MISSING label (null in
  *      the wide matrix) to "positive"; that wart is reproduced
  *      faithfully and the raw magnitude is kept in numvalue (null for
  *      missing) so consumers can tell the two apart (15:79, 17:102)
  *   6. the BBBP-style non-empty staging assertion (13:66-68)
  *
  * Spark-first re-expression: the per-column loop-union is ONE native
  * `unpivot` (R1) — a single Expand over one scan instead of N unions of
  * N scans; label discovery stays schema-driven (`raw.columns` minus the
  * id columns), so the plan is built from metadata with no job. The
  * properties table is a local collection (S8) of the discovered labels,
  * exactly the reference's driver-side createDataFrame (15:55).
  *
  * The wide matrix itself stands in for the MoleculeNet sider parquet:
  * per-part binary indicators derived from the parts catalog, with a
  * deterministic missingness pattern (every 53rd (partkey, label) cell
  * is null) and deterministic parse failures (every 97th smiles is
  * null; conversion of a smiles ending in '7' yields '') so filters 1-2
  * and the null→positive wart all execute on real rows.
  *
  * Scale notes: no joins and no shuffles at all until the brick — the
  * staging is scan → project → unpivot (Expand), fully pipelined and
  * codegen-friendly; substances adds one distinct on a compound-sized
  * frame. At 100 TB the unpivot multiplies rows by |labels| without any
  * exchange, which is the best possible shape for a melt.
  */
object SiderAdapter extends SourceAdapter {
  val name = "sider"

  /** 0/1 indicator with the deterministic per-(row, label) missingness
    * hole (null = "not measured" in the wide matrix).
    */
  private def label(idx: Int, pred: Column): Column =
    when((col("p_partkey") * 7 + idx) % 53 === 0, lit(null).cast("int"))
      .otherwise(when(pred, 1).otherwise(0))

  private val descSuffix = " indicator over the parts catalog"

  def staging(s: SparkSession, d: String): StagingTriplet = {
    // the raw wide read (ref 15:28): one row per compound, columns =
    // (mol_id, smiles, <label columns>)
    val raw = Tables.part(s, d).select(
      concat(lit("TOX-"), col("p_partkey").cast("string")).as("mol_id"),
      when(col("p_partkey") % 97 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("S"), col("p_partkey").cast("string")))
        .as("smiles"),
      label(1, col("p_size") > 25).as("nr_large"),
      label(2, col("p_type").like("%BRASS%")).as("nr_brass"),
      label(3, col("p_type").like("PROMO%")).as("sr_promo"),
      label(4, col("p_type").like("%STEEL%")).as("sr_steel"),
      label(5, col("p_retailprice") < 1400).as("sr_economy"))

    // label discovery from the schema, the reference's columns[1:]
    // (15:45) — plan-time metadata, no job
    val labelCols = raw.columns.toSeq.filterNot(Set("mol_id", "smiles"))

    // filters 1-2: null smiles out, then failed conversions out
    // (conversion "fails" deterministically on smiles ending in '7' —
    // the rdkit-returns-None path of 17:38)
    val fin = raw.filter(col("smiles").isNotNull)
      .withColumn("inchi",
        when(col("smiles").like("%7"), lit(""))
          .otherwise(concat(lit("InChI=1S/"), col("smiles"))))
      .filter(col("inchi").isNotNull && col("inchi") =!= "")

    val sid = md5(concat(lit("sider:"), col("smiles")))

    val subs = fin
      .withColumn("data",
        to_json(struct(col("inchi"), col("mol_id"), col("smiles"))))
      .withColumn("sid", sid)
      .select("sid", "data")
      .distinct()

    // properties: local collection of the discovered labels; data is
    // written directly in canonical-JSON form (sorted keys, ": "/", "
    // separators) matching CanonicalJson's output byte-for-byte
    import s.implicits._
    val props = labelCols.map { l =>
      val data = "{\"active_label\": \"Active\", \"active_value\": 1, " +
        "\"description\": \"" + l.toUpperCase(java.util.Locale.ROOT) +
        descSuffix + "\", \"inactive_label\": \"Inactive\", " +
        "\"inactive_value\": 0, \"property\": \"" + l + "\"}"
      (l, data)
    }.toDF("label", "data")
      .select(md5(concat(lit("sidlab:"), col("label"))).as("pid"),
        col("data"))

    // the per-column loop-union (15:61-70) as ONE native unpivot; nulls
    // in the matrix are RETAINED by Dataset.unpivot (unlike SQL UNPIVOT's
    // default EXCLUDE NULLS) — required for the null→positive mapping
    val acts = fin
      .unpivot(Array(col("mol_id"), col("smiles"), col("inchi")),
        labelCols.map(col).toArray, "label", "rawvalue")
      .withColumn("sid", sid)
      .withColumn("pid", md5(concat(lit("sidlab:"), col("label"))))
      .withColumn("value",
        when(col("rawvalue") === 0, "negative").otherwise("positive"))
      .withColumn("numvalue", col("rawvalue").cast("double"))
      .withColumn("aid",
        concat(lit("sider-"), md5(concat_ws("|", col("sid"), col("pid")))))
      .select("aid", "sid", "pid", "inchi", "value", "numvalue")

    // the reference's post-write non-empty smoke assertion (13:66-68)
    // lives in NewIntegratorsSpec with the other adapters' checks —
    // staging() is cachedStaging's build, so executing Spark actions
    // here would make every adapter's first access pay three more jobs
    StagingTriplet(subs, props, acts)
  }
}
