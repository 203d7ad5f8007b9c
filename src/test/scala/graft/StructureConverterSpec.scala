package graft

import org.apache.spark.sql.functions._
import graft.chem.StructureConverter
import graft.harmonize.Harmonize
import graft.sources.{EventsAdapter, LineitemAdapter, OrdersAdapter}

/** D2/D3 — the chemistry conversion trait and its harmonize wiring
  * (ref: src/helper/udf.py:7-16,39-47; src/80_harmonize.py:72-73).
  */
class StructureConverterSpec extends SparkSpec {

  test("stub codec is invertible on valid InChI and null on failure") {
    val c = StructureConverter.Stub
    val inchi = "InChI=1S/C6H6/c1-2-4-6-5-3-1/h1-6H"
    assert(c.inchiToSmiles(inchi) == "GS:C6H6/c1-2-4-6-5-3-1/h1-6H")
    assert(c.smilesToInchi(c.inchiToSmiles(inchi)) == inchi)
    // reference failure mode: unparseable -> null, never an exception
    assert(c.inchiToSmiles(null) == null)
    assert(c.inchiToSmiles("not-an-inchi") == null)
    assert(c.smilesToInchi(null) == null)
    assert(c.smilesToInchi("CCO") == null)
  }

  test("brick activities carry the full reference schema with joined smiles") {
    val acts = Harmonize.brick(spark, sf(),
      Seq(EventsAdapter, OrdersAdapter, LineitemAdapter)).activities
    assert(acts.columns.toSeq == Seq("aid", "sid", "pid", "source", "inchi",
      "smiles", "value", "binary_value", "numvalue"))
    // every row's smiles is exactly the converter applied to its inchi
    // (the distinct-inchi -> convert -> join-back step lost nothing)
    val conv = StructureConverter.Stub
    val bad = acts.filter(col("smiles") =!=
      udf((s: String) => conv.inchiToSmiles(s)).apply(col("inchi")))
    assert(bad.count() == 0)
    assert(acts.filter(col("inchi").isNull || col("smiles").isNull)
      .count() == 0)
    // binary_value is the 0/1 form of value (py:68)
    assert(acts.filter(
      (col("value") === "positive" && col("binary_value") =!= 1) ||
        (col("value") === "negative" && col("binary_value") =!= 0))
      .count() == 0)
  }

  test("a custom converter plugs in without pipeline changes") {
    class Upper extends StructureConverter {
      def inchiToSmiles(i: String): String =
        if (i == null) null else i.toUpperCase
      def smilesToInchi(s: String): String =
        if (s == null) null else s.toLowerCase
    }
    val (u1, u2) = (new Upper, new Upper)
    val acts = Harmonize.brick(spark, sf(), Seq(EventsAdapter), u1)
      .activities
    assert(acts.filter(col("smiles") =!= upper(col("inchi"))).count() == 0)
    // the brick memo keys on the converter instance: two instances of
    // one class get their own bricks, the same instance gets its own back
    def cached(c: StructureConverter) =
      Harmonize.cachedBrick(spark, sf(), Seq(EventsAdapter), c).activities
    val b1 = cached(u1)
    assert(cached(u2) ne b1)
    assert(cached(u1) eq b1)
    Harmonize.evict(spark)
  }
}
