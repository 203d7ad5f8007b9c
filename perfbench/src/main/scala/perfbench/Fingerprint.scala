package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark's own materialization barrier and result fingerprint.
  *
  * Every output column is hashed into one xxhash64 per row, and the rows
  * are folded three ways: bit_xor, a decimal sum (no overflow under ANSI
  * mode) and a count. All three folds are order-independent, so the
  * fingerprint does not depend on partitioning, and hashing every column
  * forces each row to be fully computed (a bare `count()` lets Catalyst
  * prune whole subtrees). Map iteration order is undefined, so maps are
  * turned into their entry arrays sorted by key first, at any nesting
  * depth.
  */
object Fingerprint {

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: ArrayType => hasMap(a.elementType)
    case _ => false
  }

  private def normalize(c: Column, t: DataType): Column =
    if (!hasMap(t)) c
    else t match {
      case m: MapType =>
        array_sort(map_entries(
          if (hasMap(m.valueType)) transform_values(c, (_, v) =>
            normalize(v, m.valueType))
          else c))
      case s: StructType =>
        when(c.isNotNull, struct(s.fields.toSeq.map(f =>
          normalize(c.getField(f.name), f.dataType).as(f.name)): _*))
      case a: ArrayType => transform(c, x => normalize(x, a.elementType))
      case _ => c
    }

  /** The barrier frame: one row holding the three folds. */
  def barrier(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toSeq.map { f =>
      normalize(col("`" + f.name.replace("`", "``") + "`"), f.dataType)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.select(h.as("__h")).agg(
      expr("bit_xor(__h)").as("x"),
      sum(col("__h").cast(DecimalType(20, 0))).as("s"),
      count(lit(1)).as("n"))
  }

  /** Runs the barrier; returns the fingerprint and the frame that ran. */
  def run(df: DataFrame): (String, DataFrame) = {
    val b = barrier(df)
    val r = b.collect()(0)
    def str(i: Int) = Option(r.get(i)).map(_.toString).getOrElse("null")
    (s"${str(0)}:${str(1)}:${str(2)}", b)
  }
}
