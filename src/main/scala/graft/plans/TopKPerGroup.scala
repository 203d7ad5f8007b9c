package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.graftbridge.Bridge

/** Native per-group top-k — the whole-operator extension path (brief
  * preference (c): custom LogicalPlan + Rule/Strategy + SparkPlan via
  * SparkSessionExtensions).
  *
  * Why: Spark's built-in route for "k best rows per group" is
  * row_number over a window + filter, which SORTS every partition by
  * (group, order) — O(n log n) per partition and a full sort shuffle.
  * This operator keeps a bounded k-heap per group: O(n log k) with no
  * sort at all; the only exchange is the hash partitioning on the group
  * key, which `requiredChildDistribution` lets Spark's
  * EnsureRequirements insert (and elide when the child is already
  * clustered — e.g. bucketed input).
  *
  * At 100 TB this is the difference between sorting the corpus and
  * streaming it through fixed-size heaps.
  *
  * STATE BOUND (does not spill): the exec holds one k-heap per group
  * per partition — memory is O(groups_per_partition × k × row_size),
  * independent of total row count. That is fine for the normal case
  * (group cardinality ≪ row count) but a pathological high-cardinality
  * group key (every row its own group) degenerates to holding the
  * partition in memory, where the window+sort formulation would spill.
  * `TopK.topKPerGroupAuto` measures cardinality first and falls back to
  * the window form when the heap state would exceed a caller-set bound.
  */
case class TopKPerGroup(k: Int, groupCols: Seq[Attribute],
    order: SortOrder, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan)
      : TopKPerGroup = copy(child = newChild)
}

/** The shared per-partition bounded-heap pass: retain the k best rows
  * of each group seen in this partition. Used by both phases — the
  * top-k reduction is idempotent and composable (local top-k never
  * evicts a row that could be in the global top-k of its group), the
  * same algebra that makes partial aggregation sound.
  */
private[plans] object TopKHeap {
  def partitionTopK(iter: Iterator[InternalRow], kLocal: Int,
      groupColsLocal: Seq[Attribute], orderLocal: SortOrder,
      childOutput: Seq[Attribute]): Iterator[InternalRow] = {
    val ordering = GenerateOrdering.generate(Seq(orderLocal), childOutput)
    val groupProj = org.apache.spark.sql.catalyst.expressions
      .UnsafeProjection.create(groupColsLocal, childOutput)
    // per-group bounded heap: head = worst retained row
    val heaps = new java.util.HashMap[InternalRow,
      java.util.PriorityQueue[InternalRow]]()
    iter.foreach { row =>
      val key = groupProj(row)
      var heap = heaps.get(key)
      if (heap == null) {
        heap = new java.util.PriorityQueue[InternalRow](
          kLocal + 1, ordering.reverse)
        heaps.put(key.copy(), heap)
      }
      if (heap.size < kLocal) heap.add(row.copy())
      else if (ordering.compare(row, heap.peek()) < 0) {
        heap.poll(); heap.add(row.copy())
      }
    }
    import scala.jdk.CollectionConverters._
    heaps.values().asScala.iterator.flatMap(_.iterator().asScala)
  }
}

/** Map-side phase: local top-k per input partition, on whatever
  * partitioning the child already has (no required distribution). Caps
  * the rows entering the exchange at maps × groups × k — the top-k
  * analogue of a partial aggregate. Output partitioning is passed
  * through so an already-clustered child (bucketed scan) still elides
  * the exchange above.
  */
case class TopKPerGroupPartialExec(k: Int, groupCols: Seq[Attribute],
    order: SortOrder, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val (kL, gL, oL, out) = (k, groupCols, order, child.output)
    child.execute().mapPartitions(
      TopKHeap.partitionTopK(_, kL, gL, oL, out))
  }

  override protected def withNewChildInternal(newChild: SparkPlan)
      : TopKPerGroupPartialExec = copy(child = newChild)
}

case class TopKPerGroupExec(k: Int, groupCols: Seq[Attribute],
    order: SortOrder, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output

  // each group must arrive whole; Spark inserts (or elides) the exchange
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(groupCols))

  override protected def doExecute(): RDD[InternalRow] = {
    val (kL, gL, oL, out) = (k, groupCols, order, child.output)
    child.execute().mapPartitions(
      TopKHeap.partitionTopK(_, kL, gL, oL, out))
  }

  override protected def withNewChildInternal(newChild: SparkPlan)
      : TopKPerGroupExec = copy(child = newChild)
}

object TopKStrategy extends Strategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(k, groupCols, order, child) =>
      // two-phase: partial heaps before the exchange, final heaps after
      TopKPerGroupExec(k, groupCols, order,
        TopKPerGroupPartialExec(k, groupCols, order, planLater(child))) :: Nil
    case _ => Nil
  }
}

object TopK {
  /** Public API: k best rows per group, `orderCol` descending if `desc`.
    * Registers the strategy on first use (idempotent).
    */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], orderCol: String,
      desc: Boolean, k: Int): DataFrame = {
    val spark = df.sparkSession
    addStrategy(spark, TopKStrategy)
    val analyzed = Bridge.analyzed(df)
    def attr(n: String): Attribute = analyzed.output
      .find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(s"no column $n"))
    val order = SortOrder(attr(orderCol),
      if (desc) org.apache.spark.sql.catalyst.expressions.Descending
      else org.apache.spark.sql.catalyst.expressions.Ascending)
    Bridge.ofRows(spark,
      TopKPerGroup(k, groupCols.map(attr), order, analyzed))
  }

  /** Spillable formulation of the same semantics: row_number over a
    * (group, order) window + filter. Sorts every partition (O(n log n))
    * but uses Spark's spill-capable sort — the safe path when group
    * cardinality is high. Tie rows beyond k are dropped arbitrarily in
    * both formulations.
    */
  def topKPerGroupBySort(df: DataFrame, groupCols: Seq[String],
      orderCol: String, descending: Boolean, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val ord = if (descending) col(orderCol).desc else col(orderCol).asc
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(ord)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Cardinality-guarded dispatch: estimate the distinct-group count
    * with one cheap HLL aggregate (±2%), and use the native heap exec
    * only while its worst-case retained state (groups × k rows) stays
    * under `maxStateRows`; beyond that, take the spillable sort path.
    * The extra scan is one map-side-combined aggregate over the group
    * columns only — negligible next to either formulation.
    */
  def topKPerGroupAuto(df: DataFrame, groupCols: Seq[String],
      orderCol: String, descending: Boolean, k: Int,
      maxStateRows: Long = 4L << 20): DataFrame = {
    import org.apache.spark.sql.functions._
    val nGroups = df.agg(
      approx_count_distinct(struct(groupCols.map(col): _*)).as("n"))
      .head().getLong(0)
    if (nGroups * k <= maxStateRows)
      topKPerGroup(df, groupCols, orderCol, descending, k)
    else
      topKPerGroupBySort(df, groupCols, orderCol, descending, k)
  }
}
