package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, BoundReference, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.graftbridge.Bridge

/** Native as-of join — the second whole-operator extension
  * (LogicalPlan + Strategy + SparkPlan): for every left row, the right
  * row with the greatest ts <= left ts for the same key, as a
  * co-partitioned, co-ordered single-pass MERGE.
  *
  * Versus the composed Ops.asOfJoin (union + last-value window): no
  * window state, no union of heterogeneous schemas, and the sorts /
  * exchanges are demanded declaratively (requiredChildDistribution /
  * requiredChildOrdering) so EnsureRequirements elides them when the
  * children are already bucketed/sorted — the plan a time-series store
  * wants at 100 TB. Semantics are ">=" ties-match, identical to
  * Ops.asOfJoin and DuckDB's ASOF JOIN (differentially tested).
  */
case class AsOfJoinNative(leftKey: Attribute, leftTs: Attribute,
    rightKey: Attribute, rightTs: Attribute,
    left: LogicalPlan, right: LogicalPlan) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++
    right.output.filterNot(a =>
      a.exprId == rightKey.exprId || a.exprId == rightTs.exprId)
      .map(_.withNullability(true))
  override protected def withNewChildrenInternal(newLeft: LogicalPlan,
      newRight: LogicalPlan): AsOfJoinNative =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinNativeExec(leftKey: Attribute, leftTs: Attribute,
    rightKey: Attribute, rightTs: Attribute,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  private val rightPayload: Seq[Attribute] = right.output.filterNot(a =>
    a.exprId == rightKey.exprId || a.exprId == rightTs.exprId)

  override def output: Seq[Attribute] =
    left.output ++ rightPayload.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)),
      ClusteredDistribution(Seq(rightKey)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lk = leftKey; val lt = leftTs; val rk = rightKey; val rt = rightTs
    val payload = rightPayload
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      // 1-col orderings over the key and ts types
      def ord1(dt: org.apache.spark.sql.types.DataType) = {
        val attr = AttributeReference("c", dt)()
        GenerateOrdering.generate(
          Seq(SortOrder(attr, Ascending)), Seq(attr))
      }
      val keyOrd = ord1(lk.dataType)
      val tsOrd = ord1(lt.dataType)
      val lKeyProj = UnsafeProjection.create(Seq(lk), lOut)
      val lTsProj = UnsafeProjection.create(Seq(lt), lOut)
      val rKeyProj = UnsafeProjection.create(Seq(rk), rOut)
      val rTsProj = UnsafeProjection.create(Seq(rt), rOut)
      val payloadProj = UnsafeProjection.create(payload, rOut)
      val nullPayload = new GenericInternalRow(payload.size)
      val joined = new JoinedRow()
      // Parents (SortExec, ShuffleExchangeExec) cast rows to UnsafeRow;
      // JoinedRow is not one, so project every emitted row like
      // SortMergeJoinExec does. The projection's output buffer is
      // reused — safe for pipelined consumers, which copy when buffering.
      // outAttrs (not lOut ++ payload): its payload attrs are nullability-
      // adjusted, so the projection emits real nulls for non-matches.
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val rBuf = rIt.buffered
      var lastMatch: InternalRow = null
      var lastMatchKey: InternalRow = null

      lIt.map { l =>
        val curKey = lKeyProj(l).copy()
        val curTs = lTsProj(l).copy()
        if (lastMatch != null && keyOrd.compare(lastMatchKey, curKey) != 0) {
          lastMatch = null; lastMatchKey = null
        }
        var advancing = true
        while (advancing && rBuf.hasNext) {
          val head = rBuf.head
          val ck = keyOrd.compare(rKeyProj(head), curKey)
          if (ck < 0) { rBuf.next() } // stale key, never matches again
          else if (ck == 0 && tsOrd.compare(rTsProj(head), curTs) <= 0) {
            lastMatch = rBuf.next().copy()
            lastMatchKey = curKey
          } else advancing = false
        }
        if (lastMatch != null) resultProj(joined(l, payloadProj(lastMatch)))
        else resultProj(joined(l, nullPayload))
      }
    }
  }

  override protected def withNewChildrenInternal(newLeft: SparkPlan,
      newRight: SparkPlan): AsOfJoinNativeExec =
    copy(left = newLeft, right = newRight)
}

object AsOfStrategy extends Strategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNative(lk, lt, rk, rt, l, r) =>
      AsOfJoinNativeExec(lk, lt, rk, rt, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

object AsOf {
  /** Public API: left as-of-join right on `key`, right row with greatest
    * `ts` <= left `ts` (ties match). Right must be unique per (key, ts);
    * right payload column names must not collide with left's.
    */
  def asOfJoinNative(left: DataFrame, right: DataFrame, key: String,
      ts: String): DataFrame = {
    val spark = left.sparkSession
    addStrategy(spark, AsOfStrategy)
    val la = Bridge.analyzed(left)
    val ra = Bridge.analyzed(right)
    def attr(p: LogicalPlan, n: String): Attribute = p.output
      .find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(s"no column $n"))
    Bridge.ofRows(spark, AsOfJoinNative(
      attr(la, key), attr(la, ts), attr(ra, key), attr(ra, ts), la, ra))
  }
}
