package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{DoubleType, LongType, TimestampType}

/** Whole-operator custom Catalyst work (SURVEY.md §4.3 #3 / §7.2 stretch):
  * a native AS-OF JOIN — for every left row (key, time, ...), attach the
  * most recent right `value` with the same key and right.time <= left.time.
  *
  * Physical strategy: both sides hash-clustered on the key and sorted by
  * (key, time); one streaming merge pass per partition — no window state,
  * no row buffering beyond a single scalar per key. At 100 TB this is one
  * co-partitioned shuffle of each side and a linear scan, strictly
  * cheaper than the union+window encoding (q32) which must materialize a
  * running window over the merged stream.
  *
  * Scope (deliberate): key LongType, time TimestampType, value DoubleType —
  * the concrete shapes the events table exercises. Generalizing is a
  * type-parameterization exercise, not an algorithmic one.
  */
case class AsOfJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Attribute,
    leftTime: Attribute,
    rightKey: Attribute,
    rightTime: Attribute,
    rightValue: Attribute,
    valueOut: AttributeReference) extends BinaryNode {

  override def output: Seq[Attribute] = left.output :+ valueOut

  // valueOut is born here, not inherited from a child — without this the
  // analyzer flags it as a missing input attribute
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(Seq(valueOut))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Attribute,
    leftTime: Attribute,
    rightKey: Attribute,
    rightTime: Attribute,
    rightValue: Attribute,
    valueOut: AttributeReference) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output :+ valueOut

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(Seq(valueOut))

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)),
      ClusteredDistribution(Seq(rightKey)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(
      Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyIdx = left.output.indexWhere(_.exprId == leftKey.exprId)
    val lTimeIdx = left.output.indexWhere(_.exprId == leftTime.exprId)
    val rKeyIdx = right.output.indexWhere(_.exprId == rightKey.exprId)
    val rTimeIdx = right.output.indexWhere(_.exprId == rightTime.exprId)
    val rValIdx = right.output.indexWhere(_.exprId == rightValue.exprId)
    require(Seq(lKeyIdx, lTimeIdx, rKeyIdx, rTimeIdx, rValIdx).forall(_ >= 0),
      "as-of join attributes must come from the respective child outputs")
    val outAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val rBuf = rIter.buffered
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val valueRow = new GenericInternalRow(1)
      val joined = new JoinedRow

      // last matching right value for the CURRENT key
      var lastKey = Long.MinValue
      var lastVal = 0.0
      var lastValSet = false

      lIter.map { lRow =>
        val k = lRow.getLong(lKeyIdx)
        val t = lRow.getLong(lTimeIdx) // timestamps are epoch-µs longs
        // advance right to the last row with (rk < k) or (rk == k && rt <= t)
        var advancing = true
        while (advancing && rBuf.hasNext) {
          val rRow = rBuf.head
          val rk = rRow.getLong(rKeyIdx)
          val rt = rRow.getLong(rTimeIdx)
          if (rk < k || (rk == k && rt <= t)) {
            if (rk == k) {
              lastVal = if (rRow.isNullAt(rValIdx)) { lastValSet = false; 0.0 }
                else { lastValSet = true; rRow.getDouble(rValIdx) }
              lastKey = k
            }
            rBuf.next()
          } else advancing = false
        }
        if (lastKey == k && lastValSet) valueRow.setDouble(0, lastVal)
        else valueRow.setNullAt(0)
        proj(joined(lRow, valueRow))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, lt, rk, rt, rv, out) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, lt, rk, rt, rv, out) :: Nil
    case _ => Nil
  }
}

/** Public API: `AsOfJoin.asof(left, right, "user_id", "ts", "value")`. */
object AsOfJoin {

  /** Ensure the planner strategy is installed on this session (through
    * the public experimental API). [[asof]] calls it on every use, and no
    * other code builds an `AsOfJoinNode`, so no session needs it earlier.
    */
  def install(spark: SparkSession): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental
    if (!exp.extraStrategies.exists(_ eq AsOfStrategy))
      exp.extraStrategies = exp.extraStrategies :+ AsOfStrategy
  }

  def asof(
      left: DataFrame,
      right: DataFrame,
      key: String,
      time: String,
      value: String,
      outName: String = "asof_value"): DataFrame = {
    val spark = left.sparkSession
    install(spark)
    val lp = left.queryExecution.analyzed
    // re-alias the right side so its attributes get FRESH exprIds: both
    // sides often derive from the same base relation (self-as-of), and
    // duplicate ids across children break binding after dedup/pruning
    val rightFresh = right.select(
      right.columns.toIndexedSeq.map(c => right(c).as(c)): _*)
    val rp = rightFresh.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found"))
    val lk = attr(lp, key); val lt = attr(lp, time)
    val rk = attr(rp, key); val rt = attr(rp, time)
    val rv = attr(rp, value)
    require(lk.dataType == LongType && rk.dataType == LongType,
      "as-of key must be BIGINT")
    require(lt.dataType == TimestampType && rt.dataType == TimestampType,
      "as-of time must be TIMESTAMP")
    require(rv.dataType == DoubleType, "as-of value must be DOUBLE")
    val out = AttributeReference(outName, DoubleType, nullable = true)()
    GraftPlanBridge.ofRows(spark,
      AsOfJoinNode(lp, rp, lk, lt, rk, rt, rv, out))
  }
}
