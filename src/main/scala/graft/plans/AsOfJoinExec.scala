package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** The as-of join as a FULL custom operator — logical node + planner
  * Strategy + physical exec — the (c) rung of the extension ladder, next
  * to the composed-operator formulation in [[graft.ops.AsOf]] (rung (a))
  * and the optimizer Rule in [[RangeJoinRewrite]] (rung (b)).
  *
  * Physical semantics: both children are hash-clustered on the key and
  * sorted by (key, time) — EnsureRequirements inserts the exchanges and
  * sorts from the declared requirements, exactly as it does for a
  * sort-merge join — then each co-partition runs a LINEAR merge holding
  * ONE buffered right row (the latest with time <= the current left
  * time). Memory per task is O(1) rows; the window-composition
  * formulation holds the same shuffle shape but pays a union + window
  * machinery pass. Left-outer, inclusive time match, right unique per
  * (key, time) — identical contract to AsOf.asofJoin, which is what the
  * differential test and the shared q24/q50 oracle pin.
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTime: Attribute, rightTime: Attribute) extends BinaryNode {
  def rightPayload: Seq[Attribute] = right.output
    .filterNot(a => a.exprId == rightKey.exprId || a.exprId == rightTime.exprId)
  override def output: Seq[Attribute] =
    left.output ++ rightPayload.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: AsOfJoinPlan =>
      AsOfJoinExec(p.leftKey, p.rightKey, p.leftTime, p.rightTime,
        planLater(p.left), planLater(p.right)) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    leftKey: Attribute, rightKey: Attribute,
    leftTime: Attribute, rightTime: Attribute,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  private def rightPayload: Seq[Attribute] = right.output
    .filterNot(a => a.exprId == rightKey.exprId || a.exprId == rightTime.exprId)

  override def output: Seq[Attribute] =
    left.output ++ rightPayload.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val payload = rightPayload
    import org.apache.spark.sql.catalyst.expressions.Expression
    val lKeyB = BindReferences.bindReference(leftKey: Expression, lOut)
    val lTimeB = BindReferences.bindReference(leftTime: Expression, lOut)
    val rKeyB = BindReferences.bindReference(rightKey: Expression, rOut)
    val rTimeB = BindReferences.bindReference(rightTime: Expression, rOut)
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val outAttrs = output
    left.execute().zipPartitions(right.execute(), preservesPartitioning = true) {
      (lIter, rIter) =>
        val payloadProj = UnsafeProjection.create(payload, rOut)
        // input payload attrs must be NULLABLE here: the no-match branch
        // feeds an all-null row, and a non-nullable BoundReference would
        // read raw zeros instead of nulls
        val resultProj = UnsafeProjection.create(outAttrs,
          lOut ++ payload.map(_.withNullability(true)))
        val nullPayload = new GenericInternalRow(payload.size)
        val joined = new JoinedRow
        new Iterator[InternalRow] {
          private var rNext: InternalRow = if (rIter.hasNext) rIter.next() else null
          private var heldKey: Any = null
          private var held: InternalRow = null // projected payload, copied
          override def hasNext: Boolean = lIter.hasNext
          override def next(): InternalRow = {
            val l = lIter.next()
            val lk = lKeyB.eval(l)
            val lt = lTimeB.eval(l)
            var advancing = true
            while (advancing && rNext != null) {
              val rk = rKeyB.eval(rNext)
              val cmpK = keyOrd.compare(rk, lk)
              if (cmpK < 0) {
                // right rows for keys already passed: drop
                rNext = if (rIter.hasNext) rIter.next() else null
              } else if (cmpK == 0 && timeOrd.compare(rTimeB.eval(rNext), lt) <= 0) {
                // newer still-eligible match for this key: hold it
                heldKey = InternalRow.copyValue(rk)
                held = payloadProj(rNext).copy()
                rNext = if (rIter.hasNext) rIter.next() else null
              } else {
                advancing = false // right is ahead of this left row
              }
            }
            val m =
              if (held != null && keyOrd.compare(heldKey, lk) == 0) held
              else nullPayload
            resultProj(joined(l, m))
          }
        }
    }
  }
}

/** DataFrame-level API: registers [[AsOfJoinStrategy]] on the session's
  * public `experimental.extraStrategies` hook (idempotent) and plans the
  * custom logical node. Output = left columns ++ right payload columns
  * (right's key/time dropped), matching AsOf.asofJoin's shape. */
object PhysicalAsOf {
  def asofJoin(left: DataFrame, right: DataFrame,
      key: String, ts: String): DataFrame = {
    val spark = left.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"no column $n in ${p.output.map(_.name)}"))
    val lp = left.queryExecution.analyzed
    // both sides derived from one source share attribute ids; the
    // analyzer's DeduplicateRelations rewrites CHILD outputs but knows
    // nothing about this node's key/time fields, so de-conflict up front
    // with a fresh-alias projection (Alias always mints a new exprId)
    val rp0 = right.queryExecution.analyzed
    val rp =
      if (rp0.outputSet.intersect(lp.outputSet).isEmpty) rp0
      else right.select(right.columns.toSeq.map(c =>
        org.apache.spark.sql.functions.col(c).as(c)): _*)
        .queryExecution.analyzed
    val plan = AsOfJoinPlan(lp, rp,
      attr(lp, key), attr(rp, key), attr(lp, ts), attr(rp, ts))
    org.apache.spark.sql.graftbridge.DatasetBridge.ofRows(spark, plan)
  }
}
