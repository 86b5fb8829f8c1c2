package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.LongType

/** Catalyst optimizer rule: rewrite an inequality-sandwich inner join
  * (`p.x >= iv.lo AND p.x <= iv.hi`, no equality component) into the
  * bin-bucketed equi-join composition of [[graft.ops.RangeJoin]].
  *
  * Without this, Spark plans such a join as BroadcastNestedLoopJoin (or a
  * cartesian product) — O(|points| * |intervals|). The rewrite manufactures
  * the missing equi-key at the LOGICAL level, so it applies to any API
  * surface (SQL text, DataFrame, Dataset) without callers knowing the
  * operator exists:
  *
  *   Join(P, IV, x between lo..hi)
  *     ==>
  *   Project(P.out ++ IV.out,
  *     Filter(x >= lo && x <= hi,
  *       Join(Project(P.out :+ bin(x), P),
  *            Generate(explode(sequence(bin(lo), bin(hi))), Filter(hi >= lo, IV)),
  *            bin(x) = bin)))
  *
  * Output attributes (ids and order) are exactly the original join's, so
  * the rewrite is transparent to every downstream operator. A point joins
  * each matching interval exactly once (its single bin meets each
  * interval's distinct bin list at most once), so no dedupe is introduced.
  * Matches only BIGINT bounds — the narrow, provably-safe pattern; wider
  * numeric types cast upstream if they want the rewrite.
  *
  * Bin width comes from `spark.graft.rangejoin.binwidth` (units of x;
  * default 3600). Width only affects performance, never the result rows.
  * Set `spark.graft.rangejoin.enabled=false` to disable.
  *
  * Registered via [[GraftExtensions]]
  * (`spark.sql.extensions=graft.plans.GraftExtensions`), which
  * [[graft.LocalSpark]] and scripts/spark-submit-example.sh both set.
  */
object RangeJoinRewrite extends Rule[LogicalPlan] {

  final val BinWidthKey = "spark.graft.rangejoin.binwidth"
  final val EnabledKey = "spark.graft.rangejoin.enabled"

  /** Exact floor-division on BIGINT: `a div w` truncates toward zero, so
    * correct by 1 when the remainder is negative. */
  private def floorDiv(a: Expression, w: Long): Expression = {
    val wLit = Literal(w, LongType)
    Subtract(
      IntegralDivide(a, wLit),
      CaseWhen(
        Seq((LessThan(Remainder(a, wLit), Literal(0L)), Literal(1L))),
        Some(Literal(0L))))
  }

  /** The sandwich pattern: extract (x, lo, hi) such that the condition is
    * exactly x >= lo AND x <= hi with x from one side and lo/hi from the
    * other, all BIGINT attributes. Returns (point side is left?, x, lo, hi). */
  private def sandwich(cond: Expression, left: LogicalPlan, right: LogicalPlan)
      : Option[(Boolean, Attribute, Attribute, Attribute)] = {
    def attr(e: Expression): Option[Attribute] = e match {
      case a: Attribute if a.dataType == LongType => Some(a)
      case _ => None
    }
    // normalize each conjunct to (smaller, larger) of a <= comparison
    def le(e: Expression): Option[(Attribute, Attribute)] = e match {
      case LessThanOrEqual(a, b) => for (x <- attr(a); y <- attr(b)) yield (x, y)
      case GreaterThanOrEqual(a, b) => for (x <- attr(a); y <- attr(b)) yield (y, x)
      case _ => None
    }
    cond match {
      case And(c1, c2) =>
        (le(c1), le(c2)) match {
          case (Some((a1, b1)), Some((a2, b2))) =>
            // x is the attribute appearing as the larger in one conjunct
            // (lo <= x) and the smaller in the other (x <= hi)
            val x =
              if (b1.semanticEquals(a2)) Some((b1, a1, b2)) // lo <= x, x <= hi
              else if (b2.semanticEquals(a1)) Some((b2, a2, b1))
              else None
            x.flatMap { case (xa, lo, hi) =>
              val lOut = left.outputSet
              val rOut = right.outputSet
              if (lOut.contains(xa) && rOut.contains(lo) && rOut.contains(hi))
                Some((true, xa, lo, hi))
              else if (rOut.contains(xa) && lOut.contains(lo) && lOut.contains(hi))
                Some((false, xa, lo, hi))
              else None
            }
          case _ => None
        }
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val conf = SQLConf.get
    if (!conf.getConfString(EnabledKey, "true").toBoolean) return plan
    val binWidth = conf.getConfString(BinWidthKey, "3600").toLong
    plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), hint)
          if sandwich(cond, left, right).isDefined =>
        val Some((pointIsLeft, x, lo, hi)) = sandwich(cond, left, right)
        val (points, intervals) = if (pointIsLeft) (left, right) else (right, left)
        // point side: project an extra bin column
        val pBin = Alias(floorDiv(x, binWidth), "__graft_bin")()
        val p = Project(points.output :+ pBin, points)
        // interval side: drop hi < lo (sequence() would DESCEND), explode bins.
        // Sequence is timezone-aware — an optimizer rule runs after
        // ResolveTimeZone, so the id must be set here or the plan turns
        // unresolved; the generator attribute mirrors elementSchema exactly
        // (type AND nullability) for the same reason.
        val explode = Explode(new Sequence(
          floorDiv(lo, binWidth), floorDiv(hi, binWidth))
          .withTimeZone(conf.sessionLocalTimeZone))
        val el = explode.elementSchema.head
        val ivBin = AttributeReference("__graft_iv_bin", el.dataType, el.nullable)()
        val gen = Generate(
          explode,
          unrequiredChildIndex = Nil,
          outer = false,
          qualifier = None,
          generatorOutput = Seq(ivBin),
          child = Filter(GreaterThanOrEqual(hi, lo), intervals))
        val eq = Join(p, gen, Inner,
          Some(EqualTo(pBin.toAttribute, ivBin)), hint)
        val filtered = Filter(And(GreaterThanOrEqual(x, lo), LessThanOrEqual(x, hi)), eq)
        Project(j.output, filtered)
    }
  }
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` injection point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => RangeJoinRewrite)
  }
}
