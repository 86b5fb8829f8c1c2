package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.TestSpark

class RangeJoinRewriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // the session recipe registers the rule through GraftExtensions
  private def withoutRule[T](body: => T): T =
    graft.ScopedConf(spark, RangeJoinRewrite.EnabledKey -> "false")(body)

  private lazy val frames = {
    val points = Seq.tabulate(300)(i => (i.toLong, (i * 37 % 1000).toLong))
      .toDF("point_id", "x")
    val intervals = Seq.tabulate(40)(i => (i.toLong, i * 25L, i * 25L + 60L))
      .toDF("iv_id", "lo", "hi")
    (points, intervals)
  }

  test("SQL inequality join: rule kills the nested loop, rows unchanged") {
    val (points, intervals) = frames
    points.createOrReplaceTempView("rj_points")
    intervals.createOrReplaceTempView("rj_intervals")
    val sql =
      """SELECT point_id, iv_id FROM rj_points p JOIN rj_intervals iv
        |ON p.x >= iv.lo AND p.x <= iv.hi""".stripMargin

    // baseline: without the rule Spark has no equi-key -> nested loop join
    val want = withoutRule {
      val naive = spark.sql(sql)
      val naivePlan = naive.queryExecution.executedPlan.toString
      assert(naivePlan.contains("BroadcastNestedLoop") || naivePlan.contains("Cartesian"),
        naivePlan)
      naive.as[(Long, Long)].collect().sorted
    }

    val got = spark.sql(sql)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("Cartesian"), plan)
    assert(plan.contains("Generate"), plan) // the interval bin explode
    val rows = got.as[(Long, Long)].collect().sorted
    assert(rows.sameElements(want))
    assert(rows.distinct.length == rows.length) // exactly-once, no dedupe pass
  }

  test("DataFrame API fires too; reversed operand order; disable flag honored") {
    val (points, intervals) = frames
    // lo <= x (reversed) and x <= hi, point side on the RIGHT
    val got = intervals.join(points,
      col("lo") <= col("x") && col("x") <= col("hi"))
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("Cartesian"), plan)
    // column order must be the original join's (iv side first)
    assert(got.columns.toSeq == Seq("iv_id", "lo", "hi", "point_id", "x"))
    val want = intervals.crossJoin(points)
      .where(col("lo") <= col("x") && col("x") <= col("hi"))
      .select("iv_id", "point_id").as[(Long, Long)].collect().sorted
    val rows = got.select("iv_id", "point_id").as[(Long, Long)].collect().sorted
    assert(rows.sameElements(want))

    withoutRule {
      val off = points.join(intervals,
        col("x") >= col("lo") && col("x") <= col("hi"))
      val offPlan = off.queryExecution.executedPlan.toString
      assert(offPlan.contains("BroadcastNestedLoop") || offPlan.contains("Cartesian"),
        offPlan)
    }
  }

  test("non-sandwich joins are left alone") {
    val (points, intervals) = frames
    // equi-join: must remain an ordinary join, no Generate injected
    val eq = points.join(intervals, col("x") === col("lo"))
    assert(!eq.queryExecution.executedPlan.toString.contains("Generate"))
    // half-open predicate (no upper bound): not our pattern
    val half = points.join(intervals, col("x") >= col("lo"))
    assert(!half.queryExecution.executedPlan.toString.contains("Generate"))
  }

  test("GraftExtensions registers the rewrite rule") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val rules = org.apache.spark.sql.graftbridge.ExtensionsBridge
      .optimizerRules(ext, spark)
    assert(rules.contains(RangeJoinRewrite))
  }
}
