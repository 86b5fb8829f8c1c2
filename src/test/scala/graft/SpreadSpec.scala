package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.io.Bucketed.shuffleExchangeCount
import graft.pipeline.TestSpark

/** Pins for the input-spread repartition (SparkEntry.spread, guide §2.5's
  * one-unsplittable-file fix): a sub-split single-file `documents` table
  * is hash-spread on doc_id so compute-heavy projections parallelize;
  * the spread is absent above the size threshold (the at-scale shape
  * PlanAuditSpec audits) and never applies to the relational tables. */
class SpreadSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sfDir

  override def afterAll(): Unit =
    System.clearProperty("graft.spread.max.bytes")

  private def q12Shuffles(maxBytes: Option[String]): Int = {
    maxBytes match {
      case Some(v) => System.setProperty("graft.spread.max.bytes", v)
      case None => System.clearProperty("graft.spread.max.bytes")
    }
    try {
      val df = SparkEntry.queries("q12_text_profile")(spark, sf)
      df.collect()
      shuffleExchangeCount(df)
    } finally System.clearProperty("graft.spread.max.bytes")
  }

  test("spread fires for the sub-split documents file: q12's otherwise " +
      "map-only plan gains exactly the one doc_id hash repartition") {
    assert(q12Shuffles(None) == 1)
    val df = SparkEntry.queries("q12_text_profile")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(doc_id"), plan.take(2000))
  }

  test("spread is absent above the size threshold — the at-scale shape") {
    assert(q12Shuffles(Some("0")) == 0)
    // threshold below the file size behaves like at-scale too
    assert(q12Shuffles(Some("1024")) == 0)
  }

  test("a malformed spread limit keeps the 64 MB default instead of failing " +
      "the table read") {
    assert(q12Shuffles(Some("64MB")) == 1)
  }

  test("relational tables are never spread: q01's plan is identical with " +
      "the spread enabled and disabled") {
    def shape(maxBytes: Option[String]): Int = {
      maxBytes match {
        case Some(v) => System.setProperty("graft.spread.max.bytes", v)
        case None => System.clearProperty("graft.spread.max.bytes")
      }
      try {
        val df = SparkEntry.queries("q01_pricing_summary")(spark, sf)
        df.collect()
        shuffleExchangeCount(df)
      } finally System.clearProperty("graft.spread.max.bytes")
    }
    assert(shape(None) == shape(Some("0")))
  }

  test("spread results are identical to the unspread plan (q13 groups)") {
    val spreadRows = {
      System.clearProperty("graft.spread.max.bytes")
      SparkEntry.queries("q13_exact_dup_groups")(spark, sf)
        .collect().map(_.toString).sorted.toSeq
    }
    val plainRows = {
      System.setProperty("graft.spread.max.bytes", "0")
      try SparkEntry.queries("q13_exact_dup_groups")(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      finally System.clearProperty("graft.spread.max.bytes")
    }
    assert(spreadRows == plainRows)
  }
}
