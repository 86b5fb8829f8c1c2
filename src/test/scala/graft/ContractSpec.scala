package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.TestSpark

/** Driver-contract consistency guards. The driver's compare sorts columns
  * by name before hashing values, so duplicate (case-insensitive) or empty
  * column names would corrupt the comparison silently; and a query without
  * an oracle degrades to a rows-only check. Both are contract bugs this
  * spec turns into test failures. */
class ContractSpec extends AnyFunSuite {

  test("queries and oracles cover exactly the same keys") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q == o, s"only-query=${(q -- o).toSeq.sorted} only-oracle=${(o -- q).toSeq.sorted}")
  }

  test("every query's schema has unique, non-empty, case-distinct column names") {
    val sf = TestSpark.sfDir
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val cols = fn(TestSpark.spark, sf).schema.fieldNames.toSeq
      assert(cols.nonEmpty, name)
      assert(cols.forall(_.trim.nonEmpty), s"$name: $cols")
      assert(cols.map(_.toLowerCase).distinct.size == cols.size,
        s"$name has case-colliding columns: $cols")
    }
  }

  test("declared queries leave the session's conf and optimizer rules as built") {
    // a fresh session of the suite's context: same recipe conf, own state
    val s = TestSpark.spark.newSession()
    val changes = Seq("q01_pricing_summary", "q28_rangejoin_rule",
        "x20_bucketed_join", "x33_corrupt_file_skip", "x31_aqe_skew_join",
        "x47_bloom_join", "x13_stream_hourly").flatMap { name =>
      val conf0 = s.conf.getAll
      val rules0 = s.experimental.extraOptimizations
      SparkEntry.queries(name)(s, TestSpark.sfDir)
        .write.format("noop").mode("overwrite").save()
      val conf = s.conf.getAll
      val keys = (conf.keySet ++ conf0.keySet).toSeq.sorted
        .filter(k => conf.get(k) != conf0.get(k))
        .map(k => s"$name set $k: ${conf0.get(k)} -> ${conf.get(k)}")
      val rules = s.experimental.extraOptimizations
      keys ++ (if (rules == rules0) Nil
        else Seq(s"$name set optimizer rules: $rules0 -> $rules"))
    }
    assert(changes.isEmpty, changes.mkString("\n"))
  }
}
