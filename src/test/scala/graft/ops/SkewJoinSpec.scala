package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.TestSpark

class SkewJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("salted join == plain join under 90% single-key skew") {
    val rnd = new scala.util.Random(11)
    // 90% of big rows share key 7
    val big = Seq.tabulate(5000) { i =>
      val k = if (rnd.nextInt(10) < 9) 7L else rnd.nextInt(50).toLong
      (i.toLong, k, rnd.nextInt(1000).toLong)
    }.toDF("row_id", "k", "v")
    val small = Seq.tabulate(50)(i => (i.toLong, s"dim_$i")).toDF("k", "name")

    val got = SkewJoin.saltedJoin(big, small, "k", saltFactor = 8)
      .select("row_id", "name").as[(Long, String)].collect().sorted
    val want = big.join(small, Seq("k"))
      .select("row_id", "name").as[(Long, String)].collect().sorted
    assert(got.length == want.length && got.sameElements(want))
  }

  test("the hot key actually spreads across salts") {
    val big = Seq.tabulate(4000)(i => (i.toLong, 7L)).toDF("row_id", "k")
    val perSalt = big.withColumn("__salt",
        pmod(xxhash64(struct(big.columns.toSeq.map(col): _*)), lit(8L)))
      .groupBy("__salt").count().as[(Long, Long)].collect().toMap
    assert(perSalt.size == 8, s"expected 8 salt buckets, got $perSalt")
    // hash salting: no bucket should hold more than ~2x the fair share
    assert(perSalt.values.max < 2 * 4000 / 8, s"skewed salt histogram: $perSalt")
  }

  test("salt is deterministic across re-execution (no random())") {
    val big = Seq.tabulate(100)(i => (i.toLong, i % 5L)).toDF("row_id", "k")
    val salts1 = big.withColumn("s",
        pmod(xxhash64(struct(big.columns.toSeq.map(col): _*)), lit(8L)))
      .select("row_id", "s").as[(Long, Long)].collect().sorted
    val salts2 = big.withColumn("s",
        pmod(xxhash64(struct(big.columns.toSeq.map(col): _*)), lit(8L)))
      .select("row_id", "s").as[(Long, Long)].collect().sorted
    assert(salts1.sameElements(salts2))
  }
}
