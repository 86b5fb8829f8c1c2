package graft.io

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Pins the bucketed co-located join: two tables bucketed by the join key
  * with the same bucket count sort-merge join with ZERO shuffle exchanges,
  * while the same join over plain parquet shuffles both sides. */
class BucketedSpec extends AnyFunSuite {
  private lazy val spark = graft.pipeline.TestSpark.spark
  import spark.implicits._

  test("bucketed-by-key tables join with zero shuffle exchanges") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bucketed").toString
    val left = (0L until 1000L).map(i => (i, s"doc$i")).toDF("doc_id", "name")
    val right = (0L until 1000L).map(i => (i, i % 7)).toDF("doc_id", "grp")
    Bucketed.writeBucketed(left, "graft_bkt_left", s"$dir/left", 8, "doc_id")
    Bucketed.writeBucketed(right, "graft_bkt_right", s"$dir/right", 8, "doc_id")
    try {
      // force SMJ
      graft.ScopedConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val joined = spark.table("graft_bkt_left")
          .join(spark.table("graft_bkt_right"), "doc_id")
        assert(joined.count() == 1000)
        assert(Bucketed.shuffleExchangeCount(joined) == 0,
          joined.queryExecution.executedPlan.toString)

        // control: the same join over non-bucketed parquet shuffles
        left.write.mode("overwrite").parquet(s"$dir/pleft")
        right.write.mode("overwrite").parquet(s"$dir/pright")
        val plain = spark.read.parquet(s"$dir/pleft")
          .join(spark.read.parquet(s"$dir/pright"), "doc_id")
        assert(plain.count() == 1000)
        assert(Bucketed.shuffleExchangeCount(plain) >= 1)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bkt_left")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_right")
    }
  }

  test("bucketed-by-key table aggregates on the key without a shuffle") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bucketed2").toString
    val df = (0L until 1000L).flatMap(i => Seq((i, 1), (i, 2))).toDF("doc_id", "v")
    Bucketed.writeBucketed(df, "graft_bkt_agg", s"$dir/agg", 8, "doc_id")
    try {
      val agg = spark.table("graft_bkt_agg").groupBy("doc_id")
        .agg(sum("v").as("s"))
      assert(agg.count() == 1000)
      assert(Bucketed.shuffleExchangeCount(agg) == 0,
        agg.queryExecution.executedPlan.toString)
    } finally spark.sql("DROP TABLE IF EXISTS graft_bkt_agg")
  }
}
