package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.TestSpark
import graft.streaming.StreamWatermarkDedup.Stamped

class StreamWatermarkDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  /** An N-batch replay through the shared harness (eviction needs three
    * batches). */
  private def replay(batches: Seq[Seq[Stamped]], delaySec: Long)
      : Seq[String] = {
    import spark.implicits._
    Replay.replayToMemory(spark, batches, "append")(
      _.withWatermark("ts", s"$delaySec seconds")
        .dropDuplicatesWithinWatermark("fp")
        .toDF())
      .collect().map(_.getAs[String]("fp")).toSeq
  }

  test("duplicates within the watermark horizon are suppressed, in-batch and cross-batch") {
    val out = replay(Seq(
      Seq(Stamped("A", 1L, ts(100)), Stamped("B", 2L, ts(110)),
        Stamped("A", 3L, ts(120))), // in-batch dup
      Seq(Stamped("A", 4L, ts(150)))), // cross-batch dup, state alive
      delaySec = 60L)
    assert(out.sorted == Seq("A", "B"))
  }

  test("state is EVICTED by the watermark: a far-later duplicate re-emits") {
    val out = replay(Seq(
      Seq(Stamped("A", 1L, ts(100)), Stamped("B", 2L, ts(110))),
      // C advances the watermark to 10000-60, expiring A's and B's state
      Seq(Stamped("C", 3L, ts(10000))),
      // not late (>= watermark), state gone -> kept again
      Seq(Stamped("A", 4L, ts(10050)))),
      delaySec = 60L)
    assert(out.count(_ == "A") == 2, s"expected re-emission, got $out")
    assert(out.count(_ == "B") == 1 && out.count(_ == "C") == 1)
  }

  test("driver surface equals the batch distinct-fingerprint set") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta"), (1L, "gamma"), (2L, "ALPHA BETA  "),
      (3L, "delta"), (4L, "gamma"))
      .toDF("doc_id", "text")
    val got = StreamWatermarkDedup.replayDocsDistinctFp(spark, docs)
      .collect().map(_.getString(0)).sorted.toSeq
    val want = docs
      .select(org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.lower(
          org.apache.spark.sql.functions.trim(
            org.apache.spark.sql.functions.col("text")))).as("fp"))
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    assert(got == want && got.length == 3)
  }

  test("driver surface holds under SPARSE doc_ids: dense-rank stamping " +
      "keeps all duplicates inside one dedup horizon") {
    // raw-doc_id-second stamps would put these two dups 10^7 s apart —
    // far past the 2*count+10 s horizon — and the dup would re-emit
    import spark.implicits._
    val docs = Seq(
      (1L, "same text"), (10000000L, "same text"), (99999999L, "other"))
      .toDF("doc_id", "text")
    val got = StreamWatermarkDedup.replayDocsDistinctFp(spark, docs)
      .collect().map(_.getString(0)).toSeq
    assert(got.length == 2 && got.distinct.length == 2,
      s"sparse-id duplicate re-emitted: $got")
  }
}
