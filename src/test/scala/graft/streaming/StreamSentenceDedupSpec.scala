package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.TestSpark
import graft.ops.Dedup

class StreamSentenceDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    StreamSentenceDedup.Doc(1L, "a b c d e f"),
    StreamSentenceDedup.Doc(2L, "a b c x y z"),   // unit owned by doc 1
    StreamSentenceDedup.Doc(3L, "d e f"),          // owned by doc 1 pos 1
    StreamSentenceDedup.Doc(4L, "p q r p q r"),   // within-doc dup
    StreamSentenceDedup.Doc(5L, "x y z fresh here")) // unit owned by doc 2

  private def collect(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "clean_text", "n_dropped")
      .as[(Long, String, Long)].collect().toSeq.sortBy(_._1)

  test("replayed union equals the batch operator; cross-batch ownership " +
      "flows through the persisted index") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ssd-spec").toString
    // 3 batches of 2/2/1 docs: doc 3's owner (doc 1) is two batches back,
    // doc 5's owner (doc 2) one batch back — both resolved via the index
    val got = collect(StreamSentenceDedup.replaySentenceDedup(
      spark, docs, dir, unitTokens = 3, nBatches = 3))
    val batch = collect(Dedup.sentenceDedup(
      docs.toDF("doc_id", "text"), unitTokens = 3))
    assert(got == batch)
    assert(got.find(_._1 == 3L).get._2 == "")      // emptied across batches
    assert(got.find(_._1 == 5L).get._2 == "fresh here")
    // the index holds every distinct unit hash exactly once per version
    val vs = new java.io.File(s"$dir/index").list().count(_.startsWith("v"))
    assert(vs == 3) // one append per micro-batch
  }
}
