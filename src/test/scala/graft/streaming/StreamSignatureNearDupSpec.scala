package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.TestSpark
import graft.ops.Dedup
import graft.streaming.StreamSignatureNearDup.SigRow

class StreamSignatureNearDupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // planted near-dups across batch boundaries: 1~2 (hamming 1, batches 1+1),
  // 1~5 (hamming 2, batches 1+3), 4~6 within the last batch; 3 isolated
  private val rows = Seq(
    SigRow(1L, 0x00FFL), SigRow(2L, 0x00FEL),
    SigRow(3L, -1L), SigRow(4L, 0x0F0FL),
    SigRow(5L, 0x00FCL), SigRow(6L, 0x0F0EL))

  test("replayed union equals the batch operator; cross-batch pairs flow " +
      "through the persisted band index; one index append per batch") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ssig-spec").toString
    val got = StreamSignatureNearDup.replaySignaturePairs(
        spark, rows, dir, maxHamming = 3, nBatches = 3)
      .as[(Long, Long, Int)].collect().toSet
    val batch = Dedup.signatureNearDupPairs(
        rows.map(r => (r.doc_id, r.sig)).toDF("doc_id", "sig"),
        maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == batch)
    assert(got.map(p => (p._1, p._2)) == Set((1L, 2L), (1L, 5L), (2L, 5L),
      (4L, 6L)))
    // the (1,5) pair crossed two batch boundaries via the index
    assert(got.contains((1L, 5L, 2)))
    val vs = new java.io.File(s"$dir/index").list().count(_.startsWith("v"))
    assert(vs == 3)
  }
}
