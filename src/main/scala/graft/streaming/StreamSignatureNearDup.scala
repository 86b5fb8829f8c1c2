package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.Dedup

/** STREAMING generic-signature near-dup — the continuous form of the
  * q93 → q94 pair: (doc_id, sig) rows arrive in micro-batches; each batch
  * finds the pairs it introduces against the STANDING band index
  * ([[Dedup.incrementalSignaturePairs]] with `prebuiltIndex`) and then
  * appends its own band rows to the index. The index is the only
  * cross-batch state and it lives as a versioned parquet table, not in
  * the state store — 8·nBands + 8 bytes per doc, append-only, the same
  * manifest discipline as x62's unit-hash index applied to the 64-bit
  * signature family (text SimHash, image aHash, audio-style prints).
  *
  * Crash safety: both writes inside foreachBatch are keyed by batch id
  * (out/v<id>, index/v<id>) and fully overwrite their version dir, so a
  * replayed batch is idempotent — at-least-once foreachBatch composes to
  * exactly-once table state.
  *
  * Replay contract (driver query x81 shares q93's oracle): every pair at
  * hamming <= maxHamming is introduced by exactly one batch — the one
  * carrying its later doc — so the union of per-batch outputs equals
  * batch [[Dedup.signatureNearDupPairs]] over the whole corpus,
  * regardless of how the corpus is split into batches. */
object StreamSignatureNearDup {

  final case class SigRow(doc_id: Long, sig: Long)

  def replaySignaturePairs(spark: SparkSession, rows: Seq[SigRow],
      workDir: String, maxHamming: Int, nBatches: Int = 3): DataFrame = {
    import spark.implicits._
    val out = Replay.Versioned(s"$workDir/out")
    val index = Replay.Versioned(s"$workDir/index")
    Replay.replay(spark, Replay.slices(rows.sortBy(_.doc_id), nBatches))(
      _.toDF().writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val b = batch.persist()
          val current = index.union(spark).getOrElse(
            spark.emptyDataset[(Long, Long, Int, Long)]
              .toDF("doc_id", "sig", "band", "bits"))
          // corpusSigs is unused when prebuiltIndex is given (the index
          // IS the corpus); pass the empty frame to make that explicit
          out.write(Dedup.incrementalSignaturePairs(
            b.limit(0), b, maxHamming, prebuiltIndex = Some(current)), batchId)
          index.write(Dedup.signatureBandIndex(b, maxHamming), batchId)
          b.unpersist()
          ()
        }
        .start())
    out.union(spark).get // the replay refuses empty input: >= 1 version
  }
}
