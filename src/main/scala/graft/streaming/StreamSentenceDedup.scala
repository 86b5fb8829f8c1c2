package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.Dedup

/** STREAMING sentence-level exact dedup — the continuous form of the
  * q64 → q71 pair: documents arrive in micro-batches; each batch cleans
  * against the STANDING unit-hash index (within-batch election + index
  * probe, [[Dedup.incrementalSentenceDedupIndexed]]) and then appends its
  * own unit hashes to the index. The index is the only cross-batch state
  * and it lives as a versioned parquet table, not in the state store —
  * 8 bytes per distinct unit, append-only, exactly what a production
  * ingest persists (the q55/x55 manifest shape applied to exact units).
  *
  * Crash safety: both writes inside foreachBatch are keyed by batch id
  * (out/v<id>, index/v<id>) and fully overwrite their version dir, so
  * re-processing a batch after a restart is idempotent — at-least-once
  * foreachBatch composes to exactly-once table state.
  *
  * Replay contract: batches are fed in doc_id order, so keep-first
  * across batches equals the global keep-first — the replayed union of
  * per-batch outputs must equal batch [[Dedup.sentenceDedup]] over the
  * whole corpus, and driver query x62 shares q64's oracle.
  */
object StreamSentenceDedup {

  final case class Doc(doc_id: Long, text: String)

  def replaySentenceDedup(spark: SparkSession, docs: Seq[Doc],
      workDir: String, unitTokens: Int = 12, nBatches: Int = 3): DataFrame = {
    import spark.implicits._
    val out = Replay.Versioned(s"$workDir/out")
    val index = Replay.Versioned(s"$workDir/index")
    Replay.replay(spark, Replay.slices(docs.sortBy(_.doc_id), nBatches))(
      _.toDF().writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val b = batch.persist()
          val current = index.union(spark).fold(
            spark.emptyDataset[Long].toDF("h"))(_.distinct())
          out.write(
            Dedup.incrementalSentenceDedupIndexed(current, b, unitTokens), batchId)
          index.write(Dedup.sentenceUnitIndex(b, unitTokens), batchId)
          b.unpersist()
          ()
        }
        .start())
    out.union(spark).get // the replay refuses empty input: >= 1 version
  }
}
