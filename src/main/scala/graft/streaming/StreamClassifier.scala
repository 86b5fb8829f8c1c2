package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.Classifier

/** STREAMING model apply for the q74 quality classifier — the deployment
  * shape of every model-based gate: the model is TRAINED ONCE over the
  * standing corpus (a batch aggregation producing the vocab-sized table
  * [[Classifier.trainTokenLr]] emits) and PERSISTED; each arriving
  * micro-batch is then scored STATELESSLY against the persisted model —
  * a broadcast join + map-side fold per batch, no state store at all.
  *
  * Contrast with the operators that need cross-batch state (x51's LSH
  * index, x56's sharded sketches, x62's unit-hash index): per-doc
  * scoring depends only on (model, doc), so the streaming form is pure
  * composition — which is exactly why production pipelines run their
  * quality classifiers in the ingest path. Scoring output is keyed by
  * batch id and fully overwritten per version (the x62 idempotence
  * contract under at-least-once foreachBatch replay).
  *
  * Replay contract: any batching of the corpus yields the same output
  * union (no cross-batch coupling), so the replayed union must equal
  * batch [[Classifier.nbQuality]] over the whole corpus — driver query
  * x66 shares q74's oracle verbatim.
  */
object StreamClassifier {

  final case class Doc(doc_id: Long, text: String)

  /** Train on `corpus` (batch), persist the model table under
    * `workDir/model`, replay `docs` in `nBatches` micro-batches scoring
    * each against the persisted model, and return the output union. */
  def replayScore(spark: SparkSession, corpus: DataFrame, docs: Seq[Doc],
      workDir: String, nBatches: Int = 3,
      threshBp: Long = Classifier.DefaultSeedThreshBp): DataFrame = {
    import spark.implicits._
    val batches = Replay.slices(docs.sortBy(_.doc_id), nBatches)
    // train once, persist: the artifact a production ingest reads
    Classifier.trainTokenLr(Classifier.seedLabeled(corpus, threshBp))
      .write.mode("overwrite").parquet(s"$workDir/model")
    val model = graft.io.Parquet.read(spark, s"$workDir/model")
    val out = Replay.Versioned(s"$workDir/out")
    Replay.replay(spark, batches)(_.toDF().writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        out.write(Classifier.scoreTokenLr(
          Classifier.seedLabeled(batch, threshBp), model), batchId)
      }
      .start())
    out.union(spark).get // the replay refuses empty input: >= 1 version
  }
}
