package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming exact deduplication: the training-data dedup operator
  * ([[graft.ops.Dedup.exactGroups]]) run as a Structured Streaming stateful
  * aggregation — the shape an ingest pipeline uses when documents arrive
  * continuously rather than as a settled corpus.
  *
  * `exactGroups` is a plain groupBy aggregation over the 16-byte content
  * fingerprint, so the SAME code runs on a streaming frame in complete
  * mode with no changes: state is one row per distinct fingerprint
  * ((count, min) — constant bytes per group), never the text. The keeper
  * choice is min(doc_id) — deterministic regardless of arrival order or
  * batch boundaries, unlike streaming dropDuplicates (first-arrival keeper,
  * which parallel ingestion makes nondeterministic).
  *
  * On a finite replayed input the final complete-mode table must equal the
  * batch operator exactly, which gives the streaming variant the batch
  * query's DuckDB oracle (driver query x21 sharing q13's SQL).
  */
object DocDedup {

  final case class Doc(doc_id: Long, text: String)

  /** Drive [[graft.ops.Dedup.exactGroups]] as a streaming query over a
    * FINITE batch of documents and return the final aggregate table.
    * Complete mode needs no watermark/sentinel machinery: every trigger
    * re-emits the full aggregate, so the table after the last batch IS the
    * answer. The collect is inherent to the replay harness — production
    * would readStream from the ingest source. */
  def replayDupGroups(spark: SparkSession, docs: Dataset[Doc]): DataFrame = {
    import spark.implicits._
    Replay.replayToMemory(spark, Replay.slices(docs.collect().toSeq, 2),
      "complete")(in => graft.ops.Dedup.exactGroups(in.toDF()))
      .select("fp", "n_docs", "keeper_doc_id")
  }
}
