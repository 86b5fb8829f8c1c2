package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Watermark-bounded streaming exact dedup — Spark's native
  * `dropDuplicatesWithinWatermark` (3.5+) completing the repo's streaming
  * dedup family with the TTL-EVICTION shape:
  *
  *  - x21 (`DocDedup`): complete-mode aggregation — state is one row per
  *    distinct fingerprint FOREVER (exact on an infinite stream only if
  *    the key space is bounded);
  *  - x51 (`StreamNearDup`): LSH bucket state with an explicit per-bucket
  *    cap (saturation marker past it);
  *  - x78 (this): state EVICTED BY EVENT-TIME WATERMARK — a duplicate is
  *    suppressed iff it arrives within the watermark delay of the kept
  *    occurrence, and the key's state is dropped once the watermark
  *    passes it. Bounded state on an unbounded stream with unbounded keys,
  *    the trade being a TIME-WINDOWED dedup guarantee instead of a global
  *    one (a re-scrape of the same page a month later re-emits — usually
  *    the WANTED semantics for crawl ingest, where the monthly re-emit is
  *    the freshness signal).
  *
  * State size = keys inside the watermark horizon, independent of stream
  * length — the property neither x21 nor a plain `dropDuplicates` on a
  * stream has. Eviction + late-duplicate re-emission are pinned in
  * ScalaTest; the driver query replays a corpus whose duplicates all fall
  * inside the horizon, so the appended output must equal the batch
  * distinct-fingerprint set (the DuckDB oracle).
  */
object StreamWatermarkDedup {

  final case class Stamped(fp: String, doc_id: Long,
      ts: java.sql.Timestamp)

  /** Replay `rows` through watermark + dropDuplicatesWithinWatermark("fp")
    * in two micro-batches (append mode); returns the appended output
    * projected to the fingerprint column. `delaySeconds` is the watermark
    * delay — the dedup horizon. */
  def replayDistinctFp(spark: SparkSession, rows: Seq[Stamped],
      delaySeconds: Long): DataFrame = {
    import spark.implicits._
    Replay.replayToMemory(spark, Replay.slices(rows, 2), "append") { in =>
      in.withWatermark("ts", s"$delaySeconds seconds")
        .dropDuplicatesWithinWatermark("fp")
        .toDF()
    }.select("fp")
  }

  /** The x78 driver surface: every document stamped inside one dedup
    * horizon, so the streaming result must be the batch distinct set. */
  def replayDocsDistinctFp(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    // stamp by DENSE RANK (row index after the doc_id sort), not raw
    // doc_id: with sparse ids (max id >> row count) doc_id-second stamps
    // could straddle the 2*count-second horizon below and re-emit dups,
    // breaking the 'equals batch distinct set' contract
    val rows = docs
      .select(md5(lower(trim(col("text")))).as("fp"), col("doc_id"))
      .orderBy("doc_id")
      .collect()
      .zipWithIndex
      .map { case (r, i) => Stamped(r.getString(0), r.getLong(1),
        new java.sql.Timestamp(base.getTime + i * 1000L)) }
      .toSeq
    replayDistinctFp(spark, rows, delaySeconds = rows.length * 2L + 10L)
  }
}
