package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Sequence packing for training pipelines: lay the corpus out as one
  * giant token stream in a stable document order, then cut it into
  * fixed-budget sequences — concat-then-chunk, the standard LLM
  * pre-training layout. Each document gets its global stream offset,
  * sequence id, and offset within its sequence (documents may straddle a
  * boundary; the split/drop decision is the trainer's, downstream).
  *
  * The whole operator is one exclusive prefix sum over a total order —
  * which a window (`sum() OVER (ORDER BY ...)`) computes on a SINGLE
  * partition: the classic global-sort cliff at 100 TB. [[packSequences]]
  * instead does the two-pass distributed scan:
  *
  *   1. range-repartition by the order column and sort within partitions
  *      (persisted — BOTH passes must see the same partition boundaries;
  *      the range partitioner samples, so recomputing could repartition
  *      differently);
  *   2. pass 1: per-partition weight totals (tiny: one row per partition,
  *      collected and exclusive-scanned on the driver);
  *   3. pass 2: per-partition local prefix sums + the broadcast partition
  *      base offsets.
  *
  * No SinglePartition exchange anywhere; the only global structure is the
  * numPartitions-sized offset array.
  */
object Packing {

  /** @param docs      one row per document
    * @param orderCol  stable total-order column (unique, e.g. doc_id)
    * @param weightCol per-document token count (integral)
    * @param budget    tokens per packed sequence (> 0)
    * @return input columns + stream_offset (exclusive global prefix sum),
    *         seq_id, offset_in_seq */
  def packSequences(docs: DataFrame, orderCol: String, weightCol: String,
      budget: Long, partitions: Int = 0): DataFrame =
    pack(docs.select(col(orderCol).cast("long").as(orderCol), col(weightCol)),
      orderCol, weightCol, budget, partitions)

  /** [[packSequences]] ordering by the key column's NATIVE type (string
    * doc_ids pack in lexicographic order) instead of a long cast — no
    * numeric-prefix parsing, so non-numeric or prefix-colliding ids can't
    * silently alias to the same order key. */
  def packSequencesBy(docs: DataFrame, orderCol: String, weightCol: String,
      budget: Long, partitions: Int = 0): DataFrame =
    pack(docs, orderCol, weightCol, budget, partitions)

  /** The packed layout expanded to PER-SEQUENCE SEGMENTS — the split step
    * [[packSequences]]'s scaladoc defers to the trainer: one row per
    * (document, training sequence) overlap, including documents that
    * straddle sequence boundaries. Pure arithmetic on the prefix-sum
    * output, exploded map-side (a doc spans sequences off/B ..
    * (off+w-1)/B) — no shuffle beyond the packing pass itself.
    *
    * Output per row: the key column, seq_id, doc_token_start (first token
    * of the doc inside this sequence), offset_in_seq (where in the
    * sequence the segment begins), seg_len. Zero-weight docs occupy no
    * stream space and emit no segment. Invariants (spec-pinned): per doc,
    * seg_len sums to the doc's weight and segments tile contiguously; per
    * sequence, segments tile [0, budget) without overlap. */
  def packSegments(docs: DataFrame, orderCol: String, weightCol: String,
      budget: Long, partitions: Int = 0): DataFrame = {
    val packed = packSequencesBy(docs, orderCol, weightCol, budget, partitions)
    packed.filter(col("n_tokens") > 0)
      .select(col(orderCol), col("n_tokens"), col("stream_offset"),
        explode(sequence(
          expr(s"stream_offset div $budget"),
          expr(s"(stream_offset + n_tokens - 1) div $budget"))).as("seq_id"))
      .select(col(orderCol), col("seq_id"),
        greatest(lit(0L), col("seq_id") * budget - col("stream_offset"))
          .as("doc_token_start"),
        greatest(lit(0L), col("stream_offset") - col("seq_id") * budget)
          .as("offset_in_seq"),
        (least(col("stream_offset") + col("n_tokens"),
            (col("seq_id") + 1) * budget)
          - greatest(col("stream_offset"), col("seq_id") * budget))
          .as("seg_len"))
  }

  private def pack(docs: DataFrame, orderCol: String, weightCol: String,
      budget: Long, partitions: Int = 0): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val spark = docs.sparkSession
    val keyType = docs.schema(orderCol).dataType
    val n = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val parted = docs
      .select(col(orderCol).as("__ord"), col(weightCol).cast("long").as("__w"))
      .repartitionByRange(n, col("__ord"))
      .sortWithinPartitions("__ord")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val totals = parted.rdd
        .mapPartitionsWithIndex { (i, it) =>
          var s = 0L; it.foreach(r => s += r.getLong(1)); Iterator((i, s))
        }
        .collect().sortBy(_._1).map(_._2)
      val bases = totals.scanLeft(0L)(_ + _) // exclusive scan, length n+1
      val basesB = spark.sparkContext.broadcast(bases)
      val packedRdd = parted.rdd
        .mapPartitionsWithIndex { (i, it) =>
          var acc = basesB.value(i)
          it.map { r =>
            val off = acc
            acc += r.getLong(1)
            org.apache.spark.sql.Row(r.get(0), r.getLong(1), off)
          }
        }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__ord", keyType),
        org.apache.spark.sql.types.StructField("n_tokens",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("stream_offset",
          org.apache.spark.sql.types.LongType)))
      val packed = spark.createDataFrame(packedRdd, schema)
        .select(col("__ord").as(orderCol), col("n_tokens"), col("stream_offset"),
          // integer div, not double division — exact past 2^53 offsets
          expr(s"stream_offset div CAST($budget AS BIGINT)").as("seq_id"),
          expr(s"stream_offset % CAST($budget AS BIGINT)").as("offset_in_seq"))
      // Materialize the OUTPUT (not just the input) before dropping the
      // input cache: a later recompute of the output would re-run the
      // range partitioner, whose SAMPLED boundaries could differ from the
      // ones pass 1's totals were measured on. A local checkpoint cuts the
      // lineage, so the pinned result stays consistent for every
      // downstream consumer, and its blocks go with the returned frame.
      packed.localCheckpoint(eager = true)
    } finally {
      parted.unpersist(blocking = false)
      ()
    }
  }
}
