package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.functions._

/** Streaming heavy hitters: the Misra-Gries sketch of
  * [[graft.ops.HeavyHitters]] maintained as STREAMING STATE, so the
  * candidate set for "tokens above frequency 1/thresholdDen" tracks a
  * continuously-ingesting corpus without ever re-scanning it.
  *
  * Topology: tokens shard by hash (a token always lands on the same
  * shard), groupByKey(shard) -> flatMapGroupsWithState holding one MG
  * buffer per shard (<= 2k counters, lazy-shrink — the same bound as the
  * batch aggregator's per-task buffer). Each batch folds the shard's new
  * tokens into the buffer and emits the buffer's CURRENT keys.
  *
  * No-miss guarantee, per shard: all occurrences of a token stream
  * through its one shard, so any token with global count > n/(k+1)
  * (n = total tokens, and n_shard <= n) survives every shrink of that
  * shard's buffer and is in its final state — and the final state's keys
  * are always a subset of the emitted union (a shard's last emission IS
  * its final state). The union across batches is therefore a SUPERSET of
  * the batch sketch's candidates; extra tag-alongs (evicted later, or
  * emitted from an early batch) change nothing because candidates are
  * only ever EXACTLY RECOUNTED and thresholded — which is why the
  * streaming replay shares q45's plain GROUP BY/HAVING oracle verbatim.
  *
  * In production the recount runs periodically against the committed
  * corpus table (candidates map-side-pruned before any shuffle, like the
  * batch pass 2); on the finite replay it runs against the replayed
  * corpus. */
object StreamHeavyHitters {

  final case class Tok(shard: Int, t: String)

  /** Per-shard sketch update; emits the shard's current candidate keys. */
  private[streaming] def updateSketch(k: Int)(key: Int, rows: Iterator[Tok],
      state: GroupState[Map[String, Long]]): Iterator[String] = {
    val mg = new graft.ops.HeavyHitters.MisraGries(k)
    val next = rows.foldLeft(state.getOption.getOrElse(Map.empty[String, Long])) {
      (b, r) => mg.reduce(b, r.t)
    }
    state.update(next)
    next.keys.iterator
  }

  /** Must match TextAnalysis.tokens (split(lower(trim(text)), "\\s+"))
    * token for token — the candidates probe the same tokenization the
    * exact recount and the SQL oracle use. */
  private def tokensOf(text: String): Array[String] =
    text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")

  /** Two-batch finite replay: stream the corpus through the sharded
    * sketch, then exact-recount the emitted candidate union against the
    * same corpus. Output (term, cnt) — equals the batch
    * [[graft.ops.HeavyHitters.frequentTokens]] and its q45 oracle. */
  def replayFrequentTokens(spark: SparkSession,
      docs: Seq[StreamNearDup.Doc],
      thresholdDen: Long = 400L, sketchK: Int = 3200,
      shards: Int = 8): DataFrame = {
    require(sketchK + 1 >= thresholdDen,
      s"sketch too small for threshold: need k+1 >= $thresholdDen")
    import spark.implicits._
    val candidates = Replay.replayToMemory(spark, Replay.slices(docs, 2),
      "append") { in =>
      in.flatMap(d => tokensOf(d.text).iterator
          .map(t => Tok(math.floorMod(t.hashCode, shards), t)))
        .groupByKey(_.shard)
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.NoTimeout)(updateSketch(sketchK))
        .toDF("term")
    }.distinct().as[String].collect().toSet
    // exact recount over the landed corpus: candidate filter prunes
    // map-side before the (<= |candidates|-group) shuffle, like pass 2 of
    // the batch operator
    val toks = spark.createDataset(docs).toDF()
      .select(graft.ops.TextAnalysis.tokens(col("text")).as("toks"))
    val total = toks.select(explode(col("toks")).as("t"))
      .agg(count(lit(1))).collect()(0).getLong(0)
    toks.select(explode(filter(col("toks"),
        t => t.isInCollection(candidates))).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * thresholdDen > lit(total))
  }
}
