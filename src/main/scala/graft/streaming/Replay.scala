package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** The one finite micro-batch replay harness behind every streaming
  * shadow, and the one versioned-table helper their foreachBatch sinks
  * write through. A replay feeds a fixed list of batches to a streaming
  * query, one micro-batch per batch, so a finite input drives the same
  * operator a production readStream would — and the replay protocol cannot
  * drift between the shadows. The collect a caller makes to get its rows
  * is inherent to a replay; production reads the source instead. */
private[streaming] object Replay {

  /** Replays pin `spark.sql.shuffle.partitions` low for the duration of the
    * streaming query: stateful operators open state stores PER shuffle
    * partition (a two-sided join opens four each), and state partitioning
    * is fixed at query start — at the session's 32 partitions a finite
    * replay spends its time ticking ~empty stores through every
    * micro-batch (measured 38s -> 12s for the x24 join at sf0.1). */
  def withReplayPartitions[A](spark: SparkSession)(body: => A): A =
    graft.ScopedConf(spark, "spark.sql.shuffle.partitions" -> "4")(body)

  /** Feed `batches` through one MemoryStream to the query `start` builds
    * and starts. Batch 1 is added before the query starts and each later
    * batch after the previous one is fully processed, so every batch is
    * exactly one micro-batch (plus whatever no-data batches the query's
    * watermarks ask for), in feed order. The query is stopped on return. */
  def replay[T: Encoder](spark: SparkSession, batches: Seq[Seq[T]])(
      start: Dataset[T] => StreamingQuery): Unit = {
    require(batches.nonEmpty && batches.forall(_.nonEmpty),
      "a replay needs at least one batch and no empty batch")
    withReplayPartitions(spark) {
      val input = MemoryStream[T](spark)
      input.addData(batches.head)
      val q = start(input.toDS())
      try {
        q.processAllAvailable()
        batches.tail.foreach { b => input.addData(b); q.processAllAvailable() }
      } finally q.stop()
    }
  }

  /** [[replay]] into a memory sink: run `pipeline` in `outputMode` and
    * return the sink table. */
  def replayToMemory[T: Encoder](spark: SparkSession, batches: Seq[Seq[T]],
      outputMode: String)(pipeline: Dataset[T] => DataFrame): DataFrame = {
    val name = "graft_replay_" + java.util.UUID.randomUUID().toString.replace("-", "")
    replay(spark, batches)(in => pipeline(in).writeStream.format("memory")
      .queryName(name).outputMode(outputMode).start())
    spark.table(name)
  }

  /** `rows` cut into `n` consecutive slices of ceil(|rows| / n) rows (fewer
    * slices when there are fewer rows than that). */
  def slices[T](rows: Seq[T], n: Int): Seq[Seq[T]] = {
    require(n >= 1, s"need at least one batch, got $n")
    rows.grouped(math.max(1, (rows.length + n - 1) / n)).toSeq
  }

  /** A table kept as one parquet dir per micro-batch id, `root/v<batchId>`.
    * A batch fully overwrites its own version, so a batch id that
    * foreachBatch's at-least-once delivery runs twice rewrites the same
    * version: exactly-once table state. */
  final case class Versioned(root: String) {
    private def dir(batchId: Long): String = s"$root/v$batchId"

    def write(df: DataFrame, batchId: Long): Unit =
      df.write.mode("overwrite").parquet(dir(batchId))

    /** The batch ids written so far, in order. */
    def versions: Seq[Long] =
      Option(new java.io.File(root).list()).toSeq.flatten
        .collect { case n if n.startsWith("v") => n.drop(1).toLong }.sorted

    /** Every version read as one frame; None before the first write. */
    def union(spark: SparkSession): Option[DataFrame] = {
      val vs = versions
      if (vs.isEmpty) None else Some(graft.io.Parquet.read(spark, vs.map(dir): _*))
    }

    /** The last version; None before the first write. */
    def latest(spark: SparkSession): Option[DataFrame] =
      versions.lastOption.map(v => graft.io.Parquet.read(spark, dir(v)))
  }
}
