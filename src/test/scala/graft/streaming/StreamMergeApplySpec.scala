package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.pipeline.{Checkpointing, TestSpark}

/** StreamMergeApply edges the x80 driver query can't stage: the crash-debris
  * self-heal window, empty-batch skip, and replay-idempotence under a batch
  * whose snapshot already landed. */
class StreamMergeApplySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString + "/t"

  private def rows(ords: Seq[Int], op: String, tag: String = "v1") =
    spark.createDataset(ords.map(o => (op, s"doc-$o", o.toLong, s"$tag-$o")))
      .toDF("op", "doc_id", "doc_ord", "payload")

  private def base(dir: String): Unit = {
    Checkpointing.commit(
      rows(0 until 4, op = "ignored").drop("op"), dir, "base")
    ()
  }

  test("crash debris self-heal: an unreferenced delete set for this batch id " +
      "is removed and the retry lands") {
    val dir = freshDir("smerge-heal")
    base(dir)
    // simulate an attempt that died between writing its delete set and
    // logging its snapshot: the delete set exists, no snapshot references it
    val delDir = new java.io.File(s"${dir}_deletes/apply-000")
    assert(delDir.mkdirs())
    java.nio.file.Files.write(
      new java.io.File(delDir, "junk.parquet").toPath, Array[Byte](1))
    // the retry must self-heal and land the batch (a bare merge would
    // refuse on the existing delete-set dir)
    StreamMergeApply.applyBatch(dir)(
      rows(Seq(1), op = "upsert", tag = "fixed")
        .unionByName(rows(Seq(2), op = "delete")), 0L)
    val snaps = Checkpointing.snapshots(dir)
    assert(snaps.map(_.runId) == Seq("base", "apply-000"))
    val got = Checkpointing.readAt(spark, dir, 2)
    assert(got.count() == 3)
    assert(got.filter(col("doc_ord") === 1L)
      .select("payload").as[String].head() == "fixed-1")
    assert(got.filter(col("doc_ord") === 2L).count() == 0)
  }

  test("a delete set REFERENCED by a landed snapshot is never touched: " +
      "the replayed batch is skipped outright") {
    val dir = freshDir("smerge-skip")
    base(dir)
    StreamMergeApply.applyBatch(dir)(rows(Seq(1), op = "delete"), 0L)
    val delFiles = Option(new java.io.File(s"${dir}_deletes/apply-000")
      .listFiles()).map(_.map(_.getName).toSet).getOrElse(Set.empty)
    assert(delFiles.nonEmpty)
    // replay of the SAME batch id: no new snapshot, delete set untouched
    StreamMergeApply.applyBatch(dir)(rows(Seq(3), op = "delete"), 0L)
    assert(Checkpointing.snapshots(dir).map(_.runId) == Seq("base", "apply-000"))
    val after = Option(new java.io.File(s"${dir}_deletes/apply-000")
      .listFiles()).map(_.map(_.getName).toSet).getOrElse(Set.empty)
    assert(after == delFiles)
    assert(Checkpointing.readAt(spark, dir, 2).count() == 3) // doc 3 intact
  }

  test("a micro-batch with several changes to one doc_id compacts to " +
      "last-writer-wins instead of wedging the stream") {
    // merge's duplicate-source guard throws inside foreachBatch and the
    // replay re-throws forever — applyBatch must compact first
    val dir = freshDir("smerge-compact")
    base(dir)
    // doc 1: upsert v2 then delete (seq order) → deleted
    // doc 2: upsert old then upsert newer     → newer payload wins
    val batch = Seq(
      ("upsert", "doc-1", 1L, "v2-1", 10L),
      ("delete", "doc-1", 1L, "v2-1", 11L),
      ("upsert", "doc-2", 2L, "stale-2", 12L),
      ("upsert", "doc-2", 2L, "newest-2", 13L))
      .toDF("op", "doc_id", "doc_ord", "payload", "change_seq")
    StreamMergeApply.applyBatch(dir, seqCol = Some("change_seq"))(batch, 0L)
    val got = Checkpointing.readAt(spark, dir, 2)
    assert(got.count() == 3) // doc-1 gone, docs 0/2/3 present
    assert(got.filter(col("doc_ord") === 1L).count() == 0)
    assert(got.filter(col("doc_ord") === 2L)
      .select("payload").as[String].head() == "newest-2")
    // without a seq column, arrival order within the batch decides
    val dir2 = freshDir("smerge-compact2")
    base(dir2)
    StreamMergeApply.applyBatch(dir2)(
      rows(Seq(1), op = "upsert", tag = "first")
        .unionByName(rows(Seq(1), op = "upsert", tag = "second"))
        .coalesce(1), 0L)
    assert(Checkpointing.readAt(spark, dir2, 2)
      .filter(col("doc_ord") === 1L)
      .select("payload").as[String].head() == "second-1")
  }

  test("equal seq values pick the same winner whatever the batch's row " +
      "order or partitioning") {
    val changes = Seq(
      ("upsert", "doc-1", 1L, "left-1", 7L),
      ("upsert", "doc-1", 1L, "right-1", 7L))
    def landed(batch: org.apache.spark.sql.DataFrame): String = {
      val dir = freshDir("smerge-tie")
      base(dir)
      StreamMergeApply.applyBatch(dir, seqCol = Some("change_seq"))(
        batch.toDF("op", "doc_id", "doc_ord", "payload", "change_seq"), 0L)
      Checkpointing.readAt(spark, dir, 2).filter(col("doc_ord") === 1L)
        .select("payload").as[String].head()
    }
    val winners = Seq(
      changes.toDF().coalesce(1),
      changes.reverse.toDF().coalesce(1),
      spark.sparkContext.parallelize(changes.reverse, 2).toDF())
      .map(landed)
    assert(winners.distinct.size == 1, winners)
  }

  test("a change stream with a map column compacts, with and without seqCol") {
    // Spark refuses to hash a map: the tiebreak must not hash it raw, and
    // the arrival-order path must not hash at all
    val dir = freshDir("smerge-map")
    Checkpointing.commit(Seq(("doc-0", Map("k" -> "a")), ("doc-1", Map("k" -> "b")))
      .toDF("doc_id", "attrs"), dir, "base")
    StreamMergeApply.applyBatch(dir)(
      Seq(("upsert", "doc-1", Map("k" -> "c")), ("upsert", "doc-1", Map("k" -> "d")))
        .toDF("op", "doc_id", "attrs").coalesce(1), 0L)
    def attrs(v: Int): Map[String, String] =
      Checkpointing.readAt(spark, dir, v).filter(col("doc_id") === "doc-1")
        .select("attrs").as[Map[String, String]].head()
    assert(attrs(2) == Map("k" -> "d"))
    val tied = Seq(("upsert", "doc-1", Map("k" -> "e"), 7L),
      ("upsert", "doc-1", Map("k" -> "f"), 7L))
    val winners = Seq(tied, tied.reverse).zipWithIndex.map { case (b, i) =>
      val d = freshDir(s"smerge-map-tie$i")
      Checkpointing.commit(Seq(("doc-1", Map("k" -> "a"))).toDF("doc_id", "attrs"),
        d, "base")
      StreamMergeApply.applyBatch(d, seqCol = Some("change_seq"))(
        b.toDF("op", "doc_id", "attrs", "change_seq").coalesce(1), 0L)
      Checkpointing.readAt(spark, d, 2).select("attrs")
        .as[Map[String, String]].head()
    }
    assert(winners.distinct.size == 1, winners)
  }

  test("empty micro-batch lands no snapshot") {
    val dir = freshDir("smerge-empty")
    base(dir)
    StreamMergeApply.applyBatch(dir)(
      rows(Seq.empty[Int], op = "upsert"), 0L)
    assert(Checkpointing.snapshots(dir).map(_.runId) == Seq("base"))
  }
}
