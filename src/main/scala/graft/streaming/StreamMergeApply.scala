package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import graft.layout.PaperStat
import graft.pipeline.Checkpointing

/** Streaming CDC APPLY — the x73/x75 consumption loop moved to Structured
  * Streaming, landing each micro-batch through [[Checkpointing.merge]]'s
  * atomic three-verb snapshot.
  *
  * A change row is the table's own columns plus an `op` column:
  * `op = "upsert"` rows replace their committed row (or insert when the
  * doc_id is new — CDC upsert semantics), `op = "delete"` rows take their
  * committed row down (ignored when unmatched: nothing to delete). One
  * micro-batch = ONE snapshot, so a reader — or a downstream CDC consumer
  * chained off this table — never observes a half-applied batch; the
  * per-upstream-commit deleteWhere-then-commit spelling (x75) exposes
  * exactly that window between its two snapshots.
  *
  * Exactly-once table effect under foreachBatch's at-least-once replay
  * (the StreamExtract contract): the runId is a pure function of the
  * micro-batch id, and a replayed batch whose snapshot already landed is
  * skipped. The one crash window merge adds — delete set written, snapshot
  * not yet logged — self-heals on the retry: a delete set named for this
  * runId but referenced by NO snapshot is crash debris and is removed
  * before merging (the stage/publish stale-marker-cleanup precedent);
  * data files appended by the crashed attempt are unreferenced orphans,
  * reclaimed by the next [[Checkpointing.vacuum]] like any other crash
  * debris.
  *
  * Scale shape is merge's: one scan of the current state against the
  * BROADCAST batch ids, O(batch) appends + one tombstone set per
  * micro-batch; snapshot-log growth is bounded by expireSnapshots at the
  * micro-batch commit cadence.
  */
object StreamMergeApply {

  /** Land ONE change micro-batch on the committed table at `dir` as one
    * atomic snapshot. Idempotent in `id`: replays of an already-landed
    * batch are no-ops. Empty batches are skipped (no empty snapshots).
    *
    * A micro-batch carrying SEVERAL changes to the same doc_id (routine in
    * real change streams) is compacted to the LAST change per doc_id
    * before merging — merge's duplicate-source guard would otherwise throw
    * inside foreachBatch and the replay of that batch would re-throw
    * forever, wedging the stream. "Last" is ordered by `seqCol` when the
    * upstream carries a change sequence/offset column (pass its name; the
    * column is dropped before the merge); without one, by arrival order
    * within the batch (partition-major — deterministic for a
    * single-partition source, best-effort otherwise, so upstreams with
    * cross-partition ordering needs must supply seqCol). Equal seq values
    * are broken by a hash of the change row, so the winner depends only on
    * the batch's content, never on its row order. The compaction
    * shuffles only the batch (never the table) on doc_id. */
  def applyBatch(dir: String, opCol: String = "op",
      seqCol: Option[String] = None)(
      batch: DataFrame, id: Long): Unit = {
    val runId = f"apply-$id%03d"
    val snaps = Checkpointing.snapshots(dir)
    if (snaps.exists(_.runId == runId)) return // at-least-once replay: done
    val delDir = new java.io.File(s"${dir}_deletes/$runId")
    if (delDir.exists() && !snaps.exists(_.deletes.contains(runId))) {
      // crash debris from an attempt that died between writing its delete
      // set and logging its snapshot — remove it or the retry refuses
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(delDir)
    }
    if (!batch.isEmpty) {
      val seq = "__graft_change_seq"
      val ordered =
        batch.withColumn(seq, seqCol.fold(monotonically_increasing_id())(col))
      // under seqCol, a hash of the whole change row as the SECONDARY key:
      // two changes to the same doc_id carrying EQUAL seq values then pick
      // the same winner whatever the batch's row order or partitioning (an
      // arrival id would let a retried batch land differently); rows with
      // equal hashes are, short of a 64-bit collision, the same change, so
      // either one wins. Spark cannot hash a map, so a column holding one
      // hashes through its JSON form. Arrival ids never tie: no tiebreak.
      val tiebreak = seqCol.toSeq.map(_ => xxhash64(batch.schema.fields.toSeq
        .map(f => if (holdsMap(f.dataType)) to_json(col(f.name)) else col(f.name))
        : _*).desc)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col(seq).desc +: tiebreak: _*)
      val compacted = ordered
        .withColumn("__graft_rn", row_number().over(w))
        .filter(col("__graft_rn") === 1)
        .drop("__graft_rn", seq)
        .drop(seqCol.toSeq: _*)
      Checkpointing.merge(compacted, dir, runId,
        deleteWhen = col(opCol) === "delete")
      ()
    }
  }

  private def holdsMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => holdsMap(a.elementType)
    case s: StructType => s.fields.exists(f => holdsMap(f.dataType))
    case _ => false
  }

  /** The production surface: a continuous change stream applied to the
    * committed table, one atomic snapshot per micro-batch. */
  def applyChanges(changes: DataFrame, dir: String,
      checkpoint: String, opCol: String = "op")
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) => applyBatch(dir, opCol)(b, id) }
      .start()

  /** One change-stream element for the PaperStat replay surface. */
  final case class StatChange(op: String, stat: PaperStat)

  /** Finite deterministic replay (the x80 driver surface): each element of
    * `batches` is fed as its own micro-batch and must land as exactly one
    * snapshot on the table at `dir` (committed beforehand by the caller).
    * Returns the snapshot runIds landed, in order. */
  def replayStatChanges(spark: SparkSession, dir: String,
      batches: Seq[Seq[StatChange]]): Seq[String] = {
    import spark.implicits._
    val before = Checkpointing.snapshots(dir).size
    Replay.replay(spark, batches)(_
      .select(col("op"), col("stat.*"))
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) => applyBatch(dir)(b, id) }
      .start())
    Checkpointing.snapshots(dir).drop(before).map(_.runId)
  }
}
