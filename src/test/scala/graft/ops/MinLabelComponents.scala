package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative min-label propagation: label(v) starts as v; each round every
  * vertex takes the min label among itself and its neighbors; fixpoint
  * when no label changes. One round per hop of graph diameter, so it is
  * no production algorithm — it is the independent reference that
  * CurationSpec compares [[Components.connectedComponentsStar]] against:
  * a different algorithm that must land on the same labels. */
object MinLabelComponents {
  // Components' lineage cut, spelled out so its helpers stay private
  private def truncate(df: DataFrame, durable: Boolean): DataFrame =
    if (durable) df.checkpoint(eager = true) else df.localCheckpoint(eager = true)

  /** Component label per vertex. `edges` must have two numeric columns
    * `srcCol`/`dstCol`; direction is ignored. Output: (id, component)
    * where component = min vertex id reachable. Vertices appearing only
    * as dst are included; isolated vertices (no edges) are the caller's
    * union if wanted.
    *
    * Throws if the label fixpoint is not reached within `maxIter` rounds
    * (one round per hop of graph diameter) — a partially-propagated
    * result is silently WRONG, so non-convergence must surface. For
    * graphs whose diameter can exceed `maxIter` use
    * [[Components.connectedComponentsStar]], whose round count is O(log^2 n)
    * regardless of diameter. */
  def connectedComponents(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", maxIter: Int = 25,
      checkpointDir: Option[String] = None): DataFrame = {
    val sym0 = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    checkpointDir.foreach(sym0.sparkSession.sparkContext.setCheckpointDir)
    val durable = checkpointDir.isDefined
    val und = sym0.union(sym0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // localCheckpoint each round: an iterative self-referential DataFrame
    // otherwise DOUBLES its logical plan per round (labels appears in both
    // the message join and the union), so a 20-round run would carry a
    // 2^20-node plan — analysis alone OOMs long before any data moves.
    // Truncating lineage keeps the plan O(1) per round; on a failure the
    // loop restarts from the last materialized labels. (A durable
    // checkpoint dir is the cluster-grade variant; same shape.)
    var labels = truncate(und.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id")), durable)
    // monotone checksum: sum of labels strictly decreases until fixpoint
    // (sum over an EMPTY frame is null — Option it, or the compare NPEs)
    def checksum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("lbl").cast("decimal(38,0)"))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var prev = checksum(labels)
    var it = 0
    var done = labels.isEmpty
    while (!done && it < maxIter) {
      val msgs = und.join(labels, und("src") === labels("id"))
        .select(col("dst").as("id"), col("lbl"))
      val next = truncate(labels.select("id", "lbl").union(msgs)
        .groupBy("id").agg(min("lbl").as("lbl")), durable)
      val cur = checksum(next)
      labels.unpersist()
      labels = next
      done = cur.compareTo(prev) == 0
      prev = cur
      it += 1
    }
    und.unpersist()
    require(done, s"connectedComponents did not converge in $maxIter rounds " +
      "(graph diameter exceeds maxIter) — raise maxIter or use " +
      "connectedComponentsStar, whose round count is O(log^2 n) on any graph")
    labels.select(col("id"), col("lbl").as("component"))
  }
}
