package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Curation, Dedup}

/** The curation funnel as a continuous ingest query: the stateless gate
  * chain (language, quality, repetition — Curation.gateKeep) runs
  * map-side inside each micro-batch, and only SURVIVORS flow into the
  * stateful exact-dedup aggregation. This is the production ingest
  * topology for corpus building: per-batch gating costs no state, and the
  * dedup state holds one (fp, count, min) row per distinct surviving
  * fingerprint — documents rejected by a gate never touch the state
  * store.
  *
  * On a finite replay the final complete-mode table must equal the batch
  * formulation (gates then groupBy fp) exactly, so the driver check (x32)
  * shares the batch SQL fragments of q47's oracle.
  */
object StreamCuration {

  /** Gate + dedup-group a finite two-batch replay; returns the final
    * complete-mode (fp, n_docs, keeper_doc_id) table of gate survivors. */
  def replayCuratedDupGroups(spark: SparkSession,
      docs: Dataset[DocDedup.Doc]): DataFrame = {
    import spark.implicits._
    Replay.replayToMemory(spark, Replay.slices(docs.collect().toSeq, 2),
      "complete") { in =>
        Dedup.exactGroups(Curation.gateKeep(in.toDF())
          .filter(col("curation_keep")).drop("curation_keep"))
      }
      .select("fp", "n_docs", "keeper_doc_id")
  }

  final case class MixDoc(doc_id: Long, source: String, n_tokens: Long)
  final case class MixRow(doc_id: Long, source: String, n_tokens: Long,
      cum_before: Long)

  /** [[graft.ops.Curation.tokenBudgetMix]] as a CONTINUOUS ingest: state
    * is one running token total per stratum, and each arriving doc (in id
    * order — the ingest order of an append-only corpus) is emitted iff
    * the tokens before it are under its stratum's budget. The batch
    * operator's budgets-are-floors/append-stable contract is exactly what
    * makes the streaming shadow trivial: a doc's keep decision depends
    * only on the PREFIX before it, which the running total is. The
    * running total always advances (kept or not), matching the batch
    * cumsum over ALL docs.
    *
    * On a finite ordered replay the emitted union must equal the batch
    * operator exactly — q63's oracle verbatim (driver query x57). */
  def replayTokenBudgetMix(spark: SparkSession, docs: Seq[MixDoc],
      budgets: Map[String, Long], defaultBudget: Long): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    Replay.replayToMemory(spark, Replay.slices(docs.sortBy(_.doc_id), 2),
      "append") { in =>
        in.groupByKey(_.source)
          .flatMapGroupsWithState(OutputMode.Append,
            GroupStateTimeout.NoTimeout) {
            (src: String, rows: Iterator[MixDoc],
                state: org.apache.spark.sql.streaming.GroupState[Long]) =>
              val budget = budgets.getOrElse(src, defaultBudget)
              var cum = state.getOption.getOrElse(0L)
              // micro-batch group iterators carry no order guarantee;
              // restore the ingest (id) order before folding
              val out = rows.toSeq.sortBy(_.doc_id).flatMap { d =>
                val keep = cum < budget
                val row = MixRow(d.doc_id, d.source, d.n_tokens, cum)
                cum += d.n_tokens
                if (keep) Some(row) else None
              }
              state.update(cum)
              out.iterator
          }
          .toDF()
      }
  }
}
