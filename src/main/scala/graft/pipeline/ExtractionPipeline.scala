package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.CriterionTaxonomy
import graft.layout._

/** End-to-end Spark orchestration of the extraction pipeline.
  *
  * Lifecycle (mirrors the reference's v3 steps, SURVEY.md §3.1), Spark-shaped.
  * Each document is finished in ONE place, like the reference's per-paper
  * loop: parse, merge its criterion table, write its stats back (steps 1-3
  * and 6), producing one [[DocOut]]:
  *
  *   docs ──map(extract ► mergeDoc ► updateStat + outputSpans)──►    (narrow)
  *        DocOut
  *     extract = SaltedExtract.extractDoc when salted (saltPages = Some(n):
  *       chunkDoc ► extractChunk per <= n-page chunk, one at a time ►
  *       reduce the partial stats), Extract.extractDoc otherwise
  *
  *   DocOut ──► stats / merged / outSpans                         (projections)
  *   merged ──flatMap(CorpusSheet.sheetRows)──► sheet rows             (narrow)
  *          ──map-column expansion over the distinct column names──► corpus DF
  *   corpus ──fuzzy L1 + ffill window + row_number──► pivot DF
  *
  * `stats`, `merged` and `outSpans` shuffle on neither path, so raw
  * documents never shuffle. The corpus/pivot stages run at "sheet scale"
  * (rows = extracted table rows, orders of magnitude smaller than the
  * corpus). The ffill/No. window
  * is intentionally global-ordered — the reference's semantics (pandas
  * implicit row order, step_5_pivot_table.py:78-85) REQUIRE one total
  * order.
  */
object ExtractionPipeline {

  type MediaSpan = Extract.MediaSpan

  final case class OutSpan(doc_id: String, ord: Int, kind: String, text: String,
      media_ref: String)

  /** Everything the pipeline emits for one document: its stats row (merge
    * folded in), its merged criterion table (None when it has no
    * candidates) and its ordered output spans. */
  final case class DocOut(stat: PaperStat, merged: Option[MergedDoc],
      spans: Seq[OutSpan])

  /** Finish one document: merge its candidates if it has any (step_3), fold
    * the merge onto its stat and assemble its output spans. */
  def docOut(stat: PaperStat, candidates: Seq[CandidateTable],
      media: Seq[MediaSpan]): DocOut = {
    val m =
      if (candidates.isEmpty) None
      else Some(Merge.mergeDoc(stat.doc_id, candidates.iterator))
    DocOut(Merge.updateStat(stat, m), m, m.toSeq.flatMap(outputSpans(_, media)))
  }

  /** Pipeline outputs. `stats`, `merged` and `outSpans` are projections of
    * one per-document dataset. `corpus`/`pivot` are LAZY: building the
    * corpus sheet requires one eager job (collecting the distinct column
    * names), so it must not run unless a caller actually reads them. */
  final class Result(
      val stats: Dataset[PaperStat],
      val candidates: Dataset[CandidateTable],
      val merged: Dataset[MergedDoc],
      corpusThunk: () => DataFrame,
      val outSpans: Dataset[OutSpan],
      persisted: Option[Dataset[_]]) {
    lazy val corpus: DataFrame = corpusThunk()
    lazy val pivot: DataFrame = pivotFrame(corpus.sparkSession, corpus)
    /** Release cached intermediates (benchmark loops re-run the pipeline
      * many times; leaked persists degrade later runs). */
    def unpersist(): Unit = persisted.foreach(_.unpersist())
  }

  /** The per-document extraction: [[SaltedExtract.extractDoc]] with
    * `saltPages = Some(n)`, [[Extract.extractDoc]] otherwise. Results are
    * identical either way (asserted in SaltedExtractSpec). */
  private def extractor(saltPages: Option[Int]): DocRow => Extract.ExtractResult =
    saltPages match {
      case Some(n) => SaltedExtract.extractDoc(_, n)
      case None => Extract.extractDoc(_)
    }

  /** The per-document dataset every output projects, built the way
    * [[run]] builds it: one narrow map that finishes each document in the
    * task that parses it, salted or not. */
  def docOuts(docs: Dataset[DocRow], saltPages: Option[Int]): Dataset[DocOut] = {
    import docs.sparkSession.implicits._
    val extract = extractor(saltPages)
    docs.map { d =>
      val r = extract(d)
      docOut(r.stat, r.candidates, r.media)
    }
  }

  /** @param saltPages when set, documents are parsed in page-aligned chunks
    *                   of at most this many pages (bounded per-task layout
    *                   state — the skew path; see [[SaltedExtract]]).
    * @param persistIntermediate persist the per-document dataset, so a
    *                   caller reading several outputs parses once; a caller
    *                   reading one output once opts out. [[graft.ExtractMain]]
    *                   does not come through here: it lands both tables from
    *                   one eager local checkpoint of [[docOuts]]' `stat` and
    *                   `spans`, whose size sets how many files each table
    *                   write produces. */
  def run(spark: SparkSession, docs: Dataset[DocRow],
      saltPages: Option[Int] = None,
      persistIntermediate: Boolean = true): Result = {
    import spark.implicits._

    // candidates keep their own lineage (a second parse when read): only
    // the candidate-table query and tests read them
    val extract = extractor(saltPages)
    val candidates = docs.flatMap(d => extract(d).candidates)
    val outs0 = docOuts(docs, saltPages)
    val outs =
      if (persistIntermediate)
        outs0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else outs0

    val merged = outs.flatMap(_.merged)
    new Result(outs.map(_.stat), candidates, merged,
      () => corpusFrame(spark, merged.flatMap(CorpusSheet.sheetRows)),
      outs.flatMap(_.spans), if (persistIntermediate) Some(outs) else None)
  }

  /** Ordered output spans for one document: the merged table cells row-major
    * as text spans (header row included), then the media spans of the
    * merged page range in original document order. */
  def outputSpans(m: MergedDoc, media: Seq[MediaSpan]): Seq[OutSpan] = {
    var ord = 0
    val out = Vector.newBuilder[OutSpan]
    m.data.foreach(_.foreach { cell =>
      out += OutSpan(m.doc_id, ord, "text", cell, null); ord += 1
    })
    media.filter(s => s.page >= m.merged_table_start_page &&
        s.page <= m.merged_table_end_page)
      .sortBy(_.offset)
      .foreach { s =>
        out += OutSpan(m.doc_id, ord, "media", s.alt, s.media_ref); ord += 1
      }
    out.result()
  }

  /** Cross-document half of step_4: union of all present column names,
    * sorted alphabetically (step_4_dump_tables.py:80), missing -> null.
    * Only the distinct column NAMES are collected to the driver (a bounded
    * vocabulary); the rows stay distributed. */
  def corpusFrame(spark: SparkSession,
      rows: Dataset[CorpusSheet.SheetRow]): DataFrame = {
    import spark.implicits._
    // vocabulary from ALL rows incl. the row_idx == -1 header sentinels
    // (zero-row tables still contribute columns, step_4:66)
    val colNames = rows.flatMap(_.cells.keysIterator.toSeq).distinct()
      .collect().sorted
    val cols = Seq($"doc_ord", $"row_idx") ++
      colNames.map(n => element_at($"cells", n).as(n))
    rows.filter(_.row_idx >= 0).select(cols: _*)
  }

  /** step_5: fuzzy L1, L2 derivation, global forward-fill, 1-based No.
    *
    * One GLOBAL window (single-partition sort) — exactly the reference's
    * pandas semantics, fine at sheet scale (rows = extracted table rows,
    * orders of magnitude below corpus scale). L2 = '' when Criterion
    * equals the matched L1, else Criterion (NaN == x is False in pandas,
    * so null Criterion keeps null L2). */
  def pivotFrame(spark: SparkSession, corpus: DataFrame): DataFrame = {
    val matchL1 = udf((s: String) => Option(CriterionTaxonomy.matchL1(s)))
    val w = Window.orderBy("doc_ord", "row_idx")
    val ffillW = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    corpus
      .withColumn("L1_raw", matchL1(col("Criterion")))
      .withColumn("L2", when(col("Criterion") === col("L1_raw"), lit(""))
        .otherwise(col("Criterion")))
      .withColumn("L1", last("L1_raw", ignoreNulls = true).over(ffillW))
      .withColumn("No.", row_number().over(w))
      .select(col("`No.`"), col("FileName"), col("L1"), col("L2"),
        col("SummaryAssessment"), col("Rating"))
  }
}
