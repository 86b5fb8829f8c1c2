package graft.pipeline

import scala.util.Try
import graft.core.MonthFinder
import graft.layout._

/** Per-document extraction (the reference's step_1 + step_2 + step_6 fused
  * into ONE pass over the document — the reference re-opens every PDF per
  * step; we parse once and derive page stats, candidate tables and the
  * publish month together, since all three only need the span sequence).
  *
  * Pure per-document function — invoked from `mapPartitions` so extraction
  * is embarrassingly parallel and the only shuffled payload downstream is
  * the (small) candidate tables, never the raw documents.
  *
  * Per-task bound (the O3 analog of the reference's 300s per-file timeout,
  * src/v1_plain/config.py:19 / main_parse_pdfs.py:427): a document whose
  * span count exceeds [[SpanBudget]] is NOT parsed — it gets a cheap
  * single-pass stat row with status "oversized_skip" (pages counted from
  * markers, no sort, no page materialization), so one pathological
  * span-bomb document can neither wedge a task nor blow its memory. The
  * skip is a counted metric, mirroring the reference's per-file status
  * report (main_parse_pdfs.py:520-532).
  */
object Extract {

  /** Span budget per document; override with GRAFT_SPAN_BUDGET. The default
    * bounds task memory at roughly spans * ~100B = ~100 MiB. */
  val SpanBudget: Int = parseSpanBudget(sys.env.get("GRAFT_SPAN_BUDGET"))

  /** A non-numeric override falls back to the default: this runs in an
    * object initializer, where a throw would fail every extraction task. */
  def parseSpanBudget(raw: Option[String]): Int =
    raw.flatMap(s => Try(s.trim.toInt).toOption).getOrElse(1 << 20)

  /** An embedded media reference, carried through extraction so the output
    * span assembly never needs a second pass over the raw documents. */
  final case class MediaSpan(doc_id: String, page: Int, media_ref: String,
      alt: String, offset: Int)

  final case class ExtractResult(stat: PaperStat, candidates: Seq[CandidateTable],
      media: Seq[MediaSpan])

  def statusOf(skipped: Boolean, criterionTables: Int): String =
    if (skipped) "oversized_skip"
    else if (criterionTables > 0) "success"
    else "not_found"

  def extractDoc(doc: DocRow): ExtractResult = extractDoc(doc, SpanBudget)

  def extractDoc(doc: DocRow, spanBudget: Int): ExtractResult = {
    if (doc.spans.length > spanBudget) return skipDoc(doc)
    val pages = SpanDoc.pages(doc.spans)
    val ord = SpanDoc.docOrd(doc.doc_id)
    val candidates = Vector.newBuilder[CandidateTable]
    val media = Vector.newBuilder[MediaSpan]
    pages.foreach { page =>
      page.spans.foreach { s =>
        if (s.kind == "media")
          media += MediaSpan(doc.doc_id, page.number, s.media_ref, s.text, s.offset)
      }
      // "not a textpage": a page with no text/rule content yields nothing
      // (step_2_add_candidate_tables.py:29-33)
      val hasText = page.spans.exists(s => s.kind == "text" || s.kind == "rule")
      if (hasText) {
        TableDetector.findTables(page).foreach { t =>
          // keep the table iff its normalized header names contain
          // "criterion" (step_2:36-38)
          if (t.headers.contains("criterion")) {
            candidates += CandidateTable(
              doc_id = doc.doc_id,
              doc_ord = ord,
              page = page.number,
              bbox = Array(t.bbox._1, t.bbox._2, t.bbox._3, t.bbox._4),
              headers = t.headers.toArray,
              raw_data = t.rawData.map(_.toArray).toArray,
              bold = t.boldRowCols.toSeq.sorted.map { case (r, c) => s"$r:$c" }.toArray)
          }
        }
      }
    }
    val cands = candidates.result()
    val month = MonthFinder.findMonth(SpanDoc.firstPageText(pages))
    val stat = PaperStat(
      doc_id = doc.doc_id,
      doc_ord = ord,
      file_size = SpanDoc.fileSize(doc.spans),
      page_size = pages.length,
      criterion_tables_count = cands.length,
      merged_tables_count = None,
      merged_rows_count = None,
      merged_table_start_page = None,
      merged_table_end_page = None,
      publish_month = Option(month),
      publish_month_verified = true,
      status = statusOf(skipped = false, cands.length))
    ExtractResult(stat, cands, media.result())
  }

  /** Over-budget path: ONE streaming pass for counts, no sort, no page
    * materialization — bounded work regardless of document size. */
  private def skipDoc(doc: DocRow): ExtractResult = {
    var markers = 0
    var contentBeforeMarker = false
    var size = 0L
    doc.spans.foreach { s =>
      if (s.kind == "page") markers += 1
      else if (markers == 0) contentBeforeMarker = true
      size += (if (s.text == null) 0 else s.text.length).toLong + 1L
    }
    val pageCount = markers + (if (contentBeforeMarker) 1 else 0)
    val stat = PaperStat(
      doc_id = doc.doc_id,
      doc_ord = SpanDoc.docOrd(doc.doc_id),
      file_size = size,
      page_size = pageCount,
      criterion_tables_count = 0,
      merged_tables_count = None,
      merged_rows_count = None,
      merged_table_start_page = None,
      merged_table_end_page = None,
      publish_month = None,
      publish_month_verified = false,
      status = statusOf(skipped = true, 0))
    ExtractResult(stat, Nil, Nil)
  }
}
