package graft.layout

/** Data model for the interleaved text+media document table.
  *
  * The input schema is driver-mandated (BASELINE.json input_hint):
  *   docs(doc_id: string,
  *        spans: array<struct<kind:string, text:string, media_ref:string, offset:int>>)
  *
  * Span grammar (the rendering contract shared by the fixture generator and
  * the layout parser — the analog of the reference's pymupdf page model,
  * reference: src/v3_stable/step_2_add_candidate_tables.py:28-43):
  *
  *   - kind="page"  : page-break marker; text = 1-based page number.
  *   - kind="text"  : one rendered monospace line; column alignment is
  *                    encoded by runs of >=2 spaces (the "whitespace-gap
  *                    column inference" path). Inline `**bold**` marks
  *                    emphasis (font metadata does not exist in this schema).
  *   - kind="rule"  : a ruled horizontal line rendered as an ASCII grid
  *                    border, e.g. "+-----+-----+" ("+=====+" below a header
  *                    row); '+' positions are the column edges (the
  *                    "ruled-line heuristics" path, cf. the reference's
  *                    page.get_drawings() exploration in
  *                    src/v1_plain/Untitled.ipynb).
  *   - kind="media" : an embedded figure/image; media_ref non-null, text
  *                    holds optional alt text. A page with only media spans
  *                    is the analog of pymupdf's "not a textpage"
  *                    (step_2_add_candidate_tables.py:29-33).
  *
  * `offset` increases monotonically within a document.
  */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)

final case class DocRow(doc_id: String, spans: Seq[Span])

/** One page of a document: its 1-based number and its spans in order. */
final case class Page(number: Int, spans: Vector[Span])

/** A table detected on one page.
  *
  * @param page    1-based page number
  * @param bbox    (x0, y0, x1, y1) in line-grid coordinates: x = character
  *                column, y = line index within the page
  * @param body    full extraction INCLUDING the raw header row at index 0,
  *                like pymupdf table.extract() (step_2:39)
  * @param boldRowCols (row,col) positions whose cell text carried bold marks
  */
final case class DetectedTable(
    page: Int,
    bbox: (Double, Double, Double, Double),
    body: Vector[Vector[String]],
    boldRowCols: Set[(Int, Int)]) {

  /** pymupdf TableHeader.names semantics: falsy header cells are replaced by
    * "Col{i}" (observed throughout the reference, e.g. the docstring table
    * in preprocess_table.py:32-44 and docs/analysis.md:30-49). */
  def names: Vector[String] =
    body.head.zipWithIndex.map { case (c, i) =>
      if (c == null || c.isEmpty) s"Col$i" else c
    }

  /** `[i.lower().strip() for i in table.header.names if i]`
    * (step_2_add_candidate_tables.py:36). */
  def headers: Vector[String] =
    names.filter(n => n != null && n.nonEmpty).map(_.toLowerCase.trim)

  /** What the reference persists as CandidateTable.raw_data: the header
    * NAMES row followed by the data rows. */
  def rawData: Vector[Vector[String]] = names +: body.tail
}

/** Candidate criterion table — the analog of the reference's persisted
  * `target_table` rows (reference: src/models.py:37-51).
  *
  * @param bold "row:col" positions whose cell text carried bold emphasis
  *             (sorted; the reference's v2 prompt uses bold to split L1/L2,
  *             src/v2_llm/run_claude.py:149, detection parse_table.py:146-165) */
final case class CandidateTable(
    doc_id: String,
    doc_ord: Long,
    page: Int,
    bbox: Array[Double],
    headers: Array[String],
    raw_data: Array[Array[String]],
    bold: Array[String])

/** Per-document stats — the analog of the reference's `paper` row
  * (reference: src/models.py:9-34), minus the DB bookkeeping columns.
  *
  * @param status per-file outcome like the reference's v1 status report
  *               (main_parse_pdfs.py:520-532): "success" (criterion tables
  *               found), "not_found", or "oversized_skip" (span budget
  *               exceeded — the O3 per-task bound; the doc is counted, not
  *               parsed) */
final case class PaperStat(
    doc_id: String,
    doc_ord: Long,
    file_size: Long,
    page_size: Int,
    criterion_tables_count: Int,
    merged_tables_count: Option[Int],
    merged_rows_count: Option[Int],
    merged_table_start_page: Option[Int],
    merged_table_end_page: Option[Int],
    publish_month: Option[String],
    publish_month_verified: Boolean,
    status: String)

object SpanDoc {
  /** Split a document's ordered spans into pages at "page" markers.
    * Spans before the first marker belong to page 1. */
  def pages(spans: Seq[Span]): Vector[Page] = {
    val sorted = spans.sortBy(_.offset)
    val out = Vector.newBuilder[Page]
    var current = Vector.newBuilder[Span]
    var pageNo = 1
    var sawMarker = false
    var open = false
    sorted.foreach { s =>
      if (s.kind == "page") {
        if (open) out += Page(pageNo, current.result())
        pageNo = scala.util.Try(s.text.trim.toInt).getOrElse(pageNo + 1)
        current = Vector.newBuilder[Span]
        open = true
        sawMarker = true
      } else {
        if (!sawMarker && !open) { open = true } // implicit page 1
        current += s
      }
    }
    if (open) out += Page(pageNo, current.result())
    out.result()
  }

  /** doc_ord: leading integer of the doc_id (the reference sorts its corpus
    * by the leading int of the filename, src/config.py:6). Docs without a
    * leading int sort after all numbered ones, by name. */
  def docOrd(docId: String): Long = {
    val m = "^\\d+".r.findFirstIn(docId)
    m.map(_.toLong).getOrElse(Long.MaxValue)
  }

  /** Page-1 text for publish-month extraction: concatenation of the first
    * of [[pages]]' text-span lines, newline-joined (the analog of
    * page.get_textpage().extractText(), step_6_update_publish_month.py:17). */
  def firstPageText(pages: Seq[Page]): String =
    pages.headOption
      .map(_.spans.filter(_.kind == "text").map(_.text).mkString("\n"))
      .getOrElse("")

  /** Approximate "file size": total characters across spans (deterministic
    * stand-in for the PDF byte size in Paper.file_size, step_1:22-25). */
  def fileSize(spans: Seq[Span]): Long =
    spans.iterator.map(s => (if (s.text == null) 0 else s.text.length).toLong + 1L).sum
}
