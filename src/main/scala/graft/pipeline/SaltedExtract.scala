package graft.pipeline

import graft.layout._

/** Skew handling for oversized documents (the north-rule requirement; the
  * reference's closest analog is the v2 80-page chunk split,
  * src/v2_llm/run_claude.py:59-82).
  *
  * A multi-hundred-page document must not hold its full page and table
  * state in task memory during layout analysis. The salted path finishes
  * each document in the task that reads it:
  *
  *   1. splits the document into page-range CHUNKS at page boundaries;
  *   2. parses the chunks one at a time (pages never interact during
  *      detection — table detection is per-page, so chunking at page
  *      boundaries is semantics-preserving), keeping only each chunk's
  *      partial stat, candidates and media;
  *   3. reduces the partial stats into the document's stat, which
  *      [[ExtractionPipeline.docOut]] then finishes: merge, stats
  *      write-back and output spans.
  *
  * What salting bounds is the per-chunk layout state (pages, detected
  * tables, line buffers): at most `maxPages` pages of it are live at once,
  * whatever the document's size. Salting never spread one document's parse
  * over several tasks — every chunk is parsed where the document was read —
  * so the `groupByKey(doc_id)` shuffle that once ended the salted path only
  * re-assembled rows that were already together. Without it the salted
  * path is as narrow as the unsalted one.
  *
  * Equivalence with the unsalted path is asserted in SaltedExtractSpec on
  * the fixture corpus (including the 200-page F14).
  */
object SaltedExtract {

  final case class Chunk(doc_id: String, chunk_idx: Int, isFirst: Boolean,
      spans: Seq[Span])

  /** Split a document into page-aligned chunks of at most `maxPages` pages,
    * slicing the ORIGINAL span sequence (markers and offsets intact). A
    * document of `p` pages yields `max(1, ceil(p / maxPages))` chunks. */
  def chunkDoc(doc: DocRow, maxPages: Int): Seq[Chunk] = {
    val sorted = doc.spans.sortBy(_.offset).toVector
    // page-start positions: every "page" marker, plus position 0 when the
    // document opens with implicit page 1
    val starts = {
      val marks = sorted.indices.filter(i => sorted(i).kind == "page")
      if (marks.headOption.contains(0)) marks else 0 +: marks
    }
    if (starts.length <= maxPages) Seq(Chunk(doc.doc_id, 0, isFirst = true, sorted))
    else {
      val groups = starts.grouped(maxPages).toVector
      groups.zipWithIndex.map { case (group, idx) =>
        val from = group.head
        val until =
          if (idx + 1 < groups.length) groups(idx + 1).head else sorted.length
        Chunk(doc.doc_id, idx, isFirst = idx == 0, sorted.slice(from, until))
      }
    }
  }

  /** One chunk's extraction, as if it were a document: its partial stat
    * (the pages, size and candidate count of its own pages; only the first
    * chunk's publish month is the document's), candidates and media. */
  def extractChunk(c: Chunk): (PaperStat, Seq[CandidateTable], Seq[Extract.MediaSpan]) = {
    // the span budget was already enforced on the WHOLE document (extractDoc
    // below) — chunks themselves parse unchecked so the salted path stays
    // bit-identical to the unsalted one
    val r = Extract.extractDoc(DocRow(c.doc_id, c.spans), spanBudget = Int.MaxValue)
    (r.stat, r.candidates, r.media)
  }

  /** The salted [[Extract.extractDoc]]: the same result, parsed one chunk of
    * at most `maxPages` pages at a time. An over-budget document is skipped
    * whole, exactly as on the unsalted path. */
  def extractDoc(d: DocRow, maxPages: Int,
      spanBudget: Int = Extract.SpanBudget): Extract.ExtractResult =
    if (d.spans.length > spanBudget) Extract.extractDoc(d, spanBudget)
    else {
      val candidates = Vector.newBuilder[CandidateTable]
      val media = Vector.newBuilder[Extract.MediaSpan]
      // chunks in page order, so the first partial (and its month) leads
      val p = chunkDoc(d, maxPages).iterator.map { c =>
        val (stat, cs, ms) = extractChunk(c)
        candidates ++= cs
        media ++= ms
        stat
      }.reduce { (a, b) =>
        a.copy(file_size = a.file_size + b.file_size,
          page_size = a.page_size + b.page_size,
          criterion_tables_count = a.criterion_tables_count + b.criterion_tables_count)
      }
      Extract.ExtractResult(
        p.copy(status = Extract.statusOf(skipped = false, p.criterion_tables_count)),
        candidates.result(), media.result())
    }
}
