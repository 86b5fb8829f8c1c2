package graft.pipeline

import org.apache.spark.sql.Dataset
import graft.layout._

/** Skew handling for oversized documents (the north-rule requirement; the
  * reference's closest analog is the v2 80-page chunk split,
  * src/v2_llm/run_claude.py:59-82).
  *
  * A multi-hundred-page document must not monopolize one task or hold its
  * full span sequence in task memory during layout analysis. The salted
  * path:
  *
  *   1. splits each oversized document into page-range CHUNKS at page
  *      boundaries (narrow flatMap — chunk = rows of bounded size, so
  *      per-task layout state is bounded regardless of document size);
  *   2. extracts candidates and partial page stats per chunk independently
  *      (pages never interact during detection — table detection is
  *      per-page, so chunking at page boundaries is semantics-preserving);
  *   3. groups each document's chunk rows by doc_id (the one shuffle; it
  *      carries partial stats, candidates and media, never the raw spans),
  *      reduces the partial stats and finishes the document there: merge,
  *      stats write-back and output spans.
  *
  * Equivalence with the unsalted path is asserted in SaltedExtractSpec on
  * the fixture corpus (including the 200-page F14).
  */
object SaltedExtract {

  final case class Chunk(doc_id: String, chunk_idx: Int, isFirst: Boolean,
      spans: Seq[Span])

  /** Split a document into page-aligned chunks of at most `maxPages` pages,
    * slicing the ORIGINAL span sequence (markers and offsets intact). */
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

  final case class PartialStat(doc_id: String, doc_ord: Long, file_size: Long,
      page_size: Int, criterion_tables_count: Int, publish_month: String,
      hasFirstPage: Boolean, skipped: Boolean)

  def extractChunk(c: Chunk): ChunkRow = {
    // the span budget was already enforced on the WHOLE document before
    // chunking (chunkRows below) — chunks themselves parse unchecked so the
    // salted path stays bit-identical to the unsalted one
    val r = Extract.extractDoc(DocRow(c.doc_id, c.spans), spanBudget = Int.MaxValue)
    val month = if (c.isFirst) r.stat.publish_month.orNull else null
    (PartialStat(c.doc_id, r.stat.doc_ord, r.stat.file_size, r.stat.page_size,
      r.stat.criterion_tables_count, month, c.isFirst, skipped = false),
      r.candidates, r.media)
  }

  /** Over-budget document -> the same skip stat as the unsalted path. */
  def skipPartial(d: DocRow): ChunkRow = {
    val s = Extract.extractDoc(d, spanBudget = -1).stat // forces the skip path
    (PartialStat(s.doc_id, s.doc_ord, s.file_size, s.page_size, 0,
      null, hasFirstPage = true, skipped = true), Nil, Nil)
  }

  def reduceStats(a: PartialStat, b: PartialStat): PartialStat =
    PartialStat(a.doc_id, a.doc_ord,
      a.file_size + b.file_size,
      a.page_size + b.page_size,
      a.criterion_tables_count + b.criterion_tables_count,
      if (a.hasFirstPage) a.publish_month else b.publish_month,
      a.hasFirstPage || b.hasFirstPage,
      a.skipped || b.skipped)

  /** One chunk's extraction: its partial stat, candidates and media. */
  type ChunkRow = (PartialStat, Seq[CandidateTable], Seq[Extract.MediaSpan])

  /** Per-chunk parse (narrow): over-budget documents become one skip row,
    * the rest one row per page-aligned chunk. */
  def chunkRows(docs: Dataset[DocRow], maxPages: Int = 64,
      spanBudget: Int = Extract.SpanBudget): Dataset[ChunkRow] = {
    import docs.sparkSession.implicits._
    val budget = spanBudget
    docs.flatMap { d =>
      if (d.spans.length > budget) Iterator.single(skipPartial(d))
      else chunkDoc(d, maxPages).iterator.map(extractChunk)
    }
  }

  /** The one keyed pass: a document's chunk rows meet in one group, where
    * the stats reduce and the document is finished
    * ([[ExtractionPipeline.docOut]]). */
  def docOuts(rows: Dataset[ChunkRow]): Dataset[ExtractionPipeline.DocOut] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1.doc_id).mapGroups { (_, it) =>
      val parts = it.toVector
      val p = parts.iterator.map(_._1).reduce(reduceStats)
      val stat = PaperStat(p.doc_id, p.doc_ord, p.file_size, p.page_size,
        p.criterion_tables_count, None, None, None, None,
        Option(p.publish_month), publish_month_verified = !p.skipped,
        status = Extract.statusOf(p.skipped, p.criterion_tables_count))
      ExtractionPipeline.docOut(stat, parts.flatMap(_._2), parts.flatMap(_._3))
    }
  }
}
