package graft.layout

import graft.core.BoldDetector

/** Layout reconstruction: detect tables on a page from its ordered spans.
  *
  * Re-expresses the reference's two pymupdf detection modes over the span
  * grammar (the reference calls page.find_tables() with default ruled-line
  * strategy in v3, step_2_add_candidate_tables.py:28, and with
  * vertical/horizontal_strategy="text" in v1, table_finder.py:119-128):
  *
  *  1. ruled path — ASCII grid blocks delimited by "rule" spans
  *     ("+----+----+"); '+' positions are column edges, physical row lines
  *     between rules merge into one logical row per cell with "\n" (the way
  *     pymupdf returns wrapped cell text);
  *  2. whitespace-alignment path — runs of >=3 consecutive text lines
  *     (min_words_vertical=3 analog) sharing interior all-line space gaps
  *     of width >=2; gap segments become column boundaries, one line = one
  *     row.
  *
  * Both emit [[DetectedTable]] with the header row at body index 0 (pymupdf
  * extract() includes the header row; table.header.names is row 0).
  */
object TableDetector {

  /** The column edges of `s` — the positions of its '+' — when it is a rule
    * line: a "rule" span shaped `+` (`[-=]+` `+`)+, as "+----+====+". Null
    * when it is not. The shape check and the edges are one pass over the
    * text. */
  private[layout] def ruleEdges(s: Span): Array[Int] = {
    val t = s.text
    if (s.kind != "rule" || t == null || t.length < 3 || t.charAt(0) != '+' ||
        t.charAt(t.length - 1) != '+') return null
    val edges = new scala.collection.mutable.ArrayBuilder.ofInt
    var afterPlus = false
    var p = 0
    while (p < t.length) {
      val c = t.charAt(p)
      if (c == '+') {
        if (afterPlus) return null
        edges += p
        afterPlus = true
      } else if (c == '-' || c == '=') afterPlus = false
      else return null
      p += 1
    }
    edges.result()
  }

  private def isRowLine(text: String): Boolean =
    text.length >= 2 && text.charAt(0) == '|' && text.charAt(text.length - 1) == '|'

  def findTables(page: Page): Vector[DetectedTable] = {
    val spans = page.spans
    val out = Vector.newBuilder[DetectedTable]
    var i = 0
    while (i < spans.length) {
      val s = spans(i)
      val edges = ruleEdges(s)
      if (edges != null) {
        // ---- ruled path: consume a grid block
        var j = i + 1
        var lastRule = i
        var valid = true
        while (j < spans.length && valid) {
          val t = spans(j)
          val tEdges = ruleEdges(t)
          if (tEdges != null) {
            if (java.util.Arrays.equals(tEdges, edges)) { lastRule = j; j += 1 }
            else valid = false // inconsistent grid: close at last consistent rule
          } else if (t.kind == "text" && isRowLine(t.text)) j += 1
          else valid = false
        }
        if (lastRule > i) {
          parseGrid(page, spans, i, lastRule, edges).foreach(out += _)
          i = lastRule + 1
        } else i += 1
      } else if (s.kind == "text" && !isRowLine(s.text)) {
        // ---- whitespace-alignment path: consume the maximal plain-text run
        var j = i
        while (j < spans.length && spans(j).kind == "text" &&
               !isRowLine(spans(j).text)) j += 1
        if (j - i >= 3) parseAligned(page, spans, i, j).foreach(out += _)
        i = j
      } else i += 1
    }
    out.result()
  }

  /** Parse the grid block spans[start..endRule] (both rule lines; every
    * "rule" span in it is a rule line with `edges`, every other span a row
    * line). */
  private def parseGrid(
      page: Page, spans: Vector[Span], start: Int, endRule: Int,
      edges: Array[Int]): Option[DetectedTable] = {
    if (edges.length < 2) return None
    val rows = Vector.newBuilder[Vector[String]]
    val bold = Set.newBuilder[(Int, Int)]
    var group = Vector.newBuilder[Vector[String]] // physical lines of one logical row
    var groupSize = 0
    var rowIdx = 0

    def closeGroup(): Unit = {
      if (groupSize > 0) {
        val lines = group.result()
        val nCols = edges.length - 1
        val cells = (0 until nCols).map { c =>
          val parts = lines.map(_(c)).filter(_.nonEmpty)
          // pymupdf extract() yields None for empty cells (the reference's
          // combine_first/fillna handling depends on it)
          if (parts.isEmpty) null else parts.mkString("\n")
        }.toVector
        val stripped = cells.zipWithIndex.map { case (cell, c) =>
          // bold marks may wrap each physical line; detect on the whole cell
          if (cell != null && (BoldDetector.isBoldMarked(cell) ||
              cell.split("\n").exists(BoldDetector.isBoldMarked))) {
            bold += ((rowIdx, c))
            cell.split("\n", -1).map(BoldDetector.stripBold).mkString("\n")
          } else cell
        }
        rows += stripped
        rowIdx += 1
        group = Vector.newBuilder[Vector[String]]
        groupSize = 0
      }
    }

    var k = start
    while (k <= endRule) {
      val s = spans(k)
      if (s.kind == "rule") closeGroup()
      else {
        // split the row line at the edges
        val line = s.text
        val segs = (0 until edges.length - 1).map { c =>
          val a = edges(c) + 1
          val b = edges(c + 1)
          if (a >= line.length) ""
          else line.substring(a, math.min(b, line.length)).trim
        }.toVector
        group += segs
        groupSize += 1
      }
      k += 1
    }
    closeGroup()

    val body = rows.result()
    if (body.isEmpty) None
    else {
      val width = spans.slice(start, endRule + 1).map(_.text.length).max
      Some(DetectedTable(
        page = page.number,
        bbox = (edges.head.toDouble, start.toDouble, width.toDouble, (endRule + 1).toDouble),
        body = body,
        boldRowCols = bold.result()))
    }
  }

  /** Whitespace-gap column inference over text lines spans[start..end). */
  private def parseAligned(
      page: Page, spans: Vector[Span], start: Int, end: Int): Option[DetectedTable] = {
    val lines = spans.slice(start, end).map(_.text)
    if (lines.exists(_.trim.isEmpty)) {
      // blank lines break a table block: recurse on the sub-runs
      val blank = lines.indexWhere(_.trim.isEmpty)
      val before = if (blank >= 3) parseAligned(page, spans, start, start + blank) else None
      val after =
        if (end - (start + blank + 1) >= 3) parseAligned(page, spans, start + blank + 1, end)
        else None
      return before.orElse(after) // at most one table per prose block in practice
    }
    val width = lines.map(_.length).max
    def spaceEverywhere(p: Int): Boolean =
      lines.forall(l => p >= l.length || l.charAt(p) == ' ')
    // maximal all-line space runs of width >= 2, interior only
    val gaps = Vector.newBuilder[(Int, Int)]
    var p = 0
    while (p < width) {
      if (spaceEverywhere(p)) {
        val g0 = p
        while (p < width && spaceEverywhere(p)) p += 1
        if (p - g0 >= 2 && g0 > 0 && p < width) gaps += ((g0, p))
      } else p += 1
    }
    val cuts = gaps.result()
    if (cuts.isEmpty) return None
    val starts = 0 +: cuts.map(_._2)
    val ends = cuts.map(_._1) :+ width
    val bold = Set.newBuilder[(Int, Int)]
    val body = lines.zipWithIndex.map { case (l, r) =>
      starts.zip(ends).zipWithIndex.map { case ((a, b), c) =>
        val cell0 =
          if (a >= l.length) ""
          else l.substring(a, math.min(b, l.length)).trim
        val cell =
          if (BoldDetector.isBoldMarked(cell0)) {
            bold += ((r, c)); BoldDetector.stripBold(cell0)
          } else cell0
        if (cell.isEmpty) null else cell // pymupdf: empty cell -> None
      }.toVector
    }
    // every row and every column must carry some content
    val ok = body.forall(_.exists(_ != null)) &&
      body.head.indices.forall(c => body.exists(r => r(c) != null))
    if (!ok) None
    else Some(DetectedTable(
      page = page.number,
      bbox = (0.0, start.toDouble, width.toDouble, end.toDouble),
      body = body,
      boldRowCols = bold.result()))
  }
}
