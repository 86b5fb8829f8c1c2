package graft.layout

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import graft.core.Checks.forAllSeeded

class SpanDocSpec extends AnyFunSuite {
  test("page splitting at markers; implicit page 1") {
    val spans = Vector(
      Span("page", "1", null, 0), Span("text", "a", null, 1),
      Span("page", "2", null, 2), Span("media", "", "img://x", 3),
      Span("page", "3", null, 4), Span("text", "b", null, 5))
    val pages = SpanDoc.pages(spans)
    assert(pages.map(_.number) == Vector(1, 2, 3))
    assert(pages(0).spans.map(_.text) == Vector("a"))
    assert(pages(1).spans.head.kind == "media")
  }
  test("docOrd parses the leading integer (config.py:6 sort key)") {
    assert(SpanDoc.docOrd("46.4909_2023_te_unep.pdf") == 46)
    assert(SpanDoc.docOrd("7.x.pdf") == 7)
    assert(SpanDoc.docOrd("nolead.pdf") == Long.MaxValue)
  }
}

class TableDetectorSpec extends AnyFunSuite {
  private def pageOf(doc: DocRow, n: Int): Page =
    SpanDoc.pages(doc.spans).find(_.number == n).get

  test("grid table round-trips through render + detect") {
    val cells = Vector(
      Vector("Criterion", "Summary Assessment", "Rating"),
      Vector("Strategic Relevance", "Overall rating", "HS"),
      Vector("Efficiency", "Cost-effective", "MS"))
    val d = FixtureCorpus.doc("99.t.pdf")(_.page(1).grid(cells))
    val tables = TableDetector.findTables(pageOf(d, 1))
    assert(tables.length == 1)
    assert(tables.head.body == cells)
    assert(tables.head.headers == Vector("criterion", "summary assessment", "rating"))
  }

  test("grid multi-line cells join with newline (pymupdf wrapped text)") {
    val cells = Vector(
      Vector("Criterion", "Rating"),
      Vector("1. Alignment to UNEP MTS,\nPOW and Strategic Priorities", "HS"))
    val d = FixtureCorpus.doc("99.t.pdf")(_.page(1).grid(cells))
    val t = TableDetector.findTables(pageOf(d, 1)).head
    assert(t.body(1)(0) == "1. Alignment to UNEP MTS,\nPOW and Strategic Priorities")
  }

  test("empty grid cells extract as null (pymupdf None)") {
    val cells = Vector(
      Vector("Criterion", "", "Rating"),
      Vector("Effectiveness", "", "S"))
    val d = FixtureCorpus.doc("99.t.pdf")(_.page(1).grid(cells))
    val t = TableDetector.findTables(pageOf(d, 1)).head
    assert(t.body == Vector(
      Vector("Criterion", null, "Rating"),
      Vector("Effectiveness", null, "S")))
    // pymupdf header names: falsy -> Col{i}
    assert(t.names == Vector("Criterion", "Col1", "Rating"))
    assert(t.rawData.head == Vector("Criterion", "Col1", "Rating"))
    assert(t.headers == Vector("criterion", "col1", "rating"))
  }

  test("bold marks detected and stripped") {
    val cells = Vector(
      Vector("Criterion", "Rating"),
      Vector("**Strategic Relevance**", "HS"))
    val d = FixtureCorpus.doc("99.t.pdf")(_.page(1).grid(cells))
    val t = TableDetector.findTables(pageOf(d, 1)).head
    assert(t.body(1)(0) == "Strategic Relevance")
    assert(t.boldRowCols == Set((1, 0)))
  }

  test("aligned table detected via whitespace gaps; prose is not") {
    val cells = Vector(
      Vector("Criterion", "Summary Assessment", "Rating"),
      Vector("Strategic Relevance", "Overall rating", "HS"),
      Vector("Efficiency", "Cost-effective", "MS"))
    val d = FixtureCorpus.doc("99.t.pdf") { b =>
      b.page(1).aligned(cells)
      b.page(2).text(
        "This is plain prose that should never be detected as a table",
        "because its lines do not share any aligned whitespace gap at",
        "a common column position across all three lines of the block.")
    }
    val t1 = TableDetector.findTables(pageOf(d, 1))
    assert(t1.length == 1)
    assert(t1.head.body == cells)
    assert(TableDetector.findTables(pageOf(d, 2)).isEmpty)
  }

  test("property: grid round-trip for random rectangular tables") {
    val cellGen = Gen.oneOf(
      Gen.const(null: String),
      Gen.alphaNumStr.map(_.take(8)).suchThat(_ != null))
    val gen = for {
      nCols <- Gen.choose(2, 5)
      nRows <- Gen.choose(1, 5)
      header <- Gen.listOfN(nCols, Gen.oneOf("Criterion", "Rating", "x", "")).map(_.toVector)
      rows <- Gen.listOfN(nRows, Gen.listOfN(nCols, cellGen).map(_.toVector))
    } yield header +: rows.toVector
    forAllSeeded(gen, n = 120) { cells: Vector[Vector[String]] =>
      // render normalizes: null and "" both render as empty -> extract null
      val expected = cells.map(_.map { c =>
        val t = Option(c).getOrElse("").trim
        if (t.isEmpty) null else t
      })
      // a grid row whose every cell is empty still renders/extracts fine
      val d = FixtureCorpus.doc("99.t.pdf")(_.page(1).grid(cells))
      val tables = TableDetector.findTables(SpanDoc.pages(d.spans).head)
      assert(tables.length == 1)
      assert(tables.head.body == expected)
    }
  }

  test("one-pass rule edges agree with the regex and '+' scan they replace") {
    // the detector's former rule check and column edges
    val ruleRe = "^\\+([-=]+\\+)+$".r
    def oldEdges(s: Span): Option[Vector[Int]] =
      if (s.kind == "rule" && ruleRe.matches(s.text))
        Some(s.text.iterator.zipWithIndex.collect { case ('+', p) => p }.toVector)
      else None
    def newEdges(s: Span) = Option(TableDetector.ruleEdges(s)).map(_.toVector)
    val fixtureSpans = (FixtureCorpus.fixtureDocs ++
      (0 until 20).map(FixtureCorpus.scaledDoc(_, 7L))).flatMap(_.spans)
    assert(fixtureSpans.count(s => oldEdges(s).nonEmpty) > 100)
    fixtureSpans.filter(_.text != null).foreach { s =>
      assert(newEdges(s) == oldEdges(s), s)
    }
    val ruleish = Gen.listOf(Gen.frequency(
      6 -> Gen.const('-'), 2 -> Gen.const('='), 3 -> Gen.const('+'),
      1 -> Gen.oneOf('|', ' ', 'x', '*'))).map(_.mkString)
    val texts = Gen.oneOf(ruleish, ruleish.map("+" + _ + "+"),
      Gen.listOf(Gen.choose(1, 6).map("-" * _)).map(_.mkString("+", "+", "+")))
    val spans = for {
      kind <- Gen.frequency(8 -> Gen.const("rule"), 1 -> Gen.const("text"))
      text <- texts
    } yield Span(kind, text, null, 0)
    var rules = 0
    forAllSeeded(spans, n = 600) { s =>
      assert(newEdges(s) == oldEdges(s), s)
      if (oldEdges(s).nonEmpty) rules += 1
    }
    // both outcomes are exercised, and the malformed shapes by name
    assert(rules > 100 && rules < 550, rules)
    Seq("", "+", "++", "+-", "-+", "+--++", "+-+-", "+- -+", "+-=+",
        "+==+--+", "+-+\n").foreach { t =>
      assert(newEdges(Span("rule", t, null, 0)) == oldEdges(Span("rule", t, null, 0)), t)
    }
  }
}

class ContextSpec extends AnyFunSuite {
  test("preceding text prefers the block containing 'Table' (table_finder.py:92-114)") {
    val d = FixtureCorpus.doc("99.t.pdf") { b =>
      b.page(1)
        .text("Some unrelated narrative line")
        .text("Table 9: Summary of project findings and ratings")
        .text("another line in between")
        .grid(Vector(Vector("Criterion", "Rating"), Vector("Efficiency", "S")))
    }
    val page = SpanDoc.pages(d.spans).head
    val t = TableDetector.findTables(page).head
    assert(ContextExtractor.precedingText(page, t)
      == "Table 9: Summary of project findings and ratings")
  }
  test("falls back to the closest block above") {
    val d = FixtureCorpus.doc("99.t.pdf") { b =>
      b.page(1).text("far away", "closest caption line")
        .grid(Vector(Vector("Criterion", "Rating"), Vector("Efficiency", "S")))
    }
    val page = SpanDoc.pages(d.spans).head
    val t = TableDetector.findTables(page).head
    assert(ContextExtractor.precedingText(page, t) == "closest caption line")
  }
}

class CrossPageSpec extends AnyFunSuite {
  test("bbox continuation: same width/x0 within 20, consecutive page") {
    assert(CrossPage.isContinuedBBox(3, (10, 5, 110, 40), 4, (15, 3, 112, 50)))
    assert(!CrossPage.isContinuedBBox(3, (10, 5, 110, 40), 5, (15, 3, 112, 50)))
    assert(!CrossPage.isContinuedBBox(3, (10, 5, 110, 40), 4, (40, 3, 112, 50)))
  }
  test("bbox merge keeps y0, takes new y1 (table_finder.py:152-158)") {
    assert(CrossPage.mergeBBoxes((10, 5, 110, 40), (8, 2, 120, 55)) == ((8.0, 5.0, 120.0, 55.0)))
  }
  test("repeated header dropped when >80% cells equal (parse_table.py:255-264)") {
    assert(CrossPage.isHeaderRow(
      Seq("Criterion", "Summary", "Rating"), Seq("criterion", "summary", "RATING")))
    assert(!CrossPage.isHeaderRow(
      Seq("Criterion", "x", "y"), Seq("criterion", "a", "b")))
  }
  test("spanning state machine merges same-column-count tables across pages") {
    val docs = FixtureCorpus.f02
    val pages = SpanDoc.pages(docs.spans)
    val spanning = CrossPage.extractSpanningTables(pages)
    // pages 4..7 fragments share 3 columns -> one spanning table
    val spans = spanning.filter(_.isSpanning)
    assert(spans.length == 1)
    assert(spans.head.pageNumbers == List(4, 5, 6, 7))
    // repeated headers were dropped: 1 header + 16 data rows
    assert(spans.head.content.length == 17)
  }
}

class FixtureSpec extends AnyFunSuite {
  test("fixture corpus is deterministic") {
    assert(FixtureCorpus.fixtureDocs == FixtureCorpus.fixtureDocs)
    assert(FixtureCorpus.scaled(20, 42L) == FixtureCorpus.scaled(20, 42L))
    assert(FixtureCorpus.scaled(20, 42L) != FixtureCorpus.scaled(20, 43L))
  }
  test("offsets strictly increase within each doc") {
    FixtureCorpus.fixtureDocs.foreach { d =>
      val offs = d.spans.map(_.offset)
      assert(offs == offs.sorted && offs.distinct.length == offs.length, d.doc_id)
    }
  }
}
