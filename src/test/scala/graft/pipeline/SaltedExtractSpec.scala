package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.layout._

class SaltedExtractSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("chunking is page-aligned, exhaustive, and order-preserving") {
    val doc = FixtureCorpus.f14 // 200 pages
    val chunks = SaltedExtract.chunkDoc(doc, maxPages = 16)
    assert(chunks.length == 13) // ceil(200/16)
    assert(chunks.head.isFirst && chunks.tail.forall(!_.isFirst))
    // exhaustive partition of the original span sequence
    assert(chunks.flatMap(_.spans) == doc.spans.sortBy(_.offset))
    // each chunk parses to <= 16 pages with original page numbers
    val pageNums = chunks.flatMap(c => SpanDoc.pages(c.spans).map(_.number))
    assert(pageNums == (1 to 200))
    assert(chunks.forall(c => SpanDoc.pages(c.spans).length <= 16))
  }

  test("small docs stay whole") {
    val chunks = SaltedExtract.chunkDoc(FixtureCorpus.f01, maxPages = 16)
    assert(chunks.length == 1 && chunks.head.isFirst)
  }

  test("salted pipeline == unsalted pipeline on the fixture corpus") {
    val docs = spark.createDataset(FixtureCorpus.fixtureDocs)
    val plain = ExtractionPipeline.run(spark, docs)
    val salted = ExtractionPipeline.run(spark, docs, saltPages = Some(16))

    val a = plain.stats.collect().sortBy(_.doc_id)
    val b = salted.stats.collect().sortBy(_.doc_id)
    assert(a.toVector == b.toVector)

    def candKey(c: CandidateTable) =
      (c.doc_id, c.page, c.raw_data.map(_.mkString("")).mkString(""))
    assert(plain.candidates.collect().map(candKey).sorted.toVector ==
      salted.candidates.collect().map(candKey).sorted.toVector)

    val sa = plain.outSpans.collect().sortBy(s => (s.doc_id, s.ord)).toVector
    val sb = salted.outSpans.collect().sortBy(s => (s.doc_id, s.ord)).toVector
    assert(sa == sb)

    // both equal the in-driver reference for every fixture document,
    // including a multi-chunk one and one with no criterion table
    val ref = FixtureCorpus.fixtureDocs.map { d =>
      val r = Extract.extractDoc(d)
      val m =
        if (r.candidates.isEmpty) None
        else Some(Merge.mergeDoc(d.doc_id, r.candidates.iterator))
      (Merge.updateStat(r.stat, m),
        m.toSeq.flatMap(ExtractionPipeline.outputSpans(_, r.media)))
    }.sortBy(_._1.doc_id)
    assert(SaltedExtract.chunkDoc(FixtureCorpus.f14, maxPages = 16).length > 1)
    assert(ref.exists(_._1.status == "not_found"))
    assert(a.toVector == ref.map(_._1) && b.toVector == ref.map(_._1))
    val refSpans = ref.flatMap(_._2).sortBy(s => (s.doc_id, s.ord))
    assert(sa == refSpans && sb == refSpans)

    // the per-document function itself: the salted extraction of each
    // fixture document equals the unsalted one, F14 parsed in 13 chunks
    FixtureCorpus.fixtureDocs.foreach { d =>
      val (p, q) = (Extract.extractDoc(d), SaltedExtract.extractDoc(d, maxPages = 16))
      assert(q.stat == p.stat, d.doc_id)
      assert(q.candidates.map(candKey) == p.candidates.map(candKey), d.doc_id)
      assert(q.media == p.media, d.doc_id)
    }
  }

  test("salted path applies the span budget to the WHOLE doc, matching unsalted") {
    val bomb = DocRow("98.bomb.pdf",
      Span("page", "1", null, 0) +:
        (1 to 20000).map(i => Span("text", s"line$i", null, i)).toVector)
    val docs = spark.createDataset(Seq(bomb, FixtureCorpus.f01))
    val extract = (d: DocRow) =>
      SaltedExtract.extractDoc(d, maxPages = 16, spanBudget = 10000)
    val outs = docs.map { d =>
      val r = extract(d)
      ExtractionPipeline.docOut(r.stat, r.candidates, r.media)
    }.collect()
    val byId = outs.map(o => o.stat.doc_id -> o.stat).toMap
    assert(byId("98.bomb.pdf") == Extract.extractDoc(bomb, spanBudget = 10000).stat)
    assert(byId("98.bomb.pdf").status == "oversized_skip")
    assert(byId("1.f01_clean.pdf").status == "success")
    // the bomb contributes no candidates or media downstream
    val parts = docs.collect().filter(_.doc_id == "98.bomb.pdf").map(extract)
    assert(parts.forall(p => p.candidates.isEmpty && p.media.isEmpty))
    assert(outs.filter(_.stat.doc_id == "98.bomb.pdf")
      .forall(o => o.merged.isEmpty && o.spans.isEmpty))
  }
}
