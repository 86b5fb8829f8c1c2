package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import graft.layout._

object TestSpark {
  /** sf0.001 fixture-parquet dir; overridable so the suite runs on
    * machines where the driver's testdata lives elsewhere. */
  val sfDir: String = sys.env.getOrElse("GRAFT_TESTDATA",
    sys.props.getOrElse("graft.testdata", "/root/testdata/sf0.001"))
  lazy val spark: SparkSession = graft.LocalSpark.builder("graft-test", 4).getOrCreate()

  /** The jobs `body` starts, each by the name of the stage it was
    * submitted for, and the ids of the shuffle-map stages it runs. */
  def jobsOf[T](body: => T): (T, Seq[String], Set[Int]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerTaskEnd}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val shuffleStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.add(j.stageInfos.maxBy(_.stageId).name); ()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskType == "ShuffleMapTask") { shuffleStages.add(t.stageId); () }
    }
    org.apache.spark.graft.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val out = try body finally {
      org.apache.spark.graft.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    (out, jobs.asScala.toSeq, shuffleStages.asScala.toSet)
  }
}

class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val result = {
    val docs = spark.createDataset(FixtureCorpus.fixtureDocs)
    ExtractionPipeline.run(spark, docs)
  }
  private lazy val stats = result.stats.collect().map(s => s.doc_id -> s).toMap
  private lazy val mergedMap = result.merged.collect().map(m => m.doc_id -> m).toMap

  test("F01 clean doc: one candidate, page 3, month December 2024") {
    val s = stats("1.f01_clean.pdf")
    assert(s.page_size == 3)
    assert(s.criterion_tables_count == 1)
    assert(s.merged_table_start_page.contains(3))
    assert(s.merged_rows_count.contains(7)) // header + 6 rows (len(df2data))
    assert(s.publish_month.contains("December 2024"))
    val m = mergedMap("1.f01_clean.pdf")
    assert(m.data.head.toVector == Vector("Criterion", "Summary Assessment", "Rating"))
    assert(m.data.length == 7)
  }

  test("F02 cross-page: 4 fragments pages 4-7 merge into one run") {
    val s = stats("2.f02_crosspage.pdf")
    assert(s.criterion_tables_count == 4)
    assert(s.merged_tables_count.contains(4))
    assert(s.merged_table_start_page.contains(4))
    assert(s.merged_table_end_page.contains(7))
    // pandas concat stacks the 4 fragments' data rows; header counted once
    assert(s.merged_rows_count.contains(17))
    assert(s.publish_month.contains("March, 2021"))
  }

  test("F03 empty aux columns dropped") {
    val m = mergedMap("3.f03_auxcols.pdf")
    assert(m.data.head.toVector == Vector("Criterion", "Summary Assessment", "Rating"))
    assert(stats("3.f03_auxcols.pdf").publish_month.contains("October, 2018"))
  }

  test("F04 non-first aux column fills right neighbor blanks") {
    val m = mergedMap("4.f04_auxfill.pdf")
    assert(m.data.head.toVector == Vector("Criterion", "Summary Assessment", "Rating"))
    val rows = m.data.tail.map(_.toVector)
    assert(rows(0) == Vector("Strategic Relevance",
      "Overall rating for Strategic Relevance", "HS"))
    assert(rows(1) == Vector("Effectiveness", "Outcomes largely achieved", "S"))
    assert(rows(2) == Vector("Sustainability",
      "Overall rating for Sustainability", "ML"))
  }

  test("F05 unnamed first column combine_firsts into Criterion") {
    val m = mergedMap("5.f05_firstcol.pdf")
    assert(m.data.head.toVector == Vector("Criterion", "Summary Assessment", "Rating"))
    assert(m.data(1)(0) == "Strategic Relevance")
    assert(m.data(2)(0) == "1. Alignment to UNEP MTS, POW and strategic priorities")
  }

  test("F06 longest consecutive run beats the early false positive") {
    val s = stats("6.f06_falsepositive.pdf")
    assert(s.criterion_tables_count == 3) // page 3 definition table IS a candidate
    assert(s.merged_table_start_page.contains(40))
    assert(s.merged_table_end_page.contains(41))
  }

  test("F07 equal-length runs: the FIRST wins (Python max semantics)") {
    val s = stats("7.f07_tworuns.pdf")
    assert(s.merged_table_start_page.contains(10))
    assert(s.merged_table_end_page.contains(11))
  }

  test("F08 split header normalized to SummaryAssessment in the corpus sheet") {
    val corpus = result.corpus.filter($"FileName" === "8.f08_splitheader.pdf").collect()
    assert(corpus.length == 2)
    val cols = result.corpus.columns
    assert(cols.contains("SummaryAssessment"))
    val row = corpus.map(r => r.getAs[String]("Criterion") -> r.getAs[String]("SummaryAssessment")).toMap
    assert(row("Strategic Relevance") == "Overall rating for Strategic Relevance")
  }

  test("F09 'summary assessment/comments' is NOT normalized (ratio 0.77 < 0.8) and dropped") {
    // the variant name misses the 0.8 normalization threshold, so it is not
    // one of the kept columns and the projection drops it (step_4:55-58):
    // F09 contributes Criterion + Rating only, SummaryAssessment comes out null
    val cols = result.corpus.columns
    assert(!cols.contains("Summary assessment/comments"))
    val rows = result.corpus.filter($"FileName" === "9.f09_headervariants.pdf").collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getAs[String]("SummaryAssessment") == null))
    // "Rating (achievement)" DID normalize (startswith rating)
    assert(rows.map(_.getAs[String]("Rating")).toSet == Set("HS", "ML"))
    // and the corpus data columns are sorted alphabetically (step_4:80)
    val dataCols = cols.drop(2) // after doc_ord, row_idx ordinals
    assert(dataCols.sorted.toVector == dataCols.toVector)
  }

  test("F10 headerless continuation page breaks the run") {
    val s = stats("10.f10_headerless.pdf")
    assert(s.criterion_tables_count == 1)
    assert(s.merged_table_start_page.contains(2))
    assert(s.merged_table_end_page.contains(2))
  }

  test("F11 media-only page skipped; media spans pass through to output") {
    val s = stats("11.f11_media.pdf")
    assert(s.page_size == 3)
    assert(s.criterion_tables_count == 1)
    val spans = result.outSpans.filter(_.doc_id == "11.f11_media.pdf")
      .collect().sortBy(_.ord)
    val media = spans.filter(_.kind == "media")
    assert(media.map(_.media_ref).toVector ==
      Vector("img://11/chart.png", "img://11/annex.png"))
    // text spans: 6 rows x 3 cols of the merged table
    assert(spans.count(_.kind == "text") == 18)
    // ordered: all text first, then media; ord is a contiguous 0..n-1 range
    assert(spans.map(_.ord).toVector == spans.indices.toVector)
  }

  test("F12 month on the wrong page is not found (page-1 only, step_6:58-64)") {
    assert(stats("12.f12_nomonth.pdf").publish_month.isEmpty)
  }

  test("F13 numbered criteria classify and forward-fill in the pivot") {
    val rows = result.pivot.filter($"FileName" === "13.f13_numbered.pdf")
      .orderBy(col("`No.`")).collect()
    assert(rows.length == 5)
    val l1 = rows.map(_.getAs[String]("L1")).toVector
    assert(l1(0) == "Strategic Relevance")
    // "1. Alignment to UNEP MTS..." stays under Strategic Relevance via ffill
    assert(l1(1) == "Strategic Relevance" || l1(1) == null)
    assert(l1(3) == "Sustainability")
    assert(l1(4) == "Sustainability") // "2. Financial sustainability" -> ffill or direct
    val l2 = rows.map(_.getAs[String]("L2")).toVector
    assert(l2(0) == "") // exact L1 match -> empty L2
    assert(l2(1) == "1. Alignment to UNEP MTS, POW and strategic priorities")
  }

  test("F14 oversized doc: 200 pages, table on the last page") {
    val s = stats("14.f14_oversized.pdf")
    assert(s.page_size == 200)
    assert(s.merged_table_start_page.contains(200))
  }

  test("F15 zero candidates: excluded from merge, stats keep nulls") {
    val s = stats("15.f15_notables.pdf")
    assert(s.criterion_tables_count == 0)
    assert(s.merged_tables_count.isEmpty)
    assert(!mergedMap.contains("15.f15_notables.pdf"))
  }

  test("F16 whitespace-aligned table detected via the text strategy") {
    val s = stats("16.f16_aligned.pdf")
    assert(s.criterion_tables_count == 1)
    val m = mergedMap("16.f16_aligned.pdf")
    assert(m.data.head.toVector == Vector("Criterion", "Summary Assessment", "Rating"))
    assert(m.data.length == 4)
  }

  test("pivot numbering is global, 1-based, ordered by (doc_ord, row_idx)") {
    val nos = result.pivot.orderBy(col("`No.`")).select(col("`No.`")).as[Int].collect()
    assert(nos.toVector == (1 to nos.length).toVector)
    // first doc in doc_ord order is f01
    val first = result.pivot.filter(col("`No.`") === 1).collect().head
    assert(first.getAs[String]("FileName") == "1.f01_clean.pdf")
  }

  test("per-file status mirrors the v1 report: success / not_found (C12)") {
    assert(stats("1.f01_clean.pdf").status == "success")
    assert(stats("15.f15_notables.pdf").status == "not_found")
    assert(stats.values.count(_.status == "success") == 15)
  }

  test("F01 header bold positions are captured, cell text stripped (P5/P6)") {
    val c = result.candidates.filter(_.doc_id == "1.f01_clean.pdf").collect().head
    assert(c.bold.toVector == Vector("0:0", "0:1", "0:2"))
    assert(c.raw_data.head.toVector == Vector("Criterion", "Summary Assessment", "Rating"))
    assert(c.bbox.length == 4 && c.bbox(1) < c.bbox(3)) // y0 < y1 in line coords
  }

  test("O3 span budget: a span-bomb doc is skipped with a counted status, cheaply") {
    // 50k spans on one page — far over a tiny budget; the guard must count
    // pages/size in one pass and NEVER run layout analysis
    val bomb = DocRow("99.bomb.pdf",
      Span("page", "1", null, 0) +:
        (1 to 50000).map(i => Span("text", s"| cell$i |", null, i)).toVector)
    val t0 = System.nanoTime()
    val r = Extract.extractDoc(bomb, spanBudget = 10000)
    val ms = (System.nanoTime() - t0) / 1e6
    assert(r.stat.status == "oversized_skip")
    assert(r.stat.criterion_tables_count == 0 && r.candidates.isEmpty)
    assert(r.stat.page_size == 1)
    assert(ms < 500, s"skip path took ${ms}ms — must be a single cheap pass")
    // under budget the same doc parses normally
    assert(Extract.extractDoc(bomb, spanBudget = 100000).stat.status != "oversized_skip")
  }

  test("span budget override: a malformed GRAFT_SPAN_BUDGET keeps the default") {
    assert(Extract.parseSpanBudget(None) == (1 << 20))
    assert(Extract.parseSpanBudget(Some(" 5000 ")) == 5000)
    assert(Extract.parseSpanBudget(Some("lots")) == (1 << 20))
    assert(Extract.parseSpanBudget(Some("")) == (1 << 20))
  }

  test("each document finishes where it is parsed: no exchange, salted or not") {
    val docs = spark.createDataset(FixtureCorpus.fixtureDocs)
    Seq(Some(16), None).foreach { salt =>
      val r = ExtractionPipeline.run(spark, docs, saltPages = salt,
        persistIntermediate = false)
      Seq("stats" -> r.stats.toDF(), "outSpans" -> r.outSpans.toDF()).foreach {
        case (name, df) =>
          df.collect()
          val plan = graft.io.Bucketed.finalSection(df)
          assert(graft.io.Bucketed.shuffleExchangeCount(df) == 0,
            s"$name, saltPages = $salt:\n$plan")
          assert(!plan.contains("Exchange"), s"$name, saltPages = $salt:\n$plan")
      }
    }
  }

  test("output span sequences are deterministic across runs") {
    val docs = spark.createDataset(FixtureCorpus.fixtureDocs)
    val again = ExtractionPipeline.run(spark, docs)
    val a = result.outSpans.collect().sortBy(s => (s.doc_id, s.ord)).toVector
    val b = again.outSpans.collect().sortBy(s => (s.doc_id, s.ord)).toVector
    assert(a == b)
    assert(a.nonEmpty)
  }
}

class ResumeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("resume reprocesses only uncommitted docs (anti-join, S3/S4 semantics)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString + "/stats"
    val docs = spark.createDataset(FixtureCorpus.fixtureDocs)

    // first run "crashes" after committing only the first 6 docs
    val firstBatch = docs.filter(d => SpanDoc.docOrd(d.doc_id) <= 6)
    val r1 = ExtractionPipeline.run(spark, firstBatch)
    Checkpointing.commit(r1.stats.toDF(), dir, runId = "run1")

    // resume: only the remaining docs are reprocessed
    val remaining = Checkpointing.resumeFilter(spark, docs, dir)
    val remainingIds = remaining.map(_.doc_id).collect().toSet
    assert(remainingIds.size == FixtureCorpus.fixtureDocs.size - 6)
    assert(!remainingIds.contains("1.f01_clean.pdf"))
    assert(remainingIds.contains("7.f07_tworuns.pdf"))

    val r2 = ExtractionPipeline.run(spark, remaining)
    Checkpointing.commit(r2.stats.toDF(), dir, runId = "run2")

    // after the second commit nothing is left, and the union is complete
    assert(Checkpointing.resumeFilter(spark, docs, dir).count() == 0)
    assert(spark.read.parquet(dir).select("doc_id").distinct().count()
      == FixtureCorpus.fixtureDocs.size)

    // lineage manifests exist for both runs
    val manifests = new java.io.File(dir + "_manifest").listFiles().map(_.getName).sorted
    assert(manifests.exists(_.contains("run1")) && manifests.exists(_.contains("run2")))
  }

  test("time travel: version 1 sees only the first commit; expired after compaction") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tt").toString + "/stats"
    val docs = spark.createDataset(FixtureCorpus.fixtureDocs)
    val r1 = ExtractionPipeline.run(spark,
      docs.filter(d => SpanDoc.docOrd(d.doc_id) <= 6), persistIntermediate = false)
    Checkpointing.commit(r1.stats.toDF(), dir, "run1")
    val r2 = ExtractionPipeline.run(spark,
      Checkpointing.resumeFilter(spark, docs, dir), persistIntermediate = false)
    Checkpointing.commit(r2.stats.toDF(), dir, "run2")

    val snaps = Checkpointing.snapshots(dir)
    assert(snaps.map(_.seq) == Seq(1, 2))
    assert(snaps.head.rows == 6 && snaps.map(_.rows).sum == FixtureCorpus.fixtureDocs.size)
    val v1Ids = Checkpointing.readAt(spark, dir, 1)
      .select("doc_id").as[String].collect().toSet
    assert(v1Ids.size == 6 && v1Ids.forall(id => SpanDoc.docOrd(id) <= 6))
    assert(Checkpointing.readAt(spark, dir, 2).count()
      == FixtureCorpus.fixtureDocs.size)
    intercept[IllegalArgumentException](Checkpointing.readAt(spark, dir, 3))

    // incremental read: the (1,2] delta is exactly run2's rows
    val delta = Checkpointing.changesBetween(spark, dir, 1, 2)
      .select("doc_id").as[String].collect().toSet
    assert(delta.size == FixtureCorpus.fixtureDocs.size - 6)
    assert(delta.forall(id => SpanDoc.docOrd(id) > 6))

    // compaction logs a new snapshot; old versions are expired, loudly
    Checkpointing.compact(spark, dir, partitions = 1, runId = "c1")
    val after = Checkpointing.snapshots(dir)
    assert(after.last.seq == 3 && after.last.runId == "compact-c1")
    assert(Checkpointing.readAt(spark, dir, 3).count()
      == FixtureCorpus.fixtureDocs.size)
    val e = intercept[IllegalArgumentException](Checkpointing.readAt(spark, dir, 1))
    assert(e.getMessage.contains("expired"))
    // a delta range crossing the rebase must refuse, not silently rescan
    val e2 = intercept[IllegalArgumentException](
      Checkpointing.changesBetween(spark, dir, 1, 3))
    assert(e2.getMessage.contains("rebase"))

    // vacuum: crash debris (a data file no snapshot references) is removed,
    // committed data and time travel stay intact
    val orphan = new java.io.File(dir, "part-99999-crashed.snappy.parquet")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    val removed = Checkpointing.vacuum(dir)
    assert(removed == Seq(orphan.getName) && !orphan.exists())
    assert(Checkpointing.readAt(spark, dir, 3).count()
      == FixtureCorpus.fixtureDocs.size)
    assert(Checkpointing.vacuum(dir).isEmpty) // idempotent
  }

  test("upsert replaces matching rows, preserves history until vacuum") {
    import org.apache.spark.sql.functions.{col, upper}
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert").toString + "/stats"
    val docs = spark.createDataset(FixtureCorpus.fixtureDocs)
    val r = ExtractionPipeline.run(spark, docs, persistIntermediate = false)
    Checkpointing.commit(r.stats.toDF(), dir, "run1")
    val fixed = Checkpointing.readAt(spark, dir, 1)
      .filter(col("doc_id") === "1.f01_clean.pdf")
      .withColumn("publish_month", upper(col("publish_month")))
    val n = Checkpointing.upsert(fixed, dir, "refix")
    assert(n == FixtureCorpus.fixtureDocs.size) // new state, same cardinality
    // latest: the row is replaced, everything else untouched
    val v2 = Checkpointing.readAt(spark, dir, 2)
      .select("doc_id", "publish_month").as[(String, String)].collect().toMap
    assert(v2("1.f01_clean.pdf") == "DECEMBER 2024")
    assert(v2("2.f02_crosspage.pdf") == "March, 2021")
    // history: version 1 still shows the original (gentler than compact)
    val v1 = Checkpointing.readAt(spark, dir, 1)
      .select("doc_id", "publish_month").as[(String, String)].collect().toMap
    assert(v1("1.f01_clean.pdf") == "December 2024")
    // vacuum expires the pre-upsert files; v2 survives
    assert(Checkpointing.vacuum(dir).nonEmpty)
    intercept[IllegalArgumentException](Checkpointing.readAt(spark, dir, 1))
    assert(Checkpointing.readAt(spark, dir, 2).count()
      == FixtureCorpus.fixtureDocs.size)
  }

  test("expireSnapshots: bounded log, loud expired reads, live state intact") {
    import org.apache.spark.sql.functions.col
    def frame(lo: Long, hi: Long, mult: Long) =
      spark.range(lo, hi + 1)
        .select(col("id").as("doc_ord"), col("id").as("doc_id"),
          (col("id") * mult).as("temp"))
    // no full rebase yet: every delta is live state — nothing may expire
    val d1 = java.nio.file.Files.createTempDirectory("graft-exp1").toString + "/t"
    Checkpointing.commit(frame(1, 10, 3), d1, "a")
    Checkpointing.commit(frame(11, 20, 3), d1, "b")
    assert(Checkpointing.expireSnapshots(d1) == Nil)
    assert(Checkpointing.readAt(spark, d1, 2).count() == 20)
    // with a rebase: metadata below it expires outside the keepLast window
    val d2 = java.nio.file.Files.createTempDirectory("graft-exp2").toString + "/t"
    Checkpointing.commit(frame(1, 10, 3), d2, "a")
    Checkpointing.commit(frame(11, 20, 3), d2, "b")
    Checkpointing.upsert(frame(5, 15, 7), d2, "fix")
    Checkpointing.commit(frame(21, 30, 3), d2, "c")
    // keepLast=4 protects everything
    assert(Checkpointing.expireSnapshots(d2, keepLast = 4) == Nil)
    assert(Checkpointing.expireSnapshots(d2, keepLast = 2) == Seq("a", "b"))
    // expired reads fail at the METADATA level (files still on disk here)
    val e = intercept[IllegalArgumentException](Checkpointing.readAt(spark, d2, 1))
    assert(e.getMessage.contains("expired"))
    // the live stack is untouched and still exact
    val cur = Checkpointing.readAt(spark, d2, 4)
    assert(cur.count() == 30)
    assert(cur.filter(col("doc_ord") === 10).select("temp")
      .collect()(0).getLong(0) == 70)
    // incremental reads over the expired range refuse instead of gapping
    val e2 = intercept[IllegalArgumentException](
      Checkpointing.changesBetween(spark, d2, 0, 2))
    assert(e2.getMessage.contains("expired"))
    // idempotent
    assert(Checkpointing.expireSnapshots(d2, keepLast = 2) == Nil)
  }

  test("changesBetween and cdcBetween refuse the same bad ranges with the " +
      "same message") {
    import org.apache.spark.sql.functions.col
    def frame(lo: Long, hi: Long) =
      spark.range(lo, hi + 1)
        .select(col("id").as("doc_ord"), col("id").as("doc_id"))
    // seqs 1, 2 (expired below) | 3 full rebase | 4, 5 deltas
    val d = java.nio.file.Files.createTempDirectory("graft-range").toString + "/t"
    Checkpointing.commit(frame(1, 10), d, "a")
    Checkpointing.commit(frame(11, 20), d, "b")
    Checkpointing.upsert(frame(5, 15), d, "fix")
    Checkpointing.commit(frame(21, 30), d, "c")
    Checkpointing.commit(frame(31, 40), d, "e")
    assert(Checkpointing.expireSnapshots(d, keepLast = 2) == Seq("a", "b"))
    Seq(
      ("empty range", 3, 3, "bad range"),
      ("negative start", -1, 4, "bad range"),
      ("end past the head", 4, 6, "bad range"),
      ("expired seq inside", 0, 4, "has expired snapshots"),
      ("crosses a full rebase", 2, 4, "crosses a full rebase")
    ).foreach { case (what, from, to, want) =>
      val msgs = Seq(
        intercept[IllegalArgumentException](
          Checkpointing.changesBetween(spark, d, from, to)),
        intercept[IllegalArgumentException](
          Checkpointing.cdcBetween(spark, d, from, to))).map(_.getMessage)
      assert(msgs.distinct.size == 1, s"$what: $msgs")
      assert(msgs.head.contains(want), s"$what: ${msgs.head}")
    }
    // the deltas above the rebase still read through both
    assert(Checkpointing.changesBetween(spark, d, 3, 5).count() == 20)
    assert(Checkpointing.cdcBetween(spark, d, 3, 5).count() == 20)
  }

  test("tags: protect stacks from expiry/vacuum, block compact, loud edges") {
    import org.apache.spark.sql.functions.col
    def frame(lo: Long, hi: Long, mult: Long) =
      spark.range(lo, hi + 1)
        .select(col("id").as("doc_ord"), col("id").as("doc_id"),
          (col("id") * mult).as("temp"))
    val dir = java.nio.file.Files.createTempDirectory("graft-tags").toString + "/t"
    Checkpointing.commit(frame(1, 10, 3), dir, "a")
    // edges: unknown version, bad name, duplicate, missing drop/read
    intercept[IllegalArgumentException](Checkpointing.tag(dir, "x", 9))
    intercept[IllegalArgumentException](Checkpointing.tag(dir, "bad name", 1))
    Checkpointing.tag(dir, "gold", 1)
    intercept[IllegalArgumentException](Checkpointing.tag(dir, "gold", 1))
    intercept[IllegalArgumentException](Checkpointing.dropTag(dir, "nope"))
    intercept[IllegalArgumentException](Checkpointing.readTag(spark, dir, "nope"))
    // a tagged pre-rebase version survives expiry + vacuum and reads exact
    Checkpointing.upsert(frame(1, 10, 7), dir, "fix")
    assert(Checkpointing.expireSnapshots(dir, keepLast = 1) == Nil)
    Checkpointing.vacuum(dir)
    assert(Checkpointing.readTag(spark, dir, "gold")
      .agg(org.apache.spark.sql.functions.sum(col("temp")))
      .collect()(0).getLong(0) == 3 * 55)
    // compact refuses while tagged; after dropTag the lifecycle proceeds
    val e = intercept[IllegalArgumentException](
      Checkpointing.compact(spark, dir, 2, "c"))
    assert(e.getMessage.contains("dropTag"))
    Checkpointing.dropTag(dir, "gold")
    assert(Checkpointing.expireSnapshots(dir, keepLast = 1) == Seq("a"))
    Checkpointing.compact(spark, dir, 2, "c")
    assert(Checkpointing.readAt(spark, dir,
      Checkpointing.snapshots(dir).last.seq).count() == 10)
  }

  test("rollback: metadata-only restore; MoR delete and re-add stack on top; " +
      "expiry and vacuum keep the delegated stack") {
    import org.apache.spark.sql.functions.{col, sum}
    def frame(lo: Long, hi: Long, mult: Long) =
      spark.range(lo, hi + 1)
        .select(col("id").as("doc_ord"), col("id").as("doc_id"),
          (col("id") * mult).as("temp"))
    def tempSum(v: Int) = Checkpointing.readAt(spark, dir, v)
      .agg(sum(col("temp"))).collect()(0).getLong(0)
    lazy val dir = java.nio.file.Files
      .createTempDirectory("graft-rollback").toString + "/t"
    Checkpointing.commit(frame(1, 10, 3), dir, "a")   // v1
    Checkpointing.commit(frame(11, 15, 3), dir, "b")  // v2: ids 1..15
    Checkpointing.upsert(frame(1, 15, 7), dir, "bad") // v3: bad parser
    // metadata-only: one snapshot written, zero data files added
    val filesBefore = new java.io.File(dir).listFiles().map(_.getName).toSet
    intercept[IllegalArgumentException](Checkpointing.rollback(dir, 3, "no"))
    val v4 = Checkpointing.rollback(dir, 2, "revert")
    assert(v4 == 4)
    assert(new java.io.File(dir).listFiles().map(_.getName).toSet == filesBefore)
    assert(tempSum(4) == 3 * (1L to 15L).sum)  // restored state
    assert(tempSum(3) == 7 * (1L to 15L).sum)  // rolled-away history intact
    // post-rollback delete removes a RESURRECTED row (sequence rule holds
    // because the delegated stack keeps its original commit seqs)
    Checkpointing.deleteWhere(Seq(5L).toDF("doc_id"), dir, "td") // v5
    assert(Checkpointing.readAt(spark, dir, 5).count() == 14)
    // a re-add after that delete survives it
    Checkpointing.commit(frame(5, 5, 9), dir, "back") // v6
    assert(Checkpointing.readAt(spark, dir, 6).count() == 15)
    assert(tempSum(6) == 3 * (1L to 15L).sum - 15 + 45)
    assert(Checkpointing.changesBetween(spark, dir, 5, 6).count() == 1)
    // expiry keeps the delegated stack (seqs 1-2) the live state needs,
    // and expires exactly the rolled-away rebase
    assert(Checkpointing.expireSnapshots(dir, keepLast = 1) == Seq("bad"))
    intercept[IllegalArgumentException](Checkpointing.readAt(spark, dir, 3))
    assert(Checkpointing.readAt(spark, dir, 6).count() == 15)
    // rollback to an expired version refuses loudly
    intercept[IllegalArgumentException](Checkpointing.rollback(dir, 3, "no2"))
    // vacuum drops the rolled-away upsert's files, keeps delegated ones
    assert(Checkpointing.vacuum(dir).nonEmpty)
    assert(Checkpointing.readAt(spark, dir, 6).count() == 15)
    assert(tempSum(4) == 3 * (1L to 15L).sum)
  }

  test("readAt refuses a gapped snapshot stack (hand-deleted mid-stack metadata)") {
    import org.apache.spark.sql.functions.col
    def frame(lo: Long, hi: Long) =
      spark.range(lo, hi + 1)
        .select(col("id").as("doc_ord"), (col("id") * 3).as("temp"))
    val dir = java.nio.file.Files.createTempDirectory("graft-gap").toString + "/t"
    Checkpointing.commit(frame(1, 10), dir, "a")
    Checkpointing.commit(frame(11, 20), dir, "b")
    Checkpointing.commit(frame(21, 30), dir, "c")
    // simulate metadata corruption: delete the MID-stack delta's snapshot
    val mid = new java.io.File(dir + "_manifest").listFiles()
      .filter(f => f.getName.startsWith("snapshot-") &&
        f.getName.endsWith("-b.json"))
    assert(mid.length == 1); mid(0).delete()
    val e = intercept[IllegalArgumentException](Checkpointing.readAt(spark, dir, 3))
    assert(e.getMessage.contains("gaps"))
  }

  test("merge-on-read delete: scan-time removal, re-add survives, compact materializes") {
    import org.apache.spark.sql.functions.{col, upper}
    val dir = java.nio.file.Files.createTempDirectory("graft-mor").toString + "/stats"
    val docs = spark.createDataset(FixtureCorpus.fixtureDocs)
    val r = ExtractionPipeline.run(spark, docs, persistIntermediate = false)
    Checkpointing.commit(r.stats.toDF(), dir, "run1")
    val total = FixtureCorpus.fixtureDocs.size

    // delete two docs: no data file rewritten, rows gone at scan time
    val filesBefore = new java.io.File(dir).listFiles().map(_.getName).toSet
    val n = Checkpointing.deleteWhere(
      Seq("2.f02_crosspage.pdf", "5.f05_firstcol.pdf").toDF("doc_id"),
      dir, "takedown")
    assert(n == 2)
    assert(new java.io.File(dir).listFiles().map(_.getName).toSet == filesBefore)
    val v2 = Checkpointing.readAt(spark, dir, 2)
    assert(v2.count() == total - 2)
    assert(v2.filter(col("doc_id").startsWith("2.") ||
      col("doc_id").startsWith("5.")).count() == 0)
    // time travel: version 1 still shows all rows
    assert(Checkpointing.readAt(spark, dir, 1).count() == total)

    // guard rails: duplicate delete-set name, delete on an uncommitted dir
    intercept[IllegalArgumentException](Checkpointing.deleteWhere(
      Seq("9.f09_headervariants.pdf").toDF("doc_id"), dir, "takedown"))
    intercept[IllegalArgumentException](Checkpointing.deleteWhere(
      Seq("x").toDF("doc_id"), dir + "-nope", "t"))

    // re-extract doc 2 AFTER the delete: the new row must survive the
    // older delete set (sequence rule), doc 5 stays gone
    val redo = Checkpointing.readAt(spark, dir, 1)
      .filter(col("doc_id") === "2.f02_crosspage.pdf")
      .withColumn("publish_month", upper(col("publish_month")))
    Checkpointing.commit(redo, dir, "re2")
    val v3 = Checkpointing.readAt(spark, dir, 3)
    assert(v3.count() == total - 1)
    assert(v3.filter(col("doc_id") === "2.f02_crosspage.pdf")
      .select("publish_month").as[String].head() == "MARCH, 2021")

    // incremental read refuses the delete snapshot, accepts the re-add
    intercept[IllegalArgumentException](
      Checkpointing.changesBetween(spark, dir, 1, 2))
    assert(Checkpointing.changesBetween(spark, dir, 2, 3).count() == 1)

    // CDC read makes the delete consumable: the removed rows with their
    // ORIGINAL content at the delete's seq, the re-add as an insert
    val cdc = Checkpointing.cdcBetween(spark, dir, 1, 3)
    assert(cdc.filter(col("_change_type") === "delete").count() == 2)
    assert(cdc.filter(col("_change_type") === "delete" &&
      col("doc_id") === "2.f02_crosspage.pdf")
      .select("publish_month").as[String].head() == "March, 2021")
    assert(cdc.filter(col("_change_type") === "insert")
      .select("doc_id").as[String].collect().toSeq ==
      Seq("2.f02_crosspage.pdf"))
    // a mirror applying the changes lands at the upstream state
    assert(cdc.count() == 3)

    // vacuum must NOT touch a live delete set
    assert(!Checkpointing.vacuum(dir).exists(_.startsWith("_deletes/")))
    assert(Checkpointing.readAt(spark, dir, 3).count() == total - 1)

    // compact materializes the deletes and drops the sets
    Checkpointing.compact(spark, dir, partitions = 1, "c1")
    assert(!new java.io.File(s"${dir}_deletes").exists())
    // CDC refuses to cross the rebase (row change identity is gone there)
    intercept[IllegalArgumentException](
      Checkpointing.cdcBetween(spark, dir, 2, 4))
    val v4 = Checkpointing.readAt(spark, dir, 4)
    assert(v4.count() == total - 1)
    assert(v4.filter(col("doc_id") === "5.f05_firstcol.pdf").count() == 0)
    assert(v4.filter(col("doc_id") === "2.f02_crosspage.pdf")
      .select("publish_month").as[String].head() == "MARCH, 2021")
  }

  test("first commit into a pre-snapshot-era dir adopts the legacy files") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-legacy").toString + "/t"
    // a table written before the snapshot log existed: raw parquet only
    Seq(("a", 1L), ("b", 2L)).toDF("doc_id", "doc_ord")
      .coalesce(1).write.parquet(dir)
    assert(Checkpointing.snapshots(dir).isEmpty)
    // vacuum refuses it (would see every file as an orphan)
    intercept[IllegalArgumentException](Checkpointing.vacuum(dir))

    Checkpointing.commit(
      Seq(("c", 3L)).toDF("doc_id", "doc_ord").coalesce(1), dir, "new1")
    val snaps = Checkpointing.snapshots(dir)
    assert(snaps.map(_.runId) == Seq("legacy-adopt", "new1"))
    assert(snaps.head.rows == 2)
    // the committed truth now includes the legacy rows; vacuum keeps them
    assert(Checkpointing.readAt(spark, dir, 2).count() == 3)
    assert(Checkpointing.vacuum(dir).isEmpty)
    assert(Checkpointing.readAt(spark, dir, 2)
      .filter(col("doc_id") === "a").count() == 1)
  }

  test("crash debris does not count as committed: resume reprocesses it") {
    val dir = java.nio.file.Files.createTempDirectory("graft-debris").toString + "/stats"
    val docs = spark.createDataset(FixtureCorpus.fixtureDocs)
    val r1 = ExtractionPipeline.run(spark,
      docs.filter(d => SpanDoc.docOrd(d.doc_id) <= 6), persistIntermediate = false)
    Checkpointing.commit(r1.stats.toDF(), dir, "run1")
    // a second run "crashes" AFTER its parquet write but BEFORE logging
    // its snapshot: data files exist, the log says they never committed
    val r2 = ExtractionPipeline.run(spark,
      docs.filter(d => SpanDoc.docOrd(d.doc_id) == 7), persistIntermediate = false)
    r2.stats.toDF().write.mode("append").parquet(dir)
    assert(spark.read.parquet(dir).count() == 7) // debris IS in the dir...
    val pending = Checkpointing.resumeFilter(spark, docs, dir)
      .map(_.doc_id).collect().toSet
    // ...but doc 7 is still pending — the snapshot log is the commit truth
    assert(pending.exists(id => SpanDoc.docOrd(id) == 7L))
    assert(pending.size == FixtureCorpus.fixtureDocs.size - 6)
    // vacuum reconciles the directory with the log
    assert(Checkpointing.vacuum(dir).nonEmpty)
    assert(spark.read.parquet(dir).count() == 6)
  }
}

/** Manifest-stats file skipping (readRange/pruneInfo): the Iceberg
  * data-skipping analog — per-file doc_ord ranges recorded at commit time,
  * range scans planned over only the intersecting files. */
class FileSkippingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString + "/t"

  private def batch(ords: Range, parts: Int = 2) =
    spark.createDataset(ords.map(o => (s"doc-$o", o.toLong, s"payload-$o")))
      .toDF("doc_id", "doc_ord", "payload")
      .repartitionByRange(parts, col("doc_ord"))

  test("commit records per-file ord stats; narrow range skips disjoint files") {
    val dir = freshDir("skip")
    Checkpointing.commit(batch(0 until 100), dir, "b1")
    Checkpointing.commit(batch(100 until 200), dir, "b2")
    Checkpointing.commit(batch(200 until 300), dir, "b3")
    val snaps = Checkpointing.snapshots(dir)
    assert(snaps.size == 3)
    // every committed file carries a stat (2 range partitions per commit)
    assert(snaps.forall(s => s.stats.keySet == s.files.toSet))
    // a range inside b2 must not plan b1/b3 files
    val (kept, skipped) = Checkpointing.pruneInfo(dir, 3, 120, 130)
    assert(skipped.nonEmpty && kept.nonEmpty)
    assert((kept ++ skipped).toSet == snaps.flatMap(_.files).toSet)
    val b2Files = snaps.find(_.runId == "b2").get.files.toSet
    assert(kept.toSet.subsetOf(b2Files))
    val got = Checkpointing.readRange(spark, dir, 3, 120, 130)
      .select("doc_id").as[String].collect().toSet
    assert(got == (120 to 130).map(o => s"doc-$o").toSet)
  }

  test("poison proof: a skipped file can be garbage on disk — the range " +
      "read never opens it") {
    val dir = freshDir("skip-poison")
    Checkpointing.commit(batch(0 until 50), dir, "b1")
    Checkpointing.commit(batch(50 until 100), dir, "b2")
    val (kept, skipped) = Checkpointing.pruneInfo(dir, 2, 10, 20)
    assert(skipped.nonEmpty)
    skipped.foreach { n =>
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$n"),
        "not parquet at all".getBytes("UTF-8"))
    }
    // the pruned scan still works and is exact
    val got = Checkpointing.readRange(spark, dir, 2, 10, 20)
      .agg(org.apache.spark.sql.functions.count(col("doc_id")),
        org.apache.spark.sql.functions.sum(col("doc_ord")))
      .as[(Long, Long)].head()
    assert(got == ((11L, (10 to 20).sum.toLong)))
    // ...whereas a full readAt (which must open every file) fails
    intercept[Exception] {
      Checkpointing.readAt(spark, dir, 2).count()
    }
  }

  test("compaction clusters by doc_ord: rewritten files keep disjoint " +
      "ranges and stay prunable") {
    val dir = freshDir("skip-compact")
    // interleaved commits: each covers the WHOLE ord space, so pre-compact
    // stats can prune nothing for a mid-range scan
    Checkpointing.commit(
      batch(0 until 300, parts = 1).filter(col("doc_ord") % 2 === 0), dir, "ev")
    Checkpointing.commit(
      batch(0 until 300, parts = 1).filter(col("doc_ord") % 2 === 1), dir, "od")
    val (k0, s0) = Checkpointing.pruneInfo(dir, 2, 150, 160)
    assert(s0.isEmpty, "interleaved commits cannot be pruned")
    val (_, after, rows) = Checkpointing.compact(spark, dir, 3, "c1")
    assert(after == 3 && rows == 300)
    val last = Checkpointing.snapshots(dir).last
    assert(last.full && last.stats.size == 3)
    // clustered rewrite => disjoint per-file ranges => the same scan now
    // skips files
    val (k1, s1) = Checkpointing.pruneInfo(dir, last.seq, 150, 160)
    assert(s1.nonEmpty && k1.size < 3)
    val got = Checkpointing.readRange(spark, dir, last.seq, 150, 160)
      .count()
    assert(got == 11)
  }

  test("readRange still applies merge-on-read deletes") {
    val dir = freshDir("skip-mor")
    Checkpointing.commit(batch(0 until 100), dir, "b1")
    Checkpointing.deleteWhere(Seq("doc-42").toDF("doc_id"), dir, "td")
    val got = Checkpointing.readRange(spark, dir, 2, 40, 45)
      .select("doc_id").as[String].collect().toSet
    assert(got == Set("doc-40", "doc-41", "doc-43", "doc-44", "doc-45"))
  }

  test("upsert rebase carries fresh stats; stale pre-rebase stats do not " +
      "leak into pruning") {
    val dir = freshDir("skip-upsert")
    Checkpointing.commit(batch(0 until 100), dir, "b1")
    Checkpointing.upsert(
      Seq(("doc-7", 7L, "fixed")).toDF("doc_id", "doc_ord", "payload"),
      dir, "fix")
    val last = Checkpointing.snapshots(dir).last
    assert(last.full && last.stats.nonEmpty)
    assert(last.stats.keySet == last.files.toSet)
    val got = Checkpointing.readRange(spark, dir, last.seq, 5, 9)
      .select("doc_id", "payload").as[(String, String)].collect().toMap
    assert(got == Map("doc-5" -> "payload-5", "doc-6" -> "payload-6",
      "doc-7" -> "fixed", "doc-8" -> "payload-8", "doc-9" -> "payload-9"))
  }
}

/** Write-audit-publish (Iceberg WAP): stage a batch invisibly, audit the
  * would-be table, then publish (metadata-only promote) or abandon. */
class WapSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString + "/t"

  private def rows(ords: Range, tag: String = "payload") =
    spark.createDataset(ords.map(o => (s"doc-$o", o.toLong, s"$tag-$o")))
      .toDF("doc_id", "doc_ord", "payload")

  test("staged batch is invisible until publish; publish is metadata-only") {
    val dir = freshDir("wap")
    Checkpointing.commit(rows(0 until 10), dir, "base")
    Checkpointing.stage(rows(10 until 20), dir, "wap1")
    // invisible to every reader
    assert(Checkpointing.snapshots(dir).size == 1)
    assert(Checkpointing.readAt(spark, dir, 1).count() == 10)
    val pending = Checkpointing.resumeFilter(spark,
      spark.createDataset((0 until 20).map(o =>
        graft.layout.DocRow(s"doc-$o", Seq.empty))), dir)
    assert(pending.count() == 10) // staged docs still count as pending
    // the auditor sees the would-be table
    assert(Checkpointing.readStaged(spark, dir, "wap1").count() == 20)
    // publish: no data movement, one new snapshot, stats carried over
    val filesBefore = Option(new java.io.File(dir).listFiles()).get
      .map(_.getName).toSet
    Checkpointing.publish(dir, "wap1")
    val after = Option(new java.io.File(dir).listFiles()).get
      .map(_.getName).toSet
    assert(after == filesBefore)
    val last = Checkpointing.snapshots(dir).last
    assert(last.runId == "wap1" && last.rows == 10 && last.stats.nonEmpty)
    assert(Checkpointing.readAt(spark, dir, last.seq).count() == 20)
    assert(Checkpointing.staged(dir).isEmpty)
  }

  test("abandon drops the batch; the table never saw it; vacuum-safe while staged") {
    val dir = freshDir("wap-abandon")
    Checkpointing.commit(rows(0 until 10), dir, "base")
    Checkpointing.stage(rows(5 until 15, "dup"), dir, "bad")
    // audit: duplicate doc_ids vs the committed table -> reject
    val audited = Checkpointing.readStaged(spark, dir, "bad")
    val dups = audited.groupBy("doc_id").count().filter(col("count") > 1).count()
    assert(dups == 5)
    // vacuum while the audit is pending must NOT touch the staged files
    assert(Checkpointing.vacuum(dir).isEmpty)
    assert(Checkpointing.readStaged(spark, dir, "bad").count() == 20)
    val removed = Checkpointing.abandon(dir, "bad")
    assert(removed.nonEmpty)
    assert(Checkpointing.staged(dir).isEmpty)
    assert(Checkpointing.readAt(spark, dir, 1)
      .agg(org.apache.spark.sql.functions.sum(col("doc_ord")))
      .as[Long].head() == (0 until 10).sum)
    // nothing dangling: a second vacuum finds no orphans
    assert(Checkpointing.vacuum(dir).isEmpty)
  }

  test("publish crash window self-heals: stale marker cleaned, no double publish") {
    val dir = freshDir("wap-crash")
    Checkpointing.commit(rows(0 until 5), dir, "base")
    Checkpointing.stage(rows(5 until 8), dir, "w2")
    Checkpointing.publish(dir, "w2")
    // simulate the crash: re-create the marker as if deletion never ran
    val marker = java.nio.file.Paths.get(s"${dir}_manifest/staged-w2.json")
    java.nio.file.Files.writeString(marker,
      """{"run":"w2","rows":3,"files":[],"stats":{}}""")
    // staged() filters it; a re-publish is a no-op cleanup, not a dup
    assert(Checkpointing.staged(dir).isEmpty)
    assert(Checkpointing.publish(dir, "w2") == 3L)
    assert(!java.nio.file.Files.exists(marker))
    assert(Checkpointing.snapshots(dir).count(_.runId == "w2") == 1)
    // vacuum also clears a stale marker
    java.nio.file.Files.writeString(marker,
      """{"run":"w2","rows":3,"files":[],"stats":{}}""")
    assert(Checkpointing.vacuum(dir) == Seq("_manifest/staged-w2.json"))
  }

  test("compact refuses while a staged batch is undecided") {
    val dir = freshDir("wap-compact")
    Checkpointing.commit(rows(0 until 5), dir, "base")
    Checkpointing.stage(rows(5 until 8), dir, "w3")
    intercept[IllegalArgumentException](
      Checkpointing.compact(spark, dir, 1, "c"))
    Checkpointing.publish(dir, "w3")
    val (_, after, n) = Checkpointing.compact(spark, dir, 1, "c")
    assert(after == 1 && n == 8)
  }

  test("spec evolution: per-snapshot spec round-trips; cross-spec files " +
      "keep conservatively; readRangeBy equals the naive filtered read") {
    import spark.implicits._
    val dir = freshDir("spec-evo")
    def frame(lo: Long, hi: Long, off: Long) =
      spark.range(lo, hi + 1).select(col("id").as("doc_ord"))
        .withColumn("temp", (col("doc_ord") + off).cast("long"))
        .repartitionByRange(2, col("doc_ord"))
    Checkpointing.commit(frame(1, 50, 0), dir, "old")
    Checkpointing.commitWithSpec(frame(51, 100, 1000), dir, "new1", "temp")
    Checkpointing.commitWithSpec(frame(101, 150, 2000), dir, "new2", "temp")
    val snaps = Checkpointing.snapshots(dir)
    assert(snaps.map(_.spec) == Seq("doc_ord", "temp", "temp"))
    // predicate on temp: old-spec files kept conservatively, new2 pruned
    val (kept, skipped) = Checkpointing.pruneInfo(dir, 3, 1051L, 1100L, spec = "temp")
    val oldFiles = snaps.find(_.runId == "old").get.files.toSet
    val new2Files = snaps.find(_.runId == "new2").get.files.toSet
    assert(oldFiles.subsetOf(kept.toSet))
    assert(new2Files.subsetOf(skipped.toSet))
    // the pruned read returns exactly the naive filtered table
    val got = Checkpointing.readRange(spark, dir, 3, 1051L, 1100L, spec = "temp")
      .select("doc_ord").as[Long].collect().toSet
    assert(got == (51L to 100L).toSet)
    // predicate on doc_ord still prunes the doc_ord-spec files and keeps
    // the temp-spec files conservatively (symmetric direction)
    val (k2, s2) = Checkpointing.pruneInfo(dir, 3, 1L, 25L, spec = "doc_ord")
    assert(snaps.find(_.runId == "new1").get.files.toSet.subsetOf(k2.toSet))
    assert(s2.nonEmpty) // the second half of the old commit prunes
    // non-long spec column refused loudly
    intercept[IllegalArgumentException] {
      Checkpointing.commitWithSpec(
        frame(151, 160, 0).withColumn("s", lit("x")), dir, "bad", "s")
    }
  }

  test("runIds with quotes, backslashes and commas round-trip through the log") {
    val dir = freshDir("escape")
    val (c, st, d) = ("c\"1,\\x", "s\\\"2,", "d,\"3\\")
    Checkpointing.commit(rows(0 until 4), dir, c)
    Checkpointing.stage(rows(4 until 6), dir, st)
    assert(Checkpointing.staged(dir).map(_.runId) == Seq(st))
    Checkpointing.publish(dir, st)
    assert(Checkpointing.deleteWhere(rows(1 until 2), dir, d) == 1)
    assert(Checkpointing.staged(dir).isEmpty)
    assert(Checkpointing.snapshots(dir).map(_.runId) == Seq(c, st, d))
    assert(Checkpointing.history(spark, dir).select("run_id").as[String]
      .collect().toSeq == Seq(c, st, d))
    assert(Checkpointing.readAt(spark, dir, 3).count() == 5)
    // the rebase leaves all three below it: expiry must find their files
    Checkpointing.upsert(rows(0 until 1, "fix"), dir, "fix")
    assert(Checkpointing.expireSnapshots(dir) == Seq(c, st, d))
    assert(new java.io.File(dir + "_manifest").list()
      .filter(_.startsWith("snapshot-")).toSeq == Seq("snapshot-00004-fix.json"))
    assert(Checkpointing.readAt(spark, dir, 4).count() == 5)
  }

  test("stage/publish duplicate-run guards") {
    val dir = freshDir("wap-guards")
    Checkpointing.commit(rows(0 until 3), dir, "base")
    Checkpointing.stage(rows(3 until 6), dir, "w4")
    intercept[IllegalArgumentException](
      Checkpointing.stage(rows(6 until 9), dir, "w4"))
    intercept[IllegalArgumentException](
      Checkpointing.stage(rows(6 until 9), dir, "base"))
    intercept[IllegalArgumentException](
      Checkpointing.readStaged(spark, dir, "nope"))
    intercept[IllegalArgumentException](
      Checkpointing.abandon(dir, "nope"))
  }

  test("merge edges: insert-only merge stays delta-readable; unmatched " +
      "delete flag is a no-op; all-no-op and dup-source merges refuse") {
    import org.apache.spark.sql.functions.col
    val dir = freshDir("merge-edges")
    Checkpointing.commit(rows(0 until 4), dir, "c1")
    // insert-only: nothing matched, so NO tombstone set is logged — the
    // snapshot stays append-only and the incremental reader can consume it
    // (a merge that logged an empty delete set would permanently poison
    // changesBetween across this range)
    val (u0, d0, i0) = Checkpointing.merge(rows(10 until 12), dir, "m1")
    assert((u0, d0, i0) == ((0L, 0L, 2L)))
    assert(Checkpointing.changesBetween(spark, dir, 1, 2)
      .select("doc_ord").as[Long].collect().toSet == Set(10L, 11L))
    // a delete flag on an UNMATCHED source row is ignored (WHEN MATCHED
    // AND cond THEN DELETE — there is no committed row to delete), while
    // the matched row in the same call is updated
    val src = rows(1 until 2, tag = "fixed")
      .unionByName(rows(99 until 100))
    val (u1, d1, i1) = Checkpointing.merge(src, dir, "m2",
      deleteWhen = col("doc_ord") === 99L)
    assert((u1, d1, i1) == ((1L, 0L, 0L)))
    val latest = Checkpointing.readAt(spark, dir, 3)
    assert(latest.count() == 6) // updated row replaced, never duplicated
    assert(latest.filter(col("doc_ord") === 1L)
      .select("payload").as[String].head() == "fixed-1")
    assert(latest.filter(col("doc_ord") === 99L).count() == 0)
    // the update logged a tombstone, so the delta across m2 refuses
    // (append-only contract) while the m1 delta above still reads
    intercept[IllegalArgumentException](
      Checkpointing.changesBetween(spark, dir, 2, 3))
    // guards: all-no-op merge (only an unmatched delete-flagged row) and a
    // duplicate-id source both refuse BEFORE writing anything
    val snapsBefore = Checkpointing.snapshots(dir).size
    intercept[IllegalArgumentException](
      Checkpointing.merge(rows(50 until 51), dir, "m3",
        deleteWhen = col("doc_ord") === 50L))
    intercept[IllegalArgumentException](
      Checkpointing.merge(rows(60 until 61).unionByName(rows(60 until 61)),
        dir, "m4"))
    assert(Checkpointing.snapshots(dir).size == snapsBefore)
  }
}

/** The snapshot log's file format. Each golden record below was written by
  * the string-built writer the codec replaced; the codec must render the
  * same record byte for byte and read it back unchanged. */
class LogCodecSpec extends AnyFunSuite {
  import Checkpointing.{LogCodec, Snapshot, Staged}

  test("log records keep their on-disk format; old-shape snapshots read " +
      "with today's defaults") {
    val p = "part-00000-a529fcb9-f309-422b-9a58-0a82faa62cdc-c000.snappy.parquet"
    val q = "part-00000-d1d369ba-5c0a-4de2-90e3-6d4af1b60c7f-c000.snappy.parquet"
    val s0 = "part-00000-66b2caed-23c9-44d7-b7dd-9f4b27462010-c000.snappy.parquet"
    val s1 = "part-00001-66b2caed-23c9-44d7-b7dd-9f4b27462010-c000.snappy.parquet"
    val st = "part-00000-5aa4542c-aa2b-4ab3-bd16-d5ed84709bf8-c000.snappy.parquet"
    val snaps = Seq(
      "delta snapshot with stats" ->
        Snapshot(1, "r1", Seq(p), 5, full = false, stats = Map(p -> (1L, 5L))),
      "delta snapshot without stats" -> Snapshot(2, "r2", Seq(q), 3, full = false),
      "delete snapshot" ->
        Snapshot(3, "del1", Nil, 1, full = false, deletes = Seq("del1")),
      "rollback snapshot" ->
        Snapshot(4, "rb1", Nil, 0, full = true, rollbackOf = Some(2)),
      "two files under an evolved spec" -> Snapshot(1, "two", Seq(s0, s1), 10,
        full = false, stats = Map(s1 -> (10L, 90L), s0 -> (40L, 100L)),
        spec = "s"))
    val golden = Seq(
      """{"seq":1,"run":"r1","rows":5,"full":false,"spec":"doc_ord","deletes":[],"files":["part-00000-a529fcb9-f309-422b-9a58-0a82faa62cdc-c000.snappy.parquet"],"stats":{"part-00000-a529fcb9-f309-422b-9a58-0a82faa62cdc-c000.snappy.parquet":[1,5]}}""",
      """{"seq":2,"run":"r2","rows":3,"full":false,"spec":"doc_ord","deletes":[],"files":["part-00000-d1d369ba-5c0a-4de2-90e3-6d4af1b60c7f-c000.snappy.parquet"],"stats":{}}""",
      """{"seq":3,"run":"del1","rows":1,"full":false,"spec":"doc_ord","deletes":["del1"],"files":[],"stats":{}}""",
      """{"seq":4,"run":"rb1","rows":0,"full":true,"rollback_of":2,"spec":"doc_ord","deletes":[],"files":[],"stats":{}}""",
      """{"seq":1,"run":"two","rows":10,"full":false,"spec":"s","deletes":[],"files":["part-00000-66b2caed-23c9-44d7-b7dd-9f4b27462010-c000.snappy.parquet","part-00001-66b2caed-23c9-44d7-b7dd-9f4b27462010-c000.snappy.parquet"],"stats":{"part-00000-66b2caed-23c9-44d7-b7dd-9f4b27462010-c000.snappy.parquet":[40,100],"part-00001-66b2caed-23c9-44d7-b7dd-9f4b27462010-c000.snappy.parquet":[10,90]}}""")
    snaps.zip(golden).foreach { case ((what, s), g) =>
      assert(LogCodec.snapshot(s) == g, what)
      assert(LogCodec.readSnapshot(g) == s, what)
    }

    val staged = Staged("st1", Seq(st), 2, Map(st -> (9L, 10L)))
    val stagedGolden = """{"run":"st1","rows":2,"files":["part-00000-5aa4542c-aa2b-4ab3-bd16-d5ed84709bf8-c000.snappy.parquet"],"stats":{"part-00000-5aa4542c-aa2b-4ab3-bd16-d5ed84709bf8-c000.snappy.parquet":[9,10]}}"""
    assert(LogCodec.staged(staged) == stagedGolden)
    assert(LogCodec.readStaged(stagedGolden) == staged)
    assert(LogCodec.tag("v1", 1) == """{"name":"v1","seq":1}""")
    assert(LogCodec.readTag("""{"name":"v1","seq":1}""") == ("v1" -> 1))
    assert(LogCodec.branchBase("audit", 4) == """{"name":"audit","base_seq":4}""")
    assert(LogCodec.readBranchBase("""{"name":"audit","base_seq":4}""") == 4)
    assert(LogCodec.compaction("k1", 2, 1, 6) ==
      """{"run":"k1","files_before":2,"files_after":1,"rows":6}""")
    assert(LogCodec.manifestLine("r1", 0, 5, Some((1L, 5L))) ==
      """{"run":"r1","partition":0,"rows":5,"min_doc_ord":1,"max_doc_ord":5}""")
    assert(LogCodec.manifestLine("r2", 0, 3, None) ==
      """{"run":"r2","partition":0,"rows":3,"min_doc_ord":null,"max_doc_ord":null}""")

    // snapshots from before deletes, stats, spec evolution and rollback
    // carry none of those keys; keys a later writer adds are ignored
    Seq(
      """{"seq":7,"run":"old","rows":3,"full":false,"files":["a.parquet","b.parquet"]}""" ->
        Snapshot(7, "old", Seq("a.parquet", "b.parquet"), 3, full = false),
      """{"seq":8,"run":"oldest","rows":0,"files":[]}""" ->
        Snapshot(8, "oldest", Nil, 0, full = false),
      """{"seq":9,"run":"new","rows":1,"full":true,"files":["c"],"commit":{"ms":5}}""" ->
        Snapshot(9, "new", Seq("c"), 1, full = true)
    ).foreach { case (text, want) =>
      assert(LogCodec.readSnapshot(text) == want, text)
    }
    intercept[IllegalArgumentException](
      LogCodec.readSnapshot("""{"seq":1,"rows":0,"files":[]}"""))
  }
}
