package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.layout.{Boilerplate, ContextExtractor, CrossPage, FixtureCorpus, HtmlFixtures, SemanticMatch, SpanDoc, TableDetector, TableFinder}
import graft.pipeline.{Checkpointing, ExtractionPipeline}
import Oracles.monthSql

/** Driver-facing queries over the deterministic fixture corpus (the
  * extraction pipeline's own inputs — the driver's TPC-H-ish tables carry no
  * span documents, so the corpus is synthesized in-code; see FIXTURES.md).
  *
  * Oracles: x04 re-derives the publish month from the raw page-1 texts with
  * a pure-SQL regex chain (real independent logic); the others are
  * hand-reviewed golden VALUES pinned from the verified pipeline output
  * (golden tests — the fixture corpus is frozen, so any behavior drift
  * breaks the compare; they are [[FixtureGoldens]]). Each [[Query]] holds
  * its Spark plan and its oracle.
  */
object Fixture {
  // the pipeline is pure and the corpus fixed; memoize per session
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, ExtractionPipeline.Result]()

  def result(spark: SparkSession): ExtractionPipeline.Result =
    cache.computeIfAbsent(spark, s => {
      import s.implicits._
      ExtractionPipeline.run(s, s.createDataset(FixtureCorpus.fixtureDocs))
    })

  /** The committed-stats projection the lifecycle queries return
    * (x01's columns). */
  private def statCols(stats: DataFrame): DataFrame = stats.select(
    col("doc_id"), col("page_size"), col("criterion_tables_count"),
    col("merged_tables_count"), col("merged_rows_count"),
    col("merged_table_start_page"), col("merged_table_end_page"),
    col("publish_month"))

  /** The two-run stats table at `dir`: docs 1..9 committed as `run1`,
    * then the rest, found by `resumeFilter`, as `run2`. */
  private def twoRunStats(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    val docs = s.createDataset(FixtureCorpus.fixtureDocs)
    val r1 = ExtractionPipeline.run(s,
      docs.filter(d => SpanDoc.docOrd(d.doc_id) <= 9), persistIntermediate = false)
    Checkpointing.commit(r1.stats.toDF(), dir, "run1")
    val r2 = ExtractionPipeline.run(s,
      Checkpointing.resumeFilter(s, docs, dir), persistIntermediate = false)
    Checkpointing.commit(r2.stats.toDF(), dir, "run2")
    ()
  }

  /** The real extracted span sequence in long format (x05's frame). */
  private def fixtureSpans(s: SparkSession): DataFrame =
    result(s).outSpans.toDF().select(
      col("doc_id"), col("ord"), col("kind"), col("text"), col("media_ref"))

  /** Deterministic 5-way perturbation of a span frame — the synthetic
    * "extraction code change" x69/x71 must detect. Per doc_ord % 5:
    * 1 = text mutated at ord 2, 2 = last span dropped, 3 = span injected
    * after the last, 4 = kind+media_ref flipped at ord 1, 0 = unchanged.
    * Replayed in SQL by the shared x69 oracle. */
  private def perturbedSpans(base: DataFrame): DataFrame = {
    val d = base
      .withColumn("m", pmod(
        regexp_extract(col("doc_id"), "^(\\d+)", 1).cast("int"), lit(5)))
      .withColumn("mx", max(col("ord")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
    val kept = d.filter(!(col("m") === 2 && col("ord") === col("mx")))
      .select(col("doc_id"), col("ord"),
        when(col("m") === 4 && col("ord") === 1, lit("media"))
          .otherwise(col("kind")).as("kind"),
        when(col("m") === 1 && col("ord") === 2,
          concat(col("text"), lit(" [MUTATED]")))
          .otherwise(col("text")).as("text"),
        when(col("m") === 4 && col("ord") === 1, lit("mX"))
          .otherwise(col("media_ref")).as("media_ref"))
    val injected = d.filter(col("m") === 3 && col("ord") === col("mx"))
      .select(col("doc_id"), (col("ord") + 1).as("ord"),
        lit("text").as("kind"), lit("INJECTED").as("text"),
        lit(null).cast("string").as("media_ref"))
    kept.unionByName(injected)
  }

  /** Long span frame -> the north-rule nested shape
    * (doc_id, spans:array<struct<ord,kind,text,media_ref>>). */
  private def nestSpans(df: DataFrame): DataFrame =
    df.groupBy("doc_id").agg(
      array_sort(collect_list(struct(col("ord"), col("kind"),
        col("text"), col("media_ref")))).as("spans"))

  /** Inverse of [[nestSpans]]. */
  private def unnestSpans(df: DataFrame): DataFrame = df
    .select(col("doc_id"), explode(col("spans")).as("sp"))
    .select(col("doc_id"), col("sp.ord").as("ord"),
      col("sp.kind").as("kind"), col("sp.text").as("text"),
      col("sp.media_ref").as("media_ref"))

  /** Shared x69/x71 oracle: the perturbation AND the diff replayed over
    * the x05 goldens. IS DISTINCT FROM mirrors Spark's null-safe <=> on
    * each field; the kind > media_ref > text priority matches spanDiff's.
    * x71 reuses it verbatim — the committed-table round trip (nest,
    * commit, upsert, time travel, unnest) must not move a single span. */
  private lazy val spanDiffOracleSql: String =
    s"""WITH base AS (${FixtureGoldens.fixtureSpans}),
       |d AS (
       |  SELECT base.*,
       |    CAST(regexp_extract(doc_id, '^(\\d+)', 1) AS INT) % 5 AS m,
       |    max(ord) OVER (PARTITION BY doc_id) AS mx
       |  FROM base),
       |cand AS (
       |  SELECT doc_id, ord,
       |    CASE WHEN m = 4 AND ord = 1 THEN 'media' ELSE kind END AS kind,
       |    CASE WHEN m = 1 AND ord = 2 THEN text || ' [MUTATED]'
       |         ELSE text END AS text,
       |    CASE WHEN m = 4 AND ord = 1 THEN 'mX' ELSE media_ref END
       |      AS media_ref
       |  FROM d WHERE NOT (m = 2 AND ord = mx)
       |  UNION ALL
       |  SELECT doc_id, mx + 1, 'text', 'INJECTED', NULL
       |  FROM d WHERE m = 3 AND ord = mx),
       |j AS (
       |  SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
       |    coalesce(b.ord, c.ord) AS ord,
       |    CASE WHEN c.doc_id IS NULL THEN 'missing'
       |         WHEN b.doc_id IS NULL THEN 'extra'
       |         WHEN b.kind IS DISTINCT FROM c.kind THEN 'kind'
       |         WHEN b.media_ref IS DISTINCT FROM c.media_ref
       |           THEN 'media_ref'
       |         WHEN b.text IS DISTINCT FROM c.text THEN 'text' END AS dk,
       |    CASE WHEN b.doc_id IS NULL THEN 0 ELSE 1 END AS pa,
       |    CASE WHEN c.doc_id IS NULL THEN 0 ELSE 1 END AS pb
       |  FROM base b FULL OUTER JOIN cand c
       |    ON b.doc_id = c.doc_id AND b.ord = c.ord),
       |agg AS (
       |  SELECT doc_id,
       |    min(CASE WHEN dk IS NOT NULL THEN ord END) AS fd,
       |    CAST(sum(pa) AS BIGINT) AS n_spans_base,
       |    CAST(sum(pb) AS BIGINT) AS n_spans_new
       |  FROM j GROUP BY 1)
       |SELECT a.doc_id, a.fd IS NULL AS equal,
       |  a.fd AS first_diff_ord, j.dk AS diff_kind,
       |  a.n_spans_base, a.n_spans_new
       |FROM agg a LEFT JOIN j ON j.doc_id = a.doc_id AND j.ord = a.fd"""
      .stripMargin

  /** The PDF round-trip corpus: clean single-table, cross-page, and media
    * docs — the three span-grammar shapes the PDF renderer must carry. */
  private def pdfDocs: Vector[graft.layout.DocRow] =
    Vector(FixtureCorpus.f01, FixtureCorpus.f02, FixtureCorpus.f11)

  /** VALUES literal of the INPUT span definitions for [[pdfDocs]] —
    * independent of the parser, so x23 is a genuine round-trip oracle. */
  private def pdfSpanValues: String = {
    def q(s: String): String =
      if (s == null) "NULL" else "'" + s.replace("'", "''") + "'"
    pdfDocs.flatMap { d =>
      d.spans.map(sp =>
        s"(${q(d.doc_id)}, ${sp.offset}, ${q(sp.kind)}, ${q(sp.text)}, ${q(sp.media_ref)})")
    }.mkString(",\n  ")
  }

  /** Deterministic 3-dim "embedding" for x40: integer count profile
    * (tokens, vowels, chars). Integer components keep the cosine doubles
    * bit-identical between Spark's fold and DuckDB's expression. */
  private def blockVec(t: String): (Long, Long, Long) = {
    val toks = t.trim.toLowerCase.split("\\W+").count(_.nonEmpty)
    val vowels = t.count(ch => "aeiouAEIOU".indexOf(ch.toInt) >= 0)
    (toks.toLong, vowels.toLong, t.length.toLong)
  }

  /** Every (doc_id, page, trimmed nonempty text-block) of the fixture
    * corpus — the block universe the semantic flows score. */
  private def semanticBlocks: Vector[(String, Int, String)] =
    FixtureCorpus.fixtureDocs.toVector.flatMap { d =>
      SpanDoc.pages(d.spans).flatMap { p =>
        p.spans.filter(sp => sp.kind == "text" && sp.text.trim.nonEmpty)
          .map(sp => (d.doc_id, p.number, sp.text.trim))
      }
    }

  /** VALUES literal of (doc_id, page, text, v1, v2, v3) for x40's oracle —
    * derived from the INPUT corpus + the pure count functions, so DuckDB
    * replays the scoring flow on independent plumbing. */
  private def semanticVecValues: String = {
    def q(s: String): String = "'" + s.replace("'", "''") + "'"
    semanticBlocks.map { case (id, page, t) =>
      val (a, b, c) = blockVec(t)
      s"(${q(id)}, $page, ${q(t)}, $a, $b, $c)"
    }.mkString(",\n  ")
  }

  /** VALUES literal of (doc_id, page-1 text) straight from the INPUT corpus
    * — independent of the pipeline, so x04 is a genuine logic oracle. */
  private def page1Values: String = {
    def q(s: String): String =
      if (s == null) "NULL" else "'" + s.replace("'", "''") + "'"
    FixtureCorpus.fixtureDocs.map { d =>
      s"(${q(d.doc_id)}, ${q(SpanDoc.firstPageText(SpanDoc.pages(d.spans)))})"
    }.mkString(",\n  ")
  }

  /** VALUES literal of the raw HTML fixture corpus — again straight from
    * the INPUT, so x19's oracle re-runs the strip logic independently. */
  private def htmlValues: String = {
    def q(s: String): String = "'" + s.replace("'", "''") + "'"
    HtmlFixtures.docs.map(d => s"(${q(d.doc_id)}, ${q(d.html)})").mkString(",\n  ")
  }

  /** The 12 fixture images (8 base, 4 pixel-perturbed) as (doc_id =
    * media_id, sig = aHash): the input of x60 and x61. */
  private def imageSigs(s: SparkSession): DataFrame = graft.ops.Multimodal.imageAHash(
      graft.ops.Multimodal.fixtureImages(s).union(graft.ops.Multimodal.perturbedFixtureImages(s)))
    .select(col("media_id").as("doc_id"), col("ahash").as("sig"))

  /** The 12 fixture clips (8 base, 4 loudness-perturbed) as (doc_id =
    * media_id, sig = fingerprint): the input of x83 and x85. */
  private def audioSigs(s: SparkSession): DataFrame = graft.ops.Multimodal.audioFingerprint(
      graft.ops.Multimodal.fixtureAudio(s).union(graft.ops.Multimodal.perturbedFixtureAudio(s)))
    .select(col("media_id").as("doc_id"), col("afp").as("sig"))

  /** 20 interleaved docs x 3 media slots as (doc_id, ord, media_id); the
    * slot formula, which the oracles of x61, x63 and x85 replay, picks
    * one of `ids`. */
  private def interleavedSpans(s: SparkSession, ids: Seq[Long]): DataFrame =
    s.range(20L).select(col("id").as("doc_id"))
      .select(col("doc_id"), explode(array((0 until 3).map(lit): _*)).as("ord"))
      .withColumn("media_id", element_at(array(ids.map(lit): _*),
        (pmod(col("doc_id") * 5 + col("ord") * 3, lit(ids.size)) + 1).cast("int")))

  /** Each span's media rewritten to the canonical (min) id of its class
    * of near-duplicate `pairs`: the asset dedup of x61 and x85. */
  private def canonicalMedia(spans: DataFrame, pairs: DataFrame): DataFrame = {
    val clusters = graft.ops.Components.connectedComponentsStar(pairs, "doc_a", "doc_b")
    spans.join(clusters.withColumnRenamed("id", "media_id"), Seq("media_id"), "left")
      .select(col("doc_id"), col("ord"), col("media_id"),
        coalesce(col("component"), col("media_id")).as("canonical_id"))
  }

  /** The x60 aHash replay (pixel formula -> downsample -> gray bits ->
    * HUGEINT signature), shared by the x60 and x61 oracles. */
  private lazy val imageSigSql: String =
    """imgs AS (
        |  SELECT 100 + id AS media_id, CAST(id AS INTEGER) AS id, 0 AS pert
        |  FROM (SELECT CAST(i AS INTEGER) AS id FROM range(0,8) t(i))
        |  UNION ALL
        |  SELECT 200 + id, CAST(id AS INTEGER), 1
        |  FROM (SELECT CAST(i AS INTEGER) AS id FROM range(0,4) t(i))),
        |cells AS (SELECT CAST(i AS INTEGER) AS c FROM range(0,8) t(i)),
        |px AS (
        |  SELECT media_id, id, pert, cx.c AS x, cy.c AS y,
        |    (cx.c*(16+id))//8 AS sx, (cy.c*(12+id))//8 AS sy
        |  FROM imgs, cells cx, cells cy),
        |gr AS (
        |  SELECT media_id, y*8+x AS bit,
        |    ((sx*7 + sy*13 + id*31) % 256
        |       + CASE WHEN pert = 1 AND (sx+sy) % 13 = 0 THEN 3 ELSE 0 END) % 256
        |    + (sx*3 + sy*5 + id*17) % 256
        |    + (sx*11 + sy*2 + id*23) % 256 AS g
        |  FROM px),
        |tot AS (SELECT media_id, sum(g) AS total FROM gr GROUP BY 1),
        |sig AS (
        |  SELECT g.media_id,
        |    CAST(sum(CASE WHEN g.g*64 > t.total
        |         THEN CAST(CAST(1 AS HUGEINT) << g.bit AS HUGEINT)
        |         ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS sigu
        |  FROM gr g JOIN tot t USING (media_id) GROUP BY 1),
        |s2 AS (
        |  SELECT media_id,
        |    CAST(CASE WHEN sigu >= (CAST(1 AS HUGEINT) << 63)
        |         THEN sigu - (CAST(1 AS HUGEINT) << 64) ELSE sigu END AS BIGINT)
        |      AS sig
        |  FROM sig)""".stripMargin

  /** The x82/x83 sample replay (Knuth-multiplicative-hash waveform +
    * frame-loudness perturbation), shared by both audio oracles — the
    * audio analog of [[imageSigSql]]. */
  private lazy val audioSampleSql: String =
    """clips AS (
      |  SELECT 500 + id AS media_id, id, 0 AS pert
      |  FROM (SELECT CAST(i AS BIGINT) AS id FROM range(0,8) t(i))
      |  UNION ALL
      |  SELECT 600 + id, id, 1
      |  FROM (SELECT CAST(i AS BIGINT) AS id FROM range(0,4) t(i))),
      |par AS (
      |  SELECT media_id, id, pert, 4096 + id*512 AS ns, 64 + id*8 AS hop
      |  FROM clips),
      |samp AS (
      |  SELECT media_id, ns, n, n // hop AS f,
      |    ((((n * 2654435761 + id * 1013904223) // 4096) % 4096) - 2048) * 13
      |      + CASE WHEN pert = 1 AND ((n // hop) % 23) = 0
      |        THEN 3000 ELSE 0 END AS s
      |  FROM par, (SELECT CAST(i AS BIGINT) AS n FROM range(0,7680) t(i))
      |  WHERE n < ns)""".stripMargin

  /** [[audioSampleSql]] extended to the 64-bit energy-delta fingerprint
    * (frame energies, strict neighbor comparison, HUGEINT bit assembly,
    * signed fold) — shared by the x83 and x85 oracles the way
    * [[imageSigSql]] serves x60/x61. */
  private lazy val audioSigSql: String =
    s"""$audioSampleSql,
       |en AS (SELECT media_id, f, sum(abs(s)) AS e FROM samp GROUP BY 1, 2),
       |bits AS (
       |  SELECT a.media_id, CAST(a.f AS INTEGER) AS bit
       |  FROM en a JOIN en b ON a.media_id = b.media_id
       |    AND b.f = (a.f + 1) % 64
       |  WHERE a.e > b.e),
       |sigu AS (
       |  SELECT media_id,
       |    sum(CAST(CAST(1 AS HUGEINT) << bit AS HUGEINT)) AS sigu
       |  FROM bits GROUP BY 1),
       |sig AS (
       |  SELECT c.media_id,
       |    CAST(CASE WHEN u.sigu IS NULL THEN 0
       |         WHEN u.sigu >= (CAST(1 AS HUGEINT) << 63)
       |         THEN u.sigu - (CAST(1 AS HUGEINT) << 64)
       |         ELSE u.sigu END AS BIGINT) AS sig
       |  FROM clips c LEFT JOIN sigu u USING (media_id))""".stripMargin

  /** The INPUT span definitions of [[pdfDocs]]: the oracle of x23, x34
    * and x35, each a genuine round trip through PDF bytes. */
  private lazy val pdfSpansSql: String =
    s"""WITH spans(doc_id, ord, kind, text, media_ref) AS (VALUES
       |  $pdfSpanValues)
       |SELECT doc_id, ord, kind, text, media_ref FROM spans""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("x01_fixture_stats", ((s, _) =>
      result(s).stats.toDF().transform(statCols)),
      FixtureGoldens.fixtureStats),
    Query("x02_fixture_corpus", ((s, _) =>
      result(s).corpus.select(
        col("doc_ord"), col("row_idx"), col("Criterion"), col("FileName"),
        col("Rating"), col("SummaryAssessment"))),
      FixtureGoldens.fixtureCorpus),
    Query("x03_fixture_pivot", ((s, _) => result(s).pivot),
      FixtureGoldens.fixturePivot),
    Query("x04_fixture_month", ((s, _) =>
      result(s).stats.toDF().select(col("doc_id"), col("publish_month"))),
      s"""WITH page1(doc_id, text) AS (VALUES
         |  $page1Values)
         |SELECT doc_id, ${monthSql("text")} AS publish_month FROM page1""".stripMargin),
    Query("x05_fixture_spans", ((s, _) =>
      result(s).outSpans.toDF().select(
        col("doc_id"), col("ord"), col("kind"), col("text"), col("media_ref"))),
      FixtureGoldens.fixtureSpans),
    Query("x06_fixture_candidates", ((s, _) => {
      import s.implicits._
      // P4 body + P5 bbox + P6 bold positions, per candidate (the fields
      // the reference persists on target_table rows, src/models.py:37-51)
      result(s).candidates
        .map(graft.streaming.StreamExtract.candidateRow)
        .toDF("doc_id", "page", "n_rows", "headers",
          "x0", "y0", "x1", "y1", "bold_cells")
    }),
      FixtureGoldens.fixtureCandidates),
    // the same extraction as a two-batch Structured Streaming append query
    // — stateless per doc, so the appended union must equal x06 exactly
    // (shared golden oracle)
    Query("x28_stream_candidates", ((s, _) =>
      graft.streaming.StreamExtract.replayCandidates(s, FixtureCorpus.fixtureDocs)),
      // streaming extraction must append exactly the batch candidate rows
      FixtureGoldens.fixtureCandidates),
    // P7 caption + P8 header-region, for EVERY detected table on every page
    // (not just criterion candidates — the v1 capability is table-agnostic,
    // table_finder.py:92-114,160-188)
    Query("x07_fixture_context", ((s, _) => {
      import s.implicits._
      s.createDataset(FixtureCorpus.fixtureDocs).flatMap { d =>
        SpanDoc.pages(d.spans).flatMap { p =>
          TableDetector.findTables(p).zipWithIndex.map { case (t, i) =>
            (d.doc_id, p.number, i,
              ContextExtractor.precedingText(p, t),
              ContextExtractor.headerRegion(p, t).mkString("|"))
          }
        }
      }.toDF("doc_id", "page", "tbl_idx", "caption", "header_region")
    }),
      FixtureGoldens.fixtureContext),
    // M4-M7: the v1 cross-page spanning-table state machine per document
    // (parse_table.py:203-264)
    Query("x08_fixture_spanning", ((s, _) => {
      import s.implicits._
      s.createDataset(FixtureCorpus.fixtureDocs).flatMap { d =>
        CrossPage.extractSpanningTables(SpanDoc.pages(d.spans)).zipWithIndex.map {
          case (t, i) =>
            (d.doc_id, i, t.pageNumbers.mkString(","), t.content.length,
              if (t.content.nonEmpty) t.content.head.length else 0, t.isSpanning)
        }
      }.toDF("doc_id", "tbl_idx", "pages", "n_rows", "n_cols", "is_spanning")
    }),
      FixtureGoldens.fixtureSpanning),
    // P10/P11: semantic best-block match with threshold gate
    // (parse_text.py:32-103; confidence in integer basis points)
    Query("x09_fixture_semantic", ((s, _) => {
      import s.implicits._
      s.createDataset(FixtureCorpus.fixtureDocs).flatMap { d =>
        SemanticMatch.findSummaryText(SpanDoc.pages(d.spans)).map { m =>
          (d.doc_id, m.page, math.floor(m.confidence * 10000).toLong, m.text)
        }
      }.toDF("doc_id", "page", "confidence_bp", "text")
    }),
      FixtureGoldens.fixtureSemantic),
    // P10 embedding seam DRIVER-VISIBLE: deterministic integer-count
    // vectors (token/vowel/char counts) stand in for a real model; the
    // flow is the production one (vector join + Similarity.cosine +
    // single-aggregation argmax). The oracle replays join+cosine+argmax
    // INDEPENDENTLY in DuckDB over a VALUES table derived from the input
    // corpus — integer vector components make the doubles bit-identical.
    Query("x40_semantic_embedded", ((s, _) => {
      import s.implicits._
      val docs = s.createDataset(FixtureCorpus.fixtureDocs)
      val emb = semanticBlocks.map { case (_, _, t) =>
        val (a, b, c) = blockVec(t)
        (t, Seq(a.toDouble, b.toDouble, c.toDouble))
      }.distinct.toDF("text", "vector")
      val (ta, tb, tc) = blockVec(SemanticMatch.DefaultTarget)
      SemanticMatch.findSummaryTextEmbedded(docs, emb,
        Seq(ta.toDouble, tb.toDouble, tc.toDouble))
    }),
      // independent replay of the embedding-seam flow: join + cosine +
      // per-doc argmax + threshold, in pure SQL over INPUT-derived VALUES
      {
        val (ta, tb, tc) = blockVec(SemanticMatch.DefaultTarget)
        s"""WITH blocks(doc_id, page, text, v1, v2, v3) AS (VALUES
         |  $semanticVecValues),
         |scored AS (
         |  SELECT doc_id, page, text,
         |    (v1*$ta + v2*$tb + v3*$tc) /
         |      (sqrt(v1*v1 + v2*v2 + v3*v3) * sqrt(${ta * ta} + ${tb * tb} + ${tc * tc})) AS score
         |  FROM blocks),
         |ranked AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY score DESC, page ASC, text DESC) AS rn
         |  FROM scored)
         |SELECT doc_id, page, CAST(floor(score * 10000) AS BIGINT) AS confidence_bp, text
         |FROM ranked WHERE rn = 1 AND score >= 0.5""".stripMargin
      }),
    // multimodal metadata decode: stub-container rows (audio/video codecs
    // absent in this env) UNIONED with real PNG fixtures decoded through
    // javax.imageio (media_id 100+; their width/height/payload_bytes come
    // out of the actual codec, and the golden VALUES derive them from the
    // fixture spec — pixel-level truth is x53)
    Query("x10_multimodal_meta", ((s, _) => {
      val stub = graft.ops.Multimodal.metaFrame(graft.ops.Multimodal.synthCorpus(s, 48))
      val real = graft.ops.Multimodal.metaFrame(graft.ops.Multimodal.fixtureImages(s))
      stub.unionByName(real)
        .select(col("media_id"), col("doc_id"), col("kind"), col("width"),
          col("height"), col("frames"), col("payload_bytes"), col("aspect_milli"))
    }),
      FixtureGoldens.multimodalMeta),
    // REAL image decode, pixel-level: bytes -> JDK PNG codec -> channel
    // sums; the oracle replays the pixel FORMULA in SQL (no codec), so a
    // decoder bug (stride, channel order, color model) breaks the hash
    Query("x53_image_pixel_stats", ((s, _) =>
      graft.ops.Multimodal.imageStats(graft.ops.Multimodal.fixtureImages(s)).toDF()
        .select(col("media_id"), col("width"), col("height"),
          col("sum_r"), col("sum_g"), col("sum_b"))),
      // x53: the pixel FORMULA replayed in SQL — Spark's row went pixel
      // formula -> PNG encode -> javax.imageio decode -> channel-sum loop;
      // the oracle never touches a codec, so any decoder defect (stride,
      // channel order, color model, lossy write) breaks the hash
      """WITH ids AS (SELECT CAST(i AS INTEGER) AS id FROM range(0,8) t(i)),
        |xs AS (SELECT CAST(i AS INTEGER) AS x FROM range(0,23) t(i)),
        |ys AS (SELECT CAST(i AS INTEGER) AS y FROM range(0,19) t(i)),
        |px AS (
        |  SELECT id, x, y,
        |    (x*7 + y*13 + id*31) % 256 AS r,
        |    (x*3 + y*5 + id*17) % 256 AS g,
        |    (x*11 + y*2 + id*23) % 256 AS b
        |  FROM ids, xs, ys
        |  WHERE x < 16 + id AND y < 12 + id)
        |SELECT 100 + id AS media_id, 16 + id AS width, 12 + id AS height,
        |  CAST(sum(r) AS BIGINT) AS sum_r, CAST(sum(g) AS BIGINT) AS sum_g,
        |  CAST(sum(b) AS BIGINT) AS sum_b
        |FROM px GROUP BY 1, 2, 3""".stripMargin),
    // REAL resize (nearest-neighbor decode->transform->re-encode->decode):
    // out(x,y) = in(x*w/8, y*h/6), so the oracle recomputes the resized
    // sums from the same formula with integer-division index mapping
    Query("x54_image_resize", ((s, _) =>
      graft.ops.Multimodal.imageStats(graft.ops.Multimodal.resizeImages(
          graft.ops.Multimodal.fixtureImages(s), targetW = 8, targetH = 6)).toDF()
        .select(col("media_id"), col("width"), col("height"),
          col("sum_r"), col("sum_g"), col("sum_b"))),
      // x54: nearest-neighbor resize truth — out(x,y) = in(x*w//8, y*h//6),
      // formula applied to the SOURCE indices in SQL while Spark's path is
      // decode -> setRGB resample -> PNG re-encode -> decode -> sums
      """WITH ids AS (SELECT CAST(i AS INTEGER) AS id FROM range(0,8) t(i)),
        |xs AS (SELECT CAST(i AS INTEGER) AS x FROM range(0,8) t(i)),
        |ys AS (SELECT CAST(i AS INTEGER) AS y FROM range(0,6) t(i)),
        |src AS (
        |  SELECT id, (x*(16+id))//8 AS sx, (y*(12+id))//6 AS sy
        |  FROM ids, xs, ys),
        |ch AS (
        |  SELECT id,
        |    (sx*7 + sy*13 + id*31) % 256 AS r,
        |    (sx*3 + sy*5 + id*17) % 256 AS g,
        |    (sx*11 + sy*2 + id*23) % 256 AS b
        |  FROM src)
        |SELECT 100 + id AS media_id, 8 AS width, 6 AS height,
        |  CAST(sum(r) AS BIGINT) AS sum_r, CAST(sum(g) AS BIGINT) AS sum_g,
        |  CAST(sum(b) AS BIGINT) AS sum_b
        |FROM ch GROUP BY 1""".stripMargin),
    // IMAGE near-dup: 8 base PNGs + 4 pixel-perturbed variants -> REAL
    // decode -> 8x8 average-hash -> banded signature join (derived band
    // count, pigeonhole-complete at hamming<=6). The oracle recomputes
    // every hash from the pixel formula (no codec) and brute-forces all
    // pairs — the engine's banded path must reproduce it exactly
    Query("x60_image_neardup", ((s, _) => {
      graft.ops.Dedup.signatureNearDupPairs(imageSigs(s), maxHamming = 6)
        .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"),
          col("hamming"))
    }),
      // x60: every aHash recomputed from the pixel formula (downsample index
      // map, gray mass, strict 64x-mean bits, HUGEINT bit assembly) and all
      // pairs brute-forced — the engine's real-codec decode + banded join
      // must land on identical pairs and distances
      s"""WITH $imageSigSql
         |SELECT a.media_id AS media_a, b.media_id AS media_b,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
         |FROM s2 a JOIN s2 b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 6""".stripMargin),
    // MEDIA-ASSET dedup over an INTERLEAVED corpus — the multimodal
    // composition: x60's perceptual pairs cluster into asset classes
    // (star contraction), every media span rewrites to its class's
    // canonical (min) media_id — the asset-dedup step that stops a
    // multimodal corpus storing the same image once per crawl copy.
    // Spans are a deterministic synthetic interleaving over the 12
    // fixture images; the oracle replays hash, pairs, recursive closure,
    // canonical election, and the span formula
    Query("x61_media_dedup", ((s, _) => {
      val pairs = graft.ops.Dedup.signatureNearDupPairs(imageSigs(s), maxHamming = 6)
      canonicalMedia(interleavedSpans(s,
        Seq.tabulate(8)(100L + _) ++ Seq.tabulate(4)(200L + _)), pairs)
    }),
      s"""WITH RECURSIVE $imageSigSql,
         |pairs AS (
         |  SELECT a.media_id AS doc_a, b.media_id AS doc_b
         |  FROM s2 a JOIN s2 b ON a.media_id < b.media_id
         |  WHERE bit_count(xor(a.sig, b.sig)) <= 6),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |verts AS (SELECT DISTINCT src AS id FROM edges),
         |reach AS (
         |  SELECT id, id AS lbl FROM verts
         |  UNION
         |  SELECT e.dst AS id, r.lbl AS lbl
         |  FROM reach r JOIN edges e ON e.src = r.id),
         |comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY 1),
         |spans AS (
         |  SELECT CAST(d AS BIGINT) AS doc_id, CAST(o AS INTEGER) AS ord,
         |    ([100,101,102,103,104,105,106,107,200,201,202,203])[
         |      CAST((d*5 + o*3) % 12 AS BIGINT) + 1] AS media_id
         |  FROM range(0,20) t(d), range(0,3) u(o))
         |SELECT s.doc_id, s.ord, s.media_id,
         |  coalesce(c.component, s.media_id) AS canonical_id
         |FROM spans s LEFT JOIN comp c ON c.id = s.media_id""".stripMargin),
    // MEDIA-REF INTEGRITY audit over an interleaved corpus: spans
    // reference 14 ids (12 real fixture assets + 2 phantoms 900/901),
    // the asset table holds the 12 reals + 2 never-referenced extras
    // (300/301) — the audit must count orphan spans/refs, docs touched,
    // and dead assets exactly; the oracle replays the span formula and
    // both joins in SQL
    Query("x63_media_integrity", ((s, _) => {
      import s.implicits._
      val media = graft.ops.Multimodal.fixtureImages(s)
        .union(graft.ops.Multimodal.perturbedFixtureImages(s))
      val assets = media.select(col("media_id")).as[Long]
        .union(s.createDataset(Seq(300L, 301L))).toDF("media_id")
      graft.ops.Multimodal.refIntegrity(interleavedSpans(s,
        Seq.tabulate(8)(100L + _) ++ Seq.tabulate(4)(200L + _) ++ Seq(900L, 901L)), assets)
    }),
      // x63: the span formula + both integrity joins replayed in SQL; the
      // stack order (alphabetical by metric) matches the engine's
      """WITH spans AS (
        |  SELECT CAST(d AS BIGINT) AS doc_id, CAST(o AS INTEGER) AS ord,
        |    ([100,101,102,103,104,105,106,107,200,201,202,203,900,901])[
        |      CAST((d*5 + o*3) % 14 AS BIGINT) + 1] AS media_id
        |  FROM range(0,20) t(d), range(0,3) u(o)),
        |assets AS (
        |  SELECT unnest([100,101,102,103,104,105,106,107,
        |                 200,201,202,203,300,301]) AS media_id),
        |j AS (
        |  SELECT s.doc_id, s.media_id, a.media_id IS NOT NULL AS present
        |  FROM spans s LEFT JOIN assets a USING (media_id))
        |SELECT 'assets_total' AS metric,
        |  (SELECT count(*) FROM assets) AS n
        |UNION ALL SELECT 'assets_unreferenced',
        |  (SELECT count(*) FROM assets
        |   WHERE media_id NOT IN (SELECT media_id FROM spans))
        |UNION ALL SELECT 'distinct_refs',
        |  (SELECT count(DISTINCT media_id) FROM j)
        |UNION ALL SELECT 'docs_with_orphans',
        |  (SELECT count(DISTINCT doc_id) FROM j WHERE NOT present)
        |UNION ALL SELECT 'orphan_refs',
        |  (SELECT count(DISTINCT media_id) FROM j WHERE NOT present)
        |UNION ALL SELECT 'orphan_spans',
        |  (SELECT count(*) FROM j WHERE NOT present)
        |UNION ALL SELECT 'total_spans', (SELECT count(*) FROM j)""".stripMargin),
    // REAL audio decode, sample-level: WAV bytes -> JDK javax.sound codec
    // -> PCM frame loop; the oracle replays the sample FORMULA in SQL (no
    // codec), so a decoder bug (container parse, byte order, sign
    // extension, frame count) breaks the hash — the audio analog of x53
    Query("x82_audio_pcm_stats", ((s, _) =>
      graft.ops.Multimodal.audioStats(
          graft.ops.Multimodal.fixtureAudio(s)
            .union(graft.ops.Multimodal.perturbedFixtureAudio(s))).toDF()
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("n_samples"), col("duration_ms"), col("sum_samp"),
          col("sum_abs"), col("peak"))),
      // x82: the sample FORMULA replayed in SQL — Spark's row went formula
      // -> WAV encode -> javax.sound decode -> PCM loop; the oracle never
      // touches a codec, so any decoder defect (container parse, byte
      // order, sign extension, frame count) breaks the hash
      s"""WITH $audioSampleSql
         |SELECT media_id, 8000 AS sample_rate, 1 AS channels,
         |  CAST(ns AS INTEGER) AS n_samples,
         |  CAST(ns // 8 AS BIGINT) AS duration_ms,
         |  CAST(sum(s) AS BIGINT) AS sum_samp,
         |  CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
         |  CAST(max(abs(s)) AS INTEGER) AS peak
         |FROM samp GROUP BY media_id, ns""".stripMargin),
    // AUDIO near-dup: 8 base WAV clips + 4 loudness-perturbed variants
    // -> REAL decode -> 64-frame energy-delta fingerprint -> banded
    // signature join (pigeonhole-complete at hamming<=8). The oracle
    // recomputes every fingerprint from the sample formula (no codec)
    // and brute-forces all pairs — the generic signatureNearDupPairs
    // entry point's fourth modality (text q60, image x60, synthetic q93)
    Query("x83_audio_neardup", ((s, _) => {
      graft.ops.Dedup.signatureNearDupPairs(audioSigs(s), maxHamming = 8)
        .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"),
          col("hamming"))
    }),
      // x83: every energy-delta fingerprint recomputed from the sample
      // formula (frame energies, strict neighbor comparison, HUGEINT bit
      // assembly) and all pairs brute-forced with NO band predicate — the
      // engine's real-codec decode + banded join must land on identical
      // pairs and distances
      s"""WITH $audioSigSql
         |SELECT a.media_id AS media_a, b.media_id AS media_b,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
         |FROM sig a JOIN sig b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 8""".stripMargin),
    // AUDIO-ASSET dedup over an INTERLEAVED corpus — x61's composition on
    // the audio modality: x83's perceptual pairs cluster into asset
    // classes (star contraction), every audio span rewrites to its
    // class's canonical (min) media_id. Same span formula as x61 over
    // the 12 audio fixture ids; the oracle replays fingerprint, pairs,
    // recursive closure, canonical election, and the span formula
    Query("x85_audio_asset_dedup", ((s, _) => {
      val pairs = graft.ops.Dedup.signatureNearDupPairs(audioSigs(s), maxHamming = 8)
      canonicalMedia(interleavedSpans(s,
        Seq.tabulate(8)(500L + _) ++ Seq.tabulate(4)(600L + _)), pairs)
    }),
      // x85: the x61 composition replayed on the audio fragment — shared
      // fingerprint SQL + recursive closure + the span formula
      s"""WITH RECURSIVE $audioSigSql,
         |pairs AS (
         |  SELECT a.media_id AS doc_a, b.media_id AS doc_b
         |  FROM sig a JOIN sig b ON a.media_id < b.media_id
         |  WHERE bit_count(xor(a.sig, b.sig)) <= 8),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |verts AS (SELECT DISTINCT src AS id FROM edges),
         |reach AS (
         |  SELECT id, id AS lbl FROM verts
         |  UNION
         |  SELECT e.dst AS id, r.lbl AS lbl
         |  FROM reach r JOIN edges e ON e.src = r.id),
         |comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY 1),
         |spans AS (
         |  SELECT CAST(d AS BIGINT) AS doc_id, CAST(o AS INTEGER) AS ord,
         |    ([500,501,502,503,504,505,506,507,600,601,602,603])[
         |      CAST((d*5 + o*3) % 12 AS BIGINT) + 1] AS media_id
         |  FROM range(0,20) t(d), range(0,3) u(o))
         |SELECT s.doc_id, s.ord, s.media_id,
         |  coalesce(c.component, s.media_id) AS canonical_id
         |FROM spans s LEFT JOIN comp c ON c.id = s.media_id""".stripMargin),
    // REAL decimating resample (decode -> keep every 2nd sample -> WAV
    // re-encode -> decode): out(k) = in(2k) at half the rate, duration
    // preserved exactly — the audio analog of x54's nearest-neighbor
    // resize; the oracle recomputes decimated stats from the formula
    // restricted to even sample indices
    Query("x84_audio_decimate", ((s, _) =>
      graft.ops.Multimodal.audioStats(graft.ops.Multimodal.decimateAudio(
          graft.ops.Multimodal.fixtureAudio(s)
            .union(graft.ops.Multimodal.perturbedFixtureAudio(s)),
          factor = 2)).toDF()
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("n_samples"), col("duration_ms"), col("sum_samp"),
          col("sum_abs"), col("peak"))),
      // x84: decimated stats from the formula restricted to even indices —
      // the engine's row went formula -> WAV -> decode -> drop odd samples
      // -> WAV re-encode at rate/2 -> decode -> PCM loop (codec TWICE);
      // duration is invariant under decimation ((ns/2)*1000/4000 = ns/8)
      s"""WITH $audioSampleSql
         |SELECT media_id, 4000 AS sample_rate, 1 AS channels,
         |  CAST(ns // 2 AS INTEGER) AS n_samples,
         |  CAST(ns // 8 AS BIGINT) AS duration_ms,
         |  CAST(sum(s) AS BIGINT) AS sum_samp,
         |  CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
         |  CAST(max(abs(s)) AS INTEGER) AS peak
         |FROM samp WHERE n % 2 = 0 GROUP BY media_id, ns""".stripMargin),
    // STRUCTURE-PRESERVING PII SCRUB over an interleaved span table:
    // only kind='text' spans are rewritten; page markers, media spans
    // (whose synthetic rows would otherwise match the planted patterns),
    // and (kind, media_ref, ord) pass through byte-identical. The oracle
    // replays the generator and the shared PiiPatterns chain in SQL.
    Query("x64_interleaved_scrub", ((s, _) => {
      val base = s.range(10L).select(col("id").as("doc_id"))
        .select(col("doc_id"),
          explode(array((0 until 5).map(lit): _*)).as("ord"))
      val kind = when(col("ord") === 0, lit("page"))
        .when((col("doc_id") + col("ord")) % 4 === 0, lit("media"))
        .otherwise(lit("text"))
      val spans = base.withColumn("kind", kind)
        .withColumn("media_ref",
          when(col("kind") === "media",
            concat(lit("m"), col("doc_id"), lit("_"), col("ord"))))
        .withColumn("text",
          when(col("kind") === "page", lit("1"))
            .when(col("kind") === "media", lit(""))
            .when((col("doc_id") + col("ord")) % 3 === 0,
              concat(lit("contact user"), col("doc_id"),
                lit("@example.com from 10.0."), col("doc_id"), lit("."),
                col("ord"), lit(" now")))
            .otherwise(concat(lit("plain line "), col("doc_id"), lit(" "),
              col("ord"))))
        .select("doc_id", "ord", "kind", "text", "media_ref")
      graft.ops.Spans.scrubTextSpans(spans)
    }),
      // x64: the generator + the shared PiiPatterns chain replayed in SQL;
      // the CASE keeps non-text spans byte-identical exactly like the engine
      {
        val (scrub, count) = graft.ops.Curation.piiScrubSql("text")
        s"""WITH base AS (
         |  SELECT CAST(d AS BIGINT) AS doc_id, CAST(o AS INTEGER) AS ord
         |  FROM range(0,10) t(d), range(0,5) u(o)),
         |k AS (
         |  SELECT doc_id, ord,
         |    CASE WHEN ord = 0 THEN 'page'
         |         WHEN (doc_id + ord) % 4 = 0 THEN 'media'
         |         ELSE 'text' END AS kind
         |  FROM base),
         |sp AS (
         |  SELECT doc_id, ord, kind,
         |    CASE WHEN kind = 'page' THEN '1'
         |         WHEN kind = 'media' THEN ''
         |         WHEN (doc_id + ord) % 3 = 0 THEN
         |           'contact user' || CAST(doc_id AS VARCHAR) ||
         |           '@example.com from 10.0.' || CAST(doc_id AS VARCHAR) ||
         |           '.' || CAST(ord AS VARCHAR) || ' now'
         |         ELSE 'plain line ' || CAST(doc_id AS VARCHAR) || ' ' ||
         |           CAST(ord AS VARCHAR) END AS text,
         |    CASE WHEN kind = 'media' THEN
         |      'm' || CAST(doc_id AS VARCHAR) || '_' || CAST(ord AS VARCHAR)
         |    END AS media_ref
         |  FROM k)
         |SELECT doc_id, ord, kind,
         |  CASE WHEN kind = 'text' THEN $scrub ELSE text END AS text,
         |  media_ref,
         |  CAST(CASE WHEN kind = 'text' THEN $count ELSE 0 END AS BIGINT)
         |    AS n_redactions
         |FROM sp""".stripMargin
      }),
    // CAPTION-MEDIA ALIGNMENT audit over the fixture corpus's real
    // extracted spans: nearest preceding non-empty text span, same page,
    // within 3 positions — the join quality a multimodal pack depends on
    Query("x65_caption_align", ((s, _) =>
      graft.ops.Spans.captionAlignment(
        result(s).outSpans.toDF().select(
          col("doc_id"), col("ord"), col("kind"), col("text"),
          col("media_ref")),
        maxGap = 3)),
      // x65: the same-page nearest-preceding-text window replayed over the
      // x05 golden span VALUES
      graft.ops.Spans.captionAlignmentSql(
        FixtureGoldens.fixtureSpans, maxGap = 3)),
    // PARAGRAPH COALESCING over the real extracted spans: maximal runs
    // of consecutive text spans merge (order-preserving join), media
    // spans stay hard singleton boundaries, dense re-numbering — the
    // extraction->packing re-segmentation bridge (inverse of q48)
    Query("x70_span_coalesce", ((s, _) =>
      graft.ops.Spans.coalesceTextRuns(
        result(s).outSpans.toDF().select(
          col("doc_id"), col("ord"), col("kind"), col("text"),
          col("media_ref")))),
      // x70: run identity (running non-text count + is_text), ordered
      // string_agg, dense re-number — replayed over the x05 goldens
      s"""WITH base AS (${FixtureGoldens.fixtureSpans}),
         |g AS (
         |  SELECT *, sum(CASE WHEN kind <> 'text' THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY ord) AS grp,
         |    kind = 'text' AS is_text
         |  FROM base),
         |a AS (
         |  SELECT doc_id, grp, is_text, min(ord) AS min_ord,
         |    min(kind) AS kind,
         |    string_agg(coalesce(text, ''), ' ' ORDER BY ord) AS text,
         |    min(media_ref) AS media_ref,
         |    CAST(count(*) AS BIGINT) AS n_merged
         |  FROM g GROUP BY 1, 2, 3)
         |SELECT doc_id,
         |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY min_ord)
         |    - 1 AS INT) AS ord,
         |  kind, text, media_ref, n_merged
         |FROM a""".stripMargin),
    // SPAN-SEQUENCE REGRESSION DIFF — the north-rule invariant as an
    // operator: the real extracted spans diffed against a deterministic
    // perturbation (per doc_ord%5: text mutated / last span dropped /
    // span injected / kind+ref flipped / unchanged); the verdict must
    // name the first divergent ord and which field moved. Oracle replays
    // perturbation AND diff over the x05 golden VALUES.
    Query("x69_span_diff", ((s, _) => {
      val base = fixtureSpans(s)
      graft.ops.Spans.spanDiff(base, perturbedSpans(base))
    }),
      // x69: the perturbation AND the diff replayed over the x05 goldens;
      // IS DISTINCT FROM mirrors Spark's null-safe <=> on each field, the
      // kind > media_ref > text priority matches spanDiff's
      spanDiffOracleSql),
    // SNAPSHOT-DIFF CI: the x69 regression diff composed with the
    // committed table's TIME TRAVEL, over the north-rule NESTED shape
    // (doc_id, spans:array<struct<ord,kind,text,media_ref>>) — commit the
    // extraction as v1, upsert the re-extracted (perturbed) docs as the
    // v2 rebase, diff readAt(v1) vs readAt(v2). The oracle is x69's SQL
    // verbatim: the green row pins that nest -> commit -> upsert ->
    // time-travel -> unnest preserves every span sequence bit-exactly.
    Query("x71_snapshot_span_ci", ((s, _) => {
      val base = fixtureSpans(s)
      val dir = graft.io.Scratch.dir("graft-x71")
        .toString + "/table"
      Checkpointing.commit(nestSpans(base), dir, "extract-v1")
      // re-extraction touches only the docs the "parser change" altered
      val changed = perturbedSpans(base).withColumn("m", pmod(
          regexp_extract(col("doc_id"), "^(\\d+)", 1).cast("int"), lit(5)))
        .filter(col("m") =!= 0).drop("m")
      Checkpointing.upsert(nestSpans(changed), dir, "extract-v2")
      val vs = Checkpointing.snapshots(dir).map(_.seq)
      graft.ops.Spans.spanDiff(
        unnestSpans(Checkpointing.readAt(s, dir, vs.head)),
        unnestSpans(Checkpointing.readAt(s, dir, vs.last)))
    }),
      // x71 composes commit/upsert/time-travel around the SAME logical diff:
      // sharing x69's oracle verbatim IS the contract — the committed-table
      // round trip must not move a single span
      spanDiffOracleSql),
    // BRANCH-GATED extraction CI — x71's detect step moved BEFORE landing:
    // the candidate parser revision replaces its changed docs ON A BRANCH
    // (upsertToBranch: MoR delete + append, main readers blind), the span
    // diff runs branch-vs-main, and because it finds regressions the
    // branch is DROPPED — main never carried the bad revision, not even
    // transiently (x71/x72 detect-then-rollback leaves a bad version in
    // history; the branch gate never admits it). Oracle: the same x69
    // diff replay — plus in-query requires that main stayed at v1.
    Query("x77_branch_span_ci", ((s, _) => {
      val base = fixtureSpans(s)
      val dir = graft.io.Scratch.dir("graft-x77")
        .toString + "/table"
      Checkpointing.commit(nestSpans(base), dir, "extract-v1")
      Checkpointing.createBranch(dir, "ci", 1)
      val changed = perturbedSpans(base).withColumn("m", pmod(
          regexp_extract(col("doc_id"), "^(\\d+)", 1).cast("int"), lit(5)))
        .filter(col("m") =!= 0).drop("m")
      Checkpointing.upsertToBranch(nestSpans(changed), dir, "ci",
        "candidate-v2")
      val diff = graft.ops.Spans.spanDiff(
        unnestSpans(Checkpointing.readAt(s, dir, 1)),
        unnestSpans(Checkpointing.readBranch(s, dir, "ci")))
        .localCheckpoint(eager = true)
      val regressions = diff.filter(!col("equal")).count()
      require(regressions > 0, "the CI gate must detect the perturbation")
      // gate verdict: reject — drop the branch; main must be untouched
      Checkpointing.dropBranch(dir, "ci")
      require(Checkpointing.snapshots(dir).last.seq == 1,
        "main must still be at v1 — the bad revision never landed")
      require(Checkpointing.readAt(s, dir, 1).count() == base
        .select("doc_id").distinct().count(),
        "main content must be the v1 extraction")
      diff
    }),
      // x77: same diff replay — the branch round trip (branch upsert, read,
      // diff, drop) must not move a single span vs the direct x69 diff
      spanDiffOracleSql),
    // MERGE INTO (Iceberg/Delta analog) — the three DML verbs as ONE
    // ATOMIC SNAPSHOT: one merge call updates doc 1 (uppercased month),
    // deletes doc 5 (deleteWhen), and inserts a synthetic doc 99; the
    // in-query requires pin exactly one snapshot landed and the verb
    // counts; the oracle is x01's golden with those three verbs applied
    Query("x79_merge", ((s, _) => {
      import s.implicits._
      val dir = graft.io.Scratch.dir("graft-x79")
        .toString + "/stats"
      val r = ExtractionPipeline.run(s,
        s.createDataset(FixtureCorpus.fixtureDocs), persistIntermediate = false)
      Checkpointing.commit(r.stats.toDF(), dir, "run1")
      val cur = Checkpointing.readAt(s, dir, 1)
      def ordIs(n: Int) = expr(s"CAST(split_part(doc_id, '.', 1) AS INT) = $n")
      val upd = cur.filter(ordIs(1))
        .withColumn("publish_month", upper(col("publish_month")))
      val del = cur.filter(ordIs(5))
      val ins = cur.filter(ordIs(1))
        .withColumn("doc_id", lit("99.merge_insert.pdf"))
        .withColumn("doc_ord", lit(99L))
        .withColumn("publish_month", lit("MERGEJAN"))
      val (nU, nD, nI) = Checkpointing.merge(
        upd.unionByName(del).unionByName(ins), dir, "m1",
        deleteWhen = ordIs(5))
      require((nU, nD, nI) == ((1L, 1L, 1L)),
        s"merge verb counts off: upd=$nU del=$nD ins=$nI")
      require(Checkpointing.snapshots(dir).size == 2,
        "three DML verbs must land as ONE snapshot")
      Checkpointing.readAt(s, dir, 2).transform(statCols)
    }),
      // x01's golden with the three merge verbs applied: doc 1 updated
      // (uppercased month), doc 5 deleted, doc 99 inserted as a copy of
      // doc 1's stats under the new id/month
      s"""WITH g AS (${FixtureGoldens.fixtureStats})
         |SELECT doc_id, page_size, criterion_tables_count, merged_tables_count,
         |  merged_rows_count, merged_table_start_page, merged_table_end_page,
         |  CASE WHEN CAST(split_part(doc_id, '.', 1) AS INTEGER) = 1
         |       THEN upper(publish_month) ELSE publish_month END AS publish_month
         |FROM g WHERE CAST(split_part(doc_id, '.', 1) AS INTEGER) <> 5
         |UNION ALL
         |SELECT '99.merge_insert.pdf', page_size, criterion_tables_count,
         |  merged_tables_count, merged_rows_count, merged_table_start_page,
         |  merged_table_end_page, 'MERGEJAN'
         |FROM g WHERE CAST(split_part(doc_id, '.', 1) AS INTEGER) = 1""".stripMargin),
    // STREAMING CDC APPLY — the x75 consumption loop as a Structured
    // Streaming sink, each micro-batch landing through merge's atomic
    // three-verb snapshot: batch 0 updates doc 1 + inserts doc 99, batch 1
    // RE-updates doc 1 (cross-batch last-writer-wins) + deletes doc 5.
    // In-query requires pin one-snapshot-per-batch, the deterministic
    // runIds, and at-least-once replay idempotence (re-applying batch 0 is
    // a no-op); the oracle is x01's golden with the net verbs applied
    Query("x80_stream_merge_apply", ((s, _) => {
      import s.implicits._
      import graft.streaming.StreamMergeApply
      import StreamMergeApply.StatChange
      val dir = graft.io.Scratch.dir("graft-x80")
        .toString + "/stats"
      val r = ExtractionPipeline.run(s,
        s.createDataset(FixtureCorpus.fixtureDocs), persistIntermediate = false)
      Checkpointing.commit(r.stats.toDF(), dir, "base")
      val byOrd = r.stats.collect().map(p => p.doc_ord -> p).toMap
      val d1 = byOrd(1L); val d5 = byOrd(5L)
      val b0 = Seq(
        StatChange("upsert",
          d1.copy(publish_month = d1.publish_month.map(_.toUpperCase))),
        StatChange("upsert", d1.copy(doc_id = "99.merge_insert.pdf",
          doc_ord = 99L, publish_month = Some("MERGEJAN"))))
      val b1 = Seq(
        StatChange("upsert", d1.copy(publish_month = Some("FINAL JAN"))),
        StatChange("delete", d5))
      val runIds = StreamMergeApply.replayStatChanges(s, dir, Seq(b0, b1))
      require(runIds == Seq("apply-000", "apply-001"),
        s"one atomic snapshot per micro-batch, got $runIds")
      // at-least-once replay: re-landing an already-committed batch id
      // must be a no-op, not a duplicate snapshot
      StreamMergeApply.applyBatch(dir)(
        s.createDataset(b0).select(col("op"), col("stat.*")), 0L)
      require(Checkpointing.snapshots(dir).size == 3,
        "replayed micro-batch must be skipped")
      Checkpointing.readAt(s, dir, 3).transform(statCols)
    }),
      // x01's golden with the streaming batches' NET effect: doc 1 carries
      // batch 1's month (last writer wins across micro-batches), doc 5
      // deleted, doc 99 inserted in batch 0 as a copy of doc 1's stats
      s"""WITH g AS (${FixtureGoldens.fixtureStats})
         |SELECT doc_id, page_size, criterion_tables_count, merged_tables_count,
         |  merged_rows_count, merged_table_start_page, merged_table_end_page,
         |  CASE WHEN CAST(split_part(doc_id, '.', 1) AS INTEGER) = 1
         |       THEN 'FINAL JAN' ELSE publish_month END AS publish_month
         |FROM g WHERE CAST(split_part(doc_id, '.', 1) AS INTEGER) <> 5
         |UNION ALL
         |SELECT '99.merge_insert.pdf', page_size, criterion_tables_count,
         |  merged_tables_count, merged_rows_count, merged_table_start_page,
         |  merged_table_end_page, 'MERGEJAN'
         |FROM g WHERE CAST(split_part(doc_id, '.', 1) AS INTEGER) = 1""".stripMargin),
    // ROLLBACK (Iceberg rollback_to_snapshot) — the ACT step after x71's
    // detect step: the v2 "bad parser deploy" is undone by ONE metadata
    // write; no data file is copied or rewritten. The query reads the
    // table AFTER the rollback and returns the raw span frame — oracle is
    // x05's golden VALUES, so the green row pins that the restored state
    // is bit-identical to the v1 extraction, through a v2 rebase that had
    // REPLACED those rows. A post-rollback delta commit then stacks a
    // sentinel doc on top of the restored state — present in the output
    // (oracle = x05's goldens + the sentinel row), pinning that history
    // continues forward after the restore.
    Query("x72_snapshot_rollback", ((s, _) => {
      val base = fixtureSpans(s)
      val dir = graft.io.Scratch.dir("graft-x72")
        .toString + "/table"
      Checkpointing.commit(nestSpans(base), dir, "extract-v1")
      Checkpointing.upsert(nestSpans(perturbedSpans(base)), dir,
        "bad-parser-v2")
      val v3 = Checkpointing.rollback(dir, 1, "revert-bad-parser")
      // life goes on: a new doc lands AFTER the rollback (delta on top of
      // the restored state), and the read must see restored + new
      val sentinel = base.sparkSession.range(1).select(
        lit("99999_sentinel.pdf").as("doc_id"), lit(0).as("ord"),
        lit("text").as("kind"), lit("SENTINEL").as("text"),
        lit(null).cast("string").as("media_ref"))
      Checkpointing.commit(nestSpans(sentinel), dir, "post-rollback-delta")
      val cur = Checkpointing.snapshots(dir).last.seq
      require(cur == v3 + 1, s"expected one delta on top of rollback $v3")
      unnestSpans(Checkpointing.readAt(s, dir, cur))
    }),
      // x72: the restored state must be BIT-IDENTICAL to the v1 goldens,
      // plus exactly the one post-rollback sentinel doc
      s"""WITH base AS (${FixtureGoldens.fixtureSpans})
         |SELECT * FROM base
         |UNION ALL
         |SELECT '99999_sentinel.pdf', 0, 'text', 'SENTINEL', NULL"""
        .stripMargin),
    // CDC changelog read (Iceberg create_changelog_view): where x42's
    // incremental read REFUSES delete snapshots (append-only contract),
    // cdcBetween makes them consumable — (change_type, commit_seq, row)
    // in commit order, so a downstream mirror applies inserts + deletes
    // and lands at the upstream state: the takedown-propagation path.
    // Lifecycle: two commits, a two-doc takedown, one re-extract; the
    // delete rows carry the ORIGINAL content (materialized from the
    // pre-state), the re-add carries the rewritten month.
    Query("x73_cdc_read", ((s, _) => {
      import s.implicits._
      val dir = graft.io.Scratch.dir("graft-x73")
        .toString + "/stats"
      twoRunStats(s, dir)
      Checkpointing.deleteWhere(
        Seq("2.f02_crosspage.pdf", "12.f12_nomonth.pdf").toDF("doc_id"),
        dir, "takedown")
      val redo = Checkpointing.readAt(s, dir, 1)
        .filter(col("doc_id") === "2.f02_crosspage.pdf")
        .withColumn("publish_month", upper(col("publish_month")))
      Checkpointing.commit(redo, dir, "re2")
      Checkpointing.cdcBetween(s, dir, 0, 4).select(
        col("doc_id"), col("publish_month"),
        col("_change_type").as("change_type"),
        col("_commit_seq").as("commit_seq"))
    }),
      // x73: inserts = the two commits' rows stamped with their commit seq;
      // deletes = the takedown's rows with ORIGINAL content at seq 3; the
      // re-add of doc 2 carries the uppercased month at seq 4
      s"""WITH g AS (${FixtureGoldens.fixtureStats})
         |SELECT doc_id, publish_month, 'insert' AS change_type,
         |  CASE WHEN CAST(split_part(doc_id, '.', 1) AS INTEGER) <= 9
         |       THEN 1 ELSE 2 END AS commit_seq
         |FROM g
         |UNION ALL
         |SELECT doc_id, publish_month, 'delete', 3 FROM g
         |WHERE doc_id IN ('2.f02_crosspage.pdf', '12.f12_nomonth.pdf')
         |UNION ALL
         |SELECT doc_id, upper(publish_month), 'insert', 4 FROM g
         |WHERE doc_id = '2.f02_crosspage.pdf'""".stripMargin),
    // CDC MIRROR APPLY — the consumption side of x73's contract: a
    // downstream mirror table applies each upstream commit's changelog
    // (inserts -> commit, deletes -> deleteWhere) in commit order and
    // must land BIT-IDENTICAL to the upstream state. The query reads the
    // MIRROR; the oracle is the upstream's expected final state (x01
    // goldens minus the takedown that stuck, with the re-added doc's
    // rewritten month) — the takedown-propagation loop, closed.
    Query("x75_cdc_mirror", ((s, _) => {
      import s.implicits._
      val base = graft.io.Scratch.dir("graft-x75").toString
      val up = s"$base/up"; val mir = s"$base/mirror"
      twoRunStats(s, up)
      Checkpointing.deleteWhere(
        Seq("2.f02_crosspage.pdf", "12.f12_nomonth.pdf").toDF("doc_id"),
        up, "takedown")
      val redo = Checkpointing.readAt(s, up, 1)
        .filter(col("doc_id") === "2.f02_crosspage.pdf")
        .withColumn("publish_month", upper(col("publish_month")))
      Checkpointing.commit(redo, up, "re2")
      // the mirror consumes one changelog per upstream commit, in order
      Checkpointing.snapshots(up).map(_.seq).foreach { v =>
        val cdc = Checkpointing.cdcBetween(s, up, v - 1, v).cache()
        val dels = cdc.filter(col("_change_type") === "delete")
          .select("doc_id")
        if (!dels.isEmpty) Checkpointing.deleteWhere(dels, mir, s"m-del-$v")
        val ins = cdc.filter(col("_change_type") === "insert")
          .drop("_change_type", "_commit_seq")
        if (!ins.isEmpty) Checkpointing.commit(ins, mir, s"m-ins-$v")
        cdc.unpersist()
        ()
      }
      Checkpointing.readAt(s, mir,
        Checkpointing.snapshots(mir).last.seq).transform(statCols)
    }),
      // x75: the mirror must land at the upstream's final state — x01's
      // golden minus the takedown that stuck (doc 12), with the re-added
      // doc 2 carrying the rewritten month
      s"""SELECT doc_id, page_size, criterion_tables_count, merged_tables_count,
         |  merged_rows_count, merged_table_start_page, merged_table_end_page,
         |  CASE WHEN doc_id = '2.f02_crosspage.pdf'
         |       THEN upper(publish_month) ELSE publish_month END AS publish_month
         |FROM (${FixtureGoldens.fixtureStats}) AS v
         |WHERE doc_id <> '12.f12_nomonth.pdf'""".stripMargin),
    // DESCRIBE HISTORY: the snapshot log as a DataFrame — the audit
    // surface consulted before time travel / rollback / incremental
    // reads. A fixed lifecycle (2 commits, takedown, upsert rebase,
    // rollback) with pinned runIds; every metadata field the ops above
    // rely on (full flag, delete-set count, rollback target, per-kind
    // rows semantics) is hash-pinned against a VALUES oracle.
    Query("x74_table_history", ((s, _) => {
      def frame(lo: Long, hi: Long, mult: Long) = s.range(lo, hi + 1)
        .select(col("id").as("doc_ord"), col("id").cast("string").as("doc_id"),
          (col("id") * mult).as("temp")).coalesce(1)
      val dir = graft.io.Scratch.dir("graft-x74")
        .toString + "/t"
      Checkpointing.commit(frame(1, 10, 3), dir, "run1")
      Checkpointing.commit(frame(11, 15, 3), dir, "run2")
      Checkpointing.deleteWhere(
        frame(3, 4, 1).select("doc_id"), dir, "takedown")
      Checkpointing.upsert(frame(1, 15, 7), dir, "fix")
      Checkpointing.rollback(dir, 2, "revert")
      Checkpointing.history(s, dir).select(
        col("seq"), col("run_id"), col("rows"), col("is_full"),
        (col("n_files") > 0).as("has_files"), col("n_delete_sets"),
        col("rollback_of"))
    }),
      // x74: the lifecycle's metadata, literally — per-kind rows semantics
      // (commit/upsert = rows written, delete = tombstone keys, rollback =
      // 0), full flags, and the rollback target
      """SELECT * FROM (VALUES
        |  (1, 'run1',     CAST(10 AS BIGINT), FALSE, TRUE,  0, NULL),
        |  (2, 'run2',     CAST(5  AS BIGINT), FALSE, TRUE,  0, NULL),
        |  (3, 'takedown', CAST(2  AS BIGINT), FALSE, FALSE, 1, NULL),
        |  (4, 'fix',      CAST(15 AS BIGINT), TRUE,  TRUE,  0, NULL),
        |  (5, 'revert',   CAST(0  AS BIGINT), TRUE,  FALSE, 0, 2)
        |) AS h("seq", "run_id", "rows", "is_full", "has_files",
        |       "n_delete_sets", "rollback_of")""".stripMargin),
    // S3/S4/S6: commit + anti-join resume round-trip; counts are the
    // observable contract (run 1 "crashes" after 9 docs; resume finishes)
    Query("x11_resume_counts", ((s, _) => {
      import s.implicits._
      val docs = s.createDataset(FixtureCorpus.fixtureDocs)
      val dir = graft.io.Scratch.dir("graft-x11").toString + "/stats"
      val firstBatch = docs.filter(d => SpanDoc.docOrd(d.doc_id) <= 9)
      val r1 = ExtractionPipeline.run(s, firstBatch, persistIntermediate = false)
      val committed = Checkpointing.commit(r1.stats.toDF(), dir, "run1")
      val pending = Checkpointing.resumeFilter(s, docs, dir)
      val nPending = pending.count()
      val r2 = ExtractionPipeline.run(s, pending, persistIntermediate = false)
      Checkpointing.commit(r2.stats.toDF(), dir, "run2")
      val after = Checkpointing.resumeFilter(s, docs, dir).count()
      val distinct = graft.io.Parquet.read(s, dir).select("doc_id").distinct().count()
      Seq(
        ("total_docs", docs.count()),
        ("committed_first_run", committed),
        ("pending_after_crash", nPending),
        ("pending_after_resume", after),
        ("distinct_committed", distinct)).toDF("metric", "n")
    }),
      FixtureGoldens.resumeCounts),
    // snapshot time travel: two commits, then read the table AS OF the
    // first snapshot — only run1's 9 documents may be visible, even though
    // the directory now holds all of them (the Iceberg-shaped read side of
    // the north rule's lineage manifests)
    Query("x39_time_travel", ((s, _) => {
      val dir = graft.io.Scratch.dir("graft-x39").toString + "/stats"
      twoRunStats(s, dir)
      Checkpointing.readAt(s, dir, 1).transform(statCols)
    }),
      // version 1 = exactly the first commit's 9 documents (x01's golden,
      // filtered by the doc_ord prefix run1 committed)
      s"""SELECT * FROM (${FixtureGoldens.fixtureStats}) AS v
         |WHERE CAST(split_part(doc_id, '.', 1) AS INTEGER) <= 9""".stripMargin),
    // the streaming ingest wired to the committed sink: one snapshot per
    // micro-batch via foreachBatch + Checkpointing.commit, then time
    // travel to snapshot 1 = exactly the first micro-batch's 8 documents
    // (oracle: x01's golden filtered to that doc_ord range)
    Query("x41_stream_committed_sink", ((s, _) => {
      val dir = graft.io.Scratch.dir("graft-x41").toString + "/stats"
      graft.streaming.StreamExtract.replayCommittedStats(s, FixtureCorpus.fixtureDocs, dir)
      require(Checkpointing.snapshots(dir).map(_.seq) == Seq(1, 2),
        "expected one snapshot per micro-batch")
      Checkpointing.readAt(s, dir, 1).transform(statCols)
    }),
      // snapshot 1 of the streaming committed sink = micro-batch 1 = the
      // first 8 fixture docs
      s"""SELECT * FROM (${FixtureGoldens.fixtureStats}) AS v
         |WHERE CAST(split_part(doc_id, '.', 1) AS INTEGER) <= 8""".stripMargin),
    // Iceberg-style INCREMENTAL read: the delta of snapshot 2 over
    // snapshot 1 = exactly run2's documents (a downstream consumer
    // processes each commit without rescanning the table)
    Query("x42_incremental_read", ((s, _) => {
      val dir = graft.io.Scratch.dir("graft-x42").toString + "/stats"
      twoRunStats(s, dir)
      Checkpointing.changesBetween(s, dir, 1, 2).transform(statCols)
    }),
      // the (1,2] delta = run2's docs: ord 10..16
      s"""SELECT * FROM (${FixtureGoldens.fixtureStats}) AS v
         |WHERE CAST(split_part(doc_id, '.', 1) AS INTEGER) > 9""".stripMargin),
    // copy-on-write UPSERT — the "re-extract after a parser fix" path:
    // docs 1..3 get rewritten rows (publish_month uppercased as the
    // deterministic stand-in for changed extraction output); the final
    // table must show exactly the replaced rows and nothing else changed
    Query("x45_upsert", ((s, _) => {
      import s.implicits._
      val dir = graft.io.Scratch.dir("graft-x45").toString + "/stats"
      val r = ExtractionPipeline.run(s, s.createDataset(FixtureCorpus.fixtureDocs),
        persistIntermediate = false)
      Checkpointing.commit(r.stats.toDF(), dir, "run1")
      val fixed = Checkpointing.readAt(s, dir, 1)
        .filter(expr("CAST(split_part(doc_id, '.', 1) AS INT) <= 3"))
        .withColumn("publish_month", upper(col("publish_month")))
      Checkpointing.upsert(fixed, dir, "refix")
      Checkpointing.readAt(s, dir, 2).transform(statCols)
    }),
      // x01's golden with docs 1..3 carrying the rewritten (uppercased) month
      s"""SELECT doc_id, page_size, criterion_tables_count, merged_tables_count,
         |  merged_rows_count, merged_table_start_page, merged_table_end_page,
         |  CASE WHEN CAST(split_part(doc_id, '.', 1) AS INTEGER) <= 3
         |       THEN upper(publish_month) ELSE publish_month END AS publish_month
         |FROM (${FixtureGoldens.fixtureStats}) AS v""".stripMargin),
    // merge-on-read delete — the takedown path: two docs deleted WITHOUT
    // rewriting any data file (scan-time broadcast anti-join), then doc 2
    // re-extracted (uppercased month) AFTER the delete; the fresh commit
    // must survive the older delete set (Iceberg sequence rule), doc 5
    // stays gone
    Query("x46_mor_delete", ((s, _) => {
      import s.implicits._
      val dir = graft.io.Scratch.dir("graft-x46").toString + "/stats"
      val r = ExtractionPipeline.run(s, s.createDataset(FixtureCorpus.fixtureDocs),
        persistIntermediate = false)
      Checkpointing.commit(r.stats.toDF(), dir, "run1")
      Checkpointing.deleteWhere(
        Seq("2.f02_crosspage.pdf", "5.f05_firstcol.pdf").toDF("doc_id"),
        dir, "takedown")
      val redo = Checkpointing.readAt(s, dir, 1)
        .filter(col("doc_id") === "2.f02_crosspage.pdf")
        .withColumn("publish_month", upper(col("publish_month")))
      Checkpointing.commit(redo, dir, "re2")
      Checkpointing.readAt(s, dir, 3).transform(statCols)
    }),
      // x01's golden minus the deleted doc 5, with re-extracted doc 2
      // carrying the rewritten (uppercased) month
      s"""SELECT doc_id, page_size, criterion_tables_count, merged_tables_count,
         |  merged_rows_count, merged_table_start_page, merged_table_end_page,
         |  CASE WHEN CAST(split_part(doc_id, '.', 1) AS INTEGER) = 2
         |       THEN upper(publish_month) ELSE publish_month END AS publish_month
         |FROM (${FixtureGoldens.fixtureStats}) AS v
         |WHERE CAST(split_part(doc_id, '.', 1) AS INTEGER) <> 5""".stripMargin),
    // bounded backfill: the landed fixture corpus (8 parquet files)
    // consumed by a file-source stream at maxFilesPerTrigger=3 under
    // Trigger.AvailableNow — >=3 bounded micro-batches, each committing
    // through the snapshot log, then the query STOPS; the final table
    // must equal the batch pipeline's x01 golden row-for-row
    Query("x48_backfill", ((s, _) => {
      import s.implicits._
      val base = graft.io.Scratch.dir("graft-x48").toString
      val dir = s"$base/stats"
      s.createDataset(FixtureCorpus.fixtureDocs)
        .repartitionByRange(8, col("doc_id"))
        .write.parquet(s"$base/landing")
      val batches = graft.streaming.StreamExtract.backfillCommittedStats(
        s, s"$base/landing", s"$base/ckpt", dir, maxFilesPerTrigger = 3)
      require(batches >= 3,
        s"rate limit ignored: 8 files at 3/trigger gave $batches batches")
      Checkpointing.readAt(s, dir, batches).transform(statCols)
    }),
      // bounded backfill must land exactly the batch pipeline's output
      FixtureGoldens.fixtureStats),
    // Iceberg-style data skipping over the committed table: three commits
    // with disjoint doc_ord ranges, then a range scan of ords 6..9 that
    // must PLAN only the middle commit's files. The skip is pinned the
    // hard way: every file the stats prune is overwritten with garbage
    // BEFORE the scan, so a plan that opened one of them would throw —
    // at 100 TB this is the difference between reading the matching files
    // and a table scan with a residual filter
    Query("x49_file_skipping", ((s, _) => {
      import s.implicits._
      val docs = s.createDataset(FixtureCorpus.fixtureDocs)
      val dir = graft.io.Scratch.dir("graft-x49").toString + "/stats"
      def runCommit(lo: Long, hi: Long, run: String): Unit = {
        val r = ExtractionPipeline.run(s,
          docs.filter(d => {
            val o = SpanDoc.docOrd(d.doc_id); o >= lo && o <= hi
          }), persistIntermediate = false)
        Checkpointing.commit(
          r.stats.toDF().repartitionByRange(2, col("doc_ord")), dir, run)
      }
      runCommit(1, 5, "r1"); runCommit(6, 10, "r2"); runCommit(11, 16, "r3")
      val (kept, skipped) = Checkpointing.pruneInfo(dir, 3, 6, 9)
      val r2Files = Checkpointing.snapshots(dir)
        .find(_.runId == "r2").get.files.toSet
      require(skipped.nonEmpty && kept.toSet.subsetOf(r2Files),
        s"stats pruning regressed: kept=$kept skipped=$skipped")
      skipped.foreach(n => java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/$n"), "poison".getBytes("UTF-8")))
      Checkpointing.readRange(s, dir, 3, 6, 9).transform(statCols)
    }),
      // the pruned range scan = x01's golden restricted to ords 6..9
      s"""SELECT * FROM (${FixtureGoldens.fixtureStats}) AS v
         |WHERE CAST(split_part(doc_id, '.', 1) AS INTEGER) BETWEEN 6 AND 9""".stripMargin),
    // write-audit-publish — the risky-backfill flow: docs 10..16 are
    // STAGED (data files on disk, invisible to every reader — pinned),
    // audited on the would-be table, then published as a metadata-only
    // promote; a second batch re-extracting docs 1..3 FAILS the
    // duplicate-id audit and is abandoned without the table ever seeing
    // it. Final table must equal x01's golden exactly.
    Query("x50_write_audit_publish", ((s, _) => {
      import s.implicits._
      val docs = s.createDataset(FixtureCorpus.fixtureDocs)
      val dir = graft.io.Scratch.dir("graft-x50").toString + "/stats"
      val r1 = ExtractionPipeline.run(s,
        docs.filter(d => SpanDoc.docOrd(d.doc_id) <= 9), persistIntermediate = false)
      Checkpointing.commit(r1.stats.toDF(), dir, "run1")
      val r2 = ExtractionPipeline.run(s,
        docs.filter(d => SpanDoc.docOrd(d.doc_id) > 9), persistIntermediate = false)
      Checkpointing.stage(r2.stats.toDF(), dir, "backfill")
      require(Checkpointing.readAt(s, dir,
        Checkpointing.snapshots(dir).last.seq).count() == 9,
        "staged rows leaked into the committed table")
      val clean = Checkpointing.readStaged(s, dir, "backfill")
        .groupBy("doc_id").count().filter(col("count") > 1).count() == 0
      require(clean, "backfill audit failed")
      Checkpointing.publish(dir, "backfill")
      val bad = ExtractionPipeline.run(s,
        docs.filter(d => SpanDoc.docOrd(d.doc_id) <= 3), persistIntermediate = false)
      Checkpointing.stage(bad.stats.toDF(), dir, "redo")
      val dupes = Checkpointing.readStaged(s, dir, "redo")
        .groupBy("doc_id").count().filter(col("count") > 1).count()
      require(dupes == 3, s"audit should catch 3 duplicate ids, got $dupes")
      Checkpointing.abandon(dir, "redo")
      require(Checkpointing.vacuum(dir).isEmpty, "abandon left debris")
      Checkpointing.readAt(s, dir, 2).transform(statCols)
    }),
      // publish(10..16) + abandoned redo(1..3) must leave exactly the golden
      FixtureGoldens.fixtureStats),
    // C12: per-file status counts (main_parse_pdfs.py:520-532)
    Query("x12_status_counts", ((s, _) =>
      result(s).stats.toDF().groupBy("status").count()),
      FixtureGoldens.statusCounts),
    // S5: the xlsx sink (the reference's actual sheet format) — write the
    // pivot, read it back, and the result must hash-match x03's oracle
    Query("x16_xlsx_roundtrip", ((s, _) => {
      import s.implicits._
      val pivot = result(s).pivot
      val path = graft.io.Scratch.dir("graft-x16")
        .resolve("pivot.xlsx").toString
      graft.io.Xlsx.write(pivot, path)
      val (header, rows) = graft.io.Xlsx.read(path)
      val data = rows.map(r =>
        (r(0).toDouble.toInt, r(1), r(2), r(3), r(4), r(5)))
      s.createDataset(data).toDF(header: _*)
    }),
      // the xlsx round trip must reproduce the pivot exactly
      FixtureGoldens.fixturePivot),
    // HTML boilerplate strip / DOM heuristics (the north rule's third
    // capability; no reference impl — semantics are the published
    // jusText/Boilerpipe heuristics, see Boilerplate.scala). x17 exposes
    // the per-block classification; x18 the emitted main-content span
    // sequence (the engine's input_hint shape — HTML as a second source).
    Query("x17_boilerplate_blocks", ((s, _) => {
      import s.implicits._
      s.createDataset(HtmlFixtures.docs).flatMap { d =>
        Boilerplate.blocks(d.html).map { b =>
          (d.doc_id, b.idx, b.tag, b.tagPath, b.nWords,
            math.floor(b.linkDensity * 10000).toLong,
            math.floor(b.stopwordDensity * 10000).toLong,
            b.heading, b.label, b.text)
        }
      }.toDF("doc_id", "block_idx", "tag", "tag_path", "n_words",
        "link_density_bp", "stopword_bp", "heading", "label", "text")
    }),
      FixtureGoldens.boilerplateBlocks),
    Query("x18_main_spans", ((s, _) => {
      import s.implicits._
      Boilerplate.extractMain(s.createDataset(HtmlFixtures.docs)).flatMap { d =>
        d.spans.map(sp => (d.doc_id, sp.offset, sp.kind, sp.text, sp.media_ref))
      }.toDF("doc_id", "ord", "kind", "text", "media_ref")
    }),
      FixtureGoldens.mainSpans),
    // the web-scale ingestion chain end to end: HTML payloads inside a
    // WARC/1.0 container (the crawl interchange format, warcinfo record
    // skipped) -> byte-accurate parse -> Boilerplate main-content spans.
    // Must equal x18 exactly (shared golden oracle) — the container layer
    // cannot perturb a byte of the extraction.
    Query("x36_warc_extract", ((s, _) => {
      import s.implicits._
      val warc = graft.io.Warc.write(HtmlFixtures.docs.map(d =>
        graft.io.Warc.WarcRecord("response", d.doc_id, "text/html",
          d.html.getBytes(java.nio.charset.StandardCharsets.UTF_8))))
      val docs = s.createDataset(Seq(warc)).flatMap(bytes =>
        graft.io.Warc.responses(bytes).map {
          case (uri, html) => Boilerplate.HtmlDoc(uri, html)
        })
      Boilerplate.extractMain(docs).flatMap { d =>
        d.spans.map(sp => (d.doc_id, sp.offset, sp.kind, sp.text, sp.media_ref))
      }.toDF("doc_id", "ord", "kind", "text", "media_ref")
    }),
      // WARC-container ingestion must reproduce x18's extraction exactly
      FixtureGoldens.mainSpans),
    // the codegen tag-strip path: pure expression chain on both sides, so
    // the DuckDB oracle is genuinely independent logic (same regex chain
    // evaluated by RE2 over the same VALUES input)
    Query("x19_striptags", ((s, _) => {
      import s.implicits._
      s.createDataset(HtmlFixtures.docs).toDF("doc_id", "html")
        .select(col("doc_id"), Boilerplate.stripTagsColumn(col("html")).as("text"))
    }),
      s"""WITH corpus(doc_id, html) AS (VALUES
         |  $htmlValues)
         |SELECT doc_id, ${Boilerplate.stripTagsSql("html")} AS text FROM corpus""".stripMargin),
    // the PDF byte-stream source (io.Pdf): three fixture docs are rendered
    // to REAL PDF bytes driver-side, then the bytes are distributed and
    // each task parses its documents (startxref -> xref -> objects ->
    // content-stream lexing) back into the span model. The oracle is a
    // VALUES literal of the INPUT span definitions — the parser must
    // recover the authored content exactly through the byte round trip.
    Query("x23_pdf_roundtrip", ((s, _) => {
      import s.implicits._
      val bytes = pdfDocs.map(d => (d.doc_id, graft.io.Pdf.write(d)))
      s.createDataset(bytes).flatMap { case (id, b) =>
        graft.io.Pdf.parse(id, b).spans
          .map(sp => (id, sp.offset, sp.kind, sp.text, sp.media_ref))
      }.toDF("doc_id", "ord", "kind", "text", "media_ref")
    }),
      pdfSpansSql),
    // the same corpus through the DataSource V2 connector: write the
    // bytes as .pdf files, spark.read.format("graft-pdf").load — one
    // InputPartition per file, pruning honored; shares x23's
    // genuine-round-trip oracle (the INPUT span definitions)
    Query("x34_pdf_source", ((s, _) => {
      val dir = graft.io.Scratch
        .dir(s"graft-x34-${s.sparkContext.applicationId}")
      pdfDocs.foreach { d =>
        java.nio.file.Files.write(dir.resolve(d.doc_id), graft.io.Pdf.write(d))
      }
      s.read.format("graft-pdf").load(dir.toString)
    }),
      // the DSv2 connector must produce the same input spans
      pdfSpansSql),
    // the V2 WRITE path: span rows (scrambled) -> RequiresDistribution-
    // AndOrdering reassembles docs -> one .pdf per doc via the two-phase
    // commit -> read back through the connector; same input-VALUES oracle
    Query("x35_pdf_sink", ((s, _) => {
      import org.apache.spark.sql.functions.col
      val src = graft.io.Scratch
        .dir(s"graft-x35src-${s.sparkContext.applicationId}")
      pdfDocs.foreach { d =>
        java.nio.file.Files.write(src.resolve(d.doc_id), graft.io.Pdf.write(d))
      }
      val out = graft.io.Scratch
        .dir(s"graft-x35out-${s.sparkContext.applicationId}")
      s.read.format("graft-pdf").load(src.toString)
        .orderBy(col("text")).repartition(4)
        .write.format("graft-pdf").mode("append").save(out.toString)
      s.read.format("graft-pdf").load(out.toString)
    }),
      // ...and so must the connector-written files read back
      pdfSpansSql),
    // C15 driver-visible: the SAME pipeline with salted (chunked) extraction
    // of oversized documents (saltPages=16 chunks the 200-page F14 into 13
    // page-range chunks; SaltedExtractSpec proves bit-identity, this row
    // makes the driver's oracle see it). Shares x05's golden span oracle —
    // identical output IS the contract.
    Query("x38_salted_extract", ((s, _) => {
      import s.implicits._
      val r = ExtractionPipeline.run(s, s.createDataset(FixtureCorpus.fixtureDocs),
        saltPages = Some(16), persistIntermediate = false)
      r.outSpans.toDF().select(
        col("doc_id"), col("ord"), col("kind"), col("text"), col("media_ref"))
    }),
      // salted extraction must be bit-identical to the unsalted pipeline
      FixtureGoldens.fixtureSpans),
    // Interleaved multimodal packing: the extraction output's span stream
    // priced per modality (text spans cost their whitespace tokens, media
    // spans a fixed 576-token vision-patch budget) and laid out into fixed
    // 256-token training sequences by the distributed two-pass prefix sum
    // (Packing) — the layout step a multimodal trainer consumes from the
    // north rule's interleaved text+media table.
    Query("x52_interleaved_pack", ((s, _) => {
      val spans = result(s).outSpans.toDF()
      // pack + join back on doc_id itself (packSequencesBy keeps the key's
      // native type) — a parsed numeric prefix as the join key would
      // cross-match rows if two ids ever shared a prefix or one lacked it
      val costs = spans.select(
          col("doc_id"),
          when(col("kind") === "media", lit(576L))
            .otherwise(size(split(trim(lower(col("text"))), "\\s+")).cast("long"))
            .as("cost"),
          when(col("kind") === "media", lit(1L)).otherwise(lit(0L)).as("is_media"))
        .groupBy(col("doc_id"))
        .agg(sum("cost").as("doc_cost"), count(lit(1)).as("n_spans"),
          sum("is_media").as("n_media"))
      val packed = graft.ops.Packing.packSequencesBy(
        costs.select(col("doc_id"), col("doc_cost")),
        "doc_id", "doc_cost", budget = 256L)
      costs.join(packed.select(col("doc_id"), col("stream_offset"),
          col("seq_id"), col("offset_in_seq")), Seq("doc_id"))
        .select(col("doc_id"), col("doc_cost"), col("n_spans"), col("n_media"),
          col("stream_offset"), col("seq_id"), col("offset_in_seq"))
    }),
      // x52: the packing math replayed over x05's golden span VALUES — per-doc
      // modality-priced cost, exclusive prefix sum in doc_id (lexicographic)
      // order, integer div/mod by the 256-token budget
      s"""WITH spans AS (${FixtureGoldens.fixtureSpans}),
         |costs AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN kind = 'media' THEN 576
         |         ELSE len(regexp_split_to_array(trim(lower(text)), '\\s+'))
         |         END) AS BIGINT) AS doc_cost,
         |    count(*) AS n_spans,
         |    CAST(sum(CASE WHEN kind = 'media' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_media
         |  FROM spans GROUP BY 1),
         |packed AS (
         |  SELECT *,
         |    CAST(COALESCE(sum(doc_cost) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS stream_offset
         |  FROM costs)
         |SELECT doc_id, doc_cost, n_spans, n_media, stream_offset,
         |  stream_offset // 256 AS seq_id,
         |  stream_offset % 256 AS offset_in_seq
         |FROM packed""".stripMargin),
    // M4+M5+M7+P7+P8 composed: the v1 TableFinder bbox-continuation flow
    // (find_tables_with_context, table_finder.py:23-90)
    Query("x14_fixture_tablefinder", ((s, _) => {
      import s.implicits._
      s.createDataset(FixtureCorpus.fixtureDocs).flatMap { d =>
        TableFinder.findTablesWithContext(SpanDoc.pages(d.spans)).zipWithIndex.map {
          case (t, i) =>
            (d.doc_id, i, t.startPage, t.endPage,
              t.bbox._1.toLong, t.bbox._2.toLong, t.bbox._3.toLong, t.bbox._4.toLong,
              t.precedingText, t.headers.mkString("|"))
        }
      }.toDF("doc_id", "tbl_idx", "start_page", "end_page",
        "x0", "y0", "x1", "y1", "caption", "header_region")
    }),
      FixtureGoldens.fixtureTablefinder)
  )
}
