package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.MonthFinder
import graft.ops.{Dedup, Similarity, TextAnalysis}
import graft.streaming.Events
import SparkEntry.{t, tIds}
import Oracles._

/** The training-data curation queries: near-duplicate clustering and
  * keepers, link ranking, quality, language and model gates, tokenizers,
  * search, sampling, mixtures and corpus builds, with their streaming
  * replays, plus the table lifecycle, engine surfaces (AQE, pruning,
  * bloom joins, SQL) and the file-format round trips. Each [[Query]] holds
  * its Spark plan and the DuckDB oracle the driver checks it against. */
object Curation {

  /** The q74 train+apply chain as CTEs over any doc relation exposing
    * (doc_id, text) — `documents` for q74/x66, the cleaned CTE for q77's
    * composed funnel. Yields lab/dt/cnt/tot/mdl/sc; the caller selects. */
  private def nbClassifierCtes(src: String): String =
    s"""lab AS (
       |  SELECT doc_id, $toks AS toksv,
       |    ($qualityBpSql) >= ${graft.ops.Classifier.DefaultSeedThreshBp} AS hi
       |  FROM $src),
       |dt AS (
       |  SELECT doc_id, hi, w, count(*) AS k FROM (
       |    SELECT doc_id, hi, unnest(toksv) AS w FROM lab)
       |  WHERE w <> '' GROUP BY 1, 2, 3),
       |cnt AS (
       |  SELECT w,
       |    sum(CASE WHEN hi THEN k ELSE 0 END) AS c1,
       |    sum(CASE WHEN NOT hi THEN k ELSE 0 END) AS c0
       |  FROM dt GROUP BY 1),
       |tot AS (SELECT sum(c1) AS n1, sum(c0) AS n0, count(*) AS v FROM cnt),
       |mdl AS (
       |  SELECT w, (p1m * 1000000) // greatest(p0m, 1) AS lr_micro FROM (
       |    SELECT w, ((c1 + 1) * 1000000) // (n1 + v) AS p1m,
       |      ((c0 + 1) * 1000000) // (n0 + v) AS p0m
       |    FROM cnt, tot)),
       |sc AS (
       |  SELECT doc_id, hi, sum(k * lr_micro) AS sum_lr, sum(k) AS nk
       |  FROM dt JOIN mdl USING (w) GROUP BY 1, 2)""".stripMargin

  /** q74's full train+apply replay — shared with x66's streaming shadow
    * (per-doc scoring has no cross-batch coupling, so the replayed union
    * must equal the batch classifier exactly). */
  private lazy val nbClassifierSql: String =
    s"""WITH ${nbClassifierCtes("documents")}
       |SELECT l.doc_id, CAST(l.hi AS INT) AS seed_hi,
       |  CAST(coalesce(nk, 0) AS BIGINT) AS n_scored_tokens,
       |  CAST(coalesce(sum_lr // nk, 0) AS BIGINT) AS avg_lr_micro,
       |  CAST(coalesce(sum_lr // nk >= 1000000, false) AS INT) AS pred_hi
       |FROM lab l LEFT JOIN sc ON l.doc_id = sc.doc_id""".stripMargin

  /** q64's full replay — shared with x62's streaming shadow (the replayed
    * per-batch union must equal the batch operator exactly). */
  /** Shared by q93 (batch) and x81 (streaming replay): brute-force
    * hamming over the rebuilt sign signature, no band predicate. */
  private lazy val signatureNearDupSql: String =
    """WITH s AS (
      |  SELECT vec_id AS doc_id,
      |    (SELECT bit_or(CASE
      |       WHEN i = 63 AND embedding[64] > 0
      |         THEN (-9223372036854775807 - 1)::BIGINT
      |       WHEN i < 63 AND embedding[CAST(i + 1 AS BIGINT)] > 0
      |         THEN (1::BIGINT << i)
      |       ELSE 0::BIGINT END)
      |     FROM range(0, 64) t(i)) AS sig
      |  FROM embeddings)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
      |FROM s a JOIN s b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.sig, b.sig)) <= 15""".stripMargin

  /** Token-budget mixture: per-source exclusive token cumsum in doc_id
    * order; kept iff under that source's budget (the crossing doc
    * included) — shared by q63 (batch) and x57 (streaming shadow). */
  private lazy val tokenBudgetMixSql =
    s"""WITH w AS (
       |  SELECT doc_id, source, CAST(len($toks) AS BIGINT) AS n_tokens
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, source, n_tokens,
       |    CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY source
       |      ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS cum_before
       |  FROM w)
       |SELECT doc_id, source, n_tokens, cum_before FROM p
       |WHERE cum_before < CASE source WHEN 'src0' THEN 500
       |  WHEN 'src1' THEN 900 ELSE 700 END""".stripMargin

  /** q38's full repetition-profile SELECT, shared with q47's funnel
    * oracle. Word/bigram/trigram repetition in integral basis points;
    * top-word count via per-word grouping (equivalent to the engine's
    * sorted-array run-length fold). */
  private lazy val repetitionOracleSql: String =
    s"""WITH base AS (SELECT doc_id, $toks AS toks FROM documents),
       |g AS (
       |  SELECT doc_id, toks,
       |    list_transform(range(0, greatest(len(toks)-1, 0)),
       |      i -> concat_ws(' ', toks[i+1], toks[i+2])) AS g2,
       |    list_transform(range(0, greatest(len(toks)-2, 0)),
       |      i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])) AS g3
       |  FROM base),
       |wc AS (SELECT doc_id, w, count(*) AS c
       |       FROM (SELECT doc_id, unnest(toks) AS w FROM base) GROUP BY 1, 2),
       |top AS (SELECT doc_id, max(c) AS mx FROM wc GROUP BY 1),
       |m AS (
       |  SELECT g.doc_id,
       |    CAST(len(g.toks) AS BIGINT) AS n_words,
       |    CASE WHEN len(g.toks) > 0 THEN CAST(floor(len(list_distinct(g.toks))*10000.0/len(g.toks)) AS BIGINT) ELSE 0 END AS distinct_word_bp,
       |    CASE WHEN len(g.toks) > 0 THEN CAST(floor(t.mx*10000.0/len(g.toks)) AS BIGINT) ELSE 0 END AS top_word_bp,
       |    CASE WHEN len(g.g2) > 0 THEN CAST(floor((len(g.g2) - len(list_distinct(g.g2)))*10000.0/len(g.g2)) AS BIGINT) ELSE 0 END AS dup_bigram_bp,
       |    CASE WHEN len(g.g3) > 0 THEN CAST(floor((len(g.g3) - len(list_distinct(g.g3)))*10000.0/len(g.g3)) AS BIGINT) ELSE 0 END AS dup_trigram_bp
       |  FROM g JOIN top t ON t.doc_id = g.doc_id)
       |SELECT m.*,
       |  CAST((distinct_word_bp >= 2000 AND top_word_bp <= 2500
       |        AND dup_trigram_bp <= 6000) AS INT) AS keep
       |FROM m""".stripMargin

  /** The 64-bit sign signature of each embedding (bit i = dim i
    * positive) as (doc_id, sig): the input of q93, q94 and x81. */
  private def signSigs(emb: DataFrame): DataFrame = emb.select(
    col("vec_id").as("doc_id"),
    expr("aggregate(transform(sequence(0, 63), i -> " +
      "IF(element_at(embedding, CAST(i + 1 AS INT)) > 0F, " +
      "shiftleft(CAST(1 AS BIGINT), CAST(i AS INT)), " +
      "CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, x) -> a | x)").as("sig"))

  /** Frequent tokens: q45 (batch) and x56 (its streaming sketch). */
  private val heavyHittersSql: String =
    s"""WITH w AS (SELECT unnest($toks) AS term FROM documents),
       |tot AS (SELECT count(*) AS n FROM w),
       |c AS (SELECT term, count(*) AS cnt FROM w GROUP BY 1)
       |SELECT term, cnt FROM c, tot WHERE cnt * 400 > n""".stripMargin

  /** Per-source totals of `documents` (Spark, then DuckDB): the parquet
    * truth x29, x43 and x44 must read back through their formats. */
  private def sourceTotals(docs: DataFrame): DataFrame = docs.groupBy("source")
    .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
      sum(length(col("text"))).as("total_text_len"))

  private val sourceTotalsSql: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  CAST(sum(length(text)) AS BIGINT) AS total_text_len
      |FROM documents GROUP BY 1""".stripMargin

  val queries: Seq[Query] = Seq(
    // ---- connected components over the near-dup pair graph: the
    //      transitive-closure step a fuzzy-dedup pass needs before
    //      choosing keepers (a~b, b~c => one cluster of three). Min-label
    //      propagation, one 16-byte-row shuffle per round, rounds bounded
    //      by the (tiny) cluster diameter. Oracle: recursive CTE over the
    //      SAME pair SQL as q14.
    //      localSolveEdges=0 pins the DISTRIBUTED large-star/small-star
    //      contraction under the cross-engine gate (q53/q57 exercise the
    //      hybrid local tail, the driver-scale default) — without it every
    //      driver-scale run would take the pre-loop union-find path and
    //      the contraction rounds would be covered by unit tests only
    Query("q37_dup_clusters", ((s, d) =>
      graft.ops.Components.dupClusters(
        graft.ops.Dedup.ngramJaccardPairs(t(s, d, "documents"),
          minJaccardBp = 2000L),
        localSolveEdges = 0L)),
      // connected components of the SAME pair graph as q14: recursive
      // min-label closure, then component sizes (component = min doc id)
      s"""WITH RECURSIVE pairs AS ($ngramPairsOracleSql),
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
         |comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id)
         |SELECT component, count(*) AS n_docs FROM comp GROUP BY 1""".stripMargin),
    // ---- the FULL keeper manifest: q37's clustering plus singleton
    //      rows for every pair-less doc (includeIsolatedFrom), running
    //      with DURABLE per-round checkpoints (executor-loss-safe star
    //      contraction) — the cluster-grade configuration driver-checked
    // ---- QUALITY-AWARE keeper: within each q37 near-dup cluster keep
    //      the LONGEST copy (ties -> lowest id) — the "keep the most
    //      complete variant" dedup policy, emitted as a per-doc decision
    //      manifest. The argmax key is one BIGINT (len·2^32 − id) so
    //      Spark's max_by and DuckDB's arg_max replay it bit-exactly.
    Query("q92_best_copy_keepers", ((s, d) => {
      val docs = t(s, d, "documents")
      graft.ops.Components.bestCopyKeepers(
        graft.ops.Dedup.ngramJaccardPairs(docs, minJaccardBp = 2000L),
        docs.select(col("doc_id"), length(col("text")).cast("long")))
    }),
      // q37's closure re-labeled to min-id components, every doc joined in
      // (isolated docs are their own component), keeper = arg_max on the
      // same composite key the Spark side builds
      s"""WITH RECURSIVE pairs AS ($ngramPairsOracleSql),
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
         |comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
         |labeled AS (
         |  SELECT d.doc_id AS id, COALESCE(c.component, d.doc_id) AS component,
         |    CAST(length(d.text) AS BIGINT) AS score
         |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
         |keyed AS (SELECT *, score * 4294967296 - id AS k FROM labeled),
         |keepers AS (SELECT component, arg_max(id, k) AS keeper
         |            FROM keyed GROUP BY 1)
         |SELECT y.id AS doc_id, y.component, p.keeper AS keeper_id,
         |  (y.id = p.keeper) AS kept
         |FROM keyed y JOIN keepers p USING (component)""".stripMargin),
    // ---- GENERIC 64-bit-signature near-dup exercised on a third
    //      modality (beyond q60's text SimHash and x60's image aHash):
    //      an audio-fingerprint-shaped sign signature folded from the
    //      embedding table's 64 dims (bit i = dim i positive). Bands
    //      derived pigeonhole-complete from maxHamming; the oracle
    //      recomputes the signature and brute-forces hamming, so the
    //      banding is recall-checked, not just rows-counted.
    Query("q93_signature_near_dup", ((s, d) => {
      val sigs = signSigs(t(s, d, "embeddings"))
      graft.ops.Dedup.signatureNearDupPairs(sigs, maxHamming = 15)
    }),
      // q93: the oracle rebuilds the sign signature (bit 63 spelled as
      // Long.MinValue — DuckDB checks 1<<63 overflow where Java wraps) and
      // brute-forces all pairs, so the banded path is recall-audited; x81
      // (streaming) must converge to the same pair set
      signatureNearDupSql),
    // ---- q93's INGEST shape: pairs a delta batch introduces against a
    //      standing signature corpus — the persisted band index probed
    //      by broadcast delta rows, corpus never re-paired (the
    //      q55/q71 O(delta) discipline on the 64-bit-signature family).
    //      Oracle = the full brute-force restricted to delta-touching
    //      pairs, so the incremental path is equivalence-checked, not
    //      just counted
    Query("q94_incr_signature_near_dup", ((s, d) => {
      val sigs = signSigs(t(s, d, "embeddings"))
      graft.ops.Dedup.incrementalSignaturePairs(
        sigs.filter(col("doc_id") >= 300),
        sigs.filter(col("doc_id") < 300), maxHamming = 15)
    }),
      // q94: the full brute-force restricted to pairs touching the delta
      // (vec_id < 300) — hash equality proves the incremental index probe
      // is EQUIVALENT to re-pairing, not merely similar
      """WITH s AS (
        |  SELECT vec_id AS doc_id,
        |    (SELECT bit_or(CASE
        |       WHEN i = 63 AND embedding[64] > 0
        |         THEN (-9223372036854775807 - 1)::BIGINT
        |       WHEN i < 63 AND embedding[CAST(i + 1 AS BIGINT)] > 0
        |         THEN (1::BIGINT << i)
        |       ELSE 0::BIGINT END)
        |     FROM range(0, 64) t(i)) AS sig
        |  FROM embeddings)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 15
        |  AND (a.doc_id < 300 OR b.doc_id < 300)""".stripMargin),
    // ---- link-graph curation signal: fixed-iteration INTEGER PageRank
    //      over a deterministic formula graph on the documents table
    //      (each doc links to (i²+1) mod n and (7i+3) mod n — the
    //      quadratic map is non-bijective, so in-degrees spread 1..21
    //      at sf0.001 and the integer-truncation paths are exercised,
    //      not a regular graph's fixed point) — the
    //      domain-authority propagation a crawl pipeline runs before
    //      sampling. Integer arithmetic makes the power iteration
    //      order-independent, so the oracle unrolls the SAME three
    //      iterations in SQL and must match bit-exactly
    Query("q95_domain_rank", ((s, d) => {
      val docs = tIds(s, d, "documents").select(col("doc_id"))
      val n = docs.count()
      val edges = docs.select(col("doc_id").as("src"),
          ((col("doc_id") * col("doc_id") + 1L) % n).as("dst"))
        .unionByName(docs.select(col("doc_id").as("src"),
          ((col("doc_id") * 7L + 3L) % n).as("dst")))
      graft.ops.LinkGraph.domainRank(edges, iters = 3)
    }),
      // q95: the SAME three integer power iterations unrolled in SQL —
      // scaled-integer ranks commute, so the oracle must match bit-exactly
      // at every parallelism (a float PageRank could never be gated this way)
      """WITH ids AS (SELECT doc_id FROM documents),
        |cnt AS (SELECT count(*) AS n FROM documents),
        |e0 AS (
        |  SELECT doc_id AS src, (doc_id*doc_id+1) % cnt.n AS dst
        |  FROM ids, cnt
        |  UNION
        |  SELECT doc_id, (doc_id*7+3) % cnt.n FROM ids, cnt),
        |edges AS (SELECT src, dst FROM e0 WHERE src <> dst),
        |nodes AS (SELECT DISTINCT id
        |          FROM (SELECT src AS id FROM edges
        |                UNION ALL SELECT dst FROM edges) t),
        |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
        |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank FROM nodes),
        |c1 AS (SELECT e.dst, sum((r.rank * 85) // (100 * g.d)) AS m
        |       FROM edges e JOIN r0 r ON e.src = r.id
        |       JOIN deg g ON e.src = g.src GROUP BY 1),
        |r1 AS (SELECT n.id, 150000 + coalesce(c.m, 0) AS rank
        |       FROM nodes n LEFT JOIN c1 c ON n.id = c.dst),
        |c2 AS (SELECT e.dst, sum((r.rank * 85) // (100 * g.d)) AS m
        |       FROM edges e JOIN r1 r ON e.src = r.id
        |       JOIN deg g ON e.src = g.src GROUP BY 1),
        |r2 AS (SELECT n.id, 150000 + coalesce(c.m, 0) AS rank
        |       FROM nodes n LEFT JOIN c2 c ON n.id = c.dst),
        |c3 AS (SELECT e.dst, sum((r.rank * 85) // (100 * g.d)) AS m
        |       FROM edges e JOIN r2 r ON e.src = r.id
        |       JOIN deg g ON e.src = g.src GROUP BY 1),
        |r3 AS (SELECT n.id, 150000 + coalesce(c.m, 0) AS rank
        |       FROM nodes n LEFT JOIN c3 c ON n.id = c.dst)
        |SELECT id AS domain_id, CAST(rank AS BIGINT) AS rank
        |FROM r3""".stripMargin),
    // ---- q95's SEEDED form: topic-sensitive rank — teleport mass lands
    //      only on the vetted seed set (docs with id % 10 == 0), so
    //      authority flows strictly outward from seeds along links (the
    //      seed-quality-expansion signal a curation pipeline feeds its
    //      sampler). 269/500 sf0.01 nodes are >3 hops from every seed
    //      and rank exactly 0 — reachability is part of the contract
    Query("q96_seeded_rank", ((s, d) => {
      val docs = tIds(s, d, "documents").select(col("doc_id"))
      val n = docs.count()
      val edges = docs.select(col("doc_id").as("src"),
          ((col("doc_id") * col("doc_id") + 1L) % n).as("dst"))
        .unionByName(docs.select(col("doc_id").as("src"),
          ((col("doc_id") * 7L + 3L) % n).as("dst")))
      graft.ops.LinkGraph.domainRank(edges, iters = 3,
        seeds = Some(docs.filter(col("doc_id") % 10L === 0L)))
    }),
      // q96: q95's unrolled iterations with the teleport CASE'd to the seed
      // set — zero-rank rows (nodes >3 hops from every seed) are part of
      // the gated result, so reachability must match too
      """WITH ids AS (SELECT doc_id FROM documents),
        |cnt AS (SELECT count(*) AS n FROM documents),
        |e0 AS (
        |  SELECT doc_id AS src, (doc_id*doc_id+1) % cnt.n AS dst
        |  FROM ids, cnt
        |  UNION
        |  SELECT doc_id, (doc_id*7+3) % cnt.n FROM ids, cnt),
        |edges AS (SELECT src, dst FROM e0 WHERE src <> dst),
        |nodes AS (SELECT DISTINCT id, id % 10 = 0 AS is_seed
        |          FROM (SELECT src AS id FROM edges
        |                UNION ALL SELECT dst FROM edges) t),
        |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
        |r0 AS (SELECT id, CAST(CASE WHEN is_seed THEN 1000000 ELSE 0 END
        |                       AS BIGINT) AS rank FROM nodes),
        |c1 AS (SELECT e.dst, sum((r.rank * 85) // (100 * g.d)) AS m
        |       FROM edges e JOIN r0 r ON e.src = r.id
        |       JOIN deg g ON e.src = g.src GROUP BY 1),
        |r1 AS (SELECT n.id, CASE WHEN n.is_seed THEN 150000 ELSE 0 END
        |         + coalesce(c.m, 0) AS rank
        |       FROM nodes n LEFT JOIN c1 c ON n.id = c.dst),
        |c2 AS (SELECT e.dst, sum((r.rank * 85) // (100 * g.d)) AS m
        |       FROM edges e JOIN r1 r ON e.src = r.id
        |       JOIN deg g ON e.src = g.src GROUP BY 1),
        |r2 AS (SELECT n.id, CASE WHEN n.is_seed THEN 150000 ELSE 0 END
        |         + coalesce(c.m, 0) AS rank
        |       FROM nodes n LEFT JOIN c2 c ON n.id = c.dst),
        |c3 AS (SELECT e.dst, sum((r.rank * 85) // (100 * g.d)) AS m
        |       FROM edges e JOIN r2 r ON e.src = r.id
        |       JOIN deg g ON e.src = g.src GROUP BY 1),
        |r3 AS (SELECT n.id, CASE WHEN n.is_seed THEN 150000 ELSE 0 END
        |         + coalesce(c.m, 0) AS rank
        |       FROM nodes n LEFT JOIN c3 c ON n.id = c.dst)
        |SELECT id AS domain_id, CAST(rank AS BIGINT) AS rank
        |FROM r3""".stripMargin),
    // ---- the graph-signal-to-sampler composition: q95's rank over the
    //      20-node DOMAIN graph sets per-source quotas (∝ authority,
    //      integer DIV, floor at 1), q84's exact bottom-k-by-salted-hash
    //      fills them — authority-weighted corpus sampling, quotas
    //      spread 1..13 at sf0.01. Every stage integer/hash-exact, so
    //      the oracle replays rank, quota, and sample bit-for-bit
    Query("q97_rank_weighted_sample", ((s, d) => {
      val docs = tIds(s, d, "documents")
      val doms = docs.select(
        expr("CAST(substring(source, 4) AS BIGINT)").as("dom")).distinct()
      val edges = doms.select(col("dom").as("src"),
          ((col("dom") * col("dom") + 1L) % 20L).as("dst"))
        .unionByName(doms.select(col("dom").as("src"),
          ((col("dom") * 7L + 3L) % 20L).as("dst")))
      val ranks = graft.ops.LinkGraph.domainRank(edges, iters = 3)
        .select(concat(lit("src"), col("domain_id")).as("source"),
          col("rank"))
      graft.ops.Curation.rankWeightedSample(docs, "source", "doc_id",
        ranks, totalK = 100, salt = ":rws1")
    }),
      // q97: the full composition replayed — domain-graph rank (q95's
      // unrolled iterations over 20 nodes), integer quota derivation, and
      // the q84 salted-hash window, joined and trimmed to each quota
      """WITH doms AS (SELECT DISTINCT CAST(substring(source, 4) AS BIGINT)
        |              AS dom FROM documents),
        |e0 AS (
        |  SELECT dom AS src, (dom*dom+1) % 20 AS dst FROM doms
        |  UNION
        |  SELECT dom, (dom*7+3) % 20 FROM doms),
        |edges AS (SELECT src, dst FROM e0 WHERE src <> dst),
        |nodes AS (SELECT DISTINCT id
        |          FROM (SELECT src AS id FROM edges
        |                UNION ALL SELECT dst FROM edges) t),
        |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
        |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank FROM nodes),
        |c1 AS (SELECT e.dst, sum((r.rank * 85) // (100 * g.d)) AS m
        |       FROM edges e JOIN r0 r ON e.src = r.id
        |       JOIN deg g ON e.src = g.src GROUP BY 1),
        |r1 AS (SELECT n.id, 150000 + coalesce(c.m, 0) AS rank
        |       FROM nodes n LEFT JOIN c1 c ON n.id = c.dst),
        |c2 AS (SELECT e.dst, sum((r.rank * 85) // (100 * g.d)) AS m
        |       FROM edges e JOIN r1 r ON e.src = r.id
        |       JOIN deg g ON e.src = g.src GROUP BY 1),
        |r2 AS (SELECT n.id, 150000 + coalesce(c.m, 0) AS rank
        |       FROM nodes n LEFT JOIN c2 c ON n.id = c.dst),
        |c3 AS (SELECT e.dst, sum((r.rank * 85) // (100 * g.d)) AS m
        |       FROM edges e JOIN r2 r ON e.src = r.id
        |       JOIN deg g ON e.src = g.src GROUP BY 1),
        |r3 AS (SELECT n.id, 150000 + coalesce(c.m, 0) AS rank
        |       FROM nodes n LEFT JOIN c3 c ON n.id = c.dst),
        |quotas AS (
        |  SELECT 'src' || CAST(id AS VARCHAR) AS source,
        |    greatest(1, (rank * 100) // (SELECT sum(rank) FROM r3)) AS quota
        |  FROM r3),
        |f AS (
        |  SELECT source, doc_id,
        |    list_reduce(list_prepend(CAST(3421674724 AS HUGEINT),
        |      list_transform(split(CAST(doc_id AS VARCHAR) || ':rws1', ''),
        |        c -> CAST(ord(c) AS HUGEINT))),
        |      (h, c) -> (h * 1000003 + c) % (CAST(1 AS HUGEINT) << 64)) AS hu
        |  FROM documents),
        |r AS (
        |  SELECT source, doc_id,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY CAST(CASE WHEN hu >= (CAST(1 AS HUGEINT) << 63)
        |        THEN hu - (CAST(1 AS HUGEINT) << 64) ELSE hu END AS BIGINT),
        |        doc_id) AS INT) AS rn
        |  FROM f)
        |SELECT r.source, r.doc_id, r.rn, CAST(q.quota AS BIGINT) AS quota
        |FROM r JOIN quotas q USING (source)
        |WHERE r.rn <= q.quota""".stripMargin),
    Query("q53_dup_keepers", ((s, d) => {
      val ckpt = graft.io.Scratch
        .dir(s"graft-q53-${s.sparkContext.applicationId}")
      graft.ops.Components.dupClusters(
        graft.ops.Dedup.ngramJaccardPairs(t(s, d, "documents"),
          minJaccardBp = 2000L),
        includeIsolatedFrom = Some(t(s, d, "documents").select(col("doc_id"))),
        checkpointDir = Some(ckpt.toString))
    }),
      // q37's closure + a singleton row for every doc with no near-dup pair
      s"""WITH RECURSIVE pairs AS ($ngramPairsOracleSql),
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
         |comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id)
         |SELECT component, count(*) AS n_docs FROM comp GROUP BY 1
         |UNION ALL
         |SELECT d.doc_id AS component, 1 AS n_docs
         |FROM documents d WHERE d.doc_id NOT IN (SELECT id FROM verts)""".stripMargin),
    // ---- incremental clustering: fold a delta's near-dup pairs into a
    //      STANDING component labeling without re-clustering the corpus —
    //      the daily-ingest composition (q55 finds the delta's pairs
    //      without re-pairing the corpus; this folds them in without
    //      re-labeling it). prior = components over corpus-only (doc_id %
    //      7 != 3) minhash pairs; delta pairs = q55's output; result must
    //      equal a FROM-SCRATCH closure over the full q15 pair set — the
    //      oracle recomputes exactly that in DuckDB.
    Query("q58_incremental_components", ((s, d) => {
      val docs = t(s, d, "documents")
      val corpus = docs.filter(col("doc_id") % 7 =!= 3)
      val delta = docs.filter(col("doc_id") % 7 === 3)
      val prior = graft.ops.Components.connectedComponentsStar(
        graft.ops.Dedup.minhashLshPairs(corpus, minJaccardBp = 2000L),
        "doc_a", "doc_b")
      graft.ops.Components.incrementalComponents(prior,
        graft.ops.Dedup.incrementalMinhashPairs(corpus, delta,
          minJaccardBp = 2000L),
        "doc_a", "doc_b")(_.localCheckpoint()) // materialized before the fold releases its caches
    }),
      // incremental components: the labeling produced by merging q55's delta
      // pairs into the corpus-only prior must be ROW-IDENTICAL to a
      // from-scratch min-label closure over the FULL q15 pair graph (corpus
      // pairs are already inside prior; every pair touching the delta is in
      // q55's output, so the union IS the full graph)
      liveClustersSql),
    // ---- vocabulary coverage: minimal frequency-ranked vocab prefix
    //      covering 95% of token instances — the global cumulative sum
    //      runs on Packing's two-pass distributed prefix scan, never a
    //      SinglePartition window
    Query("q59_vocab_coverage", ((s, d) =>
      TextAnalysis.vocabCoverage(t(s, d, "documents"), coverageBp = 9500L)),
      // vocab coverage: exclusive cumulative token-instance share over the
      // (cnt desc, token asc) ranking, integer basis points, prefix below 95%
      s"""WITH tok AS (
         |  SELECT unnest($toks) AS token FROM documents),
         |cnt AS (
         |  SELECT token, count(*) AS cnt FROM tok WHERE token <> ''
         |  GROUP BY 1),
         |c AS (
         |  SELECT token, cnt,
         |    coalesce(sum(cnt) OVER (ORDER BY cnt DESC, token ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS cum_before,
         |    sum(cnt) OVER () AS total
         |  FROM cnt)
         |SELECT token, cnt,
         |  CAST(cum_before AS BIGINT) AS cum_before,
         |  CAST(cum_before * 10000 // total AS BIGINT) AS cum_before_bp
         |FROM c WHERE cum_before * 10000 < 9500 * total""".stripMargin),
    // ---- Gopher-style word-repetition quality metrics, expression-only
    //      (map-side inside the scan stage; integral basis points)
    Query("q38_repetition_profile", ((s, d) =>
      graft.ops.Curation.repetitionProfile(t(s, d, "documents"))
        .withColumn("keep", col("keep").cast("int"))),
      repetitionOracleSql),
    // ---- PII redaction over a deterministic synthetic payload (the
    //      test tables carry no PII, so the query constructs one per doc
    //      from its id; the regexp chain is codegen'd, count and replace
    //      share the same patterns)
    Query("q39_pii_scrub", ((s, d) => {
      val payload = t(s, d, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"),
          concat(
            lit("reach me at user"), col("doc_id"), lit("@example.com or +1-415-5"),
            lpad(pmod(col("doc_id"), lit(100)).cast("string"), 2, "0"),
            lit("-1000 host 192.168."),
            pmod(col("doc_id"), lit(256)).cast("string"),
            lit(".1 card 4111 1111 1111 "),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
            lit(" done")).as("payload"))
      graft.ops.Curation.piiScrub(payload, "payload")
        .select("doc_id", "scrubbed", "n_redactions")
    }),
      {
        val payload = "'reach me at user' || CAST(doc_id AS VARCHAR) || " +
          "'@example.com or +1-415-5' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || " +
          "'-1000 host 192.168.' || CAST(doc_id % 256 AS VARCHAR) || " +
          "'.1 card 4111 1111 1111 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' done'"
        val (scrub, count) = graft.ops.Curation.piiScrubSql("payload")
        s"""WITH p AS (
         |  SELECT doc_id, $payload AS payload
         |  FROM documents WHERE doc_id < 50)
         |SELECT doc_id, $scrub AS scrubbed,
         |  CAST($count AS BIGINT) AS n_redactions
         |FROM p""".stripMargin
      }),
    // ---- BM25-family keyword search: postings built only for the query
    //      terms (token filter BEFORE explode), df/corpus stats
    //      broadcast, top-k via TakeOrderedAndProject — no global sort
    Query("q40_bm25_search", ((s, d) =>
      graft.ops.Search.bm25TopK(t(s, d, "documents"),
        Seq("join", "stream", "window"), k = 20)),
      graft.ops.Search.bm25Sql(toks, Seq("join", "stream", "window"), 20)),
    // ---- deterministic stratified sampling: salted hash buckets per
    //      stratum (downsample hot sources), aggregated to per-source
    //      survivor counts
    Query("q41_stratified_sample", ((s, d) =>
      graft.ops.Curation.stratifiedSample(tIds(s, d, "documents"),
          "source", "doc_id",
          rates = Map("src0" -> 20, "src1" -> 20, "src2" -> 50),
          defaultRate = 80, salt = ":strat1")
        .groupBy("source")
        .agg(max("sample_rate").as("sample_rate"),
          count(lit(1)).as("n_kept"),
          sum("n_chars").as("kept_chars"))),
      // the q35 fingerprint replay with the ':strat1' salt, then the same
      // per-source CASE rates
      s"""WITH f AS (
         |  SELECT doc_id, source, n_chars,
         |    list_reduce(
         |      list_prepend(CAST(3421674724 AS HUGEINT),
         |        list_transform(split(CAST(doc_id AS VARCHAR) || ':strat1', ''),
         |          c -> CAST(ord(c) AS HUGEINT))),
         |      (h, c) -> (h * 1000003 + c) % (CAST(1 AS HUGEINT) << 64)) AS hu
         |  FROM documents),
         |b AS (
         |  SELECT doc_id, source, n_chars,
         |    CAST((((CASE WHEN hu >= (CAST(1 AS HUGEINT) << 63)
         |          THEN hu - (CAST(1 AS HUGEINT) << 64) ELSE hu END) % 100)
         |        + 100) % 100 AS BIGINT) AS bucket
         |  FROM f),
         |r AS (
         |  SELECT *, CASE WHEN source = 'src0' THEN 20 WHEN source = 'src1' THEN 20
         |    WHEN source = 'src2' THEN 50 ELSE 80 END AS sample_rate
         |  FROM b)
         |SELECT source, max(sample_rate) AS sample_rate, count(*) AS n_kept,
         |  CAST(sum(n_chars) AS BIGINT) AS kept_chars
         |FROM r WHERE bucket < sample_rate GROUP BY 1""".stripMargin),
    // ---- per-domain corpus caps: keep the top-10 largest docs per
    //      source via the k-bounded TopK aggregator (shuffle carries
    //      k*groups, not rows)
    Query("q42_domain_caps", ((s, d) =>
      graft.ops.TopK.topKByValueStr(
        tIds(s, d, "documents").select(col("source"), col("n_chars"), col("doc_id")),
        "source", "n_chars", "doc_id", k = 10)),
      """SELECT source, doc_id, CAST(rn AS INT) AS rn FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents) WHERE rn <= 10""".stripMargin),
    // ---- token-budgeted mixture: per-source greedy prefix in doc_id
    //      order until the source's TOKEN budget is spent (budgets are
    //      floors — the crossing doc is kept); one stratum-partitioned
    //      window, append-stable under corpus growth
    Query("q63_token_budget_mix", ((s, d) =>
      graft.ops.Curation.tokenBudgetMix(
        t(s, d, "documents").select(col("doc_id"), col("source"),
          size(Dedup.tokens(col("text"))).cast("long").as("n_tokens")),
        "source", "doc_id", "n_tokens",
        budgets = Map("src0" -> 500L, "src1" -> 900L),
        defaultBudget = 700L)),
      // q63: per-source exclusive token cumsum in doc_id order; kept iff
      // under that source's budget (the crossing doc included)
      tokenBudgetMixSql),
    // ---- corpus build v2: the session-2 operators composed into the
    //      full training-data pipeline — unicode clean (map-side) ->
    //      sentence-level exact dedup -> bigram-LM fluency gate ->
    //      per-source token budgets -> deterministic epoch shuffle.
    //      Every stage is one of q64/q65/q66/q63/q67; the oracle chains
    //      the same SQL pieces end to end
    Query("q72_corpus_build2", ((s, d) => {
      val docs = t(s, d, "documents")
      val cleaned = graft.ops.Curation.unicodeClean(docs, "text")
        .select(col("doc_id"), col("source"), col("clean_text").as("text"))
      val deduped = Dedup.sentenceDedup(cleaned, unitTokens = 12,
          carryCols = Seq("source"))
        .select(col("doc_id"), col("clean_text").as("text"),
          col("n_kept_tokens").as("n_tokens"), col("source"))
      val fluent = TextAnalysis.lmFluency(deduped)
        .filter(col("avg_cond_micro") >= 34000L).select("doc_id")
      // text is DROPPED before any further join — the fluency semi-join
      // and everything downstream carry (id, source, n_tokens) only
      val kept = deduped.select("doc_id", "source", "n_tokens")
        .join(fluent, "doc_id")
      val mixed = graft.ops.Curation.tokenBudgetMix(
        kept.select(col("doc_id"), col("source"), col("n_tokens")),
        "source", "doc_id", "n_tokens",
        budgets = Map("src0" -> 500L, "src1" -> 900L),
        defaultBudget = 700L)
      graft.ops.Curation.corpusShuffle(
          mixed.select(col("doc_id"), col("source"), col("n_tokens")),
          "doc_id", nShards = 8, seed = 2L)
        .select("doc_id", "source", "n_tokens", "shuffle_key", "shard", "pos")
    }),
      // q72: the q65 clean, q64 dedup, q66 LM, q63 mix, and q67 shuffle
      // SQL pieces chained end to end — one oracle for the composed funnel
      s"""WITH cl AS (
         |  SELECT doc_id, source,
         |    trim(regexp_replace(
         |      regexp_replace(nfc_normalize(text),
         |        '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
         |      '\\s+', ' ', 'g')) AS text
         |  FROM documents),
         |tk AS (
         |  SELECT doc_id, source,
         |    regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
         |  FROM cl),
         |units AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |    list_reduce(list_prepend(CAST(3421674724 AS HUGEINT),
         |      list_transform(
         |        split(array_to_string(
         |          tk[CAST(i*12+1 AS BIGINT):CAST(i*12+12 AS BIGINT)], ' '), ''),
         |        c -> CAST(ord(c) AS HUGEINT))),
         |      (h, c) -> (h * 1000003 + c) % (CAST(1 AS HUGEINT) << 64)) AS h
         |  FROM tk, UNNEST(range(0, (len(tk)-1)//12 + 1)) AS t(i)),
         |r AS (
         |  SELECT doc_id, pos,
         |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
         |    count(*) OVER (PARTITION BY h) AS occ
         |  FROM units),
         |drops AS (
         |  SELECT doc_id, list(pos ORDER BY pos) AS drops
         |  FROM r WHERE occ > 1 AND rn > 1 GROUP BY 1),
         |ded AS (
         |  SELECT tk.doc_id, tk.source,
         |    list_transform(
         |      list_filter(range(0, CAST(len(tk.tk) AS BIGINT)),
         |        p -> drops.drops IS NULL
         |          OR NOT list_contains(drops.drops, p // 12)),
         |      p -> tk.tk[CAST(p AS BIGINT) + 1]) AS keptl
         |  FROM tk LEFT JOIN drops USING (doc_id)),
         |bi AS (
         |  SELECT doc_id, keptl[CAST(i AS BIGINT)] || ' ' || keptl[CAST(i+1 AS BIGINT)] AS bg
         |  FROM ded, UNNEST(range(1, len(keptl))) AS t(i)
         |  WHERE len(keptl) >= 2),
         |docbi AS (SELECT doc_id, bg, count(*) AS k FROM bi GROUP BY 1, 2),
         |bic AS (SELECT bg, sum(k) AS c12 FROM docbi GROUP BY 1),
         |pre AS (
         |  SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS c1
         |  FROM bic GROUP BY 1),
         |lm AS (
         |  SELECT bg, c12, c1 FROM bic
         |  JOIN pre ON split_part(bg, ' ', 1) = w1),
         |sc AS (
         |  SELECT d.doc_id, sum(d.k) AS nb,
         |    sum(d.k * ((c12 * 1000000) // c1)) AS sm
         |  FROM docbi d JOIN lm USING (bg) GROUP BY 1),
         |kept AS (
         |  SELECT ded.doc_id, ded.source,
         |    CAST(len(ded.keptl) AS BIGINT) AS n_tokens
         |  FROM ded JOIN sc USING (doc_id)
         |  WHERE sc.nb > 0 AND sm // nb >= 34000),
         |mix AS (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY source
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum_before
         |  FROM kept),
         |mixed AS (
         |  SELECT doc_id, source, n_tokens FROM mix
         |  WHERE cum_before < CASE source WHEN 'src0' THEN 500
         |    WHEN 'src1' THEN 900 ELSE 700 END),
         |f AS (
         |  SELECT doc_id, source, n_tokens,
         |    list_reduce(list_prepend(CAST(3421674724 AS HUGEINT),
         |      list_transform(split(CAST(doc_id AS VARCHAR) || ':shuf:2', ''),
         |        c -> CAST(ord(c) AS HUGEINT))),
         |      (h, c) -> (h * 1000003 + c) % (CAST(1 AS HUGEINT) << 64)) AS hu
         |  FROM mixed),
         |kx AS (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(CASE WHEN hu >= (CAST(1 AS HUGEINT) << 63)
         |         THEN hu - (CAST(1 AS HUGEINT) << 64) ELSE hu END AS BIGINT)
         |      AS shuffle_key
         |  FROM f)
         |SELECT doc_id, source, n_tokens, shuffle_key,
         |  ((shuffle_key % 8) + 8) % 8 AS shard,
         |  CAST(row_number() OVER (PARTITION BY ((shuffle_key % 8) + 8) % 8
         |    ORDER BY shuffle_key, doc_id) - 1 AS BIGINT) AS pos
         |FROM kx""".stripMargin),
    // ---- incremental sentence dedup: the O(delta) ingest composition
    //      of q64 — the corpus contributes distinct unit hashes only
    //      (the standing index), the delta elects within itself, corpus
    //      ownership wins on collision (temporal precedence)
    Query("q71_incr_sentence_dedup", ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.incrementalSentenceDedup(
        docs.filter(col("doc_id") % 7 =!= 3),
        docs.filter(col("doc_id") % 7 === 3), unitTokens = 12)
    }),
      // q71: q64's unit fold over all docs, corpus index vs delta election,
      // drops = (hash in corpus) ∪ (not first within delta), rebuild on
      // delta rows only
      s"""WITH tk AS (
         |  SELECT doc_id, $toks AS tk FROM documents),
         |units AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |    list_reduce(list_prepend(CAST(3421674724 AS HUGEINT),
         |      list_transform(
         |        split(array_to_string(
         |          tk[CAST(i*12+1 AS BIGINT):CAST(i*12+12 AS BIGINT)], ' '), ''),
         |        c -> CAST(ord(c) AS HUGEINT))),
         |      (h, c) -> (h * 1000003 + c) % (CAST(1 AS HUGEINT) << 64)) AS h
         |  FROM tk, UNNEST(range(0, (len(tk)-1)//12 + 1)) AS t(i)),
         |cindex AS (SELECT DISTINCT h FROM units WHERE doc_id % 7 <> 3),
         |du AS (SELECT * FROM units WHERE doc_id % 7 = 3),
         |r AS (
         |  SELECT doc_id, pos, h,
         |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
         |    count(*) OVER (PARTITION BY h) AS occ
         |  FROM du),
         |dropped AS (
         |  SELECT DISTINCT doc_id, pos FROM (
         |    SELECT d.doc_id, d.pos FROM du d JOIN cindex USING (h)
         |    UNION ALL
         |    SELECT doc_id, pos FROM r WHERE occ > 1 AND rn > 1) t),
         |drops AS (
         |  SELECT doc_id, list(pos ORDER BY pos) AS drops
         |  FROM dropped GROUP BY 1),
         |outp AS (
         |  SELECT tk.doc_id,
         |    list_transform(
         |      list_filter(range(0, CAST(len(tk.tk) AS BIGINT)),
         |        p -> drops.drops IS NULL
         |          OR NOT list_contains(drops.drops, p // 12)),
         |      p -> tk.tk[CAST(p AS BIGINT) + 1]) AS keptl,
         |    CAST((len(tk.tk)-1)//12 + 1 AS BIGINT) AS n_units,
         |    CAST(coalesce(len(drops.drops), 0) AS BIGINT) AS n_dropped
         |  FROM tk LEFT JOIN drops USING (doc_id)
         |  WHERE tk.doc_id % 7 = 3)
         |SELECT doc_id, coalesce(array_to_string(keptl, ' '), '') AS clean_text,
         |  n_units, n_dropped,
         |  CAST(len(keptl) AS BIGINT) AS n_kept_tokens
         |FROM outp""".stripMargin),
    // ---- ingest-batch corpus drift: per-batch vocabulary novelty
    //      (exact min-batch election over the distinct (batch, token)
    //      set) + token-length drift; word-count-shaped scalar shuffle,
    //      ratios in integral microunits — see ops/Drift.scala
    Query("q73_vocab_drift", ((s, d) =>
      graft.ops.Drift.vocabDrift(t(s, d, "documents"), nBatches = 4)),
      // q73: distinct (batch, token) -> min-batch novelty election + length
      // drift, microunit ratios via integer division on both engines
      graft.ops.Drift.vocabDriftSql(4)),
    // ---- n-gram cross-corpus decontamination (GPT-3 appendix-C shape):
    //      eval docs (doc_id % 5 == 0) marked wherever an 8-gram
    //      collides with the train split; both sides reduce to 8-byte
    //      fingerprints in their scan projections
    Query("q70_ngram_decontam", ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.crossContamination(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 5 === 0), k = 8)
    }),
      // q70: the q56 window-fold in HUGEINT, split train/eval, collision
      // join, lag-gap coverage merge — zero-hit eval docs kept via left join
      s"""WITH tk AS (
         |  SELECT doc_id, $toks AS tk FROM documents),
         |wins AS (
         |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS total_tokens,
         |    CAST(i AS BIGINT) AS pos,
         |    list_reduce(list_prepend(CAST(3421674724 AS HUGEINT),
         |      list_transform(
         |        split(array_to_string(tk[CAST(i+1 AS BIGINT):CAST(i+8 AS BIGINT)], ' '), ''),
         |        c -> CAST(ord(c) AS HUGEINT))),
         |      (h, c) -> (h * 1000003 + c) % (CAST(1 AS HUGEINT) << 64)) AS h
         |  FROM tk, UNNEST(range(0, len(tk)-8+1)) AS t(i)
         |  WHERE len(tk) >= 8),
         |trainh AS (SELECT DISTINCT h FROM wins WHERE doc_id % 5 <> 0),
         |hit AS (
         |  SELECT w.* FROM wins w JOIN trainh USING (h) WHERE w.doc_id % 5 = 0),
         |gaps AS (
         |  SELECT doc_id, pos,
         |    pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS gap
         |  FROM hit),
         |agg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_windows,
         |    CAST(sum(CASE WHEN gap IS NULL OR gap >= 8 THEN 8 ELSE gap END)
         |      AS BIGINT) AS contam_tokens
         |  FROM gaps GROUP BY 1),
         |ev AS (
         |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS total_tokens FROM tk
         |  WHERE doc_id % 5 = 0)
         |SELECT ev.doc_id, ev.total_tokens,
         |  coalesce(n_hit_windows, 0) AS n_hit_windows,
         |  coalesce(contam_tokens, 0) AS contam_tokens,
         |  CAST(floor(coalesce(contam_tokens, 0) * 10000.0 / ev.total_tokens)
         |    AS BIGINT) AS contam_bp
         |FROM ev LEFT JOIN agg USING (doc_id)""".stripMargin),
    // ---- BPE merge learning (tokenizer training): 8 rounds of
    //      most-frequent-adjacent-pair election + greedy merge over the
    //      marker-encoded vocabulary; one corpus-scale word count, then
    //      vocab-bounded shuffles and a 1-row argmax per round
    Query("q68_bpe_merges", ((s, d) =>
      graft.ops.Bpe.learnMerges(t(s, d, "documents"), nMerges = 8)),
      // q68: the N-round BPE chain generated from the same constants as the
      // engine (Bpe.learnMergesSql) — chained CTEs electing and applying the
      // identical winner each round
      graft.ops.Bpe.learnMergesSql(8)),
    // ---- BPE tokenize (the apply half of q68): learned merges inlined
    //      as an 8-deep literal replace chain, one map-side projection
    //      over the corpus; per-doc BPE token counts + compression
    Query("q69_bpe_tokenize", ((s, d) =>
      graft.ops.Bpe.bpeTokenProfile(t(s, d, "documents"), nMerges = 8)),
      // q69: merge chain + corpus-wide apply, generated by the same builder
      graft.ops.Bpe.bpeProfileSql(8)),
    // ---- CCNet-shaped LM fluency: bigram LM estimated from the corpus,
    //      every doc scored by avg conditional probability in integral
    //      microunits; docs pre-aggregate to distinct (doc, bigram)
    //      before the LM join — see TextAnalysis.lmFluency
    Query("q66_lm_fluency", ((s, d) =>
      TextAnalysis.lmFluency(t(s, d, "documents"))),
      // q66: same bigram LM chain in SQL — doc bigram counts, corpus bigram
      // counts, prefix (conditioning) counts, integer-division microunits
      s"""WITH tk AS (
         |  SELECT doc_id, $toks AS tk FROM documents),
         |bi AS (
         |  SELECT doc_id,
         |    tk[CAST(i+1 AS BIGINT)] || ' ' || tk[CAST(i+2 AS BIGINT)] AS bg
         |  FROM tk, UNNEST(range(0, greatest(len(tk)-1, 0))) AS t(i)
         |  WHERE len(tk) >= 2),
         |docbi AS (SELECT doc_id, bg, count(*) AS k FROM bi GROUP BY 1, 2),
         |bic AS (SELECT bg, sum(k) AS c12 FROM docbi GROUP BY 1),
         |pre AS (
         |  SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS c1
         |  FROM bic GROUP BY 1),
         |lm AS (
         |  SELECT bg, c12, c1 FROM bic
         |  JOIN pre ON split_part(bg, ' ', 1) = w1),
         |sc AS (
         |  SELECT d.doc_id, sum(d.k) AS nb,
         |    sum(d.k * ((c12 * 1000000) // c1)) AS sm
         |  FROM docbi d JOIN lm USING (bg) GROUP BY 1)
         |SELECT tk.doc_id,
         |  CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
         |  CAST(coalesce(sm, 0) AS BIGINT) AS sum_cond_micro,
         |  CAST(coalesce(sm // nb, 0) AS BIGINT) AS avg_cond_micro
         |FROM tk LEFT JOIN sc USING (doc_id)""".stripMargin),
    // ---- q66's real FLOAT log-perplexity, hash-exact via guarded
    //      quantization (1e-4-nat floor + 1e-3-quanta guard band): the
    //      DuckDB oracle recomputes Σ k·ln(c12/c1)/nb with ITS libm and
    //      must land on the same quantized value wherever the guard
    //      admits one — a genuine cross-engine float check, not a
    //      trusted flag
    Query("q66b_lm_logprob", ((s, d) =>
      TextAnalysis.lmLogProb(t(s, d, "documents"))),
      // q66b: the same bigram LM scored as FLOAT avg log-probability —
      // ln AFTER one IEEE division (matches the Spark spelling), floor-
      // quantized to 1e-4 nats, emitted only outside the 1e-3-quanta guard
      // band so two independent libms agree on every emitted value
      s"""WITH tk AS (
         |  SELECT doc_id, $toks AS tk FROM documents),
         |bi AS (
         |  SELECT doc_id,
         |    tk[CAST(i+1 AS BIGINT)] || ' ' || tk[CAST(i+2 AS BIGINT)] AS bg
         |  FROM tk, UNNEST(range(0, greatest(len(tk)-1, 0))) AS t(i)
         |  WHERE len(tk) >= 2),
         |docbi AS (SELECT doc_id, bg, count(*) AS k FROM bi GROUP BY 1, 2),
         |bic AS (SELECT bg, sum(k) AS c12 FROM docbi GROUP BY 1),
         |pre AS (
         |  SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS c1
         |  FROM bic GROUP BY 1),
         |lm AS (
         |  SELECT bg, c12, c1 FROM bic
         |  JOIN pre ON split_part(bg, ' ', 1) = w1),
         |sc AS (
         |  SELECT d.doc_id, sum(d.k) AS nb,
         |    sum(d.k * ln(CAST(c12 AS DOUBLE) / c1)) AS s
         |  FROM docbi d JOIN lm USING (bg) GROUP BY 1),
         |q AS (
         |  SELECT doc_id, nb, (s / nb) * 10000.0 AS dd FROM sc)
         |SELECT tk.doc_id,
         |  CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
         |  CASE WHEN (dd - floor(dd)) >= 0.001 AND (dd - floor(dd)) <= 0.999
         |    THEN CAST(floor(dd) AS BIGINT) END AS avg_logprob_q,
         |  coalesce((dd - floor(dd)) >= 0.001 AND (dd - floor(dd)) <= 0.999,
         |    false) AS quant_safe
         |FROM tk LEFT JOIN q USING (doc_id)""".stripMargin),
    // ---- unicode cleaning: NFC canonical composition (native codegen
    //      expression — Spark has no built-in normalizer), control-char
    //      strip, whitespace collapse. The corpus is ASCII, so the query
    //      wraps each doc in a deterministic payload exercising a
    //      combining sequence (e+U+0301), a bell control, and A+U+030A;
    //      the oracle replays the chain through DuckDB's nfc_normalize —
    //      two independent UAX #15 implementations must agree byte-wise
    Query("q65_unicode_clean", ((s, d) => {
      val payload = t(s, d, "documents").filter(col("doc_id") < 60)
        .select(col("doc_id"),
          concat(lit("Café du "), substring(col("text"), 1, 20),
            lit("  Å  fin")).as("payload"))
      graft.ops.Curation.unicodeClean(payload, "payload")
        .select("doc_id", "clean_text", "n_chars_before", "n_chars_after",
          "changed")
    }),
      // q65: DuckDB's nfc_normalize (utf8proc) vs the engine's JDK
      // Normalizer — two independent UAX #15 implementations must agree
      // byte-wise on the composed output; same control-strip + whitespace
      // collapse chain on both sides
      s"""WITH p AS (
         |  SELECT doc_id,
         |    'Café du ' || substr(text, 1, 20) || '  Å  fin'
         |      AS payload
         |  FROM documents WHERE doc_id < 60),
         |c AS (
         |  SELECT doc_id, payload,
         |    trim(regexp_replace(
         |      regexp_replace(nfc_normalize(payload),
         |        '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
         |      '\\s+', ' ', 'g')) AS clean_text
         |  FROM p)
         |SELECT doc_id, clean_text,
         |  CAST(length(payload) AS BIGINT) AS n_chars_before,
         |  CAST(length(clean_text) AS BIGINT) AS n_chars_after,
         |  CAST(clean_text <> payload AS INTEGER) AS changed
         |FROM c""".stripMargin),
    // ---- model-based quality classifier (the GPT-3/LLaMA-recipe
    //      "similarity to a curated reference" filter): seed labels
    //      from the rule-based quality score, token-likelihood-ratio
    //      model trained as a word-count aggregation, applied as a
    //      broadcast join + map-side fold — train/apply is a TABLE
    //      seam, no gradient loop, integral microunits end to end
    Query("q74_quality_classifier", ((s, d) =>
      graft.ops.Classifier.nbQuality(t(s, d, "documents"))),
      // q74: the engine's whole train+apply chain replayed — seed label from
      // the shared quality-score fragment, label-conditional token counts,
      // Laplace-smoothed two-step micro ratio (each conditional floored to
      // micro units BEFORE the ratio, p0 clamped to >= 1), broadcast-join
      // scoring fold. All-integer; sums in HUGEINT cast back at the edges.
      nbClassifierSql),
    // ---- LSH recall self-audit: the banded q15 pipeline measured
    //      against exact ground truth (inverted-index self-join +
    //      verify) on a bounded probe slice — precision is 1.0 by
    //      construction (the verify step), so precision_bp != 10000 is
    //      a bug detector and recall_bp is the banding loss
    Query("q79_lsh_recall_audit", ((s, d) =>
      Dedup.lshRecallAudit(t(s, d, "documents"))),
      // q79: the q15 chain nested over the probe slice + an independent
      // exact side (shingle inverted-index self-join, distinct-shingle
      // Jaccard verify) — counts, recall, and the precision==10000 pin
      s"""WITH probe AS (SELECT * FROM documents WHERE doc_id < 400),
         |lsh AS (${minhashPairsSqlFrom("probe")}),
         |tk2 AS (SELECT doc_id, $toks AS toks FROM probe),
         |sh2 AS (
         |  SELECT doc_id,
         |    list_transform(range(0, greatest(len(toks) - 2, 1)),
         |      i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')) AS shingles
         |  FROM tk2),
         |srow AS (SELECT doc_id, unnest(list_distinct(shingles)) AS s FROM sh2),
         |cand2 AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM srow a JOIN srow b ON a.s = b.s AND a.doc_id < b.doc_id),
         |dsh2 AS (SELECT doc_id, list_distinct(shingles) AS ds FROM sh2),
         |ex AS (
         |  SELECT c.doc_a, c.doc_b FROM cand2 c
         |  JOIN dsh2 x ON x.doc_id = c.doc_a
         |  JOIN dsh2 y ON y.doc_id = c.doc_b
         |  WHERE CAST((len(list_intersect(x.ds, y.ds)) * 10000)
         |    // (len(x.ds) + len(y.ds) - len(list_intersect(x.ds, y.ds)))
         |    AS BIGINT) >= 2000),
         |hit AS (
         |  SELECT count(*) AS n FROM ex
         |  JOIN lsh ON ex.doc_a = lsh.doc_a AND ex.doc_b = lsh.doc_b)
         |SELECT
         |  (SELECT count(*) FROM ex) AS n_exact,
         |  (SELECT count(*) FROM lsh) AS n_lsh,
         |  hit.n AS n_hit,
         |  (hit.n * 10000) // greatest((SELECT count(*) FROM ex), 1) AS recall_bp,
         |  (hit.n * 10000) // greatest((SELECT count(*) FROM lsh), 1) AS precision_bp
         |FROM hit""".stripMargin),
    // ---- benchmark decontamination in EMBEDDING space: the fuzzy-
    //      semantic counterpart to q43 (exact phrases) and q70 (n-grams)
    //      — flag corpus vectors cosine-close to any benchmark vector.
    //      Benchmark side broadcast (eval suites are small by
    //      definition); corpus scanned once; the shuffle carries one
    //      scalar row per corpus vector (map-side max partial agg)
    Query("q80_embedding_decontam", ((s, d) =>
      Similarity.embeddingDecontaminate(t(s, d, "embeddings"),
        benchPred = col("vec_id") % 25 === 0, minSimMicro = 600000L)),
      // q80: brute-force replay of the broadcast max-cosine — same ordered
      // list folds and floor(x*1e6) quantization as the q19 oracle family;
      // argmax tie-break (smallest bench_id on equal floored sim) replayed
      // as a window ordered (sim DESC, bench_id)
      {
        val dot = "list_reduce(list_transform(list_zip(c.emb, b.emb), " +
          "p -> p[1]*p[2]), (x,y) -> x+y)"
        val nc = "list_reduce(list_transform(c.emb, x -> x*x), (x,y) -> x+y)"
        val nb = "list_reduce(list_transform(b.emb, x -> x*x), (x,y) -> x+y)"
        s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |bench AS (SELECT vec_id AS bench_id, emb FROM emb WHERE vec_id % 25 = 0),
         |corpus AS (SELECT vec_id, emb FROM emb WHERE vec_id % 25 <> 0),
         |scored AS (
         |  SELECT c.vec_id, b.bench_id,
         |    CAST(floor($dot / (sqrt($nc) * sqrt($nb)) * 1e6) AS BIGINT) AS sim_micro
         |  FROM corpus c CROSS JOIN bench b),
         |ranked AS (
         |  SELECT vec_id, bench_id, sim_micro,
         |    row_number() OVER (PARTITION BY vec_id
         |                       ORDER BY sim_micro DESC, bench_id) AS rn
         |  FROM scored)
         |SELECT vec_id, bench_id AS nearest_bench_id, sim_micro AS max_sim_micro,
         |  sim_micro >= 600000 AS contaminated
         |FROM ranked WHERE rn = 1""".stripMargin
      }),
    // ---- temperature-flattened mixture (α=0.5): per-source sampling
    //      rates computed FROM the data — rate_s = floor(100·
    //      sqrt(T_min/T_s)) — then the q41 salted-hash bucket filter.
    //      Two passes: a |strata|-row totals agg, then a broadcast-rates
    //      map-side filter; sqrt/div/floor only, so the oracle is exact
    Query("q81_temperature_mix", ((s, d) =>
      graft.ops.Curation.temperatureMix(
        t(s, d, "documents").select(col("source"), col("doc_id"),
          size(Dedup.tokens(col("text"))).cast("long").as("n_tokens")),
        "source", "doc_id", "n_tokens", salt = ":tmix1")
      .groupBy("source")
      .agg(max("t_total").as("t_total"), max("rate_pct").as("rate_pct"),
        count(lit(1)).as("n_kept"),
        sum("n_tokens").as("kept_tokens"))),
      // q81: the q41 fingerprint replay with the ':tmix1' salt; the rate is
      // floor(100*sqrt(t_min/t_total)) — sqrt/div/floor only, all IEEE-
      // correctly-rounded, so both engines compute identical bits
      s"""WITH w AS (
         |  SELECT doc_id, source, CAST(len($toks) AS BIGINT) AS n_tokens
         |  FROM documents),
         |tot AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS t_total
         |        FROM w GROUP BY 1),
         |tm AS (SELECT min(t_total) AS t_min FROM tot),
         |r AS (
         |  SELECT source, t_total,
         |    CAST(floor(100.0 * sqrt(CAST(t_min AS DOUBLE) /
         |      CAST(t_total AS DOUBLE))) AS INT) AS rate_pct
         |  FROM tot, tm),
         |f AS (
         |  SELECT w.doc_id, w.source, w.n_tokens, r.t_total, r.rate_pct,
         |    list_reduce(
         |      list_prepend(CAST(3421674724 AS HUGEINT),
         |        list_transform(split(CAST(w.doc_id AS VARCHAR) || ':tmix1', ''),
         |          c -> CAST(ord(c) AS HUGEINT))),
         |      (h, c) -> (h * 1000003 + c) % (CAST(1 AS HUGEINT) << 64)) AS hu
         |  FROM w JOIN r ON w.source = r.source),
         |kept AS (
         |  SELECT * FROM f
         |  WHERE CAST((((CASE WHEN hu >= (CAST(1 AS HUGEINT) << 63)
         |        THEN hu - (CAST(1 AS HUGEINT) << 64) ELSE hu END) % 100)
         |      + 100) % 100 AS BIGINT) < rate_pct)
         |SELECT source, max(t_total) AS t_total, max(rate_pct) AS rate_pct,
         |  count(*) AS n_kept, CAST(sum(n_tokens) AS BIGINT) AS kept_tokens
         |FROM kept GROUP BY 1""".stripMargin),
    // ---- count-min sketch: the point-frequency mergeable sketch (HLL
    //      = cardinality q54, Misra-Gries = top-k q45, CMS = "how often
    //      does THIS token occur" from depth*width counters). Built
    //      per corpus HALF, merged by bucket-wise sum (EXACT — pinned
    //      equal to the single-pass sketch), probed over the full
    //      vocabulary; est >= exact one-sided error surfaced per token
    Query("q82_cms_frequency", ((s, d) => {
      val docs = t(s, d, "documents")
      val (depth, width, salt) = (4, 1024, ":cms")
      val halves = Seq(0, 1).map(h =>
        graft.ops.Sketches.cmsBuild(docs.filter(col("doc_id") % 2 === h),
          depth, width, salt))
      val merged = graft.ops.Sketches.cmsMerge(halves)
      val single = graft.ops.Sketches.cmsBuild(docs, depth, width, salt)
      val probes = docs
        .select(explode(Dedup.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("exact"))
      graft.ops.Sketches.cmsEstimate(merged, probes, depth, width, salt)
        .join(graft.ops.Sketches.cmsEstimate(single, probes, depth,
          width, salt).withColumnRenamed("est", "est_single"), Seq("token"))
        .join(probes, Seq("token"))
        .select(col("token"), col("est"), col("exact"),
          (col("est") >= col("exact")).as("ge_exact"),
          (col("est") === col("est_single")).as("merge_consistent"))
    }),
      // q82: the CMS replayed from full token counts — counter addition
      // commutes with hash placement, so the merged-halves sketch equals the
      // full-count sketch by construction and the oracle computes cells once;
      // bucket = fold(token||':cms'||r) low 10 bits (unsigned HUGEINT mod
      // 1024 == Spark's signed pmod, the power-of-two invariant)
      {
        def fold(e: String) =
          s"""list_reduce(list_prepend(CAST(3421674724 AS HUGEINT),
           |      list_transform(split($e, ''), x -> CAST(ord(x) AS HUGEINT))),
           |      (h, x) -> (h * 1000003 + x) % (CAST(1 AS HUGEINT) << 64))"""
            .stripMargin
        s"""WITH tk AS (SELECT unnest($toks) AS token FROM documents),
         |cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS exact
         |        FROM tk GROUP BY 1),
         |hashed AS (
         |  SELECT cnt.token, cnt.exact, CAST(t.r AS BIGINT) AS r,
         |    CAST(${fold("cnt.token || ':cms' || CAST(t.r AS VARCHAR)")}
         |      % 1024 AS BIGINT) AS bucket
         |  FROM cnt, UNNEST(range(0, 4)) AS t(r)),
         |cells AS (
         |  SELECT r, bucket, CAST(sum(exact) AS BIGINT) AS c
         |  FROM hashed GROUP BY 1, 2),
         |est AS (
         |  SELECT p.token, max(p.exact) AS exact, min(c.c) AS est
         |  FROM hashed p JOIN cells c ON p.r = c.r AND p.bucket = c.bucket
         |  GROUP BY 1)
         |SELECT token, est, exact, est >= exact AS ge_exact,
         |  TRUE AS merge_consistent
         |FROM est""".stripMargin
      }),
    // ---- mergeable log2-histogram quantiles: per-source length
    //      profiles as a <=64-rows-per-group sketch — built per corpus
    //      HALF and merged by bucket-wise sum (the incremental-profiling
    //      shape; exact percentiles q44 re-sort per refresh), then each
    //      percentile resolved to its power-of-two containment range via
    //      integer arithmetic only (bit-length buckets, cum*100 >= p*n)
    Query("q83_hist_quantiles", ((s, d) => {
      val docs = t(s, d, "documents")
      val halves = Seq(0, 1).map(h =>
        graft.ops.Sketches.logHistogram(
          docs.filter(col("doc_id") % 2 === h), "source", "n_chars"))
      graft.ops.Sketches.histQuantiles(
        graft.ops.Sketches.histMerge(halves), "source", Seq(25, 50, 90))
    }),
      // q83: the log2 histogram replayed from full counts (bucket-wise sum
      // makes merged-halves == full by construction); bit-length buckets and
      // the cum*100 >= p*n comparison are integer-exact in both engines
      """WITH h AS (
        |  SELECT source, CAST(length(bin(n_chars)) - 1 AS INT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM documents WHERE n_chars > 0 GROUP BY 1, 2),
        |c AS (
        |  SELECT source, bucket, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY source ORDER BY bucket)
        |      AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM h)
        |SELECT c.source, CAST(p.p AS INT) AS p,
        |  min(c.bucket) AS bucket,
        |  CAST(1::BIGINT << min(c.bucket) AS BIGINT) AS lo,
        |  CAST(1::BIGINT << (min(c.bucket) + 1) AS BIGINT) AS hi,
        |  max(c.n) AS n
        |FROM c, (VALUES (25), (50), (90)) AS p(p)
        |WHERE c.cum * 100 >= p.p * c.n
        |GROUP BY 1, 2""".stripMargin),
    // ---- EXACT-k deterministic stratum sample: bottom-k-by-salted-hash
    //      per source — exactly k docs (vs q41's binomially-varying rate
    //      filter), reproducible, append-consistent, mergeable (the KMV
    //      set); k-bounded aggregator shuffle (q42's shape), no Window
    Query("q84_exact_k_sample", ((s, d) =>
      graft.ops.Curation.exactKSample(t(s, d, "documents"),
        "source", "doc_id", k = 12, salt = ":eks1")),
      // q84: the bottom-k-by-hash sample replayed as a window — the same
      // ':eks1'-salted fold converted to SIGNED 64-bit so DuckDB's ORDER BY
      // matches Spark's Long ordering exactly, doc_id asc tie-break
      s"""WITH f AS (
         |  SELECT source, doc_id,
         |    list_reduce(list_prepend(CAST(3421674724 AS HUGEINT),
         |      list_transform(split(CAST(doc_id AS VARCHAR) || ':eks1', ''),
         |        c -> CAST(ord(c) AS HUGEINT))),
         |      (h, c) -> (h * 1000003 + c) % (CAST(1 AS HUGEINT) << 64)) AS hu
         |  FROM documents),
         |r AS (
         |  SELECT source, doc_id,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY CAST(CASE WHEN hu >= (CAST(1 AS HUGEINT) << 63)
         |        THEN hu - (CAST(1 AS HUGEINT) << 64) ELSE hu END AS BIGINT),
         |        doc_id) AS INT) AS rn
         |  FROM f)
         |SELECT source, doc_id, rn FROM r WHERE rn <= 12""".stripMargin),
    // ---- hybrid retrieval: BM25 keyword leg (q40's postings shape) +
    //      single-query embedding-cosine leg (one map-side pass, vector
    //      broadcast), fused with reciprocal-rank fusion — the standard
    //      zero-training lexical+semantic combiner a RAG-curation
    //      pipeline runs; both legs are TakeOrdered-bounded so the
    //      fusion join sees <=kLeg rows per side
    Query("q85_hybrid_rrf", ((s, d) =>
      graft.ops.Search.hybridRrf(t(s, d, "documents"),
        t(s, d, "embeddings"),
        Seq("join", "stream", "window"), queryVecId = 7L,
        k = 20, kLeg = 50)),
      // q85: both legs replayed (bm25Sql nested + the q17 cosine spelling),
      // RRF sum in the same fixed leg order
      graft.ops.Search.hybridRrfSql(toks, Seq("join", "stream", "window"),
        queryVecId = 7L, k = 20, kLeg = 50)),
    // ---- indexed BM25: postings + doc stats built per corpus HALF and
    //      merged ADDITIVELY (the committed append-only index shape;
    //      ingest cost ∝ delta, never a corpus rescan), query answered
    //      from the index through the bm25TopK expression tree verbatim
    //      — the oracle is the FULL-SCAN replay, so the green row proves
    //      incremental-index == batch bit-for-bit
    Query("q87_indexed_bm25", ((s, d) => {
      val docs = t(s, d, "documents")
      val (pA, sA) = graft.ops.Search.buildIndex(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0))
      val (pB, sB) = graft.ops.Search.buildIndex(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1))
      graft.ops.Search.bm25FromIndex(pA.unionByName(pB), sA.unionByName(sB),
        Seq("join", "stream", "window"), k = 20)
    }),
      // q87: the oracle is the FULL-SCAN bm25 replay over the whole corpus —
      // hash equality proves the incrementally-merged index returns the
      // identical ranking (same floats) as a from-scratch batch scan
      graft.ops.Search.bm25Sql(toks, Seq("join", "stream", "window"), 20)),
    // ---- source-overlap matrix: pairwise shingle containment/Jaccard
    //      between crawl sources — the "how much of B is already in A"
    //      profile mixture design consults; shingle text never shuffles
    //      (16-byte md5 digests), pair fan-out bounded by |sources|
    Query("q88_source_overlap", ((s, d) =>
      graft.ops.Dedup.sourceOverlapMatrix(t(s, d, "documents"))),
      // q88: the same shingle spelling as q14's oracle, md5 digests (DuckDB's
      // md5 == Spark's), integer floor-div basis points
      {
        val sh = s"list_distinct(list_transform(range(0, greatest(len($toks)-3, 0)+1), " +
          s"i -> concat_ws(' ', $toks[i+1], $toks[i+2], $toks[i+3])))"
        s"""WITH sh AS (
         |  SELECT DISTINCT source, md5(g) AS h FROM (
         |    SELECT source, unnest($sh) AS g FROM documents)),
         |counts AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
         |pairs AS (
         |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
         |  FROM sh a JOIN sh b USING (h)
         |  WHERE a.source < b.source GROUP BY 1, 2)
         |SELECT p.src_a, p.src_b, p.n_common, ca.n AS n_a, cb.n AS n_b,
         |  (p.n_common * 10000) // (ca.n + cb.n - p.n_common) AS jaccard_bp,
         |  (p.n_common * 10000) // ca.n AS containment_a_bp,
         |  (p.n_common * 10000) // cb.n AS containment_b_bp
         |FROM pairs p
         |JOIN counts ca ON ca.source = p.src_a
         |JOIN counts cb ON cb.source = p.src_b""".stripMargin
      }),
    // ---- declarative data-quality expectation suite (the Deequ shape):
    //      completeness, uniqueness, cross-column consistency, set
    //      membership, format, volume and distribution bounds — ALL
    //      computed in ONE aggregation over ONE scan (every check is an
    //      aggregate column in a single agg; adding a check adds
    //      accumulators, never a pass), then unpivoted to one
    //      (check, metric, passed) row each
    Query("q89_expectations", ((s, d) =>
      graft.ops.Expectations.documentsSuite(t(s, d, "documents"))),
      // q89: every check's metric and verdict replayed as one DuckDB
      // aggregate each, unioned in suite order; integer-division mean
      """WITH m AS (
        |  SELECT
        |    count(CASE WHEN text IS NULL OR trim(text) = '' THEN 1 END)
        |      AS complete_text,
        |    count(doc_id) - count(DISTINCT doc_id) AS unique_doc_id,
        |    count(CASE WHEN n_chars <> length(text) THEN 1 END)
        |      AS consistent_n_chars,
        |    count(CASE WHEN lang NOT IN ('en','de','fr','es','zh') THEN 1 END)
        |      AS lang_in_set,
        |    count(CASE WHEN NOT regexp_matches(source, '^[a-z][a-z0-9]*$')
        |      THEN 1 END) AS source_format,
        |    count(CASE WHEN n_chars < 1 OR n_chars > 100000 THEN 1 END)
        |      AS chars_in_bounds,
        |    count(*) AS min_volume,
        |    sum(n_chars) // count(*) AS mean_chars
        |  FROM documents)
        |SELECT 'complete_text' AS check, CAST(complete_text AS BIGINT)
        |    AS metric, complete_text = 0 AS passed FROM m
        |UNION ALL SELECT 'unique_doc_id', CAST(unique_doc_id AS BIGINT),
        |  unique_doc_id = 0 FROM m
        |UNION ALL SELECT 'consistent_n_chars',
        |  CAST(consistent_n_chars AS BIGINT), consistent_n_chars = 0 FROM m
        |UNION ALL SELECT 'lang_in_set', CAST(lang_in_set AS BIGINT),
        |  lang_in_set = 0 FROM m
        |UNION ALL SELECT 'source_format', CAST(source_format AS BIGINT),
        |  source_format = 0 FROM m
        |UNION ALL SELECT 'chars_in_bounds', CAST(chars_in_bounds AS BIGINT),
        |  chars_in_bounds = 0 FROM m
        |UNION ALL SELECT 'min_volume', CAST(min_volume AS BIGINT),
        |  min_volume >= 100 FROM m
        |UNION ALL SELECT 'mean_chars_bounds', CAST(mean_chars AS BIGINT),
        |  mean_chars BETWEEN 50 AND 2000 FROM m""".stripMargin),
    // ---- bloom-gated incremental exact dedup: the persisted corpus
    //      membership sketch (Spark's own BloomFilterAggregate, the x47
    //      runtime-filter engine, here as a first-class artifact) probes
    //      every delta doc MAP-SIDE; only candidates — true dups + the
    //      filter's few false positives — reach the broadcast semi-join
    //      verify, so the per-batch corpus-touching work is proportional
    //      to the candidate count, not the delta. No false negatives by
    //      construction + verify kills false positives ⇒ output == the
    //      plain delta⋉corpus semi join, which IS the oracle
    Query("q90_bloom_gate", ((s, d) => {
      val docs = t(s, d, "documents")
      graft.ops.Dedup.bloomDedupGate(
        docs.filter(col("doc_id") % 7 =!= 3),
        docs.filter(col("doc_id") % 7 === 3),
        expectedItems = 1L << 16)
    }),
      // q90: the bloom prefilter has no false negatives and the exact verify
      // removes its false positives, so the gate must equal the PLAIN
      // delta⋉corpus semi join — DuckDB replays that equivalence directly
      """WITH corpus AS (
        |  SELECT DISTINCT md5(lower(trim(text))) AS fp
        |  FROM documents WHERE doc_id % 7 <> 3)
        |SELECT d.doc_id, md5(lower(trim(d.text))) AS fp,
        |  md5(lower(trim(d.text))) IN (SELECT fp FROM corpus) AS is_dup
        |FROM documents d WHERE d.doc_id % 7 = 3""".stripMargin),
    // ---- size-targeted output-file planning (Iceberg
    //      write.target-file-size / bin-pack compaction): docs assigned
    //      WHOLE to consecutive files by exclusive byte prefix sum div
    //      target — distributed two-pass scan (q33's machinery), never a
    //      SinglePartition window; files cover contiguous key ranges
    //      (range-prunable) and the assignment is append-stable
    Query("q91_file_sizing", ((s, d) =>
      graft.ops.FileLayout.planFiles(tIds(s, d, "documents"),
        "doc_id", "n_chars", targetBytes = 4096L)),
      // q91: the exclusive cumsum replayed as a window (DuckDB's scale is
      // fine with one partition; the ENGINE must not use one), integer
      // floor-div file assignment, per-file manifest aggregate
      """WITH o AS (
        |  SELECT doc_id, n_chars,
        |    CAST(COALESCE(sum(n_chars) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) // 4096 AS file_id
        |  FROM documents)
        |SELECT file_id, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS file_bytes,
        |  min(doc_id) AS first_key, max(doc_id) AS last_key
        |FROM o GROUP BY 1""".stripMargin),
    // ---- WATERMARK-BOUNDED streaming exact dedup (native
    //      dropDuplicatesWithinWatermark): state evicted by event-time
    //      watermark — bounded state on unbounded keys, the TTL shape
    //      x21 (state-forever) and x51 (explicit cap) lack; the replay
    //      stamps all docs inside one horizon so the appended output
    //      must equal the batch distinct-fingerprint set; eviction +
    //      late-dup re-emission pinned in ScalaTest
    Query("x78_watermark_dedup", ((s, d) =>
      graft.streaming.StreamWatermarkDedup.replayDocsDistinctFp(s,
        t(s, d, "documents"))),
      // x78: all duplicates arrive inside one watermark horizon, so the
      // appended stream output must equal the batch distinct set
      "SELECT DISTINCT md5(lower(trim(text))) AS fp FROM documents"),
    // ---- leakage-safe split: q35's hash split made dup-CLUSTER aware —
    //      the split unit is the q37 near-dup component, so no near-dup
    //      pair can straddle train/val; the cross_pairs audit column
    //      (pinned 0 by construction) ships the guarantee in the result
    Query("q86_leakage_split", ((s, d) =>
      graft.ops.Curation.leakageSafeSplit(t(s, d, "documents"),
        graft.ops.Dedup.ngramJaccardPairs(t(s, d, "documents"),
          minJaccardBp = 2000L))),
      // q86: the q37 closure assigns group keys, then the q35 fingerprint
      // fold over the GROUP key (':lss1' salt); the leak audit re-joins the
      // pair list against the assignment — must count zero on both sides
      s"""WITH RECURSIVE pairs AS ($ngramPairsOracleSql),
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
         |comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
         |g AS (
         |  SELECT d.doc_id, d.n_chars,
         |    COALESCE(c.component, d.doc_id) AS group_key
         |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
         |f AS (
         |  SELECT doc_id, n_chars, group_key,
         |    list_reduce(list_prepend(CAST(3421674724 AS HUGEINT),
         |      list_transform(split(CAST(group_key AS VARCHAR) || ':lss1', ''),
         |        c -> CAST(ord(c) AS HUGEINT))),
         |      (h, c) -> (h * 1000003 + c) % (CAST(1 AS HUGEINT) << 64)) AS hu
         |  FROM g),
         |a AS (
         |  SELECT doc_id, n_chars, group_key,
         |    CASE WHEN CAST((((CASE WHEN hu >= (CAST(1 AS HUGEINT) << 63)
         |          THEN hu - (CAST(1 AS HUGEINT) << 64) ELSE hu END) % 100)
         |        + 100) % 100 AS BIGINT) < 90 THEN 'train' ELSE 'val' END AS split
         |  FROM f),
         |leaks AS (
         |  SELECT sa.split AS split,
         |    CAST(sum(CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END) AS BIGINT)
         |      AS cross_pairs
         |  FROM pairs p
         |  JOIN a sa ON sa.doc_id = p.doc_a
         |  JOIN a sb ON sb.doc_id = p.doc_b
         |  GROUP BY 1),
         |summary AS (
         |  SELECT split, count(DISTINCT group_key) AS n_groups,
         |    count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
         |  FROM a GROUP BY 1)
         |SELECT s.split, s.n_groups, s.n_docs, s.total_chars,
         |  CAST(COALESCE(l.cross_pairs, 0) AS BIGINT) AS cross_pairs
         |FROM summary s LEFT JOIN leaks l ON l.split = s.split""".stripMargin),
    // ---- semi-structured sidecar extraction: the events table's JSON
    //      props column parsed with an EXPLICIT schema (from_json —
    //      never an inference scan, which at 100 TB is a full extra
    //      pass) and aggregated on the extracted field, all map-side
    //      before the one group shuffle. Crawl metadata sidecars are
    //      exactly this shape; Catalyst's OptimizeJsonExprs prunes the
    //      parse to the fields actually consumed
    Query("q78_props_extract", ((s, d) => {
      val k = from_json(col("props"),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType)))).getField("k")
      t(s, d, "events")
        .select(col("event_type"), k.as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          countDistinct(col("k")).as("n_distinct_k"),
          sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_bad_json"))
    }),
      // q78: DuckDB's independent JSON implementation must agree field-wise
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  count(DISTINCT k) AS n_distinct_k,
        |  CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bad_json
        |FROM e GROUP BY 1""".stripMargin),
    // ---- corpus build v3: the MODEL-BASED funnel — unicode clean
    //      (map-side) -> classifier train+apply over the cleaned text
    //      (q74's plan) -> keep predicted-high docs -> per-source token
    //      budgets (q63's stratum window). Rule gates (q47) + model
    //      gates composed; the oracle chains the same SQL pieces
    Query("q77_corpus_build3", ((s, d) => {
      val cleaned = graft.ops.Curation
        .unicodeClean(t(s, d, "documents"), "text")
        .select(col("doc_id"), col("source"), col("clean_text").as("text"))
      val scored = graft.ops.Classifier.nbQuality(cleaned)
      // scalars only past this point: the gate's survivors re-join the
      // corpus frame for `source` alone — document text never enters an
      // exchange after the scoring fold (n_scored_tokens IS the token
      // count for any doc that passes the gate)
      val kept = scored.filter(col("pred_hi") === 1)
        .select(col("doc_id"), col("avg_lr_micro"),
          col("n_scored_tokens").as("n_tokens"))
        .join(cleaned.select(col("doc_id"), col("source")), "doc_id")
      graft.ops.Curation.tokenBudgetMix(kept, "source", "doc_id",
        "n_tokens", budgets = Map("src0" -> 500L, "src1" -> 900L),
        defaultBudget = 700L)
    }),
      // q77: the q65 clean chain feeds the whole q74 train+apply chain
      // (nbClassifierCtes over the cleaned relation), survivors take q63's
      // per-source budget window — one oracle for the model-based funnel
      s"""WITH cl AS (
         |  SELECT doc_id, source,
         |    trim(regexp_replace(
         |      regexp_replace(nfc_normalize(text),
         |        '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
         |      '\\s+', ' ', 'g')) AS text
         |  FROM documents),
         |${nbClassifierCtes("cl")},
         |scored AS (
         |  SELECT l.doc_id,
         |    CAST(coalesce(sum_lr // nk, 0) AS BIGINT) AS avg_lr_micro,
         |    CAST(coalesce(nk, 0) AS BIGINT) AS n_tokens,
         |    coalesce(sum_lr // nk >= 1000000, false) AS ph
         |  FROM lab l LEFT JOIN sc ON l.doc_id = sc.doc_id),
         |kept AS (
         |  SELECT s.doc_id, c.source, s.avg_lr_micro, s.n_tokens
         |  FROM scored s JOIN cl c ON s.doc_id = c.doc_id WHERE s.ph),
         |p AS (
         |  SELECT doc_id, source, avg_lr_micro, n_tokens,
         |    CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY source
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum_before
         |  FROM kept)
         |SELECT doc_id, source, avg_lr_micro, n_tokens, cum_before FROM p
         |WHERE cum_before < CASE source WHEN 'src0' THEN 500
         |  WHEN 'src1' THEN 900 ELSE 700 END""".stripMargin),
    // ---- STREAMING classifier apply: model trained ONCE on the standing
    //      corpus (the persisted vocab-sized table), each micro-batch
    //      scored statelessly against it — no state store; per-doc
    //      scoring has no cross-batch coupling, so the replayed union
    //      equals batch q74 (shared oracle)
    Query("x66_stream_classifier", ((s, d) => {
      import s.implicits._
      val corpus = t(s, d, "documents")
      val docs = corpus.select(col("doc_id"), col("text"))
        .as[graft.streaming.StreamClassifier.Doc].collect().toSeq
      val dir = graft.io.Scratch
        .dir("graft-x66").toString
      graft.streaming.StreamClassifier.replayScore(s, corpus, docs, dir,
        nBatches = 3)
    }),
      // x66 is the same classifier trained batch and applied per micro-batch
      // (stateless stream scoring) — its replayed union must equal q74
      nbClassifierSql),
    // ---- greedy k-center diversity selection (Gonzalez farthest-point,
    //      the coreset pass): k map-side scans against broadcast-literal
    //      centers + TakeOrdered(1) per round; micro-int quantization
    //      makes every distance an exact integer, so the unrolled
    //      DuckDB replay is hash-identical
    Query("q76_kcenter_sample", ((s, d) =>
      graft.ops.Similarity.kCenterSelect(t(s, d, "embeddings"), k = 6)),
      // q76: the unrolled greedy chain — same quantization, distances, and
      // tie-breaks, generated from the same k so engine and oracle agree
      graft.ops.Similarity.kCenterSql(6)),
    // ---- DSIR-shaped data selection: hashed-bigram importance weights
    //      (target distribution over FIXED 4096 feature-hash buckets ÷
    //      raw distribution), top-50 most target-like raw docs. The
    //      model size is pinned by the hashing trick, not the
    //      vocabulary — the property that makes it trainable at 100 TB
    Query("q75_dsir_select", ((s, d) =>
      graft.ops.Classifier.dsirSelect(
        t(s, d, "documents"), isTarget = col("source") === "src0")),
      // q75: hashed-bigram DSIR replay — q66's bigram derivation, q20's
      // HUGEINT char fold per bigram, UNSIGNED mod 4096 (== the engine's
      // signed pmod because 4096 divides 2^64), the same smoothed two-step
      // micro ratio, top-50 by (weight desc, doc_id)
      s"""WITH tk AS (
         |  SELECT doc_id, source = 'src0' AS tgt, $toks AS tk FROM documents),
         |bi AS (
         |  SELECT doc_id, tgt,
         |    tk[CAST(i + 1 AS BIGINT)] || ' ' || tk[CAST(i + 2 AS BIGINT)] AS bg
         |  FROM tk, UNNEST(range(0, greatest(len(tk) - 1, 0))) AS t(i)
         |  WHERE len(tk) >= 2),
         |hb AS (
         |  SELECT doc_id, tgt,
         |    list_reduce(list_prepend(CAST(3421674724 AS HUGEINT),
         |      list_transform(split(bg, ''), c -> CAST(ord(c) AS HUGEINT))),
         |      (h, c) -> (h * 1000003 + c) % (CAST(1 AS HUGEINT) << 64)) AS hu
         |  FROM bi),
         |db AS (
         |  SELECT doc_id, tgt, CAST(hu % 4096 AS BIGINT) AS b, count(*) AS k
         |  FROM hb GROUP BY 1, 2, 3),
         |dist AS (
         |  SELECT b, sum(CASE WHEN tgt THEN k ELSE 0 END) AS tb, sum(k) AS rb
         |  FROM db GROUP BY 1),
         |tot AS (SELECT sum(tb) AS tt, sum(rb) AS rt FROM dist),
         |wts AS (
         |  SELECT b, (ptm * 1000000) // greatest(prm, 1) AS w_micro FROM (
         |    SELECT b, ((tb + 1) * 1000000) // (tt + 4096) AS ptm,
         |      ((rb + 1) * 1000000) // (rt + 4096) AS prm
         |    FROM dist, tot)),
         |sc AS (
         |  SELECT doc_id, sum(k) AS nf, sum(k * w_micro) // sum(k) AS aw
         |  FROM db JOIN wts USING (b) WHERE NOT tgt GROUP BY 1)
         |SELECT doc_id, CAST(nf AS BIGINT) AS n_features,
         |  CAST(aw AS BIGINT) AS avg_w_micro
         |FROM sc ORDER BY aw DESC, doc_id LIMIT 50""".stripMargin),
    // ---- deterministic seeded corpus shuffle: salted-hash permutation
    //      + epoch shards, no rand() — stable across runs, retries, and
    //      engines; per-shard windows, no global sort
    Query("q67_corpus_shuffle", ((s, d) =>
      graft.ops.Curation.corpusShuffle(
        tIds(s, d, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", nShards = 8, seed = 1L)),
      // q67: the q35 salted-hash idiom over ':shuf:<seed>'; shard = pmod,
      // pos = dense 0-based rank within shard by (signed key, doc_id)
      s"""WITH f AS (
         |  SELECT doc_id, n_chars,
         |    list_reduce(list_prepend(CAST(3421674724 AS HUGEINT),
         |      list_transform(split(CAST(doc_id AS VARCHAR) || ':shuf:1', ''),
         |        c -> CAST(ord(c) AS HUGEINT))),
         |      (h, c) -> (h * 1000003 + c) % (CAST(1 AS HUGEINT) << 64)) AS hu
         |  FROM documents),
         |k AS (
         |  SELECT doc_id, n_chars,
         |    CAST(CASE WHEN hu >= (CAST(1 AS HUGEINT) << 63)
         |         THEN hu - (CAST(1 AS HUGEINT) << 64) ELSE hu END AS BIGINT)
         |      AS shuffle_key
         |  FROM f)
         |SELECT doc_id, n_chars, shuffle_key,
         |  ((shuffle_key % 8) + 8) % 8 AS shard,
         |  CAST(row_number() OVER (PARTITION BY ((shuffle_key % 8) + 8) % 8
         |    ORDER BY shuffle_key, doc_id) - 1 AS BIGINT) AS pos
         |FROM k""".stripMargin),
    // ---- STREAMING sentence dedup: per-micro-batch incremental clean
    //      against a standing unit-hash index (versioned parquet, not
    //      the state store); id-ordered batches make the replayed union
    //      equal batch q64 exactly (shared oracle)
    Query("x62_stream_sentence_dedup", ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        .as[graft.streaming.StreamSentenceDedup.Doc].collect().toSeq
      val dir = graft.io.Scratch
        .dir("graft-x62").toString
      graft.streaming.StreamSentenceDedup.replaySentenceDedup(
        s, docs, dir, unitTokens = 12, nBatches = 3)
    }),
      sentenceDedupSql),
    // ---- STREAMING generic-signature near-dup: per-batch pairs against
    //      a standing versioned band-index table (the q94 probe inside
    //      foreachBatch); every pair is introduced by exactly one batch,
    //      so the replayed union equals batch q93 (shared oracle)
    Query("x81_stream_signature_near_dup", ((s, d) => {
      import s.implicits._
      val rows = signSigs(t(s, d, "embeddings"))
        .as[graft.streaming.StreamSignatureNearDup.SigRow].collect().toSeq
      val dir = graft.io.Scratch
        .dir("graft-x81").toString
      graft.streaming.StreamSignatureNearDup.replaySignaturePairs(
        s, rows, dir, maxHamming = 15, nBatches = 3)
    }),
      signatureNearDupSql),
    // ---- STREAMING token-budget mixture: one running token total per
    //      stratum as state; the budgets-are-floors contract makes the
    //      emitted union equal the batch operator exactly
    Query("x57_stream_budget_mix", ((s, d) => {
      import s.implicits._
      graft.streaming.StreamCuration.replayTokenBudgetMix(s,
        t(s, d, "documents").select(col("doc_id"), col("source"),
            size(Dedup.tokens(col("text"))).cast("long").as("n_tokens"))
          .as[graft.streaming.StreamCuration.MixDoc].collect().toSeq,
        budgets = Map("src0" -> 500L, "src1" -> 900L),
        defaultBudget = 700L)
    }),
      // x57 is the STREAMING shadow: one running token total per stratum as
      // state; on the ordered finite replay the emitted union must equal
      // the batch operator — the same SQL
      tokenBudgetMixSql),
    // ---- benchmark-contamination scan: exact-phrase hits per benchmark
    //      string. The phrase table broadcasts; the corpus is scanned
    //      once, map-side (substring test inside codegen) — the fuzzy
    //      variant of decontamination is the MinHash machinery (q15).
    Query("q43_contamination", ((s, d) => {
      val phrases = Seq("merge batch part", "stream window", "query value customer")
      val p = s.createDataset(phrases)(org.apache.spark.sql.Encoders.STRING)
        .toDF("phrase")
      t(s, d, "documents")
        .crossJoin(broadcast(p))
        .filter(col("text").contains(col("phrase")))
        .groupBy("phrase")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
    }),
      """WITH p(phrase) AS (VALUES
        |  ('merge batch part'), ('stream window'), ('query value customer'))
        |SELECT phrase, count(*) AS n_docs, min(doc_id) AS first_doc
        |FROM documents, p WHERE contains(text, phrase)
        |GROUP BY 1""".stripMargin),
    // ---- doc-length quantiles: exact quartiles next to the mergeable
    //      approx_percentile sketch (the KLL/GK-family companion to
    //      q36's HLL — at 100 TB the sketch is the affordable default;
    //      the exact agg needs the full value multiset per group).
    //      Quartiles only: 0.25/0.5/0.75 are exact binary fractions, so
    //      the interpolated value, x4, is integral and engine-exact.
    Query("q44_length_quantiles", ((s, d) =>
      tIds(s, d, "documents")
        .groupBy("source")
        .agg(
          (expr("percentile(n_chars, 0.25)") * 4).cast("long").as("p25_x4"),
          (expr("percentile(n_chars, 0.5)") * 4).cast("long").as("p50_x4"),
          (expr("percentile(n_chars, 0.75)") * 4).cast("long").as("p75_x4"),
          expr("approx_percentile(n_chars, 0.5, 1000)").as("ap50"))
        .select(col("source"), col("p25_x4"), col("p50_x4"), col("p75_x4"),
          (abs(col("ap50") * 4 - col("p50_x4")) * 10 <= col("p50_x4"))
            .cast("int").as("approx_within_10pct"))),
      // the sketch estimate has no cross-engine oracle; the exact
      // quartiles are strict and the sketch is pinned by the tolerance
      // flag (same pattern as q36). DuckDB's quantile_cont interpolates
      // with the same (n-1)*q rule.
      """SELECT source,
        |  CAST(quantile_cont(n_chars, 0.25) * 4 AS BIGINT) AS p25_x4,
        |  CAST(quantile_cont(n_chars, 0.5) * 4 AS BIGINT) AS p50_x4,
        |  CAST(quantile_cont(n_chars, 0.75) * 4 AS BIGINT) AS p75_x4,
        |  1 AS approx_within_10pct
        |FROM documents GROUP BY 1""".stripMargin),
    // ---- the full corpus build, composed end to end the way a training
    //      corpus is actually curated: language gate -> quality gate ->
    //      repetition gate -> exact-dedup keeper -> deterministic 80%
    //      sample, with per-stage survivor counts plus the final token
    //      budget. Every stage is an operator this engine ships and
    //      oracle-checks individually; this query pins their COMPOSITION.
    Query("q47_corpus_build", ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      // ONE pass computes every gate flag as a column (funnelFlags ends
      // in a pushdown barrier, so nothing re-inlines the metric forest);
      // the 7-branch union formulation re-evaluated the whole chain per
      // stage and cost ~10x
      val flagged = graft.ops.Curation.funnelFlags(docs)
      val keepers = flagged.filter(col("rep_ok"))
        .select(col("doc_id"), md5(lower(trim(col("text")))).as("fp"))
        .groupBy("fp").agg(min("doc_id").as("doc_id"))
        .select(col("doc_id"), lit(true).as("is_keeper"))
      val bucket = pmod(TextAnalysis.fingerprint64(
        concat(col("doc_id").cast("string"), lit(":build1"))), lit(100L))
      val staged = flagged.join(keepers, Seq("doc_id"), "left")
        .withColumn("is_keeper", coalesce(col("is_keeper"), lit(false)))
        .withColumn("sampled", col("is_keeper") && bucket < 80)
      val r = staged.agg(
        count(lit(1)).cast("long"),
        sum(col("lang_ok").cast("long")),
        sum(col("qual_ok").cast("long")),
        sum(col("rep_ok").cast("long")),
        sum(col("is_keeper").cast("long")),
        sum(col("sampled").cast("long")),
        sum(when(col("sampled"), col("n_toks")).otherwise(lit(0L))))
        .as[(Long, Long, Long, Long, Long, Long, Long)].head()
      Seq(("s0_total", r._1), ("s1_lang_en", r._2), ("s2_quality", r._3),
        ("s3_repetition", r._4), ("s4_dedup_keeper", r._5),
        ("s5_sampled", r._6), ("s6_sampled_tokens", r._7))
        .toDF("stage", "n")
    }),
      s"""WITH repq AS ($repetitionOracleSql),
         |repk AS (SELECT doc_id FROM repq WHERE keep = 1),
         |prof AS (
         |  SELECT doc_id, text, source, $langCaseSql AS lang_pred,
         |    $qualityBpSql AS quality_bp
         |  FROM documents),
         |lang_ok AS (SELECT * FROM prof WHERE lang_pred = 'en'),
         |qual_ok AS (SELECT * FROM lang_ok WHERE quality_bp >= 6000),
         |rep_ok AS (SELECT q.* FROM qual_ok q
         |           WHERE q.doc_id IN (SELECT doc_id FROM repk)),
         |keepers AS (
         |  SELECT min(doc_id) AS doc_id FROM rep_ok
         |  GROUP BY md5(lower(trim(text)))),
         |hash AS (
         |  SELECT k.doc_id,
         |    list_reduce(
         |      list_prepend(CAST(3421674724 AS HUGEINT),
         |        list_transform(split(CAST(k.doc_id AS VARCHAR) || ':build1', ''),
         |          c -> CAST(ord(c) AS HUGEINT))),
         |      (h, c) -> (h * 1000003 + c) % (CAST(1 AS HUGEINT) << 64)) AS hu
         |  FROM keepers k),
         |sampled AS (
         |  SELECT doc_id FROM hash
         |  WHERE CAST((((CASE WHEN hu >= (CAST(1 AS HUGEINT) << 63)
         |        THEN hu - (CAST(1 AS HUGEINT) << 64) ELSE hu END) % 100)
         |      + 100) % 100 AS BIGINT) < 80),
         |sampled_docs AS (
         |  SELECT d.* FROM documents d
         |  WHERE d.doc_id IN (SELECT doc_id FROM sampled))
         |SELECT 's0_total' AS stage, count(*) AS n FROM documents
         |UNION ALL SELECT 's1_lang_en', count(*) FROM lang_ok
         |UNION ALL SELECT 's2_quality', count(*) FROM qual_ok
         |UNION ALL SELECT 's3_repetition', count(*) FROM rep_ok
         |UNION ALL SELECT 's4_dedup_keeper', count(*) FROM keepers
         |UNION ALL SELECT 's5_sampled', count(*) FROM sampled
         |UNION ALL SELECT 's6_sampled_tokens',
         |  CAST(sum(len($toks)) AS BIGINT) FROM sampled_docs""".stripMargin),
    // ---- corrupt-input resilience: at 100 TB some files WILL be
    //      truncated or garbage; ignoreCorruptFiles turns them into
    //      skipped splits instead of a dead job. The query plants a
    //      corrupt file next to real parquet and must still return the
    //      intact rows' aggregate (values pinned by the oracle over the
    //      clean table).
    Query("x33_corrupt_file_skip", ((s, d) => {
      val dir = graft.io.Scratch.dir("graft-corrupt").toString
      val docs = t(s, d, "documents").select("doc_id", "n_chars")
      docs.coalesce(2).write.mode("overwrite").parquet(dir)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/part-corrupt.parquet"),
        "this is not parquet".getBytes)
      import s.implicits._
      val (n, tot) = s.read.option("ignoreCorruptFiles", "true").parquet(dir)
        .agg(count(lit(1)).cast("long"), sum("n_chars").cast("long"))
        .as[(Long, Long)].head()
      Seq((n, tot)).toDF("n_docs", "total_chars")
    }),
      """SELECT count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents""".stripMargin),
    // ---- overlapping token-window chunking (RAG/context prep):
    //      map-side fan-out only, chunk boundaries a pure function of
    //      the token count
    Query("q48_doc_chunks", ((s, d) =>
      graft.ops.Curation.chunkDocs(t(s, d, "documents"),
        window = 32, overlap = 8)),
      // stride 24 = window 32 - overlap 8; chunk_idx = tok_start // stride
      s"""WITH base AS (SELECT doc_id, $toks AS toks FROM documents),
         |s AS (
         |  SELECT doc_id, toks,
         |    unnest(range(0, greatest(len(toks) - 1, 0) + 1, 24)) AS tok_start
         |  FROM base)
         |SELECT doc_id, CAST(tok_start // 24 AS INT) AS chunk_idx,
         |  CAST(tok_start AS INT) AS tok_start,
         |  CAST(len(list_slice(toks, tok_start + 1, tok_start + 32)) AS INT) AS n_tokens,
         |  array_to_string(list_slice(toks, tok_start + 1, tok_start + 32), ' ') AS chunk_text
         |FROM s""".stripMargin),
    // ---- the v2-LLM orchestration shape end to end: chunk (C15) ->
    //      content-hash cache, one "model call" per unique chunk (S9) ->
    //      rejoin by key -> position-sensitive per-doc merge (C14).
    //      Deterministic model stand-in (no egress), whole chain
    //      DuckDB-replayable.
    Query("q52_chunk_cache_extract", ((s, d) =>
      graft.ops.Curation.cachedChunkExtract(t(s, d, "documents"),
        window = 32, overlap = 8)),
      // q48's chunk derivation + q20's fingerprint chain on each UNIQUE
      // chunk + the position-weighted XOR merge, replayed independently
      s"""WITH base AS (SELECT doc_id, $toks AS toks FROM documents),
         |s AS (
         |  SELECT doc_id, toks,
         |    unnest(range(0, greatest(len(toks) - 1, 0) + 1, 24)) AS tok_start
         |  FROM base),
         |chunks AS (
         |  SELECT doc_id, CAST(tok_start // 24 AS INT) AS chunk_idx,
         |    CAST(len(list_slice(toks, tok_start + 1, tok_start + 32)) AS INT) AS n_tokens,
         |    array_to_string(list_slice(toks, tok_start + 1, tok_start + 32), ' ') AS chunk_text
         |  FROM s),
         |keyed AS (
         |  SELECT doc_id, chunk_idx, md5(chunk_text) AS ckey, chunk_text, n_tokens
         |  FROM chunks),
         |uniq AS (
         |  SELECT ckey, n_tokens,
         |    CAST(CASE WHEN hu >= (CAST(1 AS HUGEINT) << 63)
         |         THEN hu - (CAST(1 AS HUGEINT) << 64) ELSE hu END AS BIGINT) AS fp64
         |  FROM (
         |    SELECT ckey, n_tokens,
         |      list_reduce(
         |        list_prepend(CAST(3421674724 AS HUGEINT),
         |          list_transform(split(chunk_text, ''), c -> CAST(ord(c) AS HUGEINT))),
         |        (h, c) -> (h * 1000003 + c) % (CAST(1 AS HUGEINT) << 64)) AS hu
         |    FROM (SELECT DISTINCT ckey, chunk_text, n_tokens FROM keyed))),
         |joined AS (
         |  SELECT k.doc_id, k.chunk_idx, k.ckey, u.fp64, u.n_tokens
         |  FROM keyed k JOIN uniq u USING (ckey))
         |SELECT doc_id, count(*) AS n_chunks,
         |  count(DISTINCT ckey) AS n_unique_chunks,
         |  CAST(sum(n_tokens) AS BIGINT) AS merged_tokens,
         |  bit_xor(xor(fp64, CAST(chunk_idx + 1 AS BIGINT))) AS merged_fp
         |FROM joined GROUP BY doc_id""".stripMargin),
    // ---- ANALYZE-style column statistics: one scan for all columns
    //      (multiple exact DISTINCTs via a single Expand); the 100 TB
    //      variant swaps in approx_count_distinct, same plan shape
    Query("q49_table_stats", ((s, d) =>
      graft.ops.Profiler.tableStats(t(s, d, "documents"),
        Seq("doc_id", "text", "lang", "source", "n_chars"))),
      graft.ops.Profiler.tableStatsSql("documents",
        Seq("doc_id", "text", "lang", "source", "n_chars"))),
    // ---- the curation funnel as a CONTINUOUS ingest query: stateless
    //      gates per micro-batch, stateful dedup over survivors only —
    //      rejected docs never touch the state store. Final table must
    //      equal the batch formulation (oracle shares q47's fragments).
    Query("x32_stream_curated_dedup", ((s, d) => {
      import s.implicits._
      graft.streaming.StreamCuration.replayCuratedDupGroups(s,
        t(s, d, "documents").select("doc_id", "text")
          .as[graft.streaming.DocDedup.Doc])
    }),
      // the streaming funnel's final table == batch gates + md5 groups
      s"""WITH repq AS ($repetitionOracleSql),
         |repk AS (SELECT doc_id FROM repq WHERE keep = 1),
         |prof AS (
         |  SELECT doc_id, text, $langCaseSql AS lang_pred,
         |    $qualityBpSql AS quality_bp
         |  FROM documents),
         |ok AS (
         |  SELECT doc_id, text FROM prof
         |  WHERE lang_pred = 'en' AND quality_bp >= 6000
         |    AND doc_id IN (SELECT doc_id FROM repk))
         |SELECT md5(lower(trim(text))) AS fp, count(*) AS n_docs,
         |  min(doc_id) AS keeper_doc_id
         |FROM ok GROUP BY 1""".stripMargin),
    // ---- AQE runtime skew split: the same hot-key problem as q29, but
    //      handled by OptimizeSkewedJoin at runtime (plan pinned in
    //      PlanAuditSpec: SortMergeJoin(skew=true)). Materialized inside
    //      the conf scope so the lowered skew thresholds apply at
    //      execution, then returned as values.
    Query("x31_aqe_skew_join", ((s, _) => {
      import s.implicits._
      graft.ops.SkewJoin.withSkewTestConfs(s) {
        val j = graft.ops.SkewJoin.aqeSkewedJoin(s)
        val row = j.agg(count(lit(1)).as("n_rows"),
          sum("v").as("sum_v")).as[(Long, Long)].head()
        Seq(row).toDF("n_rows", "sum_v")
      }
    }),
      """WITH l AS (
        |  SELECT CASE WHEN range % 10 < 9 THEN 0 ELSE range % 1000 END AS k,
        |    range AS v
        |  FROM range(0, 200000)),
        |r AS (SELECT range AS k FROM range(0, 1000) WHERE range % 3 = 0)
        |SELECT count(*) AS n_rows, CAST(sum(v) AS BIGINT) AS sum_v
        |FROM l JOIN r USING (k)""".stripMargin),
    // ---- the SQL-user surface: both custom Catalyst expressions
    //      registered as session functions, a temp view, and a query
    //      that is PURE SQL TEXT — what a spark-sql user of this
    //      library actually types. Oracle replays both hash chains.
    Query("x37_sql_surface", ((s, d) => {
      graft.functions.RollingHash64.register(s)
      graft.functions.SimHash64.register(s)
      graft.functions.VecOps.register(s)
      t(s, d, "documents").filter(col("doc_id") < 50)
        .createOrReplaceTempView("graft_docs_x37")
      // toklen_sq: sum of squared token lengths via the vector kernel —
      // integral doubles, so the cast to BIGINT is exact cross-engine
      s.sql("""SELECT doc_id,
                 graft_fingerprint64(text) AS fp64,
                 graft_simhash64(text) AS sh64,
                 CAST(graft_vec_dot(
                   transform(split(trim(lower(text)), '\\s+'),
                             t -> CAST(length(t) AS DOUBLE)),
                   transform(split(trim(lower(text)), '\\s+'),
                             t -> CAST(length(t) AS DOUBLE))) AS BIGINT)
                   AS toklen_sq
                 FROM graft_docs_x37""")
    }),
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($toks) AS tok FROM documents WHERE doc_id < 50),
         |th AS (
         |  SELECT doc_id,
         |    list_reduce(list_prepend(CAST(3421674724 AS HUGEINT),
         |      list_transform(split(tok, ''), c -> CAST(ord(c) AS HUGEINT))),
         |      (h, c) -> (h * 1000003 + c) % (CAST(1 AS HUGEINT) << 64)) AS hu
         |  FROM tok),
         |bitcnt AS (
         |  SELECT doc_id, t.bit,
         |    sum(CASE WHEN (hu >> t.bit) % 2 = 1 THEN 1 ELSE -1 END) AS cnt
         |  FROM th CROSS JOIN (SELECT CAST(range AS INTEGER) AS bit FROM range(64)) t
         |  GROUP BY doc_id, t.bit),
         |sigs AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN cnt > 0 THEN CAST(CAST(1 AS HUGEINT) << bit AS HUGEINT)
         |             ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS sigu
         |  FROM bitcnt GROUP BY doc_id),
         |sh AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN sigu >= (CAST(1 AS HUGEINT) << 63)
         |         THEN sigu - (CAST(1 AS HUGEINT) << 64) ELSE sigu END AS BIGINT) AS sh64
         |  FROM sigs),
         |fp AS (
         |  SELECT doc_id,
         |    list_reduce(
         |      list_prepend(CAST(3421674724 AS HUGEINT),
         |        list_transform(split(text, ''), c -> CAST(ord(c) AS HUGEINT))),
         |      (h, c) -> (h * 1000003 + c) % (CAST(1 AS HUGEINT) << 64)) AS hu
         |  FROM documents WHERE doc_id < 50),
         |fps AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN hu >= (CAST(1 AS HUGEINT) << 63)
         |         THEN hu - (CAST(1 AS HUGEINT) << 64) ELSE hu END AS BIGINT) AS fp64
         |  FROM fp),
         |tl AS (
         |  SELECT doc_id,
         |    CAST(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform($toks,
         |        t -> CAST(length(t) AS DOUBLE) * CAST(length(t) AS DOUBLE))),
         |      (a, x) -> a + x) AS BIGINT) AS toklen_sq
         |  FROM documents WHERE doc_id < 50)
         |SELECT fps.doc_id, fps.fp64, sh.sh64, tl.toklen_sq
         |FROM fps JOIN sh USING (doc_id) JOIN tl USING (doc_id)""".stripMargin),
    // ---- partition-spec evolution on the committed table: commit 1
    //      tracks doc_ord (the original spec), commits 2-3 track `temp`
    //      (the evolved spec) — nothing rewritten. A temp-range read
    //      prunes commit-3's files by their temp stats, keeps commit-1's
    //      files CONSERVATIVELY (old spec never tracked temp — Iceberg's
    //      cross-spec scan rule), and the skip is pinned the x49 way:
    //      every pruned file is poisoned before the scan
    // ---- snapshot expiry (Iceberg expire_snapshots): metadata-level
    //      retention — vacuum bounds the DATA files, expiry bounds the
    //      snapshot LOG (millions of snapshots at per-micro-batch
    //      cadence). Sequence proven here: upsert rebases, expiry drops
    //      the superseded metadata (time travel to it now fails loudly
    //      WHILE its files are still on disk — the metadata effect
    //      isolated), vacuum then reclaims the files, the current state
    //      is byte-identical throughout (SQL-derived oracle)
    Query("x67_snapshot_expiry", ((s, _) => {
      import s.implicits._
      val dir = graft.io.Scratch
        .dir("graft-x67").toString + "/t"
      def frame(lo: Long, hi: Long,
          temp: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        s.range(lo, hi + 1)
          .select(col("id").as("doc_ord"), col("id").as("doc_id"))
          .withColumn("temp", temp(col("doc_ord")).cast("long"))
          .repartitionByRange(2, col("doc_ord"))
      graft.pipeline.Checkpointing.commit(frame(1, 100, o => o * 3), dir, "c1")
      graft.pipeline.Checkpointing.commit(frame(101, 200, o => o * 3), dir, "c2")
      graft.pipeline.Checkpointing.upsert(frame(51, 150, o => o * 7), dir, "u1")
      graft.pipeline.Checkpointing.commit(frame(201, 300, o => o * 3), dir, "c3")
      val before = graft.pipeline.Checkpointing.snapshots(dir).size
      val expired = graft.pipeline.Checkpointing
        .expireSnapshots(dir, keepLast = 2)
      require(expired == Seq("c1", "c2"), s"expected c1,c2 expired: $expired")
      // metadata effect isolated: the expired versions' FILES are still
      // on disk here, yet time travel must already fail
      val travelFails = Seq(1, 2).count(v => scala.util
        .Try(graft.pipeline.Checkpointing.readAt(s, dir, v).count()).isFailure)
      val removed = graft.pipeline.Checkpointing.vacuum(dir)
      val cur = graft.pipeline.Checkpointing.readAt(s, dir, 4)
        .drop("doc_id")
      Seq(
        ("snapshots_before", before.toLong),
        ("n_expired", expired.size.toLong),
        ("snapshots_after",
          graft.pipeline.Checkpointing.snapshots(dir).size.toLong),
        ("expired_reads_fail", travelFails.toLong),
        ("files_vacuumed", removed.size.toLong),
        ("rows_current", cur.count()),
        ("sum_temp_current",
          cur.agg(sum(col("temp"))).collect()(0).getLong(0)))
        .toDF("metric", "n")
    }),
      // x67: the current-state rows derive from the commit/upsert arithmetic
      // in SQL (the upserted segment at 7x, the rest at 3x); the lifecycle
      // counts (4 committed, 2 expired, both expired reads failing with
      // files still on disk, 4 orphaned files vacuumed) are the contract
      """WITH cur AS (
        |  SELECT i AS doc_ord,
        |    CASE WHEN i BETWEEN 51 AND 150 THEN i*7 ELSE i*3 END AS temp
        |  FROM range(1, 301) t(i))
        |SELECT * FROM (VALUES
        |  ('snapshots_before', CAST(4 AS BIGINT)),
        |  ('n_expired', 2),
        |  ('snapshots_after', 2),
        |  ('expired_reads_fail', 2),
        |  ('files_vacuumed', 4),
        |  ('rows_current', (SELECT count(*) FROM cur)),
        |  ('sum_temp_current', (SELECT CAST(sum(temp) AS BIGINT) FROM cur))
        |) v(metric, n)""".stripMargin),
    // ---- Iceberg-style tags (named refs): "the corpus as trained on"
    //      pinned by ONE metadata file. The lifecycle proven end to end:
    //      a tag blocks expiry AND vacuum for its whole effective stack
    //      (files untouched, readTag exact), dropping it releases both,
    //      and compact refuses while a tag exists (it deletes outright
    //      where upsert defers to tag-aware vacuum)
    // ---- branches: the writable ref — multi-commit audit work lands
    //      atomically via fast-forward or is dropped; main readers never
    //      see branch files; vacuum/compact honor branch liveness;
    //      diverged fast-forward refuses
    Query("x76_branches", ((s, _) => {
      import s.implicits._
      val dir = graft.io.Scratch
        .dir("graft-x76").toString + "/t"
      def frame(lo: Long, hi: Long, mult: Long) =
        s.range(lo, hi + 1)
          .select(col("id").as("doc_ord"), col("id").as("doc_id"))
          .withColumn("temp", (col("doc_ord") * mult).cast("long"))
          .repartitionByRange(2, col("doc_ord"))
      val C = graft.pipeline.Checkpointing
      C.commit(frame(1, 100, 3), dir, "c1")
      C.commit(frame(101, 200, 3), dir, "c2")
      C.createBranch(dir, "audit", 2)
      C.commitToBranch(frame(201, 300, 5), dir, "audit", "b1")
      C.commitToBranch(frame(301, 400, 5), dir, "audit", "b2")
      val mainBefore = C.readAt(s, dir, C.snapshots(dir).last.seq)
      val branch = C.readBranch(s, dir, "audit")
      val branchRows = branch.count()
      val branchSum = branch.agg(sum(col("temp"))).collect()(0).getLong(0)
      val vacuumedWhileBranched = C.vacuum(dir).size.toLong
      val compactBlocked = scala.util
        .Try(C.compact(s, dir, 2, "never")).isFailure
      // a second branch left behind while main advances: fast-forward
      // must refuse (divergence) and dropping it orphans its files
      C.createBranch(dir, "exp", 2)
      C.commitToBranch(frame(401, 500, 7), dir, "exp", "e1")
      val mainRowsBefore = mainBefore.count()
      val head = C.fastForward(dir, "audit").toLong
      val ffDivergedBlocked = scala.util
        .Try(C.fastForward(dir, "exp")).isFailure
      C.dropBranch(dir, "exp")
      val vacuumedAfterDrop = C.vacuum(dir).size.toLong
      val cur = C.readAt(s, dir, head.toInt)
      val v2 = C.readAt(s, dir, 2)
      Seq(
        ("rows_main_before_ff", mainRowsBefore),
        ("rows_branch", branchRows),
        ("sum_temp_branch", branchSum),
        ("vacuumed_while_branched", vacuumedWhileBranched),
        ("branch_blocks_compact", if (compactBlocked) 1L else 0L),
        ("ff_head", head),
        ("rows_main_after_ff", cur.count()),
        ("sum_temp_after_ff",
          cur.agg(sum(col("temp"))).collect()(0).getLong(0)),
        ("ff_diverged_blocked", if (ffDivergedBlocked) 1L else 0L),
        ("vacuumed_after_drop", vacuumedAfterDrop),
        ("rows_at_v2_after_ff", v2.count()))
        .toDF("metric", "n")
    }),
      // x68: both table states derive from the commit/upsert arithmetic in
      // SQL — the tagged version is all-3x over 1..200, the current state is
      // x67's shape; lifecycle counts are the retention contract
      // x76: the branch content and post-fast-forward state derive from the
      // commit arithmetic (1..200 at 3x on main, 201..400 at 5x on the
      // branch); lifecycle counts (nothing vacuumed while the branch lives,
      // compact+diverged-ff refused, the dropped branch's 2 files reclaimed)
      // are the contract
      """WITH main_b AS (
        |  SELECT i AS doc_ord, i*3 AS temp FROM range(1, 201) t(i)),
        |br AS (
        |  SELECT doc_ord, temp FROM main_b
        |  UNION ALL
        |  SELECT i AS doc_ord, i*5 AS temp FROM range(201, 401) t(i))
        |SELECT * FROM (VALUES
        |  ('rows_main_before_ff', (SELECT count(*) FROM main_b)),
        |  ('rows_branch', (SELECT count(*) FROM br)),
        |  ('sum_temp_branch', (SELECT CAST(sum(temp) AS BIGINT) FROM br)),
        |  ('vacuumed_while_branched', 0),
        |  ('branch_blocks_compact', 1),
        |  ('ff_head', 4),
        |  ('rows_main_after_ff', (SELECT count(*) FROM br)),
        |  ('sum_temp_after_ff', (SELECT CAST(sum(temp) AS BIGINT) FROM br)),
        |  ('ff_diverged_blocked', 1),
        |  ('vacuumed_after_drop', 2),
        |  ('rows_at_v2_after_ff', (SELECT count(*) FROM main_b))
        |) v(metric, n)""".stripMargin),
    Query("x68_snapshot_tags", ((s, _) => {
      import s.implicits._
      val dir = graft.io.Scratch
        .dir("graft-x68").toString + "/t"
      def frame(lo: Long, hi: Long,
          temp: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        s.range(lo, hi + 1)
          .select(col("id").as("doc_ord"), col("id").as("doc_id"))
          .withColumn("temp", temp(col("doc_ord")).cast("long"))
          .repartitionByRange(2, col("doc_ord"))
      val C = graft.pipeline.Checkpointing
      C.commit(frame(1, 100, o => o * 3), dir, "c1")
      C.commit(frame(101, 200, o => o * 3), dir, "c2")
      C.tag(dir, "train-v1", 2)
      C.upsert(frame(51, 150, o => o * 7), dir, "u1")
      C.commit(frame(201, 300, o => o * 3), dir, "c3")
      val expiredTagged = C.expireSnapshots(dir, keepLast = 1)
      val vacuumedTagged = C.vacuum(dir)
      val tagged = C.readTag(s, dir, "train-v1")
      val tagRows = tagged.count()
      val tagSum = tagged.agg(sum(col("temp"))).collect()(0).getLong(0)
      C.dropTag(dir, "train-v1")
      val expiredAfter = C.expireSnapshots(dir, keepLast = 1)
      val vacuumedAfter = C.vacuum(dir)
      val cur = C.readAt(s, dir, 4)
      C.tag(dir, "rc", 4)
      val compactBlocked = scala.util
        .Try(C.compact(s, dir, 2, "never")).isFailure
      Seq(
        ("expired_while_tagged", expiredTagged.size.toLong),
        ("vacuumed_while_tagged", vacuumedTagged.size.toLong),
        ("tag_rows", tagRows),
        ("tag_sum_temp", tagSum),
        ("expired_after_drop", expiredAfter.size.toLong),
        ("vacuumed_after_drop", vacuumedAfter.size.toLong),
        ("rows_current", cur.count()),
        ("sum_temp_current", cur.agg(sum(col("temp")))
          .collect()(0).getLong(0)),
        ("tag_blocks_compact", if (compactBlocked) 1L else 0L))
        .toDF("metric", "n")
    }),
      """WITH tagged AS (
        |  SELECT i AS doc_ord, i*3 AS temp FROM range(1, 201) t(i)),
        |cur AS (
        |  SELECT i AS doc_ord,
        |    CASE WHEN i BETWEEN 51 AND 150 THEN i*7 ELSE i*3 END AS temp
        |  FROM range(1, 301) t(i))
        |SELECT * FROM (VALUES
        |  ('expired_while_tagged', CAST(0 AS BIGINT)),
        |  ('vacuumed_while_tagged', 0),
        |  ('tag_rows', (SELECT count(*) FROM tagged)),
        |  ('tag_sum_temp', (SELECT CAST(sum(temp) AS BIGINT) FROM tagged)),
        |  ('expired_after_drop', 2),
        |  ('vacuumed_after_drop', 4),
        |  ('rows_current', (SELECT count(*) FROM cur)),
        |  ('sum_temp_current', (SELECT CAST(sum(temp) AS BIGINT) FROM cur)),
        |  ('tag_blocks_compact', 1)
        |) v(metric, n)""".stripMargin),
    Query("x59_spec_evolution", ((s, _) => {
      import s.implicits._
      val dir = graft.io.Scratch
        .dir("graft-x59").toString + "/t"
      def frame(lo: Long, hi: Long,
          temp: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        s.range(lo, hi + 1).select(col("id").as("doc_ord"))
          .withColumn("temp", temp(col("doc_ord")).cast("long"))
          .repartitionByRange(2, col("doc_ord"))
      graft.pipeline.Checkpointing.commit(
        frame(1, 100, o => o * 3), dir, "c1")
      graft.pipeline.Checkpointing.commitWithSpec(
        frame(101, 200, o => o + lit(900L)), dir, "c2", "temp")
      graft.pipeline.Checkpointing.commitWithSpec(
        frame(201, 300, o => o + lit(1800L)), dir, "c3", "temp")
      val (kept, skipped) = graft.pipeline.Checkpointing
        .pruneInfo(dir, 3, 1000L, 1100L, spec = "temp")
      val c1Files = graft.pipeline.Checkpointing.snapshots(dir)
        .find(_.runId == "c1").get.files.toSet
      require(c1Files.subsetOf(kept.toSet),
        s"old-spec files must be kept conservatively: kept=$kept")
      skipped.foreach(n => java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/$n"), "poison".getBytes("UTF-8")))
      val rows = graft.pipeline.Checkpointing
        .readRange(s, dir, 3, 1000L, 1100L, spec = "temp").count()
      Seq(
        ("files_total", 6L), ("files_kept", kept.size.toLong),
        ("files_skipped", skipped.size.toLong),
        ("old_spec_files_kept", c1Files.count(kept.contains).toLong),
        ("rows_after_filter", rows)).toDF("metric", "n")
    }),
      // x59: layout metrics are fixed by the synthetic frame construction —
      // 3 commits x 2 range files; temp in [1000,1100] selects exactly
      // commit 2's 100 rows (temps 1001..1100), prunes commit 3's 2 files
      // (2001..2100), keeps commit 1's 2 old-spec files conservatively
      """SELECT * FROM (VALUES
        |  ('files_total', 6), ('files_kept', 4), ('files_skipped', 2),
        |  ('old_spec_files_kept', 2), ('rows_after_filter', 100)
        |) t(metric, n)""".stripMargin),
    // ---- z-order (Morton) file clustering vs the linear sort: both
    //      layouts built with the SAME deterministic rank-bucket
    //      machinery (quantize -> interleave via the native
    //      graft_zvalue expression -> distributed prefix-sum rank), then
    //      per-bucket min/max stats answer three probes. The payoff row
    //      is dimB: the linear layout reads EVERY file, z-order reads a
    //      handful — one layout serving predicates on either dimension
    //      is the whole point of ZORDER BY. Oracle replays quantization,
    //      bit-spreading, ranking, and pruning in SQL.
    Query("x58_zorder_skipping", ((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events").select(
        col("event_id").cast("long").as("event_id"),
        col("user_id").cast("long").as("user_id"),
        unix_timestamp(col("ts")).as("tsec"))
      val zb = graft.ops.ZOrder
        .zbucketed(ev, "user_id", "tsec", "event_id", nBuckets = 16)
        .persist()
      val lin = graft.ops.ZOrder
        .linearBucketed(zb, "qa", "event_id", nBuckets = 16)
      val zstats = graft.ops.ZOrder.bucketStats(zb, "zbucket")
      val lstats = graft.ops.ZOrder.bucketStats(lin, "linbucket")
      val probes = Seq(("dimA", 16384L, 24575L, 0L, 65535L),
        ("dimB", 0L, 65535L, 16384L, 24575L),
        ("box", 16384L, 24575L, 16384L, 24575L))
      // one action per frame: all three probes aggregate in a single
      // pass over the rows / the 16-row stats
      val rowsCols = probes.map { case (p, al, ah, bl, bh) =>
        sum(when(col("qa").between(al, ah) &&
          col("qb").between(bl, bh), 1L).otherwise(0L)).as(p)
      }
      val rowsRow = zb.agg(rowsCols.head, rowsCols.tail: _*).collect()(0)
      val rowsM = probes.map(_._1).zipWithIndex
        .map { case (p, i) => p -> rowsRow.getLong(i) }.toMap
      val out = Seq(("zorder", zstats), ("linear", lstats)).flatMap {
        case (layout, st) =>
          val hitCols = probes.map { case (p, al, ah, bl, bh) =>
            graft.ops.ZOrder.bucketsHit(al, ah, bl, bh).as(p)
          }
          val hitRow = st.agg(hitCols.head, hitCols.tail: _*).collect()(0)
          probes.map(_._1).zipWithIndex.map { case (p, i) =>
            (layout, p, hitRow.getLong(i), 16L, rowsM(p))
          }
      }
      zb.unpersist()
      out.toDF("layout", "probe", "files_hit", "files_total", "rows_match")
    }),
      // x58: full replay of the layout math — epoch-second quantization,
      // magic-mask bit spreading, rank over (zval, event_id), bucket =
      // rank*16 div n, per-bucket stats, box-intersection pruning
      s"""WITH b AS (
         |  SELECT CAST(min(user_id) AS BIGINT) alo, CAST(max(user_id) AS BIGINT) ahi,
         |         CAST(floor(epoch(min(ts))) AS BIGINT) blo, CAST(floor(epoch(max(ts))) AS BIGINT) bhi
         |  FROM events),
         |q AS (
         |  SELECT event_id,
         |    CASE WHEN ahi = alo THEN 0
         |         ELSE ((CAST(user_id AS BIGINT) - alo) * 65535) // (ahi - alo) END AS qa,
         |    CASE WHEN bhi = blo THEN 0
         |         ELSE ((CAST(floor(epoch(ts)) AS BIGINT) - blo) * 65535) // (bhi - blo) END AS qb
         |  FROM events, b),
         |z0 AS (SELECT event_id, qa, qb,
         |    (qa | (qa << 8)) & 16711935 AS sa, (qb | (qb << 8)) & 16711935 AS sb FROM q),
         |z1 AS (SELECT event_id, qa, qb,
         |    (sa | (sa << 4)) & 252645135 AS sa, (sb | (sb << 4)) & 252645135 AS sb FROM z0),
         |z2 AS (SELECT event_id, qa, qb,
         |    (sa | (sa << 2)) & 858993459 AS sa, (sb | (sb << 2)) & 858993459 AS sb FROM z1),
         |z3 AS (SELECT event_id, qa, qb,
         |    (sa | (sa << 1)) & 1431655765 AS sa, (sb | (sb << 1)) & 1431655765 AS sb FROM z2),
         |z AS (SELECT event_id, qa, qb, sa | (sb << 1) AS zval FROM z3),
         |n AS (SELECT count(*) AS total FROM z),
         |zb AS (SELECT qa, qb,
         |    ((row_number() OVER (ORDER BY zval, event_id) - 1) * 16) // total AS bucket
         |  FROM z, n),
         |lb AS (SELECT qa, qb,
         |    ((row_number() OVER (ORDER BY qa, event_id) - 1) * 16) // total AS bucket
         |  FROM z, n),
         |stats AS (
         |  SELECT 'zorder' AS layout, bucket, min(qa) AS qa_min, max(qa) AS qa_max,
         |         min(qb) AS qb_min, max(qb) AS qb_max FROM zb GROUP BY 2
         |  UNION ALL
         |  SELECT 'linear' AS layout, bucket, min(qa), max(qa), min(qb), max(qb)
         |  FROM lb GROUP BY 2),
         |probes AS (SELECT * FROM (VALUES
         |  ('dimA', 16384, 24575, 0, 65535),
         |  ('dimB', 0, 65535, 16384, 24575),
         |  ('box',  16384, 24575, 16384, 24575)) p(probe, qalo, qahi, qblo, qbhi)),
         |hits AS (
         |  SELECT s.layout, p.probe,
         |    CAST(sum(CASE WHEN s.qa_max >= p.qalo AND s.qa_min <= p.qahi
         |                   AND s.qb_max >= p.qblo AND s.qb_min <= p.qbhi
         |             THEN 1 ELSE 0 END) AS BIGINT) AS files_hit
         |  FROM stats s CROSS JOIN probes p GROUP BY 1, 2),
         |rowsm AS (
         |  SELECT p.probe, CAST(count(*) AS BIGINT) AS rows_match
         |  FROM probes p JOIN q
         |    ON q.qa BETWEEN p.qalo AND p.qahi AND q.qb BETWEEN p.qblo AND p.qbhi
         |  GROUP BY 1)
         |SELECT h.layout, h.probe, h.files_hit,
         |  CAST(16 AS BIGINT) AS files_total,
         |  coalesce(r.rows_match, 0) AS rows_match
         |FROM hits h LEFT JOIN rowsm r USING (probe)""".stripMargin),
    // ---- int8 embedding quantization (the storage layout trained
    //      retrieval corpora ship in): per-vector max-abs scale,
    //      symmetric round-half-up to [-127, 127]. floor(x+0.5) instead
    //      of round() so both engines share one rounding rule; outputs
    //      are integer sums of the quantized values — exact cross-engine.
    Query("q51_embedding_quantize", ((s, d) => {
      val emb = col("embedding")
      val maxabs = array_max(transform(emb, x => abs(x.cast("double"))))
      val q = transform(emb, x =>
        when(col("maxabs") === 0d, lit(0L)).otherwise(
          floor(x.cast("double") * 127d / col("maxabs") + 0.5d).cast("long")))
      t(s, d, "embeddings")
        .withColumn("maxabs", maxabs)
        .withColumn("q", q)
        .select(col("vec_id"),
          size(col("q")).as("n_dims"),
          floor(col("maxabs") * 1e6).cast("long").as("maxabs_micro"),
          aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
          aggregate(col("q"), lit(0L), (a, x) => a + abs(x)).as("q_l1"))
    }),
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, maxabs,
        |    list_transform(embedding, x -> CASE WHEN maxabs = 0 THEN 0
        |      ELSE CAST(floor(CAST(x AS DOUBLE) * 127 / maxabs + 0.5) AS BIGINT) END) AS qv
        |  FROM m)
        |SELECT vec_id, CAST(len(qv) AS INT) AS n_dims,
        |  CAST(floor(maxabs * 1e6) AS BIGINT) AS maxabs_micro,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  CAST(list_sum(list_transform(qv, v -> abs(v))) AS BIGINT) AS q_l1
        |FROM q""".stripMargin),
    // ---- per-label embedding centroids (class prototypes): float sums
    //      are order-dependent, so each element is fixed to micro-int
    //      space first (floor(x*1e6) as long) — integer sums commute,
    //      making the distributed aggregation exact and engine-portable.
    //      slice-then-posexplode keeps the fan-out map-side; the shuffle
    //      carries (label, pos) partial sums only.
    Query("q46_label_centroids", ((s, d) =>
      t(s, d, "embeddings")
        .select(col("label"), posexplode(slice(col("embedding"), 1, 8)))
        .groupBy(col("label"), col("pos"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("col").cast("double") * 1e6).cast("long")).as("sum_micro"))
        .withColumn("centroid_micro",
          floor(col("sum_micro") / col("n")).cast("long"))),
      """WITH u AS (
        |  SELECT label,
        |    unnest(list_transform(range(1, 9),
        |      i -> {'pos': i - 1, 'e': embedding[i]})) AS s
        |  FROM embeddings),
        |g AS (
        |  SELECT label, s.pos AS pos, count(*) AS n,
        |    CAST(sum(CAST(floor(CAST(s.e AS DOUBLE) * 1e6) AS BIGINT)) AS BIGINT) AS sum_micro
        |  FROM u GROUP BY 1, 2)
        |SELECT label, CAST(pos AS INT) AS pos, n, sum_micro,
        |  CAST(floor(sum_micro * 1.0 / n) AS BIGINT) AS centroid_micro
        |FROM g""".stripMargin),
    // ---- dynamic partition pruning: the fact scan's partition filter
    //      arrives at RUNTIME from the broadcast dim's selective filter
    //      (dynamicpruningexpression on the FileScan — pinned in
    //      PlanAuditSpec). At 100 TB this is the difference between
    //      scanning 2 partitions and scanning all of them when the
    //      selected keys are only known after filtering the dimension.
    Query("x30_dynamic_pruning", ((s, d) => {
      val base = graft.io.Scratch.dir("graft-dpp").toString
      graft.io.Partitioned.writePartitioned(t(s, d, "events"),
        s"$base/facts", "event_type")
      t(s, d, "events").select("event_type").distinct()
        .withColumn("w",
          when(col("event_type").isin("purchase", "view"), 1).otherwise(0))
        .write.mode("overwrite").parquet(s"$base/dim")
      val facts = graft.io.Partitioned.readPartitioned(s, s"$base/facts")
      val dim = graft.io.Parquet.read(s, s"$base/dim").filter(col("w") > 0)
      facts.join(dim.select("event_type"), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * 100).cast("long")).as("cents"))
    }),
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events WHERE event_type IN ('purchase', 'view')
        |GROUP BY 1""".stripMargin),
    // ---- runtime bloom-filter join pruning (InjectRuntimeFilter): the
    //      selective dim filter plants bloom_filter_might_contain on the
    //      fact side of a shuffle join, discarding non-joining fact rows
    //      BEFORE the exchange — at 100 TB that is the difference between
    //      shuffling the whole fact table and shuffling the ~1% that can
    //      join (DPP's x30 needs a partition column; the bloom filter
    //      prunes on ANY join key). Thresholds tuned down because the
    //      test facts are tiny; injection is proven in the oracle-compared
    //      output, like x20's exchange count.
    Query("x47_bloom_join", ((s, d) => {
      import s.implicits._
      ScopedConf(s,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force the shuffle join
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0") {
        val facts = t(s, d, "lineitem")
          .select(col("l_partkey"), col("l_extendedprice"))
        val dim = t(s, d, "part").filter(col("p_size") === 1)
        val joined = facts
          .join(dim, facts("l_partkey") === dim("p_partkey"))
          .agg(count(lit(1)).as("n_rows"),
            sum(floor(col("l_extendedprice") * 100).cast("long")).as("cents"))
        val row = joined.collect()(0)
        // BloomFilterMightContain prints as might_contain(...) probing a
        // bloom_filter_agg subquery; require both so a plain IN-subquery
        // rewrite can't satisfy the pin
        val plan = joined.queryExecution.executedPlan.toString()
        val injected = if (plan.contains("might_contain(") &&
          plan.contains("bloom_filter_agg(")) 1L else 0L
        Seq(("n_rows", row.getLong(0)), ("cents", row.getLong(1)),
          ("bloom_filters_injected", injected)).toDF("metric", "n")
      }
    }),
      // the join aggregate replayed plainly; injected=1 is the pinned plan
      // fact (a Spark run that fails to plant the runtime filter emits 0
      // and the row-hash mismatches)
      """SELECT 'n_rows' AS metric, count(*) AS n
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_size = 1
        |UNION ALL
        |SELECT 'cents', CAST(sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_size = 1
        |UNION ALL SELECT 'bloom_filters_injected', 1""".stripMargin),
    // ---- exact heavy hitters via Misra-Gries sketch + recount: pass 1
    //      finds candidates with k bounded counters per task (no-miss
    //      superset guarantee), pass 2 recounts only candidates — the
    //      corpus vocabulary never shuffles, yet the output is exact
    Query("q45_heavy_hitters", ((s, d) =>
      graft.ops.HeavyHitters.frequentTokens(t(s, d, "documents"), "text")),
      heavyHittersSql),
    // ---- STREAMING heavy hitters: the Misra-Gries sketch as sharded
    //      streaming state; per-batch candidate emission is a superset,
    //      the exact recount collapses it to q45's output exactly
    Query("x56_stream_heavy_hitters", ((s, d) => {
      import s.implicits._
      graft.streaming.StreamHeavyHitters.replayFrequentTokens(s,
        t(s, d, "documents").select("doc_id", "text")
          .as[graft.streaming.StreamNearDup.Doc].collect().toSeq)
    }),
      // x56 is the STREAMING sketch route to the same exact output: the
      // emitted candidate union is a superset by the per-shard MG guarantee,
      // and the exact recount + threshold collapse it to precisely this set
      heavyHittersSql),
    // ---- JSONL ingest round trip: the interchange format training
    //      corpora actually arrive in. Read back with the EXPLICIT
    //      schema (no inference pass — at 100 TB schema inference is a
    //      full extra scan), then aggregate; must equal the parquet
    //      truth.
    Query("x29_jsonl_roundtrip", ((s, d) => {
      val path = graft.io.Scratch.dir("graft-jsonl").toString
      val docs = t(s, d, "documents")
      docs.write.mode("overwrite").json(path)
      sourceTotals(s.read.schema(docs.schema).json(path))
    }),
      sourceTotalsSql),
    // ---- ORC round trip: the second columnar format (same aggregate
    //      contract as x29's JSONL — the container must not perturb a
    //      byte). ORC scans get the same pushdown/pruning machinery as
    //      parquet; sorting within files by doc_id gives ORC row-group
    //      min/max indexes their selectivity at scale.
    Query("x43_orc_roundtrip", ((s, d) => {
      val path = graft.io.Scratch.dir("graft-orc").toString
      val docs = t(s, d, "documents")
      docs.sortWithinPartitions("doc_id").write.mode("overwrite").orc(path)
      sourceTotals(s.read.orc(path))
    }),
      // the format layer must not perturb a byte: same truth table as x29
      sourceTotalsSql),
    // ---- CSV round trip with explicit schema + quote/escape handling
    //      (documents text contains no newlines in the test tables, but
    //      quoting is exercised via the header-on read contract)
    Query("x44_csv_roundtrip", ((s, d) => {
      val path = graft.io.Scratch.dir("graft-csv").toString
      val docs = t(s, d, "documents")
      docs.write.mode("overwrite").option("header", "true").csv(path)
      sourceTotals(s.read.schema(docs.schema).option("header", "true").csv(path))
    }),
      sourceTotalsSql)
  )
}
