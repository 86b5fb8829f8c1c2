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

/** The per-document text and vector queries: publish-month extraction,
  * text profiles, the exact and near duplicate finders over `documents`
  * (n-gram, MinHash, SimHash, sentence and substring dedup, with their
  * streaming replays) and the nearest-neighbour searches over
  * `embeddings`. Each [[Query]] holds its Spark plan and the DuckDB oracle
  * the driver checks it against. */
object Text {

  /** Spark-side month extraction: coalesce over full-month regexes in month
    * order, then abbreviated forms expanded via replace — mirrors
    * MonthFinder.findMonth / the reference's find_month exactly. */
  def monthColumn(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val full = MonthFinder.Months.map { m =>
      nullif(regexp_extract(text, s"$m[,]?\\s+\\d{4}", 0), lit(""))
    }
    val abbr = MonthFinder.AbbrMonths.zip(MonthFinder.Months).map { case (a, m) =>
      regexp_replace(
        nullif(regexp_extract(text, s"$a[.]?[,]?\\s+\\d{4}", 0), lit("")),
        s"^$a", m)
    }
    coalesce((full ++ abbr): _*)
  }

  /** Exact-dedup oracle: shared by q13 (batch) and x21 (the streaming
    * stateful-aggregation replay of the same operator). */
  private val exactDupGroupsSql =
    """SELECT md5(lower(trim(text))) AS fp, count(*) AS n_docs,
      |  min(doc_id) AS keeper_doc_id
      |FROM documents GROUP BY 1""".stripMargin

  /** Cross-document duplicated k-token windows (k=8): tk -> per-window
    * rolling-hash fingerprint in HUGEINT mod 2^64 -> windows whose hash
    * spans >1 doc, yielding marked(doc_id, total_tokens, pos, h) — shared
    * by the q56 (measure) and q61 (scrub) oracles. */
  private lazy val dupWindowsSql =
    s"""tk AS (
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
       |dupg AS (SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) > 1),
       |marked AS (SELECT w.* FROM wins w JOIN dupg USING (h))""".stripMargin

  /** SimHash 64-bit signature chain (token hash -> per-bit votes -> sign
    * bits) replayed in HUGEINT mod 2^64, yielding s2(doc_id, sigu, sig) —
    * shared by the q16 (banded-candidate) and q60 (exhaustive) oracles. */
  private lazy val simhashSigsSql =
    s"""tok AS (
       |  SELECT doc_id, unnest($toks) AS tok FROM documents),
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
       |s2 AS (
       |  SELECT doc_id, sigu,
       |    CAST(CASE WHEN sigu >= (CAST(1 AS HUGEINT) << 63)
       |         THEN sigu - (CAST(1 AS HUGEINT) << 64) ELSE sigu END AS BIGINT) AS sig
       |  FROM sigs)""".stripMargin

  val queries: Seq[Query] = Seq(
    // ---- publish-month extraction (P9) over the documents table
    Query("q11_publish_month", ((s, d) =>
      t(s, d, "documents").select(col("doc_id"), monthColumn(col("text")).as("publish_month"))),
      s"SELECT doc_id, ${monthSql("text")} AS publish_month FROM documents"),
    // ---- token/quality text profile (expression-only, codegen'd)
    Query("q12_text_profile", ((s, d) => TextAnalysis.profile(t(s, d, "documents"))),
      {
        val stops = listLit(TextAnalysis.Stopwords)
        s"""SELECT doc_id,
         |  len($toks) AS n_tokens,
         |  ${TextAnalysis.bpeTokenCountSql("text")} AS n_tokens_bpe,
         |  CAST(floor(list_sum(list_transform($toks, t -> length(t)))*1000.0 / len($toks)) AS BIGINT) AS mean_token_len_milli,
         |  len(list_filter($toks, t -> list_contains($stops, t))) AS n_stopwords,
         |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
         |  $qualityBpSql AS quality_bp,
         |  $langCaseSql AS lang_pred
         |FROM documents""".stripMargin
      }),
    // ---- exact dedup groups via md5 fingerprint
    Query("q13_exact_dup_groups", ((s, d) => Dedup.exactGroups(t(s, d, "documents"))),
      exactDupGroupsSql),
    // ---- streaming exact dedup: the same aggregation as a stateful
    //      Structured Streaming query over a two-batch replay
    Query("x21_stream_dup_groups", ((s, d) => {
      import s.implicits._
      graft.streaming.DocDedup.replayDupGroups(s,
        t(s, d, "documents").select("doc_id", "text")
          .as[graft.streaming.DocDedup.Doc])
    }),
      // x21 is the same aggregation run as a streaming stateful query over a
      // two-batch replay — its final complete-mode table must equal q13
      exactDupGroupsSql),
    // ---- streaming near-dup: the LSH index as streaming state — each
    //      pair surfaces in the micro-batch its later doc arrives; the
    //      verified union over the finite replay must equal q15 exactly
    Query("x51_stream_neardup", ((s, d) => {
      import s.implicits._
      graft.streaming.StreamNearDup.replayNearDupPairs(s,
        t(s, d, "documents").select("doc_id", "text")
          .as[graft.streaming.StreamNearDup.Doc].collect().toSeq,
        minJaccardBp = 2000L)
    }),
      // x51 is the same pair set found by the STREAMING stateful LSH index
      // over a two-batch replay — its verified union must equal q15
      minhashPairsSql),
    // ---- live dedup-cluster manifest: the streaming pair stream folded
    //      into a standing labeling per micro-batch (foreachBatch +
    //      incrementalComponents over a versioned manifest table); the
    //      final manifest must equal the from-scratch closure over the
    //      full q15 pair graph
    Query("x55_stream_live_clusters", ((s, d) => {
      import s.implicits._
      val dir = graft.io.Scratch
        .dir("graft-x55-").toString
      graft.streaming.StreamNearDup.replayLiveClusters(s,
        t(s, d, "documents").select("doc_id", "text")
          .as[graft.streaming.StreamNearDup.Doc].collect().toSeq,
        dir, minJaccardBp = 2000L)
    }),
      // x55 is the STREAMING route to the same labeling: per-micro-batch
      // incrementalComponents folds over a versioned manifest; every pair
      // surfaces exactly once across the replay, so the final manifest must
      // equal the identical full-graph closure
      liveClustersSql),
    // ---- n-gram Jaccard near-dup pairs on a cheap blocking key
    Query("q14_ngram_jaccard_pairs", ((s, d) =>
      Dedup.ngramJaccardPairs(t(s, d, "documents"), minJaccardBp = 2000L)),
      ngramPairsOracleSql),
    // ---- MinHash+LSH near-dup pairs (oracle replays the full chain:
    //      shingle char-fold hash, 32 affine mins, banded bucket folds)
    Query("q15_minhash_lsh_pairs", ((s, d) =>
      Dedup.minhashLshPairs(t(s, d, "documents"), minJaccardBp = 2000L)),
      // The three char-fold-hash oracles below replay Java's 64-bit
      // wraparound arithmetic in DuckDB: fold in HUGEINT with % 2^64 each
      // step, then a two's-complement CASE maps the unsigned value back to
      // the engine's signed BIGINT. Text is ASCII in the test tables, so
      // ord(char) == UTF-8 byte == UTF-16 code unit and one fold serves all
      // three hash definitions.
      minhashPairsSql),
    // ---- incremental near-dup: the delta (doc_id % 7 == 3) probes the
    //      corpus LSH index map-side (index never shuffles, corpus never
    //      re-paired); must equal q15's full pair set restricted to
    //      pairs touching the delta
    Query("q55_incremental_neardup", ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.incrementalMinhashPairs(
        docs.filter(col("doc_id") % 7 =!= 3),
        docs.filter(col("doc_id") % 7 === 3),
        minJaccardBp = 2000L)
    }),
      // incremental near-dup: same pair set as q15, restricted to pairs
      // touching the delta (doc_id % 7 == 3) — the equivalence contract of
      // Dedup.incrementalMinhashPairs (delta probes the corpus index; the
      // corpus is never re-paired against itself)
      s"""SELECT * FROM ($minhashPairsSql) AS p
         |WHERE p.doc_a % 7 = 3 OR p.doc_b % 7 = 3""".stripMargin),
    // ---- BANDED SimHash near-dup candidate pairs (oracle rebuilds the
    //      64-bit signature from per-token char-fold hashes in HUGEINT
    //      and replays the SAME band predicate). At 4 bands the result
    //      is COMPLETE only for hamming <= 3; emitted hamming goes up to
    //      18 but pairs whose differing bits spread across all 4 bands
    //      are candidate-excluded by design — see the simhashPairs
    //      contract scaladoc + DedupSpec's completeness-boundary pin
    Query("q16_simhash_pairs", ((s, d) =>
      Dedup.simhashPairs(t(s, d, "documents"), maxHamming = 18)),
      s"""WITH $simhashSigsSql
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
         |FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 18
         |  AND ((a.sigu % 65536) = (b.sigu % 65536)
         |    OR ((a.sigu >> 16) % 65536) = ((b.sigu >> 16) % 65536)
         |    OR ((a.sigu >> 32) % 65536) = ((b.sigu >> 32) % 65536)
         |    OR ((a.sigu >> 48) % 65536) = ((b.sigu >> 48) % 65536))""".stripMargin),
    // ---- EXHAUSTIVE SimHash: band count derived from maxHamming
    //      (8 bands for h=6, pigeonhole-complete), so the oracle is the
    //      brute-force all-pairs scan with NO band predicate — recall
    //      1.0 is part of the cross-engine contract, closing the q16
    //      candidate-semantics boundary
    Query("q60_simhash_exact", ((s, d) =>
      Dedup.simhashPairsExact(t(s, d, "documents"), maxHamming = 6)),
      // q60 is the same signature chain with NO band predicate: brute-force
      // all-pairs truth at hamming <= 6 — the engine's derived-band (8-band)
      // blocking must reproduce it exactly (pigeonhole completeness)
      s"""WITH $simhashSigsSql
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
         |FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 6""".stripMargin),
    // ---- cross-document duplicate substrings (hash-shuffle analog of
    //      suffix-array substring dedup): k-token windows fingerprinted
    //      map-side, cross-doc fingerprints marked, overlapping windows
    //      merged per doc via a lag window — no array ever shuffles
    Query("q56_dup_substrings", ((s, d) =>
      Dedup.dupSubstrings(t(s, d, "documents"), k = 8)),
      // q56: same fingerprint fold as q20 applied per k-token window, so
      // Spark and the oracle agree BY CONSTRUCTION even on hash collisions;
      // the interval merge is the same lag-gap sum the Spark plan uses
      s"""WITH $dupWindowsSql,
         |gaps AS (
         |  SELECT doc_id, total_tokens, pos,
         |    pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS gap
         |  FROM marked)
         |SELECT doc_id,
         |  count(*) AS n_dup_windows,
         |  CAST(sum(CASE WHEN gap IS NULL OR gap >= 8 THEN 8 ELSE gap END) AS BIGINT)
         |    AS dup_tokens,
         |  any_value(total_tokens) AS total_tokens,
         |  CAST(floor(sum(CASE WHEN gap IS NULL OR gap >= 8 THEN 8 ELSE gap END)
         |       * 10000.0 / any_value(total_tokens)) AS BIGINT) AS dup_frac_bp
         |FROM gaps GROUP BY doc_id""".stripMargin),
    // ---- the ACT half of substring dedup: every cross-doc duplicated
    //      window scrubbed from every doc's text; only int position
    //      arrays shuffle, reconstruction is map-side against the
    //      original text
    Query("q61_dedup_scrub", ((s, d) =>
      Dedup.scrubDupSubstrings(t(s, d, "documents"), k = 8)),
      // q61: tokens covered by ANY marked window are dropped from EVERY doc;
      // clean text rebuilt from the survivors (whitespace-normalized like
      // every tokens() consumer on both engines)
      s"""WITH $dupWindowsSql,
         |cov AS (
         |  SELECT DISTINCT doc_id, pos + o AS p
         |  FROM marked, UNNEST(range(0, 8)) AS t(o)),
         |covl AS (SELECT doc_id, list(p) AS drops FROM cov GROUP BY 1),
         |outp AS (
         |  SELECT tk.doc_id,
         |    list_transform(
         |      list_filter(range(0, CAST(len(tk.tk) AS BIGINT)),
         |        p -> covl.drops IS NULL OR NOT list_contains(covl.drops, p)),
         |      p -> tk.tk[CAST(p AS BIGINT) + 1]) AS keptl,
         |    CAST(len(tk.tk) AS BIGINT) AS n_total
         |  FROM tk LEFT JOIN covl USING (doc_id))
         |SELECT doc_id, coalesce(array_to_string(keptl, ' '), '') AS clean_text,
         |  CAST(len(keptl) AS BIGINT) AS n_kept,
         |  n_total - CAST(len(keptl) AS BIGINT) AS n_dropped
         |FROM outp""".stripMargin),
    // ---- C4-style sentence-level exact dedup: non-overlapping 12-token
    //      units, each duplicated unit keeps exactly its FIRST corpus
    //      occurrence (globally smallest (doc_id, pos)); winner election
    //      is one shuffle on the unit fingerprint, reconstruction is
    //      map-side against the original text
    Query("q64_sentence_dedup", ((s, d) =>
      Dedup.sentenceDedup(t(s, d, "documents"), unitTokens = 12)),
      // q64: non-overlapping 12-token units fingerprinted with the same
      // HUGEINT fold; keep-first = row_number over (doc_id, pos) per hash;
      // reconstruction drops every token whose unit index is marked
      sentenceDedupSql),
    // ---- brute-force cosine top-k (exactness baseline)
    Query("q17_knn_bruteforce", ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteKnn(emb, emb.filter(col("vec_id") < 20), k = 5)
    }),
      {
        val dot = "list_reduce(list_transform(list_zip(q.emb, n.emb), p -> p[1]*p[2]), (x,y) -> x+y)"
        val nq = "list_reduce(list_transform(q.emb, x -> x*x), (x,y) -> x+y)"
        val nn = "list_reduce(list_transform(n.emb, x -> x*x), (x,y) -> x+y)"
        s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |    $dot / (sqrt($nq) * sqrt($nn)) AS sim
         |  FROM emb q JOIN emb n ON q.vec_id <> n.vec_id
         |  WHERE q.vec_id < 20),
         |ranked AS (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank,
         |    CAST(floor(sim*1e6) AS BIGINT) AS sim_micro
         |  FROM scored)
         |SELECT query_id, neighbor_id, rank, sim_micro FROM ranked WHERE rank <= 5""".stripMargin
      }),
    // ---- LSH-bucketed ANN; the DuckDB oracle replicates the hyperplane
    //      buckets exactly, so this is hash-checked, not rows-only
    Query("q18_knn_lsh", ((s, d) =>
      Similarity.hyperplaneLshKnn(t(s, d, "embeddings").filter(col("vec_id") < 200),
        k = 5, nBits = 6, nTables = 6)),
      {
        // replicate the 6x 6-bit hyperplane tables bit-for-bit, then the same
        // distinct-candidates -> exact cosine -> per-query rank chain
        val sigs = (0 until 6).map { tbl =>
          s"${Similarity.signatureSql("emb", Similarity.hyperplanes(64, 6, 7L + tbl))} AS sig$tbl"
        }.mkString(",\n    ")
        val anySig = (0 until 6).map(tbl => s"a.sig$tbl = b.sig$tbl").mkString(" OR ")
        val dot = "list_reduce(list_transform(list_zip(q.emb, n.emb), p -> p[1]*p[2]), (x,y) -> x+y)"
        val nq = "list_reduce(list_transform(q.emb, x -> x*x), (x,y) -> x+y)"
        val nn = "list_reduce(list_transform(n.emb, x -> x*x), (x,y) -> x+y)"
        s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings WHERE vec_id < 200),
         |sig AS (SELECT vec_id,
         |    $sigs
         |  FROM emb),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
         |  FROM sig a JOIN sig b ON a.vec_id <> b.vec_id AND ($anySig)),
         |scored AS (
         |  SELECT query_id, neighbor_id, $dot / (sqrt($nq) * sqrt($nn)) AS sim
         |  FROM cand JOIN emb q ON q.vec_id = query_id JOIN emb n ON n.vec_id = neighbor_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank,
         |    CAST(floor(sim*1e6) AS BIGINT) AS sim_micro
         |  FROM scored)
         |SELECT query_id, neighbor_id, rank, sim_micro FROM ranked WHERE rank <= 5""".stripMargin
      }),
    // ---- embedding-cosine near-dup pairs: LSH candidate buckets + exact
    //      threshold re-rank (the 100TB path; the brute n^2/2 variant
    //      stays in OpsSpec as the recall baseline). Signature width
    //      adapts to corpus size so bucket count scales with the data;
    //      the oracle below hard-codes the sf0.01 width (500 rows -> 6).
    Query("q19_embedding_neardup", ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.cosineNearDupPairsLsh(emb, minSimMicro = 350000L,
        nBits = Similarity.adaptiveBits(emb.count()))
    }),
      {
        // same hyperplane family as cosineNearDupPairsLsh, SCALE-ROBUST:
        // hyperplanes() generates planes sequentially from one seeded RNG,
        // so plane i is identical for every nBits (prefix property) — the
        // oracle computes a full 20-bit signature and truncates to the
        // corpus-adaptive width with % (1<<nBits), where nBits replays
        // adaptiveBits(count) in SQL. Exact at ANY scale factor — the gate's
        // sf0.01 AND the 4x-larger sf0.1 corpus (re-checked there) — with
        // the prefix/truncation identity pinned in OpsSpec.
        val sigs = (0 until 4).map { tbl =>
          s"${Similarity.signatureSql("emb", Similarity.hyperplanes(64, 20, 7L + tbl))} % (1::BIGINT << nbits) AS sig$tbl"
        }.mkString(",\n    ")
        val anySig = (0 until 4).map(tbl => s"a.sig$tbl = b.sig$tbl").mkString(" OR ")
        val dot = "list_reduce(list_transform(list_zip(a.emb, b.emb), p -> p[1]*p[2]), (x,y) -> x+y)"
        val na = "list_reduce(list_transform(a.emb, x -> x*x), (x,y) -> x+y)"
        val nb = "list_reduce(list_transform(b.emb, x -> x*x), (x,y) -> x+y)"
        s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |nb AS (SELECT least(24, greatest(4,
         |    CAST(ceil(log2(count(*) / 8.0)) AS INT))) AS nbits FROM emb),
         |sig AS (SELECT vec_id,
         |    $sigs
         |  FROM emb, nb),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM sig a JOIN sig b ON a.vec_id < b.vec_id AND ($anySig))
         |SELECT id_a, id_b,
         |  CAST(floor($dot / (sqrt($na) * sqrt($nb)) * 1e6) AS BIGINT) AS sim_micro
         |FROM cand JOIN emb a ON a.vec_id = id_a JOIN emb b ON b.vec_id = id_b
         |WHERE floor($dot / (sqrt($na) * sqrt($nb)) * 1e6) >= 350000""".stripMargin
      }),
    // ---- custom codegen expression: rolling-hash fingerprint (oracle
    //      replays the byte fold in HUGEINT; also pinned in OpsSpec:207-227)
    Query("q20_fingerprint64", ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint64(col("text")).as("fp64"))),
      """WITH f AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(3421674724 AS HUGEINT),
        |        list_transform(split(text, ''), c -> CAST(ord(c) AS HUGEINT))),
        |      (h, c) -> (h * 1000003 + c) % (CAST(1 AS HUGEINT) << 64)) AS hu
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN hu >= (CAST(1 AS HUGEINT) << 63)
        |       THEN hu - (CAST(1 AS HUGEINT) << 64) ELSE hu END AS BIGINT) AS fp64
        |FROM f""".stripMargin),
    // ---- IVF-partitioned ANN (coarse k-means cells + probe + exact
    //      re-rank). The quantizer is deterministic by construction
    //      (micro-quantized long-sum updates), so the oracle replays the
    //      ENTIRE chain — centroid evolution included — in DuckDB.
    Query("q23_knn_ivf", ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfKnn(emb, emb.filter(col("vec_id") < 20),
        k = 5, nLists = 16, nProbe = 4, iters = 2)
    }),
      Similarity.ivfKnnSql(queryPred = "e.vec_id < 20", k = 5, nLists = 16,
        nProbe = 4, iters = 2, dim = 64)),
    // ---- SemDeDup: IVF cells bound the pair set (sum(cell²), not n²/2),
    //      exact cosine within cells, star-contraction components, keeper
    //      manifest per vector; oracle replays centroids + closure.
    //      Cell count tracks the corpus (adaptiveLists — the SemDeDup
    //      scaling knob), and the oracle replays the same count→lists
    //      rule in SQL, so the query is scale-robust like q19.
    Query("q57_semantic_dedup", ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.semanticDedup(emb,
        nLists = Similarity.adaptiveLists(emb.count()),
        iters = 2, minSimMicro = 400000L)
    }),
      Similarity.semanticDedupSql(nListsSql = Similarity.adaptiveListsSql(),
        iters = 2, dim = 64, minSimMicro = 400000L)),
    // ---- bucketed co-located join: both sides written bucketed by the
    //      join key, so the sort-merge join needs ZERO shuffle exchanges
    //      (the write-once / join-free-forever layout for doc-keyed
    //      enrichment at scale). The exchange count is part of the
    //      driver-compared output — the scale claim is oracle-checked,
    //      not just asserted in a test.
    Query("x20_bucketed_join", ((s, d) => {
      import s.implicits._
      val dir = graft.io.Scratch.dir("graft-x20").toString
      val docs = t(s, d, "documents")
      val left = docs.select(col("doc_id"), length(col("text")).as("text_len"))
      val right = docs.select(col("doc_id"),
        TextAnalysis.fingerprint64(col("text")).as("fp64"))
      graft.io.Bucketed.writeBucketed(left, "graft_x20_left", s"$dir/left", 8, "doc_id")
      graft.io.Bucketed.writeBucketed(right, "graft_x20_right", s"$dir/right", 8, "doc_id")
      try {
        val joined = s.table("graft_x20_left")
          .join(s.table("graft_x20_right").hint("merge"), "doc_id") // force SMJ
        val n = joined.count()
        val ex = graft.io.Bucketed.shuffleExchangeCount(joined).toLong
        Seq(("joined_rows", n), ("shuffle_exchanges_join", ex)).toDF("metric", "n")
      } finally {
        s.sql("DROP TABLE IF EXISTS graft_x20_left")
        s.sql("DROP TABLE IF EXISTS graft_x20_right")
      }
    }),
      """SELECT 'joined_rows' AS metric, count(*) AS n FROM documents
        |UNION ALL SELECT 'shuffle_exchanges_join', 0""".stripMargin)
  )
}
