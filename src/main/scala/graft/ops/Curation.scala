package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators a training-data pipeline runs before
  * anything else: repetition-based quality filtering (the Gopher rules,
  * Rae et al. 2021, adapted to word level) and PII redaction. No reference
  * counterpart; engine-only additions per the training-pipeline mandate.
  *
  * Both are per-document, shuffle-free column expressions — at 100 TB these
  * run map-side inside the scan stage, so the only cost is CPU next to the
  * parquet reader and the filters prune rows BEFORE any downstream shuffle
  * (dedup, packing) pays for them. All ratio outputs are integer basis
  * points (floor(10000*x)) so the DuckDB oracle compares exactly, never
  * through float formatting.
  */
object Curation {

  /** Word n-gram array of an already-tokenized column (space-joined),
    * empty when the doc is shorter than n. */
  private def ngrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
      .otherwise(array())

  /** Longest run length in a sorted array = count of the most frequent
    * element — computed with a single fold over the sorted tokens instead
    * of a per-word explode+groupBy (no shuffle, no per-doc quadratic
    * transform+filter scan). */
  private def topRunLength(sortedToks: Column): Column =
    aggregate(sortedToks,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  private def dupBp(all: Column, distinctN: Column): Column =
    when(size(all) > 0,
      floor((size(all) - distinctN) * lit(10000L) / size(all)))
      .otherwise(lit(0L)).cast("long")

  /** Per-document repetition metrics (all integral):
    *  - n_words
    *  - distinct_word_bp: 10000 * distinct words / words
    *  - top_word_bp:      10000 * occurrences of the most frequent word / words
    *  - dup_bigram_bp / dup_trigram_bp: 10000 * duplicated n-grams / n-grams
    *  - keep: the Gopher-style gate (repetitive docs fail)
    *
    * Tokens are projected into their own attribute first so the scan
    * tokenizes once, not once per derived metric (TextAnalysis.tokens note).
    */
  def repetitionProfile(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"),
      TextAnalysis.tokens(col("text")).as("toks"))
    val grams = base.select(col("doc_id"), col("toks"),
      sort_array(col("toks")).as("sorted"),
      ngrams(col("toks"), 2).as("g2"), ngrams(col("toks"), 3).as("g3"))
    val m = grams.select(
      col("doc_id"),
      size(col("toks")).cast("long").as("n_words"),
      when(size(col("toks")) > 0,
        floor(size(array_distinct(col("toks"))) * lit(10000L) / size(col("toks"))))
        .otherwise(lit(0L)).cast("long").as("distinct_word_bp"),
      when(size(col("toks")) > 0,
        floor(topRunLength(col("sorted")) * lit(10000L) / size(col("toks"))))
        .otherwise(lit(0L)).cast("long").as("top_word_bp"),
      dupBp(col("g2"), size(array_distinct(col("g2")))).as("dup_bigram_bp"),
      dupBp(col("g3"), size(array_distinct(col("g3")))).as("dup_trigram_bp"))
    pushdownBarrier(m.withColumn("keep",
      col("distinct_word_bp") >= 2000 && col("top_word_bp") <= 2500 &&
        col("dup_trigram_bp") <= 6000))
  }

  /** A pushdown barrier: an identity typed mapPartitions. Catalyst
    * substitutes a filter's predicate THROUGH projections — a consumer's
    * `filter(keep)` would otherwise inline the whole metric forest
    * (tokenize, sort, n-grams, folds) into the predicate, re-evaluating
    * the interpreted higher-order expressions many times per row
    * (measured: a 1 s projection became a 30 s filtered scan). The typed
    * boundary materializes the computed columns once; it also survives
    * streaming frames, where each micro-batch would otherwise re-trigger
    * the same blow-up. Placed AFTER the narrow input select, so scan-side
    * column pruning is unaffected. */
  private def pushdownBarrier(df: DataFrame): DataFrame =
    df.mapPartitions(it => it)(org.apache.spark.sql.Encoders.row(df.schema))

  /** One-pass cumulative funnel flags — (n_toks, lang_ok, qual_ok,
    * rep_ok) appended to the input columns, each stage flag implying the
    * previous. Built from the same helper expressions as
    * [[repetitionProfile]] and TextAnalysis.profile, so rep_ok equals
    * "would survive q47's s1–s3 stages" exactly. Stateless: runs
    * unchanged on a STREAMING frame, which is what lets the gate chain
    * sit in front of a stateful streaming dedup (StreamCuration). */
  def funnelFlags(docs: DataFrame): DataFrame = {
    val staged = docs
      .withColumn("__toks", TextAnalysis.tokens(col("text")))
      .withColumn("__sorted", sort_array(col("__toks")))
      .withColumn("__g3", ngrams(col("__toks"), 3))
    val n = size(col("__toks"))
    val distinctBp = when(n > 0,
      floor(size(array_distinct(col("__toks"))) * lit(10000L) / n))
      .otherwise(lit(0L)).cast("long")
    val topBp = when(n > 0,
      floor(topRunLength(col("__sorted")) * lit(10000L) / n))
      .otherwise(lit(0L)).cast("long")
    val dupTri = dupBp(col("__g3"), size(array_distinct(col("__g3"))))
    val lang = TextAnalysis.langIdFirstWinsOf(
      TextAnalysis.LangMarkers.map { case (l, ms) =>
        (l, TextAnalysis.langScoreOf(col("__toks"), ms))
      })
    val quality = TextAnalysis.qualityScoreBpOf(col("text"), n,
      TextAnalysis.stopwordCountOf(col("__toks")))
    val langOk = lang === "en"
    val qualOk = langOk && quality >= 6000
    val repOk = qualOk && distinctBp >= 2000 && topBp <= 2500 && dupTri <= 6000
    pushdownBarrier(staged.select(
      docs.columns.toIndexedSeq.map(col) ++ Seq(n.cast("long").as("n_toks"),
        langOk.as("lang_ok"), qualOk.as("qual_ok"), repOk.as("rep_ok")): _*))
  }

  /** The full curation gate as ONE boolean column ([[funnelFlags]]'s
    * final stage), preserving every input column. */
  def gateKeep(docs: DataFrame): DataFrame =
    funnelFlags(docs)
      .withColumn("curation_keep", col("rep_ok"))
      .select(docs.columns.toIndexedSeq.map(col) :+ col("curation_keep"): _*)

  /** PII patterns, applied in order (earlier redactions cannot create
    * later matches: replacement tokens contain no digits or '@'). Each
    * pattern is valid in BOTH Java regex and DuckDB's RE2 — no
    * backreferences, no lookaround. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{4}( \\d{4}){3}\\b" -> "<CARD>",
    "\\+\\d{1,3}(-\\d{2,4}){2,4}" -> "<PHONE>",
    "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b" -> "<IP>")

  /** The scrub + count expressions over a text column — shared by the
    * doc-level [[piiScrub]] and the span-level [[Spans.scrubTextSpans]] so
    * the two surfaces can never drift. The regexp chain is plain codegen'd
    * expressions; counting uses the SAME patterns (each counted on the
    * partially-scrubbed text, mirroring replace order) so count and
    * replacement can never disagree. */
  def piiScrubCols(text: Column): (Column, Column) = {
    val scrubbed = PiiPatterns.foldLeft(text) {
      case (c, (pat, tok)) => regexp_replace(c, pat, tok)
    }
    val counts = PiiPatterns.zipWithIndex.map { case ((pat, _), i) =>
      val upto = PiiPatterns.take(i).foldLeft(text) {
        case (c, (p, t)) => regexp_replace(c, p, t)
      }
      size(regexp_extract_all(upto, lit(pat), lit(0))).cast("long")
    }
    (scrubbed, counts.reduce(_ + _))
  }

  /** Redact PII from `text`, appending a redaction count. */
  def piiScrub(df: DataFrame, textCol: String): DataFrame = {
    val (scrubbed, nRedactions) = piiScrubCols(col(textCol))
    df.withColumn("scrubbed", scrubbed)
      .withColumn("n_redactions", nRedactions)
  }

  /** DuckDB replay of [[piiScrub]], generated from the SAME pattern list:
    * (scrubbedExpr, redactionCountExpr). DuckDB regexp_replace needs the
    * explicit 'g' flag to match Spark's replace-all semantics. */
  def piiScrubSql(textExpr: String): (String, String) = {
    val scrub = PiiPatterns.foldLeft(textExpr) {
      case (e, (p, t)) => s"regexp_replace($e, '$p', '$t', 'g')"
    }
    val counts = PiiPatterns.zipWithIndex.map { case ((p, _), i) =>
      val upto = PiiPatterns.take(i).foldLeft(textExpr) {
        case (e, (pp, tt)) => s"regexp_replace($e, '$pp', '$tt', 'g')"
      }
      s"len(regexp_extract_all($upto, '$p'))"
    }
    (scrub, counts.mkString("(", " + ", ")"))
  }

  /** Overlapping token-window chunking — the RAG/context-prep layout
    * (window tokens per chunk, stride = window - overlap). Map-side: the
    * only fan-out is the per-doc posexplode of chunk starts; chunk count
    * and boundaries are pure functions of the token count, so the output
    * is deterministic and engine-replayable. Output: (doc_id, chunk_idx,
    * tok_start, n_tokens, chunk_text). */
  def chunkDocs(docs: DataFrame, window: Int, overlap: Int): DataFrame = {
    require(window > 0 && overlap >= 0 && overlap < window,
      s"need 0 <= overlap < window, got window=$window overlap=$overlap")
    val stride = window - overlap
    docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)),
          lit(stride))).as(Seq("chunk_idx", "tok_start")))
      .select(col("doc_id"), col("chunk_idx"), col("tok_start"),
        slice(col("toks"), col("tok_start") + 1, lit(window)).as("ctoks"))
      .select(col("doc_id"), col("chunk_idx"), col("tok_start"),
        size(col("ctoks")).as("n_tokens"),
        array_join(col("ctoks"), " ").as("chunk_text"))
  }

  /** The v2-LLM orchestration shape (reference:
    * src/v2_llm/run_claude.py:29-57 content-hash cache, 59-82 chunk split,
    * 115-200 per-chunk model call + merge) with the model swapped for a
    * deterministic stand-in (fingerprint64 + token count — no egress in
    * this environment): documents are chunked (C15), each UNIQUE chunk —
    * md5 content-hash cache key (S9) — is "processed" exactly once, the
    * results re-join every chunk instance by key (the cache hit), and the
    * per-doc outputs merge across chunks in position-sensitive fashion
    * (C14).
    *
    * Scale shape: the distinct carries (key, text) once per UNIQUE chunk —
    * exactly the set the model must see — and the rejoin's build side is
    * (key, two ints): chunk text never travels again after the cache
    * probe. A real deployment swaps `fingerprint64 + size` for the model
    * call inside mapPartitions on the unique side; everything else is the
    * same plan.
    *
    * Output: (doc_id, n_chunks, n_unique_chunks, merged_tokens, merged_fp)
    * — merged_fp is a position-weighted XOR fold of the per-chunk results
    * (overflow-free, order-insensitive aggregate over position-tagged
    * values, so it is exact at any parallelism and engine-replayable). */
  def cachedChunkExtract(docs: DataFrame, window: Int, overlap: Int): DataFrame = {
    val keyed = chunkDocs(docs, window, overlap)
      .select(col("doc_id"), col("chunk_idx"),
        md5(col("chunk_text")).as("ckey"), col("chunk_text"), col("n_tokens"))
    // the "cache": one model call per distinct content hash
    val uniqueResults = keyed.select(col("ckey"), col("chunk_text"), col("n_tokens"))
      .distinct()
      .select(col("ckey"),
        TextAnalysis.fingerprint64(col("chunk_text")).as("fp64"),
        col("n_tokens"))
    keyed.select("doc_id", "chunk_idx", "ckey")
      .join(uniqueResults, Seq("ckey"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("ckey")).as("n_unique_chunks"),
        sum(col("n_tokens").cast("long")).as("merged_tokens"),
        expr("bit_xor(fp64 ^ (CAST(chunk_idx AS BIGINT) + 1))").as("merged_fp"))
  }

  /** Deterministic stratified sampling: keep a per-stratum percentage of
    * rows, chosen by a salted content-hash bucket of the row id — the same
    * no-rand() reproducibility contract as the train/val split (q35): the
    * sample is stable across runs, partitionings, and engines. Per-domain
    * downsampling (cap an over-represented crawl source) is this operator
    * with rates < 100 for the hot strata. Map-side only: a broadcast-sized
    * rates lookup and a hash — no shuffle, no sort, no sampling pass. */
  def stratifiedSample(docs: DataFrame, stratumCol: String, idCol: String,
      rates: Map[String, Int], defaultRate: Int, salt: String): DataFrame = {
    require(defaultRate >= 0 && defaultRate <= 100 &&
      rates.values.forall(r => r >= 0 && r <= 100))
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (s, r)) =>
      when(col(stratumCol) === s, lit(r)).otherwise(acc)
    }
    val bucket = pmod(TextAnalysis.fingerprint64(
      concat(col(idCol).cast("string"), lit(salt))), lit(100L))
    docs.withColumn("sample_rate", rate).filter(bucket < col("sample_rate"))
  }

  /** Temperature-flattened mixture (α = 0.5 over stratum sizes): compute
    * each stratum's sampling rate FROM the data so over-represented crawl
    * sources are downsampled toward the α-tempered share — the data-mixing
    * recipe LLM corpora actually use (p_s ∝ T_s^α with α<1 upweights small
    * sources), where [[stratifiedSample]] needs hand-picked rates and
    * [[tokenBudgetMix]] hand-picked budgets. With α = 0.5 the keep rate is
    * rate_s = floor(100·sqrt(T_min/T_s)) — the smallest stratum keeps 100%,
    * a 100× larger one keeps 10%.
    *
    * Two passes, both scale-safe: (1) per-stratum token totals — a
    * map-side partial agg whose shuffle carries |strata| scalar rows;
    * (2) a broadcast of the tiny rates table + the salted-hash bucket
    * filter of [[stratifiedSample]], map-side. The rate arithmetic is
    * sqrt/division/floor only (all IEEE-correctly-rounded, no pow), so a
    * DuckDB oracle reproduces it bit-exactly. Deterministic: no rand(),
    * stable across runs, partitionings, and engines. */
  def temperatureMix(docs: DataFrame, stratumCol: String, idCol: String,
      weightCol: String, salt: String): DataFrame = {
    val totals = docs.groupBy(col(stratumCol))
      .agg(sum(col(weightCol).cast("long")).as("t_total"))
    val tMin = totals.agg(min(col("t_total")).as("t_min"))
    val rates = totals.crossJoin(broadcast(tMin))
      .withColumn("rate_pct",
        floor(lit(100.0) * sqrt(col("t_min").cast("double") /
          col("t_total").cast("double"))).cast("int"))
      .select(col(stratumCol), col("t_total"), col("rate_pct"))
    val bucket = pmod(TextAnalysis.fingerprint64(
      concat(col(idCol).cast("string"), lit(salt))), lit(100L))
    docs.join(broadcast(rates), Seq(stratumCol))
      .filter(bucket < col("rate_pct"))
  }

  /** EXACT-k deterministic stratum sample: the k documents with the
    * SMALLEST salted id-hashes per stratum — where [[stratifiedSample]]'s
    * rate filter yields a binomially-varying count, bottom-k-by-hash
    * yields exactly k (or all, if the stratum is smaller), reproducibly:
    * the sample is a pure function of (ids, salt), stable under
    * partitioning, engine, and corpus ORDER, and GROWS CONSISTENTLY —
    * re-sampling after appending documents keeps every old member whose
    * hash still ranks (the bottom-k set is mergeable, which also makes it
    * the KMV distinct sketch). Shuffle shape is the q42 k-bounded
    * aggregator: each map task ships at most k (hash, id) pairs per
    * stratum — no Window, no global sort, no corpus-scale skew. */
  def exactKSample(docs: DataFrame, stratumCol: String, idCol: String,
      k: Int, salt: String): DataFrame =
    TopK.bottomKByLongStr(
      docs.select(col(stratumCol), col(idCol),
        TextAnalysis.fingerprint64(
          concat(col(idCol).cast("string"), lit(salt))).as("h")),
      stratumCol, "h", idCol, k)

  /** Authority-weighted exact sampling — the graph-signal-to-sampler
    * composition: per-stratum quotas proportional to a rank column (e.g.,
    * [[LinkGraph.domainRank]]'s domain authority), materialized as the
    * exact bottom-k-by-salted-hash of [[exactKSample]] within each
    * stratum. quota_s = max(minQuota, (rank_s · totalK) DIV Σrank) — all
    * integer, so quotas are deterministic and oracle-replayable.
    *
    * `totalK` is a PER-STRATUM CAP (rank_s ≤ Σrank bounds every quota by
    * totalK), not a global sample-size bound: with many low-rank strata
    * the minQuota floor makes Σ quota_s exceed totalK, so the emitted
    * sample can be larger than totalK — callers wanting a hard global
    * budget must rescale ranks or post-trim. Overflow note: rank·totalK
    * is evaluated in Long; callers with ranks near 2^63/totalK must
    * pre-scale (the integer-PageRank ranks this composes with are
    * ≤ n·scale, far inside the bound).
    *
    * `ranks` is (stratum, rank); strata with no rank row are DROPPED
    * (unranked domains contribute nothing — the curation semantics of an
    * authority gate). Scale: the rank and quota frames are
    * stratum-cardinality (small; both sides of the quota join broadcast),
    * the sample shuffle is k-bounded per stratum (k = totalK caps any
    * quota since rank_s ≤ Σrank), and the doc side moves only (stratum,
    * id, hash) scalars. Output: (stratumCol, idCol, rn, quota). */
  def rankWeightedSample(docs: DataFrame, stratumCol: String, idCol: String,
      ranks: DataFrame, totalK: Int, salt: String,
      minQuota: Long = 1L): DataFrame = {
    require(totalK > 0 && minQuota >= 0, s"bad totalK=$totalK/minQuota=$minQuota")
    val tot = ranks.agg(sum(col("rank")).as("tot"))
    val quotas = ranks.crossJoin(broadcast(tot))
      .select(col(ranks.columns.head).cast("string").as(stratumCol),
        greatest(lit(minQuota), expr(s"(rank * ${totalK}L) DIV tot"))
          .as("quota"))
    TopK.bottomKByLongStr(
        docs.select(col(stratumCol), col(idCol),
          TextAnalysis.fingerprint64(
            concat(col(idCol).cast("string"), lit(salt))).as("h")),
        stratumCol, "h", idCol, totalK)
      .join(broadcast(quotas), stratumCol)
      .filter(col("rn") <= col("quota"))
      .select(col(stratumCol), col(idCol), col("rn"), col("quota"))
  }

  /** Leakage-safe train/val split: q35's hash-bucket split made DUP-CLUSTER
    * aware. A plain per-doc hash split (q35) lets two near-duplicates land
    * on opposite sides — the classic eval-contamination leak. Here the
    * split unit is the near-dup CLUSTER: every doc in a connected component
    * of the pair graph inherits the component label's bucket, so a
    * train/val boundary can never cut a near-dup edge, by construction.
    *
    * Dataflow: components of `pairs` (star contraction, [[Components]]) →
    * one left join docs⋈labels on doc_id (isolated docs fall back to their
    * own id as the group key) → group-key fingerprint bucket → split. The
    * audit column `cross_pairs` re-joins the pair list against the split
    * assignment and counts pairs whose endpoints disagree — ZERO is the
    * operator's invariant, computed in-query so the guarantee ships with
    * the result instead of living only in a test.
    *
    * Scale: the pair graph is the near-dup output (corpus-sublinear); the
    * docs⋈labels join shuffles on doc_id once; bucket + split are
    * map-side; the audit joins the (small) pair list twice against the
    * (doc_id, split) projection. At 10^12 docs the components step is the
    * documented q37/q53 path (log² rounds, durable checkpoints).
    *
    * Output: (split, n_groups, n_docs, total_chars, cross_pairs). */
  private def assignClusterSplits(docs: DataFrame, pairs: DataFrame,
      trainPct: Int, salt: String, aCol: String, bCol: String): DataFrame = {
    val labels = Components.connectedComponentsStar(pairs, aCol, bCol)
      .select(col("id").as("doc_id"), col("component"))
    docs.join(labels, Seq("doc_id"), "left")
      .withColumn("group_key", coalesce(col("component"), col("doc_id")))
      .withColumn("bucket",
        pmod(TextAnalysis.fingerprint64(
          concat(col("group_key").cast("string"), lit(salt))), lit(100L)))
      .withColumn("split",
        when(col("bucket") < trainPct, "train").otherwise("val"))
  }

  /** Per-doc view of [[leakageSafeSplit]]: the input docs with their
    * cluster group_key and split label — the frame a pipeline actually
    * filters on to materialize each side. */
  def leakageSafeSplitAssignments(docs: DataFrame, pairs: DataFrame,
      trainPct: Int = 90, salt: String = ":lss1",
      aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    require(trainPct >= 0 && trainPct <= 100, s"trainPct=$trainPct")
    assignClusterSplits(docs, pairs.select(col(aCol), col(bCol)),
      trainPct, salt, aCol, bCol)
  }

  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame,
      trainPct: Int = 90, salt: String = ":lss1",
      aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    require(trainPct >= 0 && trainPct <= 100, s"trainPct=$trainPct")
    // the pair dataflow (near-dup candidate generation) is the expensive
    // input and is consumed by BOTH the contraction and the audit join —
    // materialize it once. A local checkpoint, not a persist: its blocks
    // go with the returned frame, and a persisted plan would stay in the
    // session's cache for later queries over the same tables to match.
    val p = pairs.select(col(aCol), col(bCol)).localCheckpoint(eager = true)
    val assigned = assignClusterSplits(docs, p, trainPct, salt, aCol, bCol)
    val splits = assigned.select(col("doc_id"), col("split"))
    val leaks = p
      .join(splits.withColumnRenamed("doc_id", aCol)
        .withColumnRenamed("split", "split_a"), aCol)
      .join(splits.withColumnRenamed("doc_id", bCol)
        .withColumnRenamed("split", "split_b"), bCol)
      .groupBy(col("split_a").as("split"))
      .agg(sum(when(col("split_a") =!= col("split_b"), 1L).otherwise(0L))
        .as("cross_pairs"))
    assigned.groupBy("split")
      .agg(countDistinct(col("group_key")).as("n_groups"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .join(leaks, Seq("split"), "left")
      .select(col("split"), col("n_groups"), col("n_docs"),
        col("total_chars"), coalesce(col("cross_pairs"), lit(0L)).as("cross_pairs"))
  }

  /** Token-budgeted mixture: per stratum (crawl source), keep documents in
    * deterministic id order until the stratum's TOKEN budget is spent —
    * how a training mixture is actually specified ("B tokens of source s"),
    * where [[stratifiedSample]] speaks in row percentages. A doc is kept
    * iff the tokens BEFORE it in its stratum are under budget, so the
    * first doc to cross the line is included (budgets are floors, not
    * caps) and a later doc can never evict an earlier one — append-stable
    * under corpus growth.
    *
    * One window partitioned BY STRATUM (dozens of partitions, each
    * distributed — not the SinglePartition global-sum cliff; a skewed
    * giant stratum can range-partition by id within source via the
    * Packing primitive if it ever dominates). Output: kept docs with
    * their stratum-cumulative token position. */
  def tokenBudgetMix(docs: DataFrame, stratumCol: String, idCol: String,
      weightCol: String, budgets: Map[String, Long],
      defaultBudget: Long): DataFrame = {
    require(defaultBudget >= 0L && budgets.values.forall(_ >= 0L))
    val budget = budgets.foldLeft(lit(defaultBudget)) { case (acc, (s, b)) =>
      when(col(stratumCol) === s, lit(b)).otherwise(acc)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol).orderBy(idCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs
      .withColumn("cum_before",
        coalesce(sum(col(weightCol)).over(w), lit(0L)).cast("long"))
      .filter(col("cum_before") < budget)
  }

  /** Unicode cleaning pass — the first thing a web-crawl corpus goes
    * through before hashing/dedup sees it, as one codegen'd projection:
    *
    *  1. NFC canonical composition ([[graft.functions.NfcNormalize]],
    *     native expression — combining sequences compose so byte-level
    *     fingerprints downstream agree on canonically-equal text);
    *  2. control characters stripped (C0 minus tab/newline/CR, plus DEL
    *     — the mojibake bytes PDF/HTML extraction leaves behind);
    *  3. whitespace runs collapsed to one space, ends trimmed (the
    *     normalization every tokens() consumer in this library assumes).
    *
    * Map-side only: no shuffle, no UDF boundary. Output adds clean_text,
    * n_chars_before/n_chars_after (code points), changed (0/1). */
  def unicodeClean(docs: DataFrame, textCol: String): DataFrame = {
    val nfc = graft.functions.NfcNormalize.nfcCol(col(textCol))
    val noCtl = regexp_replace(nfc, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    val collapsed = trim(regexp_replace(noCtl, "\\s+", " "))
    docs
      .withColumn("clean_text", collapsed)
      .withColumn("n_chars_before", length(col(textCol)).cast("long"))
      .withColumn("n_chars_after", length(col("clean_text")).cast("long"))
      .withColumn("changed", (col("clean_text") =!= col(textCol)).cast("int"))
  }

  /** Deterministic seeded corpus shuffle + epoch sharding: the global
    * permutation a trainer consumes, computed without rand() so it is
    * stable across runs, partitionings, retries, and engines. Each row's
    * shuffle key is a salted content hash of its id; the row lands in
    * shard = key mod nShards and takes its position from the key order
    * WITHIN that shard (ties broken by id — hash collisions stay
    * deterministic). A different seed is a different epoch's permutation:
    * re-run with seed+1, nothing is stored.
    *
    * 100 TB shape: one shuffle on (shard, key) — the same exchange the
    * shard files need anyway — then a per-shard window for the position.
    * nShards in the thousands (training shard files) keeps every window
    * partition bounded at corpus/nShards; there is no global sort and no
    * SinglePartition stage. The hash is uniform over shards, so shard
    * sizes concentrate tightly around corpus/nShards (no skew by
    * construction — the whole point of shuffling). */
  def corpusShuffle(docs: DataFrame, idCol: String, nShards: Int,
      seed: Long): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val key = TextAnalysis.fingerprint64(
      concat(col(idCol).cast("string"), lit(s":shuf:$seed")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("shuffle_key"), col(idCol))
    docs
      .withColumn("shuffle_key", key)
      .withColumn("shard", pmod(col("shuffle_key"), lit(nShards.toLong)))
      .withColumn("pos",
        (row_number().over(w) - 1).cast("long"))
  }
}
