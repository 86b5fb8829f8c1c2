package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. Designed for the 100 TB shape:
  *
  *  - exact dedup is one hash-shuffle on a 16-byte key (never on the text);
  *  - MinHash/LSH never compares all pairs: signatures are computed per-row
  *    with codegen'd array expressions, banded bucket ids are exploded, and
  *    only same-bucket pairs meet in a shuffle — the classic
  *    shingle -> minhash -> band -> bucket-join plan;
  *  - candidate pairs are then VERIFIED with exact Jaccard before reporting,
  *    by one tail for every finder ([[verifyPairs]]);
  *  - SimHash is a per-row 64-bit signature (typed map — a tight bit loop
  *    beats a 64-branch expression tree), blocked by 16-bit bands.
  */
object Dedup {

  // ------------------------------------------------------------ exact

  /** One row per distinct normalized text: fingerprint, group size, keeper
    * (min doc_id). Groups with n_docs > 1 are the duplicate clusters. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs
      .withColumn("fp", md5(lower(trim(col("text")))))
      .groupBy("fp")
      .agg(
        count(lit(1)).as("n_docs"),
        min("doc_id").as("keeper_doc_id"))

  /** Exact-dedup keeper view: one surviving row per distinct text. */
  def exactDedup(docs: DataFrame): DataFrame = {
    val keepers = exactGroups(docs).select(col("keeper_doc_id").as("doc_id"))
    docs.join(keepers, Seq("doc_id"), "left_semi")
  }

  // ------------------------------------------------------------ shingles

  /** Whitespace tokens of the lowercased, trimmed text. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Token n-gram shingles (distinct) from a MATERIALIZED tokens column.
    *
    * Callers must project [[tokens]] into its own attribute first (a
    * separate select): handing `tokens(text)` directly to this lambda makes
    * Catalyst inline the split into every element_at — n regex splits per
    * shingle per row, measured 13.2s -> 0.58s at sf0.1 for the two-step
    * projection. CollapseProject keeps a non-cheap multiply-referenced
    * alias materialized, so the two-step shape is stable. */
  def shinglesOf(toks: Column, n: Int = 3): Column = {
    val grams = transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*))
    array_distinct(grams)
  }

  /** One-shot convenience for tests/small frames — see [[shinglesOf]] for
    * why query plans should use the two-step projection instead. */
  def shingles(text: Column, n: Int = 3): Column = shinglesOf(tokens(text), n)

  /** (id-named doc_id, shingle array) side for candidate-pair verification,
    * with the tokens materialized (two-step projection). */
  private def shingleSide(docs: DataFrame, idName: String, shName: String,
      n: Int = 3): DataFrame =
    docs.select(col("doc_id").as(idName), tokens(col("text")).as("toks"))
      .select(col(idName), shinglesOf(col("toks"), n).as(shName))

  /** Exact Jaccard similarity of two shingle-array columns, in 1/10000s
    * (integer — exact cross-engine compare). */
  def jaccardBp(a: Column, b: Column): Column = {
    // |A ∪ B| = |A| + |B| - |A ∩ B| for distinct arrays: one hash-intersect
    // instead of intersect + union (the arrays here are always distinct)
    val inter = size(array_intersect(a, b))
    floor((inter * 10000L) / (size(a) + size(b) - inter)).cast("long")
  }

  // ------------------------------------------------------------ minhash

  final val MinhashPrime = 2038074743L // < 2^31, fits long multiply safely

  /** Deterministic (a, b) parameters for the hash family. */
  def hashParams(nHashes: Int, seed: Long = 42L): IndexedSeq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    IndexedSeq.fill(nHashes)(
      (1L + rnd.nextInt(Int.MaxValue - 1).toLong, rnd.nextInt(Int.MaxValue).toLong))
  }

  /** Deterministic 64-bit string hash (same on every JVM; no dependence on
    * engine-specific hash builtins). */
  def stringHash64(s: String): Long = {
    var h = 0xcbf29ce4L
    var i = 0
    while (i < s.length) { h = h * 1000003L + s.charAt(i); i += 1 }
    h
  }

  /** Per-document banded MinHash bucket ids as a tight typed pass.
    *
    * A 32-way expression tree recomputes the shingle hashes per hash
    * function and compiles to a ~10 MiB codegen blob (measured); the typed
    * map does ONE pass over the shingles and keeps the task binary small —
    * the per-partition loop is the right tool here, exactly like the
    * reference's per-doc parser core.
    */
  def minhashBuckets(text: String, n: Int, params: IndexedSeq[(Long, Long)],
      bands: Int, rowsPerBand: Int): Array[Long] = {
    val toks = text.trim.toLowerCase.split("\\s+")
    val nShingles = math.max(toks.length - n + 1, 1)
    val sig = Array.fill(params.length)(Long.MaxValue)
    var i = 0
    while (i < nShingles) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < n && i + j < toks.length) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j)); j += 1
      }
      val h = math.floorMod(stringHash64(sb.toString), MinhashPrime)
      var k = 0
      while (k < params.length) {
        val (a, b) = params(k)
        val v = math.floorMod(h * a + b, MinhashPrime)
        if (v < sig(k)) sig(k) = v
        k += 1
      }
      i += 1
    }
    Array.tabulate(bands) { band =>
      var h = 0xcbf29ce4L + band
      var r = 0
      while (r < rowsPerBand) { h = h * 1000003L + sig(band * rowsPerBand + r); r += 1 }
      h
    }
  }

  /** (doc_id, band, bucket) LSH index rows for a corpus — the narrow
    * (shuffle-free) signature+banding pass shared by the batch and
    * incremental pair finders. At 100 TB this is the frame a persisted
    * LSH index table holds. */
  def bandBuckets(docs: DataFrame, nHashes: Int = 32, bands: Int = 8,
      seed: Long = 42L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rowsPerBand = nHashes / bands
    val params = hashParams(nHashes, seed)
    docs.select("doc_id", "text").as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        (id, minhashBuckets(text, 3, params, bands, rowsPerBand))
      })
      .toDF("doc_id", "buckets")
      .select(col("doc_id"), posexplode(col("buckets")).as(Seq("band", "bucket")))
  }

  /** MinHash-LSH near-duplicate pairs, verified with exact Jaccard.
    *
    * Plan shape: per-row signature+buckets (narrow typed pass) -> explode
    * bands (narrow) -> self-join on (band, bucket) — the only shuffle, and
    * its payload is (doc_id, 8-byte bucket), never text or shingles ->
    * distinct candidate pairs -> re-join the two shingle arrays only for the
    * (few) candidates -> exact-Jaccard verify -> threshold ([[verifyPairs]]).
    */
  def minhashLshPairs(
      docs: DataFrame,
      nHashes: Int = 32,
      bands: Int = 8,
      minJaccardBp: Long = 7000L,
      seed: Long = 42L): DataFrame = {
    val bucketed = bandBuckets(docs, nHashes, bands, seed)
    val a = bucketed.select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
    val b = bucketed.select(col("band"), col("bucket"), col("doc_id").as("doc_b"))
    val candidates = a.join(b, Seq("band", "bucket"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    verifyPairs(candidates, docs, minJaccardBp)
  }

  /** Exact-Jaccard verification of candidate id pairs against a document
    * frame — the one verify tail of every near-dup finder (batch,
    * incremental, streaming).
    *
    * Both build sides are left to the planner on purpose: at bench scale it
    * broadcasts the (small) shingle frames, so the two sides build in
    * PARALLEL jobs; forcing broadcast(candidates) instead serializes the two
    * shingle passes behind the candidate pipeline (measured +0.6 s on q15 at
    * sf0.1). No frame carrying shingle arrays is broadcast by hint, so a
    * growing candidate set cannot blow the broadcast limit. When the
    * planner broadcasts nothing, both joins sort-merge and shuffle the
    * shingle side of every doc in `docs`: callers whose candidates touch a
    * small part of `docs` (the incremental and streaming finders) pass
    * [[touchedDocs]] instead, which bounds that shuffle — and the
    * tokenize — by the candidates. */
  def verifyPairs(candidates: DataFrame, docs: DataFrame,
      minJaccardBp: Long, shingleN: Int = 3): DataFrame =
    candidates
      .join(shingleSide(docs, "doc_a", "sh_a", shingleN), Seq("doc_a"))
      .join(shingleSide(docs, "doc_b", "sh_b", shingleN), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        jaccardBp(col("sh_a"), col("sh_b")).as("jaccard_bp"))
      .where(col("jaccard_bp") >= minJaccardBp)

  /** `docs` restricted to the ids some candidate pair names: an ids-only
    * broadcast left-semi join, map-side on the docs. Row-identical input
    * for [[verifyPairs]] (its inner joins never read a doc no candidate
    * names), for candidates bounded by a delta or a micro-batch rather
    * than by the corpus. */
  def touchedDocs(candidates: DataFrame, docs: DataFrame): DataFrame =
    docs.join(broadcast(candidates
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))),
      Seq("doc_id"), "left_semi")

  /** LSH self-audit: measured RECALL of the banded MinHash pipeline
    * against exact ground truth on a bounded probe slice — the production
    * pattern for trusting an approximation before running it corpus-wide
    * (band/row settings are picked on paper from the S-curve; this is the
    * empirical check that the curve holds on YOUR corpus).
    *
    * Ground truth never goes all-pairs either: any pair with Jaccard > 0
    * shares at least one shingle, so true candidates come from a shingle
    * equi-join (an inverted-index self-join, the blocking trick at
    * recall 1) and are exact-verified. The LSH side is the unmodified
    * [[minhashLshPairs]] on the same slice; its own exact-Jaccard verify
    * makes it a SUBSET of truth, so precision is 1.0 by construction and
    * any deviation of precision_bp from 10000 is a BUG detector, while
    * recall_bp measures banding loss. One summary row; the slice bound
    * keeps the audit constant-cost no matter the corpus size. */
  def lshRecallAudit(docs: DataFrame, sliceMaxDocId: Long = 400L,
      nHashes: Int = 32, bands: Int = 8,
      minJaccardBp: Long = 2000L): DataFrame = {
    val slice = docs.filter(col("doc_id") < sliceMaxDocId)
    val lsh = minhashLshPairs(slice, nHashes, bands, minJaccardBp)
      .select("doc_a", "doc_b")
    val sh = slice.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(shinglesOf(col("toks"), 3)).as("s"))
    val cands = sh.select(col("doc_id").as("doc_a"), col("s"))
      .join(sh.select(col("doc_id").as("doc_b"), col("s")), "s")
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val exact = verifyPairs(cands, slice, minJaccardBp)
      .select("doc_a", "doc_b")
    val hit = exact.join(lsh, Seq("doc_a", "doc_b"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_exact"), col("n_lsh"), col("n_hit"),
        expr("n_hit * 10000 div greatest(n_exact, 1)").as("recall_bp"),
        expr("n_hit * 10000 div greatest(n_lsh, 1)").as("precision_bp"))
  }

  /** Incremental near-dup: the pairs a NEW batch (`delta`) introduces —
    * delta×corpus and delta×delta — WITHOUT re-pairing the corpus against
    * itself. This is the only dedup shape that survives a growing 100 TB
    * corpus: each ingest costs O(|delta| × bucket-collisions), not
    * O(|corpus|²-candidates), and the corpus side is exactly the frame a
    * persisted LSH index table holds ([[bandBuckets]]) — on a real
    * deployment the index is read, not recomputed, and this plan is
    * unchanged.
    *
    * Plan shape: the delta's bucket rows are BROADCAST and probe the
    * corpus∪delta index map-side — the index never shuffles (a shuffle of
    * the index would be the full-corpus cost this operator exists to
    * avoid). Candidate id pairs are canonicalized (least/greatest),
    * deduped, and verified with exact Jaccard like the batch finder —
    * against only the docs they name ([[touchedDocs]]), so the verify
    * tokenizes and, with nothing broadcast, shuffles O(candidates) docs.
    * Equivalence contract (the q55 oracle): identical to the full-corpus
    * [[minhashLshPairs]] restricted to pairs touching the delta. */
  def incrementalMinhashPairs(
      corpus: DataFrame,
      delta: DataFrame,
      nHashes: Int = 32,
      bands: Int = 8,
      minJaccardBp: Long = 7000L,
      seed: Long = 42L,
      prebuiltIndex: Option[DataFrame] = None): DataFrame = {
    // prebuiltIndex is the production path: the (band, bucket, doc_id)
    // table a deployment persists and appends each ingest's rows to —
    // passing it makes the per-ingest cost a SCAN of the index, never a
    // recompute of every corpus signature (ScaleCheck measures this path
    // at 100x corpus growth with a fixed delta)
    val index = prebuiltIndex
      .getOrElse(bandBuckets(corpus, nHashes, bands, seed))
      .unionByName(bandBuckets(delta, nHashes, bands, seed))
    val probe = bandBuckets(delta, nHashes, bands, seed)
      .select(col("band"), col("bucket"), col("doc_id").as("probe_id"))
    val candidates0 = index.join(broadcast(probe), Seq("band", "bucket"))
      .where(col("doc_id") =!= col("probe_id"))
      .select(least(col("doc_id"), col("probe_id")).as("doc_a"),
        greatest(col("doc_id"), col("probe_id")).as("doc_b"))
      .distinct()
    // two readers of the candidates below: the verify joins and the id list
    // in touchedDocs. The optimizer pushes filters it infers from the docs
    // frames (a doc_id split like q55's) into the verify's copy only, so the
    // copies differ and the index probe ran twice (q55 at sf0.01: 11 jobs,
    // not 10); no filter passes a typed map, so both read one plan
    val candidates = {
      import candidates0.sparkSession.implicits._
      candidates0.as[(Long, Long)].map(identity).toDF("doc_a", "doc_b")
    }
    verifyPairs(candidates,
      touchedDocs(candidates, corpus).unionByName(delta), minJaccardBp)
  }

  /** Exact n-gram Jaccard over candidate pairs from a cheap blocking key:
    * same token-count bucket AND a shared shingle among each document's TWO
    * lexicographically-smallest shingles. Fully SQL-expressible — this
    * variant carries a DuckDB oracle.
    *
    * The shingle component is the scale-safety of the key: its cardinality
    * GROWS with the corpus (distinct shingles), unlike a first-token key
    * whose cardinality is the vocabulary of sentence openers — blocks stay
    * small (measured max 7 docs/block at sf0.1 vs 34 under first-token
    * blocking; block count 934 -> 7284 from sf0.01 -> sf0.1), so candidate
    * pairs grow ~linearly with corpus size instead of quadratically. It is
    * bottom-2 MinHash blocking with an order-preserving "hash": a near-dup
    * pair escapes only if the edit displaces BOTH smallest shingles.
    *
    * Plan shape mirrors [[minhashLshPairs]]: the blocking join and the
    * candidate distinct carry (doc_id, key) only; the shingle arrays are
    * re-joined for the surviving candidates before the exact verify.
    *
    * `shingleN` is the saturation escape hatch: block-cardinality growth
    * assumes OPEN vocabulary. On a closed-vocabulary corpus the n-gram
    * space is bounded (v^n) and once the corpus outgrows it, blocks
    * densify and candidates go quadratic — measured on the synthetic
    * 31-word corpus at 50k docs, 3-gram space 29,791 was saturated
    * (27,634 blocks, max block 30, 303k candidates). Raising shingleN
    * restores diversity (v^5 ~ 28M for the same corpus) at the cost of
    * slightly lower recall for heavy edits. */
  def ngramJaccardPairs(docs: DataFrame, minJaccardBp: Long = 3000L,
      shingleN: Int = 3): DataFrame = {
    // len_bucket is statically NON-nullable (coalesce): as a plain
    // FLOOR(size/10) the blocking join's inferred IsNotNull constraint is
    // pushed into a Filter that re-evaluates the whole tokenize under it —
    // one extra regex-split pass over every document on BOTH key sides.
    // Row-equivalent: a null-text doc previously dropped at the null join
    // key now carries bucket -1 but still emits ZERO key rows, because its
    // shingle array is null and explode(null) generates nothing.
    val keyed = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), shinglesOf(col("toks"), shingleN).as("sh"),
        coalesce(floor(size(col("toks")) / 10).cast("long"), lit(-1L))
          .as("len_bucket"))
    val keys = keyed.select(col("doc_id"), col("len_bucket"),
      explode(slice(array_sort(col("sh")), 1, 2)).as("blk"))
    val a = keys.select(col("len_bucket"), col("blk"), col("doc_id").as("doc_a"))
    val b = keys.select(col("len_bucket"), col("blk"), col("doc_id").as("doc_b"))
    val cand = a.join(b, Seq("len_bucket", "blk"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    verifyPairs(cand, docs, minJaccardBp, shingleN)
  }

  // ------------------------------------------------------------ simhash

  /** 64-bit SimHash of the token stream (pure function; used via typed map). */
  def simhash64(text: String): Long = {
    val counts = new Array[Int](64)
    val toks = text.trim.toLowerCase.split("\\s+")
    var i = 0
    while (i < toks.length) {
      // xxhash-free deterministic 64-bit token hash (same on every JVM)
      var h = RollingSeed
      val t = toks(i)
      var j = 0
      while (j < t.length) { h = h * 1000003L + t.charAt(j); j += 1 }
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) counts(bit) += 1 else counts(bit) -= 1
        bit += 1
      }
      i += 1
    }
    var sig = 0L
    var bit = 0
    while (bit < 64) {
      if (counts(bit) > 0) sig |= (1L << bit)
      bit += 1
    }
    sig
  }
  private final val RollingSeed = 0xcbf29ce4L

  // ---------------------------------------- duplicate substrings

  /** Cross-document duplicate-substring detection — the hash-shuffle
    * alternative to suffix-array substring dedup (after Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): every
    * k-token window of every document is fingerprinted; windows whose
    * fingerprint occurs in MORE THAN ONE document are marked; per document
    * the marked (overlapping) windows are merged into a covered-token
    * count. Self-repetition inside one document does not count — that is
    * q38's repetition profile; this operator finds cross-document boilerplate
    * (licence blocks, templated headers, syndicated passages).
    *
    * Output: one row per document containing at least one duplicated
    * window — (doc_id, n_dup_windows, dup_tokens, total_tokens,
    * dup_frac_bp), where dup_tokens is the size of the merged union of the
    * marked k-token intervals.
    *
    * 100 TB shape: the gram string never leaves its mapper — each window is
    * hashed to a single long (graft_fingerprint64, codegen'd) inside the
    * projection that slices it, so both shuffles (by fingerprint for the
    * distinct-doc count + candidate join; by doc_id for the merge) carry
    * fixed-width scalars only. The overlapping-interval merge is a lag
    * window (sum of min(k, gap)), not a per-doc array collection, so no
    * Exchange carries an array type anywhere in the plan (pinned in
    * PlanAuditSpec).
    */
  def dupSubstrings(docs: DataFrame, k: Int = 8): DataFrame = {
    require(k > 0, s"window size must be positive, got $k")
    val marked = markedDupWindows(docs, k)
    // merged coverage of overlapping fixed-width intervals == sum over the
    // per-doc position order of min(k, pos - previous pos); first window
    // contributes k. Computed as a map-side fold over the per-doc sorted
    // position array (one aggregation exchange, no Sort+Window operators —
    // the former lag-window spelling paid a per-partition sort of the
    // whole marked-window set; per-doc arrays are dup-density-bounded).
    marked
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_dup_windows"),
        sort_array(collect_list(col("pos"))).as("ps"),
        first("total_tokens").as("total_tokens"))
      .select(col("doc_id"), col("n_dup_windows"),
        expr(s"IF(size(ps) < 2, CAST($k AS BIGINT), CAST($k AS BIGINT) + " +
          s"aggregate(transform(sequence(2, size(ps)), i -> " +
          s"least(CAST($k AS BIGINT), " +
          s"CAST(element_at(ps, i) - element_at(ps, i - 1) AS BIGINT))), " +
          "CAST(0 AS BIGINT), (a, x) -> a + x))").as("dup_tokens"),
        col("total_tokens"))
      .withColumn("dup_frac_bp",
        floor(col("dup_tokens") * 10000 / col("total_tokens")).cast("long"))
  }

  /** The shared front half of the substring-dedup family: one row per
    * k-token window whose fingerprint appears in MORE THAN ONE document —
    * (doc_id, total_tokens, pos, h). The window hash is computed inside
    * the projection that slices it (gram text never leaves its mapper);
    * the distinct-doc count and the mark-back join shuffle fixed-width
    * scalars only. */
  private[ops] def markedDupWindows(docs: DataFrame, k: Int): DataFrame = {
    val wins = tokenWindows(docs, k)
    val dupH = wins.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
      .select("h")
    wins.join(dupH, "h")
  }

  /** One row per k-token window: (doc_id, total_tokens, pos, h), window
    * text fingerprinted to one long inside the slicing projection. */
  private[ops] def tokenWindows(docs: DataFrame, k: Int): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= k)
      .select(
        col("doc_id"), size(col("tk")).cast("long").as("total_tokens"),
        posexplode(transform(sequence(lit(0), size(col("tk")) - k),
          i => graft.functions.RollingHash64.fingerprint64(
            concat_ws(" ", slice(col("tk"), i + 1, lit(k)))))))
      .toDF("doc_id", "total_tokens", "pos", "h")

  /** SHARED drop-array reconstruction for the whole scrub family —
    * substring scrub (q61), sentence dedup (q64), incremental sentence
    * dedup (q71) and its streaming shadow (x62) all rebuild clean text
    * through THIS one code path, so the reconstruction contract cannot
    * drift per operator.
    *
    * `drops` is one row per AFFECTED doc: (doc_id, drops: array<int>) of
    * TOKEN positions when unitTokens == 1 (q61) or UNIT indexes when
    * unitTokens > 1 (q64/q71/x62). Emits one row per input doc:
    * (doc_id, clean_text, n_total_tokens, n_units, n_dropped,
    * n_kept_tokens, carry...) — call sites project/rename.
    *
    * EMPTY-DOCUMENT CONTRACT (SURVEY §1.2's blank-duality note, resolved):
    * a document whose every token is dropped yields clean_text = ''
    * (empty string, NEVER null) — `array_join` over an empty array is ''
    * and the input text column is non-null by the corpus contract. The
    * DuckDB oracles must `coalesce(array_to_string(...), '')` because
    * DuckDB 1.x returns NULL for array_to_string over an empty list.
    * Pinned in DedupSpec ("fully-scrubbed doc") and
    * StreamSentenceDedupSpec.
    *
    * 100 TB shape: the drop arrays are dup-density-bounded (far smaller
    * than the corpus) — at driver scale AQE broadcasts them; at cluster
    * scale with a heavy-dup corpus read the input from a doc_id-bucketed
    * table (io.Bucketed / the committed sink's clustered compaction) and
    * this join is exchange-free on the corpus side. Reconstruction is a
    * projection over that join: token text never enters an exchange. */
  private[graft] def rebuildFromDrops(docs: DataFrame, drops: DataFrame,
      unitTokens: Int, carryCols: Seq[String] = Nil): DataFrame = {
    require(unitTokens > 0, s"unit size must be positive, got $unitTokens")
    val emptyInts = array().cast(org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType))
    val carry = carryCols.map(col)
    val unitOf: Column => Column =
      if (unitTokens == 1) i => i.cast("int")
      else i => floor(i / unitTokens).cast("int")
    docs.join(drops, Seq("doc_id"), "left")
      .select(col("doc_id") +: tokens(col("text")).as("tk") +:
        coalesce(col("drops"), emptyInts).as("da") +: carry: _*)
      .select(col("doc_id") +:
        filter(col("tk"), (_, i) => !array_contains(col("da"), unitOf(i)))
          .as("kept") +:
        size(col("tk")).cast("long").as("n_total_tokens") +:
        (floor((size(col("tk")) - 1) / unitTokens) + 1).cast("long")
          .as("n_units") +:
        size(col("da")).cast("long").as("n_dropped") +: carry: _*)
      .select(col("doc_id") +:
        array_join(col("kept"), " ").as("clean_text") +:
        col("n_total_tokens") +: col("n_units") +: col("n_dropped") +:
        size(col("kept")).cast("long").as("n_kept_tokens") +: carry: _*)
  }

  /** Incremental sentence-level dedup — the O(delta) ingest composition
    * of [[sentenceDedup]]: clean a DELTA batch against a standing corpus
    * WITHOUT re-reading corpus text. The corpus contributes only its
    * distinct unit fingerprints (the standing index a production table
    * persists and appends to); a delta unit is dropped when its hash is
    * already owned by the corpus (temporal precedence — the corpus was
    * committed first, so its copy is the keeper regardless of id order)
    * OR it is not the first (doc_id, pos) occurrence within the delta
    * itself. When corpus ids order before the delta's (the append-only
    * ingest case) this equals full `sentenceDedup(corpus ∪ delta)`
    * restricted to delta rows (spec-pinned); the q71 oracle replays the
    * incremental rule itself.
    *
    * 100 TB shape: cost ∝ delta. The corpus index is hashes only
    * (8 B/unit); the delta's winner election is the q64 plan on delta
    * rows; the index probe is a join on longs (broadcast when the delta's
    * distinct units fit — they do for a daily batch — else a plain hash
    * join where only the delta side re-shuffles per ingest). */
  def incrementalSentenceDedup(corpus: DataFrame, delta: DataFrame,
      unitTokens: Int = 12): DataFrame =
    incrementalSentenceDedupIndexed(
      sentenceUnitIndex(corpus, unitTokens), delta, unitTokens)

  /** One row per `unitTokens`-token unit: (doc_id, pos, h). */
  private[graft] def sentenceUnits(docs: DataFrame, unitTokens: Int): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), floor((size(col("tk")) - 1) / unitTokens).cast("int")),
          i => graft.functions.RollingHash64.fingerprint64(
            concat_ws(" ", slice(col("tk"), i * unitTokens + 1, lit(unitTokens)))))))
      .toDF("doc_id", "pos", "h")

  /** The standing unit-hash index (col `h`, distinct) a production table
    * persists and appends to per ingest batch. */
  def sentenceUnitIndex(docs: DataFrame, unitTokens: Int = 12): DataFrame =
    sentenceUnits(docs, unitTokens).select("h").distinct()

  /** [[incrementalSentenceDedup]] against an ALREADY-MATERIALIZED index
    * frame (one `h` column) — the entry point for a streaming/batched
    * ingest that keeps the index as a table instead of recomputing it. */
  def incrementalSentenceDedupIndexed(index: DataFrame, delta: DataFrame,
      unitTokens: Int = 12): DataFrame = {
    require(unitTokens > 0, s"unit size must be positive, got $unitTokens")
    val du = sentenceUnits(delta, unitTokens)
    val winners = du.groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"),
        count(lit(1)).as("occ"))
    val inCorpus = du.join(index, Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val laterInDelta = du.join(winners, "h")
      .filter(col("occ") > 1 &&
        !(col("doc_id") === col("w.doc_id") && col("pos") === col("w.pos")))
      .select(col("doc_id"), col("pos"))
    val drops = inCorpus.union(laterInDelta).distinct()
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("drops"))
    rebuildFromDrops(delta, drops, unitTokens)
      .select("doc_id", "clean_text", "n_units", "n_dropped",
        "n_kept_tokens")
  }

  /** N-gram cross-corpus decontamination (the GPT-3 appendix-C shape:
    * an eval document is contaminated where any of its k-grams collides
    * with the training corpus — boundary-free, unlike q43's exact-phrase
    * scan): every k-token window of every EVAL doc is marked when its
    * fingerprint occurs anywhere in TRAIN; marked windows merge to a
    * covered-token measure per eval doc (the q56 lag-gap sum). Emits one
    * row per eval doc, zero-hit docs included — (doc_id, total_tokens,
    * n_hit_windows, contam_tokens, contam_bp).
    *
    * 100 TB shape: both sides collapse to (8-byte fingerprint) rows
    * inside their scan projections; the collision join and the per-doc
    * merge shuffle fixed-width scalars only. The train side is distinct
    * hashes — at web scale that is the big side, and the join is a plain
    * hash join on longs; the eval side (benchmarks) is tiny. */
  def crossContamination(train: DataFrame, eval: DataFrame,
      k: Int = 8): DataFrame = {
    require(k > 0, s"window size must be positive, got $k")
    val trainH = tokenWindows(train, k).select("h").distinct()
    val hit = tokenWindows(eval, k).join(trainH, "h")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val agg = hit
      .withColumn("gap", col("pos") - lag("pos", 1).over(w))
      .withColumn("cov",
        when(col("gap").isNull || col("gap") >= k, lit(k.toLong))
          .otherwise(col("gap").cast("long")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit_windows"), sum("cov").as("contam_tokens"))
    eval.select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("total_tokens"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("total_tokens"),
        coalesce(col("n_hit_windows"), lit(0L)).as("n_hit_windows"),
        coalesce(col("contam_tokens"), lit(0L)).as("contam_tokens"),
        floor(coalesce(col("contam_tokens"), lit(0L)) * 10000
          / col("total_tokens")).cast("long").as("contam_bp"))
  }

  /** The ACT half of substring dedup (q56 finds, this removes): every
    * cross-document duplicated k-token window is scrubbed from EVERY
    * document's text — the boilerplate-removal semantics, with no
    * winner-resolution ambiguity. Output one row per input doc:
    * (doc_id, clean_text, n_kept, n_dropped), clean text rebuilt from the
    * surviving tokens (whitespace-normalized, like every tokens() consumer).
    *
    * Plan shape: the marked windows expand to COVERED TOKEN POSITIONS
    * (k ints per window, deduped) and aggregate to one int array per
    * AFFECTED doc — the only new thing the join back to the corpus
    * carries. Reconstruction happens in the projection over that join, so
    * token text never enters an exchange PROVIDED the join itself is
    * co-located: at driver scale AQE broadcasts the drop arrays (they are
    * dup-density-bounded, far smaller than the corpus); at cluster scale
    * with a heavy-dup corpus, read the input from a doc_id-bucketed /
    * doc_ord-clustered table (io.Bucketed / the committed sink's
    * clustered compaction) and the doc_id join is exchange-free on the
    * corpus side. */
  def scrubDupSubstrings(docs: DataFrame, k: Int = 8): DataFrame = {
    require(k > 0, s"window size must be positive, got $k")
    // one exchange, window-count rows: aggregate the marked window STARTS
    // per doc and expand them to covered token positions map-side with
    // array ops (sequence/flatten/distinct). The former spelling exploded
    // k positions per window and pushed the 8x row set through TWO
    // exchanges (a (doc_id, p) distinct, then the per-doc collect) —
    // guide §2.3/§2.4; per-doc position sets are dup-density-bounded, so
    // the map-side arrays stay small at any corpus scale.
    val drops = markedDupWindows(docs, k)
      .groupBy("doc_id")
      .agg(collect_list(col("pos")).as("ps"))
      .select(col("doc_id"),
        sort_array(array_distinct(flatten(transform(col("ps"),
          p => sequence(p, p + (k - 1)))))).cast(
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.IntegerType)).as("drops"))
    rebuildFromDrops(docs, drops, unitTokens = 1)
      .select(col("doc_id"), col("clean_text"),
        col("n_kept_tokens").as("n_kept"),
        (col("n_total_tokens") - col("n_kept_tokens")).as("n_dropped"))
  }

  // ---------------------------------------- sentence-level exact dedup

  /** C4-style exact sentence-level deduplication (after Raffel et al. 2020
    * §2.2's "three-sentence span" dedup and RefinedWeb's line dedup): the
    * corpus text is segmented into consecutive `unitTokens`-token units
    * ("sentences" — the synthetic corpus carries no newline/period
    * structure, so segmentation is positional; pass pre-split lines
    * through the same fingerprint path when the corpus has them), every
    * unit occurring in the corpus MORE THAN ONCE keeps exactly its FIRST
    * occurrence — globally smallest (doc_id, unit index) — and every other
    * occurrence is removed from its document's text.
    *
    * Differs from [[scrubDupSubstrings]] (q61) on both axes: units are
    * non-overlapping (no interval merge), and the semantics are
    * keep-first rather than scrub-everywhere — the C4 contract that the
    * corpus retains exactly one copy of each duplicated sentence.
    *
    * Output: one row per input doc —
    * (doc_id, clean_text, n_units, n_dropped, n_kept_tokens).
    *
    * 100 TB shape: unit text is fingerprinted to a single long inside the
    * projection that slices it (graft_fingerprint64, codegen'd), so the
    * winner-election shuffle (groupBy h -> min struct(doc_id, pos)) and
    * the mark-back join carry fixed-width scalars only. Per-doc dropped
    * unit indexes aggregate to one small int array per AFFECTED doc
    * (dup-density-bounded); reconstruction is map-side against the
    * original text exactly like q61 — at cluster scale read the corpus
    * from a doc_id-bucketed table and the join back is exchange-free on
    * the corpus side. */
  def sentenceDedup(docs: DataFrame, unitTokens: Int = 12,
      carryCols: Seq[String] = Nil): DataFrame = {
    require(unitTokens > 0, s"unit size must be positive, got $unitTokens")
    val units = sentenceUnits(docs, unitTokens)
    // one 12-byte-key shuffle elects the keeper occurrence per unit hash
    val winners = units.groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"),
        count(lit(1)).as("occ"))
    val dropped = units.join(winners, "h")
      .filter(col("occ") > 1 &&
        !(col("doc_id") === col("w.doc_id") && col("pos") === col("w.pos")))
      .select(col("doc_id"), col("pos"))
    val drops = dropped.groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("drops"))
    rebuildFromDrops(docs, drops, unitTokens, carryCols)
      .select((Seq("doc_id", "clean_text", "n_units", "n_dropped",
        "n_kept_tokens") ++ carryCols).map(col): _*)
  }

  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** BANDED SimHash near-dup candidate pairs: nBands equal-width band
    * blocking over the 64-bit signature, verified by full Hamming distance
    * <= maxHamming.
    *
    * CONTRACT (the standard banded-SimHash candidate semantics, stated
    * precisely): a qualifying pair is emitted iff the two signatures agree
    * EXACTLY on at least one band. By pigeonhole that makes the result
    * COMPLETE for hamming <= nBands-1; pairs at larger distances are
    * reported only when their differing bits happen to leave a band
    * untouched — e.g. at q16's registration (4 bands, maxHamming=18) a
    * hamming-4 pair whose four bits hit all four bands is silently
    * excluded (pinned in DedupSpec). For guaranteed recall at distance h,
    * call with nBands >= h+1 (band width shrinks and candidate volume
    * grows — the recall/cost dial every banded scheme trades on). The q16
    * oracle replays the identical band predicate, so the cross-engine
    * gate pins these exact semantics.
    *
    * The signature is a native Catalyst expression
    * (graft.functions.SimHash64) so the whole plan — signature, banding,
    * join, bit_count verify — stays inside codegen with no typed encoder
    * round-trip. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 6,
      nBands: Int = 4): DataFrame = {
    val sigs = docs.select(col("doc_id"),
      graft.functions.SimHash64.simhash64Col(col("text")).as("sig"))
    bandedSimhashPairs(sigs, maxHamming, nBands)
  }

  /** EXHAUSTIVE SimHash near-dup: the band count is DERIVED from
    * maxHamming — the smallest divisor of 64 that is >= maxHamming+1 — so
    * by pigeonhole every pair at hamming <= maxHamming shares at least one
    * untouched band. Recall is 1.0 BY CONSTRUCTION (the oracle is the
    * brute-force all-pairs scan, no band predicate), closing the q16
    * contract boundary: q16 keeps the standard candidate semantics at a
    * caller-chosen band count; this variant trades candidate volume
    * (narrower bands -> more bucket collisions) for the guarantee. */
  def simhashPairsExact(docs: DataFrame, maxHamming: Int = 6): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 63], got $maxHamming")
    simhashPairs(docs, maxHamming, exactBands(maxHamming))
  }

  /** Smallest divisor of 64 with nBands >= maxHamming+1 (pigeonhole). */
  private[ops] def exactBands(maxHamming: Int): Int =
    Seq(1, 2, 4, 8, 16, 32, 64).find(_ >= maxHamming + 1).get

  /** PUBLIC generic 64-bit-signature near-dup: banded candidate join with
    * the band count DERIVED from maxHamming (pigeonhole-complete, q60
    * semantics) over any (doc_id, sig) frame — the signature may come
    * from text SimHash, image average-hash ([[Multimodal.imageAHash]]),
    * or any other 64-bit perceptual fingerprint. Output: (doc_a, doc_b,
    * hamming), complete for hamming <= maxHamming. */
  def signatureNearDupPairs(sigs: DataFrame, maxHamming: Int): DataFrame =
    bandedSimhashPairs(sigs, maxHamming, exactBands(maxHamming))

  /** (doc_id, sig, band, bits) rows for a (doc_id, sig) frame at the
    * given band count — the banding pass shared by the batch and
    * incremental signature finders, and the frame a persisted signature
    * index table holds (8·nBands + 8 bytes per doc). */
  private[graft] def signatureBandRows(sigs: DataFrame, nBands: Int)
      : DataFrame = {
    require(nBands > 0 && 64 % nBands == 0,
      s"nBands must divide 64, got $nBands")
    val width = 64 / nBands
    val mask = if (width == 64) lit(-1L) else lit((1L << width) - 1)
    // the band count rides the `band` column as metadata (parquet
    // preserves it), so a persisted index declares the radius tier it was
    // built for and incrementalSignaturePairs can refuse a mismatched one
    val bandMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(BandCountMetaKey, nBands.toLong).build()
    sigs.select(
      col("doc_id"), col("sig"),
      posexplode(array((0 until nBands).map(b =>
        shiftrightunsigned(col("sig"), b * width).bitwiseAND(mask)): _*))
        .as(Seq("band", "bits")))
      .withColumn("band", col("band").as("band", bandMeta))
  }

  /** Column-metadata key carrying the band count an index was built at. */
  private[graft] final val BandCountMetaKey = "graft_n_bands"

  /** The persisted-index spelling of [[signatureBandRows]]: banded at the
    * maxHamming-DERIVED pigeonhole-complete width, so rows appended per
    * ingest stay complete for the chosen radius. */
  def signatureBandIndex(sigs: DataFrame, maxHamming: Int): DataFrame =
    signatureBandRows(sigs, exactBands(maxHamming))

  /** Incremental generic-signature near-dup: the pairs a NEW batch
    * (`deltaSigs`) introduces — delta×corpus and delta×delta — at
    * hamming <= maxHamming, complete by the derived pigeonhole bands,
    * WITHOUT re-pairing the corpus against itself. The q55/q71 ingest
    * discipline applied to the 64-bit-signature family (text SimHash,
    * image aHash, audio-style fingerprints):
    *
    *  - `prebuiltIndex` is the production path — the
    *    [[signatureBandIndex]] table a deployment persists and appends
    *    each ingest's rows to; passing it makes the per-ingest cost a
    *    SCAN of the index, never a corpus signature recompute.
    *  - The delta's band rows BROADCAST and probe the index map-side;
    *    the index never shuffles (pinned — a shuffle of the index would
    *    be the full-corpus cost this operator exists to avoid).
    *  - Verify is the codegen'd bit_count(xor) on the probe join itself
    *    (signatures ride the index rows; no second join).
    *
    * Equivalence contract (the q94 oracle): identical to
    * [[signatureNearDupPairs]] over corpus ∪ delta restricted to pairs
    * touching the delta. */
  def incrementalSignaturePairs(corpusSigs: DataFrame, deltaSigs: DataFrame,
      maxHamming: Int, prebuiltIndex: Option[DataFrame] = None): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 63], got $maxHamming")
    // an index banded for one radius tier probed at another joins
    // mismatched (band, bits) encodings and silently returns garbage —
    // fail fast on the declared band count (carried as column metadata,
    // which parquet round-trips; an index without the declaration is
    // accepted for compatibility, its caller owns the tier match)
    prebuiltIndex.foreach { ix =>
      ix.schema.find(_.name == "band")
        .filter(_.metadata.contains(BandCountMetaKey))
        .map(_.metadata.getLong(BandCountMetaKey))
        .foreach { declared =>
          require(declared == exactBands(maxHamming).toLong,
            s"prebuiltIndex was banded at nBands=$declared but " +
              s"maxHamming=$maxHamming needs nBands=${exactBands(maxHamming)} " +
              "— rebuild the index for this radius tier")
        }
    }
    val index = prebuiltIndex
      .getOrElse(signatureBandIndex(corpusSigs, maxHamming))
      .unionByName(signatureBandIndex(deltaSigs, maxHamming))
    val probe = signatureBandIndex(deltaSigs, maxHamming)
      .select(col("band"), col("bits"),
        col("doc_id").as("probe_id"), col("sig").as("probe_sig"))
    index.join(broadcast(probe), Seq("band", "bits"))
      .where(col("doc_id") =!= col("probe_id"))
      .select(least(col("doc_id"), col("probe_id")).as("doc_a"),
        greatest(col("doc_id"), col("probe_id")).as("doc_b"),
        bit_count(col("sig").bitwiseXOR(col("probe_sig")))
          .cast("int").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Band-join + exact-verify core over precomputed (doc_id, sig) rows —
    * split out so the band-completeness boundary is unit-testable on
    * hand-built signatures. */
  private[ops] def bandedSimhashPairs(sigs: DataFrame, maxHamming: Int,
      nBands: Int): DataFrame = {
    val banded = signatureBandRows(sigs, nBands)
    val a = banded.select(col("band"), col("bits"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("bits"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    // bit_count(a ^ b) is a codegen'd built-in — keeps the verify step
    // inside whole-stage codegen (no UDF/BatchEval node in the plan)
    a.join(b, Seq("band", "bits"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("int").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Source-overlap matrix: pairwise shingle containment/Jaccard between
    * crawl sources — the corpus-comparison profile mixture design runs
    * before weighting sources ("how much of B is already in A?").
    *
    * Shape: one distinct over (source, md5(shingle)) — shingle TEXT never
    * shuffles, only its 16-byte digest (the q13 discipline) — then a
    * digest self-join whose fan-out per digest is bounded by the number of
    * SOURCES sharing it (sources are dozens, never corpus-scale), and a
    * |sources|²-row aggregate. All ratios are integral basis points via
    * integer floor-div, so the DuckDB replay compares exactly.
    *
    * Output, one row per unordered source pair (src_a < src_b) that shares
    * at least one shingle: (src_a, src_b, n_common, n_a, n_b, jaccard_bp,
    * containment_a_bp = share of A's shingles present in B,
    * containment_b_bp vice versa). */
  def sourceOverlapMatrix(docs: DataFrame, shingleN: Int = 3): DataFrame = {
    val sh = docs
      .select(col("source"), tokens(col("text")).as("toks"))
      .select(col("source"), explode(shinglesOf(col("toks"), shingleN)).as("g"))
      .select(col("source"), md5(col("g")).as("h"))
      .distinct()
    val counts = sh.groupBy("source").agg(count(lit(1)).as("n"))
    val pairs = sh.select(col("source").as("src_a"), col("h"))
      .join(sh.select(col("source").as("src_b"), col("h")), Seq("h"))
      .where(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(broadcast(counts.select(col("source").as("src_a"), col("n").as("n_a"))), "src_a")
      .join(broadcast(counts.select(col("source").as("src_b"), col("n").as("n_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_common"), col("n_a"), col("n_b"),
        expr("n_common * 10000 div (n_a + n_b - n_common)").as("jaccard_bp"),
        expr("n_common * 10000 div n_a").as("containment_a_bp"),
        expr("n_common * 10000 div n_b").as("containment_b_bp"))
  }

  // ------------------------------------------------ bloom membership gate

  /** Corpus content-membership sketch: a bloom filter over the 64-bit fold
    * of every document's content fingerprint, built by Spark's own
    * `BloomFilterAggregate` (the engine the runtime join filters of x47
    * use) and returned as its serialized bytes — the PERSISTABLE artifact
    * (hundreds of KB for millions of docs at the default sizing, i.e.
    * ~1 byte per corpus document) an ingest gate keeps next to the corpus
    * so a new batch can be membership-probed WITHOUT touching the corpus.
    *
    * `expectedItems` sizes the filter (Spark's default FPP 3% at that
    * cardinality); pass the corpus document count or a safe upper bound. */
  def contentBloom(corpus: DataFrame, expectedItems: Long): Array[Byte] = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    require(expectedItems > 0, s"expectedItems must be positive: $expectedItems")
    val agg = new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(
        expression(xxhash64(md5(lower(trim(col("text")))))), expectedItems)
      .toAggregateExpression()
    corpus.agg(column(agg).as("bf")).head().getAs[Array[Byte]](0)
  }

  /** Bloom-gated incremental exact dedup — the two-tier membership check a
    * continuously-ingesting corpus runs per batch: every delta document is
    * probed MAP-SIDE against the persisted corpus bloom
    * ([[contentBloom]]; `BloomFilterMightContain` over a literal, fully
    * codegen'd, no join, no shuffle), and only the candidates that pass —
    * true duplicates plus the filter's few false positives — are
    * exact-verified against the corpus fingerprints with one BROADCAST
    * left-semi join (candidate side broadcast; the corpus scan streams
    * map-side, nothing corpus-sized shuffles). No false negatives exist by
    * bloom construction, and false positives die in the verify, so the
    * output is EXACTLY the plain delta⋉corpus semi join — that equivalence
    * is the oracle contract (the q55 pattern at the exact-dup tier).
    *
    * Output: one verdict row per delta document (doc_id, fp, is_dup).
    * Per-ingest cost: one map pass over the delta + one corpus scan feeding
    * the broadcast semi join; with a persisted fingerprint INDEX table the
    * verify side shrinks to that index, and a batch whose candidates are
    * empty does zero corpus work. */
  def bloomDedupGate(corpus: DataFrame, delta: DataFrame,
      expectedItems: Long = 1L << 22): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val fp = md5(lower(trim(col("text"))))
    val bloomBytes = contentBloom(corpus, expectedItems)
    val mightContain = column(
      new org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal
          .create(bloomBytes, org.apache.spark.sql.types.BinaryType),
        expression(xxhash64(col("fp")))))
    val deltaFp = delta.select(col("doc_id"), fp.as("fp"))
    val candidates = deltaFp.filter(mightContain).select("fp").distinct()
    val confirmed = corpus.select(fp.as("fp"))
      .join(broadcast(candidates), Seq("fp"), "left_semi")
      .distinct()
      .withColumn("is_dup", lit(true))
    deltaFp
      .join(broadcast(confirmed), Seq("fp"), "left")
      .select(col("doc_id"), col("fp"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"))
  }
}
