package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.MonthFinder
import graft.ops.{Dedup, Similarity, TextAnalysis}
import graft.streaming.Events

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (plus the training-data
  * pipeline operators) is exposed as a named query over the driver's parquet
  * test tables, paired with an ANSI-SQL oracle that DuckDB evaluates on the
  * same tables. Column names are aligned on both sides (the driver's compare
  * sorts columns by name before hashing). All floating-point-derived outputs
  * are materialized as integers (cents / basis points / microunits) computed
  * with order-deterministic folds so the two engines agree bit-for-bit.
  *
  * Every query carries an oracle — including the char-fold hash families
  * (MinHash-LSH, SimHash, fingerprint64), whose 64-bit wraparound
  * multiplies DuckDB replays in HUGEINT with an explicit mod-2^64 at each
  * fold step (then a two's-complement cast back to BIGINT). The
  * hyperplane-LSH oracles (q18/q19) replicate the plane sign tests from
  * the same constants; the MinHash oracle (q15) inlines the (a,b) affine
  * params from [[graft.ops.Dedup.hashParams]] so oracle and engine cannot
  * drift. ScalaTest additionally pins the statistical semantics (recall vs
  * brute force, etc.).
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    tableKeys.get(name) match {
      case Some(key) => spread(df, s"$dir/$name.parquet", key)
      case None => df
    }
  }

  /** Unspread read for queries that consume only ids/stats columns
    * (doc_id, source, n_chars) and no per-row text compute — there the
    * spread exchange buys nothing and just adds stage latency (measured
    * +0.3 s on the iterative q95/q96/q97, whose edge unions and count
    * re-evaluate the scan several times). */
  private def tIds(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Hash-spread key for the tables whose consumers are COMPUTE-heavy per
    * row — the only place the spread exchange pays for itself; that is
    * `documents` (regex tokenize / shingle / rolling-hash chains cost
    * 100s of µs per row). The relational tables stay unspread: their
    * consumers are cheap column aggregations where an exchange of the
    * whole table costs more than the saved parallel compute (measured:
    * q01 0.70→1.36 s, q08 0.72→1.77 s spread vs unspread; q56 1.98→1.18,
    * q61 2.14→1.13, q14 1.13→0.50 the other way). `embeddings` stays
    * unspread too: its iterative consumers (q23 IVF, q57 SemDeDup) re-run
    * the scan per k-means round and the repeated exchange cost measured
    * 2-3x slower (q23 0.6-0.8→1.68 s, q57 1.1-1.4→2.37 s). Keys are
    * unique, so the hash spreads uniformly. */
  private val tableKeys = Map("documents" -> "doc_id")

  /** Input-spread for small single-file tables (guide §2.5's "one
    * unsplittable input file" fix): a parquet file below one scan split
    * yields a ONE-TASK scan stage, so every compute-heavy projection over
    * it (tokenize, shingle, hash, decode) runs on a single core no matter
    * how many the session has. When the table is small enough that an
    * exchange of its raw rows is trivially cheap (< `spreadMaxBytes`,
    * default 64 MB — far under one production scan split) AND the scan
    * cannot fill the session's cores, pay one round-robin repartition so
    * the expensive map work parallelizes. Scale-adaptive by construction:
    * a production-sized input arrives in many splits and is NEVER
    * re-shuffled (the condition can only fire for sub-split inputs);
    * `SPARK_GRAFT_SPREAD_MAX_BYTES=0` disables outright. Results are
    * partition-assignment-independent for every declared query — the
    * 183-query oracle sweep is the gate.
    *
    * HASH repartition on the table's unique key, not round-robin: a
    * keyless `repartition(n)` first pays a per-partition sort of ALL
    * columns (`spark.sql.execution.sortBeforeRepartition`, the
    * retry-determinism guard) — measured as a 2-4x summed-task-time blowup
    * on the wide text tables; hashing one scalar key is deterministic
    * under retries for free and spreads uniformly since the key is
    * unique. */
  private def spread(df: DataFrame, path: String, key: String): DataFrame = {
    val spark = df.sparkSession
    def sizeOf(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.map(sizeOf).sum).getOrElse(0L)
      else f.length()
    val bytes = sizeOf(new java.io.File(path))
    val cores = spark.sparkContext.defaultParallelism
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    // system property first (lets the plan-pin suite audit the AT-SCALE
    // plan, where the size condition makes spread provably absent), then
    // the deployment env knob; a malformed value keeps the default rather
    // than failing every table read
    val spreadMax = sys.props.get("graft.spread.max.bytes")
      .orElse(sys.env.get("SPARK_GRAFT_SPREAD_MAX_BYTES"))
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .getOrElse(64L << 20)
    if (bytes >= 4096 && bytes <= spreadMax && bytes < cores * maxSplit)
      df.repartition(cores, col(key))
    else df
  }

  /** Flagship: the end-to-end extraction pipeline (detect -> merge -> corpus
    * -> pivot) over the deterministic fixture corpus. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val docs = spark.createDataset(graft.layout.FixtureCorpus.fixtureDocs)
    graft.pipeline.ExtractionPipeline.run(spark, docs).pivot
  }

  // ====================================================================
  // queries
  // ====================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val relational: Map[String, (SparkSession, String) => DataFrame] = Map(
      // ---- scans/filters/aggregation (TPC-H Q1 shape)
      "q01_pricing_summary" -> ((s, d) => {
        t(s, d, "lineitem")
          .filter(col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(floor(col("l_quantity") * 100).cast("long")).as("sum_qty_cents"),
            sum(floor(col("l_extendedprice") * 100).cast("long")).as("sum_base_cents"),
            sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
              .cast("long")).as("sum_disc_cents"),
            count(lit(1)).as("n_rows"),
            countDistinct(col("l_orderkey")).as("n_orders"))
      }),
      // ---- order-by + limit (top-k)
      "q02_top_orders" -> ((s, d) => {
        t(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            floor(col("o_totalprice") * 100).cast("long").as("price_cents"))
          .orderBy(col("price_cents").desc, col("o_orderkey"))
          .limit(10)
      }),
      // ---- multi-join with broadcast dimension (TPC-H Q5 shape)
      "q03_revenue_by_nation" -> ((s, d) => {
        val li = t(s, d, "lineitem")
        val o = t(s, d, "orders")
        val c = t(s, d, "customer")
        val n = t(s, d, "nation")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(
            sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
              .cast("long")).as("revenue_cents"),
            count(lit(1)).as("n_items"))
      }),
      // ---- semi-join (EXISTS)
      "q04_priority_with_returns" -> ((s, d) => {
        val o = t(s, d, "orders")
        val li = t(s, d, "lineitem").filter(col("l_returnflag") === "R")
        o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"))
      }),
      // ---- anti-join (NOT EXISTS)
      "q05_customers_without_orders" -> ((s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_customers"))
      }),
      // ---- window: top-3 orders per customer
      "q06_top3_orders_per_customer" -> ((s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, d, "orders")
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("rn"))
      }),
      // ---- same top-3, but via the bounded-heap typed Aggregator
      //      (ops.TopK): two-phase ObjectHashAggregate, the shuffle carries
      //      at most k entries per group per map task instead of every row
      "q32_topk_aggregator" -> ((s, d) =>
        graft.ops.TopK.topKByValue(t(s, d, "orders"),
          "o_custkey", "o_totalprice", "o_orderkey", k = 3)),
      // ---- rollup (grouping sets)
      "q07_rollup_status_priority" -> ((s, d) => {
        t(s, d, "orders")
          .rollup(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(floor(col("o_totalprice") * 100).cast("long")).as("total_cents"))
      }),
      // ---- exact distinct aggregation
      "q08_supplier_part_fanout" -> ((s, d) => {
        t(s, d, "lineitem")
          .groupBy(col("l_suppkey"))
          .agg(countDistinct(col("l_partkey")).as("n_parts"),
            count(lit(1)).as("n_items"))
      }),
      // ---- gap-based sessionization (window lag + running sum)
      "q09_event_sessions" -> ((s, d) =>
        Events.sessionizeBatch(t(s, d, "events"))),
      // ---- the Structured Streaming sessionization (flatMapGroupsWithState
      //      with EVENT-TIME timeouts) replayed over the finite events
      //      table; closed sessions equal the batch shadow -> q09's oracle
      "x15_stream_sessions" -> ((s, d) => {
        import s.implicits._
        Events.replaySessions(s, t(s, d, "events").as[Events.Event])
      }),
      // ---- tumbling time-window aggregation (batch shadow of streaming)
      "q10_events_hourly" -> ((s, d) =>
        Events.hourlyCounts(t(s, d, "events"))),
      // ---- the ACTUAL Structured Streaming variant (watermark + windowed
      //      agg, append mode), replayed over the finite events table; on a
      //      finite input its closed windows must equal the batch shadow,
      //      so it shares q10's SQL oracle
      "x13_stream_hourly" -> ((s, d) => {
        import s.implicits._
        Events.replayHourly(s, t(s, d, "events").as[Events.Event])
      }),
      // ---- stream-stream watermarked interval join (the streaming analog
      //      of q27's range join): purchase x same-user clicks within 2h,
      //      state bounded by watermark + time-range eviction
      "x24_stream_attribution" -> ((s, d) => {
        import s.implicits._
        // a user subset keeps the single-micro-batch replay's join state
        // (and the bench bill) bounded; semantics are unchanged — the
        // oracle carries the same predicate
        Events.replayAttribution(s,
          t(s, d, "events").filter(col("user_id") < 30).as[Events.Event])
      }),
      // ---- as-of join (time-series enrichment; no Spark built-in):
      //      each purchase gets the user's most recent click at-or-before
      //      it. The oracle is DuckDB's NATIVE ASOF LEFT JOIN — an
      //      independent implementation of the same semantics.
      "q24_asof_join" -> ((s, d) => {
        val ev = t(s, d, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(floor(col("value") * 100).cast("long")).as("click_cents"))
          .select(col("user_id"), col("ts"), col("ts").as("click_ts"),
            col("click_cents"))
        graft.ops.AsOf.asofJoin(purchases, clicks, key = "user_id", ts = "ts",
          leftCols = Seq("purchase_id"), rightCols = Seq("click_ts", "click_cents"))
      }),
      // ---- the SAME as-of join through the full custom-operator path:
      //      logical AsOfJoinPlan + planner Strategy + AsOfJoinExec
      //      (per-partition linear merge, O(1) buffered rows per task) —
      //      must hash-match q24's window-carry composition via the shared
      //      DuckDB ASOF oracle
      "q50_asof_physical" -> ((s, d) => {
        val ev = t(s, d, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(floor(col("value") * 100).cast("long")).as("click_cents"))
          .select(col("user_id"), col("ts"), col("ts").as("click_ts"),
            col("click_cents"))
        graft.plans.PhysicalAsOf.asofJoin(purchases, clicks,
          key = "user_id", ts = "ts")
      }),
      // ---- set operations (INTERSECT / EXCEPT)
      "q25_set_ops" -> ((s, d) => {
        val sn = t(s, d, "supplier").select(col("s_nationkey").as("nationkey"))
        val cn = t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        sn.intersect(cn).withColumn("which", lit("both"))
          .unionByName(cn.except(sn).withColumn("which", lit("customer_only")))
          .unionByName(sn.except(cn).withColumn("which", lit("supplier_only")))
      }),
      // ---- CUBE grouping sets (q07 covers ROLLUP)
      "q26_cube" -> ((s, d) =>
        t(s, d, "orders")
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"))),
      // ---- range (interval) join via bin bucketing (no equality key in
      //      the predicate — naively a nested-loop join; the operator
      //      manufactures a bin equi-key instead): post-purchase click
      //      attribution, clicks inside each high-value purchase's 2h window
      "q27_range_join" -> ((s, d) => {
        val ev = t(s, d, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), unix_timestamp(col("ts")).as("x"),
            floor(col("value") * 100).cast("long").as("cents"))
        val windows = ev
          .filter(col("event_type") === "purchase" && col("value") >= 200)
          .select(col("event_id").as("purchase_id"),
            unix_timestamp(col("ts")).as("lo"))
          .withColumn("hi", col("lo") + 7199L)
        graft.ops.RangeJoin
          .pointsInIntervals(clicks, windows, "x", "lo", "hi", binWidth = 7200L)
          .groupBy("purchase_id")
          .agg(count(lit(1)).as("n_clicks"),
            countDistinct(col("user_id")).as("n_users"),
            sum(col("cents")).as("click_cents"))
      }),
      // ---- same semantics as q27, but written as a PLAIN inequality join:
      //      the Catalyst optimizer rule (plans.RangeJoinRewrite, the
      //      SparkSessionExtensions injection) manufactures the bin
      //      equi-key — no nested loop even though the query never heard
      //      of RangeJoin
      "q28_rangejoin_rule" -> ((s, d) => {
        val ev = t(s, d, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), unix_timestamp(col("ts")).as("x"),
            floor(col("value") * 100).cast("long").as("cents"))
        val windows = ev
          .filter(col("event_type") === "purchase" && col("value") >= 200)
          .select(col("event_id").as("purchase_id"),
            unix_timestamp(col("ts")).as("lo"))
          .withColumn("hi", col("lo") + 7199L)
        clicks.join(windows, col("x") >= col("lo") && col("x") <= col("hi"))
          .groupBy("purchase_id")
          .agg(count(lit(1)).as("n_clicks"),
            countDistinct(col("user_id")).as("n_users"),
            sum(col("cents")).as("click_cents"))
      }),
      // ---- salted skew join (the 100 TB hot-key defense; testdata is
      //      uniform, so this pins SEMANTICS — the skew spread itself is
      //      pinned by SkewJoinSpec's 90%-hot-key histogram)
      "q29_salted_join" -> ((s, d) => {
        val li = t(s, d, "lineitem")
        val p = t(s, d, "part")
          .select(col("p_partkey").as("l_partkey"), col("p_type"))
        graft.ops.SkewJoin.saltedJoin(li, p, "l_partkey", saltFactor = 8)
          .groupBy("p_type")
          .agg(count(lit(1)).as("n_items"),
            sum(floor(col("l_extendedprice") * 100).cast("long")).as("revenue_cents"))
      }),
      // ---- relational PIVOT (wide aggregation; the reference's step_5
      //      "pivot" is a column derivation, so this is the engine-only
      //      genuine PIVOT — explicit value list keeps the plan one-pass,
      //      no values-discovery job)
      "q30_pivot_wide" -> ((s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .pivot("l_linestatus", Seq("F", "O"))
          .agg(sum(floor(col("l_quantity") * 100).cast("long")))
          .select(col("l_returnflag"), col("F").as("qty_f_cents"),
            col("O").as("qty_o_cents"))),
      // ---- distinctive terms per document (keyword extraction): the 3
      //      rarest corpus terms in each doc, ranked by document frequency.
      //      Integer/string sort keys only — no float idf — so the result
      //      is bit-deterministic cross-engine. Two shuffles total: the
      //      doc-frequency agg and the rank window; term join broadcasts
      //      when the vocabulary is small, hash-shuffles when it is not.
      "q31_distinctive_terms" -> ((s, d) => {
        val docTerms = t(s, d, "documents")
          .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
          .select(col("doc_id"), explode(array_distinct(col("toks"))).as("term"))
        // doc_freq as a window count (not a groupBy + self-join): ONE scan
        // of documents and exactly two shuffles — by term, then by doc_id
        val rank = Window.partitionBy("doc_id")
          .orderBy(col("doc_freq").asc, col("term").asc)
        docTerms
          .withColumn("doc_freq", count(lit(1)).over(Window.partitionBy("term")))
          .withColumn("rank", row_number().over(rank))
          .where(col("rank") <= 3)
          .select(col("doc_id"), col("rank"), col("term"), col("doc_freq"))
      }),
      // ---- hive-style partitioned sink + partition-pruned scan (the
      //      IO-layer filter: the skipped event types' files are never
      //      opened — PartitionedSpec pins the selected/total directory
      //      counts; this query pins the round-trip values)
      "x22_partitioned_scan" -> ((s, d) => {
        // per-session path: a fixed name could collide with a concurrent
        // bench/verify process writing the same table
        val path = graft.io.Scratch.dir("graft-part-events").toString
        graft.io.Partitioned.writePartitioned(t(s, d, "events"), path, "event_type")
        graft.io.Partitioned.readPartitioned(s, path)
          .filter(col("event_type") === "purchase")
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_purchases"),
            sum(floor(col("value") * 100).cast("long")).as("cents"))
      }),
      // ---- sequence packing (concat-then-chunk training layout): global
      //      stream offsets via the scalable two-pass prefix sum — no
      //      SinglePartition window anywhere in the plan
      "q33_sequence_packing" -> ((s, d) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"),
            size(Dedup.tokens(col("text"))).cast("long").as("n_tokens"))
        graft.ops.Packing.packSequences(docs, "doc_id", "n_tokens", budget = 4096)
      }),
      // ---- the packed layout split into per-(doc, sequence) segments —
      //      boundary-straddling docs included, the step q33 defers to
      //      the trainer; budget 64 so most docs straddle at least once
      "q62_pack_segments" -> ((s, d) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"),
            size(Dedup.tokens(col("text"))).cast("long").as("n_tokens"))
        graft.ops.Packing.packSegments(docs, "doc_id", "n_tokens", budget = 64)
      }),
      // ---- the curation funnel: the training-data ops COMPOSED the way a
      //      real corpus build runs them — language gate -> quality gate ->
      //      exact-dedup keeper — with per-stage survivor counts (the
      //      numbers a pipeline owner actually monitors)
      "q34_curation_funnel" -> ((s, d) => {
        val docs = t(s, d, "documents")
        val prof = TextAnalysis.profile(docs)
          .select("doc_id", "lang_pred", "quality_bp")
        val langOk = prof.filter(col("lang_pred") === "en")
        val qualOk = langOk.filter(col("quality_bp") >= 6000)
        val surviving = docs
          .join(qualOk.select("doc_id"), Seq("doc_id"), "left_semi")
        val keepers = Dedup.exactDedup(surviving)
        def stage(name: String, df: DataFrame) =
          df.agg(count(lit(1)).as("n_docs")).withColumn("stage", lit(name))
        stage("s0_total", docs)
          .unionByName(stage("s1_lang_en", langOk))
          .unionByName(stage("s2_quality", qualOk))
          .unionByName(stage("s3_dedup_keeper", keepers))
          .select("stage", "n_docs")
      }),
      // ---- deterministic train/val split: hash-bucket the doc id with the
      //      engine's fingerprint (salted), so the assignment is stable
      //      across runs, machines, and engine versions — resampling never
      //      leaks val docs into train. No rand(): reproducibility IS the
      //      operator.
      "q35_train_val_split" -> ((s, d) =>
        tIds(s, d, "documents")
          .withColumn("bucket",
            pmod(TextAnalysis.fingerprint64(
              concat(col("doc_id").cast("string"), lit(":v1"))), lit(100L)))
          .withColumn("split",
            when(col("bucket") < 90, "train").otherwise("val"))
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))),
      // ---- small-files compaction on the committed sink: 4 appends of 4
      //      files each -> 16 small files -> 2 compacted ones, rows intact,
      //      old dir swapped out atomically (Checkpointing.compact)
      "x25_compaction" -> ((s, d) => {
        import s.implicits._
        val dir = graft.io.Scratch
          .dir("graft-x25").toString + "/docs"
        val docs = t(s, d, "documents").select("doc_id", "n_chars")
        (0 until 4).foreach { i =>
          docs.filter(pmod(col("doc_id"), lit(4)) === i)
            .repartition(4)
            .write.mode("append").parquet(dir)
        }
        def files = Option(new java.io.File(dir).listFiles())
          .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
        val before = files
        val (b2, after, rows) =
          graft.pipeline.Checkpointing.compact(s, dir, partitions = 2, "x25")
        val rereadRows = s.read.parquet(dir).count()
        val rereadSum = s.read.parquet(dir).agg(sum("n_chars")).as[Long].head()
        val origSum = docs.agg(sum("n_chars")).as[Long].head()
        Seq(
          ("files_before", before.toLong),
          ("files_after", after.toLong),
          ("rows_compacted", rows),
          ("rows_reread", rereadRows),
          ("chars_preserved", if (rereadSum == origSum) 1L else 0L),
          ("counted_same_dir", if (b2 == before) 1L else 0L))
          .toDF("metric", "n")
      }),
      // ---- parquet schema evolution on an append sink: batch 2 adds a
      //      column; mergeSchema reads old rows with NULLs — the
      //      add-a-column migration every long-lived table hits
      "x26_schema_evolution" -> ((s, d) => {
        val dir = graft.io.Scratch
          .dir("graft-x26").toString + "/events"
        val ev = t(s, d, "events")
        ev.filter(pmod(col("event_id"), lit(2)) === 0)
          .select("event_id", "user_id")
          .write.mode("append").parquet(dir)
        ev.filter(pmod(col("event_id"), lit(2)) === 1)
          .select("event_id", "user_id", "event_type")
          .write.mode("append").parquet(dir)
        s.read.option("mergeSchema", "true").parquet(dir)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), countDistinct("user_id").as("n_users"))
      }),
      // ---- observed metrics (the O8 progress/metrics analog done the
      //      Spark way): Observation attaches aggregates to the RUNNING
      //      dedup job — input rows and bytes are measured in the same
      //      pass, no second scan — and the values are exact, so they
      //      carry a SQL oracle like any other output
      "x27_observed_metrics" -> ((s, d) => {
        import s.implicits._
        val obs = org.apache.spark.sql.Observation()
        val docs = t(s, d, "documents")
          .observe(obs, count(lit(1)).as("rows_seen"),
            sum(col("n_chars")).as("chars_seen"))
        val dupGroups = Dedup.exactGroups(docs).count()
        Seq(
          ("rows_seen", obs.get("rows_seen").asInstanceOf[Long]),
          ("chars_seen", obs.get("chars_seen").asInstanceOf[Long]),
          ("dup_groups", dupGroups)).toDF("metric", "n")
      }),
      // ---- HLL approx distinct next to the exact count: the sketch is
      //      order-insensitive and deterministic for a fixed input, so the
      //      within-2% flag is a stable, oracle-checkable output even
      //      though the estimate itself has no cross-engine oracle. At
      //      100 TB the sketch is the affordable default (constant memory
      //      per group vs the exact count's distinct pre-aggregation).
      "q36_approx_distinct" -> ((s, d) => {
        t(s, d, "events")
          .groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("n_exact"),
            approx_count_distinct(col("user_id"), rsd = 0.02).as("n_approx"))
          .select(col("event_type"), col("n_exact"),
            (abs(col("n_approx") - col("n_exact")) * 50 <= col("n_exact"))
              .cast("int").as("approx_within_2pct"))
      }),
      // ---- HLL sketch PERSISTENCE + MERGE (q36's sketch as a mergeable
      //      artifact): per-day DataSketches HLL sketches of user_id,
      //      union-aggregated to the corpus total WITHOUT rescanning —
      //      the incremental-cardinality shape (sketch each day/shard
      //      once, store bytes, merge on demand). Register-wise max
      //      merge is exact: the merged estimate must EQUAL the
      //      single-pass estimate bit-for-bit (merge_consistent=1, part
      //      of the compared output), and land within 3% of exact.
      "q54_hll_union" -> ((s, d) => {
        import s.implicits._
        val ev = t(s, d, "events")
        val perDay = ev.groupBy(to_date(col("ts")).as("day"))
          .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
        val merged = perDay
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk, true))"))
          .head().getLong(0)
        val single = ev
          .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))"))
          .head().getLong(0)
        val exact = ev.agg(countDistinct(col("user_id"))).head().getLong(0)
        Seq((exact,
          if ((merged - exact).abs * 100 <= 3 * exact) 1L else 0L,
          if (merged == single) 1L else 0L))
          .toDF("exact_users", "sketch_within_3pct", "merge_consistent")
      }),
      // ---- describe() stats incl. exact median (C11)
      "q21_event_value_stats" -> ((s, d) =>
        t(s, d, "events")
          .withColumn("cents", floor(col("value") * 100).cast("long"))
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            min("cents").as("min_cents"),
            max("cents").as("max_cents"),
            floor(avg("cents")).cast("long").as("avg_cents_floor"),
            (expr("percentile(cents, 0.5)") * 2).cast("long").as("median_cents_x2"))),
      // ---- per-entity merge: min/max + order-normalized collected list (C14)
      "q22_user_activity_merge" -> ((s, d) =>
        t(s, d, "events")
          .groupBy(col("user_id"))
          .agg(
            count(lit(1)).as("n_events"),
            min("ts").as("first_seen"),
            max("ts").as("last_seen"),
            array_join(sort_array(collect_list(col("event_type"))), ",").as("types"))))

    val text: Map[String, (SparkSession, String) => DataFrame] = Map(
      // ---- publish-month extraction (P9) over the documents table
      "q11_publish_month" -> ((s, d) =>
        t(s, d, "documents").select(col("doc_id"), monthColumn(col("text")).as("publish_month"))),
      // ---- token/quality text profile (expression-only, codegen'd)
      "q12_text_profile" -> ((s, d) => TextAnalysis.profile(t(s, d, "documents"))),
      // ---- exact dedup groups via md5 fingerprint
      "q13_exact_dup_groups" -> ((s, d) => Dedup.exactGroups(t(s, d, "documents"))),
      // ---- streaming exact dedup: the same aggregation as a stateful
      //      Structured Streaming query over a two-batch replay
      "x21_stream_dup_groups" -> ((s, d) => {
        import s.implicits._
        graft.streaming.DocDedup.replayDupGroups(s,
          t(s, d, "documents").select("doc_id", "text")
            .as[graft.streaming.DocDedup.Doc])
      }),
      // ---- streaming near-dup: the LSH index as streaming state — each
      //      pair surfaces in the micro-batch its later doc arrives; the
      //      verified union over the finite replay must equal q15 exactly
      "x51_stream_neardup" -> ((s, d) => {
        import s.implicits._
        graft.streaming.StreamNearDup.replayNearDupPairs(s,
          t(s, d, "documents").select("doc_id", "text")
            .as[graft.streaming.StreamNearDup.Doc].collect().toSeq,
          minJaccardBp = 2000L)
      }),
      // ---- live dedup-cluster manifest: the streaming pair stream folded
      //      into a standing labeling per micro-batch (foreachBatch +
      //      incrementalComponents over a versioned manifest table); the
      //      final manifest must equal the from-scratch closure over the
      //      full q15 pair graph
      "x55_stream_live_clusters" -> ((s, d) => {
        import s.implicits._
        val dir = graft.io.Scratch
          .dir("graft-x55-").toString
        graft.streaming.StreamNearDup.replayLiveClusters(s,
          t(s, d, "documents").select("doc_id", "text")
            .as[graft.streaming.StreamNearDup.Doc].collect().toSeq,
          dir, minJaccardBp = 2000L)
      }),
      // ---- n-gram Jaccard near-dup pairs on a cheap blocking key
      "q14_ngram_jaccard_pairs" -> ((s, d) =>
        Dedup.ngramJaccardPairs(t(s, d, "documents"), minJaccardBp = 2000L)),
      // ---- MinHash+LSH near-dup pairs (oracle replays the full chain:
      //      shingle char-fold hash, 32 affine mins, banded bucket folds)
      "q15_minhash_lsh_pairs" -> ((s, d) =>
        Dedup.minhashLshPairs(t(s, d, "documents"), minJaccardBp = 2000L)),
      // ---- incremental near-dup: the delta (doc_id % 7 == 3) probes the
      //      corpus LSH index map-side (index never shuffles, corpus never
      //      re-paired); must equal q15's full pair set restricted to
      //      pairs touching the delta
      "q55_incremental_neardup" -> ((s, d) => {
        val docs = t(s, d, "documents")
        Dedup.incrementalMinhashPairs(
          docs.filter(col("doc_id") % 7 =!= 3),
          docs.filter(col("doc_id") % 7 === 3),
          minJaccardBp = 2000L)
      }),
      // ---- BANDED SimHash near-dup candidate pairs (oracle rebuilds the
      //      64-bit signature from per-token char-fold hashes in HUGEINT
      //      and replays the SAME band predicate). At 4 bands the result
      //      is COMPLETE only for hamming <= 3; emitted hamming goes up to
      //      18 but pairs whose differing bits spread across all 4 bands
      //      are candidate-excluded by design — see the simhashPairs
      //      contract scaladoc + DedupSpec's completeness-boundary pin
      "q16_simhash_pairs" -> ((s, d) =>
        Dedup.simhashPairs(t(s, d, "documents"), maxHamming = 18)),
      // ---- EXHAUSTIVE SimHash: band count derived from maxHamming
      //      (8 bands for h=6, pigeonhole-complete), so the oracle is the
      //      brute-force all-pairs scan with NO band predicate — recall
      //      1.0 is part of the cross-engine contract, closing the q16
      //      candidate-semantics boundary
      "q60_simhash_exact" -> ((s, d) =>
        Dedup.simhashPairsExact(t(s, d, "documents"), maxHamming = 6)),
      // ---- cross-document duplicate substrings (hash-shuffle analog of
      //      suffix-array substring dedup): k-token windows fingerprinted
      //      map-side, cross-doc fingerprints marked, overlapping windows
      //      merged per doc via a lag window — no array ever shuffles
      "q56_dup_substrings" -> ((s, d) =>
        Dedup.dupSubstrings(t(s, d, "documents"), k = 8)),
      // ---- the ACT half of substring dedup: every cross-doc duplicated
      //      window scrubbed from every doc's text; only int position
      //      arrays shuffle, reconstruction is map-side against the
      //      original text
      "q61_dedup_scrub" -> ((s, d) =>
        Dedup.scrubDupSubstrings(t(s, d, "documents"), k = 8)),
      // ---- C4-style sentence-level exact dedup: non-overlapping 12-token
      //      units, each duplicated unit keeps exactly its FIRST corpus
      //      occurrence (globally smallest (doc_id, pos)); winner election
      //      is one shuffle on the unit fingerprint, reconstruction is
      //      map-side against the original text
      "q64_sentence_dedup" -> ((s, d) =>
        Dedup.sentenceDedup(t(s, d, "documents"), unitTokens = 12)),
      // ---- brute-force cosine top-k (exactness baseline)
      "q17_knn_bruteforce" -> ((s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.bruteKnn(emb, emb.filter(col("vec_id") < 20), k = 5)
      }),
      // ---- LSH-bucketed ANN; the DuckDB oracle replicates the hyperplane
      //      buckets exactly, so this is hash-checked, not rows-only
      "q18_knn_lsh" -> ((s, d) =>
        Similarity.hyperplaneLshKnn(t(s, d, "embeddings").filter(col("vec_id") < 200),
          k = 5, nBits = 6, nTables = 6)),
      // ---- embedding-cosine near-dup pairs: LSH candidate buckets + exact
      //      threshold re-rank (the 100TB path; the brute n^2/2 variant
      //      stays in OpsSpec as the recall baseline). Signature width
      //      adapts to corpus size so bucket count scales with the data;
      //      the oracle below hard-codes the sf0.01 width (500 rows -> 6).
      "q19_embedding_neardup" -> ((s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.cosineNearDupPairsLsh(emb, minSimMicro = 350000L,
          nBits = Similarity.adaptiveBits(emb.count()))
      }),
      // ---- custom codegen expression: rolling-hash fingerprint (oracle
      //      replays the byte fold in HUGEINT; also pinned in OpsSpec:207-227)
      "q20_fingerprint64" -> ((s, d) =>
        t(s, d, "documents").select(col("doc_id"),
          TextAnalysis.fingerprint64(col("text")).as("fp64"))),
      // ---- IVF-partitioned ANN (coarse k-means cells + probe + exact
      //      re-rank). The quantizer is deterministic by construction
      //      (micro-quantized long-sum updates), so the oracle replays the
      //      ENTIRE chain — centroid evolution included — in DuckDB.
      "q23_knn_ivf" -> ((s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.ivfKnn(emb, emb.filter(col("vec_id") < 20),
          k = 5, nLists = 16, nProbe = 4, iters = 2)
      }),
      // ---- SemDeDup: IVF cells bound the pair set (sum(cell²), not n²/2),
      //      exact cosine within cells, star-contraction components, keeper
      //      manifest per vector; oracle replays centroids + closure.
      //      Cell count tracks the corpus (adaptiveLists — the SemDeDup
      //      scaling knob), and the oracle replays the same count→lists
      //      rule in SQL, so the query is scale-robust like q19.
      "q57_semantic_dedup" -> ((s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.semanticDedup(emb,
          nLists = Similarity.adaptiveLists(emb.count()),
          iters = 2, minSimMicro = 400000L)
      }),
      // ---- bucketed co-located join: both sides written bucketed by the
      //      join key, so the sort-merge join needs ZERO shuffle exchanges
      //      (the write-once / join-free-forever layout for doc-keyed
      //      enrichment at scale). The exchange count is part of the
      //      driver-compared output — the scale claim is oracle-checked,
      //      not just asserted in a test.
      "x20_bucketed_join" -> ((s, d) => {
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
      }))

    val curation: Map[String, (SparkSession, String) => DataFrame] = Map(
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
      "q37_dup_clusters" -> ((s, d) =>
        graft.ops.Components.dupClusters(
          graft.ops.Dedup.ngramJaccardPairs(t(s, d, "documents"),
            minJaccardBp = 2000L),
          localSolveEdges = 0L)),
      // ---- the FULL keeper manifest: q37's clustering plus singleton
      //      rows for every pair-less doc (includeIsolatedFrom), running
      //      with DURABLE per-round checkpoints (executor-loss-safe star
      //      contraction) — the cluster-grade configuration driver-checked
      // ---- QUALITY-AWARE keeper: within each q37 near-dup cluster keep
      //      the LONGEST copy (ties -> lowest id) — the "keep the most
      //      complete variant" dedup policy, emitted as a per-doc decision
      //      manifest. The argmax key is one BIGINT (len·2^32 − id) so
      //      Spark's max_by and DuckDB's arg_max replay it bit-exactly.
      "q92_best_copy_keepers" -> ((s, d) => {
        val docs = t(s, d, "documents")
        graft.ops.Components.bestCopyKeepers(
          graft.ops.Dedup.ngramJaccardPairs(docs, minJaccardBp = 2000L),
          docs.select(col("doc_id"), length(col("text")).cast("long")))
      }),
      // ---- GENERIC 64-bit-signature near-dup exercised on a third
      //      modality (beyond q60's text SimHash and x60's image aHash):
      //      an audio-fingerprint-shaped sign signature folded from the
      //      embedding table's 64 dims (bit i = dim i positive). Bands
      //      derived pigeonhole-complete from maxHamming; the oracle
      //      recomputes the signature and brute-forces hamming, so the
      //      banding is recall-checked, not just rows-counted.
      "q93_signature_near_dup" -> ((s, d) => {
        val sigs = t(s, d, "embeddings").select(
          col("vec_id").as("doc_id"),
          expr("aggregate(transform(sequence(0, 63), i -> " +
            "IF(element_at(embedding, CAST(i + 1 AS INT)) > 0F, " +
            "shiftleft(CAST(1 AS BIGINT), CAST(i AS INT)), " +
            "CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, x) -> a | x)")
            .as("sig"))
        graft.ops.Dedup.signatureNearDupPairs(sigs, maxHamming = 15)
      }),
      // ---- q93's INGEST shape: pairs a delta batch introduces against a
      //      standing signature corpus — the persisted band index probed
      //      by broadcast delta rows, corpus never re-paired (the
      //      q55/q71 O(delta) discipline on the 64-bit-signature family).
      //      Oracle = the full brute-force restricted to delta-touching
      //      pairs, so the incremental path is equivalence-checked, not
      //      just counted
      "q94_incr_signature_near_dup" -> ((s, d) => {
        val sigs = t(s, d, "embeddings").select(
          col("vec_id").as("doc_id"),
          expr("aggregate(transform(sequence(0, 63), i -> " +
            "IF(element_at(embedding, CAST(i + 1 AS INT)) > 0F, " +
            "shiftleft(CAST(1 AS BIGINT), CAST(i AS INT)), " +
            "CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, x) -> a | x)")
            .as("sig"))
        graft.ops.Dedup.incrementalSignaturePairs(
          sigs.filter(col("doc_id") >= 300),
          sigs.filter(col("doc_id") < 300), maxHamming = 15)
      }),
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
      "q95_domain_rank" -> ((s, d) => {
        val docs = tIds(s, d, "documents").select(col("doc_id"))
        val n = docs.count()
        val edges = docs.select(col("doc_id").as("src"),
            ((col("doc_id") * col("doc_id") + 1L) % n).as("dst"))
          .unionByName(docs.select(col("doc_id").as("src"),
            ((col("doc_id") * 7L + 3L) % n).as("dst")))
        graft.ops.LinkGraph.domainRank(edges, iters = 3)
      }),
      // ---- q95's SEEDED form: topic-sensitive rank — teleport mass lands
      //      only on the vetted seed set (docs with id % 10 == 0), so
      //      authority flows strictly outward from seeds along links (the
      //      seed-quality-expansion signal a curation pipeline feeds its
      //      sampler). 269/500 sf0.01 nodes are >3 hops from every seed
      //      and rank exactly 0 — reachability is part of the contract
      "q96_seeded_rank" -> ((s, d) => {
        val docs = tIds(s, d, "documents").select(col("doc_id"))
        val n = docs.count()
        val edges = docs.select(col("doc_id").as("src"),
            ((col("doc_id") * col("doc_id") + 1L) % n).as("dst"))
          .unionByName(docs.select(col("doc_id").as("src"),
            ((col("doc_id") * 7L + 3L) % n).as("dst")))
        graft.ops.LinkGraph.domainRank(edges, iters = 3,
          seeds = Some(docs.filter(col("doc_id") % 10L === 0L)))
      }),
      // ---- the graph-signal-to-sampler composition: q95's rank over the
      //      20-node DOMAIN graph sets per-source quotas (∝ authority,
      //      integer DIV, floor at 1), q84's exact bottom-k-by-salted-hash
      //      fills them — authority-weighted corpus sampling, quotas
      //      spread 1..13 at sf0.01. Every stage integer/hash-exact, so
      //      the oracle replays rank, quota, and sample bit-for-bit
      "q97_rank_weighted_sample" -> ((s, d) => {
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
      "q53_dup_keepers" -> ((s, d) => {
        val ckpt = graft.io.Scratch
          .dir(s"graft-q53-${s.sparkContext.applicationId}")
        graft.ops.Components.dupClusters(
          graft.ops.Dedup.ngramJaccardPairs(t(s, d, "documents"),
            minJaccardBp = 2000L),
          includeIsolatedFrom = Some(t(s, d, "documents").select(col("doc_id"))),
          checkpointDir = Some(ckpt.toString))
      }),
      // ---- incremental clustering: fold a delta's near-dup pairs into a
      //      STANDING component labeling without re-clustering the corpus —
      //      the daily-ingest composition (q55 finds the delta's pairs
      //      without re-pairing the corpus; this folds them in without
      //      re-labeling it). prior = components over corpus-only (doc_id %
      //      7 != 3) minhash pairs; delta pairs = q55's output; result must
      //      equal a FROM-SCRATCH closure over the full q15 pair set — the
      //      oracle recomputes exactly that in DuckDB.
      "q58_incremental_components" -> ((s, d) => {
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
      // ---- vocabulary coverage: minimal frequency-ranked vocab prefix
      //      covering 95% of token instances — the global cumulative sum
      //      runs on Packing's two-pass distributed prefix scan, never a
      //      SinglePartition window
      "q59_vocab_coverage" -> ((s, d) =>
        TextAnalysis.vocabCoverage(t(s, d, "documents"), coverageBp = 9500L)),
      // ---- Gopher-style word-repetition quality metrics, expression-only
      //      (map-side inside the scan stage; integral basis points)
      "q38_repetition_profile" -> ((s, d) =>
        graft.ops.Curation.repetitionProfile(t(s, d, "documents"))
          .withColumn("keep", col("keep").cast("int"))),
      // ---- PII redaction over a deterministic synthetic payload (the
      //      test tables carry no PII, so the query constructs one per doc
      //      from its id; the regexp chain is codegen'd, count and replace
      //      share the same patterns)
      "q39_pii_scrub" -> ((s, d) => {
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
      // ---- BM25-family keyword search: postings built only for the query
      //      terms (token filter BEFORE explode), df/corpus stats
      //      broadcast, top-k via TakeOrderedAndProject — no global sort
      "q40_bm25_search" -> ((s, d) =>
        graft.ops.Search.bm25TopK(t(s, d, "documents"),
          Seq("join", "stream", "window"), k = 20)),
      // ---- deterministic stratified sampling: salted hash buckets per
      //      stratum (downsample hot sources), aggregated to per-source
      //      survivor counts
      "q41_stratified_sample" -> ((s, d) =>
        graft.ops.Curation.stratifiedSample(tIds(s, d, "documents"),
            "source", "doc_id",
            rates = Map("src0" -> 20, "src1" -> 20, "src2" -> 50),
            defaultRate = 80, salt = ":strat1")
          .groupBy("source")
          .agg(max("sample_rate").as("sample_rate"),
            count(lit(1)).as("n_kept"),
            sum("n_chars").as("kept_chars"))),
      // ---- per-domain corpus caps: keep the top-10 largest docs per
      //      source via the k-bounded TopK aggregator (shuffle carries
      //      k*groups, not rows)
      "q42_domain_caps" -> ((s, d) =>
        graft.ops.TopK.topKByValueStr(
          tIds(s, d, "documents").select(col("source"), col("n_chars"), col("doc_id")),
          "source", "n_chars", "doc_id", k = 10)),
      // ---- token-budgeted mixture: per-source greedy prefix in doc_id
      //      order until the source's TOKEN budget is spent (budgets are
      //      floors — the crossing doc is kept); one stratum-partitioned
      //      window, append-stable under corpus growth
      "q63_token_budget_mix" -> ((s, d) =>
        graft.ops.Curation.tokenBudgetMix(
          t(s, d, "documents").select(col("doc_id"), col("source"),
            size(Dedup.tokens(col("text"))).cast("long").as("n_tokens")),
          "source", "doc_id", "n_tokens",
          budgets = Map("src0" -> 500L, "src1" -> 900L),
          defaultBudget = 700L)),
      // ---- corpus build v2: the session-2 operators composed into the
      //      full training-data pipeline — unicode clean (map-side) ->
      //      sentence-level exact dedup -> bigram-LM fluency gate ->
      //      per-source token budgets -> deterministic epoch shuffle.
      //      Every stage is one of q64/q65/q66/q63/q67; the oracle chains
      //      the same SQL pieces end to end
      "q72_corpus_build2" -> ((s, d) => {
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
      // ---- incremental sentence dedup: the O(delta) ingest composition
      //      of q64 — the corpus contributes distinct unit hashes only
      //      (the standing index), the delta elects within itself, corpus
      //      ownership wins on collision (temporal precedence)
      "q71_incr_sentence_dedup" -> ((s, d) => {
        val docs = t(s, d, "documents")
        Dedup.incrementalSentenceDedup(
          docs.filter(col("doc_id") % 7 =!= 3),
          docs.filter(col("doc_id") % 7 === 3), unitTokens = 12)
      }),
      // ---- ingest-batch corpus drift: per-batch vocabulary novelty
      //      (exact min-batch election over the distinct (batch, token)
      //      set) + token-length drift; word-count-shaped scalar shuffle,
      //      ratios in integral microunits — see ops/Drift.scala
      "q73_vocab_drift" -> ((s, d) =>
        graft.ops.Drift.vocabDrift(t(s, d, "documents"), nBatches = 4)),
      // ---- n-gram cross-corpus decontamination (GPT-3 appendix-C shape):
      //      eval docs (doc_id % 5 == 0) marked wherever an 8-gram
      //      collides with the train split; both sides reduce to 8-byte
      //      fingerprints in their scan projections
      "q70_ngram_decontam" -> ((s, d) => {
        val docs = t(s, d, "documents")
        Dedup.crossContamination(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0), k = 8)
      }),
      // ---- BPE merge learning (tokenizer training): 8 rounds of
      //      most-frequent-adjacent-pair election + greedy merge over the
      //      marker-encoded vocabulary; one corpus-scale word count, then
      //      vocab-bounded shuffles and a 1-row argmax per round
      "q68_bpe_merges" -> ((s, d) =>
        graft.ops.Bpe.learnMerges(t(s, d, "documents"), nMerges = 8)),
      // ---- BPE tokenize (the apply half of q68): learned merges inlined
      //      as an 8-deep literal replace chain, one map-side projection
      //      over the corpus; per-doc BPE token counts + compression
      "q69_bpe_tokenize" -> ((s, d) =>
        graft.ops.Bpe.bpeTokenProfile(t(s, d, "documents"), nMerges = 8)),
      // ---- CCNet-shaped LM fluency: bigram LM estimated from the corpus,
      //      every doc scored by avg conditional probability in integral
      //      microunits; docs pre-aggregate to distinct (doc, bigram)
      //      before the LM join — see TextAnalysis.lmFluency
      "q66_lm_fluency" -> ((s, d) =>
        TextAnalysis.lmFluency(t(s, d, "documents"))),
      // ---- q66's real FLOAT log-perplexity, hash-exact via guarded
      //      quantization (1e-4-nat floor + 1e-3-quanta guard band): the
      //      DuckDB oracle recomputes Σ k·ln(c12/c1)/nb with ITS libm and
      //      must land on the same quantized value wherever the guard
      //      admits one — a genuine cross-engine float check, not a
      //      trusted flag
      "q66b_lm_logprob" -> ((s, d) =>
        TextAnalysis.lmLogProb(t(s, d, "documents"))),
      // ---- unicode cleaning: NFC canonical composition (native codegen
      //      expression — Spark has no built-in normalizer), control-char
      //      strip, whitespace collapse. The corpus is ASCII, so the query
      //      wraps each doc in a deterministic payload exercising a
      //      combining sequence (e+U+0301), a bell control, and A+U+030A;
      //      the oracle replays the chain through DuckDB's nfc_normalize —
      //      two independent UAX #15 implementations must agree byte-wise
      "q65_unicode_clean" -> ((s, d) => {
        val payload = t(s, d, "documents").filter(col("doc_id") < 60)
          .select(col("doc_id"),
            concat(lit("Café du "), substring(col("text"), 1, 20),
              lit("  Å  fin")).as("payload"))
        graft.ops.Curation.unicodeClean(payload, "payload")
          .select("doc_id", "clean_text", "n_chars_before", "n_chars_after",
            "changed")
      }),
      // ---- model-based quality classifier (the GPT-3/LLaMA-recipe
      //      "similarity to a curated reference" filter): seed labels
      //      from the rule-based quality score, token-likelihood-ratio
      //      model trained as a word-count aggregation, applied as a
      //      broadcast join + map-side fold — train/apply is a TABLE
      //      seam, no gradient loop, integral microunits end to end
      "q74_quality_classifier" -> ((s, d) =>
        graft.ops.Classifier.nbQuality(t(s, d, "documents"))),
      // ---- LSH recall self-audit: the banded q15 pipeline measured
      //      against exact ground truth (inverted-index self-join +
      //      verify) on a bounded probe slice — precision is 1.0 by
      //      construction (the verify step), so precision_bp != 10000 is
      //      a bug detector and recall_bp is the banding loss
      "q79_lsh_recall_audit" -> ((s, d) =>
        Dedup.lshRecallAudit(t(s, d, "documents"))),
      // ---- benchmark decontamination in EMBEDDING space: the fuzzy-
      //      semantic counterpart to q43 (exact phrases) and q70 (n-grams)
      //      — flag corpus vectors cosine-close to any benchmark vector.
      //      Benchmark side broadcast (eval suites are small by
      //      definition); corpus scanned once; the shuffle carries one
      //      scalar row per corpus vector (map-side max partial agg)
      "q80_embedding_decontam" -> ((s, d) =>
        Similarity.embeddingDecontaminate(t(s, d, "embeddings"),
          benchPred = col("vec_id") % 25 === 0, minSimMicro = 600000L)),
      // ---- temperature-flattened mixture (α=0.5): per-source sampling
      //      rates computed FROM the data — rate_s = floor(100·
      //      sqrt(T_min/T_s)) — then the q41 salted-hash bucket filter.
      //      Two passes: a |strata|-row totals agg, then a broadcast-rates
      //      map-side filter; sqrt/div/floor only, so the oracle is exact
      "q81_temperature_mix" -> ((s, d) =>
        graft.ops.Curation.temperatureMix(
          t(s, d, "documents").select(col("source"), col("doc_id"),
            size(Dedup.tokens(col("text"))).cast("long").as("n_tokens")),
          "source", "doc_id", "n_tokens", salt = ":tmix1")
        .groupBy("source")
        .agg(max("t_total").as("t_total"), max("rate_pct").as("rate_pct"),
          count(lit(1)).as("n_kept"),
          sum("n_tokens").as("kept_tokens"))),
      // ---- count-min sketch: the point-frequency mergeable sketch (HLL
      //      = cardinality q54, Misra-Gries = top-k q45, CMS = "how often
      //      does THIS token occur" from depth*width counters). Built
      //      per corpus HALF, merged by bucket-wise sum (EXACT — pinned
      //      equal to the single-pass sketch), probed over the full
      //      vocabulary; est >= exact one-sided error surfaced per token
      "q82_cms_frequency" -> ((s, d) => {
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
      // ---- mergeable log2-histogram quantiles: per-source length
      //      profiles as a <=64-rows-per-group sketch — built per corpus
      //      HALF and merged by bucket-wise sum (the incremental-profiling
      //      shape; exact percentiles q44 re-sort per refresh), then each
      //      percentile resolved to its power-of-two containment range via
      //      integer arithmetic only (bit-length buckets, cum*100 >= p*n)
      "q83_hist_quantiles" -> ((s, d) => {
        val docs = t(s, d, "documents")
        val halves = Seq(0, 1).map(h =>
          graft.ops.Sketches.logHistogram(
            docs.filter(col("doc_id") % 2 === h), "source", "n_chars"))
        graft.ops.Sketches.histQuantiles(
          graft.ops.Sketches.histMerge(halves), "source", Seq(25, 50, 90))
      }),
      // ---- EXACT-k deterministic stratum sample: bottom-k-by-salted-hash
      //      per source — exactly k docs (vs q41's binomially-varying rate
      //      filter), reproducible, append-consistent, mergeable (the KMV
      //      set); k-bounded aggregator shuffle (q42's shape), no Window
      "q84_exact_k_sample" -> ((s, d) =>
        graft.ops.Curation.exactKSample(t(s, d, "documents"),
          "source", "doc_id", k = 12, salt = ":eks1")),
      // ---- hybrid retrieval: BM25 keyword leg (q40's postings shape) +
      //      single-query embedding-cosine leg (one map-side pass, vector
      //      broadcast), fused with reciprocal-rank fusion — the standard
      //      zero-training lexical+semantic combiner a RAG-curation
      //      pipeline runs; both legs are TakeOrdered-bounded so the
      //      fusion join sees <=kLeg rows per side
      "q85_hybrid_rrf" -> ((s, d) =>
        graft.ops.Search.hybridRrf(t(s, d, "documents"),
          t(s, d, "embeddings"),
          Seq("join", "stream", "window"), queryVecId = 7L,
          k = 20, kLeg = 50)),
      // ---- indexed BM25: postings + doc stats built per corpus HALF and
      //      merged ADDITIVELY (the committed append-only index shape;
      //      ingest cost ∝ delta, never a corpus rescan), query answered
      //      from the index through the bm25TopK expression tree verbatim
      //      — the oracle is the FULL-SCAN replay, so the green row proves
      //      incremental-index == batch bit-for-bit
      "q87_indexed_bm25" -> ((s, d) => {
        val docs = t(s, d, "documents")
        val (pA, sA) = graft.ops.Search.buildIndex(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0))
        val (pB, sB) = graft.ops.Search.buildIndex(
          docs.filter(pmod(col("doc_id"), lit(2)) === 1))
        graft.ops.Search.bm25FromIndex(pA.unionByName(pB), sA.unionByName(sB),
          Seq("join", "stream", "window"), k = 20)
      }),
      // ---- source-overlap matrix: pairwise shingle containment/Jaccard
      //      between crawl sources — the "how much of B is already in A"
      //      profile mixture design consults; shingle text never shuffles
      //      (16-byte md5 digests), pair fan-out bounded by |sources|
      "q88_source_overlap" -> ((s, d) =>
        graft.ops.Dedup.sourceOverlapMatrix(t(s, d, "documents"))),
      // ---- declarative data-quality expectation suite (the Deequ shape):
      //      completeness, uniqueness, cross-column consistency, set
      //      membership, format, volume and distribution bounds — ALL
      //      computed in ONE aggregation over ONE scan (every check is an
      //      aggregate column in a single agg; adding a check adds
      //      accumulators, never a pass), then unpivoted to one
      //      (check, metric, passed) row each
      "q89_expectations" -> ((s, d) =>
        graft.ops.Expectations.documentsSuite(t(s, d, "documents"))),
      // ---- bloom-gated incremental exact dedup: the persisted corpus
      //      membership sketch (Spark's own BloomFilterAggregate, the x47
      //      runtime-filter engine, here as a first-class artifact) probes
      //      every delta doc MAP-SIDE; only candidates — true dups + the
      //      filter's few false positives — reach the broadcast semi-join
      //      verify, so the per-batch corpus-touching work is proportional
      //      to the candidate count, not the delta. No false negatives by
      //      construction + verify kills false positives ⇒ output == the
      //      plain delta⋉corpus semi join, which IS the oracle
      "q90_bloom_gate" -> ((s, d) => {
        val docs = t(s, d, "documents")
        graft.ops.Dedup.bloomDedupGate(
          docs.filter(col("doc_id") % 7 =!= 3),
          docs.filter(col("doc_id") % 7 === 3),
          expectedItems = 1L << 16)
      }),
      // ---- size-targeted output-file planning (Iceberg
      //      write.target-file-size / bin-pack compaction): docs assigned
      //      WHOLE to consecutive files by exclusive byte prefix sum div
      //      target — distributed two-pass scan (q33's machinery), never a
      //      SinglePartition window; files cover contiguous key ranges
      //      (range-prunable) and the assignment is append-stable
      "q91_file_sizing" -> ((s, d) =>
        graft.ops.FileLayout.planFiles(tIds(s, d, "documents"),
          "doc_id", "n_chars", targetBytes = 4096L)),
      // ---- WATERMARK-BOUNDED streaming exact dedup (native
      //      dropDuplicatesWithinWatermark): state evicted by event-time
      //      watermark — bounded state on unbounded keys, the TTL shape
      //      x21 (state-forever) and x51 (explicit cap) lack; the replay
      //      stamps all docs inside one horizon so the appended output
      //      must equal the batch distinct-fingerprint set; eviction +
      //      late-dup re-emission pinned in ScalaTest
      "x78_watermark_dedup" -> ((s, d) =>
        graft.streaming.StreamWatermarkDedup.replayDocsDistinctFp(s,
          t(s, d, "documents"))),
      // ---- leakage-safe split: q35's hash split made dup-CLUSTER aware —
      //      the split unit is the q37 near-dup component, so no near-dup
      //      pair can straddle train/val; the cross_pairs audit column
      //      (pinned 0 by construction) ships the guarantee in the result
      "q86_leakage_split" -> ((s, d) =>
        graft.ops.Curation.leakageSafeSplit(t(s, d, "documents"),
          graft.ops.Dedup.ngramJaccardPairs(t(s, d, "documents"),
            minJaccardBp = 2000L))),
      // ---- semi-structured sidecar extraction: the events table's JSON
      //      props column parsed with an EXPLICIT schema (from_json —
      //      never an inference scan, which at 100 TB is a full extra
      //      pass) and aggregated on the extracted field, all map-side
      //      before the one group shuffle. Crawl metadata sidecars are
      //      exactly this shape; Catalyst's OptimizeJsonExprs prunes the
      //      parse to the fields actually consumed
      "q78_props_extract" -> ((s, d) => {
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
      // ---- corpus build v3: the MODEL-BASED funnel — unicode clean
      //      (map-side) -> classifier train+apply over the cleaned text
      //      (q74's plan) -> keep predicted-high docs -> per-source token
      //      budgets (q63's stratum window). Rule gates (q47) + model
      //      gates composed; the oracle chains the same SQL pieces
      "q77_corpus_build3" -> ((s, d) => {
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
      // ---- STREAMING classifier apply: model trained ONCE on the standing
      //      corpus (the persisted vocab-sized table), each micro-batch
      //      scored statelessly against it — no state store; per-doc
      //      scoring has no cross-batch coupling, so the replayed union
      //      equals batch q74 (shared oracle)
      "x66_stream_classifier" -> ((s, d) => {
        import s.implicits._
        val corpus = t(s, d, "documents")
        val docs = corpus.select(col("doc_id"), col("text"))
          .as[graft.streaming.StreamClassifier.Doc].collect().toSeq
        val dir = graft.io.Scratch
          .dir("graft-x66").toString
        graft.streaming.StreamClassifier.replayScore(s, corpus, docs, dir,
          nBatches = 3)
      }),
      // ---- greedy k-center diversity selection (Gonzalez farthest-point,
      //      the coreset pass): k map-side scans against broadcast-literal
      //      centers + TakeOrdered(1) per round; micro-int quantization
      //      makes every distance an exact integer, so the unrolled
      //      DuckDB replay is hash-identical
      "q76_kcenter_sample" -> ((s, d) =>
        graft.ops.Similarity.kCenterSelect(t(s, d, "embeddings"), k = 6)),
      // ---- DSIR-shaped data selection: hashed-bigram importance weights
      //      (target distribution over FIXED 4096 feature-hash buckets ÷
      //      raw distribution), top-50 most target-like raw docs. The
      //      model size is pinned by the hashing trick, not the
      //      vocabulary — the property that makes it trainable at 100 TB
      "q75_dsir_select" -> ((s, d) =>
        graft.ops.Classifier.dsirSelect(
          t(s, d, "documents"), isTarget = col("source") === "src0")),
      // ---- deterministic seeded corpus shuffle: salted-hash permutation
      //      + epoch shards, no rand() — stable across runs, retries, and
      //      engines; per-shard windows, no global sort
      "q67_corpus_shuffle" -> ((s, d) =>
        graft.ops.Curation.corpusShuffle(
          tIds(s, d, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", nShards = 8, seed = 1L)),
      // ---- STREAMING sentence dedup: per-micro-batch incremental clean
      //      against a standing unit-hash index (versioned parquet, not
      //      the state store); id-ordered batches make the replayed union
      //      equal batch q64 exactly (shared oracle)
      "x62_stream_sentence_dedup" -> ((s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
          .as[graft.streaming.StreamSentenceDedup.Doc].collect().toSeq
        val dir = graft.io.Scratch
          .dir("graft-x62").toString
        graft.streaming.StreamSentenceDedup.replaySentenceDedup(
          s, docs, dir, unitTokens = 12, nBatches = 3)
      }),
      // ---- STREAMING generic-signature near-dup: per-batch pairs against
      //      a standing versioned band-index table (the q94 probe inside
      //      foreachBatch); every pair is introduced by exactly one batch,
      //      so the replayed union equals batch q93 (shared oracle)
      "x81_stream_signature_near_dup" -> ((s, d) => {
        import s.implicits._
        val rows = t(s, d, "embeddings").select(
          col("vec_id").as("doc_id"),
          expr("aggregate(transform(sequence(0, 63), i -> " +
            "IF(element_at(embedding, CAST(i + 1 AS INT)) > 0F, " +
            "shiftleft(CAST(1 AS BIGINT), CAST(i AS INT)), " +
            "CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, x) -> a | x)")
            .as("sig"))
          .as[graft.streaming.StreamSignatureNearDup.SigRow].collect().toSeq
        val dir = graft.io.Scratch
          .dir("graft-x81").toString
        graft.streaming.StreamSignatureNearDup.replaySignaturePairs(
          s, rows, dir, maxHamming = 15, nBatches = 3)
      }),
      // ---- STREAMING token-budget mixture: one running token total per
      //      stratum as state; the budgets-are-floors contract makes the
      //      emitted union equal the batch operator exactly
      "x57_stream_budget_mix" -> ((s, d) => {
        import s.implicits._
        graft.streaming.StreamCuration.replayTokenBudgetMix(s,
          t(s, d, "documents").select(col("doc_id"), col("source"),
              size(Dedup.tokens(col("text"))).cast("long").as("n_tokens"))
            .as[graft.streaming.StreamCuration.MixDoc].collect().toSeq,
          budgets = Map("src0" -> 500L, "src1" -> 900L),
          defaultBudget = 700L)
      }),
      // ---- benchmark-contamination scan: exact-phrase hits per benchmark
      //      string. The phrase table broadcasts; the corpus is scanned
      //      once, map-side (substring test inside codegen) — the fuzzy
      //      variant of decontamination is the MinHash machinery (q15).
      "q43_contamination" -> ((s, d) => {
        val phrases = Seq("merge batch part", "stream window", "query value customer")
        val p = s.createDataset(phrases)(org.apache.spark.sql.Encoders.STRING)
          .toDF("phrase")
        t(s, d, "documents")
          .crossJoin(broadcast(p))
          .filter(col("text").contains(col("phrase")))
          .groupBy("phrase")
          .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
      }),
      // ---- doc-length quantiles: exact quartiles next to the mergeable
      //      approx_percentile sketch (the KLL/GK-family companion to
      //      q36's HLL — at 100 TB the sketch is the affordable default;
      //      the exact agg needs the full value multiset per group).
      //      Quartiles only: 0.25/0.5/0.75 are exact binary fractions, so
      //      the interpolated value, x4, is integral and engine-exact.
      "q44_length_quantiles" -> ((s, d) =>
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
      // ---- the full corpus build, composed end to end the way a training
      //      corpus is actually curated: language gate -> quality gate ->
      //      repetition gate -> exact-dedup keeper -> deterministic 80%
      //      sample, with per-stage survivor counts plus the final token
      //      budget. Every stage is an operator this engine ships and
      //      oracle-checks individually; this query pins their COMPOSITION.
      "q47_corpus_build" -> ((s, d) => {
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
      // ---- corrupt-input resilience: at 100 TB some files WILL be
      //      truncated or garbage; ignoreCorruptFiles turns them into
      //      skipped splits instead of a dead job. The query plants a
      //      corrupt file next to real parquet and must still return the
      //      intact rows' aggregate (values pinned by the oracle over the
      //      clean table).
      "x33_corrupt_file_skip" -> ((s, d) => {
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
      // ---- overlapping token-window chunking (RAG/context prep):
      //      map-side fan-out only, chunk boundaries a pure function of
      //      the token count
      "q48_doc_chunks" -> ((s, d) =>
        graft.ops.Curation.chunkDocs(t(s, d, "documents"),
          window = 32, overlap = 8)),
      // ---- the v2-LLM orchestration shape end to end: chunk (C15) ->
      //      content-hash cache, one "model call" per unique chunk (S9) ->
      //      rejoin by key -> position-sensitive per-doc merge (C14).
      //      Deterministic model stand-in (no egress), whole chain
      //      DuckDB-replayable.
      "q52_chunk_cache_extract" -> ((s, d) =>
        graft.ops.Curation.cachedChunkExtract(t(s, d, "documents"),
          window = 32, overlap = 8)),
      // ---- ANALYZE-style column statistics: one scan for all columns
      //      (multiple exact DISTINCTs via a single Expand); the 100 TB
      //      variant swaps in approx_count_distinct, same plan shape
      "q49_table_stats" -> ((s, d) =>
        graft.ops.Profiler.tableStats(t(s, d, "documents"),
          Seq("doc_id", "text", "lang", "source", "n_chars"))),
      // ---- the curation funnel as a CONTINUOUS ingest query: stateless
      //      gates per micro-batch, stateful dedup over survivors only —
      //      rejected docs never touch the state store. Final table must
      //      equal the batch formulation (oracle shares q47's fragments).
      "x32_stream_curated_dedup" -> ((s, d) => {
        import s.implicits._
        graft.streaming.StreamCuration.replayCuratedDupGroups(s,
          t(s, d, "documents").select("doc_id", "text")
            .as[graft.streaming.DocDedup.Doc])
      }),
      // ---- AQE runtime skew split: the same hot-key problem as q29, but
      //      handled by OptimizeSkewedJoin at runtime (plan pinned in
      //      PlanAuditSpec: SortMergeJoin(skew=true)). Materialized inside
      //      the conf scope so the lowered skew thresholds apply at
      //      execution, then returned as values.
      "x31_aqe_skew_join" -> ((s, _) => {
        import s.implicits._
        graft.ops.SkewJoin.withSkewTestConfs(s) {
          val j = graft.ops.SkewJoin.aqeSkewedJoin(s)
          val row = j.agg(count(lit(1)).as("n_rows"),
            sum("v").as("sum_v")).as[(Long, Long)].head()
          Seq(row).toDF("n_rows", "sum_v")
        }
      }),
      // ---- the SQL-user surface: both custom Catalyst expressions
      //      registered as session functions, a temp view, and a query
      //      that is PURE SQL TEXT — what a spark-sql user of this
      //      library actually types. Oracle replays both hash chains.
      "x37_sql_surface" -> ((s, d) => {
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
      "x67_snapshot_expiry" -> ((s, _) => {
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
      "x76_branches" -> ((s, _) => {
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
      "x68_snapshot_tags" -> ((s, _) => {
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
      "x59_spec_evolution" -> ((s, _) => {
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
      // ---- z-order (Morton) file clustering vs the linear sort: both
      //      layouts built with the SAME deterministic rank-bucket
      //      machinery (quantize -> interleave via the native
      //      graft_zvalue expression -> distributed prefix-sum rank), then
      //      per-bucket min/max stats answer three probes. The payoff row
      //      is dimB: the linear layout reads EVERY file, z-order reads a
      //      handful — one layout serving predicates on either dimension
      //      is the whole point of ZORDER BY. Oracle replays quantization,
      //      bit-spreading, ranking, and pruning in SQL.
      "x58_zorder_skipping" -> ((s, d) => {
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
      // ---- int8 embedding quantization (the storage layout trained
      //      retrieval corpora ship in): per-vector max-abs scale,
      //      symmetric round-half-up to [-127, 127]. floor(x+0.5) instead
      //      of round() so both engines share one rounding rule; outputs
      //      are integer sums of the quantized values — exact cross-engine.
      "q51_embedding_quantize" -> ((s, d) => {
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
      // ---- per-label embedding centroids (class prototypes): float sums
      //      are order-dependent, so each element is fixed to micro-int
      //      space first (floor(x*1e6) as long) — integer sums commute,
      //      making the distributed aggregation exact and engine-portable.
      //      slice-then-posexplode keeps the fan-out map-side; the shuffle
      //      carries (label, pos) partial sums only.
      "q46_label_centroids" -> ((s, d) =>
        t(s, d, "embeddings")
          .select(col("label"), posexplode(slice(col("embedding"), 1, 8)))
          .groupBy(col("label"), col("pos"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("col").cast("double") * 1e6).cast("long")).as("sum_micro"))
          .withColumn("centroid_micro",
            floor(col("sum_micro") / col("n")).cast("long"))),
      // ---- dynamic partition pruning: the fact scan's partition filter
      //      arrives at RUNTIME from the broadcast dim's selective filter
      //      (dynamicpruningexpression on the FileScan — pinned in
      //      PlanAuditSpec). At 100 TB this is the difference between
      //      scanning 2 partitions and scanning all of them when the
      //      selected keys are only known after filtering the dimension.
      "x30_dynamic_pruning" -> ((s, d) => {
        val base = graft.io.Scratch.dir("graft-dpp").toString
        graft.io.Partitioned.writePartitioned(t(s, d, "events"),
          s"$base/facts", "event_type")
        t(s, d, "events").select("event_type").distinct()
          .withColumn("w",
            when(col("event_type").isin("purchase", "view"), 1).otherwise(0))
          .write.mode("overwrite").parquet(s"$base/dim")
        val facts = graft.io.Partitioned.readPartitioned(s, s"$base/facts")
        val dim = s.read.parquet(s"$base/dim").filter(col("w") > 0)
        facts.join(dim.select("event_type"), "event_type")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(floor(col("value") * 100).cast("long")).as("cents"))
      }),
      // ---- runtime bloom-filter join pruning (InjectRuntimeFilter): the
      //      selective dim filter plants bloom_filter_might_contain on the
      //      fact side of a shuffle join, discarding non-joining fact rows
      //      BEFORE the exchange — at 100 TB that is the difference between
      //      shuffling the whole fact table and shuffling the ~1% that can
      //      join (DPP's x30 needs a partition column; the bloom filter
      //      prunes on ANY join key). Thresholds tuned down because the
      //      test facts are tiny; injection is proven in the oracle-compared
      //      output, like x20's exchange count.
      "x47_bloom_join" -> ((s, d) => {
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
      // ---- exact heavy hitters via Misra-Gries sketch + recount: pass 1
      //      finds candidates with k bounded counters per task (no-miss
      //      superset guarantee), pass 2 recounts only candidates — the
      //      corpus vocabulary never shuffles, yet the output is exact
      "q45_heavy_hitters" -> ((s, d) =>
        graft.ops.HeavyHitters.frequentTokens(t(s, d, "documents"), "text")),
      // ---- STREAMING heavy hitters: the Misra-Gries sketch as sharded
      //      streaming state; per-batch candidate emission is a superset,
      //      the exact recount collapses it to q45's output exactly
      "x56_stream_heavy_hitters" -> ((s, d) => {
        import s.implicits._
        graft.streaming.StreamHeavyHitters.replayFrequentTokens(s,
          t(s, d, "documents").select("doc_id", "text")
            .as[graft.streaming.StreamNearDup.Doc].collect().toSeq)
      }),
      // ---- JSONL ingest round trip: the interchange format training
      //      corpora actually arrive in. Read back with the EXPLICIT
      //      schema (no inference pass — at 100 TB schema inference is a
      //      full extra scan), then aggregate; must equal the parquet
      //      truth.
      "x29_jsonl_roundtrip" -> ((s, d) => {
        val path = graft.io.Scratch.dir("graft-jsonl").toString
        val docs = t(s, d, "documents")
        docs.write.mode("overwrite").json(path)
        s.read.schema(docs.schema).json(path)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("total_chars"),
            sum(length(col("text"))).as("total_text_len"))
      }),
      // ---- ORC round trip: the second columnar format (same aggregate
      //      contract as x29's JSONL — the container must not perturb a
      //      byte). ORC scans get the same pushdown/pruning machinery as
      //      parquet; sorting within files by doc_id gives ORC row-group
      //      min/max indexes their selectivity at scale.
      "x43_orc_roundtrip" -> ((s, d) => {
        val path = graft.io.Scratch.dir("graft-orc").toString
        val docs = t(s, d, "documents")
        docs.sortWithinPartitions("doc_id").write.mode("overwrite").orc(path)
        s.read.orc(path)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("total_chars"),
            sum(length(col("text"))).as("total_text_len"))
      }),
      // ---- CSV round trip with explicit schema + quote/escape handling
      //      (documents text contains no newlines in the test tables, but
      //      quoting is exercised via the header-on read contract)
      "x44_csv_roundtrip" -> ((s, d) => {
        val path = graft.io.Scratch.dir("graft-csv").toString
        val docs = t(s, d, "documents")
        docs.write.mode("overwrite").option("header", "true").csv(path)
        s.read.schema(docs.schema).option("header", "true").csv(path)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("total_chars"),
            sum(length(col("text"))).as("total_text_len"))
      }))

    relational ++ text ++ curation ++ FixtureQueries.queries
  }

  // ====================================================================
  // oracle SQL (DuckDB dialect-compatible ANSI)
  // ====================================================================

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

  /** The same chain in SQL, generated from the same month lists. */
  def monthSql(textExpr: String): String = {
    val full = MonthFinder.Months.map { m =>
      s"nullif(regexp_extract($textExpr, '$m[,]?\\s+\\d{4}', 0), '')"
    }
    val abbr = MonthFinder.AbbrMonths.zip(MonthFinder.Months).map { case (a, m) =>
      s"regexp_replace(nullif(regexp_extract($textExpr, '$a[.]?[,]?\\s+\\d{4}', 0), ''), '^$a', '$m')"
    }
    s"coalesce(${(full ++ abbr).mkString(",\n    ")})"
  }

  private val toks = "regexp_split_to_array(trim(lower(text)), '\\s+')"

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

  private lazy val sentenceDedupSql: String =
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
         |r AS (
         |  SELECT doc_id, pos,
         |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
         |    count(*) OVER (PARTITION BY h) AS occ
         |  FROM units),
         |drops AS (
         |  SELECT doc_id, list(pos ORDER BY pos) AS drops
         |  FROM r WHERE occ > 1 AND rn > 1 GROUP BY 1),
         |outp AS (
         |  SELECT tk.doc_id,
         |    list_transform(
         |      list_filter(range(0, CAST(len(tk.tk) AS BIGINT)),
         |        p -> drops.drops IS NULL
         |          OR NOT list_contains(drops.drops, p // 12)),
         |      p -> tk.tk[CAST(p AS BIGINT) + 1]) AS keptl,
         |    CAST((len(tk.tk)-1)//12 + 1 AS BIGINT) AS n_units,
         |    CAST(coalesce(len(drops.drops), 0) AS BIGINT) AS n_dropped
         |  FROM tk LEFT JOIN drops USING (doc_id))
         |SELECT doc_id, coalesce(array_to_string(keptl, ' '), '') AS clean_text,
         |  n_units, n_dropped,
         |  CAST(len(keptl) AS BIGINT) AS n_kept_tokens
         |FROM outp""".stripMargin

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

  /** DuckDB's NATIVE ASOF LEFT JOIN — an independent implementation of the
    * semantics — shared by q24 (window-carry composition) and q50 (custom
    * physical operator): both engines' formulations must match it. */
  private lazy val asofOracleSql: String =
    """WITH purchases AS (
      |  SELECT user_id, ts, event_id AS purchase_id FROM events
      |  WHERE event_type = 'purchase'),
      |clicks AS (
      |  SELECT user_id, ts, ts AS click_ts,
      |    max(CAST(floor(value*100) AS BIGINT)) AS click_cents
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2, 3)
      |SELECT p.user_id, p.ts, p.purchase_id, c.click_ts, c.click_cents
      |FROM purchases p ASOF LEFT JOIN clicks c
      |  ON p.user_id = c.user_id AND c.ts <= p.ts""".stripMargin

  /** q14's full pair SELECT, shared with q37's recursive-closure oracle. */
  private lazy val ngramPairsOracleSql: String = {
    val sh = s"list_distinct(list_transform(range(0, greatest(len($toks)-3, 0)+1), " +
      s"i -> concat_ws(' ', $toks[i+1], $toks[i+2], $toks[i+3])))"
    s"""WITH keyed AS (
       |  SELECT doc_id, $sh AS sh,
       |    CAST(floor(len($toks)/10.0) AS BIGINT) AS len_bucket,
       |    list_sort($sh)[1] AS m1, list_sort($sh)[2] AS m2
       |  FROM documents),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM keyed a JOIN keyed b
       |    ON a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
       |   AND (a.m1 = b.m1 OR a.m1 = b.m2 OR a.m2 = b.m1 OR a.m2 = b.m2))
       |SELECT doc_a, doc_b,
       |  CAST(floor(len(list_intersect(a.sh, b.sh))*10000.0 /
       |       len(list_distinct(list_concat(a.sh, b.sh)))) AS BIGINT) AS jaccard_bp
       |FROM cand JOIN keyed a ON a.doc_id = doc_a JOIN keyed b ON b.doc_id = doc_b
       |WHERE floor(len(list_intersect(a.sh, b.sh))*10000.0 /
       |       len(list_distinct(list_concat(a.sh, b.sh)))) >= 2000""".stripMargin
  }

  /** Top-3-orders oracle: shared by q06 (window row_number) and q32 (the
    * bounded-heap typed Aggregator) — same deterministic ranking. */
  private val top3OrdersSql =
    """SELECT o_custkey, o_orderkey, rn FROM (
      |  SELECT o_custkey, o_orderkey,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) WHERE rn <= 3""".stripMargin

  /** Exact-dedup oracle: shared by q13 (batch) and x21 (the streaming
    * stateful-aggregation replay of the same operator). */
  private val exactDupGroupsSql =
    """SELECT md5(lower(trim(text))) AS fp, count(*) AS n_docs,
      |  min(doc_id) AS keeper_doc_id
      |FROM documents GROUP BY 1""".stripMargin

  /** Post-purchase click-attribution oracle: shared by q27 (explicit
    * RangeJoin operator) and q28 (plain inequality join + optimizer rule) —
    * both must produce exactly this inequality join's result. */
  private val rangeAttributionSql =
    """WITH clicks AS (
      |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS x,
      |    CAST(floor(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'click'),
      |windows AS (
      |  SELECT event_id AS purchase_id, CAST(floor(epoch(ts)) AS BIGINT) AS lo,
      |    CAST(floor(epoch(ts)) AS BIGINT) + 7199 AS hi
      |  FROM events WHERE event_type = 'purchase' AND value >= 200)
      |SELECT purchase_id, count(*) AS n_clicks,
      |  count(DISTINCT user_id) AS n_users,
      |  CAST(sum(cents) AS BIGINT) AS click_cents
      |FROM clicks JOIN windows ON x >= lo AND x <= hi
      |GROUP BY 1""".stripMargin
  private def listLit(ss: Seq[String]) = ss.map(s => s"'$s'").mkString("[", ",", "]")

  /** DuckDB fragments shared by q12 (full profile) and q34 (the curation
    * funnel composed from the same predicates). */
  private def langCaseSql: String = {
    val scores = TextAnalysis.LangMarkers.map { case (l, ms) =>
      l -> s"len(list_filter($toks, t -> list_contains(${listLit(ms)}, t)))"
    }
    val best = scores.map(_._2).mkString("greatest(", ", ", ")")
    val whens = scores.map { case (l, sc) =>
      s"WHEN $sc = $best AND $sc > 0 THEN '$l'"
    }.mkString(" ")
    s"CASE $whens ELSE 'und' END"
  }

  private def qualityBpSql: String = {
    val stops = listLit(TextAnalysis.Stopwords)
    s"CAST(floor(least(len($toks), 200)*5000.0/200) AS BIGINT)" +
      s" + CAST(floor(3000.0*(len($toks) - len(list_filter($toks, t -> list_contains($stops, t)))) / greatest(len($toks), 1)) AS BIGINT)" +
      s" + CASE WHEN (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))*20 <= length(text) THEN 2000 ELSE 0 END"
  }

  /** q15's full MinHash-LSH replay, shared with q55 (which restricts the
    * same pair set to pairs touching the delta). */
  private def minhashPairsSql: String = minhashPairsSqlFrom("documents")

  /** The q15 chain over any doc relation exposing (doc_id, text) —
    * `documents` for q15/q55, the probe slice for q79's recall audit. */
  private def minhashPairsSqlFrom(src: String): String = {
      // identical chain to Dedup.minhashLshPairs: tokens -> positional
      // 3-gram shingles -> char-fold hash mod MinhashPrime -> 32 affine
      // mins (params inlined from the SAME Dedup.hashParams call the
      // engine uses) -> 8 banded bucket folds -> bucket join -> exact
      // Jaccard (distinct shingles) >= 2000 bp
      val params = Dedup.hashParams(32).zipWithIndex
        .map { case ((a, b), k) => s"($k, $a, $b)" }.mkString(", ")
      s"""WITH base AS (
         |  SELECT doc_id, $toks AS toks FROM $src),
         |sh AS (
         |  SELECT doc_id,
         |    list_transform(range(0, greatest(len(toks) - 2, 1)),
         |      i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')) AS shingles
         |  FROM base),
         |shrow AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |hm AS (
         |  SELECT doc_id,
         |    list_reduce(list_prepend(CAST(3421674724 AS HUGEINT),
         |      list_transform(split(s, ''), c -> CAST(ord(c) AS HUGEINT))),
         |      (h, c) -> (h * 1000003 + c) % (CAST(1 AS HUGEINT) << 64)) AS hu
         |  FROM shrow),
         |hmod AS (
         |  SELECT doc_id,
         |    CAST((((CASE WHEN hu >= (CAST(1 AS HUGEINT) << 63)
         |            THEN hu - (CAST(1 AS HUGEINT) << 64) ELSE hu END) % 2038074743)
         |          + 2038074743) % 2038074743 AS BIGINT) AS h
         |  FROM hm),
         |sig AS (
         |  SELECT doc_id, p.k, min((h * p.a + p.b) % 2038074743) AS sv
         |  FROM hmod CROSS JOIN (VALUES $params) p(k, a, b)
         |  GROUP BY doc_id, p.k),
         |sigs AS (SELECT doc_id, list(sv ORDER BY k) AS sv32 FROM sig GROUP BY doc_id),
         |buckets AS (
         |  SELECT doc_id, t.band,
         |    CAST(list_reduce(
         |      list_prepend(CAST(3421674724 + t.band AS HUGEINT),
         |        list_transform(list_slice(sv32, t.band * 4 + 1, t.band * 4 + 4),
         |          v -> CAST(v AS HUGEINT))),
         |      (h, v) -> (h * 1000003 + v) % (CAST(1 AS HUGEINT) << 64)) AS HUGEINT) AS bu
         |  FROM sigs CROSS JOIN (SELECT CAST(range AS INTEGER) AS band FROM range(8)) t),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM buckets a JOIN buckets b
         |    ON a.band = b.band AND a.bu = b.bu AND a.doc_id < b.doc_id),
         |dsh AS (SELECT doc_id, list_distinct(shingles) AS ds FROM sh)
         |SELECT c.doc_a, c.doc_b,
         |  CAST((len(list_intersect(x.ds, y.ds)) * 10000)
         |    // (len(x.ds) + len(y.ds) - len(list_intersect(x.ds, y.ds))) AS BIGINT) AS jaccard_bp
         |FROM cand c
         |JOIN dsh x ON x.doc_id = c.doc_a
         |JOIN dsh y ON y.doc_id = c.doc_b
         |WHERE CAST((len(list_intersect(x.ds, y.ds)) * 10000)
         |    // (len(x.ds) + len(y.ds) - len(list_intersect(x.ds, y.ds))) AS BIGINT) >= 2000""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(floor(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
        |  CAST(sum(CAST(floor(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |  CAST(sum(CAST(floor(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
        |  count(*) AS n_rows,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1, 2""".stripMargin,
    "q02_top_orders" ->
      """SELECT o_orderkey, o_custkey, CAST(floor(o_totalprice*100) AS BIGINT) AS price_cents
        |FROM orders ORDER BY price_cents DESC, o_orderkey LIMIT 10""".stripMargin,
    "q03_revenue_by_nation" ->
      """SELECT n_name,
        |  CAST(sum(CAST(floor(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin,
    "q04_priority_with_returns" ->
      """SELECT o_orderpriority, count(*) AS n_orders FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY 1""".stripMargin,
    "q05_customers_without_orders" ->
      """SELECT c_nationkey, count(*) AS n_customers FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1""".stripMargin,
    "q06_top3_orders_per_customer" -> top3OrdersSql,
    // q32 computes the same top-3 with the bounded-heap typed Aggregator
    // (shuffle carries k entries per group per task, not whole groups)
    "q32_topk_aggregator" -> top3OrdersSql,
    "q07_rollup_status_priority" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin,
    "q08_supplier_part_fanout" ->
      """SELECT l_suppkey, count(DISTINCT l_partkey) AS n_parts, count(*) AS n_items
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q09_event_sessions" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_type, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sessioned AS (
        |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM marked)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
        |  CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM sessioned GROUP BY user_id, session_id""".stripMargin,
    "x15_stream_sessions" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_type, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sessioned AS (
        |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM marked)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
        |  CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM sessioned GROUP BY user_id, session_id""".stripMargin,
    "q10_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2""".stripMargin,
    "x13_stream_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2""".stripMargin,
    "x24_stream_attribution" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id
        |FROM events p JOIN events c
        |  ON p.event_type = 'purchase' AND c.event_type = 'click'
        | AND p.user_id = c.user_id AND p.user_id < 30 AND c.user_id < 30
        | AND c.ts >= p.ts - INTERVAL 2 HOUR AND c.ts <= p.ts""".stripMargin,
    "q50_asof_physical" -> asofOracleSql,
    "q24_asof_join" -> asofOracleSql,
    "q25_set_ops" ->
      """SELECT s_nationkey AS nationkey, 'both' AS which FROM supplier
        |INTERSECT SELECT c_nationkey, 'both' FROM customer
        |UNION ALL
        |(SELECT c_nationkey, 'customer_only' FROM customer
        | EXCEPT SELECT s_nationkey, 'customer_only' FROM supplier)
        |UNION ALL
        |(SELECT s_nationkey, 'supplier_only' FROM supplier
        | EXCEPT SELECT c_nationkey, 'supplier_only' FROM customer)""".stripMargin,
    "q26_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin,
    "q27_range_join" -> rangeAttributionSql,
    // q28 computes the same result through a plain inequality join that
    // the RangeJoinRewrite optimizer rule rewrites — identical oracle
    "q28_rangejoin_rule" -> rangeAttributionSql,
    "q29_salted_join" ->
      """SELECT p_type, count(*) AS n_items,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1""".stripMargin,
    "x22_partitioned_scan" ->
      """SELECT user_id, count(*) AS n_purchases,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1""".stripMargin,
    "q30_pivot_wide" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN l_linestatus = 'F'
        |       THEN CAST(floor(l_quantity * 100) AS BIGINT) END) AS BIGINT) AS qty_f_cents,
        |  CAST(sum(CASE WHEN l_linestatus = 'O'
        |       THEN CAST(floor(l_quantity * 100) AS BIGINT) END) AS BIGINT) AS qty_o_cents
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q34_curation_funnel" ->
      s"""WITH prof AS (
         |  SELECT doc_id, text, $langCaseSql AS lang_pred, $qualityBpSql AS quality_bp
         |  FROM documents),
         |lang_ok AS (SELECT * FROM prof WHERE lang_pred = 'en'),
         |qual_ok AS (SELECT * FROM lang_ok WHERE quality_bp >= 6000),
         |keepers AS (
         |  SELECT min(doc_id) AS doc_id FROM qual_ok
         |  GROUP BY md5(lower(trim(text))))
         |SELECT 's0_total' AS stage, count(*) AS n_docs FROM documents
         |UNION ALL SELECT 's1_lang_en', count(*) FROM lang_ok
         |UNION ALL SELECT 's2_quality', count(*) FROM qual_ok
         |UNION ALL SELECT 's3_dedup_keeper', count(*) FROM keepers""".stripMargin,
    "q33_sequence_packing" ->
      s"""WITH w AS (
         |  SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
         |p AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS stream_offset
         |  FROM w)
         |SELECT doc_id, n_tokens, stream_offset,
         |  stream_offset // 4096 AS seq_id,
         |  stream_offset % 4096 AS offset_in_seq
         |FROM p""".stripMargin,
    // q63: per-source exclusive token cumsum in doc_id order; kept iff
    // under that source's budget (the crossing doc included)
    "q63_token_budget_mix" -> tokenBudgetMixSql,
    // x57 is the STREAMING shadow: one running token total per stratum as
    // state; on the ordered finite replay the emitted union must equal
    // the batch operator — the same SQL
    "x57_stream_budget_mix" -> tokenBudgetMixSql,
    // q62: q33's prefix sum expanded to (doc, sequence) overlaps — a doc
    // at [off, off+w) intersects sequences off/B .. (off+w-1)/B
    "q62_pack_segments" ->
      s"""WITH w AS (
         |  SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
         |p AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS stream_offset
         |  FROM w),
         |seg AS (
         |  SELECT doc_id, n_tokens, stream_offset, CAST(s AS BIGINT) AS seq_id
         |  FROM p, UNNEST(range(stream_offset // 64,
         |    (stream_offset + n_tokens - 1) // 64 + 1)) AS t(s)
         |  WHERE n_tokens > 0)
         |SELECT doc_id, seq_id,
         |  CAST(greatest(0, seq_id * 64 - stream_offset) AS BIGINT)
         |    AS doc_token_start,
         |  CAST(greatest(0, stream_offset - seq_id * 64) AS BIGINT)
         |    AS offset_in_seq,
         |  CAST(least(stream_offset + n_tokens, (seq_id + 1) * 64)
         |    - greatest(stream_offset, seq_id * 64) AS BIGINT) AS seg_len
         |FROM seg""".stripMargin,
    "q31_distinctive_terms" ->
      s"""WITH dt AS (
         |  SELECT doc_id, unnest(list_distinct($toks)) AS term FROM documents),
         |df AS (SELECT term, count(*) AS doc_freq FROM dt GROUP BY 1),
         |ranked AS (
         |  SELECT dt.doc_id, dt.term, df.doc_freq,
         |    row_number() OVER (PARTITION BY dt.doc_id
         |      ORDER BY df.doc_freq ASC, dt.term ASC) AS rank
         |  FROM dt JOIN df ON dt.term = df.term)
         |SELECT doc_id, rank, term, doc_freq FROM ranked WHERE rank <= 3""".stripMargin,
    "q21_event_value_stats" ->
      """WITH c AS (SELECT event_type, CAST(floor(value*100) AS BIGINT) AS cents FROM events)
        |SELECT event_type, count(*) AS n,
        |  min(cents) AS min_cents, max(cents) AS max_cents,
        |  CAST(floor(avg(cents)) AS BIGINT) AS avg_cents_floor,
        |  CAST(2*quantile_cont(cents, 0.5) AS BIGINT) AS median_cents_x2
        |FROM c GROUP BY 1""".stripMargin,
    "q22_user_activity_merge" ->
      """SELECT user_id, count(*) AS n_events, min(ts) AS first_seen,
        |  max(ts) AS last_seen,
        |  string_agg(event_type, ',' ORDER BY event_type) AS types
        |FROM events GROUP BY 1""".stripMargin,
    "q11_publish_month" ->
      s"SELECT doc_id, ${monthSql("text")} AS publish_month FROM documents",
    "q12_text_profile" -> {
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
    },
    "q13_exact_dup_groups" -> exactDupGroupsSql,
    // x21 is the same aggregation run as a streaming stateful query over a
    // two-batch replay — its final complete-mode table must equal q13
    "x21_stream_dup_groups" -> exactDupGroupsSql,
    "q14_ngram_jaccard_pairs" -> ngramPairsOracleSql,
    "q37_dup_clusters" ->
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
         |SELECT component, count(*) AS n_docs FROM comp GROUP BY 1""".stripMargin,
    "q92_best_copy_keepers" ->
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
         |FROM keyed y JOIN keepers p USING (component)""".stripMargin,
    // q93: the oracle rebuilds the sign signature (bit 63 spelled as
    // Long.MinValue — DuckDB checks 1<<63 overflow where Java wraps) and
    // brute-forces all pairs, so the banded path is recall-audited; x81
    // (streaming) must converge to the same pair set
    "q93_signature_near_dup" -> signatureNearDupSql,
    "x81_stream_signature_near_dup" -> signatureNearDupSql,
    // q95: the SAME three integer power iterations unrolled in SQL —
    // scaled-integer ranks commute, so the oracle must match bit-exactly
    // at every parallelism (a float PageRank could never be gated this way)
    "q95_domain_rank" ->
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
        |FROM r3""".stripMargin,
    // q97: the full composition replayed — domain-graph rank (q95's
    // unrolled iterations over 20 nodes), integer quota derivation, and
    // the q84 salted-hash window, joined and trimmed to each quota
    "q97_rank_weighted_sample" ->
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
        |WHERE r.rn <= q.quota""".stripMargin,
    // q96: q95's unrolled iterations with the teleport CASE'd to the seed
    // set — zero-rank rows (nodes >3 hops from every seed) are part of
    // the gated result, so reachability must match too
    "q96_seeded_rank" ->
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
        |FROM r3""".stripMargin,
    // q94: the full brute-force restricted to pairs touching the delta
    // (vec_id < 300) — hash equality proves the incremental index probe
    // is EQUIVALENT to re-pairing, not merely similar
    "q94_incr_signature_near_dup" ->
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
        |  AND (a.doc_id < 300 OR b.doc_id < 300)""".stripMargin,
    "q53_dup_keepers" ->
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
         |FROM documents d WHERE d.doc_id NOT IN (SELECT id FROM verts)""".stripMargin,
    "q38_repetition_profile" -> repetitionOracleSql,
    "q39_pii_scrub" -> {
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
    },
    "q40_bm25_search" ->
      graft.ops.Search.bm25Sql(toks, Seq("join", "stream", "window"), 20),
    "q41_stratified_sample" ->
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
         |FROM r WHERE bucket < sample_rate GROUP BY 1""".stripMargin,
    "q42_domain_caps" ->
      """SELECT source, doc_id, CAST(rn AS INT) AS rn FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents) WHERE rn <= 10""".stripMargin,
    "q43_contamination" ->
      """WITH p(phrase) AS (VALUES
        |  ('merge batch part'), ('stream window'), ('query value customer'))
        |SELECT phrase, count(*) AS n_docs, min(doc_id) AS first_doc
        |FROM documents, p WHERE contains(text, phrase)
        |GROUP BY 1""".stripMargin,
    "q44_length_quantiles" ->
      // the sketch estimate has no cross-engine oracle; the exact
      // quartiles are strict and the sketch is pinned by the tolerance
      // flag (same pattern as q36). DuckDB's quantile_cont interpolates
      // with the same (n-1)*q rule.
      """SELECT source,
        |  CAST(quantile_cont(n_chars, 0.25) * 4 AS BIGINT) AS p25_x4,
        |  CAST(quantile_cont(n_chars, 0.5) * 4 AS BIGINT) AS p50_x4,
        |  CAST(quantile_cont(n_chars, 0.75) * 4 AS BIGINT) AS p75_x4,
        |  1 AS approx_within_10pct
        |FROM documents GROUP BY 1""".stripMargin,
    "q47_corpus_build" ->
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
         |  CAST(sum(len($toks)) AS BIGINT) FROM sampled_docs""".stripMargin,
    "x33_corrupt_file_skip" ->
      """SELECT count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents""".stripMargin,
    "q48_doc_chunks" ->
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
         |FROM s""".stripMargin,
    "q49_table_stats" ->
      graft.ops.Profiler.tableStatsSql("documents",
        Seq("doc_id", "text", "lang", "source", "n_chars")),
    "q52_chunk_cache_extract" ->
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
         |FROM joined GROUP BY doc_id""".stripMargin,
    "x32_stream_curated_dedup" ->
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
         |FROM ok GROUP BY 1""".stripMargin,
    "x31_aqe_skew_join" ->
      """WITH l AS (
        |  SELECT CASE WHEN range % 10 < 9 THEN 0 ELSE range % 1000 END AS k,
        |    range AS v
        |  FROM range(0, 200000)),
        |r AS (SELECT range AS k FROM range(0, 1000) WHERE range % 3 = 0)
        |SELECT count(*) AS n_rows, CAST(sum(v) AS BIGINT) AS sum_v
        |FROM l JOIN r USING (k)""".stripMargin,
    "x37_sql_surface" ->
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
         |FROM fps JOIN sh USING (doc_id) JOIN tl USING (doc_id)""".stripMargin,
    "q51_embedding_quantize" ->
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
        |FROM q""".stripMargin,
    "q46_label_centroids" ->
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
        |FROM g""".stripMargin,
    "x30_dynamic_pruning" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events WHERE event_type IN ('purchase', 'view')
        |GROUP BY 1""".stripMargin,
    "q45_heavy_hitters" ->
      s"""WITH w AS (SELECT unnest($toks) AS term FROM documents),
         |tot AS (SELECT count(*) AS n FROM w),
         |c AS (SELECT term, count(*) AS cnt FROM w GROUP BY 1)
         |SELECT term, cnt FROM c, tot WHERE cnt * 400 > n""".stripMargin,
    // x56 is the STREAMING sketch route to the same exact output: the
    // emitted candidate union is a superset by the per-shard MG guarantee,
    // and the exact recount + threshold collapse it to precisely this set
    "x56_stream_heavy_hitters" ->
      s"""WITH w AS (SELECT unnest($toks) AS term FROM documents),
         |tot AS (SELECT count(*) AS n FROM w),
         |c AS (SELECT term, count(*) AS cnt FROM w GROUP BY 1)
         |SELECT term, cnt FROM c, tot WHERE cnt * 400 > n""".stripMargin,
    "x29_jsonl_roundtrip" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(length(text)) AS BIGINT) AS total_text_len
        |FROM documents GROUP BY 1""".stripMargin,
    // the format layer must not perturb a byte: same truth table as x29
    "x43_orc_roundtrip" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(length(text)) AS BIGINT) AS total_text_len
        |FROM documents GROUP BY 1""".stripMargin,
    "x44_csv_roundtrip" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(length(text)) AS BIGINT) AS total_text_len
        |FROM documents GROUP BY 1""".stripMargin,
    // The three char-fold-hash oracles below replay Java's 64-bit
    // wraparound arithmetic in DuckDB: fold in HUGEINT with % 2^64 each
    // step, then a two's-complement CASE maps the unsigned value back to
    // the engine's signed BIGINT. Text is ASCII in the test tables, so
    // ord(char) == UTF-8 byte == UTF-16 code unit and one fold serves all
    // three hash definitions.
    "q15_minhash_lsh_pairs" -> minhashPairsSql,
    // x51 is the same pair set found by the STREAMING stateful LSH index
    // over a two-batch replay — its verified union must equal q15
    "x51_stream_neardup" -> minhashPairsSql,
    // incremental near-dup: same pair set as q15, restricted to pairs
    // touching the delta (doc_id % 7 == 3) — the equivalence contract of
    // Dedup.incrementalMinhashPairs (delta probes the corpus index; the
    // corpus is never re-paired against itself)
    "q55_incremental_neardup" ->
      s"""SELECT * FROM ($minhashPairsSql) AS p
         |WHERE p.doc_a % 7 = 3 OR p.doc_b % 7 = 3""".stripMargin,
    // incremental components: the labeling produced by merging q55's delta
    // pairs into the corpus-only prior must be ROW-IDENTICAL to a
    // from-scratch min-label closure over the FULL q15 pair graph (corpus
    // pairs are already inside prior; every pair touching the delta is in
    // q55's output, so the union IS the full graph)
    "q58_incremental_components" ->
      s"""WITH RECURSIVE pairs AS ($minhashPairsSql),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |verts AS (SELECT DISTINCT src AS id FROM edges),
         |reach AS (
         |  SELECT id, id AS lbl FROM verts
         |  UNION
         |  SELECT e.dst AS id, r.lbl AS lbl
         |  FROM reach r JOIN edges e ON e.src = r.id)
         |SELECT id, min(lbl) AS component FROM reach GROUP BY id""".stripMargin,
    // vocab coverage: exclusive cumulative token-instance share over the
    // (cnt desc, token asc) ranking, integer basis points, prefix below 95%
    "q59_vocab_coverage" ->
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
         |FROM c WHERE cum_before * 10000 < 9500 * total""".stripMargin,
    // x55 is the STREAMING route to the same labeling: per-micro-batch
    // incrementalComponents folds over a versioned manifest; every pair
    // surfaces exactly once across the replay, so the final manifest must
    // equal the identical full-graph closure
    "x55_stream_live_clusters" ->
      s"""WITH RECURSIVE pairs AS ($minhashPairsSql),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |verts AS (SELECT DISTINCT src AS id FROM edges),
         |reach AS (
         |  SELECT id, id AS lbl FROM verts
         |  UNION
         |  SELECT e.dst AS id, r.lbl AS lbl
         |  FROM reach r JOIN edges e ON e.src = r.id)
         |SELECT id, min(lbl) AS component FROM reach GROUP BY id""".stripMargin,
    "q16_simhash_pairs" ->
      s"""WITH $simhashSigsSql
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
         |FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 18
         |  AND ((a.sigu % 65536) = (b.sigu % 65536)
         |    OR ((a.sigu >> 16) % 65536) = ((b.sigu >> 16) % 65536)
         |    OR ((a.sigu >> 32) % 65536) = ((b.sigu >> 32) % 65536)
         |    OR ((a.sigu >> 48) % 65536) = ((b.sigu >> 48) % 65536))""".stripMargin,
    // q60 is the same signature chain with NO band predicate: brute-force
    // all-pairs truth at hamming <= 6 — the engine's derived-band (8-band)
    // blocking must reproduce it exactly (pigeonhole completeness)
    "q60_simhash_exact" ->
      s"""WITH $simhashSigsSql
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
         |FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 6""".stripMargin,
    // q56: same fingerprint fold as q20 applied per k-token window, so
    // Spark and the oracle agree BY CONSTRUCTION even on hash collisions;
    // the interval merge is the same lag-gap sum the Spark plan uses
    "q56_dup_substrings" ->
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
         |FROM gaps GROUP BY doc_id""".stripMargin,
    // q61: tokens covered by ANY marked window are dropped from EVERY doc;
    // clean text rebuilt from the survivors (whitespace-normalized like
    // every tokens() consumer on both engines)
    "q61_dedup_scrub" ->
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
         |FROM outp""".stripMargin,
    // q64: non-overlapping 12-token units fingerprinted with the same
    // HUGEINT fold; keep-first = row_number over (doc_id, pos) per hash;
    // reconstruction drops every token whose unit index is marked
    "q64_sentence_dedup" -> sentenceDedupSql,
    "x62_stream_sentence_dedup" -> sentenceDedupSql,
    // x58: full replay of the layout math — epoch-second quantization,
    // magic-mask bit spreading, rank over (zval, event_id), bucket =
    // rank*16 div n, per-bucket stats, box-intersection pruning
    "x58_zorder_skipping" ->
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
         |FROM hits h LEFT JOIN rowsm r USING (probe)""".stripMargin,
    // x59: layout metrics are fixed by the synthetic frame construction —
    // 3 commits x 2 range files; temp in [1000,1100] selects exactly
    // commit 2's 100 rows (temps 1001..1100), prunes commit 3's 2 files
    // (2001..2100), keeps commit 1's 2 old-spec files conservatively
    "x59_spec_evolution" ->
      """SELECT * FROM (VALUES
        |  ('files_total', 6), ('files_kept', 4), ('files_skipped', 2),
        |  ('old_spec_files_kept', 2), ('rows_after_filter', 100)
        |) t(metric, n)""".stripMargin,
    // x68: both table states derive from the commit/upsert arithmetic in
    // SQL — the tagged version is all-3x over 1..200, the current state is
    // x67's shape; lifecycle counts are the retention contract
    // x76: the branch content and post-fast-forward state derive from the
    // commit arithmetic (1..200 at 3x on main, 201..400 at 5x on the
    // branch); lifecycle counts (nothing vacuumed while the branch lives,
    // compact+diverged-ff refused, the dropped branch's 2 files reclaimed)
    // are the contract
    "x76_branches" ->
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
        |) v(metric, n)""".stripMargin,
    "x68_snapshot_tags" ->
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
        |) v(metric, n)""".stripMargin,
    // x67: the current-state rows derive from the commit/upsert arithmetic
    // in SQL (the upserted segment at 7x, the rest at 3x); the lifecycle
    // counts (4 committed, 2 expired, both expired reads failing with
    // files still on disk, 4 orphaned files vacuumed) are the contract
    "x67_snapshot_expiry" ->
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
        |) v(metric, n)""".stripMargin,
    // q72: the q65 clean, q64 dedup, q66 LM, q63 mix, and q67 shuffle
    // SQL pieces chained end to end — one oracle for the composed funnel
    "q72_corpus_build2" ->
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
         |FROM kx""".stripMargin,
    // q71: q64's unit fold over all docs, corpus index vs delta election,
    // drops = (hash in corpus) ∪ (not first within delta), rebuild on
    // delta rows only
    "q71_incr_sentence_dedup" ->
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
         |FROM outp""".stripMargin,
    // q73: distinct (batch, token) -> min-batch novelty election + length
    // drift, microunit ratios via integer division on both engines
    "q73_vocab_drift" -> graft.ops.Drift.vocabDriftSql(4),
    // q70: the q56 window-fold in HUGEINT, split train/eval, collision
    // join, lag-gap coverage merge — zero-hit eval docs kept via left join
    "q70_ngram_decontam" ->
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
         |FROM ev LEFT JOIN agg USING (doc_id)""".stripMargin,
    // q68: the N-round BPE chain generated from the same constants as the
    // engine (Bpe.learnMergesSql) — chained CTEs electing and applying the
    // identical winner each round
    "q68_bpe_merges" -> graft.ops.Bpe.learnMergesSql(8),
    // q69: merge chain + corpus-wide apply, generated by the same builder
    "q69_bpe_tokenize" -> graft.ops.Bpe.bpeProfileSql(8),
    // q66: same bigram LM chain in SQL — doc bigram counts, corpus bigram
    // counts, prefix (conditioning) counts, integer-division microunits
    "q66_lm_fluency" ->
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
         |FROM tk LEFT JOIN sc USING (doc_id)""".stripMargin,
    // q66b: the same bigram LM scored as FLOAT avg log-probability —
    // ln AFTER one IEEE division (matches the Spark spelling), floor-
    // quantized to 1e-4 nats, emitted only outside the 1e-3-quanta guard
    // band so two independent libms agree on every emitted value
    "q66b_lm_logprob" ->
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
         |FROM tk LEFT JOIN q USING (doc_id)""".stripMargin,
    // q65: DuckDB's nfc_normalize (utf8proc) vs the engine's JDK
    // Normalizer — two independent UAX #15 implementations must agree
    // byte-wise on the composed output; same control-strip + whitespace
    // collapse chain on both sides
    "q65_unicode_clean" ->
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
         |FROM c""".stripMargin,
    // q67: the q35 salted-hash idiom over ':shuf:<seed>'; shard = pmod,
    // pos = dense 0-based rank within shard by (signed key, doc_id)
    "q67_corpus_shuffle" ->
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
         |FROM k""".stripMargin,
    // q74: the engine's whole train+apply chain replayed — seed label from
    // the shared quality-score fragment, label-conditional token counts,
    // Laplace-smoothed two-step micro ratio (each conditional floored to
    // micro units BEFORE the ratio, p0 clamped to >= 1), broadcast-join
    // scoring fold. All-integer; sums in HUGEINT cast back at the edges.
    "q74_quality_classifier" -> nbClassifierSql,
    // x66 is the same classifier trained batch and applied per micro-batch
    // (stateless stream scoring) — its replayed union must equal q74
    "x66_stream_classifier" -> nbClassifierSql,
    // q76: the unrolled greedy chain — same quantization, distances, and
    // tie-breaks, generated from the same k so engine and oracle agree
    "q76_kcenter_sample" -> graft.ops.Similarity.kCenterSql(6),
    // q79: the q15 chain nested over the probe slice + an independent
    // exact side (shingle inverted-index self-join, distinct-shingle
    // Jaccard verify) — counts, recall, and the precision==10000 pin
    "q79_lsh_recall_audit" ->
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
         |FROM hit""".stripMargin,
    // q80: brute-force replay of the broadcast max-cosine — same ordered
    // list folds and floor(x*1e6) quantization as the q19 oracle family;
    // argmax tie-break (smallest bench_id on equal floored sim) replayed
    // as a window ordered (sim DESC, bench_id)
    "q80_embedding_decontam" -> {
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
    },
    // q81: the q41 fingerprint replay with the ':tmix1' salt; the rate is
    // floor(100*sqrt(t_min/t_total)) — sqrt/div/floor only, all IEEE-
    // correctly-rounded, so both engines compute identical bits
    "q81_temperature_mix" ->
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
         |FROM kept GROUP BY 1""".stripMargin,
    // q82: the CMS replayed from full token counts — counter addition
    // commutes with hash placement, so the merged-halves sketch equals the
    // full-count sketch by construction and the oracle computes cells once;
    // bucket = fold(token||':cms'||r) low 10 bits (unsigned HUGEINT mod
    // 1024 == Spark's signed pmod, the power-of-two invariant)
    "q82_cms_frequency" -> {
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
    },
    // q83: the log2 histogram replayed from full counts (bucket-wise sum
    // makes merged-halves == full by construction); bit-length buckets and
    // the cum*100 >= p*n comparison are integer-exact in both engines
    "q83_hist_quantiles" ->
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
        |GROUP BY 1, 2""".stripMargin,
    // q84: the bottom-k-by-hash sample replayed as a window — the same
    // ':eks1'-salted fold converted to SIGNED 64-bit so DuckDB's ORDER BY
    // matches Spark's Long ordering exactly, doc_id asc tie-break
    "q84_exact_k_sample" ->
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
         |SELECT source, doc_id, rn FROM r WHERE rn <= 12""".stripMargin,
    // q85: both legs replayed (bm25Sql nested + the q17 cosine spelling),
    // RRF sum in the same fixed leg order
    "q85_hybrid_rrf" ->
      graft.ops.Search.hybridRrfSql(toks, Seq("join", "stream", "window"),
        queryVecId = 7L, k = 20, kLeg = 50),
    // q87: the oracle is the FULL-SCAN bm25 replay over the whole corpus —
    // hash equality proves the incrementally-merged index returns the
    // identical ranking (same floats) as a from-scratch batch scan
    "q87_indexed_bm25" ->
      graft.ops.Search.bm25Sql(toks, Seq("join", "stream", "window"), 20),
    // q88: the same shingle spelling as q14's oracle, md5 digests (DuckDB's
    // md5 == Spark's), integer floor-div basis points
    "q88_source_overlap" -> {
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
    },
    // q89: every check's metric and verdict replayed as one DuckDB
    // aggregate each, unioned in suite order; integer-division mean
    "q89_expectations" ->
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
        |  mean_chars BETWEEN 50 AND 2000 FROM m""".stripMargin,
    // q90: the bloom prefilter has no false negatives and the exact verify
    // removes its false positives, so the gate must equal the PLAIN
    // delta⋉corpus semi join — DuckDB replays that equivalence directly
    "q90_bloom_gate" ->
      """WITH corpus AS (
        |  SELECT DISTINCT md5(lower(trim(text))) AS fp
        |  FROM documents WHERE doc_id % 7 <> 3)
        |SELECT d.doc_id, md5(lower(trim(d.text))) AS fp,
        |  md5(lower(trim(d.text))) IN (SELECT fp FROM corpus) AS is_dup
        |FROM documents d WHERE d.doc_id % 7 = 3""".stripMargin,
    // q91: the exclusive cumsum replayed as a window (DuckDB's scale is
    // fine with one partition; the ENGINE must not use one), integer
    // floor-div file assignment, per-file manifest aggregate
    "q91_file_sizing" ->
      """WITH o AS (
        |  SELECT doc_id, n_chars,
        |    CAST(COALESCE(sum(n_chars) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) // 4096 AS file_id
        |  FROM documents)
        |SELECT file_id, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS file_bytes,
        |  min(doc_id) AS first_key, max(doc_id) AS last_key
        |FROM o GROUP BY 1""".stripMargin,
    // x78: all duplicates arrive inside one watermark horizon, so the
    // appended stream output must equal the batch distinct set
    "x78_watermark_dedup" ->
      "SELECT DISTINCT md5(lower(trim(text))) AS fp FROM documents",
    // q86: the q37 closure assigns group keys, then the q35 fingerprint
    // fold over the GROUP key (':lss1' salt); the leak audit re-joins the
    // pair list against the assignment — must count zero on both sides
    "q86_leakage_split" ->
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
         |FROM summary s LEFT JOIN leaks l ON l.split = s.split""".stripMargin,
    // q78: DuckDB's independent JSON implementation must agree field-wise
    "q78_props_extract" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  count(DISTINCT k) AS n_distinct_k,
        |  CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bad_json
        |FROM e GROUP BY 1""".stripMargin,
    // q77: the q65 clean chain feeds the whole q74 train+apply chain
    // (nbClassifierCtes over the cleaned relation), survivors take q63's
    // per-source budget window — one oracle for the model-based funnel
    "q77_corpus_build3" ->
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
         |  WHEN 'src1' THEN 900 ELSE 700 END""".stripMargin,
    // q75: hashed-bigram DSIR replay — q66's bigram derivation, q20's
    // HUGEINT char fold per bigram, UNSIGNED mod 4096 (== the engine's
    // signed pmod because 4096 divides 2^64), the same smoothed two-step
    // micro ratio, top-50 by (weight desc, doc_id)
    "q75_dsir_select" ->
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
         |FROM sc ORDER BY aw DESC, doc_id LIMIT 50""".stripMargin,
    "q36_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        |  1 AS approx_within_2pct
        |FROM events GROUP BY 1""".stripMargin,
    "q54_hll_union" ->
      """SELECT count(DISTINCT user_id) AS exact_users,
        |  1 AS sketch_within_3pct, 1 AS merge_consistent
        |FROM events""".stripMargin,
    "x27_observed_metrics" ->
      """SELECT * FROM (VALUES
        |  ('rows_seen', (SELECT count(*) FROM documents)),
        |  ('chars_seen', (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents)),
        |  ('dup_groups', (SELECT count(DISTINCT md5(lower(trim(text)))) FROM documents))
        |) t(metric, n)""".stripMargin,
    "x25_compaction" ->
      """SELECT * FROM (VALUES
        |  ('files_before', 16), ('files_after', 2),
        |  ('rows_compacted', (SELECT count(*) FROM documents)),
        |  ('rows_reread', (SELECT count(*) FROM documents)),
        |  ('chars_preserved', 1), ('counted_same_dir', 1)) t(metric, n)""".stripMargin,
    "x26_schema_evolution" ->
      """SELECT CASE WHEN event_id % 2 = 1 THEN event_type END AS event_type,
        |  count(*) AS n, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1""".stripMargin,
    "q35_train_val_split" ->
      """WITH f AS (
        |  SELECT doc_id, n_chars,
        |    list_reduce(
        |      list_prepend(CAST(3421674724 AS HUGEINT),
        |        list_transform(split(CAST(doc_id AS VARCHAR) || ':v1', ''),
        |          c -> CAST(ord(c) AS HUGEINT))),
        |      (h, c) -> (h * 1000003 + c) % (CAST(1 AS HUGEINT) << 64)) AS hu
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n_chars,
        |    CAST((((CASE WHEN hu >= (CAST(1 AS HUGEINT) << 63)
        |          THEN hu - (CAST(1 AS HUGEINT) << 64) ELSE hu END) % 100)
        |        + 100) % 100 AS BIGINT) AS bucket
        |  FROM f)
        |SELECT CASE WHEN bucket < 90 THEN 'train' ELSE 'val' END AS split,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM b GROUP BY 1""".stripMargin,
    "q20_fingerprint64" ->
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
        |FROM f""".stripMargin,
    "q17_knn_bruteforce" -> {
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
    },
    "q18_knn_lsh" -> {
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
    },
    "q19_embedding_neardup" -> {
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
    },
    "q23_knn_ivf" ->
      Similarity.ivfKnnSql(queryPred = "e.vec_id < 20", k = 5, nLists = 16,
        nProbe = 4, iters = 2, dim = 64),
    "q57_semantic_dedup" ->
      Similarity.semanticDedupSql(nListsSql = Similarity.adaptiveListsSql(),
        iters = 2, dim = 64, minSimMicro = 400000L),
    "x20_bucketed_join" ->
      """SELECT 'joined_rows' AS metric, count(*) AS n FROM documents
        |UNION ALL SELECT 'shuffle_exchanges_join', 0""".stripMargin,
    // the join aggregate replayed plainly; injected=1 is the pinned plan
    // fact (a Spark run that fails to plant the runtime filter emits 0
    // and the row-hash mismatches)
    "x47_bloom_join" ->
      """SELECT 'n_rows' AS metric, count(*) AS n
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_size = 1
        |UNION ALL
        |SELECT 'cents', CAST(sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_size = 1
        |UNION ALL SELECT 'bloom_filters_injected', 1""".stripMargin) ++
    FixtureQueries.oracleSql
}
