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

/** The relational queries: TPC-H-shaped scans, joins, aggregations,
  * windows, set operations and sketches over the driver's tables, with
  * the event sessionization and windows (and their streaming replays),
  * as-of and range joins, sequence packing and the first table-lifecycle
  * surfaces. Each [[Query]] holds its Spark plan and the DuckDB oracle
  * the driver checks it against. */
object Relational {

  /** Top-3-orders oracle: shared by q06 (window row_number) and q32 (the
    * bounded-heap typed Aggregator) — same deterministic ranking. */
  private val top3OrdersSql =
    """SELECT o_custkey, o_orderkey, rn FROM (
      |  SELECT o_custkey, o_orderkey,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) WHERE rn <= 3""".stripMargin

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

  /** The inputs of q24 and q50: purchases, and each user's clicks (the
    * top value per timestamp) with the click time carried as a column. */
  private def asofInputs(ev: DataFrame): (DataFrame, DataFrame) = (
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_id")),
    ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(floor(col("value") * 100).cast("long")).as("click_cents"))
      .select(col("user_id"), col("ts"), col("ts").as("click_ts"), col("click_cents")))

  /** The inputs of q27 and q28: clicks as points, and each high-value
    * purchase's 2h window. */
  private def attributionInputs(ev: DataFrame): (DataFrame, DataFrame) = (
    ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_timestamp(col("ts")).as("x"),
        floor(col("value") * 100).cast("long").as("cents")),
    ev.filter(col("event_type") === "purchase" && col("value") >= 200)
      .select(col("event_id").as("purchase_id"), unix_timestamp(col("ts")).as("lo"))
      .withColumn("hi", col("lo") + 7199L))

  /** Each purchase's attributed clicks, from the joined (click, window) rows. */
  private def attribution(joined: DataFrame): DataFrame = joined.groupBy("purchase_id")
    .agg(count(lit(1)).as("n_clicks"), countDistinct(col("user_id")).as("n_users"),
      sum(col("cents")).as("click_cents"))

  /** Gap-based sessions: q09 (batch) and x15 (its streaming replay). */
  private val sessionsSql: String =
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
      |FROM sessioned GROUP BY user_id, session_id""".stripMargin

  /** Hourly event windows: q10 (batch) and x13 (its streaming replay). */
  private val hourlySql: String =
    """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
      |  CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events GROUP BY 1, 2""".stripMargin

  val queries: Seq[Query] = Seq(
    // ---- scans/filters/aggregation (TPC-H Q1 shape)
    Query("q01_pricing_summary", ((s, d) => {
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
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(floor(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
        |  CAST(sum(CAST(floor(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |  CAST(sum(CAST(floor(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
        |  count(*) AS n_rows,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1, 2""".stripMargin),
    // ---- order-by + limit (top-k)
    Query("q02_top_orders", ((s, d) => {
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          floor(col("o_totalprice") * 100).cast("long").as("price_cents"))
        .orderBy(col("price_cents").desc, col("o_orderkey"))
        .limit(10)
    }),
      """SELECT o_orderkey, o_custkey, CAST(floor(o_totalprice*100) AS BIGINT) AS price_cents
        |FROM orders ORDER BY price_cents DESC, o_orderkey LIMIT 10""".stripMargin),
    // ---- multi-join with broadcast dimension (TPC-H Q5 shape)
    Query("q03_revenue_by_nation", ((s, d) => {
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
      """SELECT n_name,
        |  CAST(sum(CAST(floor(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin),
    // ---- semi-join (EXISTS)
    Query("q04_priority_with_returns", ((s, d) => {
      val o = t(s, d, "orders")
      val li = t(s, d, "lineitem").filter(col("l_returnflag") === "R")
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
    }),
      """SELECT o_orderpriority, count(*) AS n_orders FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY 1""".stripMargin),
    // ---- anti-join (NOT EXISTS)
    Query("q05_customers_without_orders", ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_customers"))
    }),
      """SELECT c_nationkey, count(*) AS n_customers FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1""".stripMargin),
    // ---- window: top-3 orders per customer
    Query("q06_top3_orders_per_customer", ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"))
    }),
      top3OrdersSql),
    // ---- same top-3, but via the bounded-heap typed Aggregator
    //      (ops.TopK): two-phase ObjectHashAggregate, the shuffle carries
    //      at most k entries per group per map task instead of every row
    Query("q32_topk_aggregator", ((s, d) =>
      graft.ops.TopK.topKByValue(t(s, d, "orders"),
        "o_custkey", "o_totalprice", "o_orderkey", k = 3)),
      // q32 computes the same top-3 with the bounded-heap typed Aggregator
      // (shuffle carries k entries per group per task, not whole groups)
      top3OrdersSql),
    // ---- rollup (grouping sets)
    Query("q07_rollup_status_priority", ((s, d) => {
      t(s, d, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100).cast("long")).as("total_cents"))
    }),
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin),
    // ---- exact distinct aggregation
    Query("q08_supplier_part_fanout", ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          count(lit(1)).as("n_items"))
    }),
      """SELECT l_suppkey, count(DISTINCT l_partkey) AS n_parts, count(*) AS n_items
        |FROM lineitem GROUP BY 1""".stripMargin),
    // ---- gap-based sessionization (window lag + running sum)
    Query("q09_event_sessions", ((s, d) =>
      Events.sessionizeBatch(t(s, d, "events"))),
      sessionsSql),
    // ---- the Structured Streaming sessionization (flatMapGroupsWithState
    //      with EVENT-TIME timeouts) replayed over the finite events
    //      table; closed sessions equal the batch shadow -> q09's oracle
    Query("x15_stream_sessions", ((s, d) => {
      import s.implicits._
      Events.replaySessions(s, t(s, d, "events").as[Events.Event])
    }),
      sessionsSql),
    // ---- tumbling time-window aggregation (batch shadow of streaming)
    Query("q10_events_hourly", ((s, d) =>
      Events.hourlyCounts(t(s, d, "events"))),
      hourlySql),
    // ---- the ACTUAL Structured Streaming variant (watermark + windowed
    //      agg, append mode), replayed over the finite events table; on a
    //      finite input its closed windows must equal the batch shadow,
    //      so it shares q10's SQL oracle
    Query("x13_stream_hourly", ((s, d) => {
      import s.implicits._
      Events.replayHourly(s, t(s, d, "events").as[Events.Event])
    }),
      hourlySql),
    // ---- stream-stream watermarked interval join (the streaming analog
    //      of q27's range join): purchase x same-user clicks within 2h,
    //      state bounded by watermark + time-range eviction
    Query("x24_stream_attribution", ((s, d) => {
      import s.implicits._
      // a user subset keeps the single-micro-batch replay's join state
      // (and the bench bill) bounded; semantics are unchanged — the
      // oracle carries the same predicate
      Events.replayAttribution(s,
        t(s, d, "events").filter(col("user_id") < 30).as[Events.Event])
    }),
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id
        |FROM events p JOIN events c
        |  ON p.event_type = 'purchase' AND c.event_type = 'click'
        | AND p.user_id = c.user_id AND p.user_id < 30 AND c.user_id < 30
        | AND c.ts >= p.ts - INTERVAL 2 HOUR AND c.ts <= p.ts""".stripMargin),
    // ---- as-of join (time-series enrichment; no Spark built-in):
    //      each purchase gets the user's most recent click at-or-before
    //      it. The oracle is DuckDB's NATIVE ASOF LEFT JOIN — an
    //      independent implementation of the same semantics.
    Query("q24_asof_join", ((s, d) => {
      val (purchases, clicks) = asofInputs(t(s, d, "events"))
      graft.ops.AsOf.asofJoin(purchases, clicks, key = "user_id", ts = "ts",
        leftCols = Seq("purchase_id"), rightCols = Seq("click_ts", "click_cents"))
    }),
      asofOracleSql),
    // ---- the SAME as-of join through the full custom-operator path:
    //      logical AsOfJoinPlan + planner Strategy + AsOfJoinExec
    //      (per-partition linear merge, O(1) buffered rows per task) —
    //      must hash-match q24's window-carry composition via the shared
    //      DuckDB ASOF oracle
    Query("q50_asof_physical", ((s, d) => {
      val (purchases, clicks) = asofInputs(t(s, d, "events"))
      graft.plans.PhysicalAsOf.asofJoin(purchases, clicks,
        key = "user_id", ts = "ts")
    }),
      asofOracleSql),
    // ---- set operations (INTERSECT / EXCEPT)
    Query("q25_set_ops", ((s, d) => {
      val sn = t(s, d, "supplier").select(col("s_nationkey").as("nationkey"))
      val cn = t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
      sn.intersect(cn).withColumn("which", lit("both"))
        .unionByName(cn.except(sn).withColumn("which", lit("customer_only")))
        .unionByName(sn.except(cn).withColumn("which", lit("supplier_only")))
    }),
      """SELECT s_nationkey AS nationkey, 'both' AS which FROM supplier
        |INTERSECT SELECT c_nationkey, 'both' FROM customer
        |UNION ALL
        |(SELECT c_nationkey, 'customer_only' FROM customer
        | EXCEPT SELECT s_nationkey, 'customer_only' FROM supplier)
        |UNION ALL
        |(SELECT s_nationkey, 'supplier_only' FROM supplier
        | EXCEPT SELECT c_nationkey, 'supplier_only' FROM customer)""".stripMargin),
    // ---- CUBE grouping sets (q07 covers ROLLUP)
    Query("q26_cube", ((s, d) =>
      t(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))),
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin),
    // ---- range (interval) join via bin bucketing (no equality key in
    //      the predicate — naively a nested-loop join; the operator
    //      manufactures a bin equi-key instead): post-purchase click
    //      attribution, clicks inside each high-value purchase's 2h window
    Query("q27_range_join", ((s, d) => {
      val (clicks, windows) = attributionInputs(t(s, d, "events"))
      attribution(graft.ops.RangeJoin
        .pointsInIntervals(clicks, windows, "x", "lo", "hi", binWidth = 7200L))
    }),
      rangeAttributionSql),
    // ---- same semantics as q27, but written as a PLAIN inequality join:
    //      the Catalyst optimizer rule (plans.RangeJoinRewrite, the
    //      SparkSessionExtensions injection) manufactures the bin
    //      equi-key — no nested loop even though the query never heard
    //      of RangeJoin
    Query("q28_rangejoin_rule", ((s, d) => {
      val (clicks, windows) = attributionInputs(t(s, d, "events"))
      attribution(clicks.join(windows, col("x") >= col("lo") && col("x") <= col("hi")))
    }),
      // q28 computes the same result through a plain inequality join that
      // the RangeJoinRewrite optimizer rule rewrites — identical oracle
      rangeAttributionSql),
    // ---- salted skew join (the 100 TB hot-key defense; testdata is
    //      uniform, so this pins SEMANTICS — the skew spread itself is
    //      pinned by SkewJoinSpec's 90%-hot-key histogram)
    Query("q29_salted_join", ((s, d) => {
      val li = t(s, d, "lineitem")
      val p = t(s, d, "part")
        .select(col("p_partkey").as("l_partkey"), col("p_type"))
      graft.ops.SkewJoin.saltedJoin(li, p, "l_partkey", saltFactor = 8)
        .groupBy("p_type")
        .agg(count(lit(1)).as("n_items"),
          sum(floor(col("l_extendedprice") * 100).cast("long")).as("revenue_cents"))
    }),
      """SELECT p_type, count(*) AS n_items,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1""".stripMargin),
    // ---- relational PIVOT (wide aggregation; the reference's step_5
    //      "pivot" is a column derivation, so this is the engine-only
    //      genuine PIVOT — explicit value list keeps the plan one-pass,
    //      no values-discovery job)
    Query("q30_pivot_wide", ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(floor(col("l_quantity") * 100).cast("long")))
        .select(col("l_returnflag"), col("F").as("qty_f_cents"),
          col("O").as("qty_o_cents"))),
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN l_linestatus = 'F'
        |       THEN CAST(floor(l_quantity * 100) AS BIGINT) END) AS BIGINT) AS qty_f_cents,
        |  CAST(sum(CASE WHEN l_linestatus = 'O'
        |       THEN CAST(floor(l_quantity * 100) AS BIGINT) END) AS BIGINT) AS qty_o_cents
        |FROM lineitem GROUP BY 1""".stripMargin),
    // ---- distinctive terms per document (keyword extraction): the 3
    //      rarest corpus terms in each doc, ranked by document frequency.
    //      Integer/string sort keys only — no float idf — so the result
    //      is bit-deterministic cross-engine. Two shuffles total: the
    //      doc-frequency agg and the rank window; term join broadcasts
    //      when the vocabulary is small, hash-shuffles when it is not.
    Query("q31_distinctive_terms", ((s, d) => {
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
      s"""WITH dt AS (
         |  SELECT doc_id, unnest(list_distinct($toks)) AS term FROM documents),
         |df AS (SELECT term, count(*) AS doc_freq FROM dt GROUP BY 1),
         |ranked AS (
         |  SELECT dt.doc_id, dt.term, df.doc_freq,
         |    row_number() OVER (PARTITION BY dt.doc_id
         |      ORDER BY df.doc_freq ASC, dt.term ASC) AS rank
         |  FROM dt JOIN df ON dt.term = df.term)
         |SELECT doc_id, rank, term, doc_freq FROM ranked WHERE rank <= 3""".stripMargin),
    // ---- hive-style partitioned sink + partition-pruned scan (the
    //      IO-layer filter: the skipped event types' files are never
    //      opened — PartitionedSpec pins the selected/total directory
    //      counts; this query pins the round-trip values)
    Query("x22_partitioned_scan", ((s, d) => {
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
      """SELECT user_id, count(*) AS n_purchases,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1""".stripMargin),
    // ---- sequence packing (concat-then-chunk training layout): global
    //      stream offsets via the scalable two-pass prefix sum — no
    //      SinglePartition window anywhere in the plan
    Query("q33_sequence_packing", ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          size(Dedup.tokens(col("text"))).cast("long").as("n_tokens"))
      graft.ops.Packing.packSequences(docs, "doc_id", "n_tokens", budget = 4096)
    }),
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
         |FROM p""".stripMargin),
    // ---- the packed layout split into per-(doc, sequence) segments —
    //      boundary-straddling docs included, the step q33 defers to
    //      the trainer; budget 64 so most docs straddle at least once
    Query("q62_pack_segments", ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          size(Dedup.tokens(col("text"))).cast("long").as("n_tokens"))
      graft.ops.Packing.packSegments(docs, "doc_id", "n_tokens", budget = 64)
    }),
      // q62: q33's prefix sum expanded to (doc, sequence) overlaps — a doc
      // at [off, off+w) intersects sequences off/B .. (off+w-1)/B
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
         |FROM seg""".stripMargin),
    // ---- the curation funnel: the training-data ops COMPOSED the way a
    //      real corpus build runs them — language gate -> quality gate ->
    //      exact-dedup keeper — with per-stage survivor counts (the
    //      numbers a pipeline owner actually monitors)
    Query("q34_curation_funnel", ((s, d) => {
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
         |UNION ALL SELECT 's3_dedup_keeper', count(*) FROM keepers""".stripMargin),
    // ---- deterministic train/val split: hash-bucket the doc id with the
    //      engine's fingerprint (salted), so the assignment is stable
    //      across runs, machines, and engine versions — resampling never
    //      leaks val docs into train. No rand(): reproducibility IS the
    //      operator.
    Query("q35_train_val_split", ((s, d) =>
      tIds(s, d, "documents")
        .withColumn("bucket",
          pmod(TextAnalysis.fingerprint64(
            concat(col("doc_id").cast("string"), lit(":v1"))), lit(100L)))
        .withColumn("split",
          when(col("bucket") < 90, "train").otherwise("val"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))),
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
        |FROM b GROUP BY 1""".stripMargin),
    // ---- small-files compaction on the committed sink: 4 appends of 4
    //      files each -> 16 small files -> 2 compacted ones, rows intact,
    //      old dir swapped out atomically (Checkpointing.compact)
    Query("x25_compaction", ((s, d) => {
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
      val rereadRows = graft.io.Parquet.read(s, dir).count()
      val rereadSum = graft.io.Parquet.read(s, dir).agg(sum("n_chars")).as[Long].head()
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
      """SELECT * FROM (VALUES
        |  ('files_before', 16), ('files_after', 2),
        |  ('rows_compacted', (SELECT count(*) FROM documents)),
        |  ('rows_reread', (SELECT count(*) FROM documents)),
        |  ('chars_preserved', 1), ('counted_same_dir', 1)) t(metric, n)""".stripMargin),
    // ---- parquet schema evolution on an append sink: batch 2 adds a
    //      column; mergeSchema reads old rows with NULLs — the
    //      add-a-column migration every long-lived table hits
    Query("x26_schema_evolution", ((s, d) => {
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
      """SELECT CASE WHEN event_id % 2 = 1 THEN event_type END AS event_type,
        |  count(*) AS n, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1""".stripMargin),
    // ---- observed metrics (the O8 progress/metrics analog done the
    //      Spark way): Observation attaches aggregates to the RUNNING
    //      dedup job — input rows and bytes are measured in the same
    //      pass, no second scan — and the values are exact, so they
    //      carry a SQL oracle like any other output
    Query("x27_observed_metrics", ((s, d) => {
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
      """SELECT * FROM (VALUES
        |  ('rows_seen', (SELECT count(*) FROM documents)),
        |  ('chars_seen', (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents)),
        |  ('dup_groups', (SELECT count(DISTINCT md5(lower(trim(text)))) FROM documents))
        |) t(metric, n)""".stripMargin),
    // ---- HLL approx distinct next to the exact count: the sketch is
    //      order-insensitive and deterministic for a fixed input, so the
    //      within-2% flag is a stable, oracle-checkable output even
    //      though the estimate itself has no cross-engine oracle. At
    //      100 TB the sketch is the affordable default (constant memory
    //      per group vs the exact count's distinct pre-aggregation).
    Query("q36_approx_distinct", ((s, d) => {
      t(s, d, "events")
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"),
          approx_count_distinct(col("user_id"), rsd = 0.02).as("n_approx"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("n_approx") - col("n_exact")) * 50 <= col("n_exact"))
            .cast("int").as("approx_within_2pct"))
    }),
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        |  1 AS approx_within_2pct
        |FROM events GROUP BY 1""".stripMargin),
    // ---- HLL sketch PERSISTENCE + MERGE (q36's sketch as a mergeable
    //      artifact): per-day DataSketches HLL sketches of user_id,
    //      union-aggregated to the corpus total WITHOUT rescanning —
    //      the incremental-cardinality shape (sketch each day/shard
    //      once, store bytes, merge on demand). Register-wise max
    //      merge is exact: the merged estimate must EQUAL the
    //      single-pass estimate bit-for-bit (merge_consistent=1, part
    //      of the compared output), and land within 3% of exact.
    Query("q54_hll_union", ((s, d) => {
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
      """SELECT count(DISTINCT user_id) AS exact_users,
        |  1 AS sketch_within_3pct, 1 AS merge_consistent
        |FROM events""".stripMargin),
    // ---- describe() stats incl. exact median (C11)
    Query("q21_event_value_stats", ((s, d) =>
      t(s, d, "events")
        .withColumn("cents", floor(col("value") * 100).cast("long"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          min("cents").as("min_cents"),
          max("cents").as("max_cents"),
          floor(avg("cents")).cast("long").as("avg_cents_floor"),
          (expr("percentile(cents, 0.5)") * 2).cast("long").as("median_cents_x2"))),
      """WITH c AS (SELECT event_type, CAST(floor(value*100) AS BIGINT) AS cents FROM events)
        |SELECT event_type, count(*) AS n,
        |  min(cents) AS min_cents, max(cents) AS max_cents,
        |  CAST(floor(avg(cents)) AS BIGINT) AS avg_cents_floor,
        |  CAST(2*quantile_cont(cents, 0.5) AS BIGINT) AS median_cents_x2
        |FROM c GROUP BY 1""".stripMargin),
    // ---- per-entity merge: min/max + order-normalized collected list (C14)
    Query("q22_user_activity_merge", ((s, d) =>
      t(s, d, "events")
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          min("ts").as("first_seen"),
          max("ts").as("last_seen"),
          array_join(sort_array(collect_list(col("event_type"))), ",").as("types"))),
      """SELECT user_id, count(*) AS n_events, min(ts) AS first_seen,
        |  max(ts) AS last_seen,
        |  string_agg(event_type, ',' ORDER BY event_type) AS types
        |FROM events GROUP BY 1""".stripMargin)
  )
}
