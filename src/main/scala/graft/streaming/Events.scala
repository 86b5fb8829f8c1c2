package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Event-stream operators. The reference's closest analog is the
  * document-local cross-page state machine (SURVEY.md M6) — session-window
  * logic. Here it is generalized to the events table both ways:
  *
  *  - batch: gap-based sessionization with window functions (fully
  *    SQL-expressible, carries a DuckDB oracle);
  *  - streaming: the same semantics as a Structured Streaming query with
  *    watermarked tumbling windows, and as flatMapGroupsWithState
  *    sessionization with processing-time-independent event-time logic.
  */
object Events {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)
  final case class SessionOut(user_id: Long, session_start: Timestamp,
      n_events: Long, n_errors: Long, value_cents: Long)
  /** start/last are MICROSECONDS since epoch — Timestamp.getTime truncates
    * to millis and the events carry microsecond precision, so session_start
    * would otherwise lose its fractional part vs the batch shadow. */
  final case class SessState(start: Long, last: Long, n: Long, errors: Long,
      cents: Long)

  /** Batch gap-based sessionization: a new session starts when the gap from
    * the previous event of the same user exceeds `gapMinutes`. Output: one
    * row per session with stats. Monetary/value sums are in integer cents
    * for exact cross-engine comparison. */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapSec = gapMinutes * 60L
    events
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > gapSec, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum("new_session").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min("ts").as("session_start"),
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors"),
        sum(floor(col("value") * 100).cast("long")).as("value_cents"))
      .drop("session_id")
  }

  /** Batch tumbling-hour aggregation (the batch shadow of the streaming
    * query below — identical results on the same finite input). */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("value_cents"))

  /** Streaming tumbling-hour aggregation with a watermark for late data. */
  def streamingHourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("value_cents"))

  /** Drive [[streamingHourlyCounts]] over a FINITE batch of events and
    * return the emitted (closed) windows as a DataFrame — the driver-visible
    * correctness surface for the streaming variant (its batch shadow
    * [[hourlyCounts]] is the oracle; on a finite input the closed windows
    * must equal the batch result exactly).
    *
    * Mechanics: the rows are replayed through a MemoryStream, then two
    * far-future sentinel events push the watermark past every real window
    * (append mode only emits a finalized window in a batch that RUNS with
    * the advanced watermark, hence two pushes: one to advance it, one to
    * flush). Sentinels are filtered from the output. The driver-side
    * collect is inherent to the replay harness — a production stream would
    * readStream from the source instead. */
  def replayHourly(spark: SparkSession, events: Dataset[Event]): DataFrame = {
    import spark.implicits._
    val rows = events.collect().toSeq
    val maxTs = rows.iterator.map(_.ts.getTime).maxOption.getOrElse(0L)
    def sentinel(i: Int) = Event(-i.toLong,
      new Timestamp(maxTs + (9 + i) * 3600 * 1000L), -1L, "__sentinel", 0.0, "")
    // sentinel 1 advances the watermark past all windows; sentinel 2 runs
    // one batch WITH the advanced watermark
    Replay.replayToMemory(spark, Seq(rows, Seq(sentinel(1)), Seq(sentinel(2))),
      "append")(in => streamingHourlyCounts(in.toDF()))
      .filter(col("event_type") =!= "__sentinel")
      .select(col("hour"), col("event_type"), col("n"), col("value_cents"))
  }

  /** Drive [[sessionizeStreaming]] over a FINITE batch of events: two
    * far-future sentinel events (a dedicated user) advance the watermark
    * past every real session's gap deadline, so the event-time timeouts
    * flush ALL sessions — on a finite input the result must equal
    * [[sessionizeBatch]] exactly (same gap rule, same integer cents), which
    * gives this streaming operator the same DuckDB oracle as the batch
    * shadow. Sentinels (user_id -1) are filtered from the output. */
  def replaySessions(spark: SparkSession, events: Dataset[Event],
      gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    val rows = events.collect().toSeq
    val maxTs = rows.iterator.map(_.ts.getTime).maxOption.getOrElse(0L)
    val gapMs = gapMinutes * 60 * 1000L
    def sentinel(i: Int) = Event(-i.toLong,
      new Timestamp(maxTs + (10 + i) * gapMs), -1L, "__sentinel", 0.0, "")
    // sentinel 1 advances the watermark past all deadlines; sentinel 2 runs
    // a batch that fires the timeouts
    Replay.replayToMemory(spark, Seq(rows, Seq(sentinel(1)), Seq(sentinel(2))),
      "append")(sessionizeStreaming(_, gapMinutes).toDF())
      .filter(col("user_id") =!= -1L)
      .select(col("user_id"), col("session_start"), col("n_events"),
        col("n_errors"), col("value_cents"))
  }

  /** Stream-stream INTERVAL join: each purchase joined to the same user's
    * clicks in the 2 hours at-or-before it — attribution as a watermarked
    * Structured Streaming join (the streaming analog of the batch range
    * join q27/q28).
    *
    * Scale shape: StreamingSymmetricHashJoin keyed on user_id; the
    * watermark + the time-range condition let Spark EVICT state — a click
    * older than (watermark - 2h) can never match a future purchase, so
    * per-key state is bounded by the window, not the stream length. An
    * inner join emits eagerly when both sides are present (no
    * end-of-window flush needed, unlike the windowed-agg replays). */
  def streamAttribution(clicks: Dataset[Event], purchases: Dataset[Event]): DataFrame = {
    val c = clicks
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "2 hours")
    val p = purchases
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "2 hours")
    p.join(c, expr(
      """p_user = c_user AND
        |click_ts >= purchase_ts - INTERVAL 2 HOURS AND
        |click_ts <= purchase_ts""".stripMargin))
      .select(col("purchase_id"), col("click_id"))
  }

  /** Drive [[streamAttribution]] over a FINITE batch of events. Inner
    * stream-stream joins emit matches as soon as both rows have arrived,
    * so one micro-batch yields every pair — no sentinel machinery. Clicks
    * and purchases are both filtered from ONE source, so the two sides
    * always arrive in the same micro-batch. */
  def replayAttribution(spark: SparkSession, events: Dataset[Event]): DataFrame = {
    import spark.implicits._
    Replay.replayToMemory(spark, Seq(events.collect().toSeq), "append") { in =>
      streamAttribution(in.filter(col("event_type") === "click"),
        in.filter(col("event_type") === "purchase"))
    }.select("purchase_id", "click_id")
  }

  /** Streaming sessionization via flatMapGroupsWithState: event-time gap
    * sessions. A session closes either when a same-user event arrives past
    * the gap (data path) or when the WATERMARK passes its gap deadline
    * (event-time timeout — processing time never schedules batches, so test
    * harnesses using processAllAvailable terminate). */
  def sessionizeStreaming(events: Dataset[Event], gapMinutes: Int = 30): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    // the batch shadow compares unix_timestamp() values, i.e. SECONDS
    // truncated before subtracting — replicate exactly (micros are kept
    // only for session_start precision)
    val gapSec = gapMinutes * 60L
    def sec(us: Long): Long = Math.floorDiv(us, 1000000L)
    // local defs (not object members) so the task closure stays
    // self-contained — referencing the enclosing object would drag a
    // non-serializable module into the closure
    def micros(ts: Timestamp): Long =
      ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
    def microsToTs(us: Long): Timestamp = {
      val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }

    def flush(userId: Long, s: SessState): SessionOut =
      SessionOut(userId, microsToTs(s.start), s.n, s.errors, s.cents)

    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, it: Iterator[Event], state: GroupState[SessState]) => {
          if (state.hasTimedOut) {
            val out = state.getOption.map(flush(userId, _)).iterator
            state.remove()
            out
          } else {
            val sorted = it.toVector.sortBy(e => (micros(e.ts), e.event_id))
            var cur = state.getOption
            val closed = Vector.newBuilder[SessionOut]
            sorted.foreach { e =>
              val t = micros(e.ts)
              cur match {
                case Some(s) if sec(t) - sec(s.last) <= gapSec =>
                  cur = Some(s.copy(last = t, n = s.n + 1,
                    errors = s.errors + (if (e.event_type == "error") 1 else 0),
                    cents = s.cents + math.floor(e.value * 100).toLong))
                case Some(s) =>
                  closed += flush(userId, s)
                  cur = Some(SessState(t, t, 1,
                    if (e.event_type == "error") 1 else 0, math.floor(e.value * 100).toLong))
                case None =>
                  cur = Some(SessState(t, t, 1,
                    if (e.event_type == "error") 1 else 0, math.floor(e.value * 100).toLong))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // close when the watermark passes last-event + gap (must stay
              // strictly ahead of the current watermark or Spark rejects it;
              // the timeout clock is MILLISECONDS)
              state.setTimeoutTimestamp(
                math.max(s.last / 1000L + gapMinutes * 60 * 1000L,
                  state.getCurrentWatermarkMs() + 1))
            }
            closed.result().iterator
          }
        })
  }
}
