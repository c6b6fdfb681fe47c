package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured-Streaming surface (SURVEY §2d): the reference's
  * dashboard consumes a continuously-refreshed metrics table; here
  * the same aggregations run incrementally over an event stream.
  *
  * The transform functions are written against plain DataFrames so
  * the *identical* logical plan serves batch (Verify/oracle) and
  * streaming (readStream + watermark) — Spark's unified model makes
  * the batch query the correctness oracle for the stream.
  */
object EventsStream {

  /** events.parquet physical schema. The ts encoding has varied
    * across driver testdata generations (TIMESTAMP(NANOS) → long via
    * the legacy conf; TIMESTAMP(MICROS) → TIMESTAMP_NTZ), so the
    * streaming schema borrows the type a batch scan of the same file
    * actually produces — a one-time footer read, not a data job —
    * and ts is normalized by the same branch the batch loader uses.
    */
  def rawSchema(tsType: org.apache.spark.sql.types.DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  def readStreamEvents(spark: SparkSession, dir: String): DataFrame = {
    val tsType = spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    // the source is a single file; streaming file sources need a
    // directory, so point at the dir and glob-filter to events
    graft.Tables.normalizeTs(
      spark.readStream.schema(rawSchema(tsType))
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  /** Hourly tumbling-window aggregation per event type. Used by the
    * `stream_windowed_agg` verify query (batch) and the streaming
    * smoke test (with watermark + memory sink).
    */
  def windowedAgg(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        graft.Det.dsum($"value").as("total_value"))
      .select($"window.start".as("bucket_start"), $"event_type",
        $"n_events", $"total_value")
  }

  def windowedAggStreaming(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    windowedAgg(events.withWatermark("ts", "2 hours"))
  }

  /** Stream-static enrichment — the canonical streaming join class
    * beside stream-stream (stream_attribution): each event is joined
    * to the customer dimension (user_id = c_custkey) and revenue is
    * aggregated per (hour, market segment). The static side is
    * planned per micro-batch, so Spark's size-based selection
    * broadcasts the dim while it is small and falls back to a
    * shuffled join when it is not — the stream never blocks on dim
    * size. Works identically as a batch plan (the verify oracle) and
    * under a watermark as an incremental query.
    */
  def enrich(events: DataFrame, customers: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .join(customers.select($"c_custkey", $"c_mktsegment"),
        $"user_id" === $"c_custkey")
      .groupBy(window($"ts", "1 hour"), $"c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        graft.Det.dsum($"value").as("total_value"))
      .select($"window.start".as("bucket_start"),
        $"c_mktsegment".as("segment"), $"n_events", $"total_value")
  }

  def enrichStreaming(events: DataFrame, customers: DataFrame): DataFrame =
    enrich(events.withWatermark("ts", "2 hours"), customers)

  /** Streaming exact dedup on event_id — the streaming twin of
    * dedup_exact. dropDuplicatesWithinWatermark is the form whose
    * state is actually bounded by the watermark: plain
    * dropDuplicates(key) without the event-time column in the key
    * keeps one state entry per distinct id forever.
    */
  def dedupStreaming(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  // ---- click→purchase attribution (stream-stream interval join) ----

  /** The (purchase, click) pairs where the click is by the same user
    * within the hour before the purchase — the join core shared by
    * the batch attribution queries and the stream-stream specs. In
    * streaming, the time-interval condition plus watermarks bound
    * the join state: clicks older than purchase-watermark − 1h are
    * dropped.
    *
    * `joinType` "inner" keeps attributed purchases only;
    * "left_outer" keeps EVERY purchase, with its matching clicks or
    * one all-null click row — the organic (unattributed) conversions
    * a marketing funnel must keep. In streaming the outer form is the
    * watermark-driven outer join: an unmatched purchase emits only
    * once the click-side watermark passes its interval (state
    * eviction proves no matching click can still arrive), so the
    * nulls are late by one watermark delay but never wrong. Same
    * state bound either way.
    */
  def clickPurchasePairs(purchases: DataFrame, clicks: DataFrame,
      joinType: String): DataFrame = {
    val p = purchases.select(col("event_id").as("purchase_id"),
      col("user_id"), col("ts").as("purchase_ts"))
    val c = clicks.select(col("event_id").as("click_id"),
      col("user_id").as("c_user"), col("ts").as("click_ts"))
    p.join(c, col("user_id") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"),
        joinType)
      .drop("c_user")
  }

  // ---- stateful sessionization (flatMapGroupsWithState) ----

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, n: Long, total: Double)
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, total_value: Double)

  val gapMicros: Long = 30L * 60 * 1000 * 1000

  // micros, not getTime*1000: Timestamp.getTime is millis and would
  // zero the sub-millisecond component the batch oracle keeps (a
  // 30min+500us gap must still open a new session)
  private def micros(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000 + (ts.getNanos / 1000) % 1000

  // full-precision emit: new Timestamp(us/1000) alone would truncate
  // to millis and lose the sub-ms component the batch oracle
  // (min/max ts) keeps
  private def toTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000)
    t.setNanos(((us % 1000000) * 1000).toInt)
    t
  }

  private def emit(userId: Long, s: SessionState): Session =
    Session(userId, toTs(s.start), toTs(s.last), s.n, s.total)

  /** Fold one trigger's events (time-sorted) into the running
    * session state; returns the sessions closed by in-batch gaps and
    * the still-open tail state.
    */
  private def foldEvents(userId: Long, evs: Seq[Event],
      init: Option[SessionState]): (List[Session], Option[SessionState]) = {
    var sessions = List.empty[Session]
    var cur = init
    for (e <- evs) {
      val t = micros(e.ts)
      cur match {
        case Some(s) if t - s.last > gapMicros =>
          sessions ::= emit(userId, s)
          cur = Some(SessionState(t, t, 1, e.value))
        case Some(s) =>
          cur = Some(SessionState(s.start, t, s.n + 1, s.total + e.value))
        case None =>
          cur = Some(SessionState(t, t, 1, e.value))
      }
    }
    (sessions.reverse, cur)
  }

  /** Streaming sessionizer (NoTimeout): emits a session only when a
    * later event for the same user arrives past the gap. Sessions
    * still open at end of input stay in state — the single-burst
    * smoke-test form.
    */
  def sessionize(events: Dataset[Event]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, evs: Iterator[Event], state: GroupState[SessionState]) =>
          // Sort within the group: local smoke feeds one batch; a
          // production stream relies on the watermark for order.
          val sorted = evs.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          val (sessions, cur) = foldEvents(userId, sorted, state.getOption)
          cur.foreach(state.update)
          sessions.iterator
      }
  }

  // ---- keep-latest upsert (CDC apply in motion) ----

  case class Latest(user_id: Long, last_event_id: Long,
      last_ts: java.sql.Timestamp, last_type: String, last_value: Double)

  private def latestKey(l: Latest): (Long, Long) =
    (micros(l.last_ts), l.last_event_id)

  /** Streaming keep-latest-per-key upsert view — cdc_merge's
    * keep-latest semantics running incrementally: one state row per
    * key holding the max-(event-time, id) event, re-emitted whenever
    * a batch changes it (OutputMode.Update). State is O(keys) — the
    * upsert table itself — which is the floor for any materialized
    * CDC view; the batch window-rank form in operators.Streaming is
    * the oracle.
    */
  def upsertLatest(events: Dataset[Event]): Dataset[Latest] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[Latest, Latest](GroupStateTimeout.NoTimeout) {
        (userId: Long, evs: Iterator[Event], state: GroupState[Latest]) =>
          val candidates = state.getOption.iterator ++ evs.map(e =>
            Latest(userId, e.event_id, e.ts, e.event_type, e.value))
          val best = candidates.maxBy(latestKey)
          state.update(best)
          best
      }
  }

  /** Production sessionizer: EVENT-TIME TIMEOUT + watermark. A
    * session closes either by an in-batch gap or — the part NoTimeout
    * can't do — when the watermark passes last_event + gap with no
    * new data for the user, so idle sessions are emitted and their
    * state is dropped instead of living forever. State per user is
    * O(1); the watermark bounds total state to active users.
    */
  def sessionizeEventTime(events: Dataset[Event]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "30 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, evs: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val closed = emit(userId, state.get)
            state.remove()
            Iterator.single(closed)
          } else {
            val sorted = evs.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            val (sessions, cur) = foldEvents(userId, sorted, state.getOption)
            cur match {
              case Some(s) =>
                state.update(s)
                // close when the watermark passes last + gap; clamp
                // above the current watermark (a very-late event's
                // timeout may otherwise land in the past → error)
                val timeoutMs = math.max((s.last + gapMicros) / 1000 + 1,
                  state.getCurrentWatermarkMs() + 1)
                state.setTimeoutTimestamp(timeoutMs)
              case None => // no events and no prior state
            }
            sessions.iterator
          }
      }
  }
}
