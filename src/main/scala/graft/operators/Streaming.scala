package graft.operators

import graft.{Det, Q, Tables}
import graft.Out._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch-equivalent verify queries for the streaming surface
  * (SURVEY §2d). The same transforms run incrementally in
  * graft.streaming.EventsStream; Spark's unified batch/stream model
  * means these oracle-checked plans are the stream's correctness
  * reference.
  */
object Streaming {

  // ---- stream_windowed_agg: hourly tumbling windows per type ----

  private def windowedAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.streaming.EventsStream.windowedAgg(Tables(spark, dir).events)
      .resultOrder($"bucket_start", $"event_type")
  }

  private val windowedAggSql =
    s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket_start,
       |  event_type,
       |  COUNT(*) AS n_events,
       |  ${Det.dsumSql("value")} AS total_value
       |FROM events
       |GROUP BY bucket_start, event_type
       |ORDER BY bucket_start, event_type""".stripMargin

  // ---- stream_enrich: stream-static dimension join ----
  // The enrichment pattern every event pipeline runs before
  // aggregating: attach dimension attributes (here customer market
  // segment) to the stream, then window-aggregate on the enriched
  // key. The batch form is the oracle; the incremental form (same
  // plan under a watermark) is spec'd stream==batch in StreamingSpec.

  private def enrich(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    graft.streaming.EventsStream.enrich(t.events, t.customer)
      .resultOrder($"bucket_start", $"segment")
  }

  private val enrichSql =
    s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket_start,
       |  c_mktsegment AS segment,
       |  COUNT(*) AS n_events,
       |  ${Det.dsumSql("value")} AS total_value
       |FROM events JOIN customer ON user_id = c_custkey
       |GROUP BY bucket_start, segment
       |ORDER BY bucket_start, segment""".stripMargin

  // ---- stream_sessionize: 30-min-gap sessions (batch window form) ----
  // The flatMapGroupsWithState variant lives in EventsStream; this
  // window-function formulation is its deterministic batch oracle.

  private def sessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(spark, dir).events
      .withColumn("prev_us", lag(unix_micros($"ts"), 1).over(w))
      .withColumn("is_new",
        when($"prev_us".isNull ||
          unix_micros($"ts") - $"prev_us" > 1800000000L, 1L).otherwise(0L))
      .withColumn("session_idx", sum($"is_new").over(wRun))
      .groupBy($"user_id", $"session_idx")
      .agg(
        min($"ts").as("session_start"),
        max($"ts").as("session_end"),
        count(lit(1)).as("n_events"),
        Det.dsum($"value").as("total_value"))
      .resultOrder($"user_id", $"session_idx")
  }

  private val sessionizeSql =
    s"""WITH e AS (
       |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
       |  FROM events),
       |m AS (
       |  SELECT *,
       |    CASE WHEN LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
       |           OR epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
       |         THEN 1 ELSE 0 END AS is_new
       |  FROM e),
       |s AS (
       |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
       |  FROM m)
       |SELECT user_id,
       |  CAST(session_idx AS BIGINT) AS session_idx,
       |  MIN(ts) AS session_start,
       |  MAX(ts) AS session_end,
       |  COUNT(*) AS n_events,
       |  ${Det.dsumSql("value")} AS total_value
       |FROM s
       |GROUP BY user_id, session_idx
       |ORDER BY user_id, session_idx""".stripMargin

  // ---- stream_sliding_window: 10-min windows sliding by 5 min ----
  // Each event lands in exactly two windows; the DuckDB oracle
  // derives both window starts arithmetically (floor-to-slide and
  // one slide earlier).

  private def slidingWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).events
      .groupBy(window($"ts", "10 minutes", "5 minutes"), $"event_type")
      .agg(count(lit(1)).as("n_events"), Det.dsum($"value").as("total_value"))
      .select($"window.start".as("win_start"), $"event_type", $"n_events",
        $"total_value")
      .resultOrder($"win_start", $"event_type")
  }

  private val slidingWindowSql =
    s"""WITH e AS (
       |  SELECT event_type, value,
       |    (epoch_us(CAST(ts AS TIMESTAMP)) // 300000000) * 300000000 AS b1
       |  FROM events),
       |x AS (
       |  SELECT event_type, value, make_timestamp(ws) AS win_start
       |  FROM e, UNNEST([b1 - 300000000, b1]) AS t(ws))
       |SELECT win_start, event_type,
       |  COUNT(*) AS n_events,
       |  ${Det.dsumSql("value")} AS total_value
       |FROM x
       |GROUP BY win_start, event_type
       |ORDER BY win_start, event_type""".stripMargin

  // ---- stream_session_window: built-in session_window operator ----
  // Spark's native gap-based session operator; the oracle is the
  // same window-function sessionization as stream_sessionize
  // (min/max/count per 30-min-gap session).

  private def sessionWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).events
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
      .agg(
        min($"ts").as("session_start"),
        max($"ts").as("session_end"),
        count(lit(1)).as("n_events"),
        Det.dsum($"value").as("total_value"))
      .select($"user_id", $"session_start", $"session_end", $"n_events",
        $"total_value")
      .resultOrder($"user_id", $"session_start")
  }

  private val sessionWindowSql =
    s"""WITH e AS (
       |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
       |  FROM events),
       |m AS (
       |  SELECT *,
       |    CASE WHEN LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
       |           OR epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000000
       |         THEN 1 ELSE 0 END AS is_new
       |  FROM e),
       |s AS (
       |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
       |  FROM m)
       |SELECT user_id,
       |  MIN(ts) AS session_start,
       |  MAX(ts) AS session_end,
       |  COUNT(*) AS n_events,
       |  ${Det.dsumSql("value")} AS total_value
       |FROM s
       |GROUP BY user_id, session_idx
       |ORDER BY user_id, session_start""".stripMargin

  // ---- stream_dedup: batch contract of the streaming dedup ----
  // EventsStream.dedupStreaming (dropDuplicatesWithinWatermark on
  // event_id) is proven on the stream by StreamingSpec: feeding the
  // input TWICE yields exactly the original rows. That contract is
  // SQL-expressible, so the operator also carries a full oracle row:
  // double the table, dedup, and the result must hash-equal the base
  // table. The batch dedup runs on ALL columns (not just event_id) so
  // both engines compute the same relation — DISTINCT * — even if an
  // id ever repeats with a different payload; on the stream the id IS
  // the dedup key, which StreamingSpec pins at the test SF.

  private def dedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables(spark, dir).events
    e.unionAll(e).dropDuplicates().resultOrder($"event_id")
  }

  private val dedupSql =
    """WITH doubled AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
      |    value, props
      |  FROM events
      |  UNION ALL
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
      |    value, props
      |  FROM events)
      |SELECT DISTINCT * FROM doubled ORDER BY event_id""".stripMargin

  // ---- stream_attribution: last-click attribution ----
  // Funnel attribution: each purchase is credited to the user's most
  // recent click within the preceding hour. The pair generation is a
  // per-user time-interval join — EXACTLY the shape Structured
  // Streaming's stream-stream join executes incrementally with
  // watermark-bounded state (StreamingSpec proves stream pairs ==
  // batch pairs); the rank-1 pick is the batch reduction on top.

  /** Each purchase's most recent click within the preceding hour
    * (rank 1 by click_ts, click_id descending), over the interval
    * join of `joinType`.
    */
  private def lastClick(events: DataFrame, joinType: String): DataFrame = {
    val pairs = graft.streaming.EventsStream.clickPurchasePairs(
      events.filter(col("event_type") === "purchase"),
      events.filter(col("event_type") === "click"), joinType)
    val w = Window.partitionBy(col("purchase_id"))
      .orderBy(col("click_ts").desc, col("click_id").desc)
    pairs.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("click_id"), col("click_ts"),
        expr("(unix_micros(purchase_ts) - unix_micros(click_ts)) div 1000000")
          .as("gap_s"))
  }

  private def attribution(spark: SparkSession, dir: String): DataFrame =
    lastClick(Tables(spark, dir).events, "inner").resultOrder(col("purchase_id"))

  /** Last-click attribution with ORGANIC conversions kept: the
    * left-outer interval join gives every purchase either its clicks
    * or one null click row, so the rank-1 pick yields exactly one row
    * per purchase with an `attributed` flag. Null-safety of the rank:
    * a partition is either all non-null clicks or the single null
    * row, so the click_ts DESC ordering never compares null against
    * non-null — the cross-engine null-ordering trap cannot bite.
    */
  private def attributionOuter(spark: SparkSession, dir: String): DataFrame =
    lastClick(Tables(spark, dir).events, "left_outer")
      .withColumn("attributed", col("click_id").isNotNull)
      .resultOrder(col("purchase_id"))

  private val attributionOuterSql =
    """WITH p AS (
      |  SELECT event_id AS purchase_id, user_id,
      |    CAST(ts AS TIMESTAMP) AS purchase_ts
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT event_id AS click_id, user_id AS c_user,
      |    CAST(ts AS TIMESTAMP) AS click_ts
      |  FROM events WHERE event_type = 'click')
      |SELECT purchase_id, user_id, purchase_ts, click_id, click_ts,
      |  (epoch_us(purchase_ts) - epoch_us(click_ts)) // 1000000 AS gap_s,
      |  click_id IS NOT NULL AS attributed
      |FROM p LEFT JOIN c ON c_user = user_id
      |  AND click_ts <= purchase_ts
      |  AND click_ts >= purchase_ts - INTERVAL 1 HOUR
      |QUALIFY ROW_NUMBER() OVER (PARTITION BY purchase_id
      |  ORDER BY click_ts DESC, click_id DESC) = 1
      |ORDER BY purchase_id""".stripMargin

  private val attributionSql =
    """WITH p AS (
      |  SELECT event_id AS purchase_id, user_id,
      |    CAST(ts AS TIMESTAMP) AS purchase_ts
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT event_id AS click_id, user_id AS c_user,
      |    CAST(ts AS TIMESTAMP) AS click_ts
      |  FROM events WHERE event_type = 'click')
      |SELECT purchase_id, user_id, purchase_ts, click_id, click_ts,
      |  (epoch_us(purchase_ts) - epoch_us(click_ts)) // 1000000 AS gap_s
      |FROM p JOIN c ON c_user = user_id
      |  AND click_ts <= purchase_ts
      |  AND click_ts >= purchase_ts - INTERVAL 1 HOUR
      |QUALIFY ROW_NUMBER() OVER (PARTITION BY purchase_id
      |  ORDER BY click_ts DESC, click_id DESC) = 1
      |ORDER BY purchase_id""".stripMargin

  // ---- stream_topk: per-window top-k dashboard ranking ----
  // The "trending now" tile: top-3 event types per tumbling hour by
  // count. Rank-per-window is not incrementally maintainable inside
  // a single streaming operator (a late event can reorder a window's
  // ranking), so the production decomposition is the one expressed
  // here: the windowed COUNT state is maintained incrementally by
  // stream_windowed_agg (watermark-bounded, spec-proven), and the
  // rank is a cheap window function over that already-aggregated
  // frame — O(windows · types) rows, re-evaluated per trigger in
  // foreachBatch. The batch relation below is that composition.

  private def topk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"bucket_start")
      .orderBy($"n_events".desc, $"event_type")
    graft.streaming.EventsStream.windowedAgg(Tables(spark, dir).events)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"bucket_start", $"rk", $"event_type", $"n_events")
      .resultOrder($"bucket_start", $"rk")
  }

  private val topkSql =
    s"""WITH agg AS (
       |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket_start,
       |    event_type, COUNT(*) AS n_events
       |  FROM events
       |  GROUP BY bucket_start, event_type)
       |SELECT bucket_start, rk, event_type, n_events FROM (
       |  SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY bucket_start
       |      ORDER BY n_events DESC, event_type) AS rk
       |  FROM agg)
       |WHERE rk <= 3
       |ORDER BY bucket_start, rk""".stripMargin

  // ---- stream_upsert: keep-latest-per-key (CDC apply in motion) ----
  // The materialized upsert view every CDC consumer maintains: one
  // row per key, the max-(event-time, id) event. Incrementally this
  // is EventsStream.upsertLatest (mapGroupsWithState, Update mode,
  // O(keys) state — the view itself); the batch window-rank form
  // below is its deterministic oracle, and StreamingSpec proves the
  // two agree across multi-batch upsert sequences.

  private def upsert(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    Tables(spark, dir).events
      .withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .select($"user_id", $"event_id".as("last_event_id"),
        $"ts".as("last_ts"), $"event_type".as("last_type"),
        $"value".as("last_value"))
      .resultOrder($"user_id")
  }

  private val upsertSql =
    """SELECT user_id, event_id AS last_event_id,
      |  CAST(ts AS TIMESTAMP) AS last_ts,
      |  event_type AS last_type, value AS last_value
      |FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |    ORDER BY ts DESC, event_id DESC) AS rk
      |  FROM events)
      |WHERE rk = 1
      |ORDER BY user_id""".stripMargin

  val all: Seq[Q] = Seq(
    Q("stream_windowed_agg", windowedAgg, Some(windowedAggSql)),
    Q("stream_topk", topk, Some(topkSql)),
    Q("stream_dedup", dedup, Some(dedupSql)),
    Q("stream_attribution", attribution, Some(attributionSql)),
    Q("stream_attribution_outer", attributionOuter, Some(attributionOuterSql)),
    Q("stream_sessionize", sessionize, Some(sessionizeSql)),
    Q("stream_sliding_window", slidingWindow, Some(slidingWindowSql)),
    Q("stream_session_window", sessionWindow, Some(sessionWindowSql)),
    Q("stream_upsert", upsert, Some(upsertSql)),
    Q("stream_enrich", enrich, Some(enrichSql))
  )
}
