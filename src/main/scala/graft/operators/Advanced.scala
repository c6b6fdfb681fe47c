package graft.operators

import graft.{Det, Q, Tables}
import graft.Out._
import graft.functions.RollingHash.rolling_hash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Advanced relational surface: correlated-aggregate patterns, as-of
  * and range joins (the two operators Spark lacks as primitives),
  * exact percentiles, and the scalar string/date/conditional
  * function surface — plus the native-codegen RollingHash Expression.
  */
object Advanced {

  // ---- q13_corr_subquery: rows above their group aggregate ----
  // Reference: metrics_products.py top-category logic (value vs the
  // category aggregate). Aggregate-then-broadcast-join replaces the
  // correlated rescan.

  private def q13(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val brandAvg = t.part.groupBy($"p_brand".as("b_brand"))
      .agg(Det.davg($"p_retailprice").as("brand_avg"))
    t.part
      .join(broadcast(brandAvg), $"p_brand" === $"b_brand")
      .filter($"p_retailprice" > $"brand_avg")
      .select($"p_partkey", $"p_brand", $"p_retailprice", $"brand_avg")
      .resultOrder($"p_partkey")
  }

  private val q13Sql =
    s"""WITH b AS (
       |  SELECT p_brand AS b_brand, ${Det.davgSql("p_retailprice")} AS brand_avg
       |  FROM part GROUP BY b_brand)
       |SELECT p_partkey, p_brand, p_retailprice, brand_avg
       |FROM part JOIN b ON p_brand = b_brand
       |WHERE p_retailprice > brand_avg
       |ORDER BY p_partkey""".stripMargin

  // ---- q14_asof_join: latest prior event (as-of semantics) ----
  // For each purchase, the user's most recent strictly-earlier click.
  // Spark has no ASOF JOIN primitive; the scalable formulation is a
  // single per-user sort with last(_, ignoreNulls) over the
  // preceding-rows frame — one shuffle on user_id, no range join, no
  // per-row rescans. DuckDB verifies with its native ASOF LEFT JOIN.

  private def q14(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // RANGE frame over event-time micros, not a ROWS frame: the
    // oracle's ASOF semantics are *strictly* earlier (c.ts < p.ts),
    // and a rows-frame would include a same-microsecond click.
    val w = Window.partitionBy($"user_id").orderBy(unix_micros($"ts"))
      .rangeBetween(Window.unboundedPreceding, -1)
    Tables(spark, dir).events
      .filter($"event_type".isin("click", "purchase"))
      .withColumn("click_ts", when($"event_type" === "click", $"ts"))
      .withColumn("last_click_ts", last($"click_ts", ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts",
        $"last_click_ts",
        ((unix_micros($"ts") - unix_micros($"last_click_ts")) / 1e6)
          .as("gap_seconds"))
      .resultOrder($"event_id")
  }

  private val q14Sql =
    """WITH e AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |p AS (SELECT * FROM e WHERE event_type = 'purchase'),
      |c AS (SELECT * FROM e WHERE event_type = 'click')
      |SELECT p.event_id, p.user_id, p.ts,
      |  c.ts AS last_click_ts,
      |  (epoch_us(p.ts) - epoch_us(c.ts)) / 1e6 AS gap_seconds
      |FROM p ASOF LEFT JOIN c
      |  ON p.user_id = c.user_id AND c.ts < p.ts
      |ORDER BY p.event_id""".stripMargin

  // ---- q15_range_join: events within a time range of an anchor ----
  // Follow-up events ≤5 min after each error, same user. The range
  // predicate becomes an equi-join on 5-minute buckets (each anchor
  // probes its own and the next bucket), so the shuffle key is
  // (user, bucket) — no O(n²) interval cross-join. DuckDB verifies
  // with a plain range join.

  private def q15(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir).events
      .select($"event_id", $"user_id", $"ts", $"event_type",
        (unix_micros($"ts") / lit(300000000L)).cast(LongType).as("bucket"))
    val err = ev.filter($"event_type" === "error")
      .select($"event_id".as("err_id"), $"user_id".as("err_user"),
        $"ts".as("err_ts"),
        explode(array($"bucket", $"bucket" + 1)).as("probe_bucket"))
    err.join(ev,
        $"probe_bucket" === $"bucket" && $"err_user" === $"user_id" &&
          unix_micros($"ts") > unix_micros($"err_ts") &&
          unix_micros($"ts") <= unix_micros($"err_ts") + 300000000L,
        "left")
      .groupBy($"err_id")   // merges both probe buckets of an anchor
      .agg(count($"event_id").as("n_follow"))
      .resultOrder($"err_id")
  }

  private val q15Sql =
    """WITH e AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
      |  FROM events),
      |err AS (SELECT event_id AS err_id, user_id AS err_user, ts AS err_ts
      |        FROM e WHERE event_type = 'error')
      |SELECT err_id, COUNT(e.event_id) AS n_follow
      |FROM err LEFT JOIN e
      |  ON e.user_id = err_user
      | AND e.ts > err_ts
      | AND epoch_us(e.ts) <= epoch_us(err_ts) + 300000000
      |GROUP BY err_id
      |ORDER BY err_id""".stripMargin

  // ---- q16_percentiles: exact interpolated quantiles + stats ----
  // (percentile_approx is the sketch path at 100 TB; the exact form
  // is what DuckDB can verify bit-for-bit.)

  private def q16(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).orders
      .groupBy($"o_orderstatus")
      .agg(
        expr("percentile(o_totalprice, 0.25)").as("p25"),
        expr("percentile(o_totalprice, 0.5)").as("median"),
        expr("percentile(o_totalprice, 0.75)").as("p75"),
        min($"o_totalprice").as("min_price"),
        max($"o_totalprice").as("max_price"),
        count(lit(1)).as("n"))
      .resultOrder($"o_orderstatus")
  }

  private val q16Sql =
    """SELECT o_orderstatus,
      |  quantile_cont(o_totalprice, 0.25) AS p25,
      |  quantile_cont(o_totalprice, 0.5) AS median,
      |  quantile_cont(o_totalprice, 0.75) AS p75,
      |  MIN(o_totalprice) AS min_price,
      |  MAX(o_totalprice) AS max_price,
      |  COUNT(*) AS n
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  // ---- q17_string_funcs: scalar string surface ----

  private def q17(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).customer
      .filter($"c_custkey" % 10 === 0)
      .select($"c_custkey",
        upper($"c_name").as("u_name"),
        lower($"c_mktsegment").as("l_seg"),
        length($"c_name").cast(LongType).as("name_len"),
        lpad($"c_custkey".cast("string"), 8, "0").as("padded_key"),
        substring($"c_name", 1, 8).as("name_prefix"),
        regexp_replace($"c_name", "[0-9]+", "#").as("name_masked"),
        concat_ws("|", $"c_mktsegment", $"c_name").as("tagged"),
        $"c_name".like("%1%").as("has_one"),
        instr($"c_name", "Customer").cast(LongType).as("pos_customer"),
        trim(lit("  x  ")).as("trimmed"),
        reverse($"c_mktsegment").as("rev_seg"))
      .resultOrder($"c_custkey")
  }

  private val q17Sql =
    """SELECT c_custkey,
      |  upper(c_name) AS u_name,
      |  lower(c_mktsegment) AS l_seg,
      |  CAST(length(c_name) AS BIGINT) AS name_len,
      |  lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded_key,
      |  substr(c_name, 1, 8) AS name_prefix,
      |  regexp_replace(c_name, '[0-9]+', '#', 'g') AS name_masked,
      |  concat_ws('|', c_mktsegment, c_name) AS tagged,
      |  c_name LIKE '%1%' AS has_one,
      |  CAST(strpos(c_name, 'Customer') AS BIGINT) AS pos_customer,
      |  trim('  x  ') AS trimmed,
      |  reverse(c_mktsegment) AS rev_seg
      |FROM customer
      |WHERE c_custkey % 10 = 0
      |ORDER BY c_custkey""".stripMargin

  // ---- q18_date_funcs: scalar date/time surface ----

  private def q18(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).orders
      .filter($"o_orderkey" % 100 === 0)
      .select($"o_orderkey",
        to_date($"o_orderdate").as("d"),
        year($"o_orderdate").as("yr"),
        quarter($"o_orderdate").as("qtr"),
        month($"o_orderdate").as("mon"),
        dayofmonth($"o_orderdate").as("dom"),
        dayofweek($"o_orderdate").as("dow"),
        dayofyear($"o_orderdate").as("doy"),
        last_day($"o_orderdate").as("month_end"),
        date_add(to_date($"o_orderdate"), 90).as("due_date"),
        add_months(to_date($"o_orderdate"), 3).as("plus_quarter"),
        datediff(lit("2002-01-01").cast("date"), to_date($"o_orderdate"))
          .cast(LongType).as("days_to_2002"),
        date_trunc("month", $"o_orderdate").as("month_start"))
      .resultOrder($"o_orderkey")
  }

  private val q18Sql =
    """SELECT o_orderkey,
      |  CAST(o_orderdate AS DATE) AS d,
      |  CAST(year(o_orderdate) AS INTEGER) AS yr,
      |  CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
      |  CAST(month(o_orderdate) AS INTEGER) AS mon,
      |  CAST(dayofmonth(o_orderdate) AS INTEGER) AS dom,
      |  CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
      |  CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
      |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
      |  CAST(o_orderdate AS DATE) + 90 AS due_date,
      |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus_quarter,
      |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS BIGINT) AS days_to_2002,
      |  date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS month_start
      |FROM orders
      |WHERE o_orderkey % 100 = 0
      |ORDER BY o_orderkey""".stripMargin

  // ---- q19_conditional: null-handling / conditional surface ----

  private def q19(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).lineitem
      .filter($"l_orderkey" % 500 === 0)
      .select($"l_orderkey", $"l_linenumber",
        nullif($"l_discount", lit(0.0)).as("disc_or_null"),
        coalesce(nullif($"l_discount", lit(0.0)), lit(-1.0)).as("disc_coalesced"),
        greatest($"l_quantity", $"l_discount" * 100).as("g"),
        least($"l_tax", $"l_discount").as("l"),
        when($"l_returnflag" === "R", "returned")
          .when($"l_linestatus" === "O", "open").otherwise("closed").as("status"),
        ($"l_quantity".between(10, 40)).as("mid_qty"),
        isnull(nullif($"l_tax", lit(0.0))).as("tax_free"))
      .resultOrder($"l_orderkey", $"l_linenumber")
  }

  private val q19Sql =
    """SELECT l_orderkey, l_linenumber,
      |  nullif(l_discount, 0.0) AS disc_or_null,
      |  coalesce(nullif(l_discount, 0.0), -1.0) AS disc_coalesced,
      |  greatest(l_quantity, l_discount * 100) AS g,
      |  least(l_tax, l_discount) AS l,
      |  CASE WHEN l_returnflag = 'R' THEN 'returned'
      |       WHEN l_linestatus = 'O' THEN 'open'
      |       ELSE 'closed' END AS status,
      |  l_quantity BETWEEN 10 AND 40 AS mid_qty,
      |  nullif(l_tax, 0.0) IS NULL AS tax_free
      |FROM lineitem
      |WHERE l_orderkey % 500 = 0
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- text_rollhash: native-codegen RollingHash fingerprint ----

  private def rollhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).documents
      .select($"doc_id",
        rolling_hash($"text").as("roll_hash"),
        rolling_hash(substring($"text", 1, 64)).as("prefix_hash"))
      .resultOrder($"doc_id")
  }

  private val rollhashSql = {
    import graft.functions.RollingHash
    s"""SELECT doc_id,
       |  ${RollingHash.sql("text")} AS roll_hash,
       |  ${RollingHash.sql("substr(text, 1, 64)")} AS prefix_hash
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---- q20_sketches: the approximate path for 100 TB aggregates ----
  // HLL distinct counts and quantile sketches replace their exact
  // forms when the group is too hot to materialize; accuracy is
  // asserted against the exact values in ScalaTest (no cross-engine
  // oracle — sketch implementations differ by design).

  private def q20(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).orders
      .groupBy($"o_orderstatus")
      .agg(
        approx_count_distinct($"o_custkey").as("approx_custs"),
        expr("percentile_approx(o_totalprice, 0.5, 1000)").as("approx_median"),
        count(lit(1)).as("n"))
      .resultOrder($"o_orderstatus")
  }

  // ---- q27_kmv_sketch: an ORACLE-CHECKED distinct-count sketch ----
  // q20's HLL is rows-checked because sketch internals differ per
  // engine; KMV (k minimum values) over the cross-engine rolling
  // hash is the sketch whose estimate IS engine-portable: keep the k
  // smallest distinct hash values per group, estimate
  // (k-1)·HASH_SPACE / h_k in integer arithmetic. Same map-side
  // bounded state as HLL (k longs per group), exact oracle parity.
  //
  // The k-mins come from the typed bounded-heap Aggregator
  // (functions/KmvSketch.scala): k longs of state per group, partial
  // per input partition, k-long merges at the exchange — shuffle is
  // k·groups. The DuckDB oracle keeps the rank-then-truncate
  // formulation (same k-mins by definition), which is also what the
  // sketch-vs-window equivalence test in AdvancedSpec pins down.

  private val kmvK = 64
  // the estimator's hash-space size IS the rolling-hash modulus —
  // referenced, not copied, so a parameter change can't skew it
  private val kmvSpace = graft.functions.RollingHash.P

  /** Distinct (status, customer-hash) posting — the deterministic
    * corpus artifact behind the KMV sketch, cached per (session, dir)
    * like the tf posting. DEDUP-FIRST: distinct (status, custkey)
    * runs as a plain codegen HashAggregate whose exchange carries
    * narrow two-column rows; the KMV partials and the exact count
    * then run over the already-distinct pairs, so only
    * ~statuses·partitions array buffers ever exist. The earlier
    * countDistinct-alongside form made Spark's distinct-agg planning
    * key the FIRST aggregate on (status, custkey) with a partial KMV
    * per pair — an ObjectHashAggregate exchange hauling one sketch
    * buffer per distinct customer (measured ~35% of the query). Same
    * rows to the sketch either way: one h per distinct customer per
    * status.
    */
  private[graft] def kmvPostingPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val h = graft.functions.RollingHash.rolling_hash(
      concat(lit("k|"), $"o_custkey".cast("string")))
    Tables(spark, dir).orders
      .select($"o_orderstatus", $"o_custkey").distinct()
      .select($"o_orderstatus", h.as("h"))
  }
  private def kmvPosting(spark: SparkSession, dir: String): DataFrame =
    graft.Artifacts(spark, dir, "Advanced.kmvPosting") {
      kmvPostingPlan(spark, dir).localCheckpoint()
    }

  private def q27(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val kmv = udaf(new graft.functions.KmvAgg(kmvK),
      org.apache.spark.sql.Encoders.scalaLong)
    kmvPosting(spark, dir)
      .groupBy($"o_orderstatus")
      .agg(kmv($"h").as("mins"),
        count(lit(1)).as("exact_distinct"))
      .select($"o_orderstatus", $"exact_distinct",
        size($"mins").cast("long").as("n_kept"), array_max($"mins").as("h_k"))
      .select($"o_orderstatus", $"exact_distinct",
        when($"n_kept" < kmvK, $"n_kept")
          .otherwise(expr(s"${(kmvK - 1).toLong * kmvSpace}L div h_k"))
          .as("kmv_estimate"))
      .withColumn("rel_err",
        ($"kmv_estimate" - $"exact_distinct").cast("double") /
          $"exact_distinct".cast("double"))
      .resultOrder($"o_orderstatus")
  }

  private val q27Sql = {
    val rh = graft.functions.RollingHash.sql("'k|' || CAST(o_custkey AS VARCHAR)")
    s"""WITH dh AS (
       |  SELECT DISTINCT o_orderstatus, $rh AS h FROM orders),
       |kth AS (
       |  SELECT o_orderstatus, COUNT(*) AS n_kept, MAX(h) AS h_k FROM (
       |    SELECT o_orderstatus, h,
       |      ROW_NUMBER() OVER (PARTITION BY o_orderstatus ORDER BY h) AS rk
       |    FROM dh)
       |  WHERE rk <= $kmvK GROUP BY o_orderstatus),
       |exact AS (
       |  SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS exact_distinct
       |  FROM orders GROUP BY o_orderstatus)
       |SELECT k.o_orderstatus, e.exact_distinct,
       |  CAST(CASE WHEN k.n_kept < $kmvK THEN k.n_kept
       |       ELSE CAST(${(kmvK - 1).toLong * kmvSpace} AS BIGINT) // k.h_k END AS BIGINT) AS kmv_estimate,
       |  CAST(CASE WHEN k.n_kept < $kmvK THEN k.n_kept
       |       ELSE CAST(${(kmvK - 1).toLong * kmvSpace} AS BIGINT) // k.h_k END - e.exact_distinct AS DOUBLE)
       |    / CAST(e.exact_distinct AS DOUBLE) AS rel_err
       |FROM kth k JOIN exact e USING (o_orderstatus)
       |ORDER BY k.o_orderstatus""".stripMargin
  }

  // ---- q28_skew_salted_join: explicit salt fan-out for hot keys ----
  // l_returnflag has 3 values over the whole fact table — the
  // pathological single-key hotspot where a plain hash join lands
  // ~1/3 of 100 TB on one task. SkewJoin.saltedJoin spreads each key
  // over 8 salt sub-keys; the oracle is the UNSALTED join (salting
  // must be result-invariant, which is exactly what this checks).

  private def q28(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables(spark, dir).lineitem
      .select($"l_returnflag", $"l_extendedprice")
    val dim = li.groupBy($"l_returnflag")
      .agg(graft.Det.davg($"l_extendedprice").as("avg_price"))
      .withColumnRenamed("l_returnflag", "r_flag")
    SkewJoin.saltedJoin(li, dim, $"l_returnflag", $"r_flag", 8)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        sum(when($"l_extendedprice" > $"avg_price", 1L).otherwise(0L))
          .as("n_above_avg"))
      .resultOrder($"l_returnflag")
  }

  private val q28Sql =
    s"""WITH d AS (
       |  SELECT l_returnflag AS r_flag,
       |    ${graft.Det.davgSql("l_extendedprice")} AS avg_price
       |  FROM lineitem GROUP BY r_flag)
       |SELECT l_returnflag,
       |  COUNT(*) AS n_items,
       |  CAST(SUM(CASE WHEN l_extendedprice > d.avg_price THEN 1 ELSE 0 END) AS BIGINT) AS n_above_avg
       |FROM lineitem l JOIN d ON l.l_returnflag = d.r_flag
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin

  // ---- q29_grouping_sets: explicit GROUPING SETS + grouping_id ----
  // The general form behind q9's ROLLUP and q26's CUBE: an arbitrary
  // set list in ONE aggregation pass (Expand: each input row fans to
  // its matching sets map-side, then a single shuffle) instead of
  // unioning three scans.

  private def q29(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).orders
      .groupingSets(
        Seq(Seq($"o_orderstatus", $"o_orderpriority"),
          Seq($"o_orderstatus"), Seq()),
        $"o_orderstatus", $"o_orderpriority")
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        graft.Det.dsum($"o_totalprice").as("total"))
      .select(coalesce($"o_orderstatus", lit("ALL")).as("status"),
        coalesce($"o_orderpriority", lit("ALL")).as("priority"),
        $"gid", $"n", $"total")
      .resultOrder($"gid", $"status", $"priority")
  }

  private val q29Sql =
    s"""SELECT coalesce(o_orderstatus, 'ALL') AS status,
       |  coalesce(o_orderpriority, 'ALL') AS priority,
       |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
       |  COUNT(*) AS n,
       |  ${graft.Det.dsumSql("o_totalprice")} AS total
       |FROM orders
       |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
       |ORDER BY gid, status, priority""".stripMargin

  // ---- q30_histogram: fixed-width distribution histogram ----
  // The eda.py distribution chart as one aggregation pass: bucket =
  // floor(price / width) in integer arithmetic (engine-exact),
  // count + share per bucket. At 100 TB this is the map-side-combine
  // friendliest shape there is — #buckets partial states per task.

  private def q30(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val width = 25000L
    // ONE scan: bucket-aggregate, then the grand total for the share
    // comes from an unpartitioned window over the ~#buckets aggregate
    // rows (a single partition of tiny cardinality) — never a second
    // pass over orders or a driver-side count().
    // integer div, not Column./ (double division): engine-exact floors
    val byBucket = Tables(spark, dir).orders
      .select(expr(s"CAST(o_totalprice AS BIGINT) div ${width}L").as("bucket"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    byBucket
      .select(($"bucket" * width).as("bucket_lo"),
        (($"bucket" + 1) * width).as("bucket_hi"),
        $"n",
        ($"n".cast("double") / sum($"n").over(wAll).cast("double")).as("share"))
      .resultOrder($"bucket_lo")
  }

  private val q30Sql =
    """WITH b AS (
      |  SELECT CAST(trunc(o_totalprice) AS BIGINT) // 25000 AS bucket
      |  FROM orders),
      |g AS (SELECT bucket, COUNT(*) AS n FROM b GROUP BY bucket)
      |SELECT bucket * 25000 AS bucket_lo,
      |  (bucket + 1) * 25000 AS bucket_hi,
      |  n,
      |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS share
      |FROM g ORDER BY bucket_lo""".stripMargin

  // ---- q21_topk_custom: group-wise top-k via the custom operator ----
  // graft.plans.TopKPerKey (LogicalPlan + Strategy + SparkPlan):
  // bounded per-key heaps with a partial pre-shuffle pass, instead of
  // the full shuffle+sort a window formulation costs. The DuckDB
  // oracle is the window formulation — same rows, different physics.

  private def q21(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables(spark, dir).orders
      .select($"o_orderpriority", $"o_orderkey", $"o_totalprice")
    graft.plans.TopKPerKey(base,
        Seq("o_orderpriority"),
        Seq(graft.plans.TopKPerKey.desc("o_totalprice"),
          graft.plans.TopKPerKey.asc("o_orderkey")), 3)
      .resultOrder($"o_orderpriority", $"o_totalprice".desc, $"o_orderkey")
  }

  private val q21Sql =
    """SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders)
      |WHERE rk <= 3
      |ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""".stripMargin

  // ---- q22_json_funcs: semi-structured extraction ----
  // events.props is a JSON string; Spark parses it with from_json
  // (schema'd, codegen'd); the oracle extracts the same field via
  // regexp so it needs no DuckDB json extension (offline container).

  private def q22(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).events
      .withColumn("k", from_json($"props",
        org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k"))
      .groupBy($"event_type")
      .agg(
        count($"k").as("n_with_k"),
        Det.dsum($"k".cast("double")).as("sum_k"),
        count(when($"k" > 50, lit(1))).as("n_high"),
        min($"k").as("min_k"),
        max($"k").as("max_k"))
      .resultOrder($"event_type")
  }

  private val q22Sql =
    s"""SELECT event_type,
       |  COUNT(k) AS n_with_k,
       |  ${Det.dsumSql("CAST(k AS DOUBLE)")} AS sum_k,
       |  COUNT(CASE WHEN k > 50 THEN 1 END) AS n_high,
       |  MIN(k) AS min_k,
       |  MAX(k) AS max_k
       |FROM (
       |  SELECT event_type,
       |    CAST(regexp_extract(props, '"k": (-?[0-9]+)', 1) AS INTEGER) AS k
       |  FROM events)
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  // ---- q23_array_agg: collection aggregation surface ----
  // Arrays are surfaced as deterministic joined strings so the
  // cross-engine hash compare sees identical scalar values.

  private def q23(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).orders
      .groupBy($"o_orderpriority")
      .agg(
        concat_ws(",", array_sort(collect_set($"o_orderstatus")))
          .as("statuses"),
        countDistinct($"o_orderstatus").as("n_statuses"),
        count(lit(1)).as("n_orders"))
      .resultOrder($"o_orderpriority")
  }

  private val q23Sql =
    """SELECT o_orderpriority,
      |  array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',') AS statuses,
      |  COUNT(DISTINCT o_orderstatus) AS n_statuses,
      |  COUNT(*) AS n_orders
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---- q26_cube: CUBE — all grouping-set combinations ----
  // Complements q9's ROLLUP: one pass produces per-(status,priority),
  // per-status, per-priority, and grand-total aggregates.

  private def q26(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).orders
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(Det.dsum($"o_totalprice").as("total_usd"),
        count(lit(1)).as("n_orders"))
      .resultOrder($"o_orderstatus".asc_nulls_first,
        $"o_orderpriority".asc_nulls_first)
  }

  private val q26Sql =
    s"""SELECT o_orderstatus, o_orderpriority,
       |  ${Det.dsumSql("o_totalprice")} AS total_usd,
       |  COUNT(*) AS n_orders
       |FROM orders
       |GROUP BY CUBE(o_orderstatus, o_orderpriority)
       |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  // ---- q24_window_stats: distribution window functions ----

  private def q24(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice", $"o_orderkey")
    val wFrame = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables(spark, dir).orders
      .filter($"o_orderkey" % 50 === 0)
      .select($"o_orderpriority", $"o_orderkey", $"o_totalprice",
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        nth_value($"o_totalprice", 2).over(wFrame).as("second_lowest"),
        lead($"o_totalprice", 1).over(w).as("next_price"))
      .resultOrder($"o_orderpriority", $"o_totalprice", $"o_orderkey")
  }

  private val q24Sql =
    """SELECT o_orderpriority, o_orderkey, o_totalprice,
      |  NTILE(4) OVER w AS quartile,
      |  PERCENT_RANK() OVER w AS pct_rank,
      |  CUME_DIST() OVER w AS cume,
      |  NTH_VALUE(o_totalprice, 2) OVER (PARTITION BY o_orderpriority
      |    ORDER BY o_totalprice, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_lowest,
      |  LEAD(o_totalprice, 1) OVER w AS next_price
      |FROM orders
      |WHERE o_orderkey % 50 = 0
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderpriority, o_totalprice, o_orderkey""".stripMargin

  // ---- q25_setops: INTERSECT / EXCEPT ----
  // Expressed as the single-pass FLAG-AGGREGATION rewrite of the two
  // set ops (the same decomposition engines apply to INTERSECT/EXCEPT
  // internally): one scan of the two priority slices, one shuffle on
  // the key with map-side partials, per-key membership flags, then
  // both buckets fall out of one projection —
  //   INTERSECT ≡ has_urgent ∧ has_low, EXCEPT ≡ has_urgent ∧ ¬has_low.
  // The naive form (df.intersect + df.except + union) scans the fact
  // twice and shuffles four legs; this is two stages regardless of
  // how many set-op buckets are derived. The ORACLE keeps the literal
  // INTERSECT/EXCEPT formulation, so the set-op semantics (including
  // set DISTINCT) stay cross-engine checked.

  private def q25(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).orders
      .filter($"o_orderpriority" === "1-URGENT" || $"o_orderpriority" === "5-LOW")
      .groupBy($"o_custkey")
      .agg(
        max(when($"o_orderpriority" === "1-URGENT", 1).otherwise(0)).as("has_u"),
        max(when($"o_orderpriority" === "5-LOW", 1).otherwise(0)).as("has_l"))
      .filter($"has_u" === 1)
      .select($"o_custkey",
        when($"has_l" === 1, "both").otherwise("urgent_only").as("bucket"))
      .resultOrder($"bucket", $"o_custkey")
  }

  private val q25Sql =
    """SELECT * FROM (
      |  SELECT o_custkey, 'both' AS bucket FROM (
      |    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |    INTERSECT
      |    SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')
      |  UNION ALL
      |  SELECT o_custkey, 'urgent_only' AS bucket FROM (
      |    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |    EXCEPT
      |    SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'))
      |ORDER BY bucket, o_custkey""".stripMargin

  // ---- q31_range_frame: value-RANGE window frames vs ROWS frames ----
  // The frame semantics the reference's pandas `rolling(3)` does NOT
  // have: RANGE BETWEEN 2 PRECEDING looks back two UNITS of the order
  // value (here: two calendar months), not two physical rows, so the
  // two frames disagree exactly where the series has gaps — a
  // trailing window over sparse data must not smuggle in values from
  // months further back than the window span. The series is the
  // per-priority monthly totals restricted to odd-order-count months
  // (a deterministic, SF-independent gap driver), and both frame
  // forms are emitted with their frame COUNTS so the divergence is
  // integer-visible. Scale shape: aggregate-then-window — the window
  // partitions by priority over the bounded monthly aggregate.

  private def q31(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val Dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val sparse = Tables(spark, dir).orders
      .groupBy($"o_orderpriority".as("pri"),
        (year($"o_orderdate") * 12 + month($"o_orderdate") - 1)
          .cast("long").as("mon_idx"))
      .agg(Det.dsum($"o_totalprice").as("usd"), count(lit(1)).as("n_ord"))
      .filter($"n_ord" % 2 === 1)
    val w = Window.partitionBy($"pri").orderBy($"mon_idx")
    val wRows = w.rowsBetween(-2, 0)
    val wRange = w.rangeBetween(-2, 0)
    sparse.select($"pri", $"mon_idx", $"usd",
        sum($"usd".cast(Dec)).over(wRows).cast("double").as("sum3_rows"),
        count(lit(1)).over(wRows).as("n_rows_frame"),
        sum($"usd".cast(Dec)).over(wRange).cast("double").as("sum3_range"),
        count(lit(1)).over(wRange).as("n_range_frame"))
      .resultOrder($"pri", $"mon_idx")
  }

  private val q31Sql =
    s"""WITH m AS (
       |  SELECT o_orderpriority AS pri,
       |    CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS mon_idx,
       |    ${Det.dsumSql("o_totalprice")} AS usd,
       |    COUNT(*) AS n_ord
       |  FROM orders GROUP BY pri, mon_idx),
       |s AS (SELECT pri, mon_idx, usd FROM m WHERE n_ord % 2 = 1)
       |SELECT pri, mon_idx, usd,
       |  CAST(SUM(CAST(usd AS DECIMAL(18,6))) OVER wr AS DOUBLE) AS sum3_rows,
       |  COUNT(*) OVER wr AS n_rows_frame,
       |  CAST(SUM(CAST(usd AS DECIMAL(18,6))) OVER wg AS DOUBLE) AS sum3_range,
       |  COUNT(*) OVER wg AS n_range_frame
       |FROM s
       |WINDOW wr AS (PARTITION BY pri ORDER BY mon_idx
       |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
       |  wg AS (PARTITION BY pri ORDER BY mon_idx
       |    RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)
       |ORDER BY pri, mon_idx""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q13_corr_subquery", q13, Some(q13Sql)),
    Q("q20_sketches", q20, None),
    Q("q21_topk_custom", q21, Some(q21Sql)),
    Q("q22_json_funcs", q22, Some(q22Sql)),
    Q("q23_array_agg", q23, Some(q23Sql)),
    Q("q24_window_stats", q24, Some(q24Sql)),
    Q("q25_setops", q25, Some(q25Sql)),
    Q("q26_cube", q26, Some(q26Sql)),
    Q("q27_kmv_sketch", q27, Some(q27Sql)),
    Q("q28_skew_salted_join", q28, Some(q28Sql)),
    Q("q29_grouping_sets", q29, Some(q29Sql)),
    Q("q30_histogram", q30, Some(q30Sql)),
    Q("q31_range_frame", q31, Some(q31Sql)),
    Q("q14_asof_join", q14, Some(q14Sql)),
    Q("q15_range_join", q15, Some(q15Sql)),
    Q("q16_percentiles", q16, Some(q16Sql)),
    Q("q17_string_funcs", q17, Some(q17Sql)),
    Q("q18_date_funcs", q18, Some(q18Sql)),
    Q("q19_conditional", q19, Some(q19Sql)),
    Q("text_rollhash", rollhash, Some(rollhashSql))
  )
}
