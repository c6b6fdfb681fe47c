package graft.operators

import graft.{Det, Q, Tables}
import graft.Out._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Core relational surface of the reference engine.
  *
  * The reference exposes plain SQL over its DuckDB tables
  * (README.md:120-147, observatorio/models/metrics.sql, app.py) —
  * aggregation, joins, ranking, pivot-by-CASE, set ops. Here each
  * shape is a declarative DataFrame plan so Catalyst handles
  * pushdown, pruning and join strategy. Join strategy for the
  * customer/part dimensions is deliberately SIZE-BASED, never an
  * unconditional broadcast() hint: those tables grow linearly with
  * scale factor (TPC-H: 150k·SF / 200k·SF rows), so a hint — which
  * overrides Spark's size check — would OOM at the 100 TB target.
  * WHICH planner makes the size call depends on the session
  * (core.scala:48-82): local single-JVM sessions run AQE OFF (its
  * per-exchange job boundary is the measured scheduling floor on a
  * floor-bound suite), so the STATIC planner selects the join from
  * parquet file-size statistics — PlanSpec asserts it still picks
  * broadcast for the dims at bench SF; cluster deployments keep AQE
  * ON and get runtime shuffle-size selection plus skew splits. The
  * exceptions carrying an explicit hint are frames whose size is
  * bounded by CONSTRUCTION (single-row aggregates, fixed 25-row
  * nation/5-row region) and the MEASURED-bound q4 dims artifact
  * below (Joins.sizedBuild: broadcast under a row bound, shuffled
  * hash join past it).
  */
object Relational {

  /** q1: pricing summary — scan→filter→groupBy agg.
    * Reference: README.md:124-134 (annual balance aggregation shape).
    */
  private def q1(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).lineitem
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        Det.dsum($"l_quantity").as("sum_qty"),
        Det.dsum($"l_extendedprice").as("sum_base_price"),
        Det.dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .as("sum_disc_price"),
        round(Det.davg($"l_quantity"), 6).as("avg_qty"),
        round(Det.davg($"l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order")
      )
      .resultOrder($"l_returnflag", $"l_linestatus")
  }

  private val q1Sql =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${Det.dsumSql("l_quantity")} AS sum_qty,
       |  ${Det.dsumSql("l_extendedprice")} AS sum_base_price,
       |  ${Det.dsumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
       |  ROUND(${Det.davgSql("l_quantity")}, 6) AS avg_qty,
       |  ROUND(${Det.davgSql("l_discount")}, 6) AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q2: selective filter + narrow projection — both must reach the
    * parquet scan (PushedFilters / ReadSchema). Reference: app.py
    * year/flow filters.
    */
  private def q2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).orders
      .filter($"o_orderstatus" === "F" && $"o_totalprice" > 150000.0)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .resultOrder($"o_orderkey")
  }

  private val q2Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |WHERE o_orderstatus = 'F' AND o_totalprice > 150000.0
      |ORDER BY o_orderkey""".stripMargin

  /** q3: 3-way join + agg + top-k. Reference: README.md:136-141
    * (top-5 export months). customer is the selective side, but it
    * scales with SF — no hint; the planner's size-based selection
    * (static file-size stats locally where AQE is off, AQE runtime
    * stats on a cluster — see the object scaladoc) broadcasts it
    * while small and shuffles it once it isn't.
    */
  private def q3(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val cust = t.customer.filter($"c_mktsegment" === "BUILDING")
      .select($"c_custkey")
    val ord = t.orders
      .filter($"o_orderdate" < lit("1998-01-01").cast("timestamp"))
      .select($"o_orderkey", $"o_custkey", $"o_orderdate")
    t.lineitem
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .groupBy($"l_orderkey", $"o_orderdate")
      .agg(Det.dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"))
        .as("revenue"))
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(10)
  }

  private val q3Sql =
    s"""SELECT l_orderkey, o_orderdate,
       |  ${Det.dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       |GROUP BY l_orderkey, o_orderdate
       |ORDER BY revenue DESC, l_orderkey
       |LIMIT 10""".stripMargin

  /** The UNCHECKPOINTED dims derivation — carries the customer⋈
    * nation⋈region joins the PlanSpec no-forced-broadcast guard
    * asserts on (the cached form reduces to a checkpoint scan).
    */
  private[graft] def q4DimsPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    t.customer
      .join(t.nation, $"c_nationkey" === $"n_nationkey")
      .join(t.region.filter($"r_name" === "ASIA"),
        $"n_regionkey" === $"r_regionkey")
      .select($"c_custkey", $"n_name")
  }

  /** q4: 5-way star join, revenue per nation for one region.
    * Reference: app.py joined country views.
    *
    * The customer⋈nation⋈region subtree is a DIMENSION artifact —
    * the region filter and two dim joins recompute identically on
    * every run, 2-3 stages deep — so it is derived once per
    * (session, dir) and cached like the graph prep frames, through
    * MeasuredCkpt so the checkpoint carries MEASURED statistics
    * instead of the origin plan's join-product estimate. The fact
    * side then joins it via Joins.sizedBuild: broadcast while the
    * measured row count is under the conf bound (~SF·customer/5
    * rows — fits for a long way), an explicit shuffled hash join
    * past it — never an unconditional broadcast of an
    * SF-proportional frame, never an OOM. Only orders⋈lineitem is
    * left to shuffle on the fact keys.
    */
  private def q4Dims(spark: SparkSession, dir: String): DataFrame =
    graft.Artifacts(spark, dir, "Relational.q4Dims")(
      graft.MeasuredCkpt(q4DimsPlan(spark, dir)))

  private def q4(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val dims = q4Dims(spark, dir)
    // MeasuredCkpt guarantees measured stats on the artifact — its
    // row count IS the measurement sizedBuild keys the join on
    val dimRows = dims.queryExecution.optimizedPlan.stats.rowCount
      .map(_.toLong).getOrElse(Long.MaxValue)
    t.lineitem
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
      .join(t.orders.select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(graft.Joins.sizedBuild(dims, dimRows),
        $"o_custkey" === $"c_custkey")
      .groupBy($"n_name")
      .agg(Det.dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"))
        .as("revenue"))
      .resultOrder($"revenue".desc, $"n_name")
  }

  private val q4Sql =
    s"""SELECT n_name,
       |  ${Det.dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |GROUP BY n_name
       |ORDER BY revenue DESC, n_name""".stripMargin

  /** q5: EXISTS as left-semi join (no row duplication, no distinct
    * needed — semantics Catalyst can't infer from an inner join).
    */
  private def q5(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val recent = t.orders
      .filter($"o_orderdate" >= lit("2000-01-01").cast("timestamp"))
      .select($"o_custkey")
    t.customer
      .join(recent, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .resultOrder($"c_custkey")
  }

  private val q5Sql =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey
      |    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
      |ORDER BY c_custkey""".stripMargin

  /** q6: NOT EXISTS as left-anti join. Reference: the products QA
    * missing-rows check (tests/test_products_qa.py).
    */
  private def q6(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val big = t.orders.filter($"o_totalprice" > 400000.0)
      .select($"o_custkey")
    t.customer
      .join(big, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name")
      .resultOrder($"c_custkey")
  }

  private val q6Sql =
    """SELECT c_custkey, c_name
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
      |ORDER BY c_custkey""".stripMargin

  /** q7: distinct + count-distinct (exact). Reference: app.py
    * nunique calls. (approx_count_distinct is the 100 TB path but
    * has no DuckDB-equal oracle, so the exact form is verified.)
    */
  private def q7(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).orders
      .groupBy($"o_orderstatus")
      .agg(
        countDistinct($"o_custkey").as("n_cust"),
        countDistinct($"o_orderpriority").as("n_prio"),
        count(lit(1)).as("n_orders"))
      .resultOrder($"o_orderstatus")
  }

  private val q7Sql =
    """SELECT o_orderstatus,
      |  COUNT(DISTINCT o_custkey) AS n_cust,
      |  COUNT(DISTINCT o_orderpriority) AS n_prio,
      |  COUNT(*) AS n_orders
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** q8: ranking window — top-3 parts per brand by retail price.
    * Reference: metrics_products.py:135-145 (top-5 categories).
    * Window partitions by brand → parallel across brands at scale.
    */
  private def q8(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"p_brand")
      .orderBy($"p_retailprice".desc, $"p_partkey")
    Tables(spark, dir).part
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"p_brand", $"rk", $"p_partkey", $"p_name", $"p_retailprice")
      .resultOrder($"p_brand", $"rk")
  }

  private val q8Sql =
    """SELECT p_brand, rk, p_partkey, p_name, p_retailprice
      |FROM (
      |  SELECT p_brand, p_partkey, p_name, p_retailprice,
      |    ROW_NUMBER() OVER (PARTITION BY p_brand
      |      ORDER BY p_retailprice DESC, p_partkey) AS rk
      |  FROM part)
      |WHERE rk <= 3
      |ORDER BY p_brand, rk""".stripMargin

  /** q9: ROLLUP year→quarter subtotals + grand total in one pass
    * (map-side partial aggs; no repeated scans). Reference:
    * models/metrics.sql:56-70 quarterly_summary + annual totals.
    */
  private def q9(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).orders
      .select(year($"o_orderdate").as("yr"),
        quarter($"o_orderdate").as("qtr"), $"o_totalprice")
      .rollup($"yr", $"qtr")
      .agg(Det.dsum($"o_totalprice").as("total_usd"),
        count(lit(1)).as("n_orders"))
      .resultOrder($"yr".asc_nulls_first, $"qtr".asc_nulls_first)
  }

  private val q9Sql =
    s"""SELECT year(o_orderdate) AS yr, quarter(o_orderdate) AS qtr,
       |  ${Det.dsumSql("o_totalprice")} AS total_usd,
       |  COUNT(*) AS n_orders
       |FROM orders
       |GROUP BY ROLLUP(yr, qtr)
       |ORDER BY yr ASC NULLS FIRST, qtr ASC NULLS FIRST""".stripMargin

  /** q10: UNION ALL across heterogenous sources, tagged.
    * Reference: etl.py:78 (concat of import/export frames).
    */
  private def q10(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val c = t.customer.filter($"c_acctbal" > 9000.0)
      .select($"c_custkey".as("entity_key"), lit("customer").as("src"),
        $"c_acctbal".as("acctbal"))
    val s = t.supplier.filter($"s_acctbal" > 1000.0)
      .select($"s_suppkey".as("entity_key"), lit("supplier").as("src"),
        $"s_acctbal".as("acctbal"))
    c.unionAll(s).resultOrder($"src", $"entity_key")
  }

  private val q10Sql =
    """SELECT * FROM (
      |  SELECT c_custkey AS entity_key, 'customer' AS src, c_acctbal AS acctbal
      |  FROM customer WHERE c_acctbal > 9000.0
      |  UNION ALL
      |  SELECT s_suppkey AS entity_key, 'supplier' AS src, s_acctbal AS acctbal
      |  FROM supplier WHERE s_acctbal > 1000.0)
      |ORDER BY src, entity_key""".stripMargin

  /** q11: long→wide pivot via conditional aggregation — the
    * reference's base_monthly view (models/metrics.sql:6-29). A
    * static CASE-WHEN pivot is one aggregation pass with map-side
    * combine; `.pivot()` with value discovery would cost an extra
    * job at 100 TB.
    */
  private def q11(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).events
      .select(to_date($"ts").as("day"), $"event_type", $"value")
      .groupBy($"day")
      .agg(
        Det.dsum(when($"event_type" === "purchase", $"value")).as("purchase_usd"),
        Det.dsum(when($"event_type" === "view", $"value")).as("view_usd"),
        count(when($"event_type" === "click", lit(1))).as("click_cnt"),
        count(when($"event_type" === "error", lit(1))).as("error_cnt"))
      .resultOrder($"day")
  }

  private val q11Sql =
    s"""SELECT CAST(ts AS DATE) AS day,
       |  ${Det.dsumSql("CASE WHEN event_type = 'purchase' THEN value END")} AS purchase_usd,
       |  ${Det.dsumSql("CASE WHEN event_type = 'view' THEN value END")} AS view_usd,
       |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click_cnt,
       |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error_cnt
       |FROM events
       |GROUP BY day
       |ORDER BY day""".stripMargin

  /** q12: HAVING — post-aggregation filter. Reference:
    * tests/test_products_qa.py discrepancy thresholding.
    */
  private def q12(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).lineitem
      .groupBy($"l_suppkey")
      .agg(Det.dsum($"l_quantity").as("total_qty"),
        count(lit(1)).as("n_lines"))
      .filter($"n_lines" > 100)
      .resultOrder($"l_suppkey")
  }

  private val q12Sql =
    s"""SELECT l_suppkey,
       |  ${Det.dsumSql("l_quantity")} AS total_qty,
       |  COUNT(*) AS n_lines
       |FROM lineitem
       |GROUP BY l_suppkey
       |HAVING COUNT(*) > 100
       |ORDER BY l_suppkey""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q1_pricing_agg", q1, Some(q1Sql)),
    Q("q2_filter_project", q2, Some(q2Sql)),
    Q("q3_join_agg_topk", q3, Some(q3Sql)),
    Q("q4_multijoin", q4, Some(q4Sql)),
    Q("q5_semi_join", q5, Some(q5Sql)),
    Q("q6_anti_join", q6, Some(q6Sql)),
    Q("q7_distinct", q7, Some(q7Sql)),
    Q("q8_window_rank", q8, Some(q8Sql)),
    Q("q9_rollup", q9, Some(q9Sql)),
    Q("q10_union", q10, Some(q10Sql)),
    Q("q11_casewhen_pivot", q11, Some(q11Sql)),
    Q("q12_having", q12, Some(q12Sql))
  )
}
