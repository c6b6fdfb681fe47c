package graft.operators

import graft.{Det, Q, Tables}
import graft.Out._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one locator for the read-only sunat_rree_demo checkout whose
  * raw books and committed outputs the reference-bound tier reads
  * (PAPER.md §1). Its root is `GRAFT_REFERENCE_DIR`, or the
  * documented default when that is unset.
  */
object Reference {
  val root: String = sys.env.getOrElse("GRAFT_REFERENCE_DIR", "/root/reference")

  /** `root/rel`, checked to exist: a missing input fails here with
    * one line that names it, never deeper inside a Spark scan.
    */
  def path(rel: String): String = {
    val p = s"$root/$rel"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
      throw new java.io.FileNotFoundException(
        s"$p is missing: it belongs to the sunat_rree_demo reference " +
          "checkout; set GRAFT_REFERENCE_DIR to that checkout's root")
    p
  }
}

/** Reconciliation against the reference's OWN published outputs — the
  * golden files the pipeline shipped with, found through [[Reference]]:
  * `trade_prod.parquet` (etl_products.py's long table
  * over the real `data/cdro_F1.xlsx`/`cdro_G1.xlsx` books),
  * `trade.parquet` (etl.py's totals table over
  * `cdro_F8.xlsx`+`cdro_G6.xlsx`), and the KPI tables metrics.py /
  * metrics_products.py computed from them. Each entry here runs a
  * graft stage over the reference's REAL inputs (or, for the metric
  * stages, over the reference's own committed model table — the same
  * stage boundary the Python pipeline crosses through trade.duckdb)
  * and is oracle-checked against the corresponding committed parquet,
  * BYTE-EXACT on every value: a user migrating off the reference can
  * run these four queries on day one and see identical numbers.
  *
  * Byte-exactness is deliberate and verified, not hopeful. The parse
  * stages are pure decimal-string → double conversions (correctly
  * rounded identically by Python's float() and the JVM's
  * Double.parseDouble), plus ONE order-sensitive float fold
  * (sum_months) whose fold order is pinned in
  * [[Etl.parseTotalsBookCells]]. The metric stages reproduce pandas'
  * sequential algorithms faithfully — positional group lags,
  * compensated rolling means, numpy-equivalent rounding — via
  * [[PandasNum]]; every operation is IEEE-double in pandas' exact
  * order. ReferenceParitySpec also closes the end-to-end loop the
  * oracle can't see (raw xlsx → graft parse → graft metrics vs the
  * committed KPI parquet, with the parse output as the metric input).
  *
  * The import flow of the totals book is NOT reconcilable: etl.py's
  * `data/cdro_F8.xlsx` is absent from the reference checkout
  * (`.MISSING_LARGE_BLOBS`), so `trade.parquet`'s import slice has no
  * recomputable source. The export slice (cdro_G6.xlsx, present) is
  * fully reconciled; the import-side KPI columns are still covered by
  * ref_kpi_monthly, whose input is the committed trade table itself.
  *
  * Scale shape: these are parity probes over calendar-bounded data
  * (decades × months × a handful of categories), not volume
  * operators. The parse side inherits the one-decode-task-per-book
  * binaryFile shape that scales to a lake of books; the metric side
  * intentionally mirrors the reference's SEQUENTIAL pandas semantics
  * per series (groups parallelize across categories, each series is
  * ≤ ~250 rows by the calendar). The horizontally-scaling forms of
  * these KPIs are the kpi_* operators in [[Kpi]] — this module's job
  * is to prove the reference's numbers, not to replace those plans.
  */
object ReferenceParity {

  /** Unchecked: only the DuckDB oracle SQL embeds it, and those strings
    * must build (SparkEntry lists them) whether or not the checkout is
    * present. Every Spark-side read goes through [[Reference.path]]. */
  private val refRoot = Reference.root

  /** month_num as int64 (the committed parquets' dtype), via the one
    * month-name → number mapping the etl parse already defines. */
  private def mesNum(c: Column): Column = Etl.mesToMon(c).cast("long")

  /** The three real books decoded once per session (binaryFile scan →
    * per-book decode → measured checkpoint), shared by both parse
    * entries and the parity specs.
    */
  private[graft] def refCells(spark: SparkSession): DataFrame =
    graft.Artifacts(spark, refRoot, "ReferenceParity.refCells") {
      graft.MeasuredCkpt(
        graft.sources.Xlsx.readAllCells(spark, Reference.path("data")))
    }

  // ---- ref_trade_prod: real F1/G1 parse vs the committed long table ----

  private def refTradeProd(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = refCells(spark)
      .filter($"book".contains("cdro_F1") || $"book".contains("cdro_G1"))
    Etl.parseBookCells(cells)
      .select($"year".cast("long").as("year"), $"month", $"flow",
        $"category", $"usd")
      // usd as the final tiebreak: a category name repeated on two
      // sheet rows (the reference's pivot aggfunc='sum' anticipates
      // this) would make (year, flow, category, month) non-unique,
      // and the hash compare needs a total order on BOTH engines
      .resultOrder($"year", $"flow", $"category", $"month", $"usd")
  }

  private val refTradeProdSql =
    s"""SELECT year, month, flow, category, usd
       |FROM read_parquet('$refRoot/trade_prod.parquet')
       |ORDER BY year, flow, category, month, usd""".stripMargin

  // ---- ref_trade_export: real G6 totals parse vs trade.parquet ----

  private def refTradeExport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Etl.parseTotalsBookCells(
        refCells(spark).filter($"book".contains("cdro_G6")))
      .filter($"flow" === "export")
      .resultOrder($"year", $"month")
  }

  private val refTradeExportSql =
    s"""SELECT year, month, flow, usd, sum_months
       |FROM read_parquet('$refRoot/trade.parquet')
       |WHERE flow = 'export'
       |ORDER BY year, month""".stripMargin

  // ---- ref_kpi_monthly: metrics.py over the committed trade table ----

  /** metrics.py re-expressed over ANY `(year, month, flow, usd)` long
    * frame (exposed for the spec, which feeds it the G6 parse). The
    * pivot keeps pandas pivot_table semantics: per-flow aggregation
    * over non-null values (keys are unique in the committed table, so
    * SUM here equals the reference's aggfunc='first' first-non-null),
    * and index rows where BOTH flows are null are dropped. The metric
    * pass itself is [[PandasNum]] sequential — the reference computes
    * one GLOBAL series with positional shifts (metrics.py:62-79), so
    * parity requires one ordered pass; the frame is calendar-bounded
    * (≤ years × 12 rows) whatever the fact volume behind it.
    */
  private[graft] def kpiMonthlyFrom(long: DataFrame): DataFrame = {
    val spark = long.sparkSession
    import spark.implicits._
    // ONE exchange (r15): the input long frame is already the
    // calendar-grain table (≤ years × 12 × flows rows whatever the
    // fact volume — see the doc above), and the metric pass is ONE
    // global sequential group by reference semantics, so the
    // scale-correct plan merges to a single partition FIRST and lets
    // everything downstream ride it: the pivot aggregate plans
    // complete-mode with no exchange (SinglePartition satisfies its
    // clustering), the constant-key flatMapSortedGroups needs no
    // exchange, and the presentation order is a local sort. The r14
    // shape paid three exchanges (pivot hash, constant-key regroup,
    // final merge) to move ≤239 rows. Pivot values are unchanged:
    // (year, month, flow) keys are unique in every input this serves
    // (committed table + G6 parse), so the conditional SUM is a
    // 1-value pick in any partitioning.
    val wide = long.filter($"month" =!= "Total")
      .repartition(1)
      .groupBy($"year", $"month")
      .agg(sum(when($"flow" === "export", $"usd")).as("export"),
        sum(when($"flow" === "import", $"usd")).as("imp"))
      .filter($"export".isNotNull || $"imp".isNotNull)
      .select($"year".cast("long").as("year"), $"month",
        mesNum($"month").as("month_num"), $"export", $"imp")
      .as[WideTradeRow]
    wide.groupByKey(_ => 0)
      .flatMapSortedGroups($"year", $"month_num")((_, it) =>
        PandasNum.monthlyMetrics(it))
      .toDF()
      .select($"year", $"month", $"month_num", $"export",
        $"imp".as("import"), $"balance",
        $"export_mom", $"export_yoy", $"import_mom", $"import_yoy",
        $"export_ma3", $"import_ma3", $"balance_ma3",
        $"idx2005_export", $"idx2005_import")
      .sortWithinPartitions($"year", $"month_num")
  }

  private def refKpiMonthly(spark: SparkSession, dir: String): DataFrame =
    kpiMonthlyFrom(Tables.cachedRead(spark, Reference.path("trade.parquet")))

  private val refKpiMonthlySql =
    s"""SELECT year, month, month_num, export, import, balance,
       |  export_mom, export_yoy, import_mom, import_yoy,
       |  export_ma3, import_ma3, balance_ma3,
       |  idx2005_export, idx2005_import
       |FROM read_parquet('$refRoot/kpi_monthly.parquet')
       |ORDER BY year, month_num""".stripMargin

  // ---- ref_kpi_prod_monthly: metrics_products.py over trade_prod ----

  /** metrics_products.py re-expressed over ANY
    * `(year, month, flow, category, usd)` long frame (exposed for the
    * spec's raw-books end-to-end pass). Pivot = per-flow SUM per
    * (year, month, category), all-null rows dropped (pandas
    * pivot_table aggfunc='sum', metrics_products.py:53-58); then one
    * [[PandasNum]] sequential pass PER CATEGORY — the reference's
    * groupby("category") shift/rolling/apply chain
    * (metrics_products.py:80-109) — parallel across categories via
    * flatMapSortedGroups, each series calendar-bounded.
    */
  private[graft] def kpiProdMonthlyFrom(long: DataFrame): DataFrame = {
    val spark = long.sparkSession
    import spark.implicits._
    // ONE exchange (r16, the kpiMonthlyFrom recipe): the input long
    // frame is the calendar×category-grain model table (≤ years × 12
    // × categories × flows rows whatever the fact volume behind it —
    // see the doc above), so the scale-correct plan merges to a
    // single partition FIRST and lets everything downstream ride it:
    // the pivot aggregate plans complete-mode with no exchange
    // (SinglePartition satisfies its clustering), the per-category
    // typed group pass needs no regroup exchange (SinglePartition
    // satisfies ClusteredDistribution(category) too — groups form on
    // the local sort), and the presentation order is a local sort on
    // the already-single partition (plain sortWithinPartitions, NOT
    // resultOrder, whose repartition(1) would plan a second, no-op
    // exchange). The r15 shape paid three exchanges (pivot hash,
    // category regroup, merge) to move ≤ ~2400 rows. Pivot values
    // are unchanged: (year, month, flow, category) keys aggregate
    // with SUM — identical in any partitioning; the sequential
    // metric pass consumes each category's rows sorted by
    // (year, month_num) exactly as before.
    val wide = long.filter($"month" =!= "Total")
      .repartition(1)
      .groupBy($"year", $"month", $"category")
      .agg(sum(when($"flow" === "export", $"usd")).as("exp"),
        sum(when($"flow" === "import", $"usd")).as("imp"))
      .filter($"exp".isNotNull || $"imp".isNotNull)
      .select($"year".cast("long").as("year"), $"month",
        mesNum($"month").as("month_num"), $"category", $"exp", $"imp")
      .as[WideProdRow]
    wide.groupByKey(_.category)
      .flatMapSortedGroups($"year", $"month_num")((cat, it) =>
        PandasNum.prodMetrics(cat, it))
      .toDF()
      .select($"year", $"month", $"month_num", $"category", $"exp", $"imp",
        $"balance", $"cov_ratio",
        $"exp_mom", $"exp_yoy", $"imp_mom", $"imp_yoy",
        $"exp_ma3", $"imp_ma3", $"balance_ma3", $"idx_exp", $"idx_imp")
      .sortWithinPartitions($"category", $"year", $"month_num")
  }

  private def refKpiProdMonthly(spark: SparkSession, dir: String): DataFrame =
    kpiProdMonthlyFrom(
      Tables.cachedRead(spark, Reference.path("trade_prod.parquet")))

  private val refKpiProdMonthlySql =
    s"""SELECT year, month, month_num, category, exp, imp, balance, cov_ratio,
       |  exp_mom, exp_yoy, imp_mom, imp_yoy,
       |  exp_ma3, imp_ma3, balance_ma3, idx_exp, idx_imp
       |FROM read_parquet('$refRoot/kpi_prod_monthly.parquet')
       |ORDER BY category, year, month_num""".stripMargin

  // ---- ref_eda_stats: eda.py's summary statistics over kpi_monthly ----

  /** The FIFTH golden file's numbers — eda.py:23-50,159-166,249-262:
    * load `kpi_monthly WHERE balance IS NOT NULL` ordered by
    * (year, month_num), then descriptive stats on export (mean / std
    * ddof=1 / max + argmax %Y-%m), surplus-month count, per-month
    * seasonality peak/valley, and the |pct_change − mean| > 2σ
    * outlier count — the nine numbers the committed
    * `reports/eda/eda_summary.md` publishes.
    *
    * DATA-VINTAGE adjudication (r12 verdict item 1): the golden
    * file's "156 months" window is NOT an older data vintage.
    * `kpi_monthly.parquet` has 239 rows, but exactly 156 carry a
    * non-null balance (2005..2017 — the committed trade table's
    * import side ends there, and balance needs both flows), and
    * eda.py's very first step is that balance filter. Under it every
    * published number reproduces from the committed parquet
    * (InsightsSpec pins the rendered lines against the golden file
    * byte-for-byte; this query is the oracle-checked twin).
    *
    * The input is graft's OWN ref_kpi_monthly output (byte-exact
    * equal to the committed parquet — so this also proves the
    * composition pipeline → EDA), while the DuckDB oracle computes
    * the same statistics from the committed file itself. Mean/std
    * use exact decimal sums ([[Det]]) at billion scale — hash parity
    * needs deterministic accumulation, and (18,6) decimal squares
    * would overflow on raw USD. Scale shape: one calendar-bounded
    * series (≤ years×12 rows) — a serving-layer probe, not a volume
    * operator; the volume forms are kpi_outliers / kpi_month_stats.
    */
  private def refEdaStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Materialize the filtered kpi-monthly series ONCE per invocation
    // (r15): the six statistic branches below (base aggregate, argmax,
    // month means → peak/valley, pct-change stats, outlier count) are
    // independent subtrees, and Spark re-executes the WHOLE
    // kpiMonthlyFrom derivation (scan → pivot aggregate → sequential
    // metrics pass → merge) once per branch — StageAudit measured 6
    // jobs / 12 stages ≈ 1.2 s for a 156-row series. One
    // localCheckpoint turns the other five executions into local
    // block scans (guide §5: cut lineage of a reused intermediate).
    // Values are unchanged — the checkpoint materializes the same
    // rows, and every branch computes from them exactly as before.
    // plain localCheckpoint, not MeasuredCkpt: no consumer of km makes
    // a stats-driven planner decision (every branch is an aggregate or
    // an explicit broadcast), so the measured-count job would be a
    // stage floor paid for nothing
    val km = refKpiMonthly(spark, dir).filter($"balance".isNotNull)
      .localCheckpoint()
    val xb = $"export" / lit(1e9)
    // Branch count is the cost here, not data (guide §2.4: remove
    // exchanges/jobs outright), so the r15 shape folds the six
    // branches into three:
    //  - the argmax month rides the base aggregate as a struct-max —
    //    max(struct(export, -year, -month_num)) picks the SAME row as
    //    ORDER BY export DESC, year, month_num LIMIT 1 (struct
    //    comparison is field-order lexicographic; negation flips the
    //    two ascending tiebreaks);
    //  - peak/valley are one aggregate over the 12-row month means
    //    (max/min of (a, ±month_num, month) structs — month_num is
    //    unique per month, so the third field never decides);
    //  - the pct-change stats become a full-frame window over the
    //    SAME decimal accumulator (exact in any order), so the
    //    outlier count is one linear chain instead of a broadcast
    //    crossJoin of a separate stats branch.
    // Every statistic becomes a WINDOW over the one checkpointed
    // 156-row frame (r15): km is a single partition (resultOrder
    // merges to one), and SinglePartition satisfies every clustering
    // requirement, so the month-mean windows, the full-frame stat
    // windows and the lag chain all plan inside ONE stage with zero
    // exchanges, zero joins, zero broadcast branches — the r14 shape
    // paid 6 jobs (≈ a scheduling floor each) to reassemble what one
    // pass over 156 rows computes. Every windowed aggregate below is
    // the exact twin of the aggregate-branch form it replaces:
    //  - decimal window sums (wsum) are order-exact, so mean/std/
    //    mu/sigma land on identical doubles;
    //  - max(struct(export, -year, -month_num)) ≡ ORDER BY export
    //    DESC, year, month_num LIMIT 1 (lexicographic struct order);
    //  - per-month means ride Window.partitionBy(month) (a sort, not
    //    an exchange, on the single partition), and peak/valley are
    //    full-frame struct extrema over those — month_num is unique
    //    per month so the third field never decides;
    //  - the pct outlier count skips nulls exactly as the filtered
    //    aggregate did (sum/count ignore null pct; the outlier
    //    indicator is otherwise(0) on a null condition).
    // All nine outputs are frame-constants, so limit(1) of the
    // constant projection is the deterministic single row. This is a
    // serving-layer probe over a calendar-bounded series — the
    // single-partition shape IS the scale story (the volume forms
    // are kpi_outliers / kpi_month_stats).
    val w = Window.orderBy($"year", $"month_num")
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wMon = Window.partitionBy($"month", $"month_num")
    val Dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
    // windowed twin of Det.dsum/davg: decimal accumulation then the
    // shortest-string double surface — exact in any order
    def wsumOver(c: Column, wd: org.apache.spark.sql.expressions.WindowSpec) =
      sum(c.cast(Dec6)).over(wd).cast("string").cast("double")
    def wsum(c: Column): Column = wsumOver(c, wAll)
    // windows batched into three projection layers (a withColumn per
    // expression planned ELEVEN Window operators; same expressions,
    // one select per dependency layer plans five — the three distinct
    // specs of layer 1, then the two full-frame layers that consume
    // layer-1 / layer-2 columns)
    km
      .select($"*",
        wsum(xb).as("sxb"),
        wsum(xb * xb).as("sxb2"),
        count($"export").over(wAll).as("n"),
        max($"export").over(wAll).as("max_usd"),
        sum(when($"balance" > 0, 1L).otherwise(0L)).over(wAll)
          .as("surplus_months"),
        max(struct($"export", (-$"year").as("ny"),
          (-$"month_num").as("nm"))).over(wAll).as("mx"),
        (wsumOver($"export", wMon) / count($"export").over(wMon)).as("a"),
        (($"export" / lag($"export", 1).over(w) - 1.0) * 100.0).as("pct"))
      .select($"*",
        max(struct($"a", (-$"month_num").as("nm"), $"month")).over(wAll)
          .as("pk"),
        min(struct($"a", $"month_num", $"month")).over(wAll).as("vl"),
        wsum($"pct").as("sx"),
        wsum($"pct" * $"pct").as("sx2"),
        count($"pct").over(wAll).as("np"))
      .withColumn("mu", $"sx" / $"np")
      .withColumn("sigma",
        sqrt(greatest(($"sx2" - $"sx" * $"sx" / $"np") / ($"np" - 1),
          lit(0.0))))
      .withColumn("outlier_count",
        sum(when(abs($"pct" - $"mu") > lit(2.0) * $"sigma", 1L)
          .otherwise(0L)).over(wAll))
      .select(($"sxb" / $"n").as("mean_b"),
        sqrt(greatest(($"sxb2" - $"sxb" * $"sxb" / $"n") / ($"n" - 1),
          lit(0.0))).as("std_b"),
        $"max_usd",
        concat((-$"mx.ny").cast("string"), lit("-"),
          lpad((-$"mx.nm").cast("string"), 2, "0")).as("max_ym"),
        $"surplus_months", $"n".as("total_months"),
        $"pk.month".as("peak_month"), $"vl.month".as("valley_month"),
        $"outlier_count")
      .limit(1)
      .resultOrder($"max_ym")
  }

  private val refEdaStatsSql =
    s"""WITH d AS (
       |  SELECT year, month, month_num, export, balance
       |  FROM read_parquet('$refRoot/kpi_monthly.parquet')
       |  WHERE balance IS NOT NULL
       |),
       |base AS (
       |  SELECT
       |    ${Det.dsumSql("export/1e9")} / COUNT(export) AS mean_b,
       |    SQRT(GREATEST((${Det.dsumSql("(export/1e9) * (export/1e9)")} -
       |      ${Det.dsumSql("export/1e9")} * ${Det.dsumSql("export/1e9")} / COUNT(export))
       |      / (COUNT(export) - 1), 0.0)) AS std_b,
       |    MAX(export) AS max_usd,
       |    CAST(SUM(CASE WHEN balance > 0 THEN 1 ELSE 0 END) AS BIGINT) AS surplus_months,
       |    COUNT(export) AS total_months
       |  FROM d),
       |maxym AS (
       |  SELECT CAST(year AS VARCHAR) || '-' || lpad(CAST(month_num AS VARCHAR), 2, '0') AS max_ym
       |  FROM d ORDER BY export DESC, year, month_num LIMIT 1),
       |mon AS (
       |  SELECT month, month_num, ${Det.davgSql("export")} AS a
       |  FROM d GROUP BY month, month_num),
       |peak AS (SELECT month AS peak_month FROM mon ORDER BY a DESC, month_num LIMIT 1),
       |valley AS (SELECT month AS valley_month FROM mon ORDER BY a ASC, month_num LIMIT 1),
       |pc AS (
       |  SELECT (export / LAG(export, 1) OVER (ORDER BY year, month_num) - 1.0) * 100.0 AS pct
       |  FROM d),
       |pc2 AS (SELECT pct FROM pc WHERE pct IS NOT NULL),
       |ps AS (
       |  SELECT ${Det.dsumSql("pct")} / COUNT(pct) AS mu,
       |    SQRT(GREATEST((${Det.dsumSql("pct * pct")} -
       |      ${Det.dsumSql("pct")} * ${Det.dsumSql("pct")} / COUNT(pct))
       |      / (COUNT(pct) - 1), 0.0)) AS sigma
       |  FROM pc2),
       |oc AS (
       |  SELECT COUNT(*) AS outlier_count FROM pc2, ps
       |  WHERE ABS(pct - mu) > 2.0 * sigma)
       |SELECT mean_b, std_b, max_usd, max_ym, surplus_months, total_months,
       |  peak_month, valley_month, outlier_count
       |FROM base, maxym, peak, valley, oc""".stripMargin

  val all: Seq[Q] = Seq(
    Q("ref_trade_prod", refTradeProd, Some(refTradeProdSql)),
    Q("ref_trade_export", refTradeExport, Some(refTradeExportSql)),
    Q("ref_kpi_monthly", refKpiMonthly, Some(refKpiMonthlySql)),
    Q("ref_kpi_prod_monthly", refKpiProdMonthly, Some(refKpiProdMonthlySql)),
    Q("ref_eda_stats", refEdaStats, Some(refEdaStatsSql))
  )
}

/** Pivoted input rows for the pandas-faithful metric passes. `imp`
  * avoids the Scala keyword; the output select renames it. Option
  * fields carry pandas NaN as null (the committed parquets store NaN
  * as parquet null — pandas' to_parquet writes float NaN that way).
  */
private[graft] final case class WideTradeRow(year: Long, month: String,
    month_num: Long, export: Option[Double], imp: Option[Double])
private[graft] final case class WideProdRow(year: Long, month: String,
    month_num: Long, category: String, exp: Option[Double], imp: Option[Double])

private[graft] final case class KpiMonthlyRow(year: Long, month: String,
    month_num: Long, export: Option[Double], imp: Option[Double],
    balance: Option[Double], export_mom: Option[Double],
    export_yoy: Option[Double], import_mom: Option[Double],
    import_yoy: Option[Double], export_ma3: Option[Double],
    import_ma3: Option[Double], balance_ma3: Option[Double],
    idx2005_export: Option[Double], idx2005_import: Option[Double])

private[graft] final case class KpiProdRow(year: Long, month: String,
    month_num: Long, category: String, exp: Option[Double],
    imp: Option[Double], balance: Option[Double], cov_ratio: Option[Double],
    exp_mom: Option[Double], exp_yoy: Option[Double], imp_mom: Option[Double],
    imp_yoy: Option[Double], exp_ma3: Option[Double], imp_ma3: Option[Double],
    balance_ma3: Option[Double], idx_exp: Option[Double],
    idx_imp: Option[Double])

/** Bit-faithful ports of the pandas/numpy numeric kernels the
  * reference's metric scripts lean on. Every committed KPI value was
  * verified byte-identical through these (ReferenceParitySpec), so
  * each quirk below is load-bearing:
  *
  *  - [[bround]] — pandas `.round(n)` via numpy: rounding the EXACT
  *    binary expansion of the double (java.math.BigDecimal's exact
  *    constructor, NOT BigDecimal.valueOf's shortest-string view —
  *    Spark's own `bround` uses valueOf and disagrees with numpy on
  *    shortest-repr midpoints like 2.675), HALF_EVEN, NaN → null
  *    (pandas NaN lands as parquet null), ±Inf preserved (numpy
  *    rounds inf to inf and the reference persists it; only
  *    cov_ratio has an inf→None replace, applied at its call site).
  *  - [[rollMean3]] — pandas `rolling(3, min_periods=1).mean()`
  *    (window/aggregations.pyx roll_mean): ONE running Neumaier-
  *    compensated sum across the whole series with SEPARATE add and
  *    remove compensation accumulators, remove-before-add step order,
  *    the all-same-values exact-value shortcut, and the all-positive/
  *    all-negative zero clamp — verified bitwise-equal to pandas
  *    rolling on every committed series AND on NaN/-0.0/repeat fuzz.
  *    A fresh per-window mean differs on the committed data (one
  *    window's compensated sum lands exactly on .5 where the fresh
  *    fold lands a half-ulp under — kpi_prod row 2014-Marzo /
  *    II.Productos No Tradicionales).
  *  - lags are POSITIONAL within the (sorted) series — pandas
  *    shift(k) counts observations, not calendar months, so a missing
  *    month (the books' 'Setiembre' respelling drops September from
  *    2020 on) makes "YoY" compare to 12 rows back exactly as the
  *    reference does.
  */
private[graft] object PandasNum {

  def bround(x: Double, scale: Int): java.lang.Double =
    if (x.isNaN) null // pandas NaN lands as parquet null
    else if (x.isInfinite) x // np.round(±inf) = ±inf, persisted as inf —
    // neither metric script replaces infinities in mom/yoy/idx (only
    // cov_ratio has the replace, handled at its call site)
    else {
      val r = new java.math.BigDecimal(x)
        .setScale(scale, java.math.RoundingMode.HALF_EVEN).doubleValue()
      // numpy keeps the sign of zero (round(-0.004, 2) is -0.0);
      // BigDecimal has no signed zero — restore it, the committed
      // parquets carry -0.0 where a small negative ratio rounded away
      if (r == 0.0) java.lang.Math.copySign(0.0, x) else r
    }

  def rollMean3(vals: Array[Double]): Array[Double] = {
    val out = Array.fill(vals.length)(Double.NaN)
    var sum = 0.0; var compAdd = 0.0; var compRem = 0.0
    var nobs = 0; var neg = 0
    // pandas also tracks the last added value and how many consecutive
    // adds equaled it: an all-same-values window returns that value
    // EXACTLY (bypassing the compensated sum), which is also what a
    // single-observation window hits — without this, a lone value
    // surrounded by NaNs comes back with compensation residue
    var prev = Double.NaN; var consec = 0
    var i = 0
    while (i < vals.length) {
      // remove the exiting value BEFORE adding the entering one —
      // pandas' loop order; the compensated sum is order-sensitive,
      // and the reversed order diverges from pandas on 850 of the
      // committed series' 5724 unrounded values (all masked by
      // round() on the committed books, but this kernel's contract
      // is the unrounded sequence)
      if (i >= 3) {
        val o = vals(i - 3)
        if (!o.isNaN) {
          nobs -= 1
          val y = -o - compRem; val t = sum + y; compRem = t - sum - y; sum = t
          if (java.lang.Double.doubleToRawLongBits(o) < 0) neg -= 1
        }
      }
      val v = vals(i)
      if (!v.isNaN) {
        nobs += 1
        val y = v - compAdd; val t = sum + y; compAdd = t - sum - y; sum = t
        if (java.lang.Double.doubleToRawLongBits(v) < 0) neg += 1
        if (v == prev) consec += 1 else consec = 1
        prev = v
      }
      if (nobs > 0) {
        var r = sum / nobs
        if (consec >= nobs) r = prev
        else if (neg == 0 && r < 0) r = 0.0
        else if (neg == nobs && r > 0) r = 0.0
        out(i) = r
      }
      i += 1
    }
    out
  }

  private def d2o(x: Double): Option[Double] =
    if (x.isNaN) None else Some(x)
  private def j2o(x: java.lang.Double): Option[Double] =
    Option(x).map(_.doubleValue)
  private def nan(x: Option[Double]): Double =
    x.getOrElse(Double.NaN)

  /** `bround((a(i)/a(i-k) - 1) * 100, 2)` — pandas pct-change via
    * explicit lag columns (metrics.py:63-73); positions before the
    * lag window, or NaN anywhere in the ratio, round to null.
    */
  private def pct(a: Array[Double], k: Int, i: Int): Option[Double] =
    if (i < k) None else j2o(bround((a(i) / a(i - k) - 1.0) * 100.0, 2))

  /** metrics.py:35-90 over the globally-sorted series. */
  def monthlyMetrics(it: Iterator[WideTradeRow]): Iterator[KpiMonthlyRow] = {
    val rows = it.toArray
    val n = rows.length
    val exp = rows.map(r => nan(r.export))
    val imp = rows.map(r => nan(r.imp))
    val bal = Array.tabulate(n)(i => exp(i) - imp(i))
    // idx2005: Enero-2005 base (metrics.py:58-62) — iloc[0] on the
    // committed data; absent base (a sliced input) yields null idx
    val b = rows.indexWhere(r => r.year == 2005L && r.month_num == 1L)
    val baseE = if (b >= 0) exp(b) else Double.NaN
    val baseI = if (b >= 0) imp(b) else Double.NaN
    val expMa = rollMean3(exp); val impMa = rollMean3(imp)
    val balMa = rollMean3(bal)
    rows.indices.iterator.map { i =>
      KpiMonthlyRow(rows(i).year, rows(i).month, rows(i).month_num,
        d2o(exp(i)), d2o(imp(i)), d2o(bal(i)),
        pct(exp, 1, i), pct(exp, 12, i), pct(imp, 1, i), pct(imp, 12, i),
        j2o(bround(expMa(i), 0)), j2o(bround(impMa(i), 0)),
        j2o(bround(balMa(i), 0)),
        j2o(bround(exp(i) / baseE * 100.0, 2)),
        j2o(bround(imp(i) / baseI * 100.0, 2)))
    }
  }

  /** metrics_products.py:69-109 over one category's sorted series. */
  def prodMetrics(cat: String, it: Iterator[WideProdRow]): Iterator[KpiProdRow] = {
    val rows = it.toArray
    val n = rows.length
    val exp = rows.map(r => nan(r.exp))
    val imp = rows.map(r => nan(r.imp))
    val bal = Array.tabulate(n)(i => exp(i) - imp(i))
    // base index: the category's FIRST observation if it is > 0, else
    // 1 (metrics_products.py:101-106 — a NaN first value fails the
    // > 0 test in pandas too, so NaN also falls back to 1)
    val baseE = if (n > 0 && !exp(0).isNaN && exp(0) > 0) exp(0) else 1.0
    val baseI = if (n > 0 && !imp(0).isNaN && imp(0) > 0) imp(0) else 1.0
    val expMa = rollMean3(exp); val impMa = rollMean3(imp)
    val balMa = rollMean3(bal)
    rows.indices.iterator.map { i =>
      KpiProdRow(rows(i).year, rows(i).month, rows(i).month_num, cat,
        d2o(exp(i)), d2o(imp(i)), d2o(bal(i)),
        // cov_ratio is the ONE column with an inf replace: exp/imp with
        // ±inf → None, then round(4) (metrics_products.py:72); the
        // mom/yoy/idx columns keep infinities like pandas does
        { val c = exp(i) / imp(i)
          if (c.isInfinite) None else j2o(bround(c, 4)) },
        pct(exp, 1, i), pct(exp, 12, i), pct(imp, 1, i), pct(imp, 12, i),
        j2o(bround(expMa(i), 0)), j2o(bround(impMa(i), 0)),
        j2o(bround(balMa(i), 0)),
        j2o(bround(exp(i) / baseE * 100.0, 2)),
        j2o(bround(imp(i) / baseI * 100.0, 2)))
    }
  }
}
