package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Reconciliation against the reference pipeline's OWN published
  * parquets — the golden files under the reference root
  * ([[graft.operators.Reference]]). Every comparison
  * here is BYTE-EXACT (null-safe, bit-for-bit doubles): the
  * ref_* queries' driver oracle is `read_parquet` over these same
  * files, so any tolerance would only hide a mismatch the driver
  * would then find. The end-to-end sections additionally prove the
  * COMPOSITION the per-stage oracles can't see: raw xlsx → graft
  * parse → graft metrics equals the committed KPI tables.
  */
class ReferenceParitySpec extends AnyFunSuite {
  import TestSpark._
  import graft.operators.Reference

  /** Exact frame equality: same schema names, same row count, every
    * value identical (doubles compared bit-for-bit, null == null).
    * Both frames must arrive deterministically ordered.
    */
  private def assertExact(actual: DataFrame, expected: DataFrame,
      ctx: String): Unit = {
    val an = actual.schema.fieldNames.toSeq
    val en = expected.schema.fieldNames.toSeq
    assert(an == en, s"$ctx: column names $an vs $en")
    val a = actual.collect(); val e = expected.collect()
    assert(a.length == e.length, s"$ctx: ${a.length} rows vs ${e.length}")
    var bad = 0
    a.zip(e).zipWithIndex.foreach { case ((ra, re), i) =>
      an.indices.foreach { c =>
        val (va, ve) = (ra.get(c), re.get(c))
        val same = (va, ve) match {
          case (null, null) => true
          case (x: java.lang.Double, y: java.lang.Double) =>
            java.lang.Double.doubleToLongBits(x) ==
              java.lang.Double.doubleToLongBits(y)
          case _ => va == ve
        }
        if (!same) {
          bad += 1
          if (bad <= 5)
            info(s"$ctx row $i col ${an(c)}: $va vs $ve (${ra.mkString(",")})")
        }
      }
    }
    assert(bad == 0, s"$ctx: $bad mismatching values of ${e.length} rows")
  }

  test("ref_trade_prod: the real F1/G1 parse equals the committed trade_prod.parquet, byte-exact") {
    val mine = SparkEntry.queries("ref_trade_prod")(spark, sf)
    // "usd" tiebreak matches the query side's resultOrder and the
    // DuckDB oracle SQL: if the committed parquet ever carries a
    // duplicate (year, flow, category, month) key, both sides must
    // still use the same TOTAL order or the positional row-zip
    // flakes (r12 ADVICE)
    val ref = spark.read.parquet(Reference.path("trade_prod.parquet"))
      .orderBy("year", "flow", "category", "month", "usd")
      .selectExpr("CAST(year AS BIGINT) AS year", "month", "flow", "category", "usd")
    assertExact(mine, ref, "trade_prod")
  }

  test("ref_trade_export: the real G6 totals parse equals trade.parquet's export slice, byte-exact") {
    // includes sum_months — an order-sensitive float fold, so this
    // also pins the left-to-right column-order fold in
    // parseTotalsBookCells as the correct pandas-equivalent order
    val mine = SparkEntry.queries("ref_trade_export")(spark, sf)
    val ref = spark.read.parquet(Reference.path("trade.parquet"))
      .where("flow = 'export'")
      .orderBy("year", "month")
      .selectExpr("CAST(year AS BIGINT) AS year", "month", "flow", "usd", "sum_months")
    assertExact(mine, ref, "trade_export")
  }

  test("ref_kpi_monthly: metrics.py re-expressed equals the committed kpi_monthly.parquet, byte-exact") {
    val mine = SparkEntry.queries("ref_kpi_monthly")(spark, sf)
    val ref = spark.read.parquet(Reference.path("kpi_monthly.parquet"))
      .orderBy("year", "month_num")
      .selectExpr("CAST(year AS BIGINT) AS year", "month",
        "CAST(month_num AS BIGINT) AS month_num", "export", "import", "balance",
        "export_mom", "export_yoy", "import_mom", "import_yoy",
        "export_ma3", "import_ma3", "balance_ma3",
        "idx2005_export", "idx2005_import")
    assertExact(mine, ref, "kpi_monthly")
  }

  test("ref_kpi_prod_monthly: metrics_products.py re-expressed equals kpi_prod_monthly.parquet, byte-exact") {
    val mine = SparkEntry.queries("ref_kpi_prod_monthly")(spark, sf)
    val ref = spark.read.parquet(Reference.path("kpi_prod_monthly.parquet"))
      .orderBy("category", "year", "month_num")
      .selectExpr("CAST(year AS BIGINT) AS year", "month",
        "CAST(month_num AS BIGINT) AS month_num", "category", "exp", "imp",
        "balance", "cov_ratio", "exp_mom", "exp_yoy", "imp_mom", "imp_yoy",
        "exp_ma3", "imp_ma3", "balance_ma3", "idx_exp", "idx_imp")
    assertExact(mine, ref, "kpi_prod_monthly")
  }

  test("NEGATIVE CONTROL: the byte-exact comparator detects a single flipped value") {
    // a comparator bug that made assertExact vacuously pass would
    // silently void every parity claim above — prove one ulp-level
    // mutation in one cell fails the compare. The frame is built here
    // with the golden kpi_monthly's column types (year/month_num
    // bigint, export in USD at billions scale, a double column that
    // is null on part of its range, as balance is in the committed
    // table): the check is about the comparator, not about the
    // reference's values, so it needs no reference checkout.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rows = for (y <- 2008L to 2012L; m <- 1L to 12L) yield {
      val export = 2.5e9 + (y - 2008L) * 3.1e8 + m * 4.7e7 + y * m * 13.37
      (y, m, export, if (y <= 2010L) Some(export * 0.12 - 1.9e8) else None)
    }
    val ref = rows.toDF("year", "month_num", "export", "balance")
      .orderBy("year", "month_num")
    // the unmutated frame must compare equal, nulls included, so the
    // intercepts below can only be answered by the mutated cell
    assertExact(ref, ref, "negative control baseline")
    val mutated = ref.withColumn("export",
      when(col("year") === 2010 && col("month_num") === 6,
        col("export") + 1e-6).otherwise(col("export")))
    intercept[org.scalatest.exceptions.TestFailedException] {
      assertExact(mutated, ref, "negative control")
    }
    // and null vs value is caught too, not just value vs value
    val nulled = ref.withColumn("export",
      when(col("year") === 2010 && col("month_num") === 6,
        lit(null).cast("double")).otherwise(col("export")))
    intercept[org.scalatest.exceptions.TestFailedException] {
      assertExact(nulled, ref, "negative control (null)")
    }
  }

  test("rollMean3 is bitwise pandas rolling(3, min_periods=1).mean() on the frozen fuzz oracle") {
    // the committed KPI parquets pin the kernel only on the
    // reference's actual series; this fixture pins it on the edge
    // cases those series never hit (NaN runs, -0.0, repeated values,
    // singleton windows, 1e308 magnitudes) — outputs generated from
    // public pandas and frozen as big-endian IEEE-754 bit patterns,
    // so any later "simplification" of the compensated sum, the
    // remove-before-add order, or the same-value shortcut fails here
    // byte-for-byte instead of surviving until new data finds it
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/pandas_rollmean_golden.json"), "UTF-8")
    val text = try src.mkString finally src.close()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val cases = mapper.readTree(text).get("cases")
    def dec(hex: String): Double = java.lang.Double.longBitsToDouble(
      java.lang.Long.parseUnsignedLong(hex, 16))
    var checked = 0
    (0 until cases.size()).foreach { i =>
      val c = cases.get(i)
      val in = (0 until c.get("in").size()).map(j => dec(c.get("in").get(j).asText())).toArray
      val want = (0 until c.get("out").size()).map(j => dec(c.get("out").get(j).asText())).toArray
      val got = graft.operators.PandasNum.rollMean3(in)
      want.indices.foreach { j =>
        val same = (want(j).isNaN && got(j).isNaN) ||
          java.lang.Double.doubleToLongBits(want(j)) ==
            java.lang.Double.doubleToLongBits(got(j))
        assert(same, s"case $i pos $j: got ${got(j)} want ${want(j)} over ${in.mkString(",")}")
        checked += 1
      }
    }
    assert(checked > 500, s"fixture unexpectedly small: $checked values")
  }

  test("END TO END: raw F1/G1 books → graft parse → graft metrics equals the committed KPI table") {
    // the composition the per-stage oracles can't check: the METRIC
    // input is graft's OWN parse of the raw books, not the committed
    // long table — a user replaying the whole reference pipeline
    // through graft gets the identical final KPI parquet
    import org.apache.spark.sql.functions.col
    val parsed = graft.operators.Etl.parseBookCells(
      graft.operators.ReferenceParity.refCells(spark)
        .filter(col("book").contains("cdro_F1") || col("book").contains("cdro_G1")))
    val mine = graft.operators.ReferenceParity.kpiProdMonthlyFrom(parsed)
    val ref = spark.read.parquet(Reference.path("kpi_prod_monthly.parquet"))
      .orderBy("category", "year", "month_num")
      .selectExpr("CAST(year AS BIGINT) AS year", "month",
        "CAST(month_num AS BIGINT) AS month_num", "category", "exp", "imp",
        "balance", "cov_ratio", "exp_mom", "exp_yoy", "imp_mom", "imp_yoy",
        "exp_ma3", "imp_ma3", "balance_ma3", "idx_exp", "idx_imp")
    assertExact(mine, ref, "e2e kpi_prod_monthly")
  }

  test("END TO END: raw G6 book → graft totals parse → graft metrics equals kpi_monthly's export side") {
    // the import flow's source book (cdro_F8.xlsx) is absent from the
    // reference checkout (.MISSING_LARGE_BLOBS), so only the export
    // side is recomputable from raw data. The committed kpi_monthly
    // has a non-null export for EVERY row (the pivot's row set equals
    // the export pairs), so the G6-only row set — and hence every
    // positional lag — matches the full table's, and the export-side
    // columns must agree byte-exact; the import-side columns of the
    // same transform are covered by ref_kpi_monthly above.
    import org.apache.spark.sql.functions.col
    val parsed = graft.operators.Etl.parseTotalsBookCells(
      graft.operators.ReferenceParity.refCells(spark)
        .filter(col("book").contains("cdro_G6")))
    val mine = graft.operators.ReferenceParity.kpiMonthlyFrom(
        parsed.select("year", "month", "flow", "usd"))
      .select("year", "month", "month_num", "export",
        "export_mom", "export_yoy", "export_ma3", "idx2005_export")
    val ref = spark.read.parquet(Reference.path("kpi_monthly.parquet"))
      .orderBy("year", "month_num")
      .selectExpr("CAST(year AS BIGINT) AS year", "month",
        "CAST(month_num AS BIGINT) AS month_num", "export",
        "export_mom", "export_yoy", "export_ma3", "idx2005_export")
    assertExact(mine, ref, "e2e kpi_monthly export side")
  }
}
