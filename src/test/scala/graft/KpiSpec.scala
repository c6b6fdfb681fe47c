package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Semantic invariants of the KPI surface (reference behavior). */
class KpiSpec extends AnyFunSuite {
  import TestSpark._

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("kpi_pareto: cumulative share is monotone and closes at 1000 per mille") {
    val rows = q("kpi_pareto").orderBy("rk").collect()
    val pms = rows.map(_.getLong(4))
    assert(pms.zip(pms.tail).forall { case (a, b) => a <= b }, "cum_pm not monotone")
    assert(pms.last == 1000L, s"last cum_pm ${pms.last}")
    // classes partition the ranking in A..B..C order
    val cls = rows.map(_.getString(5)).distinct
    assert(cls.sameElements(cls.sorted), s"classes out of order: ${cls.mkString}")
    rows.foreach { r =>
      val want = if (r.getLong(4) <= 800) "A" else if (r.getLong(4) <= 950) "B" else "C"
      assert(r.getString(5) == want)
    }
  }

  test("kpi_month_stats over a one-year range: std 0.0, and the dashboard renders") {
    // one year per calendar month leaves the sample std no degrees of
    // freedom: the variance is NULL (DuckDB's x/0) and greatest()
    // makes the std 0.0; an unguarded division raises DIVIDE_BY_ZERO
    // under ANSI mode and fails the whole dashboard render
    val one = TradeParams(Some(1997), Some(1997))
    val rows = SparkEntry.queries("kpi_month_stats")(spark, one(sf)).collect()
    assert(rows.length == 12)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_years") == 1L)
      assert(!r.isNullAt(r.fieldIndex("mean_export_m")))
      assert(r.getAs[Double]("std_export_m") == 0.0)
    }
    assert(graft.Dashboard.render(spark, sf, one).contains("Estacionalidad"))
  }

  test("kpi_contrib: deltas reconcile and shares/directions are consistent") {
    val rows = q("kpi_contrib").collect()
    assert(rows.nonEmpty, "bridge years missing from the corpus date range")
    rows.foreach { r =>
      val (prev, cur, delta) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(math.abs(delta - (cur - prev)) < 1e-9)
      val dir = r.getString(5)
      assert(dir == (if (delta > 0) "up" else if (delta < 0) "down" else "flat"))
    }
    // output is ranked by delta descending
    val deltas = rows.map(_.getDouble(3))
    assert(deltas.zip(deltas.tail).forall { case (a, b) => a >= b })
    // per-mille shares of the total move roughly close (floor rounding
    // loses at most 1 per-mille per category)
    val totalDelta = deltas.sum
    val pmSum = rows.map(_.getLong(4)).sum
    if (totalDelta > 0)
      assert(pmSum <= 1000 && pmSum > 1000 - rows.length, s"pmSum=$pmSum")
  }

  test("kpi_forecast equals a sequential OLS recompute") {
    val series = q("kpi_base_monthly").orderBy("yr", "mon").collect()
      .map(r => (if (r.isNullAt(2)) 0.0 else r.getDouble(2),
        if (r.isNullAt(3)) 0.0 else r.getDouble(3)))
    def ols(ys: Array[Double]): (Double, Double, Double) = {
      val n = ys.length.toDouble
      val xs = (1 to ys.length).map(_.toDouble)
      val sx = xs.sum; val sxx = xs.map(x => x * x).sum
      // mirror the engine's decimal-exact accumulation closely
      // enough for a 1e-6-rounded compare on this short series
      val sy = ys.sum; val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val icept = (sy - slope * sx) / n
      (slope, icept, icept + slope * (n + 1))
    }
    val (es, ei, en) = ols(series.map(_._1))
    val (is, ii, in) = ols(series.map(_._2))
    val r = q("kpi_forecast").collect().head
    assert(r.getLong(0) == series.length)
    for ((got, want) <- Seq(r.getDouble(1) -> es, r.getDouble(2) -> ei,
        r.getDouble(3) -> en, r.getDouble(4) -> is, r.getDouble(5) -> ii,
        r.getDouble(6) -> in))
      assert(math.abs(got - want) < 1e-4, s"got $got want $want")
  }

  test("base_monthly covers the full 1995-2001 order range") {
    val rows = q("kpi_base_monthly").collect()
    assert(rows.length == 80) // 6.5y of months, fixed generator range
    assert(rows.forall(r => r.getInt(1) >= 1 && r.getInt(1) <= 12))
  }

  test("mom/yoy are null exactly at series starts") {
    val df = q("kpi_mom_yoy").orderBy("yr", "mon").collect()
    assert(df.head.isNullAt(3))           // first month has no MoM
    assert(df.take(12).forall(_.isNullAt(4))) // first 12 have no YoY
    assert(df.drop(12).forall(!_.isNullAt(4)))
  }

  test("ytd resets each January") {
    val df = q("kpi_ytd").select("yr", "mon", "export_usd", "export_ytd").collect()
    df.filter(_.getInt(1) == 1).foreach { r =>
      assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-6)
    }
  }

  test("ytd_delta matches a prior-year same-period recompute") {
    // the reference tile: export_change = (export_ytd/export_prev - 1)
    // * 100 against the SAME cumulative period one year back
    // (app.py:201-216). Cross-check every row against the kpi_ytd
    // frame joined to itself at (yr-1, mon) — on the full corpus AND
    // on a sparse month grid (flow filter), where a bare lag over the
    // year sequence would silently compare against the last AVAILABLE
    // year instead of yr-1.
    def check(dir: String): Unit = {
      val ytd = SparkEntry.queries("kpi_ytd")(spark, dir).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(3)).toMap
      val rows = SparkEntry.queries("kpi_ytd_delta")(spark, dir).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val (yr, mon) = (r.getInt(0), r.getInt(1))
        assert(math.abs(r.getDouble(2) - ytd((yr, mon))) < 1e-9)
        ytd.get((yr - 1, mon)) match {
          case Some(prev) =>
            assert(math.abs(r.getDouble(3) - prev) < 1e-9)
            assert(math.abs(r.getDouble(4) - (r.getDouble(2) / prev - 1.0) * 100.0) < 1e-9)
          case None =>
            assert(r.isNullAt(3) && r.isNullAt(4),
              s"missing ($yr-$mon) prior year must carry null deltas")
        }
      }
    }
    check(sf)
    check(TradeParams(flows = Some(Set("export")))(sf))
  }

  test("idx_base starts at 100") {
    val first = q("kpi_idx_base").orderBy("yr", "mon").first()
    assert(math.abs(first.getDouble(2) - 100.0) < 1e-9)
    assert(math.abs(first.getDouble(3) - 100.0) < 1e-9)
  }

  test("quarterly totals reconcile with annual totals") {
    val qd = q("kpi_quarterly").groupBy("yr")
      .agg(sum("export_musd").as("e")).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val ad = q("kpi_annual").collect()
      .map(r => r.getInt(0) -> r.getDouble(1) * 1000).toMap
    for ((y, e) <- ad) assert(math.abs(qd(y) - e) < 1e-3, s"year $y")
  }

  test("cov_ratio equals export/import") {
    val checked = q("kpi_balance_cov").collect().count { r =>
      !r.isNullAt(2) && !r.isNullAt(3) && {
        val (e, i, cov) = (r.getDouble(2), r.getDouble(3), r.getDouble(5))
        assert(math.abs(cov - e / i) < 1e-12)
        true
      }
    }
    assert(checked > 0)
  }

  test("prod_monthly has one series per part category") {
    val cats = q("kpi_prod_monthly").select("category").distinct().count()
    assert(cats == 6) // PROMO ECONOMY MEDIUM SMALL LARGE STANDARD
  }

  test("kpi_gapfill densifies every category to the full calendar spine") {
    val rows = q("kpi_gapfill").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getDouble(3), r.getDouble(4), r.getInt(5)))
    val grain = q("kpi_prod_monthly").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    // the grid is exactly #categories × #months-in-span, no dup keys
    val cats = rows.map(_._1).distinct
    val months = rows.map(r => (r._2, r._3)).distinct
    assert(rows.length == cats.length * months.length)
    assert(rows.map(r => (r._1, r._2, r._3)).distinct.length == rows.length)
    // the spine is the contiguous global month range of the grain
    val idx = grain.map { case (_, y, m) => y * 12 + m - 1 }
    assert(months.map { case (y, m) => y * 12 + m - 1 }.sorted.toSeq ==
      (idx.min to idx.max).toSeq)
    // fill flags are exactly the grid minus the observed grain, and
    // filled months carry zero in both flows
    rows.foreach { case (c, y, m, exp, imp, fill) =>
      assert((fill == 1) == !grain((c, y, m)))
      if (fill == 1) assert(exp == 0.0 && imp == 0.0)
    }
    assert(rows.count(_._6 == 1) == rows.length - grain.size)
  }
}
