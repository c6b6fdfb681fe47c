package graft

import graft.operators.Reference
import org.scalatest.funsuite.AnyFunSuite

/** Mirrors the reference's tests/test_insights.py and
  * tests/test_products_qa.py: insight narrative structure and data
  * quality/consistency invariants over the trade analog.
  */
class InsightsSpec extends AnyFunSuite with TempDirs {
  import TestSpark._
  import spark.implicits._

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  // -- insights (reference test_insights.py) --

  test("insights are generated, bounded, and structured") {
    val insights = q("kpi_insights_text").collect()
    assert(insights.nonEmpty, "no insights generated")
    assert(insights.length <= 5, "more insights than requested")
    insights.map(_.getAs[String]("insight_md")).foreach { md =>
      assert(md.contains("Finding:"), "missing Finding section")
      assert(md.contains("Impact:"), "missing Impact section")
      assert(md.contains("Action:"), "missing Action section")
    }
  }

  test("insights are ordered by absolute YoY") {
    val yoys = q("kpi_insights_text").collect().map(r => math.abs(r.getDouble(3)))
    assert(yoys.sameElements(yoys.sorted(Ordering[Double].reverse)))
  }

  // -- data quality (reference test_products_qa.py) --

  test("trade analog has both flows, full year range, positive values") {
    val long = q("kpi_trade_long").collect()
    val flows = long.map(_.getString(2)).toSet
    assert(flows == Set("export", "import"), s"flows=$flows")
    val years = long.map(_.getInt(0)).toSet
    assert(years.min == 1995 && years.max == 2001)
    assert(long.forall(_.getDouble(3) > 0), "non-positive usd")
  }

  test("monthly sums reconcile with annual totals per flow") {
    val monthly = q("kpi_trade_long").collect()
      .groupBy(r => (r.getInt(0), r.getString(2)))
      .view.mapValues(_.map(_.getDouble(3)).sum).toMap
    val annual = q("kpi_annual").collect()
      .flatMap(r => Seq(
        (r.getInt(0), "export") -> r.getDouble(1) * 1e9,
        (r.getInt(0), "import") -> r.getDouble(2) * 1e9)).toMap
    for ((k, v) <- annual) {
      assert(math.abs(monthly(k) - v) / v < 1e-9, s"mismatch at $k")
    }
  }

  test("no category/month cell is duplicated in prod KPIs") {
    val dup = q("kpi_prod_monthly")
      .groupBy($"category", $"yr", $"mon").count()
      .filter($"count" > 1).count()
    assert(dup == 0)
  }

  test("EDA SVG figures are well-formed XML and deterministic") {
    def parse(s: String): Unit =
      javax.xml.parsers.DocumentBuilderFactory.newInstance()
        .newDocumentBuilder()
        .parse(new java.io.ByteArrayInputStream(s.getBytes("UTF-8")))
    val line = graft.Report.lineSvg("exports <&>", Seq(1.0, 3.0, 2.0, 2.5))
    assert(line == graft.Report.lineSvg("exports <&>", Seq(1.0, 3.0, 2.0, 2.5)))
    parse(line) // XML-special chars in titles must be escaped
    val bar = graft.Report.barSvg("m", (1 to 12).map(_.toString), (1 to 12).map(_.toDouble))
    parse(bar)
    assert(bar.sliding(5).count(_ == "<rect") == 13) // frame + 12 bars
    // degenerate inputs must not divide by zero
    parse(graft.Report.lineSvg("flat", Seq(2.0, 2.0)))
    parse(graft.Report.barSvg("zero", Seq("a"), Seq(0.0)))
  }

  test("Report.write writes the summary and both figures and leaves the session running") {
    val out = tempDir("graft-report")
    graft.Report.write(spark, sf, out.toString)
    Seq("eda_summary.md", "eda_trend.svg", "eda_seasonality.svg").foreach { f =>
      val p = out.resolve(f)
      assert(java.nio.file.Files.isRegularFile(p) && java.nio.file.Files.size(p) > 0,
        s"$f not written")
    }
    assert(!spark.sparkContext.isStopped, "Report.write stopped the caller's session")
  }

  test("SVG renderers are locale-independent (decimal-comma default locale)") {
    // GraftSession pins Locale.ROOT process-wide, but a caller
    // building their OWN SparkSession inherits the host default — on
    // a decimal-comma host an f"" interpolation would emit "4,7"
    // coordinates, which splits a point list's x,y pairs into garbage
    // (r13 ADVICE). The renderers pin Locale.ROOT at every format
    // call site; prove it by flipping the JVM default.
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      val line = graft.Report.lineSvg("l", Seq(1.25, 3.75, 2.5))
      val bar = graft.Report.barSvg("b", Seq("a", "b"), Seq(1.25, 2.75))
      for (svg <- Seq(line, bar)) {
        javax.xml.parsers.DocumentBuilderFactory.newInstance()
          .newDocumentBuilder()
          .parse(new java.io.ByteArrayInputStream(svg.getBytes("UTF-8")))
        ()
      }
      // the polyline point list must be space-separated "x,y" pairs
      // with DOT decimals — a comma decimal would add extra fields
      val pts = """points="([^"]*)"""".r
        .findFirstMatchIn(line).get.group(1).trim
      assert(pts.split(" ").forall(_.count(_ == ',') == 1),
        s"comma-decimal leaked into point list: $pts")
      assert(pts.contains("."), s"expected dot decimals: $pts")
    } finally java.util.Locale.setDefault(saved)
  }

  test("dashboard bundle renders every tab section from checked operators") {
    val md = graft.Dashboard.render(spark, sf)
    for (h <- Seq("Análisis por País", "Métricas Clave", "Serie Temporal",
        "Estacionalidad", "Distribución Mensual", "reconciliación QA",
        "Análisis por Categorías", "Heatmap Año × Mes",
        "Ranking de Categorías", "Cambios de Ranking",
        "Concentración ABC (Pareto)", "Puente YoY por Categoría",
        "Tendencia OLS y Proyección",
        "Conclusiones Accionables", "Estadísticas Rápidas"))
      assert(md.contains(h), s"dashboard missing section: $h")
    // the reference's lead metric tiles (app.py:201-216): YTD per
    // flow WITH the prior-year delta rendered next to the value, the
    // value itself auto-scaled through the format_currency analog
    assert(md.contains("Exportaciones YTD"), "missing YTD export tile")
    assert("""Exportaciones YTD \d{4}-\d{1,2}: \$-?[\d,.]+[BM]? \([+-][\d.]+% vs año anterior\)""".r
      .findFirstIn(md).isDefined, "YTD tile lacks the formatted value + prior-year delta")
    assert(md.contains("Importaciones YTD"), "missing YTD import tile")
    // key-metric tiles render through fmtUsd too (app.py format_currency)
    assert("""- Exportaciones \d{4}: \$-?[\d,.]+[BM]?\n""".r
      .findFirstIn(md).isDefined, "key-metric tile not formatted via fmtUsd")
    // tables actually carry rows, not just headers
    assert(md.linesIterator.count(_.startsWith("| ")) > 40)
  }

  test("dashboard renders from the reference's REAL data: CUODE names, real calendar, real magnitudes") {
    // the first end-user-visible output computed from the reference's
    // ACTUAL inputs — the parsed cdro books and the golden-file KPI
    // tables (byte-exact vs the committed parquets, ReferenceParitySpec)
    val md = graft.Dashboard.renderReference(spark)
    for (h <- Seq("Observatorio de Comercio Exterior del Perú",
        "Métricas Clave", "Serie Temporal", "Top categorías por exportación",
        "Categorías de importación (CUODE", "Reconciliación QA"))
      assert(md.contains(h), s"real-data dashboard missing section: $h")
    // real CUODE import groups and real export groups, by name
    assert(md.contains("BIENES DE CONSUMO"), "CUODE category names missing")
    assert(md.contains("Productos Tradicionales"), "export groups missing")
    // the real calendar: the books end in 2025, and the latest tile
    // must carry a billions-scaled real magnitude through fmtUsd
    assert(md.contains("2025"), "latest real year missing")
    assert("""2025-\w+: Export \$[\d.]+B""".r.findFirstIn(md).isDefined,
      "latest-month tile lacks a real billions-scaled export value")
    // the import flow's source ends before 2025 — its tile must
    // degrade to N/A, not crash or fabricate
    assert(md.contains("Import N/A"), "missing-import month should render N/A")
    assert(md.linesIterator.count(_.startsWith("| ")) > 15)
  }

  test("EDA report renders from the real data with real magnitudes and CUODE names") {
    val (md, figures) = graft.Report.renderReference(spark)
    for (h <- Seq("datos reales", "Descriptive statistics", "Seasonality",
        "Outlier events", "Top export categories"))
      assert(md.contains(h), s"real-data EDA missing section: $h")
    // the real series' magnitude: mean monthly exports are single-digit
    // billions over 2005-2025
    val mean = """Mean monthly exports: \$([\d.]+)B""".r
      .findFirstMatchIn(md).map(_.group(1).toDouble)
    assert(mean.exists(m => m > 1 && m < 10), s"implausible real mean: $mean")
    assert(md.contains("Productos Tradicionales") || md.contains("BIENES"),
      "top categories must carry real names")
    // both figures render non-degenerate SVG from the real series
    assert(figures.map(_._1).toSet ==
      Set("eda_trend_ref.svg", "eda_seasonality_ref.svg"))
    figures.foreach { case (name, svg) =>
      assert(svg.startsWith("<svg") && svg.contains("</svg>"), s"$name malformed")
      assert(svg.length > 500, s"$name suspiciously empty")
    }
  }

  test("the six reference HTML report files render self-contained from the real data") {
    // eda.py publishes exactly six figure files under reports/eda/
    // and eda_summary.md's "Archivos Generados" section names them;
    // a migrating user's bookmarks must keep working. graft renders
    // them as dependency-free SVG pages (the reference ships ~4 MB
    // of plotly per file) from the same oracle-checked, balance-
    // filtered 156-month window eda.py charts.
    val files = graft.Report.renderReferenceHtml(spark)
    val wantNames = Seq("series_temporal.html", "estacionalidad_heatmap.html",
      "distribucion_mensual.html", "tendencias.html", "outliers.html",
      "dashboard_eda.html")
    assert(files.map(_._1) == wantNames, s"filenames: ${files.map(_._1)}")
    // every name the committed summary promises is covered
    val golden = java.nio.file.Files.readString(java.nio.file.Paths.get(
      Reference.path("reports/eda/eda_summary.md")))
    wantNames.foreach(n => assert(golden.contains(n),
      s"$n not in the committed Archivos Generados list — inventory drifted"))
    files.foreach { case (name, html) =>
      assert(html.startsWith("<!DOCTYPE html>") && html.contains("</html>"),
        s"$name not a complete page")
      assert(html.contains("<svg") && html.contains("</svg>"), s"$name has no chart")
      assert(!html.toLowerCase.contains("<script"),
        s"$name must be dependency-free (no script tags)")
      assert(html.length > 2000, s"$name suspiciously empty (${html.length}B)")
    }
    // the outliers page carries the 2-sigma markers (7 on this data —
    // the count the golden summary publishes and ref_eda_stats checks)
    val outHtml = files.toMap.apply("outliers.html")
    assert(outHtml.split("stroke=\"red\"").length - 1 == 7,
      "outlier marker count diverged from the published 7")
    // deterministic bytes: a re-render is identical
    assert(graft.Report.renderReferenceHtml(spark) == files)
  }

  test("GOLDEN FILE 5: rendered EDA summary equals the committed reports/eda/eda_summary.md, line-exact") {
    // DATA-VINTAGE adjudication (r12 verdict item 1). The committed
    // file says "156 meses"; kpi_monthly.parquet has 239 rows — NOT
    // an older data vintage: eda.py's first step is
    // `SELECT * FROM kpi_monthly WHERE balance IS NOT NULL`
    // (eda.py:27), and exactly 156 rows carry a non-null balance
    // (2005-2017 — the committed trade table's import side ends
    // there, and balance needs both flows). Prove the window claim
    // first, then prove EVERY line of the published report
    // reproduces from the committed data through graft's own
    // pipeline (ref_kpi_monthly → ref_eda_stats → the template).
    val km = spark.read.parquet(Reference.path("kpi_monthly.parquet"))
    assert(km.count() == 239, "committed kpi_monthly row count moved")
    val win = km.filter("balance IS NOT NULL")
    assert(win.count() == 156, "balance-non-null window is the 156-month claim")
    assert(win.agg(org.apache.spark.sql.functions.max("year")).head.getLong(0) == 2017)

    val golden = java.nio.file.Files.readString(
      java.nio.file.Paths.get(Reference.path("reports/eda/eda_summary.md")))
    val rendered = graft.Report.renderEdaSummaryGolden(spark)
    val gl = golden.linesIterator.toSeq
    val rl = rendered.linesIterator.toSeq
    assert(rl.length == gl.length,
      s"line count diverges: rendered ${rl.length} vs golden ${gl.length}")
    gl.zip(rl).zipWithIndex.foreach { case ((g, r), i) =>
      // the generation timestamp is the one legitimate difference
      // (eda.py stamps datetime.now()); format-compatibility of that
      // line is asserted below instead
      if (!g.startsWith("*Generado el"))
        assert(r == g, s"line $i diverges:\n  got:  $r\n  want: $g")
    }
    val tsRe = """\*Generado el \d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\*""".r
    assert(tsRe.findFirstIn(golden).isDefined && tsRe.findFirstIn(rendered).isDefined,
      "timestamp line format diverges")

    // formatter-tie guard: Python's {:.1f} rounds half-even, Java's
    // %.1f half-up. They agree everywhere OFF a .x5 tie — prove none
    // of the four formatted float values sits on one, so the
    // line-exact match above is robust, not lucky
    val r0 = SparkEntry.queries("ref_eda_stats")(spark, sf).collect().head
    for (v <- Seq(r0.getDouble(0), r0.getDouble(1), r0.getDouble(2) / 1e9,
        r0.getLong(4).toDouble / r0.getLong(5) * 100.0)) {
      val f = v * 10 - math.floor(v * 10)
      assert(math.abs(f - 0.5) > 1e-3,
        s"formatted value $v sits on a rounding tie — half-even vs half-up diverge")
    }
  }

  test("dashboard defaults the category tab to the latest year's top-10 by export") {
    // reference app.py:446-473: with no manual selection the category
    // multiselect defaults to the top-N by export IN THE LATEST YEAR
    // (app.py:447 last_year_data = df[df.year == df.year.max()]) and
    // the sidebar notes "Mostrando top N categorías". Independent
    // derivation of the expectation: the same reduction as a Spark
    // aggregation over the oracle-checked monthly model.
    val md = graft.Dashboard.render(spark, sf)
    import org.apache.spark.sql.functions.{coalesce, lit, max => smax, sum => ssum}
    val pm = SparkEntry.queries("kpi_prod_monthly")(spark, sf)
    val lastYr = pm.agg(smax($"yr")).head.getInt(0)
    val expected = pm.filter($"yr" === lastYr)
      .groupBy($"category")
      .agg(ssum(coalesce($"exp", lit(0.0))).as("e"))
      .orderBy($"e".desc, $"category").limit(10)
      .collect().map(_.getString(0)).toSet
    // the test corpus may have < 10 categories; the note reports the
    // actual selection size (min(10, #categories)), like min(50, …)
    // bounds the reference's slider
    assert(md.contains(
      s"Mostrando top ${expected.size} categorías por exportación del último año"),
      "missing default top-N note in the bundle header")
    val section = md.split("### Ranking de Categorías")(1).split("###")(0)
    val got = section.linesIterator
      .filter(l => l.startsWith("| ") && !l.startsWith("| rk") && !l.contains("---"))
      .map(_.split("\\|")(2).trim).toSet
    assert(got == expected,
      s"ranking section should carry exactly the default top-10: $got vs $expected")
    // an explicit selection disables the default (manual mode)
    val manual = graft.Dashboard.render(spark, sf,
      TradeParams(categories = Some(expected.toSeq.sorted.take(2))))
    assert(!manual.contains("Mostrando top"),
      "manual category selection must not claim the default")
  }

  test("the top-N dial rides the params fragment and resizes the category default") {
    // reference app.py:437-445: the "Mostrar top N categorías"
    // number_input feeds the default multiselect size. Engine-side it
    // is a TradeParams field like every other UI filter: lossless
    // through the dir-fragment encoding, resizing the derived
    // category selection (which then prunes the part-dimension scan
    // through the same In(p_type,...) pushdown the multiselect test
    // asserts).
    val params = TradeParams(nTop = Some(2))
    assert(TradeParams.parseDir(params(sf)) == (sf, params),
      "ntop must round-trip the fragment encoding")
    val md = graft.Dashboard.render(spark, sf, params)
    assert(md.contains("Mostrando top 2 categorías por exportación del último año"),
      "nTop dial must resize the default category selection")
    assert(md.contains("top 2"), "Filtros line must disclose the dial")
    val section = md.split("### Ranking de Categorías")(1).split("###")(0)
    val got = section.linesIterator
      .filter(l => l.startsWith("| ") && !l.startsWith("| rk") && !l.contains("---"))
      .map(_.split("\\|")(2).trim).toSet
    assert(got.size == 2, s"ranking must carry exactly top-2 categories: $got")
    // dial typos fail fast (same contract as unknown flows): top-0
    // would silently blank every category panel
    intercept[IllegalArgumentException] { TradeParams(nTop = Some(0)) }
  }

  test("real-data observatory honors the UI params: year range, categories, top-N") {
    // app.py's sliders filter the LOADED kpi frame client-side
    // (pandas df[df.year...] after a full parquet read) — the
    // faithful analog filters the collected golden frames. Window:
    // 2010-2012 with a top-3 dial.
    val md = graft.Dashboard.renderReference(spark,
      TradeParams(Some(2010), Some(2012), None, None, Some(3)))
    assert(md.contains("Filtros: años 2010–2012 · top 3"))
    // the series tail must stay inside the window
    val yearsShown = """\| (\d{4}) \|""".r.findAllMatchIn(md)
      .map(_.group(1).toInt).toSet
    assert(yearsShown.nonEmpty && yearsShown.forall(y => y >= 2010 && y <= 2012),
      s"series rows escaped the year window: $yearsShown")
    // top list respects the dial
    val topLines = md.split("Top categorías por exportación")(1)
      .split("###")(0).linesIterator.count(_.startsWith("- "))
    assert(topLines == 3, s"top list must carry exactly 3 entries, got $topLines")
    // and the latest-year basis is the WINDOW's latest year, not 2025
    assert(md.contains("(CUODE, 2012)"),
      "category basis year must follow the filtered window")
    // flow checkboxes gate which flow columns render (app.py:175-177)
    // and are DISCLOSED — an export-only view must neither show
    // import/balance tiles nor render an empty Filtros line
    val exp = graft.Dashboard.renderReference(spark,
      TradeParams(flows = Some(Set("export"))))
    assert(exp.contains("Filtros: flujos export"), "flows must be disclosed")
    assert(exp.contains("Export") && !exp.contains("Import $") &&
      !exp.contains("Balance $"), "import/balance tiles must be hidden")
    assert(!exp.contains("Categorías de importación"),
      "import category section must be hidden under export-only flows")
    val imp = graft.Dashboard.renderReference(spark,
      TradeParams(flows = Some(Set("import"))))
    assert(imp.contains("Categorías de importación"))
    assert(!imp.contains("Serie Temporal"),
      "the export series table must be hidden under import-only flows")
  }

  test("tile currency formatting matches the reference's format_currency") {
    // app.py:97-105: >=1e9 → $X.XB, >=1e6 → $XM, below → grouped
    // integer dollars; NaN/null → N/A. Exact strings, so a locale or
    // rounding drift in the tiles fails loudly.
    import graft.Dashboard.fmtUsd
    assert(fmtUsd(2.5e9) == "$2.5B")
    assert(fmtUsd(-1.23e9) == "$-1.2B")
    assert(fmtUsd(1e9) == "$1.0B")
    assert(fmtUsd(345.6e6) == "$346M")
    assert(fmtUsd(-2e6) == "$-2M")
    assert(fmtUsd(999999.0) == "$999,999")
    assert(fmtUsd(1234.0) == "$1,234")
    assert(fmtUsd(0.0) == "$0")
    assert(fmtUsd(Double.NaN) == "N/A")
    // exact ties round HALF_EVEN like the reference's Python
    // f-strings (2.25 and 346.5 are exactly representable doubles);
    // Java's String.format would say $2.3B / $347M here
    assert(fmtUsd(2.25e9) == "$2.2B") // exact tie → even neighbor 2.2
    assert(fmtUsd(2.35e9) == "$2.4B") // stored ABOVE the tie → up
    assert(fmtUsd(346.5e6) == "$346M") // exact tie → even neighbor 346
    assert(fmtUsd(345.5e6) == "$346M") // exact tie → even neighbor 346
  }

  test("dashboard with a filter excluding all data degrades to empty widgets") {
    // reference tests/test_insights.py:34 build_insights(empty df)
    // must return a "Sin datos" message, never raise — same contract
    // here: a year range beyond the corpus renders every section as
    // an empty widget with no exception and no bogus default header
    val md = graft.Dashboard.render(spark, sf,
      TradeParams(Some(2050), Some(2051), None, None))
    assert(md.contains("sin datos bajo el filtro"))
    assert(!md.contains("Mostrando top"),
      "empty ranking must not claim a top-N default")
    for (h <- Seq("Análisis por País", "Análisis por Categorías",
        "Conclusiones Accionables"))
      assert(md.contains(h), s"empty-data dashboard missing section: $h")
  }

  // -- parameterized dashboard (reference app.py:165-180 filters) --

  test("dashboard params filter the operators and reach the parquet scan") {
    val params = TradeParams(Some(1996), Some(1998), Some(Set("export")), None)
    val dir = params(sf)
    // round-trip: the fragment encoding is lossless
    assert(TradeParams.parseDir(dir) == (sf, params))
    // filter semantics through an oracle-checked operator
    val rows = SparkEntry.queries("kpi_trade_long")(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getInt(0) >= 1996 && r.getInt(0) <= 1998))
    assert(rows.map(_.getString(2)).toSet == Set("export"))
    // the year range and flow land as PUSHED predicates on the scan —
    // a filtered dashboard rerun reads less data, not the same scan
    // post-filtered
    // (o_orderdate is timestamp-typed and the scan's metadata string
    // is length-truncated, so assert the range via the pushed-filter
    // prefix plus the full Filter node text)
    val p = SparkEntry.queries("kpi_trade_long")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate,1996-01-01"), p)
    // exclusive next-year-start bound (see TradeParams.dateRange: a
    // closed `<= 1998-12-31` midnight bound would drop non-midnight
    // Dec 31 timestamps that year() still assigns to 1998)
    assert(p.contains("< 1999-01-01"), p)
    assert(p.contains("= F)"), p)
  }

  test("unknown or empty flow sets fail fast instead of filtering to zero rows") {
    // flowFilter would otherwise reduce to lit(false) on a CLI typo
    // and every panel would silently render empty
    intercept[IllegalArgumentException] {
      TradeParams(flows = Some(Set("Export"))) // capitalized typo
    }
    intercept[IllegalArgumentException] {
      TradeParams(flows = Some(Set.empty[String]))
    }
    intercept[IllegalArgumentException] {
      TradeParams.parseDir("/x#flow=exprot")
    }
    assert(!TradeParams(flows = Some(Set("export"))).isEmpty)
  }

  test("dashboard category multiselect prunes the part dimension scan") {
    val cats = Tables(spark, sf).part.select($"p_type").distinct()
      .orderBy($"p_type").limit(2).collect().map(_.getString(0)).toSeq
    val dir = TradeParams(categories = Some(cats))(sf)
    val got = SparkEntry.queries("kpi_prod_monthly")(spark, dir)
      .select($"category").distinct().collect().map(_.getString(0)).toSet
    assert(got == cats.toSet)
    // pushdown asserts run on the UNCHECKPOINTED grain derivation
    // (the served form reduces to a checkpoint scan)
    val p = graft.operators.Kpi.catMonthlyPlan(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains(s"In(p_type, [${cats.sorted.mkString(",")}])"), p)
  }

  test("view_type dial switches the country series: absolute, indexed, pct-change") {
    // app.py:178-183's selectbox ("Valores Absolutos" / "Índices
    // (2005=100)" / "Variaciones %"): each view renders a DIFFERENT
    // oracle-checked operator over the same monthly model — never a
    // client-side recompute
    val abs = graft.Dashboard.render(spark, sf, TradeParams())
    assert(abs.contains("Serie Temporal (últimos 12 meses, MA12)"))
    val idx = graft.Dashboard.render(spark, sf,
      TradeParams(viewType = Some("idx")))
    assert(idx.contains("Serie Temporal — Índices (base=100"),
      "idx view must render the kpi_idx_base series")
    assert(idx.contains("vista Índices (2005=100)"),
      "the view selection must be disclosed in the Filtros line")
    assert(!idx.contains("MA12"), "idx view must replace the absolute series")
    val pct = graft.Dashboard.render(spark, sf,
      TradeParams(viewType = Some("pct")))
    assert(pct.contains("Serie Temporal — Variaciones %"),
      "pct view must render the kpi_mom_yoy series")
    assert(pct.contains("export YoY %") && pct.contains("vista Variaciones %"))
    // real-data render: the committed kpi_monthly carries the exact
    // idx2005_* columns the selector promises
    val ridx = graft.Dashboard.renderReference(spark,
      TradeParams(viewType = Some("idx")))
    assert(ridx.contains("Índices (2005=100, últimos 12 meses)"))
    val rpct = graft.Dashboard.renderReference(spark,
      TradeParams(viewType = Some("pct")))
    assert(rpct.contains("export MoM %"))
    // a selectbox has no typo path in Streamlit; the CLI analog must
    // fail fast, not silently fall back to absolute values
    intercept[IllegalArgumentException](TradeParams(viewType = Some("Absolutos")))
  }

  test("analysis_type dial switches the category measure and re-ranks") {
    // app.py:474-480's selectbox: the category temporal panel plots
    // the selected measure (app.py:537-557) and the ranking table is
    // sorted by it (app.py:616-624)
    val default = graft.Dashboard.render(spark, sf, TradeParams())
    assert(default.contains("Análisis Temporal por Categorías — Exportaciones"),
      "default analysis measure is the selectbox's first option")
    assert(default.contains("### Ranking de Categorías\n"),
      "unparameterized ranking keeps the operator's export order")
    val bal = graft.Dashboard.render(spark, sf,
      TradeParams(analysisType = Some("balance")))
    assert(bal.contains("Análisis Temporal por Categorías — Balance"))
    assert(bal.contains("Ranking de Categorías — por Balance"))
    assert(bal.contains("análisis Balance"), "Filtros must disclose the analysis")
    // coverage: the reference renders the ratio ×100 as a pct
    // (app.py:551-552) and sorts the ranking by it — parse the table
    // and prove the coverage column is non-increasing
    val cov = graft.Dashboard.render(spark, sf,
      TradeParams(analysisType = Some("coverage")))
    assert(cov.contains("Análisis Temporal por Categorías — Cobertura (Exp/Imp)"))
    assert(cov.contains("%"), "coverage cells must render as percentages")
    val covRows = cov.split("Ranking de Categorías — por Cobertura")(1)
      .split("###")(0).linesIterator
      .filter(l => l.startsWith("| ") && !l.startsWith("| rk") && !l.startsWith("| ---"))
      .map(_.split('|')(6).trim.toDouble).toSeq
    assert(covRows.nonEmpty && covRows.sliding(2).forall {
      case Seq(a, b) => a >= b; case _ => true
    }, s"ranking must be sorted by coverage desc: $covRows")
    // real-data category list switches its measure too
    val rbal = graft.Dashboard.renderReference(spark,
      TradeParams(analysisType = Some("balance")))
    assert(rbal.contains("Top categorías — Balance (último año)"))
    intercept[IllegalArgumentException](TradeParams(analysisType = Some("Cobertura")))
  }

  test("filtered dashboard bundle renders every section") {
    val md = graft.Dashboard.render(spark, sf,
      TradeParams(Some(1996), Some(1998), None, None))
    assert(md.contains("Filtros: años 1996–1998"), md.linesIterator.take(3).mkString("\n"))
    for (h <- Seq("Análisis por País", "Análisis por Categorías",
        "Conclusiones Accionables", "Estadísticas Rápidas"))
      assert(md.contains(h), s"filtered dashboard missing section: $h")
    // the filter actually bites: no year outside the range appears in
    // the time-series tables
    assert(!md.linesIterator.exists(l => l.startsWith("| 1995 ") || l.startsWith("| 1999 ")))
    // and the latest-year exec tile (hardcoded 2001 in the reference
    // analog) degrades to the empty-widget row instead of crashing
    assert(md.contains("sin datos bajo el filtro"))
  }
}
