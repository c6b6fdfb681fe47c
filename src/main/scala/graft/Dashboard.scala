package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row

/** Dashboard bundle generator — the engine-side analog of the
  * reference's serving layer (`app.py`, its largest file: a
  * three-tab Streamlit dashboard — app.py:126 `st.tabs` country /
  * categories / conclusions). Charts and widgets are presentation;
  * every NUMBER the dashboard serves comes from an oracle-checked
  * operator, so this main renders the full bundle those tabs consume
  * into one markdown artifact:
  *
  *   - country tab (app.py:141-398): key metrics, time series tail,
  *     seasonality, monthly distribution, QA'd detail totals
  *   - category tab (app.py:400-665): category balance + coverage,
  *     year x month heatmap, ranking, rank shifts
  *   - conclusions tab (app.py:667-807): executive summary, insight
  *     cards, quick stats, volatility
  *
  * All collects are tiny post-aggregation frames (calendar- or
  * category-bounded), the one place driver-side materialization is
  * the right call — the same shape as Report.scala's EDA stage.
  *
  * Interactivity: the reference dashboard is parameterized (year
  * range slider app.py:165, flow checkboxes app.py:175-177, category
  * multiselect in render_category_analysis) — the engine analog is
  * [[TradeParams]]: the filters ride the dir string into every
  * oracle-checked operator and land as pushed predicates on the
  * parquet scans (DashboardSpec asserts PushedFilters), so a filtered
  * bundle re-runs the SAME plans over less data, exactly like the
  * Streamlit rerun does.
  *
  * Usage: graft.Dashboard [sfDir] [outDir] [yearFrom:yearTo]
  *          [flows(csv)] [categories(csv)] [nTop]
  *          [view: abs|idx|pct] [analysis: export|import|balance|coverage]
  */
object Dashboard {

  private def d(r: Row, i: Int, fmt: String = "%.3f"): String =
    if (r.isNullAt(i)) "—" else fmt.format(r.getDouble(i))
  private def i(r: Row, idx: Int): String =
    if (r.isNullAt(idx)) "—" else r.getInt(idx).toString

  /** format_currency analog (app.py:97-105): auto-scaled $B / $M
    * with grouped integers below and an N/A fallback — the rendering
    * the reference's st.metric tiles run every value through.
    * Deterministic: Locale.ROOT pins '.' decimals and ',' grouping
    * regardless of host locale. Rounding is HALF_EVEN over the EXACT
    * binary double (`new BigDecimal(double)`), which is what Python's
    * f-string formatting does — Java's `String.format("%.1f")` rounds
    * HALF_UP and diverges on exact ties (2.25 → "$2.3B" vs the
    * reference's "$2.2B"). Non-finite never reaches a tile (sums of
    * finite data); rendered as N/A defensively.
    */
  private def halfEven(v: Double, scale: Int): java.math.BigDecimal =
    new java.math.BigDecimal(v).setScale(scale, java.math.RoundingMode.HALF_EVEN)
  private[graft] def fmtUsd(v: Double): String =
    if (v.isNaN || v.isInfinite) "N/A"
    else if (math.abs(v) >= 1e9) s"$$${halfEven(v / 1e9, 1).toPlainString}B"
    else if (math.abs(v) >= 1e6) s"$$${halfEven(v / 1e6, 0).toPlainString}M"
    else String.format(java.util.Locale.ROOT, "$%,d",
      Long.box(halfEven(v, 0).longValueExact))

  /** Null-safe tile rendering through [[fmtUsd]] (null → N/A, like
    * the reference's pd.isna branch). */
  private def usd(r: Row, idx: Int): String =
    if (r.isNullAt(idx)) "N/A" else fmtUsd(r.getDouble(idx))

  /** The reference UI's literal option labels for the two render
    * dials (app.py:182, app.py:478), keyed by TradeParams' slugs —
    * the Filtros line and section titles disclose the selection in
    * the reference's own words. */
  private[graft] def viewLabel(v: String): String = v match {
    case "idx" => "Índices (2005=100)"
    case "pct" => "Variaciones %"
    case _ => "Valores Absolutos"
  }
  private[graft] def analysisLabel(a: String): String = a match {
    case "import" => "Importaciones"
    case "balance" => "Balance"
    case "coverage" => "Cobertura (Exp/Imp)"
    case _ => "Exportaciones"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("target/reports")
    val params = TradeParams(
      yearFrom = args.lift(2).flatMap(_.split(':').headOption.filter(_.nonEmpty))
        .map(_.toInt),
      yearTo = args.lift(2).flatMap(_.split(':').lift(1)).map(_.toInt),
      flows = args.lift(3).map(_.split(',').toSet),
      categories = args.lift(4).map(_.split(',').toSeq),
      nTop = args.lift(5).map(_.toInt),
      viewType = args.lift(6),
      analysisType = args.lift(7))
    val spark = GraftSession.local(GraftSession.defaultCpus, Some(sfDir))
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/dashboard.md"),
      render(spark, sfDir, params))
    println(s"dashboard written: $outDir/dashboard.md")
    spark.stop()
  }

  def render(spark: org.apache.spark.sql.SparkSession, sfDir: String): String =
    render(spark, sfDir, TradeParams())

  /** The bundle itself — separated from main so tests render against
    * the shared session without stopping it. Guards every single-row
    * read with headOption: under a narrow filter (e.g. the exec
    * summary's hardcoded latest year excluded) a tile renders as "sin
    * datos" instead of crashing, the way a dashboard shows an empty
    * widget.
    */
  def render(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      params: TradeParams): String = {
    val dir = params(sfDir)
    def q(name: String) = SparkEntry.queries(name)(spark, dir)

    // Category-tab default (app.py:446-473): when no categories are
    // chosen, the reference's multiselect defaults to the top-10 by
    // export in the LATEST year — app.py:447 last_year_data =
    // df[df.year == df.year.max()], then a client-side pandas
    // groupby('category')['exp'].sum() over the warehouse table.
    // Same basis here: the oracle-checked per-category monthly model
    // collected (calendar-bounded frame), reduced driver-side to the
    // max-year export totals — the exact client-side reduction the
    // reference runs. Applied to the CATEGORY-dimension panels only;
    // the country tab aggregates all categories, like the
    // reference's tabs.
    val defaultTopCats: Option[Seq[String]] =
      if (params.categories.isDefined) None
      else {
        // columns: category(0), yr(1), mon(2), exp(3), ...
        val pm = q("kpi_prod_monthly").collect()
        // None (not Some(Seq())) when the filter excludes every row:
        // categories=Some(Seq()) would round-trip the dir fragment as
        // Seq("") and filter every panel to zero rows under a bogus
        // "top 0" header
        if (pm.isEmpty) None
        else {
          val lastYr = pm.iterator.map(_.getInt(1)).max
          val top = pm.iterator
            .filter(_.getInt(1) == lastYr)
            .toSeq.groupBy(_.getString(0))
            .view.mapValues(_.iterator
              .map(r => if (r.isNullAt(3)) 0.0 else r.getDouble(3)).sum)
            .toSeq
            // pandas sort_values is stable; the category tiebreak here
            // makes the selection deterministic under equal exports
            .sortBy { case (cat, e) => (-e, cat) }
            // the top-N dial (app.py:437-445 number_input, default
            // 10) — rides the params fragment like every other filter
            .take(params.nTop.getOrElse(10)).map(_._1)
          Some(top).filter(_.nonEmpty)
        }
      }
    val catParams = defaultTopCats
      .map(c => params.copy(categories = Some(c))).getOrElse(params)
    val catDir = catParams(sfDir)
    def qc(name: String) = SparkEntry.queries(name)(spark, catDir)
    def rankingRows: Array[Row] = qc("kpi_ranking").collect()

    val md = new StringBuilder

    md ++= "# Trade Observatory — dashboard bundle\n\n"
    defaultTopCats.foreach { c =>
      md ++= s"_Mostrando top ${c.size} categorías por exportación del último año (por defecto)_\n\n"
    }
    if (!params.isEmpty) {
      val yrs = (params.yearFrom, params.yearTo) match {
        case (None, None) => None
        case (a, b) => Some(s"años ${a.getOrElse("…")}–${b.getOrElse("…")}")
      }
      val sel = yrs ++ params.flows.map(f => s"flujos ${f.toSeq.sorted.mkString("+")}") ++
        params.categories.map(c => s"categorías ${c.mkString(", ")}") ++
        params.nTop.map(n => s"top $n") ++
        params.viewType.map(v => s"vista ${Dashboard.viewLabel(v)}") ++
        params.analysisType.map(a => s"análisis ${Dashboard.analysisLabel(a)}")
      md ++= s"_Filtros: ${sel.mkString(" · ")}_\n\n"
    }

    // ---- tab 1: country analysis ----
    md ++= "## Análisis por País\n\n### Métricas Clave\n"
    q("kpi_exec_summary").collect().headOption match {
      case Some(ex) =>
        md ++= s"- Exportaciones ${ex.getInt(0)}: ${usd(ex, 1)}\n"
        md ++= s"- Importaciones ${ex.getInt(0)}: ${usd(ex, 2)}\n"
        md ++= s"- Balance: ${usd(ex, 3)}\n"
        md ++= s"- Categoría líder: ${ex.getString(4)} (${usd(ex, 5)})\n\n"
      case None => md ++= "- sin datos bajo el filtro\n\n"
    }

    // the reference's lead st.metric tiles (app.py:201-216): latest
    // YTD per flow with the prior-year same-period pct delta. The
    // frame is ordered (yr, mon); the last row IS the current tile.
    q("kpi_ytd_delta").collect().lastOption.foreach { y =>
      md ++= s"- 🟢 Exportaciones YTD ${i(y, 0)}-${i(y, 1)}: " +
        s"${usd(y, 2)} (${d(y, 4, "%+.1f")}% vs año anterior)\n"
      md ++= s"- 🔴 Importaciones YTD: ${usd(y, 5)} " +
        s"(${d(y, 7, "%+.1f")}% vs año anterior)\n\n"
    }

    // view_type selector (app.py:178-183): the same country series
    // rendered as absolute values, base-100 indices, or % changes.
    // Each view is a different ORACLE-CHECKED operator over the same
    // monthly model — the dial switches which one renders, it never
    // recomputes client-side.
    params.viewType.getOrElse("abs") match {
      case "idx" =>
        md ++= "### Serie Temporal — Índices (base=100, últimos 12 meses)\n"
        md ++= "| yr | mon | idx export | idx import |\n| --- | --- | --- | --- |\n"
        q("kpi_idx_base").collect().takeRight(12).foreach { r =>
          md ++= s"| ${i(r, 0)} | ${i(r, 1)} | ${d(r, 2, "%.1f")} | ${d(r, 3, "%.1f")} |\n"
        }
      case "pct" =>
        md ++= "### Serie Temporal — Variaciones % (últimos 12 meses)\n"
        md ++= "| yr | mon | export MoM % | export YoY % | import MoM % | import YoY % |\n"
        md ++= "| --- | --- | --- | --- | --- | --- |\n"
        q("kpi_mom_yoy").collect().takeRight(12).foreach { r =>
          md ++= s"| ${i(r, 0)} | ${i(r, 1)} | ${d(r, 3, "%+.1f")} | ${d(r, 4, "%+.1f")} | ${d(r, 5, "%+.1f")} | ${d(r, 6, "%+.1f")} |\n"
        }
      case _ =>
        md ++= "### Serie Temporal (últimos 12 meses, MA12)\n"
        md ++= "| yr | mon | export (USD) | MA12 |\n| --- | --- | --- | --- |\n"
        q("kpi_trend").collect().takeRight(12).foreach { r =>
          md ++= s"| ${i(r, 0)} | ${i(r, 1)} | ${d(r, 2)} | ${d(r, 3)} |\n"
        }
    }

    md ++= "\n### Estacionalidad\n"
    md ++= "| mon | avg export (USD) | avg import (USD) | n |\n| --- | --- | --- | --- |\n"
    q("kpi_seasonality").collect().foreach { r =>
      md ++= s"| ${i(r, 0)} | ${d(r, 1)} | ${d(r, 2)} | ${r.getLong(3)} |\n"
    }

    md ++= "\n### Distribución Mensual\n"
    md ++= "| mon | mean export (M) | std (M) | years |\n| --- | --- | --- | --- |\n"
    q("kpi_month_stats").collect().foreach { r =>
      md ++= s"| ${i(r, 0)} | ${d(r, 1)} | ${d(r, 2)} | ${r.getLong(3)} |\n"
    }

    md ++= "\n### Datos Detallados (reconciliación QA)\n"
    md ++= "| yr | book | lines | missing | delta |\n| --- | --- | --- | --- | --- |\n"
    q("kpi_qa_totals").collect().foreach { r =>
      md ++= s"| ${i(r, 0)} | ${d(r, 1, "%.0f")} | ${d(r, 2, "%.0f")} | ${r.getLong(3)} | ${d(r, 4, "%.0f")} |\n"
    }

    // ---- tab 2: category analysis ----
    md ++= "\n## Análisis por Categorías\n\n### Balance y Cobertura (últimos 12 meses)\n"
    md ++= "| yr | mon | balance | coverage |\n| --- | --- | --- | --- |\n"
    q("kpi_balance_cov").collect().takeRight(12).foreach { r =>
      md ++= s"| ${i(r, 0)} | ${i(r, 1)} | ${d(r, 4, "%.0f")} | ${d(r, 5, "%.2f")} |\n"
    }

    md ++= "\n### Heatmap Año × Mes (export)\n"
    val heat = q("kpi_heatmap").collect()
    if (heat.nonEmpty) {
      val years = heat.head.schema.fieldNames.drop(1)
      md ++= "| mon | " + years.mkString(" | ") + " |\n"
      md ++= "| --- |" + years.map(_ => " --- |").mkString + "\n"
      heat.foreach { r =>
        md ++= s"| ${i(r, 0)} | " + years.indices
          .map(k => d(r, k + 1, "%.2f")).mkString(" | ") + " |\n"
      }
    }

    // analysis_type selector (app.py:474-480): the category tab's
    // temporal panel plots the SELECTED measure per category
    // (app.py:537-557 picks value_col; coverage renders ×100 as a
    // pct, app.py:551-552). The engine analog is a wide table over
    // the oracle-checked per-category monthly model — the same
    // client-side wide layout px.area builds from the long frame.
    val analysis = params.analysisType.getOrElse("export")
    md ++= s"\n### Análisis Temporal por Categorías — ${Dashboard.analysisLabel(analysis)}\n"
    locally {
      val measureIdx = analysis match {
        case "import" => 4
        case "balance" => 5
        case "coverage" => 6
        case _ => 3
      }
      val pm = qc("kpi_prod_monthly").collect()
      if (pm.isEmpty) md ++= "_sin datos bajo el filtro_\n"
      else {
        val cats = pm.iterator.map(_.getString(0)).toSeq.distinct.sorted
        val lastMonths = pm.iterator.map(r => (r.getInt(1), r.getInt(2)))
          .toSeq.distinct.sorted.takeRight(6)
        val byKey = pm.iterator
          .map(r => ((r.getString(0), r.getInt(1), r.getInt(2)), r))
          .toMap
        md ++= "| yr | mon | " + cats.mkString(" | ") + " |\n"
        md ++= "| --- | --- |" + cats.map(_ => " --- |").mkString + "\n"
        lastMonths.foreach { case (yr, mon) =>
          val cells = cats.map { c =>
            byKey.get((c, yr, mon)) match {
              case Some(r) if !r.isNullAt(measureIdx) =>
                if (analysis == "coverage")
                  "%.1f%%".format(r.getDouble(measureIdx) * 100.0)
                else d(r, measureIdx, "%.0f")
              case _ => "—"
            }
          }
          md ++= s"| $yr | $mon | " + cells.mkString(" | ") + " |\n"
        }
      }
    }

    // ranking ordered by the selected metric (app.py:616-624's
    // client-side sort_values over the aggregated frame) — same
    // driver-side reduction here, over the oracle-checked ranking
    // rows; rank renumbered to the chosen order. All four measures
    // render (app.py:627-636's display_ranking shows every column),
    // so the sort key is always visible. Null measures sort LAST
    // (pandas sort_values places NaN last) — a flow-filtered frame
    // can null a whole measure column, and those rows must not crowd
    // the top of the table.
    md ++= (if (params.analysisType.isDefined)
      s"\n### Ranking de Categorías — por ${Dashboard.analysisLabel(analysis)}\n"
    else "\n### Ranking de Categorías\n")
    md ++= "| rk | category | export | import | balance | coverage |\n| --- | --- | --- | --- | --- | --- |\n"
    val rankedRows = params.analysisType match {
      case None => rankingRows.toSeq
      case Some(a) =>
        val mIdx = a match {
          case "import" => 3
          case "balance" => 4
          case "coverage" => 5
          case _ => 2
        }
        rankingRows.toSeq.sortBy(r =>
          (if (r.isNullAt(mIdx)) Double.PositiveInfinity else -r.getDouble(mIdx),
            r.getString(1)))
    }
    rankedRows.zipWithIndex.foreach { case (r, k) =>
      val rk = if (params.analysisType.isDefined) (k + 1).toString else i(r, 0)
      md ++= s"| $rk | ${r.getString(1)} | ${d(r, 2, "%.0f")} | ${d(r, 3, "%.0f")} | ${d(r, 4, "%.0f")} | ${d(r, 5, "%.2f")} |\n"
    }

    md ++= "\n### Concentración ABC (Pareto)\n"
    md ++= "| rk | category | clase | acumulado ‰ |\n| --- | --- | --- | --- |\n"
    qc("kpi_pareto").collect().take(10).foreach { r =>
      md ++= s"| ${i(r, 0)} | ${r.getString(1)} | ${r.getString(5)} | ${r.getLong(4)} |\n"
    }

    md ++= "\n### Puente YoY por Categoría\n"
    qc("kpi_contrib").collect().take(5).foreach { r =>
      md ++= s"- ${r.getString(0)}: Δ ${d(r, 3, "%.0f")} (${r.getLong(4)}‰, ${r.getString(5)})\n"
    }

    md ++= "\n### Tendencia OLS y Proyección\n"
    q("kpi_forecast").collect().headOption.foreach { fc =>
      md ++= s"- Export: pendiente ${d(fc, 1, "%.2f")}/mes → próximo mes ${d(fc, 3, "%.0f")}\n"
      md ++= s"- Import: pendiente ${d(fc, 4, "%.2f")}/mes → próximo mes ${d(fc, 6, "%.0f")}\n"
    }

    md ++= "\n### Cambios de Ranking\n"
    qc("kpi_rank_shift").collect().takeRight(10).foreach { r =>
      val shift = if (r.isNullAt(5)) "nuevo" else f"${r.getInt(5)}%+d"
      md ++= s"- ${i(r, 0)} ${r.getString(2)}: rk ${i(r, 1)} ($shift)\n"
    }

    // ---- tab 3: conclusions ----
    md ++= "\n## Conclusiones Accionables\n\n### Resumen Ejecutivo e Insights\n"
    q("kpi_insights_text").collect().foreach { r =>
      md ++= r.getAs[String]("insight_md") + "\n\n"
    }

    md ++= "### Estadísticas Rápidas\n"
    q("kpi_quick_stats").collect().headOption.foreach { qs =>
      md ++= s"- Media mensual: ${d(qs, 0, "%.4f")}B | σ: ${d(qs, 1, "%.4f")}B | máx: ${d(qs, 2, "%.4f")}B\n"
      md ++= s"- Meses con superávit: ${qs.getLong(3)}/${qs.getLong(4)}\n"
      md ++= s"- Mejor mes: ${i(qs, 5)}-${i(qs, 6)} (${d(qs, 7, "%.4f")}B)\n"
    }
    q("kpi_volatility").collect().headOption.foreach { vol =>
      md ++= s"- Volatilidad YoY: ${d(vol, 1, "%.2f")} (media YoY ${d(vol, 0, "%.2f")}, n=${vol.getLong(2)})\n"
    }
    md.toString
  }

  /** The dashboard rendered from the reference's REAL data — the
    * parsed cdro books and the golden-file KPI tables (the
    * ReferenceParity entries, byte-exact vs the reference's committed
    * parquets) instead of the TPC-H analog: actual CUODE category
    * names, actual USD magnitudes, the reference's own 2005-2025
    * calendar. Sections mirror app.py's tabs at the grain the real
    * data carries (the import flow's 2025 tiles render N/A — its
    * source book ends earlier, and the committed table holds nulls
    * there).
    *
    * Parameterized like the reference UI: app.py's year-range slider
    * (app.py:165-172), flow checkboxes (app.py:175-177 — they gate
    * which flow columns render; balance needs both), category
    * multiselect and top-N dial (app.py:424-473) all operate
    * CLIENT-SIDE over the loaded KPI frame (pandas `df[df.year...]`
    * after a full parquet load) — so the faithful engine analog
    * filters the collected golden frames driver-side too. The frames
    * are calendar-bounded (≤ years×12×categories rows); the
    * scan-pushdown story for params belongs to the synthetic
    * warehouse path ([[render]] via TradeParams.onOrders/onPart,
    * PushedFilters asserted in InsightsSpec).
    */
  def renderReference(spark: org.apache.spark.sql.SparkSession,
      params: TradeParams = TradeParams()): String = {
    def q(name: String) = SparkEntry.queries(name)(spark, "")
    def l(r: Row, idx: Int): String =
      if (r.isNullAt(idx)) "—" else r.getLong(idx).toString
    def inYears(y: Long): Boolean =
      params.yearFrom.forall(y >= _) && params.yearTo.forall(y <= _)
    // flows act as the reference UI's flow CHECKBOXES (app.py:175-177
    // show_exports/show_imports toggle traces): they gate which flow
    // columns render. Balance needs both sides, like the reference's
    // balance trace needs both series loaded.
    val showExp = params.flows.forall(_("export"))
    val showImp = params.flows.forall(_("import"))
    val md = new StringBuilder
    md ++= "# Observatorio de Comercio Exterior del Perú — datos reales\n\n"
    if (!params.isEmpty) {
      val sel = ((params.yearFrom, params.yearTo) match {
        case (None, None) => None
        case (a, b) => Some(s"años ${a.getOrElse("…")}–${b.getOrElse("…")}")
      }) ++ params.flows.map(f => s"flujos ${f.toSeq.sorted.mkString("+")}") ++
        params.categories.map(c => s"categorías ${c.mkString(", ")}") ++
        params.nTop.map(n => s"top $n") ++
        params.viewType.map(v => s"vista ${viewLabel(v)}") ++
        params.analysisType.map(a => s"análisis ${analysisLabel(a)}")
      md ++= s"_Filtros: ${sel.mkString(" · ")}_\n\n"
    }

    val km = q("ref_kpi_monthly").collect()
      .filter(r => inYears(r.getLong(0)))
    md ++= "## Análisis por País\n\n### Métricas Clave (último mes)\n"
    km.lastOption.foreach { r =>
      val parts =
        (if (showExp) Seq(s"Export ${usd(r, 3)} (YoY ${d(r, 7, "%+.1f")}%)") else Nil) ++
        (if (showImp) Seq(s"Import ${usd(r, 4)}") else Nil) ++
        (if (showExp && showImp) Seq(s"Balance ${usd(r, 5)}") else Nil)
      md ++= s"- ${l(r, 0)}-${r.getString(1)}: ${parts.mkString(", ")}\n\n"
    }
    if (showExp) {
      // view_type over the REAL data: the committed kpi_monthly
      // carries the selector's exact promise — idx2005_export/import
      // (metrics.py's 2005=100 re-base) and the mom/yoy variations —
      // so each view renders a different golden-parity column set
      params.viewType.getOrElse("abs") match {
        case "idx" =>
          md ++= "### Serie Temporal — Índices (2005=100, últimos 12 meses)\n"
          md ++= "| año | mes | idx export | idx import |\n| --- | --- | --- | --- |\n"
          km.takeRight(12).foreach { r =>
            md ++= s"| ${l(r, 0)} | ${r.getString(1)} | ${d(r, 13, "%.1f")} | ${d(r, 14, "%.1f")} |\n"
          }
        case "pct" =>
          md ++= "### Serie Temporal — Variaciones % (últimos 12 meses)\n"
          md ++= "| año | mes | export MoM % | export YoY % | import MoM % | import YoY % |\n"
          md ++= "| --- | --- | --- | --- | --- | --- |\n"
          km.takeRight(12).foreach { r =>
            md ++= s"| ${l(r, 0)} | ${r.getString(1)} | ${d(r, 6, "%+.1f")} | ${d(r, 7, "%+.1f")} | ${d(r, 8, "%+.1f")} | ${d(r, 9, "%+.1f")} |\n"
          }
        case _ =>
          md ++= "### Serie Temporal (últimos 12 meses)\n"
          md ++= "| año | mes | export | MA3 | YoY % |\n| --- | --- | --- | --- | --- |\n"
          km.takeRight(12).foreach { r =>
            md ++= s"| ${l(r, 0)} | ${r.getString(1)} | ${usd(r, 3)} | ${usd(r, 10)} | ${d(r, 7, "%+.1f")} |\n"
          }
      }
    }

    val kp = q("ref_kpi_prod_monthly").collect()
      .filter(r => inYears(r.getLong(0)) &&
        params.categories.forall(_.contains(r.getString(3))))
    md ++= "\n## Análisis por Categorías\n"
    if (kp.nonEmpty) {
      val lastYr = kp.iterator.map(_.getLong(0)).max
      if (showExp) {
        // analysis_type switches the measure the category list ranks
        // by (app.py:616-624), computed from the same per-category
        // sums the reference's client-side groupby builds
        val analysis = params.analysisType.getOrElse("export")
        md ++= (if (params.analysisType.isDefined)
          s"\n### Top categorías — ${analysisLabel(analysis)} (último año)\n"
        else "\n### Top categorías por exportación (último año)\n")
        def sumAt(rs: Seq[Row], idx: Int): Double = rs.iterator
          .map(r => if (r.isNullAt(idx)) 0.0 else r.getDouble(idx)).sum
        kp.iterator.filter(_.getLong(0) == lastYr)
          .toSeq.groupBy(_.getString(3))
          .view.mapValues { rs =>
            val (e, im) = (sumAt(rs, 4), sumAt(rs, 5))
            analysis match {
              case "import" => (im, fmtUsd(im))
              case "balance" => (e - im, fmtUsd(e - im))
              case "coverage" =>
                val cov = if (im > 0) e / im * 100.0 else Double.NaN
                (cov, if (cov.isNaN) "N/A" else "%.1f%%".format(cov))
              case _ => (e, fmtUsd(e))
            }
          }
          .toSeq.filter { case (_, (v, _)) => !v.isNaN && (analysis == "balance" || v > 0) }
          .sortBy { case (cat, (v, _)) => (-v, cat) }
          .take(params.nTop.getOrElse(10))
          .zipWithIndex.foreach { case ((cat, (_, shown)), k) =>
            md ++= s"- ${k + 1}. $cat: $shown\n"
          }
      }
      if (showImp) {
        md ++= s"\n### Categorías de importación (CUODE, $lastYr)\n"
        kp.iterator.filter(r => r.getLong(0) == lastYr && !r.isNullAt(5))
          .toSeq.groupBy(_.getString(3))
          .view.mapValues(_.iterator.map(_.getDouble(5)).sum)
          .toSeq.sortBy { case (cat, v) => (-v, cat) }
          .foreach { case (cat, v) => md ++= s"- $cat: ${fmtUsd(v)}\n" }
      }
    } else md ++= "\n_sin datos bajo el filtro_\n"

    if (showExp) {
    md ++= "\n### Reconciliación QA (libro vs suma de meses, export)\n"
    md ++= "| año | total libro | suma meses | Δ |\n| --- | --- | --- | --- |\n"
    q("ref_trade_export").collect()
      .filter(r => r.getString(1) == "Total" && inYears(r.getLong(0)))
      .takeRight(5).foreach { r =>
        // a book total can be null (the parse degrades where etl.py
        // would crash on an unparsable Total cell) — the delta cell
        // must degrade like the value cells, not NPE the render
        val delta = if (r.isNullAt(3) || r.isNullAt(4)) "N/A"
          else fmtUsd(r.getDouble(3) - r.getDouble(4))
        md ++= s"| ${l(r, 0)} | ${usd(r, 3)} | ${usd(r, 4)} | $delta |\n"
      }
    }
    md.toString
  }
}
