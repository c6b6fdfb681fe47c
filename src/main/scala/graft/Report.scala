package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** EDA summary report generator — the engine-side analog of the
  * reference's observatorio/eda.py stage, which renders descriptive
  * statistics, seasonality, and outlier findings (plus figures) into
  * reports/. Every number comes from the oracle-checked operators;
  * the figures are dependency-free SVG (a polyline + bar chart built
  * by string assembly — eda.py's matplotlib PNGs re-expressed in the
  * one graphics format that needs no library).
  *
  * Usage: graft.Report [sfDir] [outDir]
  */
object Report {

  private def esc(s: String): String = s.flatMap {
    case '&' => "&amp;"
    case '<' => "&lt;"
    case '>' => "&gt;"
    case c => c.toString
  }

  /** Locale-pinned float formatting for the SVG/label surfaces: the
    * f"" interpolator follows the JVM default locale, so on a
    * decimal-comma host a caller building its OWN SparkSession
    * (bypassing GraftSession's Locale.ROOT default) would get
    * "4,7" coordinates — invalid inside SVG point lists (r13
    * ADVICE). Pin Locale.ROOT at the call sites instead of relying
    * on the process-global default.
    */
  private def d1(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
  private def d2(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

  /** Minimal line chart: points scaled into a fixed 640x240 viewBox
    * with a light axis frame and min/max labels. Deterministic bytes
    * for deterministic input.
    */
  private[graft] def lineSvg(title: String, ys: Seq[Double]): String = {
    val (w, h, pad) = (640, 240, 34)
    val lo = ys.min; val hi = ys.max
    val span = if (hi == lo) 1.0 else hi - lo
    val pts = ys.zipWithIndex.map { case (y, i) =>
      val px = pad + i.toDouble * (w - 2 * pad) / math.max(1, ys.length - 1)
      val py = h - pad - (y - lo) / span * (h - 2 * pad)
      d1(px) + "," + d1(py)
    }.mkString(" ")
    s"""<svg xmlns="http://www.w3.org/2000/svg" viewBox="0 0 $w $h">
       |<rect width="$w" height="$h" fill="white"/>
       |<text x="$pad" y="20" font-family="sans-serif" font-size="13">${esc(title)}</text>
       |<line x1="$pad" y1="${h - pad}" x2="${w - pad}" y2="${h - pad}" stroke="#999"/>
       |<line x1="$pad" y1="$pad" x2="$pad" y2="${h - pad}" stroke="#999"/>
       |<text x="4" y="${h - pad}" font-family="sans-serif" font-size="10">${d2(lo)}</text>
       |<text x="4" y="${pad + 4}" font-family="sans-serif" font-size="10">${d2(hi)}</text>
       |<polyline points="$pts" fill="none" stroke="#2a6fb0" stroke-width="1.5"/>
       |</svg>
       |""".stripMargin
  }

  /** Minimal bar chart over labeled values (same frame as lineSvg). */
  private[graft] def barSvg(title: String, labels: Seq[String],
      ys: Seq[Double]): String = {
    val (w, h, pad) = (640, 240, 34)
    val hi = math.max(ys.max, 0.0)
    val span = if (hi == 0.0) 1.0 else hi
    val bw = (w - 2 * pad).toDouble / ys.length
    val bars = ys.zipWithIndex.map { case (y, i) =>
      val bh = y / span * (h - 2 * pad)
      val x = pad + i * bw
      s"""<rect x="${d1(x)}" y="${d1(h - pad - bh)}" width="${d1(bw * 0.8)}" height="${d1(bh)}" fill="#2a6fb0"/>
         |<text x="${d1(x + bw * 0.4)}" y="${h - pad + 12}" font-family="sans-serif" font-size="9" text-anchor="middle">${esc(labels(i))}</text>""".stripMargin
    }.mkString("\n")
    s"""<svg xmlns="http://www.w3.org/2000/svg" viewBox="0 0 $w $h">
       |<rect width="$w" height="$h" fill="white"/>
       |<text x="$pad" y="20" font-family="sans-serif" font-size="13">${esc(title)}</text>
       |<line x1="$pad" y1="${h - pad}" x2="${w - pad}" y2="${h - pad}" stroke="#999"/>
       |<text x="4" y="${pad + 4}" font-family="sans-serif" font-size="10">${d2(hi)}</text>
       |$bars
       |</svg>
       |""".stripMargin
  }
  /** The EDA summary rendered from the reference's REAL data — the
    * golden-file KPI tables (byte-exact vs the reference's committed
    * parquets) instead of the TPC-H analog: eda.py's sections with
    * the actual 2005-2025 series, CUODE category names and
    * billion-dollar magnitudes. Returns (markdown, figures) where
    * each figure is (filename, svg) — the caller decides where they
    * land, so specs can render without touching disk.
    */
  def renderReference(spark: SparkSession): (String, Seq[(String, String)]) = {
    def q(name: String) = SparkEntry.queries(name)(spark, "")
    val km = q("ref_kpi_monthly").collect()
    def d(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val exports = km.flatMap(d(_, 3)) // export column, null-free
    val meanB = exports.sum / exports.length / 1e9
    val stdB = math.sqrt(exports.map(v => math.pow(v - exports.sum / exports.length, 2)).sum / exports.length) / 1e9
    val maxB = exports.max / 1e9
    val balances = km.flatMap(d(_, 5))
    val surplus = balances.count(_ > 0)
    // seasonality over the real calendar (month_num 1..12)
    val season = km.groupBy(_.getLong(2)).toSeq.sortBy(_._1).map {
      case (mon, rows) =>
        val vs = rows.flatMap(d(_, 3)); mon -> vs.sum / vs.length
    }
    val peak = season.maxBy(_._2)._1; val valley = season.minBy(_._2)._1
    // outliers on the real MoM series (|mom - mean| > 2 sigma)
    val moms = km.flatMap(r => d(r, 6).map(m => (r.getLong(0), r.getString(1), m)))
    val mMean = moms.map(_._3).sum / moms.length
    val mStd = math.sqrt(moms.map(x => math.pow(x._3 - mMean, 2)).sum / moms.length)
    val outliers = moms.filter(x => math.abs(x._3 - mMean) > 2 * mStd)
    val kp = q("ref_kpi_prod_monthly").collect()
    val lastYr = kp.iterator.map(_.getLong(0)).max
    val topCats = kp.iterator.filter(_.getLong(0) == lastYr)
      .toSeq.groupBy(_.getString(3))
      .view.mapValues(_.flatMap(d(_, 4)).sum).toSeq
      .filter(_._2 > 0).sortBy { case (c, e) => (-e, c) }.take(3)

    val md = new StringBuilder
    md ++= "# EDA Report — Observatorio de Comercio (datos reales)\n\n"
    md ++= "## Descriptive statistics (exports, 2005-2025)\n"
    md ++= f"- Mean monthly exports: $$${meanB}%.4fB USD\n"
    md ++= f"- Std deviation: $$${stdB}%.4fB USD\n"
    md ++= f"- Historical maximum: $$${maxB}%.4fB USD\n"
    md ++= f"- Surplus months: $surplus/${balances.length} (balance known through 2024)\n\n"
    md ++= "## Seasonality\n"
    md ++= s"- Peak month (avg exports): $peak\n- Valley month: $valley\n\n"
    md ++= "## Outlier events (|MoM - mean| > 2 sigma)\n"
    outliers.foreach { case (yr, mes, mom) =>
      md ++= f"- $yr-$mes: MoM $mom%.1f%%\n"
    }
    md ++= s"\n## Top export categories ($lastYr)\n"
    topCats.zipWithIndex.foreach { case ((cat, v), k) =>
      md ++= f"${k + 1}. $cat: $$${v / 1e9}%.2fB\n"
    }
    val figures = Seq(
      "eda_trend_ref.svg" ->
        lineSvg("Monthly exports 2005-2025 (USD)", exports.toSeq),
      "eda_seasonality_ref.svg" ->
        barSvg("Avg exports by month (USD)",
          season.map(_._1.toString), season.map(_._2)))
    (md.toString, figures)
  }

  /** Multi-series line chart (series share one y-scale), the SVG
    * counterpart of eda.py's go.Scatter figures. Same frame geometry
    * as [[lineSvg]]; a small legend renders series labels in their
    * line colors. Deterministic bytes for deterministic input.
    */
  private[graft] def multiLineSvg(title: String,
      series: Seq[(String, Seq[Double], String)]): String = {
    val (w, h, pad) = (760, 300, 40)
    val all = series.flatMap(_._2)
    val lo = all.min; val hi = all.max
    val span = if (hi == lo) 1.0 else hi - lo
    val n = series.map(_._2.length).max
    def pts(ys: Seq[Double]) = ys.zipWithIndex.map { case (y, i) =>
      val px = pad + i.toDouble * (w - 2 * pad) / math.max(1, n - 1)
      val py = h - pad - (y - lo) / span * (h - 2 * pad)
      d1(px) + "," + d1(py)
    }.mkString(" ")
    val lines = series.map { case (_, ys, color) =>
      s"""<polyline points="${pts(ys)}" fill="none" stroke="$color" stroke-width="1.5"/>"""
    }.mkString("\n")
    val legend = series.zipWithIndex.map { case ((label, _, color), i) =>
      s"""<text x="${pad + i * 150}" y="${h - 8}" font-family="sans-serif" font-size="11" fill="$color">${esc(label)}</text>"""
    }.mkString("\n")
    s"""<svg xmlns="http://www.w3.org/2000/svg" viewBox="0 0 $w $h">
       |<rect width="$w" height="$h" fill="white"/>
       |<text x="$pad" y="20" font-family="sans-serif" font-size="13">${esc(title)}</text>
       |<line x1="$pad" y1="${h - pad}" x2="${w - pad}" y2="${h - pad}" stroke="#999"/>
       |<line x1="$pad" y1="$pad" x2="$pad" y2="${h - pad}" stroke="#999"/>
       |<text x="4" y="${h - pad}" font-family="sans-serif" font-size="10">${d2(lo)}</text>
       |<text x="4" y="${pad + 4}" font-family="sans-serif" font-size="10">${d2(hi)}</text>
       |$lines
       |$legend
       |</svg>
       |""".stripMargin
  }

  /** Year × month heatmap — eda.py's px.imshow figure as a plain SVG
    * rect grid with a green↔red ramp over the value range.
    */
  private[graft] def heatSvg(title: String, years: Seq[Long],
      values: Map[(Long, Long), Double]): String = {
    val (pad, cell) = (46, 16)
    val w = pad * 2 + years.length * cell
    val h = pad * 2 + 12 * cell
    val vs = values.values
    val lo = vs.min; val hi = vs.max
    val span = if (hi == lo) 1.0 else hi - lo
    def color(v: Double): String = {
      val t = (v - lo) / span // 0 → red, 1 → green (RdYlGn direction)
      s"rgb(${(230 - 180 * t).toInt},${(60 + 160 * t).toInt},60)"
    }
    val cells = (for {
      (yr, xi) <- years.zipWithIndex
      mon <- 1L to 12L
      v <- values.get((yr, mon))
    } yield {
      val x = pad + xi * cell; val y = pad + (mon - 1) * cell
      s"""<rect x="$x" y="$y" width="${cell - 1}" height="${cell - 1}" fill="${color(v)}"/>"""
    }).mkString("\n")
    val yrLabels = years.zipWithIndex.filter(_._1 % 5 == 0).map { case (yr, xi) =>
      s"""<text x="${pad + xi * cell}" y="${pad + 12 * cell + 12}" font-family="sans-serif" font-size="9">$yr</text>"""
    }.mkString("\n")
    val monLabels = (1 to 12).map { m =>
      s"""<text x="4" y="${pad + (m - 1) * cell + 11}" font-family="sans-serif" font-size="9">$m</text>"""
    }.mkString("\n")
    s"""<svg xmlns="http://www.w3.org/2000/svg" viewBox="0 0 $w $h">
       |<rect width="$w" height="$h" fill="white"/>
       |<text x="$pad" y="20" font-family="sans-serif" font-size="13">${esc(title)}</text>
       |$cells
       |$yrLabels
       |$monLabels
       |</svg>
       |""".stripMargin
  }

  /** Per-month min/quartile/median box glyphs — eda.py's px.box
    * figure. Quartiles by the inclusive-linear-interpolation rule
    * (cosmetic surface, not oracle-checked — the oracle-checked
    * month statistics live in kpi_month_stats / ref_eda_stats).
    */
  private[graft] def boxSvg(title: String,
      groups: Seq[(String, Seq[Double])]): String = {
    val (w, h, pad) = (760, 300, 40)
    val all = groups.flatMap(_._2)
    val lo = all.min; val hi = all.max
    val span = if (hi == lo) 1.0 else hi - lo
    def py(v: Double) = h - pad - (v - lo) / span * (h - 2 * pad)
    def quantile(sorted: Seq[Double], q: Double): Double = {
      val pos = q * (sorted.length - 1)
      val i = pos.toInt
      if (i + 1 < sorted.length) sorted(i) + (pos - i) * (sorted(i + 1) - sorted(i))
      else sorted(i)
    }
    val bw = (w - 2 * pad).toDouble / groups.length
    val boxes = groups.zipWithIndex.map { case ((label, vs), i) =>
      val s = vs.sorted
      val (mn, q1, med, q3, mx) = (s.head, quantile(s, 0.25),
        quantile(s, 0.5), quantile(s, 0.75), s.last)
      val cx = pad + i * bw + bw / 2
      s"""<line x1="${d1(cx)}" y1="${d1(py(mn))}" x2="${d1(cx)}" y2="${d1(py(mx))}" stroke="#666"/>
         |<rect x="${d1(cx - bw * 0.3)}" y="${d1(py(q3))}" width="${d1(bw * 0.6)}" height="${d1(py(q1) - py(q3))}" fill="#9ecae1" stroke="#2a6fb0"/>
         |<line x1="${d1(cx - bw * 0.3)}" y1="${d1(py(med))}" x2="${d1(cx + bw * 0.3)}" y2="${d1(py(med))}" stroke="#08306b" stroke-width="1.5"/>
         |<text x="${d1(cx)}" y="${h - pad + 12}" font-family="sans-serif" font-size="9" text-anchor="middle">${esc(label)}</text>""".stripMargin
    }.mkString("\n")
    s"""<svg xmlns="http://www.w3.org/2000/svg" viewBox="0 0 $w $h">
       |<rect width="$w" height="$h" fill="white"/>
       |<text x="$pad" y="20" font-family="sans-serif" font-size="13">${esc(title)}</text>
       |<line x1="$pad" y1="${h - pad}" x2="${w - pad}" y2="${h - pad}" stroke="#999"/>
       |$boxes
       |</svg>
       |""".stripMargin
  }

  private def htmlPage(title: String, body: String): String =
    s"""<!DOCTYPE html>
       |<html lang="es"><head><meta charset="utf-8">
       |<title>${esc(title)}</title></head>
       |<body style="font-family:sans-serif;margin:16px">
       |<h2>${esc(title)}</h2>
       |$body
       |</body></html>
       |""".stripMargin

  /** The six HTML report files eda.py publishes under reports/eda/
    * (eda.py:84,109,117,150,191,240 — series_temporal,
    * estacionalidad_heatmap, distribucion_mensual, tendencias,
    * outliers, dashboard_eda), re-rendered as SELF-CONTAINED pages
    * (inline SVG, zero script/library dependencies — the reference
    * ships ~4 MB of plotly per file; these are a few KB and render
    * the same real-data series) so a reference user's bookmarks
    * into reports/eda keep working after migration.
    * Every number behind every mark comes from the oracle-checked
    * ref_kpi_monthly query filtered exactly as eda.py filters
    * (balance IS NOT NULL — the same 156-month window the committed
    * eda_summary.md describes). Returns (filename, html) pairs; the
    * caller decides where they land, so specs render without disk.
    */
  def renderReferenceHtml(spark: SparkSession): Seq[(String, String)] = {
    val km = SparkEntry.queries("ref_kpi_monthly")(spark, "").collect()
      .filter(!_.isNullAt(5)) // balance IS NOT NULL — eda.py:27
    // fail loudly instead of publishing six NaN-coordinate charts: a
    // <2-row window makes every series min/max/pct_change degenerate
    require(km.length >= 2,
      s"EDA charts need >= 2 balance-complete months, got ${km.length} — " +
        "the committed kpi_monthly window changed?")
    def col(i: Int): Seq[Double] =
      km.toSeq.map(r => if (r.isNullAt(i)) 0.0 else r.getDouble(i))
    val exports = col(3); val imports = col(4); val balances = col(5)
    val expB = exports.map(_ / 1e9); val impB = imports.map(_ / 1e9)
    val balB = balances.map(_ / 1e9)
    // rolling(12/24, min_periods=1).mean — eda.py:126-127
    def ma(ys: Seq[Double], k: Int): Seq[Double] =
      ys.indices.map(i => {
        val w = ys.slice(math.max(0, i - k + 1), i + 1); w.sum / w.length
      })
    // pct_change outliers — eda.py:159-166
    val pct = exports.indices.drop(1)
      .map(i => (exports(i) / exports(i - 1) - 1.0) * 100.0)
    val mu = pct.sum / pct.length
    val sd = math.sqrt(pct.map(v => (v - mu) * (v - mu)).sum / (pct.length - 1))
    val outlierIdx = pct.zipWithIndex.filter { case (v, _) =>
      math.abs(v - mu) > 2 * sd }.map(_._2)
    val years = km.map(_.getLong(0)).distinct.sorted.toSeq
    val heat = km.map(r => (r.getLong(0), r.getLong(2)) ->
      (if (r.isNullAt(3)) 0.0 else r.getDouble(3))).toMap
    val monthNames = Seq("Enero", "Febrero", "Marzo", "Abril", "Mayo",
      "Junio", "Julio", "Agosto", "Septiembre", "Octubre", "Noviembre",
      "Diciembre")
    val byMonth = monthNames.zipWithIndex.map { case (mn, i) =>
      mn.take(3) -> km.toSeq.filter(_.getLong(2) == i + 1)
        .map(r => if (r.isNullAt(3)) 0.0 else r.getDouble(3) / 1e9)
    }.filter(_._2.nonEmpty)
    val outlierMarks = {
      val (w, h, pad) = (760, 300, 40)
      val lo = pct.min; val hi = pct.max
      val span = if (hi == lo) 1.0 else hi - lo
      outlierIdx.map { i =>
        val px = pad + i.toDouble * (w - 2 * pad) / math.max(1, pct.length - 1)
        val py = h - pad - (pct(i) - lo) / span * (h - 2 * pad)
        s"""<circle cx="${d1(px)}" cy="${d1(py)}" r="4" fill="none" stroke="red" stroke-width="1.5"/>"""
      }.mkString("\n")
    }
    val serie = multiLineSvg("Comercio Exterior del Perú (miles de millones USD)",
      Seq(("Exportaciones", expB, "#2ca02c"), ("Importaciones", impB, "#d62728"),
        ("Balance", balB, "#1f77b4")))
    val tend = multiLineSvg("Tendencias de Exportaciones con Medias Móviles",
      Seq(("Exportaciones", expB, "#aec7e8"), ("Media Móvil 12m", ma(expB, 12), "#1f77b4"),
        ("Media Móvil 24m", ma(expB, 24), "#08306b")))
    val outliersSvg = multiLineSvg("Variaciones Mensuales y Outliers en Exportaciones (%)",
      Seq(("Variación % Export", pct, "#2ca02c")))
      .replace("</svg>", outlierMarks + "\n</svg>")
    val heatSvgStr = heatSvg("Estacionalidad de Exportaciones (Heatmap)", years, heat)
    val distSvg = boxSvg("Distribución de Exportaciones por Mes (B USD)", byMonth)
    val seasonBar = barSvg("Promedio mensual de exportaciones (B USD)",
      byMonth.map(_._1), byMonth.map(g => g._2.sum / g._2.length))
    Seq(
      "series_temporal.html" ->
        htmlPage("Serie Temporal — Comercio Exterior del Perú", serie),
      "estacionalidad_heatmap.html" ->
        htmlPage("Estacionalidad de Exportaciones", heatSvgStr),
      "distribucion_mensual.html" ->
        htmlPage("Distribución de Exportaciones por Mes", distSvg),
      "tendencias.html" ->
        htmlPage("Análisis de Tendencias", tend),
      "outliers.html" ->
        htmlPage("Detección de Eventos Atípicos", outliersSvg),
      "dashboard_eda.html" ->
        htmlPage("Dashboard EDA — Observatorio Comercio Perú",
          serie + "\n" + heatSvgStr + "\n" + tend + "\n" + seasonBar))
  }

  /** The reference's committed `reports/eda/eda_summary.md`,
    * re-rendered byte-for-byte from the oracle-checked
    * `ref_eda_stats` query — the FIFTH golden file's adjudication
    * surface (eda.py:264-296's template; the interpolated values are
    * the nine statistics, everything else is the template's fixed
    * narrative text, reproduced as a semantic necessity — byte
    * parity to a published report requires the report's own
    * format). Every line except the trailing generation timestamp
    * reproduces the committed file exactly; InsightsSpec pins that
    * line-by-line against the reference's `reports/eda/
    * eda_summary.md`. Formatting note: Python's `{:.1f}` rounds
    * half-even, Java's `%.1f` half-up — equal everywhere off a
    * .x5 tie, and the spec proves none of the four formatted values
    * (mean, std, max-in-billions, surplus-pct) sits on one.
    *
    * `now` is injectable so specs render deterministically.
    */
  def renderEdaSummaryGolden(spark: SparkSession,
      now: java.time.LocalDateTime = java.time.LocalDateTime.now()): String = {
    val r = SparkEntry.queries("ref_eda_stats")(spark, "").collect().head
    // Locale.ROOT explicitly (not just the GraftSession default-
    // locale pin): this is the byte-parity surface, and a caller
    // with their own session on a decimal-comma host must still get
    // '4.6', never '4,6'
    def f1(v: Double) = String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    val meanS = f1(r.getDouble(0))
    val stdS = f1(r.getDouble(1))
    val maxS = f1(r.getDouble(2) / 1e9)
    val maxYm = r.getString(3)
    val surplus = r.getLong(4); val total = r.getLong(5)
    val pctS = f1(surplus.toDouble / total * 100.0)
    val peak = r.getString(6); val valley = r.getString(7)
    val outliers = r.getLong(8)
    val ts = now.format(
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    s"""# Reporte EDA - Observatorio de Comercio Perú
       |
       |## 📊 Estadísticas Generales
       |- **Exportaciones promedio**: $$${meanS}B USD
       |- **Desviación estándar**: $$${stdS}B USD
       |- **Máximo histórico**: $$${maxS}B USD ($maxYm)
       |- **Meses con superávit**: $surplus/$total ($pctS%)
       |
       |## 🗓️ Patrones Estacionales
       |- **Mes pico**: $peak (mayor promedio de exportaciones)
       |- **Mes valle**: $valley (menor promedio de exportaciones)
       |
       |## 🔍 Eventos Atípicos
       |- **Outliers detectados**: $outliers eventos
       |- **Criterio**: Variaciones >2σ respecto a la media
       |
       |## 📈 Hallazgos Clave
       |1. **Tendencia general**: Crecimiento sostenido con volatilidad cíclica
       |2. **Estacionalidad**: Patrones regulares con picos en $peak
       |3. **Volatilidad**: Mayor inestabilidad en períodos 2008-2009, 2020-2021
       |4. **Balance comercial**: Alternancia entre superávit y déficit según coyuntura
       |
       |## 📋 Archivos Generados
       |- `series_temporal.html`: Serie temporal principal
       |- `estacionalidad_heatmap.html`: Mapa de calor estacional
       |- `distribucion_mensual.html`: Distribución por meses
       |- `tendencias.html`: Análisis de tendencias
       |- `outliers.html`: Detección de eventos atípicos
       |- `dashboard_eda.html`: Dashboard resumen
       |
       |*Generado el $ts*
       |""".stripMargin
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("target/reports")
    val spark = GraftSession.local(GraftSession.defaultCpus, Some(sfDir))
    try write(spark, sfDir, outDir) finally spark.stop()
  }

  /** Writes the EDA report of `sfDir` into `outDir` on the caller's
    * session, which stays running.
    */
  def write(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    def q(name: String) = SparkEntry.queries(name)(spark, sfDir)

    val stats = q("kpi_quick_stats").first()
    val (meanB, stdB, maxB) =
      (stats.getDouble(0), stats.getDouble(1), stats.getDouble(2))
    val surplus = stats.getLong(3)
    val months = stats.getLong(4)

    val season = q("kpi_seasonality").collect()
    val peak = season.maxBy(_.getDouble(1)).getInt(0)
    val valley = season.minBy(_.getDouble(1)).getInt(0)

    val outliers = q("kpi_outliers").collect()
    val annual = q("kpi_annual").collect()
    val topCats = q("kpi_ranking").collect().take(3)
    val insights = q("kpi_insights_text").collect()

    val md = new StringBuilder
    md ++= "# EDA Report — graft trade analog\n\n"
    md ++= "## Descriptive statistics\n"
    md ++= f"- Mean monthly exports: $$${meanB}%.4fB USD\n"
    md ++= f"- Std deviation: $$${stdB}%.4fB USD\n"
    md ++= f"- Historical maximum: $$${maxB}%.4fB USD\n"
    md ++= f"- Surplus months: $surplus/$months (${surplus * 100.0 / months}%.1f%%)\n\n"
    md ++= "## Seasonality\n"
    md ++= s"- Peak month (avg exports): $peak\n"
    md ++= s"- Valley month: $valley\n\n"
    md ++= "## Outlier events (|MoM - mean| > 2 sigma)\n"
    outliers.foreach { r =>
      md ++= f"- ${r.getInt(0)}-${r.getInt(1)}%02d: MoM ${r.getDouble(2)}%.1f%% (z=${r.getDouble(3)}%.2f)\n"
    }
    md ++= "\n## Annual performance\n"
    md ++= "| year | export (B) | import (B) | balance (B) | export YoY |\n"
    md ++= "| --- | --- | --- | --- | --- |\n"
    annual.foreach { r =>
      val yoy = if (r.isNullAt(4)) "—" else f"${r.getDouble(4)}%.1f%%"
      md ++= f"| ${r.getInt(0)} | ${r.getDouble(1)}%.3f | ${r.getDouble(2)}%.3f | ${r.getDouble(3)}%.3f | $yoy |\n"
    }
    md ++= "\n## Top categories (1996-2000 exports)\n"
    topCats.foreach { r =>
      md ++= f"${r.getInt(0)}. ${r.getString(1)}: $$${r.getDouble(2) / 1e6}%.1fM\n"
    }
    md ++= "\n## Insights\n\n"
    insights.foreach { r =>
      md ++= r.getAs[String]("insight_md")
      md ++= "\n\n"
    }

    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/eda_summary.md"), md.toString)

    // figures (eda.py renders charts into reports/; here as SVG):
    // monthly export series + seasonality profile, both from the
    // same oracle-checked frames the tables above already used
    val trend = q("kpi_trend").collect().filter(!_.isNullAt(2))
    Files.writeString(Paths.get(s"$outDir/eda_trend.svg"),
      lineSvg("Monthly exports (USD)", trend.map(_.getDouble(2)).toSeq))
    Files.writeString(Paths.get(s"$outDir/eda_seasonality.svg"),
      barSvg("Avg exports by month (USD)",
        season.map(_.getInt(0).toString).toSeq,
        season.map(_.getDouble(1)).toSeq))
    // the drop-in replacements for the reference's committed
    // reports/eda/ surface: the summary in its exact format and the
    // six HTML figures under their exact filenames, from the real
    // data (self-contained SVG pages instead of plotly bundles) —
    // rendered only where the reference checkout is present
    val refRoot = graft.operators.Reference.root
    if (Files.isDirectory(Paths.get(refRoot))) {
      Files.createDirectories(Paths.get(s"$outDir/eda"))
      Files.writeString(Paths.get(s"$outDir/eda/eda_summary.md"),
        renderEdaSummaryGolden(spark))
      renderReferenceHtml(spark).foreach { case (name, html) =>
        Files.writeString(Paths.get(s"$outDir/eda/$name"), html)
      }
      println(s"report written: $outDir/eda_summary.md (+2 SVG figures, " +
        s"+$outDir/eda: eda_summary.md and 6 HTML figures)")
    } else
      println(s"report written: $outDir/eda_summary.md (+2 SVG figures); " +
        s"reference checkout $refRoot not found (GRAFT_REFERENCE_DIR), " +
        "so its golden summary and 6 HTML figures were not rendered")
  }
}
