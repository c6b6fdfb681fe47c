package graft

import java.io.ByteArrayOutputStream
import java.nio.file.Files
import graft.operators.Reference
import org.scalatest.funsuite.AnyFunSuite

/** The OOXML (.xlsx) boundary: writer/parser round-trip and the
  * etl_parse_xlsx ⇔ etl_parse content identity the oracle strategy
  * rests on (DuckDB checks the xlsx path through the content-equal
  * CSV book — that is only sound if the two raw books really parse
  * to identical rows).
  */
class XlsxSpec extends AnyFunSuite with TempDirs {
  import TestSpark._

  test("xlsx writer → parser round-trips rows, escapes, and empty cells") {
    val rows = Seq(
      Seq("yr", "flow", "mes", "val"),
      Seq("1997", "export", "Enero", "12345"),
      Seq("1997", "<&\">", "n.d.", ""),
      Seq("1998", "import", "Ñandú & <tag>", "-7"))
    val buf = new ByteArrayOutputStream()
    graft.sources.Xlsx.writeWorkbook(buf, rows, "Libro1")
    assert(graft.sources.Xlsx.parseSheet(buf.toByteArray) == rows)
  }

  test("xlsx bytes are deterministic for identical rows") {
    val rows = Seq(Seq("a", "b"), Seq("1", "2"))
    def bytes(): Array[Byte] = {
      val buf = new ByteArrayOutputStream()
      graft.sources.Xlsx.writeWorkbook(buf, rows)
      buf.toByteArray
    }
    assert(java.util.Arrays.equals(bytes(), bytes()))
  }

  test("readSheets decodes a workbook through the binaryFile scan") {
    val dir = tempDir("graft-xlsx")
    val rows = Seq(Seq("h1", "h2")) ++ (1 to 5).map(i => Seq(s"k$i", s"v$i"))
    val os = Files.newOutputStream(dir.resolve("t.xlsx"))
    try graft.sources.Xlsx.writeWorkbook(os, rows) finally os.close()
    val got = graft.sources.Xlsx.readSheets(spark, dir.toString)
      .collect()
      .map(r => (r.getInt(1), r.getSeq[String](2)))
      .sortBy(_._1)
    assert(got.length == 6)
    assert(got.map(_._2.toSeq).toSeq == rows)
  }

  test("multi-sheet workbook round-trips names, order, and per-sheet rows") {
    val sheets = Seq(
      "2005" -> Seq(Seq("a", "b"), Seq("1", "2")),
      "Notas" -> Seq(Seq("texto libre")),
      "2006" -> Seq(Seq("c"), Seq("3"), Seq("", "x", "")))
    val buf = new ByteArrayOutputStream()
    graft.sources.Xlsx.writeWorkbookSheets(buf, sheets)
    assert(graft.sources.Xlsx.parseWorkbook(buf.toByteArray) == sheets)
    // the single-sheet reader stays pinned to the FIRST sheet
    assert(graft.sources.Xlsx.parseSheet(buf.toByteArray) == sheets.head._2)
  }

  test("readAllCells explodes every sheet with 0-based pandas coordinates") {
    val dir = tempDir("graft-xlsx-cells")
    val sheets = Seq(
      "1999" -> Seq(Seq("p", "q"), Seq("r")),
      "2000" -> Seq(Seq("s")))
    val os = Files.newOutputStream(dir.resolve("m.xlsx"))
    try graft.sources.Xlsx.writeWorkbookSheets(os, sheets) finally os.close()
    val got = graft.sources.Xlsx.readAllCells(spark, dir.toString)
      .collect()
      .map(r => (r.getString(1), r.getInt(2), r.getInt(3), r.getString(4)))
      .sortBy(t => (t._1, t._2, t._3))
      .toSeq
    assert(got == Seq(
      ("1999", 0, 0, "p"), ("1999", 0, 1, "q"), ("1999", 1, 0, "r"),
      ("2000", 0, 0, "s")))
  }

  test("etl_parse_xlsx_prod applies the reference's parse_book rules") {
    val rows = SparkEntry.queries("etl_parse_xlsx_prod")(spark, sf).collect()
    assert(rows.nonEmpty)
    val cats = rows.map(_.getString(3)).distinct
    // metadata rows are filtered (etl_products.py:66-72)
    assert(cats.forall(c => !c.toLowerCase.startsWith("incluye") &&
      !c.toLowerCase.startsWith("total") && c.length >= 3))
    // skip rules: no zero/unparseable values survive (:80-90)
    assert(rows.forall(r => r.getDouble(4) != 0.0))
    // the non-year 'Notas' sheet contributes nothing: every year is 4-digit
    assert(rows.forall(_.getInt(0) >= 1000))
    // 'Total' records ARE kept as thirteenth month values (:52, :77)
    assert(rows.exists(_.getString(1) == "Total"))
    // planted defect cells really exercised the skips: the first
    // import year lacks (cat0, Enero), (cat1, Febrero), (cat2, Marzo)
    val imp = rows.filter(_.getString(2) == "import")
    val y0 = imp.map(_.getInt(0)).min
    val catsSorted = imp.map(_.getString(3)).distinct.sorted
    def has(ci: Int, mes: String) = imp.exists(r => r.getInt(0) == y0 &&
      r.getString(3) == catsSorted(ci) && r.getString(1) == mes)
    assert(!has(0, "Enero") && !has(1, "Febrero") && !has(2, "Marzo"))
    assert(has(0, "Febrero"), "non-defect cells of the same rows must survive")
  }

  test("the reference's REAL Excel-written product books parse end to end") {
    // the reference's data/cdro_F1.xlsx + cdro_G1.xlsx are the actual
    // inputs etl_products.py consumes: Excel-written OOXML with shared
    // strings, r="B2" sparse cell addressing, styled empty cells and
    // numeric <v> values — none of which the fixture books exercise.
    // The same decode + relational parse must work on them unchanged
    // (read-only access). Since r12 the parse VALUES are fully
    // oracle-checked against the reference's own committed
    // trade_prod.parquet (ref_trade_prod + ReferenceParitySpec,
    // byte-exact); this test remains as the independent INVARIANT
    // layer — layout facts asserted without consulting the golden
    // file, so a regression that corrupted both sides of a file
    // compare would still fail here.
    Seq("F1", "G1").foreach(b => Reference.path(s"data/cdro_$b.xlsx"))
    val cells = graft.sources.Xlsx.readAllCells(
      spark, s"${Reference.root}/data/cdro_{F1,G1}.xlsx")
    val rows = graft.operators.Etl.parseBookCells(cells).collect()
    assert(rows.length > 500, s"only ${rows.length} rows from the real books")
    val years = rows.map(_.getInt(0)).distinct
    assert(years.forall(y => y >= 2005 && y <= 2025) && years.length >= 15,
      s"unexpected year sheets: ${years.sorted.mkString(",")}")
    assert(rows.map(_.getString(2)).distinct.toSet == Set("import", "export"),
      "both flows (F1=import, G1=export) must parse")
    val months = rows.map(_.getString(1)).distinct.toSet
    assert(months == (Seq("Enero", "Febrero", "Marzo", "Abril", "Mayo",
      "Junio", "Julio", "Agosto", "Septiembre", "Octubre", "Noviembre",
      "Diciembre", "Total").toSet), s"month map broke: $months")
    val cats = rows.map(_.getString(3)).distinct
    assert(cats.contains("BIENES DE CONSUMO"),
      s"CUODE group categories expected, got: ${cats.take(8).mkString("; ")}")
    // the reference's own filters hold: no metadata rows survive
    assert(cats.forall(c => c.length >= 3 &&
      !c.toLowerCase.startsWith("incluye") && !c.toLowerCase.startsWith("total")))
    assert(rows.forall(_.getDouble(4) != 0.0))
  }

  test("the third real book (cdro_G6, by-country totals) decodes cleanly too") {
    // etl.py's other real input: same Excel OOXML features, different
    // grid (destination countries instead of CUODE categories) — the
    // decoder must surface its year sheets, month headers and
    // shared-string country names without any book-specific handling
    val bytes = Files.readAllBytes(
      java.nio.file.Paths.get(Reference.path("data/cdro_G6.xlsx")))
    val sheets = graft.sources.Xlsx.parseWorkbook(bytes)
    val yearSheets = sheets.filter(_._1.matches("[0-9]{4}"))
    assert(yearSheets.size >= 20, s"expected ~21 year sheets, got ${yearSheets.size}")
    yearSheets.foreach { case (name, rows) =>
      assert(rows.exists(_.exists(_.trim == "Enero")),
        s"sheet $name: month header row not decoded")
    }
    val cells = sheets.flatMap(_._2).flatten
    assert(cells.exists(_.contains("ESTADOS UNIDOS")),
      "shared-string country names must resolve")
  }

  test("etl_prod_qa flags exactly the rows whose defect cells broke the sum") {
    val parsed = SparkEntry.queries("etl_parse_xlsx_prod")(spark, sf).collect()
    val qa = SparkEntry.queries("etl_prod_qa")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getBoolean(6)))
      .toMap
    assert(qa.nonEmpty)
    // recompute the reconciliation from the parsed long table itself
    val byKey = parsed.groupBy(r => (r.getInt(0), r.getString(2), r.getString(3)))
    byKey.foreach { case (k, rows) =>
      val sumM = rows.filter(_.getString(1) != "Total").map(_.getDouble(4)).sum
      val tot = rows.filter(_.getString(1) == "Total").map(_.getDouble(4)).sum
      val (gotSum, gotTot, gotDelta, gotOk) = qa(k)
      assert(gotSum == sumM && gotTot == tot && gotDelta == tot - sumM, s"$k")
      assert(gotOk == !(math.abs(tot - sumM) > 1e-3), s"$k qa flag")
    }
    // the planted defect cells ('n.d.'/0/'' in the first import year)
    // must surface as REAL mismatches: at least one flagged row exists
    assert(qa.values.exists(!_._4), "no QA mismatch found — defects not exercised")
    // and clean series stay clean
    assert(qa.values.exists(_._4), "every row flagged — QA logic inverted?")
  }

  test("etl_parse_xlsx parses the workbook to the exact etl_parse rows") {
    val csv = SparkEntry.queries("etl_parse")(spark, sf).collect().toSeq
    val xlsx = SparkEntry.queries("etl_parse_xlsx")(spark, sf).collect().toSeq
    assert(xlsx.nonEmpty)
    assert(xlsx == csv,
      "xlsx-ingested book diverged from the CSV book the oracle checks")
  }
}
