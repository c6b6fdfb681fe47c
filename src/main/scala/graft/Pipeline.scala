package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Full pipeline entrypoint — the engine-side analog of the
  * reference's run_pipeline.py: input-manifest precheck, then ETL →
  * KPI tables → product KPIs → EDA report, each stage persisted as
  * parquet next to a summary markdown, all from the oracle-checked
  * operators.
  *
  * Usage: graft.Pipeline [sfDir] [outDir]
  */
object Pipeline {

  /** The input manifest (run_pipeline.py:37-60 `check_files` analog):
    * every source table a stage scans, with the reference workbook it
    * stands in for. Checked BEFORE the session spins up, so a missing
    * drop fails in milliseconds with the complete list rather than
    * minutes into stage 3.
    */
  private[graft] val requiredInputs: Seq[(String, String)] = Seq(
    "orders.parquet" -> "fact mensual de flujos (cdro_F8/G6 analog)",
    "lineitem.parquet" -> "detalle por categoría (cdro_F1/G1 analog)",
    "part.parquet" -> "dimensión de categorías",
    "customer.parquet" -> "dimensión de clientes (QA join)")

  /** Problems with the input drop: missing files and zero-byte files
    * (a truncated copy is as fatal as an absent one). Empty = go.
    */
  private[graft] def missingInputs(sfDir: String): Seq[String] = {
    val dir = TradeParams.parseDir(sfDir)._1
    requiredInputs.flatMap { case (f, desc) =>
      val p = Paths.get(dir, f)
      if (!Files.exists(p)) Some(s"$dir/$f ($desc): missing")
      else if (Files.size(p) == 0) Some(s"$dir/$f ($desc): empty file")
      else None
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("target/pipeline")

    val problems = missingInputs(sfDir)
    if (problems.nonEmpty) {
      System.err.println("cannot run: input manifest incomplete")
      problems.foreach(p => System.err.println(s"  - $p"))
      sys.exit(1)
    }
    val base = TradeParams.parseDir(sfDir)._1
    requiredInputs.foreach { case (f, desc) =>
      val kb = Files.size(Paths.get(base, f)) / 1024
      println(f"input ok: $f%-18s $kb%6d KB  ($desc)")
    }

    val spark = GraftSession.local(GraftSession.defaultCpus, Some(sfDir))
    Files.createDirectories(Paths.get(outDir))

    def stage(name: String, query: String): Unit = {
      val t0 = System.nanoTime()
      SparkEntry.queries(query)(spark, sfDir)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      println(f"stage $name%-22s (${(System.nanoTime() - t0) / 1e9}%5.1f s) -> $outDir/$name")
    }

    // 1) ETL: long fact (reference etl.py → trade.parquet)
    stage("trade", "kpi_trade_long")
    // 2) KPI totals (reference metrics.py → kpi_monthly.parquet)
    stage("kpi_monthly", "kpi_mom_yoy")
    stage("kpi_ma", "kpi_ma3")
    stage("kpi_index", "kpi_idx_base")
    // 3) KPI products (reference metrics_products.py)
    stage("kpi_prod_monthly", "kpi_prod_monthly")
    // 4) QA (reference qa_report / qa_totals)
    stage("qa_totals", "kpi_qa_totals")
    // 4b) persistent catalog (reference etl.py:84-92 → trade.duckdb):
    // later sessions query these by name via TradeCatalog.attach
    TradeCatalog.publish(spark, sfDir)
    println(s"catalog published -> ${TradeCatalog.defaultRoot} (db ${TradeCatalog.db})")
    // 5) EDA + insights report (reference eda.py + insights_engine.py)
    Report.write(spark, sfDir, s"$outDir/eda")

    println(s"\npipeline complete -> $outDir")
    spark.stop()
  }
}
