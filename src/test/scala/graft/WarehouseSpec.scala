package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the incremental-maintenance operators —
  * MERGE algebra for cdc_merge, interval algebra for scd2_dim —
  * beyond the value-level oracle gate.
  */
class WarehouseSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val merged = SparkEntry.queries("cdc_merge")(spark, sf).cache()
  private lazy val scd = SparkEntry.queries("scd2_dim")(spark, sf).cache()

  test("cdc_merge row count = base - deletes + inserts") {
    val base = Tables(spark, sf).orders
    val n = base.count()
    val nDel = base.filter(col("o_orderkey") % 10 === 7).count()
    val nIns = base.filter(col("o_orderkey") % 10 === 5).count()
    assert(merged.count() == n - nDel + nIns)
  }

  test("cdc_merge applies each op class") {
    // deletes gone, updates rewritten in place, inserts disjoint-keyed
    assert(merged.filter(col("o_orderkey") % 10 === 7 &&
      col("o_orderkey") < 1000000000000L).count() == 0)
    val upd = merged.filter(col("o_orderkey") % 10 === 3 &&
      col("o_orderkey") < 1000000000000L)
    assert(upd.filter(col("o_orderstatus") =!= "X").count() == 0)
    val ins = merged.filter(col("o_orderkey") >= 1000000000000L)
    assert(ins.count() > 0)
    assert(ins.filter(col("o_orderstatus") =!= "N").count() == 0)
  }

  test("cdc_merge shuffles orders once: both merge sides reuse one keyed exchange") {
    // the r15 single-exchange shape: base and batch derive from the
    // same key-partitioned frame, the batch join key is a pure alias
    // of o_orderkey, and the insert-key offset is materialized AFTER
    // the join — so the full-outer SMJ must plan ONE hashpartitioning
    // exchange plus a ReusedExchange, never a second scan+shuffle of
    // orders (AQE off so the static plan text is assertable)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("cdc_merge")(spark, sf)
        .queryExecution.executedPlan.toString
      // a ReusedExchange node echoes the referenced exchange's
      // description on its own line — count live exchange nodes only
      val n = p.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning") && !l.contains("ReusedExchange"))
      assert(n == 1, s"expected exactly one keyed exchange, found $n:\n$p")
      assert(p.contains("ReusedExchange"),
        s"batch side does not reuse the base exchange:\n$p")
    } finally restoreAqeDefault()
  }

  test("scd2 versions are contiguous from 1 per entity") {
    val bad = scd.groupBy(col("user_id"))
      .agg(min(col("version")).as("vmin"), max(col("version")).as("vmax"),
        count(lit(1)).as("n"))
      .filter(col("vmin") =!= 1 || col("vmax") =!= col("n"))
    assert(bad.count() == 0)
  }

  test("scd2 intervals chain without gaps and close with one open row") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("version"))
    // valid_to must equal the NEXT version's valid_from (half-open
    // intervals tile the entity's history)
    val chained = scd.withColumn("next_from", lead(col("valid_from"), 1).over(w))
    assert(chained.filter(col("next_from").isNotNull &&
      col("valid_to") =!= col("next_from")).count() == 0)
    // exactly one current row per entity, and it is the last version
    val cur = scd.filter(col("is_current"))
    assert(cur.count() == scd.select(col("user_id")).distinct().count())
    assert(cur.filter(col("valid_to").isNotNull).count() == 0)
  }

  test("ivm_rollup delta maintenance equals recompute over the merge") {
    // the Spark-side proof of the same equivalence the oracle checks:
    // re-aggregate the cdc_merge RESULT directly and compare against
    // the delta-maintained rollup value for value
    val recompute = merged.groupBy(col("o_orderstatus"))
      .agg(Det.dsum(col("o_totalprice")).as("total_price"),
        count(lit(1)).as("n_orders"))
    val ivm = SparkEntry.queries("ivm_rollup")(spark, sf)
    assert(ivm.join(recompute, Seq("o_orderstatus"), "full_outer")
      .filter(recompute("total_price").isNull || ivm("total_price").isNull ||
        recompute("total_price") =!= ivm("total_price") ||
        recompute("n_orders") =!= ivm("n_orders"))
      .count() == 0)
  }

  test("scd2 adjacent versions always change the tracked attribute") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("version"))
    val runs = scd.withColumn("prev_type", lag(col("event_type"), 1).over(w))
    assert(runs.filter(col("prev_type").isNotNull &&
      col("prev_type") === col("event_type")).count() == 0)
  }

  test("scd2 run construction is null-safe: a null event_type mid-run starts a new version") {
    // r16 ADVICE guard: with the old non-null-safe change flag
    // (prev <> event_type), a null event_type folded into the prior
    // run while the group key split it back out — one version emitted
    // as TWO rows ((v, type) and (v, null)). The IS-DISTINCT-FROM flag
    // makes event_type constant per version for ANY input; this pins
    // it on a synthetic stream the generated data never produces.
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-scd2-null")
    val rows = Seq(
      (0L, 100L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), Option("A")),
      (1L, 100L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), None),
      (2L, 100L, java.sql.Timestamp.valueOf("2024-01-03 00:00:00"), None),
      (3L, 100L, java.sql.Timestamp.valueOf("2024-01-04 00:00:00"), Option("A")),
      (4L, 200L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), Option("B")))
      .toDF("event_id", "user_id", "ts", "event_type")
    rows.repartition(1).write.mode("overwrite")
      .parquet(s"$tmp/events.parquet")
    val out = SparkEntry.queries("scd2_dim")(spark, tmp.toString).cache()
    try {
      // (user_id, version) unique — the two-rows-per-version bug shape
      assert(out.groupBy(col("user_id"), col("version"))
        .count().filter(col("count") > 1).count() == 0)
      // the null-safe flag starts a run on every null transition:
      // user 100 = [A], [null], [null], [A] — four single-event runs
      val u = out.filter(col("user_id") === 100L)
        .orderBy(col("version"))
        .select(col("version"), col("event_type"), col("n_events"))
        .collect()
      assert(u.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
      assert(u.map(r => Option(r.getString(1))).toSeq ==
        Seq(Some("A"), None, None, Some("A")))
      assert(u.forall(_.getLong(2) == 1L))
    } finally {
      out.unpersist()
      TestSpark.deleteWithFixtures(tmp)
    }
  }

  // -- persistent catalog (reference etl.py:84-92 trade.duckdb) --

  test("real-data warehouse: the reference's four tables published from its raw books, SQL-queryable by name") {
    // the `duckdb trade.duckdb` experience over the REAL data: publish
    // once from the raw cdro books (through the golden-file parity
    // path), then a fresh session attaches metadata-only and queries
    // the reference's own table names/schemas with its own values
    val root = java.nio.file.Files.createTempDirectory("graft-ref-cat").toString
    try {
      TradeCatalog.publishReference(spark, root)
      val s2 = spark.newSession()
      val attached = TradeCatalog.attachReference(s2, root)
      assert(attached.toSet == TradeCatalog.refModels.map(_._1).toSet)
      val db = TradeCatalog.refDb
      // row counts equal the reference's committed outputs (values are
      // byte-exact by ReferenceParitySpec; counts pin the publish path)
      assert(s2.sql(s"SELECT COUNT(*) FROM $db.trade_prod").head.getLong(0) == 1816)
      assert(s2.sql(s"SELECT COUNT(*) FROM $db.kpi_prod_monthly").head.getLong(0) == 1669)
      assert(s2.sql(s"SELECT COUNT(*) FROM $db.kpi_monthly").head.getLong(0) == 239)
      assert(s2.sql(s"SELECT COUNT(*) FROM $db.trade WHERE flow = 'export'")
        .head.getLong(0) == 260)
      // a reference user's day-one query, verbatim SQL over real names
      val top = s2.sql(
        s"""SELECT category, SUM(usd) AS total FROM $db.trade_prod
           |WHERE flow = 'import' AND month <> 'Total'
           |GROUP BY category ORDER BY total DESC LIMIT 1""".stripMargin)
        .head.getString(0)
      assert(top == "MATERIAS PRIMAS Y PRODUCTOS INTERMEDIOS", s"got $top")
    } finally {
      TradeCatalog.refModels.foreach { case (t, _) =>
        spark.sql(s"DROP TABLE IF EXISTS ${TradeCatalog.refDb}.`$t`")
      }
      spark.sql(s"DROP DATABASE IF EXISTS ${TradeCatalog.refDb}")
      TestSpark.deleteTree(java.nio.file.Paths.get(root))
    }
  }

  test("published catalog serves model tables by name, survives a fresh catalog, and attach is metadata-only") {
    val root = java.nio.file.Files.createTempDirectory("graft-cat-test").toString
    val expected = SparkEntry.queries("kpi_trade_long")(spark, sf)
      .collect().map(_.toSeq)
    try {
      // ETL side: publish once
      TradeCatalog.publish(spark, sf, root)
      // a NEW session (fresh session state over the same store) reads
      // the models by NAME — the app.py load_data() contract
      val s2 = spark.newSession()
      assert(s2.table(s"${TradeCatalog.db}.trade").collect()
        .map(_.toSeq).sortBy(_.mkString(","))
        .sameElements(expected.sortBy(_.mkString(","))))
      assert(s2.table(s"${TradeCatalog.db}.kpi_prod_monthly").count() > 0)

      // fresh-JVM simulation: drop every catalog ENTRY (external
      // tables — the warehouse files must survive the drop) …
      TradeCatalog.models.foreach { case (t, _) =>
        spark.sql(s"DROP TABLE ${TradeCatalog.db}.`$t`")
      }
      val dataFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      val nParquet = try dataFiles.filter(_.toString.endsWith(".parquet")).count()
        finally dataFiles.close()
      assert(nParquet > 0, "external table data must survive DROP TABLE")

      // … then attach re-opens the store WITHOUT re-running ETL:
      // metadata-only registration, byte-identical reads
      val mtimes = TradeCatalog.models.map { case (t, _) =>
        t -> java.nio.file.Files.getLastModifiedTime(
          java.nio.file.Paths.get(root, t)).toMillis
      }.toMap
      val attached = TradeCatalog.attach(spark, root)
      assert(attached.toSet == TradeCatalog.models.map(_._1).toSet)
      assert(spark.table(s"${TradeCatalog.db}.trade").collect()
        .map(_.toSeq).sortBy(_.mkString(","))
        .sameElements(expected.sortBy(_.mkString(","))))
      TradeCatalog.models.foreach { case (t, _) =>
        assert(java.nio.file.Files.getLastModifiedTime(
          java.nio.file.Paths.get(root, t)).toMillis == mtimes(t),
          s"attach must not rewrite $t")
      }

      // the SQL model layer (reference metrics.sql:6-80; served as
      // `duckdb trade.duckdb` views): a FRESH session after attach()
      // answers SELECTs on the named views, and each view reproduces
      // its oracle-checked operator EXACTLY (bit-equal doubles)
      val s3 = spark.newSession()
      TradeCatalog.attach(s3, root)
      def viewRows(view: String, order: String) = s3.sql(
        s"SELECT * FROM ${TradeCatalog.db}.$view ORDER BY $order")
        .collect().map(_.toSeq)
      def opRows(op: String) =
        SparkEntry.queries(op)(spark, sf).collect().map(_.toSeq)
      assert(viewRows("base_monthly", "yr, mon")
        .sameElements(opRows("kpi_base_monthly")))
      assert(viewRows("metrics_windowed", "yr, mon")
        .sameElements(opRows("kpi_mom_yoy")))
      assert(viewRows("quarterly_summary", "yr, qtr")
        .sameElements(opRows("kpi_quarterly")))
      assert(viewRows("annual_performance", "yr")
        .sameElements(opRows("kpi_annual")))

      // attach against a SECOND warehouse root must re-point the
      // existing catalog entries at the new location, not silently
      // no-op onto the stale one (the CREATE TABLE IF NOT EXISTS trap)
      val root2 = java.nio.file.Files.createTempDirectory("graft-cat-test2").toString
      try {
        TradeCatalog.publish(spark, sf, root2)
        TradeCatalog.attach(spark, root)           // back to root ONE
        val loc = spark.sql(
          s"DESCRIBE TABLE EXTENDED ${TradeCatalog.db}.trade")
          .filter("col_name = 'Location'").collect().head.getString(1)
        assert(loc.contains(root) && !loc.contains(root2),
          s"attach(root) left the entry on $loc")
        // a crashed-publish leftover dir must NOT be registered
        java.nio.file.Files.createDirectory(
          java.nio.file.Paths.get(root, "_partial_junk"))
        assert(!TradeCatalog.attach(spark, root).contains("_partial_junk"))
      } finally {
        TestSpark.deleteTree(java.nio.file.Paths.get(root2))
      }
    } finally {
      TradeCatalog.views.foreach { case (v, _) =>
        spark.sql(s"DROP VIEW IF EXISTS ${TradeCatalog.db}.`$v`")
      }
      TradeCatalog.models.foreach { case (t, _) =>
        spark.sql(s"DROP TABLE IF EXISTS ${TradeCatalog.db}.`$t`")
      }
      spark.sql(s"DROP DATABASE IF EXISTS ${TradeCatalog.db}")
      TestSpark.deleteTree(java.nio.file.Paths.get(root))
    }
  }
}
