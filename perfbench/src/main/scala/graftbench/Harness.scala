package graftbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{GraftSession, SparkEntry, Tables, TradeCatalog}

/** One benchmark run in one JVM: set up, then run one workload's
  * operations in a closed loop with one client thread, one whole pass
  * per drop, the first of them the JVM's first. Calls the engine only
  * through its public functions. Writes `ops.jsonl` (one record per
  * operation), `passes.jsonl` (per-pass facts the checks read),
  * `run.json` (run-level figures), `oracles.json` (the checked
  * queries' DuckDB SQL) and, when traced, `spans.jsonl`.
  *
  * Usage: graftbench.Harness WORKLOAD OUT_DIR TRACE DROP...
  * Each drop gets one measured pass, so the number of passes never
  * depends on how fast the engine is. WORKLOAD `setup` starts the
  * session and stops.
  */
object Harness {
  val kpiStages = Seq("kpi_trade_long", "kpi_mom_yoy", "kpi_ma3", "kpi_idx_base",
    "kpi_prod_monthly", "kpi_qa_totals")
  val etlStages = Seq("etl_parse_xlsx", "etl_parse_xlsx_prod", "etl_prod_qa")
  val edaQueries = Seq("kpi_quick_stats", "kpi_seasonality", "kpi_outliers", "kpi_annual",
    "kpi_ranking", "kpi_insights_text", "kpi_trend")

  /** The analyst's query mix: two or three queries from each SQL-surface
    * and corpus module, chosen to cover joins, windows, sketches, the
    * skew join and set-op rewrite, the stream operators, and the
    * corpus kernels (hashing, vectors, text, regex, images). */
  val adhocQueries: Seq[(String, String)] = Seq(
    "relational" -> "q3_join_agg_topk", "relational" -> "q8_window_rank",
    "relational" -> "q9_rollup",
    "advanced" -> "q20_sketches", "advanced" -> "q24_window_stats",
    "advanced" -> "q25_setops", "advanced" -> "q28_skew_salted_join",
    "warehouse" -> "scd2_dim", "warehouse" -> "cdc_merge",
    "streaming" -> "stream_sessionize", "streaming" -> "stream_windowed_agg",
    "dedup" -> "dedup_exact", "dedup" -> "dedup_minhash_lsh",
    "similarity" -> "ann_bruteforce", "similarity" -> "ann_ivf",
    "text" -> "text_tfidf", "text" -> "text_lm_score",
    "select" -> "llm_pii_scrub", "select" -> "llm_decontaminate",
    "multimodal" -> "mm_phash")

  def main(args: Array[String]): Unit = {
    val Array(workload, outDir, trace) = args.take(3)
    val drops = args.drop(3).toSeq
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"), drops.headOption)
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, Paths.get(outDir), trace == "1")
    // set-up ends once the session is up
    run.measuring()
    workload match {
      case "setup" => // set-up alone, one more sample of its time
      case "pipeline" => pipeline(run, drops)
      case "adhoc" => adhoc(run, drops)
      case w => sys.error(s"unknown workload $w")
    }
    run.finish()
    spark.stop()
  }

  /** Builds each table's DataFrame, which lays the big tables out as
    * multi-file copies the first time a drop is seen. */
  def touch(spark: SparkSession, dir: String): Unit = {
    val t = Tables(spark, dir)
    Seq(t.region, t.nation, t.supplier, t.part, t.customer, t.orders, t.lineitem,
      t.events, t.documents, t.embeddings)
  }

  // ---- pipeline: the monthly refresh, one fresh drop per pass ----

  def pipeline(run: Run, drops: Seq[String]): Unit = {
    val spark = run.spark
    def pass(name: String, dir: String): Unit = {
      val out = run.out.resolve(name)
      val startMs = run.pass(name) {
        run.op("ingest.relayout")(touch(spark, dir))
        for (q <- kpiStages) run.query(q, "kpi", dir)(_.write.parquet(s"$out/$q"))
        for (q <- etlStages) run.query(q, "etl", dir)(_.write.parquet(s"$out/$q"))
        run.op("catalog.publish")(TradeCatalog.publish(spark, dir))
        for (q <- edaQueries) run.query(q, "report", dir)(_.write.parquet(s"$out/$q"))
      }
      // the checks' inputs, untimed: the bytes the pass left, the
      // catalog read back, and the book parsed from its CSV rendering
      // to compare with the xlsx one. A failure here leaves its input
      // out, which the checks report.
      val written = run.writtenSince(startMs, out)
      val readBack = Try(TradeCatalog.models.map { case (t, _) =>
        s""""$t":${spark.table(s"${TradeCatalog.db}.$t").count()}"""
      }).map(_.mkString("{", ",", "}")).getOrElse("null")
      Try(SparkEntry.queries("etl_parse")(spark, dir).write.parquet(s"$out/etl_parse"))
      run.note(name, dir, s""""catalog_rows":$readBack,"written":$written""")
    }
    for ((d, k) <- drops.zipWithIndex) pass(s"pass${k + 1}", d)
  }

  // ---- adhoc: the SQL analyst, one session, a fresh drop per pass ----

  def adhoc(run: Run, drops: Seq[String]): Unit = {
    val spark = run.spark
    val oracles = SparkEntry.oracleSql
    // the mix runs in a fixed order: queries that share an artifact
    // (text_tfidf and text_lm_score, the ANN indexes) then build it at
    // the same step in every run, whatever the seed
    def pass(name: String, dir: String): Unit = {
      // each result is collected to the client; the pass keeps the rows
      // of every query that has oracle SQL and writes them for the
      // checks once the pass is timed
      val results = scala.collection.mutable.ArrayBuffer.empty[(String, StructType, Array[Row])]
      def writeResults(): Unit = {
        for ((q, schema, rows) <- results)
          Try(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
            .coalesce(1).write.parquet(s"${run.out}/$name/$q"))
        results.clear()
      }
      run.pass(name, () => writeResults()) {
        for ((m, q) <- adhocQueries) run.query(q, m, dir) { df =>
          val rows = df.collect()
          if (oracles.contains(q)) results += ((q, df.schema, rows))
        }
      }
      run.note(name, dir, "")
    }
    // every drop is laid out before the first pass, outside the timings
    drops.foreach(touch(spark, _))
    for ((d, k) <- drops.zipWithIndex) pass(s"pass${k + 1}", d)
    run.oracles(adhocQueries.map(_._2).filter(oracles.contains))
  }
}

/** The run's recorder: times operations, counts attempts and
  * failures, reads the live heap after each measured pass, and (traced)
  * drives the [[Tracer]]. */
final class Run(val spark: SparkSession, val out: Path, traced: Boolean) {
  Files.createDirectories(out)
  private def writer(name: String) =
    new PrintWriter(Files.newBufferedWriter(out.resolve(name)), true)
  private val ops = writer("ops.jsonl")
  private val notes = writer("passes.jsonl")
  private val tracer = if (traced) Some(new Tracer(spark, out.resolve("spans.jsonl").toString)) else None
  private var measureStartMs = 0L
  private var seq = 0
  private var parent: String = null
  private val passFailed = scala.collection.mutable.ArrayBuffer.empty[String]
  var attempted, failed = 0

  private var heapLive = 0L

  /** Marks the end of set-up. */
  def measuring(): Unit = measureStartMs = System.currentTimeMillis()

  /** A pass: the parent span of the operations run inside it.
    * `untimed` runs after the pass's wall time is taken and before the
    * live heap is read. Returns the pass's start time (epoch ms). */
  def pass(name: String, untimed: () => Unit = () => ())(body: => Unit): Long = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    parent = name
    passFailed.clear()
    body
    parent = null
    val wall = (System.nanoTime() - t0) / 1e9
    untimed()
    // what the pass leaves live on the heap: the session's caches and
    // artifacts, read after a full collection, outside the timed pass
    // (twice: Spark's cleaner frees blocks only once their owners
    // are collected)
    System.gc()
    Thread.sleep(200)
    System.gc()
    heapLive = math.max(heapLive, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    ops.println(s"""{"id":"$name","cls":"pass","wall_s":$wall,"start_ms":$startMs}""")
    tracer.foreach(_.span(name, name, "pass", startMs, System.currentTimeMillis(), null))
    startMs
  }

  /** Times `body` as one operation. `body` receives a marker to call
    * once the query plan is built, so plan construction (with any jobs
    * it runs eagerly) is timed apart from execution. */
  private def record(name: String, cls: String, query: Boolean)(
      body: (() => Unit) => Unit): Unit = {
    seq += 1
    val id = f"$cls%s:$seq%05d"
    tracer.foreach(_.begin(id, query))
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var buildS = 0.0
    def built(): Unit = {
      buildS = (System.nanoTime() - t0) / 1e9
      tracer.foreach(_.built())
    }
    val result = try Right(body(() => built())) catch { case e: Throwable => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    val counters = tracer.map(_.end(id))
    tracer.foreach(_.span(id, name, cls, startMs, endMs, parent))
    attempted += 1
    val err = result.left.toOption.map { e =>
      failed += 1
      passFailed += name
      (e.getClass.getName + ": " + String.valueOf(e.getMessage)).take(300)
        .replace("\\", "\\\\").replace("\"", "'").replace("\n", " ")
    }
    val extra = (counters.map("," + _.json) ++
      err.map(e => s""","error":"$e"""")).mkString
    val par = if (parent == null) "null" else "\"" + parent + "\""
    ops.println(s"""{"id":"$id","name":"$name","cls":"$cls","parent":$par,""" +
      s""""wall_s":$wall,"build_s":$buildS,"start_ms":$startMs$extra}""")
  }

  /** An operation that is not a single query: it builds no plan, so
    * none of its jobs count as eager. */
  def op(name: String)(body: => Unit): Unit =
    record(name, name, query = false)(_ => body)

  /** One query: builds its plan through `SparkEntry.queries` (timed on
    * its own), then runs it into `sink`. */
  def query(q: String, cls: String, dir: String)(sink: DataFrame => Unit): Unit =
    record(q, cls, query = true) { built =>
      val df = SparkEntry.queries(q)(spark, dir)
      built()
      sink(df)
    }

  /** The checks' facts about measured pass `name` over drop `dir`:
    * `fields` (JSON members) plus the operations that failed in it,
    * whose outputs the checks then skip. */
  def note(name: String, dir: String, fields: String): Unit = {
    val failedOps = passFailed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val rest = if (fields.isEmpty) "" else "," + fields
    notes.println(s"""{"pass":"$name","drop":"$dir","failed":$failedOps$rest}""")
  }

  /** The engine's DuckDB SQL for `queries`, for the checks. */
  def oracles(queries: Seq[String]): Unit = {
    def str(x: String) = "\"" + x.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val sql = SparkEntry.oracleSql
    Files.writeString(out.resolve("oracles.json"),
      queries.map(q => s"${str(q)}:${str(sql(q))}").mkString("{", ",", "}"))
  }

  /** Bytes of the engine's durable files modified since `sinceMs`,
    * split by what wrote them; Spark's shuffle files and the harness's
    * own records are not counted. */
  def writtenSince(sinceMs: Long, outputs: Path): String = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath
    val root = out.toAbsolutePath.getParent
    val parts = Seq("relayout" -> tmp.resolve("graft-split"),
      "catalog" -> tmp.resolve("graft-trade-warehouse"),
      "fixtures" -> root.resolve("target"),
      "outputs" -> outputs.toAbsolutePath)
    val sums = scala.collection.mutable.LinkedHashMap(parts.map(_._1 -> 0L): _*)
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(Files.isRegularFile(_)).foreach { f =>
      if (Files.getLastModifiedTime(f).toMillis >= sinceMs && !f.toString.endsWith(".class")) {
        val a = f.toAbsolutePath
        parts.collectFirst { case (n, p) if a.startsWith(p) => n }
          .foreach(k => sums(k) += Files.size(f))
      }
    } finally walk.close()
    sums.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }

  def finish(): Unit = {
    tracer.foreach(_.close())
    ops.close()
    notes.close()
    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
    val w = new PrintWriter(out.resolve("run.json").toString, "UTF-8")
    w.println(s"""{"measure_start_ms":$measureStartMs,""" +
      s""""attempted":$attempted,"failed":$failed,"heap_live_mb":${heapLive / 1048576.0},"jvm_gc_s":$gcS}""")
    w.close()
  }
}
