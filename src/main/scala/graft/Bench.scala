package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLongArray
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SortExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec

/** The measurement main: runs SparkEntry queries against
  * SPARK_GRAFT_SF_DIR through a noop sink, one warm-up pass then
  * SPARK_GRAFT_PASSES measured passes, and records per query the
  * warm-up time, the min of the measured passes, the jobs, stages and
  * tasks of the last measured pass and the operator census of its
  * physical plan.
  *
  * Knobs (environment): SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_ONLY (comma-separated subset), SPARK_GRAFT_PASSES,
  * SPARK_GRAFT_WRITE_SELF, SPARK_GRAFT_EXPLAIN (=1 prints each
  * formatted plan).
  *
  * Printed after spark.stop(): one JSON line per query, then the
  * SHORT summary line — total, mode, floors, sf — LAST, with NO
  * per-query map: consumers keep a bounded log tail, and a >3 KB line
  * with 111 per-query entries was truncated mid-JSON three rounds
  * running (BENCH_r03..r05 all "parsed": null). The per-query min map
  * goes to BENCH_SELF.json / BENCH_LAST.json instead.
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  /** One query's record; -1 marks what failed (a run, or the plan). */
  final case class Record(query: String, firstS: Double, minS: Double,
      jobs: Long, stages: Long, tasks: Long,
      exchanges: Int, sorts: Int, windows: Int, aggregates: Int) {
    def json: String =
      s"""{"query":"$query","first_s":${ms(firstS)},"min_s":${ms(minS)},""" +
        s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
        s""""exchanges":$exchanges,"sorts":$sorts,"windows":$windows,"aggregates":$aggregates}"""
  }

  /** A record per query plus the floor probes bracketing the passes. */
  final case class Measured(records: Seq[Record], floor: Double, floorSamples: Seq[Double])

  /** 3 decimals, no sci-notation, locale-proof; -1 for a failure. */
  def ms(v: Double): String =
    if (v < 0) "-1"
    else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Completed jobs, stages and tasks per job group. */
  private[graft] final class JobCounts extends SparkListener {
    private val stageGroup = new ConcurrentHashMap[Int, String]()
    private val byGroup = new ConcurrentHashMap[String, AtomicLongArray]()
    private def bump(group: String, i: Int): Unit =
      byGroup.computeIfAbsent(group, _ => new AtomicLongArray(3)).incrementAndGet(i)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach { g => bump(g, 0); e.stageIds.foreach(stageGroup.put(_, g)) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageGroup.get(e.stageInfo.stageId)).foreach(bump(_, 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageGroup.get(e.stageId)).foreach(bump(_, 2))
    def of(group: String): (Long, Long, Long) =
      Option(byGroup.get(group)).map(c => (c.get(0), c.get(1), c.get(2))).getOrElse((0L, 0L, 0L))
  }

  /** Per-STAGE floor probe: one session-width exchange (the measured
    * shuffle-partitions dial — e.g. 9 tasks at sf0.1) over near-zero
    * data — what every groupBy/join stage pays in task scheduling
    * before touching a row. Because the probe rides the same dial as
    * the queries, the acceptance threshold in tools/bench_pair.sh
    * must be calibrated to the dialed width. Min-of-5.
    */
  private def stageFloorProbe(spark: SparkSession): Double = (1 to 5).map { _ =>
    import org.apache.spark.sql.functions.col
    val t0 = System.nanoTime()
    spark.range(1000).toDF("x").repartition(col("x"))
      .groupBy((col("x") % 7).as("k")).count()
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }.min

  /** Exchange, Sort, Window and Aggregate nodes of the query's
    * non-adaptive physical plan (nothing is executed); -1 each if the
    * plan does not build.
    */
  private def census(spark: SparkSession, sfDir: String, name: String, fn: Query,
      explain: Boolean): (Int, Int, Int, Int) = try {
    val qe = fn(spark, sfDir).queryExecution
    if (explain) {
      println(s"==== $name ====")
      println(qe.explainString(FormattedMode))
    }
    var ex = 0; var so = 0; var wi = 0; var ag = 0
    qe.executedPlan.foreach {
      case _: ShuffleExchangeExec => ex += 1
      case _: SortExec => so += 1
      case _: WindowExec => wi += 1
      case _: BaseAggregateExec => ag += 1
      case _ => ()
    }
    (ex, so, wi, ag)
  } catch { case e: Throwable =>
    System.err.println(s"[bench] $name plan FAILED: ${e.getMessage}")
    (-1, -1, -1, -1)
  }

  /** The harness core. Force FULL evaluation: count() lets Catalyst
    * prune every computed column and eliminate sorts, so the noop
    * sink consumes every column of every row. One warm-up pass (JIT,
    * codegen caches, parquet footers, eager artifact builds — its
    * time is `first_s`), then `nPasses` measured passes; `min_s` is
    * the per-query MIN of the successful measured passes, which
    * discards one-off host stalls (GC pause, competing process,
    * page-cache miss) — the standard noise-robust point estimate for
    * a deterministic workload. Failures read -1, never a fake timing.
    *
    * The stage-floor probe is sampled BEFORE pass 1, BETWEEN passes
    * and AFTER the last pass: the r10 lesson is that an end-only
    * floor can read quiet after an external load burst inflated the
    * passes mid-run, so the WORST bracket sample is the gate value.
    *
    * Each run carries the job group `<pass>:<query>`, set before and
    * cleared after its timed window; the listener bus is drained
    * before the counts of the last pass are read.
    */
  def measure(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)],
      nPasses: Int, explain: Boolean = false): Measured = {
    val sc = spark.sparkContext
    val counts = new JobCounts
    sc.addSparkListener(counts)
    try {
      def timed(pass: Int, name: String, fn: Query): Double = {
        sc.setJobGroup(s"$pass:$name", name, interruptOnCancel = false)
        try {
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          val what = if (pass == 0) s"warmup $name failed" else s"$name FAILED"
          System.err.println(s"[bench] $what: ${e.getMessage}")
          -1.0
        } finally sc.clearJobGroup()
      }
      val first = queries.map { case (name, fn) => timed(0, name, fn) }
      val floorSamples = scala.collection.mutable.ArrayBuffer(stageFloorProbe(spark))
      val passes = (1 to nPasses).map { p =>
        val t = queries.map { case (name, fn) => timed(p, name, fn) }
        floorSamples += stageFloorProbe(spark)
        t
      }
      // Fixed-cost floor: the noop-sink write over a one-row plan —
      // planning + job scheduling + sink cost, zero data; min-of-5.
      val floor = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        spark.range(1).toDF("x").write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      GraftShim.drainListeners(sc)
      // AQE's executedPlan is an empty AdaptiveSparkPlanExec shell
      // until execution: census the non-adaptive plan (AQE is already
      // off unless SPARK_GRAFT_CONF turns it on)
      val aqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val records = try queries.zipWithIndex.map { case ((name, fn), i) =>
        val ok = passes.map(_(i)).filter(_ >= 0)
        val (jobs, stages, tasks) = counts.of(s"$nPasses:$name")
        val (ex, so, wi, ag) = census(spark, sfDir, name, fn, explain)
        Record(name, first(i), if (ok.isEmpty) -1.0 else ok.min,
          jobs, stages, tasks, ex, so, wi, ag)
      } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
      Measured(records, floor, floorSamples.toSeq)
    } finally sc.removeSparkListener(counts)
  }

  /** The printed summary line. The gate floor is the WORST bracketing
    * stage-floor sample; the total sums only successes — the -1
    * sentinels are failure markers, not timings.
    */
  def summaryLine(minS: Seq[Double], nPasses: Int, floor: Double, floorSamples: Seq[Double],
      selfPath: String, sfDir: String, only: Option[Set[String]]): String = {
    val total = minS.filter(_ >= 0).sum
    val nOk = minS.count(_ >= 0)
    val dataValue = math.max(0.0, total - floor * nOk)
    s"""{"metric":"total","value":${ms(total)},"unit":"sec",""" +
      s""""mode":"steady-state: min of $nPasses passes, corpus artifacts cached",""" +
      s""""n_queries":${minS.size},"n_ok":$nOk,""" +
      s""""floor_per_query_sec":${ms(floor)},""" +
      s""""floor_per_stage_sec":${ms(floorSamples.max)},""" +
      s""""floor_stage_samples":[${floorSamples.map(ms).mkString(",")}],""" +
      s""""floor_per_stage_min_sec":${ms(floorSamples.min)},""" +
      s""""floor_total_sec":${ms(floor * nOk)},""" +
      s""""value_minus_floor":${ms(dataValue)},""" +
      s""""per_query":"$selfPath","sf":"$sfDir"${only.map(f => ",\"only\":\"" + f.toSeq.sorted.mkString(",") + "\"").getOrElse("")}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_ONLY: a subset for local A/B iteration on a single
    // operator. Never set by the pair tooling or a suite run — a
    // subset total is meaningless as a suite figure, so the summary
    // records the filter when active.
    val onlyFilter = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = onlyFilter match {
      case Some(keep) =>
        val missing = keep -- SparkEntry.queries.keySet
        require(missing.isEmpty, s"SPARK_GRAFT_ONLY names unknown queries: $missing")
        SparkEntry.queries.view.filterKeys(keep).toMap
      case None => SparkEntry.queries
    }
    // min-of-3 by default: the per-stage scheduling floor swings ~4×
    // with host load, and a third pass measurably tightens the total.
    // [1-9]: "0" is rejected, ≤3 digits keeps toInt overflow-free.
    val passesRaw = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3")
    require(passesRaw.matches("[1-9]\\d{0,2}"),
      s"SPARK_GRAFT_PASSES must be a positive integer (1-999), got '$passesRaw'")
    val nPasses = passesRaw.toInt
    val spark = GraftSession.local(GraftSession.defaultCpus, Some(sfDir))
    spark.sparkContext.setLogLevel("WARN")
    val m = measure(spark, sfDir, selected.toSeq, nPasses,
      explain = sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1"))
    // BENCH_SELF.json is one third of the committed (BENCH_SELF,
    // BASELINE_DUCKDB, BASELINE.md) triple and is only replaced under
    // tools/bench_pair.sh, which sets SPARK_GRAFT_WRITE_SELF=1 and
    // regenerates BASELINE.md in the same step — ANY other writer
    // desyncs the triple. Every other run writes BENCH_LAST.json, the
    // per-query inspection record. Both resolve against the working
    // directory.
    val selfPath =
      if (sys.env.get("SPARK_GRAFT_WRITE_SELF").contains("1")) "BENCH_SELF.json"
      else "BENCH_LAST.json"
    val summary = summaryLine(m.records.map(_.minS), nPasses, m.floor, m.floorSamples,
      selfPath, sfDir, onlyFilter)
    val qs = m.records.map(r => "\"" + r.query + "\":" + ms(r.minS)).mkString("{", ",", "}")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(selfPath), summary.dropRight(1) + s""","queries":$qs}""" + "\n")
    catch { case e: Throwable =>
      // keep going (the printed summary is still valid) but say so:
      // tools/bench_pair.sh refuses a BENCH_SELF.json older than its run
      System.err.println(s"[bench] $selfPath write failed: ${e.getMessage}")
    }
    spark.stop()
    m.records.foreach(r => println(r.json))
    println(summary)
  }
}
