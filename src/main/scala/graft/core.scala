package graft

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, StringType}

/** One engine operator: a Spark plan plus (when SQL-expressible) a
  * DuckDB oracle query over the same parquet tables. The driver's
  * correctness gate sorts columns by name and hash-compares values,
  * so Spark aliases and SQL aliases must match exactly.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String]
)

/** One place to build a correctly-configured session: every main
  * (Verify/Bench/Pipeline/Report) and the test harness go through
  * here, so session-scoped settings live in exactly one spot instead
  * of being mutated as side effects inside table loaders.
  */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder = {
    // Pin the JVM default locale before anything formats a number:
    // the f"" interpolator is String.format under the DEFAULT
    // locale, so on a decimal-comma host (es_PE — the observatory's
    // own locale) every rendered report/SVG coordinate would emit
    // '4,7' instead of '4.7' — breaking the golden-file line parity
    // and producing invalid polyline points. Dashboard.fmtUsd pins
    // Locale.ROOT per-call; this pins the remaining f""-interpolated
    // surfaces for every main and the test harness (which all build
    // sessions here).
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // managed tables (bucketed layouts) land in tmp, not the repo
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores TIMESTAMP(NANOS), which the vectorized
      // reader rejects; read nanos as long and truncate in the plan
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // NOTE (measured, r3): spark.sql.adaptive.coalescePartitions.
      // parallelismFirst=false + a 64m advisory size — the tuning
      // guide's CLUSTER recommendation — benches 8% SLOWER here
      // (87.6s vs 81.3s at sf0.1/local[32]): the data-heavy dedup
      // self-joins want all 32 threads more than the tiny stages want
      // fewer tasks. Keep the default (parallelism-first) locally;
      // flip it on a real cluster where executor count ≫ partition
      // sizing.
      // NOTE (measured, r7): retested with SMALL advisory sizes (4m,
      // 16m) to rule out the 64m-over-coalescing confound — still
      // 12-14% slower than the defaults (66.6/67.6 vs 59.1 s at
      // matched ~0.29 s/stage host floors). At that point AQE fully
      // OFF was ~20% slower (75.8 vs 63.4).
      // NOTE (measured, r8): the AQE trade INVERTED once the heavy
      // derivations (minhash pairs, vocab/KMV postings, ANN indexes)
      // became cached artifacts: the suite is then ~122 floor-bound
      // queries, and AQE's per-exchange job boundary is the floor
      // itself (0.26-0.28 s/stage with AQE vs 0.127 without; totals
      // 55.8-60.8 vs 46.2 s on the same host windows). AQE is
      // therefore OFF for these LOCAL single-JVM sessions, where the
      // partition counts are already statically tuned and there is no
      // skew/size uncertainty for AQE to re-plan around. A CLUSTER
      // deployment should leave AQE ON (skew splits and size-based
      // join selection matter again at 100 TB) — that path configures
      // its own session (spark.sql.extensions=graft.GraftExtensions)
      // and never goes through GraftSession.local; SPARK_GRAFT_CONF
      // re-enables it here for A/Bs in one env var.
      .config("spark.sql.adaptive.enabled", "false")
      // NOTE (measured, r9): the static planner re-shuffles a
      // SinglePartition child of a distribution-requiring operator
      // once the ESTIMATED size crosses this bound (default 128m).
      // The estimator multiplies join children sizes, so an unrolled
      // iterative plan (pagerank's five edges⋈rank⋈nodes rounds, the
      // triangle wedge closure) over-estimates exponentially in
      // depth: a 5-row probe graph estimated >128m by iteration 4 and
      // the 500-node test graph crossed 1 TERABYTE by iteration 2 —
      // the growth is unbounded (sizeInBytes is BigInt), so ANY
      // finite trip-wire eventually re-shuffles a measured-tiny frame
      // to 32 partitions (the r8 graph regression: pagerank
      // 1.04→1.90 s). The only SinglePartition frames that feed
      // distribution-requiring operators here are the measured-bound
      // graph-index frames (Similarity.graphParts caps their TRUE
      // size at ~6 MB), so the trip-wire is disabled for LOCAL
      // sessions — the measured partition sizing IS the guard, and
      // PlanSpec's SinglePartition-under-clustering sweep pins that
      // inventory over every query (a new operator acquiring the
      // shape fails the sweep and must be audited); cluster sessions
      // keep the default, and their graph frames never plan
      // SinglePartition because graphParts grows the partition count
      // with the measured row count.
      .config("spark.sql.maxSinglePartitionBytes", Long.MaxValue.toString)
      .config("spark.ui.enabled", "false")
  }

  /** Dev A/B hook: SPARK_GRAFT_CONF="k=v;k=v" lands as session confs
    * LAST (overriding the defaults above) so config experiments — AQE
    * on/off, shuffle compression, partition counts — are one env var
    * instead of a recompile. Unset in production/driver runs: the
    * defaults are the tuned configuration.
    */
  private def withOverrides(b: SparkSession.Builder): SparkSession.Builder = {
    sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(';')).map(_.trim).filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        b.config(k, v)
      }
    b
  }

  /** Measured shuffle-width dial: size `spark.sql.shuffle.partitions`
    * to the DATA, not the core count. Post-shuffle width is the wrong
    * place to buy parallelism on this suite — the compute-dense work
    * (tokenize/regex/hash/decode) runs in SCAN stages whose width
    * comes from file splits (`Tables.splitFilesFor`, itself a
    * measured dial since r10);
    * what crosses a shuffle is aggregated/reduced data, tiny relative
    * to cores at bench SFs, so a 32-wide reduce stage is 32 tasks of
    * pure scheduling. This is the static-planner analog of the AQE
    * partition coalescing the CLUSTER path gets at runtime (AQE is ON
    * there — see the adaptive.enabled note above; this dial only
    * touches GraftSession.local sessions and an explicit
    * SPARK_GRAFT_CONF override still wins, applied last).
    * Measured (r10, same host, sf0.1, 2-pass): 59.0 s at 32 parts vs
    * 44.9 s at 8 on a LOUDER window; probe floor 0.207 → 0.156
    * s/stage; only dedup_simhash (+0.06 s) regressed. Constants:
    * ~2 MB of compressed source per reduce partition (≈ 10-20 MB
    * in-flight) lands sf0.1 at 9 — the measured optimum's
    * neighborhood — and GROWS linearly with the dir UP TO THE CORE
    * COUNT. Floor 4 keeps partition-crossing semantics exercised at
    * test SFs.
    *
    * Cap = cpus, NOT 32·cpus (measured, r14): on a single JVM only
    * `cpus` reduce tasks ever run at once — width beyond the core
    * count buys zero parallelism. The uncapped dial gave sf1
    * (220 MB) 110-wide reduces and was the entire "super-linear
    * growth" of the posting-join family: at sf1 dedup_incremental
    * 7.20→1.60 s, llm_containment 5.91→1.37 s, llm_decontaminate
    * 4.62→1.10 s just by dialing 110→32, reproduced interleaved
    * (ABWIDTH_SF1.md). All three now beat their DuckDB twins at sf1.
    * The penalty is NOT linear in task count (256-wide ran 1.4-2.0 s,
    * AQE-on 3.1-4.3 s) — same SMJ plan at every width, so it is a
    * per-task constant regime, not a strategy flip; the cap dodges
    * the whole regime. Per-partition data at the cap stays modest
    * for any dir a local session should serve (sf10 ≈ 2.2 GB →
    * ~70 MB/partition); a CLUSTER session never takes this path and
    * sizes by executor count with AQE coalescing ON.
    */
  private[graft] def measuredShuffleParts(dir: String, cpus: Int): Option[Int] = try {
    val root = java.nio.file.Paths.get(dir.takeWhile(_ != '#'))
    if (!java.nio.file.Files.isDirectory(root)) None
    else {
      var bytes = 0L
      val stream = java.nio.file.Files.walk(root)
      try stream.forEach { p =>
        if (java.nio.file.Files.isRegularFile(p))
          bytes += java.nio.file.Files.size(p)
      } finally stream.close()
      if (bytes <= 0L) None
      else {
        // long math end-to-end: a petabyte-scale dir divided down
        // still exceeds Int range, and a degenerate cpus value must
        // not push the cap below the floor of 4. The cap also bounds
        // the result into Int range before toInt.
        val cap = math.min(math.max(4L, math.max(cpus, 0).toLong),
          Int.MaxValue.toLong)
        Some(math.min(math.max(Tables.ceilDiv2MB(bytes), 4L), cap).toInt)
      }
    }
  } catch {
    // an imperfect dir (unreadable subdir, file deleted mid-walk,
    // invalid path chars) must degrade to the builder default, never
    // fail session construction
    case _: Exception => None
  }

  /** SPARK_GRAFT_CPUS, read here only: the `local[n]` width every main
    * passes to [[local]]. Unset, one thread per core — a wider default
    * oversubscribes the host.
    */
  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** `dataDir`: the data directory the session will serve, for the
    * measured shuffle-width dial — mains that take the dir as an
    * argument (Verify) pass it; the rest inherit SPARK_GRAFT_SF_DIR.
    */
  def local(cpus: String, dataDir: Option[String] = None): SparkSession = {
    val b = builder(cpus)
    for {
      dir <- dataDir.orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      parts <- measuredShuffleParts(dir, cpus.toIntOption.getOrElse(32))
    } b.config("spark.sql.shuffle.partitions", parts.toString)
    val s = withOverrides(b).getOrCreate()
    // WindowExec warns "No Partition Defined ... all the data to a
    // single partition" on EVERY unpartitioned window. All such sites
    // in this engine run over bounded aggregates (year×month series,
    // per-category pivots, bucket totals — the aggregate-then-window
    // shape; audited per-site, see r6 VERDICT "What's wrong"), where
    // a single partition IS the scale-correct plan. The blanket
    // warning is noise in the bench/verify log tail the driver
    // parses, so it is silenced at the logger, not by decorating the
    // eleven call sites with dummy partition keys (a foldable
    // partitionBy is optimized away again anyway). PlanSpec still
    // guards that no UNBOUNDED frame ever windows raw fact rows.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // the engine's custom surface (TopKPerKey strategy, the set-op
    // flag-aggregate rule, SQL-exposed native expressions) is part of
    // every session, not an opt-in: cluster deployments get it via
    // --conf spark.sql.extensions=graft.GraftExtensions
    GraftExtensions.install(s)
    s
  }
}

/** Dashboard-style source parameters — the engine analog of the
  * reference UI's filter widgets (app.py:165 year-range slider,
  * app.py:175-177 flow checkboxes, category multiselect in
  * render_category_analysis). Encoded as a fragment on the table-dir
  * string (`dir#yf=1996&yt=1998&flow=export&cat=...`) so the
  * parameterization rides the existing `(SparkSession, dir)` operator
  * signature: every oracle-checked operator runs UNCHANGED against
  * the filtered source, PlanCache keys (keyed on the full dir string)
  * never mix filtered and unfiltered artifacts, and the predicates
  * sit directly above the parquet scans where Catalyst pushes them
  * into the reader (PushedFilters — asserted by DashboardSpec).
  *
  * Mapping onto the trade analog: years filter `o_orderdate` /
  * `l_shipdate` as date RANGES (pushable; `year(col)` would not be),
  * flows filter `o_orderstatus` ('F'→export) and `l_linestatus`
  * ('F'→export, 'O'→import), categories filter `part.p_type` and
  * restrict lineitem rows through the existing inner join.
  */
final case class TradeParams(
    yearFrom: Option[Int] = None,
    yearTo: Option[Int] = None,
    flows: Option[Set[String]] = None,      // subset of {export, import}
    categories: Option[Seq[String]] = None,
    nTop: Option[Int] = None,               // app.py:437-445 top-N dial
    // render dials, not source filters: app.py:178-183 view_type
    // selectbox ("Valores Absolutos" / "Índices (2005=100)" /
    // "Variaciones %") and app.py:474-480 analysis_type selectbox
    // (Exportaciones / Importaciones / Balance / Cobertura). They
    // switch WHICH oracle-checked series the bundle renders — they
    // never filter rows, so apply() deliberately leaves them OFF the
    // dir fragment (a render dial must not mint a new source-fixture
    // identity: a view-only fragment would publish a duplicate
    // POSITIVE-src_n etl fixture the oracle's glob would read twice)
    viewType: Option[String] = None,        // abs | idx | pct
    analysisType: Option[String] = None) {  // export | import | balance | coverage
  // fail fast on an unknown flow name: flowFilter would otherwise
  // reduce to lit(false) and every dashboard panel would silently
  // render empty ("sin datos") on a CLI typo like `Export`
  flows.foreach(f => require(f.nonEmpty && f.subsetOf(TradeParams.knownFlows),
    s"unknown flow(s) ${f.diff(TradeParams.knownFlows).mkString(",")} — " +
      s"expected a non-empty subset of ${TradeParams.knownFlows.mkString(",")}"))
  // the reference dial is a 5..50 number_input; engine-side only
  // positivity is semantic (top-0 would blank every category panel
  // under a silent default)
  nTop.foreach(n => require(n >= 1, s"nTop must be >= 1, got $n"))
  // same fail-fast contract as flows: a selectbox has no typo path in
  // Streamlit, so the CLI analog must not silently fall back to abs
  viewType.foreach(v => require(TradeParams.knownViews(v),
    s"unknown view type '$v' — expected one of ${TradeParams.knownViews.toSeq.sorted.mkString(",")}"))
  analysisType.foreach(a => require(TradeParams.knownAnalyses(a),
    s"unknown analysis type '$a' — expected one of ${TradeParams.knownAnalyses.toSeq.sorted.mkString(",")}"))

  def isEmpty: Boolean =
    yearFrom.isEmpty && yearTo.isEmpty && flows.isEmpty &&
      categories.isEmpty && nTop.isEmpty &&
      viewType.isEmpty && analysisType.isEmpty

  private def enc(s: String) =
    java.net.URLEncoder.encode(s, "UTF-8")

  /** Decorate a table dir with this filter (identity when empty).
    * Render dials (viewType/analysisType) are intentionally NOT
    * encoded — see their field comment. */
  def apply(dir: String): String = {
    val kv = yearFrom.map("yf=" + _) ++ yearTo.map("yt=" + _) ++
      flows.map(f => "flow=" + f.toSeq.sorted.map(enc).mkString(",")) ++
      categories.map(c => "cat=" + c.map(enc).mkString(",")) ++
      nTop.map("ntop=" + _)
    if (kv.isEmpty) dir else dir + "#" + kv.mkString("&")
  }

  private def dateRange(c: Column): Column = {
    // upper bound is EXCLUSIVE next-year-start: the filtered columns
    // are timestamps, and `<= yyyy-12-31` (midnight) would drop a
    // non-midnight Dec 31 row that year(col) still assigns to yearTo
    val lo = yearFrom.map(y => c >= to_date(lit(f"$y%04d-01-01")))
    val hi = yearTo.map(y => c < to_date(lit(f"${y + 1}%04d-01-01")))
    (lo ++ hi).reduceOption(_ && _).getOrElse(lit(true))
  }
  private def flowFilter(c: Column, exportVal: String, importVal: Option[String]): Column =
    flows match {
      case Some(f) if f != Set("export", "import") =>
        val byFlow = Seq(
          if (f("export")) Some(c === exportVal) else None,
          if (f("import")) importVal.map(c === _).orElse(Some(c =!= exportVal))
          else None).flatten
        byFlow.reduceOption(_ || _).getOrElse(lit(false))
      case _ => lit(true)
    }

  private[graft] def onOrders(df: DataFrame): Column =
    dateRange(df("o_orderdate")) && flowFilter(df("o_orderstatus"), "F", None)
  private[graft] def onLineitem(df: DataFrame): Column =
    dateRange(df("l_shipdate")) && flowFilter(df("l_linestatus"), "F", Some("O"))
  private[graft] def onPart(df: DataFrame): Column =
    categories.map(c => df("p_type").isin(c: _*)).getOrElse(lit(true))
}

object TradeParams {
  /** The flow vocabulary the reference UI's checkboxes expose. */
  val knownFlows: Set[String] = Set("export", "import")

  /** app.py:182's three view options, as stable slugs: abs = Valores
    * Absolutos, idx = Índices (2005=100), pct = Variaciones %. */
  val knownViews: Set[String] = Set("abs", "idx", "pct")

  /** app.py:478's four analysis options, as stable slugs. */
  val knownAnalyses: Set[String] = Set("export", "import", "balance", "coverage")

  private def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")

  /** Split a possibly-decorated dir into (filesystem path, params). */
  def parseDir(dir: String): (String, TradeParams) =
    dir.split('#') match {
      case Array(path) => (path, TradeParams())
      case Array(path, frag) =>
        val kv = frag.split('&').map(_.split("=", 2)).collect {
          case Array(k, v) => k -> v
        }.toMap
        (path, TradeParams(
          kv.get("yf").map(_.toInt), kv.get("yt").map(_.toInt),
          kv.get("flow").map(_.split(',').map(dec).toSet),
          kv.get("cat").map(_.split(',').map(dec).toSeq),
          kv.get("ntop").map(_.toInt)))
      case _ => throw new IllegalArgumentException(s"bad table dir: $dir")
    }
}

/** Loaders for the driver-generated TPC-H-ish testdata.
  *
  * Reads are plain parquet scans so Catalyst pushes filters and
  * prunes columns into the scan (verify with explain: PushedFilters
  * / ReadSchema). At 100 TB these would be partitioned/bucketed
  * tables behind a catalog; the query code below only depends on
  * logical schemas, so the swap is confined to this class. `dir` may
  * carry a [[TradeParams]] fragment (`#yf=...`): the filters apply
  * directly above the affected scans.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private val (path, params) = TradeParams.parseDir(dir)

  private def t(name: String): DataFrame =
    Tables.cachedRead(spark, s"$path/$name.parquet")

  /** Fact tables: the testdata ships one single-row-group parquet
    * file per table, which Spark cannot split — every downstream
    * stage would run on ONE task. Earlier rounds restored parallelism
    * with a round-robin `repartition` after the scan, but that pays
    * one extra exchange STAGE in every fact query — at the benchmark
    * SF the per-stage scheduling floor (~0.3 s) is most of a
    * sub-second query's cost, ~100 queries deep. The honest fix is
    * the one a real deployment does at ingest: compact/relayout the
    * table ONCE into a multi-file parquet copy (Tables.splitLayout —
    * one-time per (table, content), shared across sessions via tmp).
    * Every query then runs a genuinely splittable scan with the same
    * pushdown/pruning (PlanSpec's PushedFilters/ReadSchema guards run
    * against this path) and NO repartition stage — which is exactly
    * the plan shape of a real multi-file 100 TB layout, where the
    * scan has thousands of splits and nobody repartitions after read.
    */
  private def big(name: String): DataFrame = Tables.splitLayout(spark, path, name)

  def region: DataFrame = t("region")
  def nation: DataFrame = t("nation")
  // customer rides the splittable layout like the fact tables: it
  // grows linearly with SF (150k·SF rows) AND carries compute-dense
  // per-row scan work (llm_pii_scrub's 4-regex redaction, q17's
  // string surface) — on the single-file source those scans run as
  // ONE task regardless of cores (guide §2.5 input skew: an
  // unsplittable file serializes the stage; measured 4.2 s
  // single-threaded at sf10 for llm_pii_scrub alone). nation/region
  // are constant-size geo dims and supplier (10k·SF) carries no
  // per-row compute — they stay single-file reads.
  def customer: DataFrame = big("customer")
  def supplier: DataFrame = t("supplier")
  // identity (not Filter(true)) when unparameterized, so the default
  // path's plans are bit-identical to prior rounds
  private def f(df: DataFrame, c: DataFrame => Column): DataFrame =
    if (params.isEmpty) df else df.filter(c(df))

  def part: DataFrame = f(t("part"), params.onPart)
  def orders: DataFrame = f(big("orders"), params.onOrders)
  def lineitem: DataFrame = f(big("lineitem"), params.onLineitem)

  /** events.ts has shipped in two physical encodings across driver
    * testdata generations — TIMESTAMP(NANOS) (read as long via the
    * legacy conf, floor-truncated to micros) and TIMESTAMP(MICROS)
    * (read as TIMESTAMP_NTZ) — so normalization branches on the type
    * the scan actually produced rather than assuming one generation.
    */
  def events: DataFrame = Tables.normalizeTs(big("events"))
  def documents: DataFrame = big("documents")
  def embeddings: DataFrame = big("embeddings")
}

object Tables {
  /** Normalize an events `ts` column to a microsecond TimestampType
    * regardless of the physical encoding the driver generated:
    *  - TIMESTAMP(NANOS) parquet arrives as BIGINT epoch-nanos (via
    *    spark.sql.legacy.parquet.nanosAsLong) → integer-DIV truncate
    *    to micros. DIV, not "/1000": double division loses precision
    *    at epoch-nanos magnitudes (2^60) and shifts timestamps 1 us.
    *  - TIMESTAMP(MICROS) without UTC adjustment arrives as
    *    TIMESTAMP_NTZ → cast to TimestampType, an identity wall-clock
    *    reinterpretation under the session's pinned UTC timezone —
    *    the same instants DuckDB reads, so oracle parity holds.
    */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampType => df
      case _ =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }

  /** Number of files in a converted fact-table layout: measured from
    * the SOURCE size (~2 MB of parquet per file), floored at the
    * SESSION's core count, capped at 256 — the same track-the-data
    * philosophy as GraftSession's measuredShuffleParts and
    * Similarity's graphParts. Why the floor is the core count and not
    * a constant: for sources below ~2 MB/file, scan-stage parallelism
    * EQUALS the file count (Spark's split packing cannot subdivide a
    * single parquet row group, so small files are one-task units),
    * and the scan stages are where this suite's compute-dense work
    * (tokenize/regex/hash/decode) runs. The r10 floor of 8 capped
    * exactly those stages at 8 tasks on the 32-core bench JVM — r10
    * ADVICE flagged a +19% cross-diff regression. The r11 PAIRED A/B
    * at sf0.1 (same day, same host, full suite both ways) measured
    * the two floors statistically indistinguishable (median per-query
    * delta 0.001 s; totals 51.1 s floor-8 @ stage-floor 0.299 vs
    * 52.5 s floor-32 @ 0.189 — the cross-window +19% was noise, not
    * the dial), so the core-count floor is adopted on posture, not
    * on a measured win: scan width must never sit BELOW the cores the
    * box has when file count gates parallelism, because at larger
    * inputs the compute per scan task grows and the 8-task cap would
    * become the bottleneck exactly when it hurts most. Past the floor,
    * width tracks data (~2 MB/file) so corpus-scale sources still get
    * size-proportional files; the cap bounds the LOCAL tmp layout
    * only — past ~512 MB per table, local[N] is not the design point
    * and a real deployment's ingest layout replaces this relayout
    * entirely. The width is a segment of the converted copy's root, so
    * a 4-thread test JVM and a 32-thread bench JVM keep separate
    * (correct-width) copies instead of fighting over one.
    */
  /** Ceiling-divide by the 2 MB dial constant WITHOUT the
    * `bytes + 2MB - 1` idiom, which overflows Long for byte counts
    * within 2 MB of Long.MaxValue and would silently clamp a
    * max-range input to the FLOOR instead of the cap.
    */
  private[graft] def ceilDiv2MB(bytes: Long): Long =
    bytes / (2L << 20) + (if (bytes % (2L << 20) > 0L) 1L else 0L)

  private[graft] def splitFilesFor(bytes: Long, cores: Int): Int = {
    // floor: at least 8 (partition-crossing semantics exercised even
    // on a 1-core session) and at most the cap, whatever cores says
    val floor = math.max(8L, math.min(math.max(cores, 0), 256).toLong)
    math.min(math.max(ceilDiv2MB(bytes), floor), 256L).toInt
  }

  /** Serializes every publish step in this JVM; see [[publishFixture]]. */
  private val fixtureLock = new Object

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.isDirectory(p)) {
      val children = Files.list(p)
      try children.forEach(deleteRecursively(_)) finally children.close()
    }
    Files.deleteIfExists(p)
  }

  /** Atomically publish `tmp` as `out`, yielding to a concurrent
    * publisher from ANOTHER JVM (the in-process race is already held
    * off by fixtureLock). Losing the cross-JVM race surfaces as
    * FileAlreadyExistsException on some platforms but as
    * DirectoryNotEmptyException (ENOTEMPTY) when Linux rename(2)
    * rejects moving onto an existing non-empty directory — both are
    * FileSystemException, and both mean "reuse the winner's copy"
    * ONLY if the destination actually exists; anything else (EPERM,
    * EXDEV, disk full) is a real failure and propagates.
    */
  private def publishOrYield(tmp: java.nio.file.Path, out: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    try Files.move(tmp, out, StandardCopyOption.ATOMIC_MOVE)
    catch { case e: java.nio.file.FileSystemException =>
      if (Files.exists(out)) deleteRecursively(tmp) // another JVM published first
      else throw e
    }
  }

  /** One-time ingest relayout: the single-file fact parquet rewritten
    * as a [[splitFilesFor]]-file parquet directory, published as a
    * [[publishFixture]] under `java.io.tmpdir/graft-split/w<width>`,
    * so a regenerated source can never serve a stale copy. Raw bytes
    * only — no casts, no column changes (events' nano-ts long arrives
    * as-is and is truncated in the plan, same as before) — so every
    * downstream query is byte-for-byte the same data with a
    * splittable scan. The measured width is a root segment: a dial
    * change can never serve a stale-width copy, and the older-version
    * prune never crosses widths.
    */
  private[graft] def splitLayout(spark: SparkSession, dir: String, name: String): DataFrame = {
    val src = s"$dir/$name.parquet"
    val nFiles = splitFilesFor(java.nio.file.Files.size(java.nio.file.Paths.get(src)),
      spark.sparkContext.defaultParallelism)
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-split/w$nFiles"
    cachedRead(spark, publishFixture(root, dir, s"$name.parquet") { tmp =>
      spark.read.parquet(src).repartition(nFiles)
        .write.mode("overwrite").parquet(tmp)
    })
  }

  /** Resolved-relation cache: `spark.read.parquet` re-lists the
    * directory and re-reads footers for schema on EVERY call, which
    * surfaces as a ~1-task job ahead of each query invocation —
    * pure fixed cost, ~130 queries deep per bench pass. Table
    * relations are immutable for a session's lifetime here (the
    * split/fixture layouts are content-keyed by (size, mtime), so a
    * regenerated source lands at a NEW path), which makes the
    * resolved frame safely reusable. Bounded, keyed by session so a
    * test JVM's 4-core session never serves a bench session.
    */
  private val frameCache =
    new LruCache[(SparkSession, String), DataFrame](64)
  private[graft] def cachedRead(spark: SparkSession, p: String): DataFrame =
    frameCache.getOrBuild((spark, p))(spark.read.parquet(p))

  /** The publish-or-reuse protocol for every on-disk artifact derived
    * from one source file: the relayout copies ([[splitLayout]]), the
    * Etl raw and product books, the corpus JSONL and shard fixtures.
    * Keyed by (source path, size, mtime) so a regenerated same-count
    * source can never serve a stale fixture, and concurrent first
    * writers (test JVM + bench JVM) each write a private tmp dir, one
    * winner publishes via atomic rename, losers delete their copy
    * instead of throwing FileAlreadyExistsException. `write` receives
    * the private tmp path; the returned path is the published
    * directory.
    */
  private[graft] def publishFixture(root: String, rawDir: String, srcFile: String)(
      write: String => Unit): String = {
    import java.nio.file.{Files, Paths}
    val dir = TradeParams.parseDir(rawDir)._1 // fragment stripped for the FILE lookup only
    val src = Paths.get(s"$dir/$srcFile")
    // The key carries the FULL rawDir — params fragment included —
    // because fixture CONTENT is built from the params-filtered
    // Tables view: two sessions over the same physical dir with
    // different '#yf=…' fragments must map to two fixture dirs, or
    // the first writer's book silently serves the second session's
    // differently-filtered queries (r11 ADVICE). The logical prefix
    // (everything before the size/mtime suffix) identifies "this
    // source, this filter view"; the suffix identifies its version.
    //
    // "t" leads the key: the sanitized path starts with '_' (from the
    // root slash), and Spark's file listing treats leading-underscore
    // names as hidden. The prefix must be COLLISION-PROOF under
    // sibling matching (startsWith(prefix + "_") below): sanitization
    // collapses '#', '=', '%', ' ' and '_' all to '_', so one
    // fixture's sanitized name could extend another's with "_..."
    // (srcFile 'orders.parquet' vs 'orders.parquet_v2', rawDir 'a#b'
    // vs physical dir 'a_b') and be pruned/stale-checked as a version
    // sibling of the wrong fixture (r12 ADVICE). Two guards: '@' — a
    // character the sanitizer can NEVER emit — terminates the
    // sanitized section, so prefix capture requires the sanitized
    // sections to be IDENTICAL; then a fixed-width hash of the raw
    // (rawDir, srcFile) pair disambiguates raws that sanitize
    // identically. ('@' is filename-safe and carries no meaning to
    // Spark's partition discovery, unlike '='.)
    val raw = rawDir + "/" + srcFile
    val prefix = "t" + raw.replaceAll("[^A-Za-z0-9._-]", "_") +
      "@" + f"${scala.util.hashing.MurmurHash3.stringHash(raw)}%08x"
    val myMtime = Files.getLastModifiedTime(src).toMillis
    val key = prefix + "_" + Files.size(src) + "_" + myMtime
    val out = Paths.get(root, key)

    // a sibling's key ends "_<size>_<mtimeMillis>" — parse the
    // version stamp so pruning is ORDERED, not mutual
    def siblingMtime(name: String): Long =
      name.split('_').lastOption.flatMap(_.toLongOption).getOrElse(Long.MaxValue)
    def listSibs(): List[java.nio.file.Path] = {
      import scala.jdk.CollectionConverters._
      val kids = Files.list(out.getParent)
      try kids.iterator().asScala.filter { p =>
        val name = p.getFileName.toString
        name != key && name.startsWith(prefix + "_")
      }.toList
      finally kids.close()
    }
    // Cross-JVM writers are supported (publishOrYield), so every
    // fresher-sibling check → publish → prune sequence must be
    // atomic ACROSS processes, not only under fixtureLock: two JVMs
    // interleaving list/publish could otherwise leave a stale-key
    // dir and a fresh-key dir coexisting (the oracle-glob
    // duplication the prune closes) or publish a stale snapshot
    // after a fresh one without tripping the fail-loud path (r12
    // ADVICE). fixtureLock stays OUTSIDE the file lock: OS file locks
    // are held per-process, and a second in-process thread calling
    // lock() while the first holds it throws
    // OverlappingFileLockException instead of queueing.
    def withLocks[T](body: => T): T = fixtureLock.synchronized {
      val lockCh = java.nio.channels.FileChannel.open(
        out.getParent.resolve(".graft-fixture.lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      val flock = lockCh.lock()
      try body finally { flock.release(); lockCh.close() }
    }

    if (!Files.exists(out)) {
      Files.createDirectories(out.getParent)
      val tmp = Paths.get(out.getParent.toString,
        s".tmp_${key}_${java.util.UUID.randomUUID()}")
      write(tmp.toString)
      withLocks {
        val sibs = listSibs()
        if (sibs.exists(p => siblingMtime(p.getFileName.toString) > myMtime)) {
          // the source was regenerated UNDER this writer (a fresher
          // fixture already exists): publishing-and-pruning here
          // would delete the fresh fixture and resurrect stale data
          // — the silent-stale scenario the (size, mtime) keying
          // exists to prevent. This writer's snapshot is invalid
          // either way; fail loudly instead of serving it.
          deleteRecursively(tmp)
          throw new IllegalStateException(
            s"fixture source regenerated during publish of $key — rerun")
        }
        if (Files.exists(out)) deleteRecursively(tmp) // lost the race
        else {
          publishOrYield(tmp, out)
          // Prune superseded versions of the SAME logical fixture: a
          // regenerated source (new size/mtime ⇒ new key) would
          // otherwise leave the old dir in place, and oracles that
          // GLOB the fixture root would read both — duplicating rows
          // until someone cleans by hand (r11 ADVICE). Only siblings
          // sharing this key's logical prefix AND an older-or-equal
          // version stamp are touched (the newer-stamp case failed
          // loudly above), so other sources / other params views /
          // other callers' fixtures — and any fresher publish — are
          // never at risk. A reader mid-scan of a pruned dir can only
          // exist if its source was already regenerated underneath
          // it — its world was stale either way.
          sibs.foreach(deleteRecursively(_))
        }
      }
    }
    out.toString
  }
}

/** Bounded LRU with the build OUTSIDE the monitor: a concurrent
  * first caller may duplicate the build, but no caller ever blocks on
  * another's cluster job (a racing duplicate is benign — the cached
  * values are deterministic). Keeps the `bound` most-recently-used
  * entries, evicting the eldest one at a time instead of clearing
  * wholesale (which dropped hot entries for live sessions); evicted
  * and race-losing values are released through `onEvict`.
  */
private[graft] class LruCache[K, V <: AnyRef](bound: Int = 8, onEvict: V => Unit = (_: V) => ()) {
  private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true)
  def getOrBuild(k: K)(build: => V): V = {
    m.synchronized { val hit = m.get(k); if (hit != null) return hit }
    val built = build
    m.synchronized {
      val prior = m.get(k)
      if (prior != null) { onEvict(built); prior }
      else {
        m.put(k, built)
        while (m.size() > bound) onEvict(m.remove(m.keySet().iterator().next()))
        built
      }
    }
  }
  /** Drop every entry (releasing each through onEvict). */
  def clear(): Unit = m.synchronized {
    val it = m.values().iterator()
    while (it.hasNext) { onEvict(it.next()); it.remove() }
  }
}

/** [[LruCache]] of expensive corpus-level plan artifacts (shingle
  * postings, minhash/simhash signatures, candidate pairs) —
  * deterministic per (session, dir), shared by every operator that
  * consumes them, so steady-state reruns skip the derivation stages.
  * Tests and the bench interleave at most two SF dirs, hence bound 2;
  * `onEvict` unpersists persisted frames (the default no-op suits
  * localCheckpoint frames, whose blocks are GC-freed).
  */
private[graft] final class PlanCache(bound: Int = 2, onEvict: DataFrame => Unit = _ => ())
    extends LruCache[(SparkSession, String), DataFrame](bound, onEvict) {
  PlanCache.register(this)
  def getOrBuild(spark: SparkSession, dir: String)(build: => DataFrame): DataFrame =
    getOrBuild((spark, dir))(build)
}

private[graft] object PlanCache {
  private val instances = scala.collection.mutable.ArrayBuffer.empty[PlanCache]
  private def register(c: PlanCache): Unit =
    instances.synchronized { instances += c }
  /** Test hook: empty every cache so plan-shape specs assert against
    * the FULL derivation plan, not a checkpoint scan left warm by an
    * earlier suite (a warm cache would make a no-broadcast or
    * no-cartesian guard pass vacuously).
    */
  def clearAll(): Unit =
    instances.synchronized { instances.foreach(_.clear()) }
}

/** Session-conf parsing with errors that name the offending conf —
  * a bare `.toInt` inside query planning surfaces a tuning typo as an
  * uncontextualized NumberFormatException mid-plan.
  */
private[graft] object Confs {
  private def parseNonNegative(key: String, raw: String): Long = {
    val v =
      try raw.trim.toLong
      catch { case _: NumberFormatException => throw new IllegalArgumentException(
        s"$key must be a non-negative integer, got '$raw'") }
    if (v < 0) throw new IllegalArgumentException(
      s"$key must be a non-negative integer, got '$raw'")
    v
  }
  def nonNegativeLong(spark: SparkSession, key: String, default: Long): Long =
    parseNonNegative(key, spark.conf.get(key, default.toString))
  def positiveLong(spark: SparkSession, key: String, default: Long): Long = {
    val v = nonNegativeLong(spark, key, default)
    if (v == 0) throw new IllegalArgumentException(
      s"$key must be a positive integer, got '0'")
    v
  }
  /** Raw-string variant for sites that read SQLConf directly (custom
    * strategies plan against SQLConf.get, not a SparkSession). */
  def positiveInt(key: String, raw: String): Int = {
    val v = parseNonNegative(key, raw)
    if (v == 0 || v > Int.MaxValue) throw new IllegalArgumentException(
      s"$key must be a positive 32-bit integer, got '$raw'")
    v.toInt
  }
}

/** localCheckpoint with MEASURED statistics.
  *
  * `Dataset.localCheckpoint` copies the ORIGIN plan's estimated
  * statistics onto the checkpoint's LogicalRDD — and for an index
  * artifact derived through joins (the kNN edge set, the pagerank
  * prep frames) that estimate is the join-size PRODUCT, off by six
  * orders of magnitude and growing without bound as artifacts derive
  * from artifacts (measured: the sf0.001 undirected edge set —
  * ~8 KB on disk — carried a 24 GB estimate, and one join later the
  * estimate passed Long.MaxValue). The static planner consults these
  * stats for its keep-single-partition preference (see the
  * maxSinglePartitionBytes note in GraftSession), so garbage stats
  * silently re-shuffled measured-tiny graph frames. This helper
  * replaces the copied estimate with the MEASURED row count × the
  * schema's per-row default size — the checkpoint is already
  * materialized, so the count is a scan of local blocks (or free
  * when the caller knows the cardinality). The same honest-stats
  * discipline AQE gets from runtime shuffle statistics, obtained
  * statically.
  */
private[graft] object MeasuredCkpt {
  import org.apache.spark.sql.catalyst.plans.logical.Statistics
  import org.apache.spark.sql.execution.LogicalRDD

  def apply(df: DataFrame, knownRows: Long = -1L): DataFrame = {
    val lc = df.localCheckpoint()
    lc.queryExecution.optimizedPlan match {
      case lr: LogicalRDD =>
        val n = if (knownRows >= 0L) knownRows else lc.count()
        val rowBytes = lc.schema.fields.map(_.dataType.defaultSize.toLong).sum + 8L
        val stats = Statistics(
          sizeInBytes = (BigInt(n) * rowBytes).max(1), rowCount = Some(BigInt(n)))
        val session = lc.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        org.apache.spark.sql.GraftShim.ofRows(session,
          lr.copy()(session, Some(stats), None))
      case _ => lc // non-LogicalRDD checkpoint (unexpected): keep as-is
    }
  }
}

/** Measured-bound join-side handling — the static-planner analog of
  * AQE's runtime size-based join selection, driven by a MEASURED row
  * count instead of a size estimate (checkpointed index artifacts are
  * stats-less, and the estimator's join-size products are garbage at
  * depth — see the maxSinglePartitionBytes note in GraftSession).
  * Under the bound the side is broadcast; past it the join falls back
  * to a shuffled hash join — never an OOM, never an unconditional
  * broadcast of an SF-proportional frame. The bound is conf-threaded
  * so plan guards can pin either path (0 = never broadcast).
  */
private[graft] object Joins {
  val maxBuildRowsConf = "spark.graft.join.maxBuildRows"
  val defaultMaxBuildRows: Long = 1L << 20 // ~tens of MB for narrow build rows
  def sizedBuild(df: DataFrame, measuredRows: Long): DataFrame = {
    val bound = Confs.nonNegativeLong(df.sparkSession, maxBuildRowsConf, defaultMaxBuildRows)
    if (measuredRows <= bound) org.apache.spark.sql.functions.broadcast(df)
    else df.hint("shuffle_hash")
  }
}

/** Final presentation order for RESULT frames, without a range
  * exchange.
  *
  * A trailing `orderBy` plans RangePartitioning, whose boundary
  * sampling runs as an EXTRA JOB that re-executes the final stage —
  * on a sub-second query that sampling pass plus the second exchange
  * is the single largest fixed cost (measured ~0.1-0.15 s/query at
  * the bench SF, ~100 queries deep). Every result frame in this suite
  * is bounded at the point it is sorted — an aggregate, a top-k/
  * candidate list, or a per-doc summary that is thousands of rows at
  * bench SFs — so the scale-honest plan is one round-robin merge to a
  * single partition plus a LOCAL sort: same bit-identical total order
  * the oracle compare relies on, zero sampling, one less job.
  *
  * At true 100 TB, outputs that grow with the corpus (per-doc scores,
  * dedup verdicts) would drop the total order entirely and do
  * clustered lake writes — `resultOrder` marks exactly the sites
  * where ordering is presentation contract, not operator semantics.
  * Top-k sites (`orderBy(...).limit(k)`) intentionally do NOT use
  * this: they already plan as a distributed TakeOrderedAndProject.
  */
private[graft] object Out {
  implicit final class ResultOrderOps(private val df: DataFrame) extends AnyVal {
    // NOTE (measured, r7): coalesce(1) instead of repartition(1) cuts
    // the merge exchange but COLLAPSES the last computing stage to a
    // single task (the whole post-shuffle aggregate/window runs
    // 1-threaded) — benched 22% WORSE overall (72.1 s vs 58.9 s at
    // sf0.1, regressions up to +1.1 s on q16/dedup_incremental/
    // ann_pq). The extra tiny exchange is the cheaper trade at every
    // scale; keep repartition(1).
    def resultOrder(cols: Column*): DataFrame =
      df.repartition(1).sortWithinPartitions(cols: _*)
  }
}

/** Determinism helpers for DuckDB-oracle parity.
  *
  * Plain `sum(double)` is order-dependent, and Spark's partial
  * aggregation order differs from DuckDB's — the last ulp of the
  * result would flip the driver's hash compare. Accumulating in
  * exact decimal and only then converting to double makes the
  * result bit-identical on both engines regardless of row order.
  */
object Det {
  private val Dec = DecimalType(18, 6)

  /** Exact decimal sum, surfaced as double. SQL twin: dsumSql.
    *
    * BOTH boundary casts are pinned to SHORTEST-STRING semantics —
    * the one value representation the two engines implement
    * identically (r13, found by the first sf1 crosscheck):
    *
    *  - double → DECIMAL(18,6) (per input value): Spark's native
    *    cast rounds the shortest decimal representation HALF_UP
    *    (Decimal goes through BigDecimal.valueOf → Double.toString).
    *    DuckDB's native cast instead rounds the BINARY value of a
    *    double product — for inputs with short decimal structure
    *    (sums of 2-dp prices / 1e6 land exactly on "…5" 7th-digit
    *    ties) the two rules diverge by one 6th-decimal unit. The
    *    SQL twin therefore routes through VARCHAR: DuckDB's
    *    double→VARCHAR is the same shortest round-trip
    *    representation, and its VARCHAR→DECIMAL rounds HALF_UP —
    *    verified identical to the Spark rule over 1.2M values
    *    including exact-tie and near-tie sweeps.
    *
    *  - sum DECIMAL → double (per group): Spark's compact-decimal
    *    toDouble double-rounds (long → double, then ÷ 10^scale) and
    *    is off by one ulp once sums carry > 15 significant digits
    *    (first seen at sf1 year totals ~4.7e10 with 6 decimals);
    *    DuckDB's cast is correctly rounded. Pin both through a
    *    string: decimal→string is exact on both engines, and
    *    string→double (Double.parseDouble / strtod) is correctly
    *    rounded on both. Costs one tiny string per GROUP.
    */
  def dsum(c: Column): Column =
    sum(c.cast(Dec)).cast(StringType).cast(DoubleType)
  def dsumSql(e: String): String =
    s"CAST(CAST(SUM(CAST(CAST(($e) AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)"

  // NOTE: do NOT add a DECIMAL(38,6) variant for large squares —
  // DuckDB's double→wide-decimal cast runs through a lossier path
  // than the (18,6) one and breaks last-ulp parity. Scale values
  // down (e.g. to millions) before squaring instead.

  /** Exact mean: decimal sum / count, both deterministic. */
  def davg(c: Column): Column =
    sum(c.cast(Dec)).cast(StringType).cast(DoubleType) / count(c)
  def davgSql(e: String): String =
    s"CAST(CAST(SUM(CAST(CAST(($e) AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / COUNT($e)"

  /** Pinned ROUND(e, 6), for outputs whose magnitude approaches the
    * double ulp at the 6-decimal grid: plain ROUND(double, 6) is
    * BINARY-based in DuckDB and shortest-STRING-based in Spark, and
    * at 1e9+ the 1e-6 grid is only ~4 ulps wide, so the two rules
    * disagree on a sizable fraction of values (first seen on the sf1
    * OLS forecast at ~1.5e9). Same pinning as dsum: quantize the
    * shortest string HALF_UP, surface as double through the
    * exact-string route. Width (30,6), NOT the accumulator's
    * (18,6): this wraps OUTPUTS that scale with data volume (the
    * OLS fit reaches ~1.5e9 at sf1 and would cross (18,6)'s 1e12
    * ceiling around sf1000, nulling on Spark and erroring on
    * DuckDB) — and unlike native double→wide-decimal casts (the
    * note above), the STRING route's rounding is digit-based and
    * width-independent: verified identical across both engines at
    * (30,6) over a 900k-value sweep spanning ±1e15.
    */
  def dround6(c: Column): Column =
    c.cast(DecimalType(30, 6)).cast(StringType).cast(DoubleType)
  def dround6Sql(e: String): String =
    s"CAST(CAST(CAST(CAST(($e) AS VARCHAR) AS DECIMAL(30,6)) AS VARCHAR) AS DOUBLE)"
}
