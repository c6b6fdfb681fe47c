package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants: SparkEntry is what the round driver
  * consumes; silent breakage here zeroes the correctness gate.
  */
class ContractSpec extends AnyFunSuite {

  test("measured shuffle-width dial: clamps, growth, fragment, missing dir") {
    // sf0.001 is well under 2 MB -> floor of 4; sf0.1 (~17.5 MB) sits
    // on the measured optimum's neighborhood (~9); both grow strictly
    // with the dir so the dial is data-driven, not a bench constant
    val tiny = GraftSession.measuredShuffleParts("/root/testdata/sf0.001", 32)
    val mid = GraftSession.measuredShuffleParts("/root/testdata/sf0.1", 32)
    assert(tiny.contains(4), s"tiny dir must clamp to the floor, got $tiny")
    assert(mid.exists(p => p > 4 && p <= 16), s"sf0.1 expected ~9, got $mid")
    // source-parameter fragments ride the dir string (Params) and must
    // not break the file walk
    assert(GraftSession.measuredShuffleParts(
      "/root/testdata/sf0.001#yf=1996&yt=1998", 32) == tiny)
    // a missing dir is None (fall back to the builder default), never
    // a throw at session construction; an EMPTY dir (zero bytes) too
    assert(GraftSession.measuredShuffleParts("/no/such/dir", 32).isEmpty)
    val emptyDir = java.nio.file.Files.createTempDirectory("graft-dial-empty")
    try assert(GraftSession.measuredShuffleParts(emptyDir.toString, 32).isEmpty)
    finally java.nio.file.Files.deleteIfExists(emptyDir)
    // the cap scales with cores and survives degenerate cpu counts
    val tmp = java.nio.file.Files.createTempDirectory("graft-dial")
    val f = new java.io.RandomAccessFile(tmp.resolve("big.bin").toFile, "rw")
    try f.setLength(200L << 20) finally f.close() // sparse 200 MB
    try {
      // cap = cpus (r14 A/B, ABWIDTH_SF1.md): width past the core
      // count is pure per-task overhead on a single JVM
      assert(GraftSession.measuredShuffleParts(tmp.toString, 2).contains(4),
        "200 MB at cpus=2 must hit the core-count cap (floored at 4)")
      assert(GraftSession.measuredShuffleParts(tmp.toString, 8).contains(8),
        "200 MB at cpus=8 must hit the core-count cap")
      assert(GraftSession.measuredShuffleParts(tmp.toString, 0).contains(4),
        "cap must never fall below the floor of 4")
    } finally {
      java.nio.file.Files.deleteIfExists(tmp.resolve("big.bin"))
      java.nio.file.Files.deleteIfExists(tmp)
    }
  }

  test("a SPARK_GRAFT_CPUS that is not a positive integer fails fast and names itself") {
    for (bad <- Seq("abc", "0", "-2", "+4", "", "4.5", "99999999999")) {
      val e = intercept[IllegalArgumentException](GraftSession.builder(bad))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(s"'$bad'"), e)
    }
    GraftSession.builder("4") // builds no session
  }

  test("local sessions and their newSession() run tasks without artifact isolation") {
    // a Dataset job: its tasks run inside a SQL execution, the scope in
    // which Spark applies a session's isolated artifact class loader
    def taskLoaders(s: org.apache.spark.sql.SparkSession): Set[String] = {
      import s.implicits._
      s.range(0, 8, 1, 4)
        .map((_: java.lang.Long) => Thread.currentThread.getContextClassLoader.getClass.getName)
        .collect().toSet
    }
    for (s <- Seq(TestSpark.spark, TestSpark.spark.newSession())) {
      val loaders = taskLoaders(s)
      assert(loaders.nonEmpty &&
        !loaders.contains("org.apache.spark.executor.ExecutorClassLoader"), loaders)
      assert(s.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    }
  }

  test("measured relayout-width dial: core-count floor, growth, cap") {
    // floor = clamp(cores, 8, 256): below ~2 MB/file, scan-stage
    // parallelism EQUALS the file count (row-group granularity), and
    // the scan stages carry the compute-dense work — adopted on
    // posture after the r11 paired A/B measured floor-8 vs floor-32
    // indistinguishable at sf0.1 (see splitFilesFor's scaladoc)
    assert(Tables.splitFilesFor(0L, 32) == 32)
    assert(Tables.splitFilesFor(600L << 10, 32) == 32) // sf0.1 documents
    assert(Tables.splitFilesFor(11L << 20, 32) == 32) // sf0.1 lineitem
    assert(Tables.splitFilesFor(0L, 4) == 8) // test JVM keeps floor 8
    // growth is data-driven past the floor (~2 MB of source per file)
    assert(Tables.splitFilesFor(100L << 20, 32) == 50)
    assert(Tables.splitFilesFor(100L << 20, 4) == 50)
    // the cap bounds the LOCAL tmp relayout only; past ~512 MB per
    // table local[N] is not the design point
    assert(Tables.splitFilesFor(10L << 30, 32) == 256)
    // degenerate core counts never break the clamp ordering
    assert(Tables.splitFilesFor(64L << 20, 0) == 32)
    assert(Tables.splitFilesFor(1L << 20, 1000) == 256) // cores > cap
    assert(Tables.splitFilesFor(1L << 20, Int.MinValue) == 8)
    // monotone in bytes (a bigger source never gets fewer files)
    val pts = Seq(0L, 1L << 20, 16L << 20, 128L << 20, 1L << 30, 8L << 30)
    pts.zip(pts.tail).foreach { case (a, b) =>
      assert(Tables.splitFilesFor(a, 32) <= Tables.splitFilesFor(b, 32)) }
  }

  test("BASELINE.md is byte-derived from the committed pair artifacts") {
    // The r10 failure mode: an end-of-round snapshot replaced
    // BENCH_SELF.json + BASELINE_DUCKDB.json but left BASELINE.md
    // narrating the overwritten pair. This guard recomputes the
    // headline numbers make_baseline.py derives from the artifacts
    // and fails the build when the committed triple is inconsistent
    // (or when the committed pair violates the 0.20 floor gate).
    import com.fasterxml.jackson.databind.ObjectMapper
    import scala.jdk.CollectionConverters._
    def queriesOf(path: String): Map[String, Double] = {
      val node = new ObjectMapper().readTree(new java.io.File(path))
      node.get("queries").fields().asScala
        .map(e => e.getKey -> e.getValue.asDouble()).toMap
    }
    val sq = queriesOf("BENCH_SELF.json")
    val dq = queriesOf("BASELINE_DUCKDB.json")
    assert(sq.values.forall(_ >= 0), "Spark side has failed queries")
    val md = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("BASELINE.md")), "UTF-8")
    val common = sq.keySet.intersect(dq.keySet)
    val (sTot, dTot) = (common.toSeq.map(sq).sum, common.toSeq.map(dq).sum)
    val heavy = common.filter(dq(_) >= 0.5)
    val floor = new ObjectMapper().readTree(new java.io.File("BENCH_SELF.json"))
      .get("floor_per_stage_sec").asDouble()
    assert(floor <= 0.20, s"committed pair floor $floor above the 0.20 gate")
    def num(re: String, g: Int): Double = {
      val m = re.r.findFirstMatchIn(md)
      assert(m.isDefined, s"BASELINE.md missing pattern: $re")
      m.get.group(g).toDouble
    }
    // tolerances are one printed ulp (md shows %.1f / %.3f); counts exact
    assert(math.abs(num("""floor_per_stage_sec \*\*([0-9.]+)\*\*""", 1) - floor) <= 5e-4,
      "BASELINE.md floor differs from BENCH_SELF.json")
    val totRe = """\| total, all (\d+) oracled queries \| ([0-9.]+) s \| ([0-9.]+) s"""
    assert(num(totRe, 1).toInt == common.size,
      "BASELINE.md query inventory differs from the artifacts")
    assert(math.abs(num(totRe, 2) - dTot) <= 0.06, "BASELINE.md DuckDB total drifted")
    assert(math.abs(num(totRe, 3) - sTot) <= 0.06, "BASELINE.md Spark total drifted")
    val heavyRe = """\| (\d+) data-heavy queries [^|]*\| ([0-9.]+) s \| ([0-9.]+) s"""
    assert(num(heavyRe, 1).toInt == heavy.size,
      "BASELINE.md data-heavy inventory differs from the artifacts")
    assert(math.abs(num(heavyRe, 2) - heavy.toSeq.map(dq).sum) <= 0.06)
    assert(math.abs(num(heavyRe, 3) - heavy.toSeq.map(sq).sum) <= 0.06)
  }

  test("query names are unique (Map must not drop any)") {
    val names = SparkEntry.allQueries.map(_.name)
    assert(names.distinct.size == names.size,
      names.diff(names.distinct).mkString("duplicates: ", ",", ""))
    assert(SparkEntry.queries.size == names.size)
  }

  test("every oracle belongs to a query and is non-empty SQL") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    SparkEntry.oracleSql.values.foreach(sql =>
      assert(sql.trim.toUpperCase.startsWith("SELECT") ||
        sql.trim.toUpperCase.startsWith("WITH")))
  }

  test("inventory size matches SURVEY status (144 ops, 143 oracles)") {
    assert(SparkEntry.allQueries.size == 144)
    assert(SparkEntry.oracleSql.size == 143)
    // the single rows-checked survivor is the engine-specific HLL /
    // quantile sketch pair (its KMV twin q27 IS oracle-checked)
    assert(SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet)
      == Set("q20_sketches"))
  }

  // -- pipeline input-manifest precheck (run_pipeline.py:37-60) --

  test("pipeline precheck passes on a complete input drop") {
    assert(Pipeline.missingInputs(TestSpark.sf).isEmpty)
  }

  test("pipeline precheck reports the COMPLETE missing-file list") {
    val missing = Pipeline.missingInputs("/nonexistent-drop")
    assert(missing.size == Pipeline.requiredInputs.size)
    // every report line names the file, its role, and the failure
    Pipeline.requiredInputs.foreach { case (f, desc) =>
      assert(missing.exists(m => m.contains(f) && m.contains(desc) &&
        m.endsWith("missing")), s"no report for $f")
    }
  }

  test("pipeline precheck flags a truncated (zero-byte) input") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-precheck").toString
    try {
      Pipeline.requiredInputs.foreach { case (f, _) =>
        Files.createFile(Paths.get(dir, f))
      }
      // all present but empty: every file is flagged as truncated
      val flagged = Pipeline.missingInputs(dir)
      assert(flagged.size == Pipeline.requiredInputs.size)
      assert(flagged.forall(_.endsWith("empty file")))
      // one real byte clears that file's flag
      Files.write(Paths.get(dir, Pipeline.requiredInputs.head._1), Array[Byte](1))
      assert(Pipeline.missingInputs(dir).size == Pipeline.requiredInputs.size - 1)
    } finally {
      Files.list(Paths.get(dir)).forEach(p => Files.deleteIfExists(p))
      Files.deleteIfExists(Paths.get(dir))
    }
  }
}
