package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink coverage: csv and json round-trips, partitioned
  * parquet writes with partition pruning on read — the layout the
  * engine would use for a 100 TB fact table (partition by coarse
  * time, prune at plan time).
  */
class SourcesSpec extends AnyFunSuite with TempDirs {
  import TestSpark._
  import spark.implicits._

  private lazy val tmp = tempDir("graft-sources").toString

  test("splitLayout serves the same rows as the raw table, split across files") {
    import spark.implicits._
    val raw = spark.read.parquet(s"$sf/orders.parquet")
    val split = Tables(spark, sf).orders
    assert(split.count() == raw.count())
    // content identity (no casts, no column changes): keyed full check
    val a = raw.select($"o_orderkey", $"o_totalprice").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = split.select($"o_orderkey", $"o_totalprice").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a == b)
    // the point of the relayout: the scan has multiple input splits
    // (the raw single-row-group file cannot be split)
    assert(split.rdd.getNumPartitions > 1,
      "converted layout did not produce a splittable scan")
  }

  test("llm_ingest_jsonl materializes genuine JSON-Lines files") {
    // the oracle proves row fidelity; this pins the FORMAT — the
    // fixture must be one standalone JSON object per line with the
    // contract fields, or it isn't the interchange format it claims
    SparkEntry.queries("llm_ingest_jsonl")(spark, sf).count() // force fixture
    val dirs = java.nio.file.Files.list(
      java.nio.file.Paths.get(graft.operators.CorpusSelect.jsonlRoot))
    val fixture = try {
      import scala.jdk.CollectionConverters._
      dirs.iterator().asScala.filterNot(_.getFileName.toString.startsWith(".")).toSeq
    } finally dirs.close()
    assert(fixture.nonEmpty)
    val part = java.nio.file.Files.list(fixture.head)
    val f = try {
      import scala.jdk.CollectionConverters._
      part.iterator().asScala.find(_.getFileName.toString.endsWith(".json")).get
    } finally part.close()
    val lines = java.nio.file.Files.readAllLines(f)
    assert(!lines.isEmpty)
    import org.apache.spark.sql.functions.{col, from_json, schema_of_json}
    import spark.implicits._
    val parsed = Seq(lines.get(0)).toDF("j")
      .select(from_json(col("j"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, lang STRING, source STRING, text STRING")).as("o"))
      .select("o.*").first()
    assert(!parsed.isNullAt(0) && !parsed.isNullAt(3), s"line 0 not JSONL: ${lines.get(0).take(80)}")
  }

  test("llm_export_shards manifest conserves the corpus") {
    val rows = SparkEntry.queries("llm_export_shards")(spark, sf).collect()
    val docs = Tables(spark, sf).documents
    assert(rows.map(_.getLong(1)).sum == docs.count())
    // the checksum total is order-independent, so the manifest total
    // must equal the source-table total computed without any sharding
    val srcHash = docs.select(org.apache.spark.sql.functions.sum(
      graft.functions.RollingHash.rolling_hash(
        org.apache.spark.sql.functions.col("text")))).first().getLong(0)
    assert(rows.map(_.getLong(3)).sum == srcHash)
    // the written layout is genuinely partitioned: one directory per
    // non-empty shard
    assert(rows.length > 1, "sharded export collapsed to one shard")
  }

  test("csv round-trip preserves rows and schema") {
    val orders = Tables(spark, sf).orders
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    orders.write.mode("overwrite").option("header", "true")
      .csv(s"$tmp/orders_csv")
    val back = spark.read.option("header", "true")
      .schema("o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
      .csv(s"$tmp/orders_csv")
    assert(back.count() == orders.count())
    assert(back.agg(sum($"o_totalprice")).first().getDouble(0) > 0)
  }

  test("json round-trip preserves nested structure") {
    val docs = Tables(spark, sf).documents
      .select($"doc_id", struct($"lang", $"source", $"n_chars").as("meta"))
    docs.write.mode("overwrite").json(s"$tmp/docs_json")
    val back = spark.read.json(s"$tmp/docs_json")
    assert(back.count() == docs.count())
    assert(back.select($"meta.lang").distinct().count() == 5)
  }

  test("orc round-trip preserves rows and pushes filters to the scan") {
    val li = Tables(spark, sf).lineitem
      .select($"l_orderkey", $"l_quantity", $"l_returnflag")
    li.write.mode("overwrite").orc(s"$tmp/lineitem_orc")
    val back = spark.read.orc(s"$tmp/lineitem_orc")
    assert(back.count() == li.count())
    val filtered = back.filter($"l_returnflag" === "R")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("l_returnflag"), s"no ORC pushdown in:\n$plan")
    assert(filtered.count() ==
      li.filter($"l_returnflag" === "R").count())
  }

  test("partitioned parquet write enables partition pruning") {
    Tables(spark, sf).orders
      .withColumn("order_year", year($"o_orderdate"))
      .write.mode("overwrite").partitionBy("order_year")
      .parquet(s"$tmp/orders_by_year")
    val pruned = spark.read.parquet(s"$tmp/orders_by_year")
      .filter($"order_year" === 1997)
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(order_year"),
      "partition filter missing from scan")
    assert(pruned.count() > 0)
    // pruning actually restricted the files read
    val allYears = spark.read.parquet(s"$tmp/orders_by_year")
    assert(pruned.count() < allYears.count())
  }

  test("bucketed tables join and aggregate with ZERO shuffle exchanges") {
    // the 100 TB co-location story: both fact tables bucketed on the
    // join key at write time → SortMergeJoin reads buckets pairwise
    // and the same-key aggregation reuses the layout, so the whole
    // plan runs without a single Exchange
    // the in-memory catalog forgets tables across JVMs but their
    // warehouse dirs persist — clear them or CTAS refuses the location
    for (t <- Seq("orders_bucketed", "lineitem_bucketed")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // recursive: a stale _temporary/ subdir from a killed JVM
      // would make a flat delete fail silently
      TestSpark.deleteTree(java.nio.file.Paths.get(
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse/$t"))
    }
    Tables(spark, sf).orders.select($"o_orderkey", $"o_totalprice")
      .write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("orders_bucketed")
    Tables(spark, sf).lineitem.select($"l_orderkey", $"l_extendedprice")
      .write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("lineitem_bucketed")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // a broadcast join would DISCARD the bucket partitioning (BHJ
    // only propagates the stream side's layout under the stream
    // side's column names) and force a shuffle before the aggregate
    // — at 100 TB neither side broadcasts anyway, so test that shape
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("orders_bucketed")
        .join(spark.table("lineitem_bucketed"),
          $"o_orderkey" === $"l_orderkey")
        .groupBy($"o_orderkey")
        .agg(sum($"l_extendedprice").as("rev"))
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n$p")
      assert(j.count() > 0)
    } finally {
      restoreAqeDefault()
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("xlsx ingest parallelizes breadth-wise: one decode task per book at 64 books") {
    // the 100 TB ingest shape is a LAKE of workbooks — the binaryFile
    // scan must fan decode tasks out over files, not funnel all books
    // through one task, and the decoder must hold no per-JVM state
    // that would entangle books decoded concurrently. 64 small books,
    // each with distinct content, through the same readAllCells path
    // the etl entries use.
    val dir = tempDir("graft-books")
    (0 until 64).foreach { b =>
      val os = Files.newOutputStream(dir.resolve(f"book_$b%02d.xlsx"))
      try graft.sources.Xlsx.writeWorkbookSheets(os, Seq(
        "2005" -> Seq(Seq("hdr", s"b$b"), Seq("Enero", (b * 100 + 1).toString)),
        "Notas" -> Seq(Seq(s"libro $b"))))
      finally os.close()
    }
    val cells = graft.sources.Xlsx.readAllCells(spark, dir.toString)
    // under this session's width, the file bin-packer spreads the 64
    // books across EVERY core (bytesPerCore dominates the split size
    // here, so partitions == defaultParallelism — no single-task
    // funnel)
    val parts = cells.rdd.getNumPartitions
    val cores = spark.sparkContext.defaultParallelism
    assert(parts >= cores,
      s"64 books packed into $parts decode partitions on $cores cores")
    // and when the cluster HAS the width (openCost becomes the split
    // unit — the regime a 1000-executor cluster's parallelism puts
    // the packer in), the scan fans out to one decode task per book
    val wide = try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", (4 << 20).toString)
      graft.sources.Xlsx.readAllCells(spark, dir.toString).rdd.getNumPartitions
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert(wide == 64, s"expected one decode task per book, got $wide")
    // every book surfaced its own content (no cross-task state, no
    // book dropped by the fan-out), sheets and coordinates intact
    val got = cells.filter($"sheet" === "2005" && $"row_num" === 1 &&
        $"col_num" === 1)
      .select($"book", $"val").collect()
      .map(r => (r.getString(0).split('/').last, r.getString(1))).toSet
    val want = (0 until 64).map(b => (f"book_$b%02d.xlsx", (b * 100 + 1).toString)).toSet
    assert(got == want, s"per-book decode diverged: missing=${(want -- got).take(3)}")
    assert(cells.filter($"sheet" === "Notas").count() == 64)
  }

  test("publishFixture prunes only OLDER versions and fails loudly as a stale writer") {
    // the r12 prune closes the stale-twin oracle-glob hole, and its
    // ordering rule closes the race the prune itself could open: a
    // writer that discovers a FRESHER sibling under the lock must not
    // publish-and-prune (that would delete fresh data and resurrect
    // its own stale snapshot) — it fails loudly instead
    val root = tempDir("graft-fixture-prune").toString
    val srcDir = tempDir("graft-fixture-src")
    val src = srcDir.resolve("orders.parquet")
    Files.write(src, "v1".getBytes)
    Files.setLastModifiedTime(src,
      java.nio.file.attribute.FileTime.fromMillis(1000000L))
    def publish() = graft.Tables.publishFixture(root, srcDir.toString,
      "orders.parquet") { tmp =>
      Files.createDirectories(java.nio.file.Paths.get(tmp))
      Files.write(java.nio.file.Paths.get(tmp, "data.txt"), "x".getBytes)
    }
    val out1 = publish()
    // an UNRELATED fixture (different logical prefix) must survive all
    // pruning below
    val other = java.nio.file.Paths.get(root, "t_other_src.parquet_9_9")
    Files.createDirectories(other)
    // a fixture of ANOTHER source whose sanitized name merely extends
    // this one's ('orders.parquet_v2' vs 'orders.parquet'), published
    // with a newer stamp: not a version sibling, so it neither trips
    // the stale-writer check nor is pruned (r12 ADVICE)
    val src2 = srcDir.resolve("orders.parquet_v2")
    Files.write(src2, "w".getBytes)
    Files.setLastModifiedTime(src2,
      java.nio.file.attribute.FileTime.fromMillis(9000000L))
    val extended = graft.Tables.publishFixture(root, srcDir.toString,
      "orders.parquet_v2") { tmp => Files.createDirectories(java.nio.file.Paths.get(tmp)) }
    // source regenerated (newer mtime, same size): new dir published,
    // old version pruned
    Files.setLastModifiedTime(src,
      java.nio.file.attribute.FileTime.fromMillis(2000000L))
    val out2 = publish()
    assert(out2 != out1)
    assert(!Files.exists(java.nio.file.Paths.get(out1)),
      "superseded fixture version must be pruned")
    assert(Files.exists(java.nio.file.Paths.get(out2, "data.txt")))
    assert(Files.exists(other), "unrelated fixture pruned")
    assert(Files.exists(java.nio.file.Paths.get(extended)),
      "fixture of an extending source name pruned")
    // stale writer: the source's mtime moves BACKWARD relative to an
    // existing fresher sibling (equivalently: a fresher sibling
    // appeared while this writer was working) — must throw, publish
    // nothing, and leave the fresh fixture intact
    Files.setLastModifiedTime(src,
      java.nio.file.attribute.FileTime.fromMillis(1500000L))
    val ex = intercept[IllegalStateException](publish())
    assert(ex.getMessage.contains("regenerated"))
    assert(Files.exists(java.nio.file.Paths.get(out2, "data.txt")),
      "stale writer deleted the fresh fixture")
  }

  test("publishFixture evicts the fixtures whose source is gone, and only those") {
    val root = tempDir("graft-fixture-orphan").toString
    def publish(srcDir: java.nio.file.Path): String = {
      Files.write(srcDir.resolve("orders.parquet"), srcDir.toString.getBytes)
      graft.Tables.publishFixture(root, srcDir.toString, "orders.parquet") { tmp =>
        Files.createDirectories(java.nio.file.Paths.get(tmp))
        Files.write(java.nio.file.Paths.get(tmp, "data.txt"), "x".getBytes)
      }
    }
    val (a, b, c) = (tempDir("graft-orphan-a"), tempDir("graft-orphan-b"), tempDir("graft-orphan-c"))
    val outA = publish(a)
    val outB = publish(b)
    assert(Files.readString(java.nio.file.Paths.get(outA, "_source")) ==
      a.resolve("orders.parquet").toAbsolutePath.toString)
    TestSpark.deleteTree(a)
    val outC = publish(c)
    assert(!Files.exists(java.nio.file.Paths.get(outA)), "the orphan must be evicted")
    assert(Files.exists(java.nio.file.Paths.get(outB, "data.txt")), "a live source's fixture evicted")
    assert(Files.exists(java.nio.file.Paths.get(outC, "data.txt")))
  }

  test("a params-fragment session's prod fixture is invisible to the oracle's src_n match") {
    // the DuckDB oracle selects its fixture by src_n = COUNT(orders)
    // over the PLAIN tables; a '#cat=...'-filtered session can share
    // that count while its grids differ, so its cells must carry a
    // NEGATIVE tag the count can never equal (r11 ADVICE)
    val frag = s"$sf#cat=large%20brushed%20brass"
    SparkEntry.queries("etl_parse_xlsx_prod")(spark, frag).collect()
    SparkEntry.queries("etl_parse")(spark, frag).collect()
    import scala.jdk.CollectionConverters._
    // src_n is the last column of both CSV twins; earlier cells may
    // hold quoted commas
    def srcNs(root: String, csvs: java.nio.file.Path => Seq[java.nio.file.Path]) = {
      val fragDirs = Files.list(java.nio.file.Paths.get(root)).iterator().asScala
        .filter(_.getFileName.toString.contains("cat")).toList
      assert(fragDirs.nonEmpty, s"params fixture dir not found under $root")
      fragDirs.flatMap(csvs).flatMap { f =>
        scala.io.Source.fromFile(f.toFile, "UTF-8").getLines().drop(1)
          .map(_.split(',').last.toLong).toList
      }
    }
    val prodNs = srcNs(graft.operators.Etl.prodRoot, d =>
      Files.list(d.resolve("cells")).iterator().asScala
        .filter(_.toString.endsWith(".csv")).toList)
    val bookNs = srcNs(graft.operators.Etl.rawRoot, d => Seq(d.resolve("book.csv")))
    for (ns <- Seq(prodNs, bookNs))
      assert(ns.nonEmpty && ns.forall(_ < 0),
        s"params fixture must carry a negative src_n tag: ${ns.distinct.take(3)}")
  }

  test("same-count drops with different prices each read their own raw book") {
    // two drops with the same orders count, one with every price
    // doubled, in one session: each parse returns its own drop's
    // month totals, also when the first drop is read again after the
    // second one's books were published
    import spark.implicits._
    val a = tempDir("graft-samecount-a")
    val b = tempDir("graft-samecount-b")
    Files.copy(java.nio.file.Paths.get(s"$sf/orders.parquet"), a.resolve("orders.parquet"))
    val staged = b.resolve("staged")
    spark.read.parquet(s"$sf/orders.parquet")
      .withColumn("o_totalprice", $"o_totalprice" * 2.0)
      .coalesce(1).write.parquet(staged.toString)
    val kids = Files.list(staged)
    try {
      import scala.jdk.CollectionConverters._
      Files.move(kids.iterator().asScala.find(_.toString.endsWith(".parquet")).get,
        b.resolve("orders.parquet"))
    } finally kids.close()
    TestSpark.deleteTree(staged)
    // (yr, mon, flow) → integer-dollar month total, straight from the
    // drop's own parquet; the planted 'n.d.' cell parses to NULL
    def expected(d: java.nio.file.Path): Map[(Int, Int, String), Long] =
      spark.read.parquet(s"$d/orders.parquet")
        .groupBy(year($"o_orderdate"), month($"o_orderdate"),
          when($"o_orderstatus" === "F", "export").otherwise("import"))
        .agg(floor(Det.dsum($"o_totalprice")))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getString(2)) -> r.getLong(3))
        .toMap - ((1997, 2, "export"))
    def parsed(q: String, d: java.nio.file.Path): Map[(Int, Int, String), Long] =
      SparkEntry.queries(q)(spark, d.toString).filter($"usd".isNotNull)
        .select($"yr", $"mon", $"flow", $"usd").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getString(2)) -> r.getLong(3))
        .toMap
    val (wantA, wantB) = (expected(a), expected(b))
    assert(Tables(spark, a.toString).orders.count() ==
      Tables(spark, b.toString).orders.count())
    assert(wantA != wantB)
    for (q <- Seq("etl_parse", "etl_parse_xlsx")) {
      assert(parsed(q, a) == wantA, s"$q on the first drop")
      assert(parsed(q, b) == wantB, s"$q on the second drop")
      assert(parsed(q, a) == wantA, s"$q on the first drop, read again")
    }
  }

  test("tolerant xlsx ingest quarantines corrupt books instead of killing the scan") {
    // a 100 TB lake will contain truncated uploads and renamed
    // non-xlsx blobs; the strict reader's contract is
    // stop-the-pipeline (pd.read_excel parity), the tolerant one must
    // keep every good book's cells and surface one quarantine row per
    // bad book — including the SILENT class where junk bytes unzip to
    // zero worksheets and would otherwise vanish without signal
    val dir = tempDir("graft-badbooks")
    def writeBook(name: String, tag: String): Array[Byte] = {
      val buf = new java.io.ByteArrayOutputStream()
      graft.sources.Xlsx.writeWorkbookSheets(buf, Seq(
        "2005" -> Seq(Seq("Enero"), Seq(tag))))
      val bytes = buf.toByteArray
      Files.write(dir.resolve(name), bytes)
      bytes
    }
    val good = (0 until 3).map(b => writeBook(f"good_$b.xlsx", s"v$b"))
    // truncated upload: the first half of a valid book
    Files.write(dir.resolve("truncated.xlsx"), good(0).take(good(0).length / 2))
    // renamed non-xlsx blob: unzips to no worksheet parts
    Files.write(dir.resolve("junk.xlsx"),
      "not a zip at all, definitely not a workbook".getBytes("UTF-8"))
    // zero-byte upload: ZipInputStream yields no entries WITHOUT
    // throwing, so this is the silent-silent class — it must
    // quarantine too, not vanish (r12 ADVICE)
    Files.write(dir.resolve("empty.xlsx"), Array.empty[Byte])
    // and the NESTED variant: the binaryFile scan's file index lists
    // leaf files at any depth, so the quarantine listing must descend
    // just as deep or a 0-byte book two levels down vanishes silently
    // again (r13 ADVICE)
    Files.createDirectories(dir.resolve("nested/deeper"))
    writeBook("nested/deep_good.xlsx", "vN")
    Files.write(dir.resolve("nested/deeper/empty_deep.xlsx"), Array.empty[Byte])
    // hidden-path parity: Spark's file index skips '_'/'.'-prefixed
    // components, so a 0-byte book under _staging/ (or a dot-file) is
    // INVISIBLE to the decoder and must not get a quarantine row
    // either — the quarantine covers exactly the decoder's file set
    Files.createDirectories(dir.resolve("_staging"))
    Files.write(dir.resolve("_staging/empty_hidden.xlsx"), Array.empty[Byte])
    Files.write(dir.resolve(".empty_dot.xlsx"), Array.empty[Byte])
    val cells = graft.sources.Xlsx.readAllCellsTolerant(spark, dir.toString)
      .collect()
    val (bad, ok) = cells.partition(r => !r.isNullAt(5))
    // every good book decoded fully (2 rows x 1 col each), incl. nested
    assert(ok.length == 4 * 2, s"good cells lost: ${ok.length}")
    assert(ok.map(_.getString(0).split('/').last).toSet ==
      ((0 until 3).map(b => f"good_$b.xlsx").toSet + "deep_good.xlsx"))
    // exactly one quarantine row per bad book, each naming its error
    val badByBook = bad.map(r => r.getString(0).split('/').last -> r.getString(5)).toMap
    assert(badByBook.keySet ==
      Set("truncated.xlsx", "junk.xlsx", "empty.xlsx", "empty_deep.xlsx"),
      s"quarantine set wrong: $badByBook")
    assert(badByBook("empty.xlsx").contains("empty file"))
    assert(badByBook("empty_deep.xlsx").contains("empty file"))
    assert(badByBook.values.forall(_.nonEmpty))
    assert(bad.forall(r => r.getInt(2) == -1 && r.getInt(3) == -1))
    // URI-form parity: a quarantine row's `book` string must be
    // byte-identical to what binaryFile's `path` column would carry
    // for the same file, or a downstream join on book silently
    // splits the two row classes. Pin it against a decoded sibling
    // in the same directory.
    val okParent = ok.map(_.getString(0)).find(_.endsWith("good_0.xlsx")).get
      .stripSuffix("good_0.xlsx")
    val emptyPath = bad.map(_.getString(0)).find(_.endsWith("empty.xlsx")).get
    assert(emptyPath == okParent + "empty.xlsx",
      s"quarantine path URI form diverges from binaryFile's: $emptyPath vs $okParent")
  }

  test("sorted-within-partitions write keeps min/max stats tight") {
    Tables(spark, sf).lineitem
      .repartition($"l_returnflag")
      .sortWithinPartitions($"l_shipdate")
      .write.mode("overwrite").parquet(s"$tmp/lineitem_sorted")
    val back = spark.read.parquet(s"$tmp/lineitem_sorted")
      .filter($"l_shipdate" < lit("1995-06-01").cast("timestamp"))
    assert(back.count() > 0)
  }
}
