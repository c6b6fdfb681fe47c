package graft

import graft.functions.TextFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reference HOF simhash and the exploded-aggregate formulation
  * must compute identical signatures — same hash, same ±1 vote rule,
  * same >=0 tie handling. (dedup_simhash itself now builds its 60-bit
  * signature from the cross-engine rolling hash so it can be
  * oracle-checked; this spec keeps the xxhash64 HOF/aggregate pair
  * honest as a general pattern equivalence.)
  */
class TextFunctionsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("text_entropy equals a sequential floor-surprisal recompute") {
    def floorLog2(x: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val want = Tables(spark, sf).documents.select("doc_id", "text").collect()
      .map { r =>
        val counts = r.getString(1).split(" ", -1)
          .groupBy(identity).view.mapValues(_.length.toLong).toMap
        val n = counts.values.sum
        val h = counts.values.map(c => c * floorLog2(n / c)).sum
        r.getLong(0) -> ((n, counts.size.toLong, h, 1000L * h / n))
      }.toMap
    val got = SparkEntry.queries("text_entropy")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == want)
    // the signal separates: repeated-token docs must score lower than
    // the max possible (all-distinct) entropy for their length
    assert(want.values.exists { case (n, d, _, _) => d < n },
      "corpus has no repeated-token doc")
  }

  test("HOF simhash64 equals the exploded-aggregate formulation") {
    val docs = Tables(spark, sf).documents.limit(50)
    val hof = docs
      .select($"doc_id", TextFunctions.simhash64(
        TextFunctions.tokens($"text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exploded = docs
      .select($"doc_id", explode(TextFunctions.tokens($"text")).as("t"))
      .withColumn("h", xxhash64($"t"))
      .groupBy($"doc_id")
      .agg(sum(when(shiftright($"h", 0).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L)).as("v0"),
        (1 until 64).map(j =>
          sum(when(shiftright($"h", j).bitwiseAND(lit(1L)) === 1L, 1L)
            .otherwise(-1L)).as(s"v$j")): _*)
      .select($"doc_id",
        (0 until 64).map(j =>
          when(col(s"v$j") >= 0L, lit(1L << j)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hof == exploded)
  }

  test("term_counts equals a sequential multiset recompute and compiles under codegen") {
    // the kernel's contract: ascending binary term order, exact
    // multiplicities, empty-in → empty-out, SQL-registered; with
    // fallback disabled a janino failure throws instead of silently
    // running interpreted (the kernel sits in corpus-scan hot paths)
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val got = Tables(spark, sf).documents.limit(100)
        .select($"doc_id",
          graft.functions.TermCounts.term_counts(
            TextFunctions.tokens($"text")).as("tc"))
        .collect()
        .map(r => r.getLong(0) ->
          r.getSeq[org.apache.spark.sql.Row](1)
            .map(e => e.getString(0) -> e.getLong(1)))
        .toMap
      val want = Tables(spark, sf).documents.limit(100)
        .select("doc_id", "text").collect()
        .map { r =>
          val counts = r.getString(1).split(" ", -1)
            .groupBy(identity).view.mapValues(_.length.toLong).toSeq
            .sortBy(_._1)
          r.getLong(0) -> counts
        }.toMap
      assert(got.keySet == want.keySet)
      got.foreach { case (id, entries) =>
        assert(entries == want(id), s"doc $id term counts diverge")
        assert(entries == entries.sortBy(_._1), s"doc $id not term-sorted")
      }
      // SQL surface: registered by GraftExtensions like the other kernels
      val viaSql = spark.sql(
        "SELECT term_counts(array('b','a','b')) AS tc").first()
        .getSeq[org.apache.spark.sql.Row](0)
        .map(e => e.getString(0) -> e.getLong(1))
      assert(viaSql == Seq("a" -> 1L, "b" -> 2L))
      assert(spark.sql(
        "SELECT size(term_counts(CAST(array() AS ARRAY<STRING>))) AS n")
        .first().getInt(0) == 0)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }

  test("canonicalize kernels equal the regex forms on the corpus and compile under codegen") {
    // the kernels sit on the dedup_canonical / dedup_url / llm_split
    // hot paths; with fallback disabled a janino failure throws
    // instead of silently running interpreted. Equality on the real
    // corpus complements PropertySpec's generated-input checks.
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val docs = Tables(spark, sf).documents.limit(200)
      docs.select(
        graft.operators.Dedup.canonical($"text").as("k"),
        graft.operators.Dedup.canonicalRegex($"text").as("r"))
        .collect()
        .foreach(r => assert(r.getString(0) == r.getString(1)))
      val urls = docs.select(
        graft.operators.Dedup.crawlUrl($"doc_id", $"source").as("u"))
      urls.select(
        graft.operators.Dedup.canonicalUrl($"u").as("k"),
        graft.operators.Dedup.canonicalUrlRegex($"u").as("r"))
        .collect()
        .foreach(r => assert(r.getString(0) == r.getString(1)))
      // code points ICU case-maps and the JDK's tables keep (U+A7C0,
      // U+1C89 and their lowercase partners): lower()/upper() must run
      // UTF8String's mapping, the one the kernels use. An RDD source
      // keeps the projection out of local-relation folding, so the
      // generated code is what runs.
      val rare = Seq("Ꟁ", "ꟁ", "Ᲊ", "ᲊ")
      val odd = rare.flatMap(c => Seq(s"Old $c Polish", s"${c}x$c Y",
        s"https://www.$c.Example.com/${c}A/?ref=1&page=2"))
      spark.sparkContext.parallelize(odd, 2).toDF("s")
        .select(
          graft.operators.Dedup.canonical($"s"), graft.operators.Dedup.canonicalRegex($"s"),
          graft.operators.Dedup.canonicalUrl($"s"), graft.operators.Dedup.canonicalUrlRegex($"s"),
          lower($"s"), upper($"s"), $"s")
        .collect()
        .foreach { r =>
          val s = org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(6))
          assert(r.getString(0) == r.getString(1), s"canonical_text: $s")
          assert(r.getString(2) == r.getString(3), s"canonical_url: $s")
          assert(r.getString(4) == s.toLowerCase.toString, s"lower: $s")
          assert(r.getString(5) == s.toUpperCase.toString, s"upper: $s")
        }
      // SQL surface: registered by GraftExtensions like the other kernels
      assert(spark.sql("SELECT canonical_text(' A,b  C! ') AS c").first()
        .getString(0) == "ab c")
      assert(spark.sql(
        "SELECT canonical_url('https://www.X.com/a/?ref=1&page=2') AS c")
        .first().getString(0) == "x.com/a?page=2")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }

  test("token_set_count equals the HOF filter count and compiles under codegen") {
    // the native kernel must reproduce the MULTISET count (every
    // occurrence — array_intersect-style distinct counting would be a
    // silent value change), and must actually compile: with fallback
    // disabled a janino failure throws instead of running interpreted
    val words = Seq("the", "a", "of", "zebra")
    val docs = Tables(spark, sf).documents.limit(100)
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val both = docs.select($"doc_id",
        graft.functions.TokenSetCount
          .token_set_count(TextFunctions.tokens($"text"), words).as("native"),
        size(filter(TextFunctions.tokens($"text"),
          tk => tk.isin(words: _*))).cast("long").as("hof"))
        .collect()
      assert(both.nonEmpty)
      both.foreach(r => assert(r.getLong(1) == r.getLong(2),
        s"doc ${r.getLong(0)}: native ${r.getLong(1)} != hof ${r.getLong(2)}"))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }

  test("text_cooc_pmi equals a sequential windowed-pair lift recompute") {
    val docs = Tables(spark, sf).documents.select("text").collect()
      .map(_.getString(0))
    val uni = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val pair = scala.collection.mutable.Map[(String, String), Long]()
      .withDefaultValue(0L)
    docs.foreach { t =>
      val toks = t.split(" ", -1)
      toks.foreach(w => uni(w) += 1)
      for (i <- toks.indices; d <- 1 to 2 if i + d < toks.length) {
        val (a, b) = (toks(i), toks(i + d))
        pair(if (a <= b) (a, b) else (b, a)) += 1
      }
    }
    val n = uni.values.sum
    val want = pair.toSeq.collect { case ((t1, t2), c) if c >= 5 =>
      // unrounded, same fixed operation order as the operator — the
      // raw IEEE division is the published value (r10 ADVICE: a
      // ROUND(x,6) tie-break can differ between engines)
      val lift = c.toDouble * n.toDouble / (uni(t1).toDouble * uni(t2).toDouble)
      (t1, t2, c, lift)
    }.sortBy { case (t1, t2, _, lift) => (-lift, t1, t2) }.take(20)
    val got = SparkEntry.queries("text_cooc_pmi")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == want)
    // sanity on the signal: collocations beat independence (lift > 1)
    assert(got.forall(_._4 > 1.0), "top-20 lift should exceed independence")
  }
}
