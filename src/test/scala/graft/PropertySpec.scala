package graft

import graft.functions.{RollingHash, TextFunctions}
import graft.plans.TopKPerKey
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based checks for the custom kernels against independent
  * Scala models, over generated inputs the fixed testdata can't cover.
  */
class PropertySpec extends AnyFunSuite {

  private def check(prop: Prop, minTests: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minTests), prop)
    assert(res.passed, res.status.toString)
  }

  import TestSpark._
  import spark.implicits._

  private def modelRollingHash(s: String): Long = {
    var h = 0L
    for (b <- s.getBytes("UTF-8")) h = (h * 31L + (b & 0xFF)) % 1000000007L
    h
  }

  test("RollingHash equals the model on arbitrary ASCII strings") {
    val gen = Gen.listOf(Gen.choose(32.toChar, 126.toChar)).map(_.mkString)
    check(Prop.forAll(gen) { s =>
      val got = Seq(s).toDF("t")
        .select(RollingHash.rolling_hash(col("t"))).first().getLong(0)
      got == modelRollingHash(s)
    }, 20)
  }

  test("Det.dsum is the correctly-rounded double of the exact decimal sum (>15-digit sums)") {
    // The r13 sf1 find: Spark's compact Decimal.toDouble double-
    // rounds (long -> double, then / 10^scale) and is one ulp off
    // once the sum carries more significant digits than a double
    // holds. Det pins the output cast through a string; this pins
    // the pinning against an exact BigDecimal model at exactly the
    // magnitudes that exposed it (year totals ~4.7e10 with 6
    // decimals = 17 significant digits).
    val gen = Gen.listOfN(200, Gen.choose(1L, 999999999999L))
    check(Prop.forAll(gen) { longs =>
      // values with full 6-decimal structure, sums reaching 1e12+
      val vals = longs.map(l => l / 1000000.0 * 100.0)
      val got = vals.toDF("x").agg(Det.dsum(col("x"))).first().getDouble(0)
      // model the INPUT cast as shortest-string + HALF_UP (the Det
      // contract; new BigDecimal(v) would round the BINARY value and
      // diverge at the exact tie class the contract exists for)
      val exact = vals.map(v =>
          new java.math.BigDecimal(java.lang.Double.toString(v))
            .setScale(6, java.math.RoundingMode.HALF_UP))
        .reduce(_.add(_))
      val want = java.lang.Double.parseDouble(exact.toPlainString)
      got == want
    }, 10)
    // the exact regression value from the first sf1 crosscheck: a
    // SUM whose decimal result is 47254298703.894646 (17 digits)
    // surfaced as 47254298703.89465 through the pre-r13 direct
    // .cast(double); the string-pinned path must produce the
    // correctly-rounded double
    val viaString = java.lang.Double.parseDouble("47254298703.894646")
    val got = Seq("40000000000.894646", "7254298703.000000").toDF("s")
      .agg(sum(col("s").cast("decimal(18,6)")).cast("string").cast("double"))
      .first().getDouble(0)
    assert(got == viaString, s"string-pinned sum cast diverged: $got vs $viaString")
  }

  test("windowed decimal sums surface through the string pin (the sf10 cum-sum class)") {
    // The r14 sf10 crosscheck find: kpi_pareto's cumulative window
    // sum first reaches 16+ significant digits (cum_exp 8.02e11 with
    // scale 6) and the two engines' NATIVE wide-decimal->double casts
    // disagree there — DuckDB's (DECIMAL(38,6): hugeint scaled by
    // 1e-6 in binary) surfaced the exact sum 802091524967.000000 as
    // ...967.0001 and 1590572632210.000000 as ...209.9998, verified
    // by direct repro; Spark's compact path has its own >15-digit
    // double-rounding class (the r13 dsum find). The contract is the
    // same as Det.dsum: BOTH engines surface the window sum through
    // its exact decimal STRING. Here: the Spark route, on the real
    // sf10 kpi_pareto values, must equal the correctly-rounded double
    // of the exact decimal cumsum.
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("i"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val exps = Seq(268293995701.0, 267316748991.0, 266480780275.0,
      265556885099.0, 261643999691.0, 261280222453.0)
    val rows = exps.zipWithIndex.map { case (v, i) => (i, v) }
    val got = rows.toDF("i", "x")
      .withColumn("cum", sum(col("x").cast("decimal(18,6)")).over(w)
        .cast("string").cast("double"))
      .orderBy(col("i")).collect().map(_.getDouble(2))
    var exact = java.math.BigDecimal.ZERO
    for ((v, i) <- exps.zipWithIndex) {
      exact = exact.add(
        new java.math.BigDecimal(java.lang.Double.toString(v))
          .setScale(6, java.math.RoundingMode.HALF_UP))
      val want = java.lang.Double.parseDouble(exact.toPlainString)
      assert(got(i) == want,
        s"string-pinned window cast diverged at row $i: ${got(i)} vs $want")
    }
  }

  test("Det input cast rounds the shortest string HALF_UP (the 7th-digit tie class)") {
    // the monthStats divergence class: sums-of-cents / 1e6 land
    // exactly on "…5" 7th-decimal ties; the contract (core.scala Det
    // note) is shortest-string + HALF_UP on BOTH engines — the
    // DuckDB side is the VARCHAR route in dsumSql, the Spark side is
    // the native cast pinned here
    for ((v, want) <- Seq(
        1564.3048765 -> "1564.304877",  // binary above tie; string tie -> UP
        1706.0380785 -> "1706.038079",
        12.7734245 -> "12.773425",
        -7.2329825 -> "-7.232983")) {   // negative ties round away (HALF_UP on magnitude)
      val got = Seq(v).toDF("x")
        .select(col("x").cast("decimal(18,6)").cast("string"))
        .first().getString(0)
      assert(got == want, s"$v cast to (18,6): $got, want $want")
    }
  }

  test("TermCounts equals the multiset model on arbitrary token arrays") {
    // the model: group by token, count, sort by key via UTF-8 BYTE
    // order (what UTF8String.compareTo and Spark's string sort use —
    // NOT String.compareTo, which orders by UTF-16 code unit and
    // diverges on supplementary-plane characters)
    def byteLt(a: String, b: String): Boolean = {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = (x(i) & 0xFF) - (y(i) & 0xFF)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    // tokens deliberately include the empty string, repeats, and
    // non-ASCII (Latin-1 + CJK + an astral emoji) — the classes the
    // corpus never exercises
    val tokGen = Gen.oneOf(
      Gen.const(""), Gen.const("a"), Gen.const("b"),
      Gen.stringOfN(2, Gen.alphaNumChar),
      Gen.oneOf("é", "ü", "字", "语", "😀"))
    check(Prop.forAll(Gen.listOf(tokGen)) { toks =>
      val want = toks.groupBy(identity).view.mapValues(_.length.toLong)
        .toSeq.sortWith((p, q) => byteLt(p._1, q._1))
      val got = Seq(Tuple1(toks)).toDF("toks")
        .select(graft.functions.TermCounts.term_counts($"toks").as("tc"))
        .first().getSeq[org.apache.spark.sql.Row](0)
        .map(e => e.getString(0) -> e.getLong(1))
      got == want
    }, 30)
  }

  test("canonicalUrl is idempotent and form-insensitive on generated URLs") {
    // a canonicalizer that is not a projection (canon ∘ canon ≠
    // canon) silently splits groups when crawl records are
    // re-canonicalized on a later pass; and the scheme/www/seam
    // variants of one logical URL must map together
    // "h" prefix: a bare host of exactly "www" would itself be
    // stripped by the leading-www rule and the exact-form expectation
    // below would not apply (that behavior is intended — (www.)+
    // strips ALL leading www labels in one pass for idempotence)
    val hostGen = Gen.nonEmptyListOf(Gen.alphaLowerChar)
      .map(l => "h" + l.mkString.take(9))
    val urlGen = for {
      host <- hostGen
      path <- Gen.choose(0, 99)
      page <- Gen.choose(0, 9)
      session <- Gen.choose(0L, 1000000L)
      scheme <- Gen.oneOf("https://", "http://", "http://www.", "https://www.")
      slash <- Gen.oneOf("", "/")
      tracking <- Gen.oneOf(
        s"?page=$page&utm_source=feed&session=s$session",
        s"$slash?utm_campaign=x&page=$page&ref=rss",
        s"?page=$page")
    } yield (host, path, page, s"$scheme$host.example.com/doc/$path$tracking")
    def canon(us: Seq[String]): Seq[String] =
      us.toDF("u").select(
        graft.operators.Dedup.canonicalUrl(col("u"))).collect().map(_.getString(0)).toSeq
    check(Prop.forAll(Gen.listOfN(8, urlGen)) { cases =>
      val urls = cases.map(_._4)
      val c1 = canon(urls)
      val c2 = canon(c1)
      // idempotent, and every canonical form is scheme/www/tracking-free
      c1 == c2 &&
        c1.zip(cases).forall { case (c, (host, path, page, _)) =>
          c == s"$host.example.com/doc/$path?page=$page"
        }
    }, 10)
  }

  test("canonical_text kernel equals the regexp_replace chain on arbitrary strings") {
    // the fused kernel replaced lower→strip→collapse→trim regex
    // chains in dedup_canonical AND llm_split's split key — a silent
    // divergence would both split dedup groups and MOVE documents
    // between train/test. Generator mixes ASCII runs, space runs,
    // punctuation, and the non-ASCII classes where lowercase is
    // interesting (ß has no 1-char lower, Kelvin K lowers INTO the
    // kept [a-z] class, İ lowers to i + combining dot).
    val token = Gen.frequency(
      6 -> Gen.listOf(Gen.choose(32.toChar, 126.toChar)).map(_.mkString),
      2 -> Gen.oneOf("  ", "   ", "\t", "\n"),
      2 -> Gen.oneOf("É", "ß", "中", "K", "İ", "ſ", " ", "😀", "Ñü"))
    val gen = Gen.listOf(token).map(_.mkString.take(200))
    check(Prop.forAll(Gen.listOfN(12, gen)) { texts =>
      val rows = texts.toDF("t").select(
        graft.operators.Dedup.canonical(col("t")).as("kernel"),
        graft.operators.Dedup.canonicalRegex(col("t")).as("regex"))
        .collect()
      rows.forall(r => r.getString(0) == r.getString(1))
    }, 15)
  }

  test("canonical_url kernel equals the regexp_replace chain on adversarial fragments") {
    // beyond the well-formed URL generator above: random splices of
    // the chain's OWN trigger fragments (tracking names without '=',
    // empty values, ?& runs, nested www, double slashes, trailing
    // seams) — exactly the inputs where hand-rolled replaceAll
    // semantics could drift from java.util.regex
    val frag = Gen.oneOf(
      "http://", "https://", "httpx://", "www.", "w.", "WWW.",
      "?", "&", "/", "=", "utm_", "utm_a", "utm_a_b", "session", "ref",
      "sess", "refx", "a1", "page", "rss", "//", "?&", "&&", "/?",
      "?ref=", "&utm_=", "&ref", "x=1", "s", ".")
    val gen = Gen.listOf(frag).map(_.mkString.take(120))
    check(Prop.forAll(Gen.listOfN(12, gen)) { urls =>
      val rows = urls.toDF("u").select(
        graft.operators.Dedup.canonicalUrl(col("u")).as("kernel"),
        graft.operators.Dedup.canonicalUrlRegex(col("u")).as("regex"))
        .collect()
      rows.forall(r => r.getString(0) == r.getString(1))
    }, 15)
  }

  test("llm_split keys are stable under corpus growth (pure content function)") {
    // the split key must depend on the document TEXT alone: appending
    // new documents to the corpus can never move an old document
    // between splits (resplitting leaks train into test on rerun)
    val textGen = Gen.nonEmptyListOf(
      Gen.oneOf(Gen.alphaNumChar, Gen.const(' '))).map(_.mkString.take(60))
    // the PRODUCTION key expression (CorpusSelect.splitKey), not a
    // test-local copy — a re-implementation here would keep passing
    // if the operator regressed to a doc_id/row-order key
    def keys(texts: Seq[String]): Seq[Long] =
      texts.toDF("text")
        .select(graft.operators.CorpusSelect.splitKey(col("text")))
        .collect().map(_.getLong(0)).toSeq
    check(Prop.forAll(Gen.listOfN(6, textGen), Gen.listOfN(6, textGen)) {
      (base, extra) =>
        keys(base) == keys(base ++ extra).take(base.length)
    }, 10)
  }

  test("star-contraction CC equals union-find on random graphs") {
    // small number of cases (each is several Spark jobs), but each
    // case is an arbitrary multigraph — shapes (cliques, chains,
    // isolated pairs, dup edges) the corpus-derived tests never hit
    val edgeGen = for {
      n <- Gen.choose(2, 25)
      m <- Gen.choose(1, 40)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong - 1)
        b <- Gen.choose(0L, n.toLong - 1) if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield edges
    check(Prop.forAll(edgeGen) { edges =>
      edges.isEmpty || {
        val rows = graft.operators.Dedup.connectedComponents(
            edges.toDF("a_id", "b_id"))
          .collect().map(r => r.getLong(0) -> r.getLong(1))
        val got = rows.toMap
        // exactly one label row per node — a duplicate would be
        // silently collapsed by toMap but inflate cluster_size
        assert(rows.length == got.size, s"duplicate label rows: $rows")
        // model: plain union-find with min-root relabel
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        for ((a, b) <- edges) {
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val want = parent.keys.toList.map(x => x -> find(x)).toMap
        got == want
      }
    }, 8)
  }

  test("dot/norm kernels equal a Scala model on arbitrary vectors") {
    val vecGen = Gen.listOfN(8, Gen.choose(-10.0f, 10.0f))
    check(Prop.forAll(vecGen, vecGen) { (a, b) =>
      val df = Seq((a, b)).toDF("a", "b")
      val got = df.select(
        graft.functions.VectorFunctions.dot(col("a"), col("b"))).first().getDouble(0)
      var want = 0.0
      for (i <- a.indices) want += a(i).toDouble * b(i).toDouble
      got == want // bit-exact: same fold order
    }, 20)
  }

  test("TopKPerKey equals sort-take on arbitrary grouped data") {
    val rowGen = Gen.listOfN(60,
      Gen.zip(Gen.choose(0, 4), Gen.choose(-1000, 1000)))
    check(Prop.forAll(rowGen) { rows =>
      val df = rows.zipWithIndex
        .map { case ((g, v), i) => (g, v, i.toLong) }
        .toDF("grp", "value", "uid")
      val got = TopKPerKey(df, Seq("grp"),
          Seq(TopKPerKey.desc("value"), TopKPerKey.asc("uid")), 3)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
      val want = rows.zipWithIndex
        .map { case ((g, v), i) => (g, v, i.toLong) }
        .groupBy(_._1).values.flatMap(group =>
          group.sortBy(t => (-t._2, t._3)).take(3)).toSet
      got == want
    }, 10)
  }

  test("KmvAgg equals sorted-distinct-take-k under any split of the input") {
    // the merge law the distributed aggregation relies on: reducing a
    // random list split into arbitrary partitions and merging must
    // equal the one-pass model, for any k
    val gen = for {
      k <- Gen.choose(1, 8)
      xs <- Gen.listOf(Gen.choose(0L, 40L)) // narrow range forces duplicates
      cut <- Gen.choose(0, math.max(xs.length, 1))
    } yield (k, xs, cut)
    check(Prop.forAll(gen) { case (k, xs, cut) =>
      val agg = new graft.functions.KmvAgg(k)
      val (l, r) = xs.splitAt(math.min(cut, xs.length))
      val merged = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce),
        r.foldLeft(agg.zero)(agg.reduce))
      val want = xs.distinct.sorted.take(k)
      merged.toSeq == want
    }, 200)
  }

  test("SetOpToFlagAggregate equals set-model semantics on random tables") {
    // the rewrite runs in EVERY session's optimizer — randomized
    // equivalence against a Scala set model (and implicitly against
    // the built-in lowering, which the model also describes), nulls
    // included, both set ops, varying filter selectivity
    val row = for {
      k <- Gen.frequency(8 -> Gen.choose(0L, 6L).map(Option(_)),
        2 -> Gen.const(Option.empty[Long]))
      side <- Gen.choose(0, 3)
    } yield (k, side)
    val gen = Gen.choose(0, 25).flatMap(n => Gen.listOfN(n, row))
    check(Prop.forAll(gen) { rows =>
      val df = rows.map { case (k, s) => (k.map(Long.box).orNull, s) }
        .toDF("k", "side")
      val a = df.filter(col("side") <= 1).select(col("k"))
      val b = df.filter(col("side") % 2 === 0).select(col("k"))
      val setA = rows.filter(_._2 <= 1).map(_._1).toSet
      val setB = rows.filter(_._2 % 2 == 0).map(_._1).toSet
      def got(d: org.apache.spark.sql.DataFrame): Set[Option[Long]] =
        d.collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSet
      got(a.intersect(b)) == setA.intersect(setB) &&
        got(a.except(b)) == setA.diff(setB)
    }, 60)
  }

  test("xlsx writer → parser round-trips arbitrary cell grids") {
    // printable-ASCII plus the XML-special and accented characters the
    // trade books actually contain; ragged row widths allowed
    val cell = Gen.listOf(Gen.frequency(
      8 -> Gen.choose(32.toChar, 126.toChar),
      2 -> Gen.oneOf('<', '>', '&', '"', 'ñ', 'é', 'Ü'))).map(_.mkString)
    val row = Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, cell))
    val grid = Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, row))
    check(Prop.forAll(grid) { rows =>
      val buf = new java.io.ByteArrayOutputStream()
      graft.sources.Xlsx.writeWorkbook(buf, rows.map(_.toSeq), "P")
      graft.sources.Xlsx.parseSheet(buf.toByteArray)
        .map(_.toList).toList == rows
    }, 100)
    // multi-sheet: names (incl. XML-special chars) and per-sheet
    // grids round-trip in workbook order
    val name = Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.frequency(
      8 -> Gen.alphaNumChar, 2 -> Gen.oneOf('<', '&', '"', ' '))).map(_.mkString))
    val book = Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, Gen.zip(name, grid)))
      // sheet names must be unique for the round-trip to be exact
      .map(_.zipWithIndex.map { case ((nm, g), i) => (s"$i$nm", g) })
    check(Prop.forAll(book) { sheets =>
      val buf = new java.io.ByteArrayOutputStream()
      graft.sources.Xlsx.writeWorkbookSheets(buf,
        sheets.map { case (n, g) => n -> g.map(_.toSeq) })
      graft.sources.Xlsx.parseWorkbook(buf.toByteArray)
        .map { case (n, g) => (n, g.map(_.toList).toList) } == sheets
    }, 50)
  }

  test("width-dial math: clamps hold over the full Long×Int domain") {
    // the r10 VERDICT ask: degenerate inputs (cpus<=0, byte counts at
    // Long.MaxValue) must never reintroduce an overflow in the width
    // math — the old `bytes + 2MB - 1` idiom wrapped negative within
    // 2 MB of Long.MaxValue and clamped a max-range input to the
    // FLOOR instead of the cap
    val bytesGen = Gen.oneOf(
      Gen.choose(0L, 1L << 44),
      Gen.oneOf(0L, 1L, (2L << 20) - 1, 2L << 20, (2L << 20) + 1,
        Long.MaxValue - (2L << 20), Long.MaxValue - 1, Long.MaxValue))
    val coresGen = Gen.oneOf(
      Gen.choose(-4, 4096),
      Gen.oneOf(Int.MinValue, -1, 0, 1, 32, 256, Int.MaxValue))
    check(Prop.forAll(bytesGen, coresGen) { (b, c) =>
      val w = Tables.splitFilesFor(b, c)
      val floor = math.max(8, math.min(math.max(c, 0), 256))
      w >= floor && w <= 256
    }, 300)
    // monotone in bytes at any cores
    check(Prop.forAll(Gen.choose(0L, Long.MaxValue - 1), Gen.choose(0, 64)) {
      (b, c) => Tables.splitFilesFor(b, c) <= Tables.splitFilesFor(b + 1, c)
    }, 200)
    // the overflow trap, pinned: max-range bytes hit the CAP
    assert(Tables.splitFilesFor(Long.MaxValue, 8) == 256)
    // ceilDiv2MB agrees with the additive idiom wherever that idiom
    // is overflow-free
    check(Prop.forAll(Gen.choose(0L, 1L << 50)) { b =>
      Tables.ceilDiv2MB(b) == (b + (2L << 20) - 1) / (2L << 20)
    }, 200)
  }

  test("shingles3 HOF equals a Scala sliding-window model") {
    val gen = Gen.listOfN(12, Gen.oneOf("a", "b", "cc", "dd")).map(_.mkString(" "))
    check(Prop.forAll(gen) { text =>
      val got = Seq(text).toDF("t")
        .withColumn("toks", TextFunctions.tokens(col("t")))
        .select(TextFunctions.shingles3(col("toks")))
        .first().getSeq[String](0).toSet
      val toks = text.split(" ")
      val want = if (toks.length < 3) Set.empty[String]
        else toks.sliding(3).map(_.mkString(" ")).toSet
      got == want
    }, 10)
  }
}
