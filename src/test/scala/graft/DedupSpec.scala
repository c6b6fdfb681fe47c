package graft

import org.scalatest.funsuite.AnyFunSuite

/** Dedup/similarity semantics on the planted near-duplicates. */
class DedupSpec extends AnyFunSuite with TempDirs {
  import TestSpark._

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("dedup_chunks matches an exact driver-side recompute of the first-occurrence rule") {
    // independent sequential reimplementation: chunk every doc into
    // non-overlapping 16-token windows, hash with the shared rolling
    // hash, and mark every occurrence after the corpus-wide first
    // (ordered by doc_id, chunk_idx) as a duplicate
    val docs = Tables(spark, sf).documents
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    val seen = scala.collection.mutable.Set[Long]()
    val expected = docs.map { case (id, text) =>
      val toks = text.split(" ", -1)
      val chunks = toks.grouped(16).map(c =>
        graft.functions.RollingHash.hash(c.mkString(" "))).toSeq
      val nDup = chunks.count(h => !seen.add(h))
      id -> ((chunks.size.toLong, nDup.toLong))
    }.toMap
    val got = q("dedup_chunks").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.size == expected.size)
    expected.foreach { case (id, e) =>
      assert(got(id) == e, s"doc $id: got ${got(id)} expected $e")
    }
    // the corpus actually exercises the operator: planted near-dups
    // share leading chunks, so some duplicates must exist
    assert(expected.values.map(_._2).sum > 0, "no duplicate chunks in corpus")
  }

  test("dedup_chunks drops null-text docs instead of resurrecting them via the denominator join") {
    // the counting form's doc-level left join could re-emit a
    // null-text doc as an all-null row the window form (and the
    // oracle's UNNEST over a NULL range) never produced — the
    // denominator side must drop null n_chunks
    import spark.implicits._
    val dir = tempDir("graft-nulltext").toString
    Seq((0L, "a b c"), (1L, null: String), (2L, "a b c"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("dedup_chunks")(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSet == Set(0L, 2L),
      s"null-text doc must be absent, got ${rows.mkString(";")}")
    assert(rows.forall(r => r.getLong(1) == 1L),
      "both non-null docs chunk to one 16-token window")
  }

  test("dedup_url collapses both syntactic crawl-URL forms to one canonical form") {
    val rows = q("dedup_url").collect()
    val nDocs = Tables(spark, sf).documents.count()
    // record conservation: every crawl record lands in exactly one group
    assert(rows.map(_.getLong(1)).sum == nDocs)
    // the corpus actually exercises the canonicalizer: some canonical
    // URL must collapse >1 DISTINCT raw form
    assert(rows.exists(r => r.getLong(3) >= 2), "no multi-form collision")
    // ...and the collision must be genuinely CROSS-form: at least one
    // canonical group containing BOTH an https:// raw record and an
    // http://www. raw record (docs N and N+100 share source and every
    // varying URL part but sit in opposite form branches — a
    // parity-coupled construction would make the two form populations
    // disjoint and this assertion is what keeps that claim honest)
    import org.apache.spark.sql.functions.col
    val raw = Tables(spark, sf).documents
      .select(col("doc_id"),
        graft.operators.Dedup.crawlUrl(col("doc_id"), col("source")).as("url"))
      .select(col("url"),
        graft.operators.Dedup.canonicalUrl(col("url")).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val mixed = raw.groupBy(_._2).values.filter { g =>
      g.exists(_._1.startsWith("https://")) &&
        g.exists(_._1.startsWith("http://www."))
    }
    assert(mixed.nonEmpty, "no canonical group mixes both syntactic forms")
    // canonical forms carry no scheme, www, or tracking params
    rows.map(_.getString(0)).foreach { u =>
      assert(!u.contains("http") && !u.startsWith("www."), u)
      assert(!u.contains("utm_") && !u.contains("session=") && !u.contains("ref="), u)
      assert(!u.endsWith("/"), u)
    }
  }

  test("llm_split is leakage-free: equal canonical content implies equal split") {
    val split = SparkEntry.queries("llm_split")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    // keys are well-defined per-mille values
    assert(split.values.forall { case (k, _) => k >= 0 && k < 1000 })
    // thresholds applied exactly
    split.values.foreach { case (k, s) =>
      val want = if (k < 900) "train" else if (k < 950) "valid" else "test"
      assert(s == want, s"key=$k split=$s")
    }
    // leakage guard: a REFORMATTED copy of any document (case, extra
    // punctuation, collapsed whitespace — exactly what dedup_canonical
    // normalizes away) must land in the SAME split as its original.
    // The synthetic corpus has no exact duplicates, so the copies are
    // constructed here and pushed through the same column pipeline.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sample = Tables(spark, sf).documents
      .select($"doc_id", $"text").limit(20).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val mangled = sample.map { case (id, t) =>
      (id, "  " + t.toUpperCase + "!!,  ") }
    def keysOf(rows: Seq[(Long, String)]): Map[Long, Long] =
      rows.toSeq.toDF("doc_id", "text")
        .select($"doc_id", graft.operators.CorpusSelect.splitKey($"text").as("k"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kOrig = keysOf(sample.toSeq)
    val kCopy = keysOf(mangled.toSeq)
    sample.foreach { case (id, _) =>
      assert(kOrig(id) == kCopy(id), s"doc $id: reformatted copy changes split key")
      assert(kOrig(id) == split(id)._1, s"doc $id: test pipeline != llm_split key")
    }
  }

  test("graph_triangles matches a sequential triangle census of the kNN graph") {
    val edges = graft.operators.Similarity.knnEdges(spark, sf)
      .select("vec_id", "neighbor_id").collect()
      .map(r => { val a = r.getLong(0); val b = r.getLong(1)
        (math.min(a, b), math.max(a, b)) }).distinct
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val nTri = edges.map { case (a, b) =>
      adj.getOrElse(a, Set.empty[Long]).count(c => c > b &&
        adj.getOrElse(b, Set.empty[Long]).contains(c)).toLong
    }.sum
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct.length.toLong
    val wedges = edges.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).values.map(g => g.length.toLong * (g.length - 1) / 2).sum
    val row = q("graph_triangles").collect().head
    assert(row.getLong(0) == verts)
    assert(row.getLong(1) == edges.length.toLong)
    assert(row.getLong(2) == wedges)
    assert(row.getLong(3) == nTri, s"got ${row.getLong(3)} want $nTri")
    assert(row.getLong(4) == 3000L * nTri / math.max(wedges, 1L))
  }

  test("llm_containment: valid milli range and consistency with decontaminate") {
    val pairs = SparkEntry.queries("llm_containment")(spark, sf).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val (shared, evalSz, milli) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(shared >= 2 && shared <= evalSz, r.toString)
      assert(milli == 1000L * shared / evalSz, r.toString)
      assert(milli >= 0 && milli <= 1000, r.toString)
    }
    // the planted near-dup of an eval doc must surface as a
    // high-containment pair (the audit this operator exists for)
    assert(pairs.exists(_.getLong(4) >= 500), "no high-containment pair found")
    // every flagged train doc in decontaminate (≥3 shared total) that
    // concentrates its overlap on ONE eval doc must appear here too
    // (pair threshold is lower), so the pair view can never miss a
    // doc-level flag with a single eval source
    val deconta = SparkEntry.queries("llm_decontaminate")(spark, sf).collect()
      .filter(r => r.getLong(2) == 1).map(_.getLong(0)).toSet
    val pairDocs = pairs.map(_.getLong(0)).toSet
    assert(deconta.subsetOf(pairDocs),
      s"single-source flagged docs missing from pair audit: ${deconta -- pairDocs}")
  }

  test("incremental dedup equals the batch run restricted to cross pairs") {
    import graft.operators.Dedup.{deltaMod, deltaRes}
    val batch = q("dedup_ngram_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc = q("dedup_incremental").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch pairs are (a < b); incremental pairs are (new, old) —
    // normalize the batch's delta-crossing subset to the same shape
    val crossBatch = batch
      .filter { case (a, b) => (a % deltaMod == deltaRes) != (b % deltaMod == deltaRes) }
      .map { case (a, b) => if (a % deltaMod == deltaRes) (a, b) else (b, a) }
    assert(inc == crossBatch,
      s"delta path diverged: only-inc=${inc.diff(crossBatch)} only-batch=${crossBatch.diff(inc)}")
    assert(inc.nonEmpty, "delta slice generated no cross pairs — test is vacuous")
  }

  test("star-contraction CC handles a 300-diameter chain in O(log n) rounds") {
    import spark.implicits._
    // a path graph 0-1-2-...-300: one component, the worst case for
    // min-label propagation (diameter rounds) — star contraction
    // must still converge inside its 32-round cap
    val chain = (0L until 300L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val labels = graft.operators.Dedup.connectedComponents(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length == 301)
    assert(labels.forall(_._2 == 0L), "every node must label to the chain min")
    // two separate components stay separate
    val two = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val l2 = graft.operators.Dedup.connectedComponents(two)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l2 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("shingle df-cap removes corpus-hot shingles, keeps the rest") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 4 docs share one boilerplate shingle (df=4 > cap=3); the
    // discriminative shingles (df<=3) must all survive
    val posting = Seq(
      (1L, "the same header"), (2L, "the same header"),
      (3L, "the same header"), (4L, "the same header"),
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "delta eps zeta"))
      .toDF("doc_id", "shingle")
    val cap = 3L
    val kept = graft.operators.Dedup.withShingleDf(posting)
      .filter(col("sh_df") <= cap).select("doc_id", "shingle")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kept == Set(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "delta eps zeta")))
    // the production cap never fires on the synthetic corpus — the
    // oracle hashes prove the capped and uncapped universes coincide
    // there — but the operator must behave when real data trips it
  }

  test("exact dedup: synthetic corpus has no exact duplicates") {
    val df = q("dedup_exact")
    assert(df.count() == 500)
    assert(df.filter("n_copies > 1").count() == 0)
  }

  test("minhash LSH recovers the high-similarity pairs (vs unblocked truth)") {
    import graft.functions.TextFunctions
    import org.apache.spark.sql.functions.col
    // Unblocked ground truth, computed locally over all pairs (only
    // feasible at test SF — this is exactly what LSH avoids at scale)
    val sh = Tables(spark, sf).documents
      .withColumn("toks", TextFunctions.tokens(col("text")))
      .select(col("doc_id"), TextFunctions.shingles3(col("toks")).as("sh"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    val truth = (for {
      (a, sa) <- sh; (b, sb) <- sh if a < b && sa.nonEmpty
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if j >= 0.5
    } yield ((a, b), j)).toMap
    val lsh = q("dedup_minhash_lsh").select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty && lsh.nonEmpty)
    // precision 1 by construction (exact-Jaccard verification step)
    assert(lsh.subsetOf(truth.keySet))
    // banding recall (4x4) is ~0.99 at J=0.9, so the high region
    // must be fully recovered
    val high = truth.filter(_._2 >= 0.9).keySet
    assert(high.forall(lsh.contains), "missed a J>=0.9 pair")
  }

  test("simhash near-dup pairs include the jaccard pairs") {
    val jac = q("dedup_ngram_jaccard").select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = q("dedup_simhash").select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = jac.count(sim.contains).toDouble / jac.size
    assert(recall >= 0.8, s"simhash recall $recall over ${jac.size} pairs")
  }

  test("embedding near-dup cosines are valid and sorted") {
    val cos = q("dedup_embedding").select("cosine").collect().map(_.getDouble(0))
    assert(cos.length == 20)
    assert(cos.forall(c => c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9))
    assert(cos.sameElements(cos.sorted(Ordering[Double].reverse)))
  }

  test("banded LSH blocking recovers planted high-cosine pairs") {
    // The oracle applies the same banding as the Spark plan, so it
    // cannot detect lost recall — and the synthetic corpus has no
    // true near-dups (its top within-label cosine is ~0.45, where NO
    // sign-LSH discriminates). So the recall property is proven on
    // PLANTED pairs: 40 random unit vectors, each with a ~0.97-cosine
    // perturbation, signed at the widths the adaptive dials pick for
    // this 80-vector corpus (4 planes × 8 bands: per-band match
    // (1-θ/π)^4 ≈ 0.72 at cos 0.97, 8 OR-ed bands ≈ 0.9998) — the
    // same recall law embBandsFor holds as the plane dial grows.
    import spark.implicits._
    import graft.functions.VectorFunctions
    val rnd = new scala.util.Random(7)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def cosOf(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val pairs = (0 until 40).map { i =>
      val v = unit()
      val g = unit()
      val w = v.zip(g).map { case (x, y) => x + 0.25f * y }
      (i.toLong, v, w)
    }
    val nearDup = pairs.filter(p => cosOf(p._2, p._3) >= 0.9)
    assert(nearDup.size >= 30, "perturbation should mostly stay above cos 0.9")
    val df = pairs.flatMap { case (i, v, w) =>
      Seq((2 * i, v.toSeq), (2 * i + 1, w.toSeq)) }
      .toDF("vid", "embedding")
    // widths as the operator would derive them for this 80-vector
    // corpus (adaptive dials), bands on their strided sign-pool slices
    val specPlanes = graft.operators.Dedup.embPlanesFor(pairs.size * 2L)
    val specBands = graft.operators.Dedup.embBandsFor(specPlanes)
    val bandCols = (0 until specBands).map(b =>
      VectorFunctions.lshSigAt($"embedding", specPlanes,
        b * graft.operators.Dedup.embStride).as(s"b$b"))
    val sigs = df.select(($"vid" +: bandCols): _*).collect()
      .map(r => r.getLong(0) -> (1 until r.length).map(r.getLong).toVector)
      .toMap
    val recovered = nearDup.count { case (i, _, _) =>
      sigs(2 * i).zip(sigs(2 * i + 1)).exists { case (a, b) => a == b } }
    assert(recovered >= (nearDup.size * 9) / 10,
      s"banded blocking recovered only $recovered/${nearDup.size} planted pairs")
  }

  test("dedup_semantic matches a union-find recompute over the thresholded kNN edges") {
    val edges = SparkEntry.queries("ann_knn_graph")(spark, sf)
      .filter(org.apache.spark.sql.functions.col("cosine") >=
        graft.operators.Similarity.semTau)
      .select("vec_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ids = Tables(spark, sf).embeddings.select("vec_id")
      .collect().map(_.getLong(0))
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val label = ids.map(i => i -> find(i)).toMap
    val sizes = label.values.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = q("dedup_semantic").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.length == ids.length)
    got.foreach { case (id, cl, sz, keep) =>
      assert(cl == label(id), s"vec $id: cluster $cl != ${label(id)}")
      assert(sz == sizes(cl))
      assert(keep == (id == cl))
    }
  }

  test("banded-signature candidate stages compile under codegen (no silent fallback)") {
    // with fallback disabled a janino compile failure THROWS instead
    // of silently running the stage interpreted — this is the guard
    // that caught the 8×512-term unrolled generator expression
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      assert(graft.operators.Dedup.embCandidatesPlan(spark, sf).count() > 0)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }

  test("embedding candidate pairs are exactly-once and complete across bands") {
    // first-matching-band emission (r15): the banded join finds a
    // pair once per agreeing band; the row-local first-match filter
    // must keep exactly one emission AND lose none — ground truth is
    // the all-pairs any-band-agrees relation over the same kernel
    // signatures the operator blocks on
    import spark.implicits._
    val n = Tables(spark, sf).embeddings.count()
    val planes = graft.operators.Dedup.embPlanesFor(n)
    val bands = graft.operators.Dedup.embBandsFor(planes)
    val sig = graft.operators.Similarity.lshIndex(spark, sf)
      .select($"vec_id", $"label",
        graft.functions.VectorFunctions.lshBandSigsStrided(
          $"embedding", planes, bands, graft.operators.Dedup.embStride).as("sigs"))
      .collect()
      .map(r => (r.getLong(0), r.get(1), r.getSeq[Long](2)))
      .sortBy(_._1)
    val expected = (for {
      i <- sig.indices; j <- (i + 1) until sig.length
      if sig(i)._2 == sig(j)._2 &&
        sig(i)._3.zip(sig(j)._3).exists { case (x, y) => x == y }
    } yield (sig(i)._1, sig(j)._1)).toSet
    assert(expected.nonEmpty, "degenerate corpus: no banded candidate pair")
    val rows = graft.operators.Dedup.embCandidatesPlan(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == rows.toSet.size,
      s"pair emitted more than once: ${rows.length} rows, ${rows.toSet.size} distinct")
    assert(rows.toSet == expected,
      s"missing=${(expected -- rows.toSet).take(5)} extra=${(rows.toSet -- expected).take(5)}")
  }

  test("llm_bloom never false-negatives: flags a superset of exact decontamination") {
    // Bloom membership has no false negatives, so every doc the
    // exact posting join flags must survive the pre-filter, with at
    // least as many bloom hits as truly-shared shingles
    val exact = SparkEntry.queries("llm_decontaminate")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloom = q("llm_bloom").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(exact.nonEmpty)
    exact.foreach { case (id, shared) =>
      assert(bloom.contains(id), s"exact-flagged doc $id missing from bloom pre-filter")
      assert(bloom(id) >= shared,
        s"doc $id: ${bloom(id)} bloom hits < $shared truly-shared shingles")
    }
  }

  test("the bloom filter table is bounded by its word count at any SF") {
    val filt = graft.operators.CorpusSelect.bloomFilterPlan(spark, sf)
    assert(filt.count() <= 1024)
    // every word index in range, every word non-zero
    filt.collect().foreach { r =>
      assert(r.getLong(0) >= 0 && r.getLong(0) < 1024)
      assert(r.getLong(1) != 0L)
    }
  }

  test("dedup_recall_eval reconciles with the pair indexes it audits") {
    val r = q("dedup_recall_eval").collect()
    assert(r.length == 1)
    val (nTruth, nCand, nHit, recall) =
      (r(0).getLong(0), r(0).getLong(1), r(0).getLong(2), r(0).getLong(3))
    // the truth count IS the exact pair index's cardinality
    assert(nTruth == q("dedup_ngram_jaccard").count())
    // hits = truth pairs the band join surfaced; verified minhash
    // pairs are exactly truth ∩ candidates, so the two must agree
    assert(nHit == q("dedup_minhash_lsh").count())
    assert(nHit <= nTruth && nHit <= nCand)
    assert(recall == nHit * 1000L / nTruth)
    assert(recall >= 0L && recall <= 1000L)
  }

  test("ann_lsh candidates score identically to brute force") {
    val brute = q("ann_bruteforce").select("q_id", "neighbor_id", "cosine")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = q("ann_lsh").select("q_id", "neighbor_id", "cosine").collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      brute.get(key).foreach(c => assert(math.abs(c - r.getDouble(2)) < 1e-12))
    }
  }
}
