package graft

import graft.operators.Multimodal
import org.scalatest.funsuite.AnyFunSuite

/** The decode plumbing must produce the stub's features exactly —
  * swap decodeStub for a real codec and these stay the contract.
  */
class MultimodalSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("mapPartitions decode matches an independent local recompute") {
    val got = SparkEntry.queries("mm_decode_batch")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3))))
      .toMap
    val docs = Tables(spark, sf).documents
      .select($"doc_id", $"text").collect()
    assert(got.size == docs.length)
    docs.take(50).foreach { d =>
      val bytes = d.getString(1).getBytes("UTF-8")
      val (b, e) = Multimodal.decodeStub(bytes)
      assert(got(d.getLong(0)) == ((bytes.length.toLong, b, e)),
        s"doc ${d.getLong(0)}")
    }
  }

  test("byte_sum matches a driver-side recompute on corpus payloads") {
    val rows = Tables(spark, sf).documents.limit(50)
      .select($"doc_id", $"text",
        graft.functions.ByteSum.byte_sum($"text").as("bs"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(2) == graft.functions.ByteSum.sum(r.getString(1)),
        s"doc ${r.getLong(0)}")
    }
  }

  test("mm_video_scene equals a sequential cut-detection recompute") {
    val texts = Tables(spark, sf).documents
      .filter($"doc_id" % 3 === 2).select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val want = texts.flatMap { case (id, t) =>
      val frames = t.grouped(16).map(graft.functions.ByteSum.sum).toSeq
      frames.zip(frames.tail).zipWithIndex.collect {
        case ((prev, cur), i) if math.abs(cur - prev) > 200 =>
          (id, (i + 1).toLong, math.abs(cur - prev))
      }
    }.sortBy(r => (r._1, r._2)).toSeq
    val got = SparkEntry.queries("mm_video_scene")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
    assert(want.nonEmpty, "no scene cuts detected in corpus")
  }

  test("mm_audio_window equals a sequential framing recompute") {
    val texts = Tables(spark, sf).documents
      .filter($"doc_id" % 3 === 1).select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = texts.toSeq.flatMap { case (id, t) =>
      val nWin = if (t.length >= 32) (t.length - 32) / 16 + 1 else 0
      (0 until nWin).map { k =>
        val w = t.substring(k * 16, k * 16 + 32)
        (id, k.toLong, graft.functions.ByteSum.sum(w),
          graft.functions.ByteEnergy.energy(w))
      }
    }.sortBy(r => (r._1, r._2))
    val got = SparkEntry.queries("mm_audio_window")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want)
    assert(want.nonEmpty, "no audio windows framed")
  }

  test("phash: near-identical payloads collide on a band, distinct ones differ") {
    // a short prefix edit flips at most the bits of the slices
    // it lands in — the banding must still produce >= 1 shared key
    // (that is the candidate-generation contract), while unrelated
    // payloads should disagree on most bits
    // quadratic-mix payloads: NON-periodic brightness, because two
    // short-period patterns alias against the 60-slice grid and can
    // land hamming-close by construction (the r13 17/23-period pair
    // measured hamming 5 at 60 slices while random pairs sit at ~27)
    val base = (0 until 400)
      .map(i => ('a' + (i * i * 7 + i * 3) % 26).toChar).mkString
    // an 8-byte prefix edit: dirty bits stay inside slice 0's band
    // (plus the global-mean shift), so ≥3 bands remain clean — the
    // pigeonhole case the candidate join must recover
    val nearDup = "z" * 8 + base.substring(8)
    assert(nearDup != base, "planted edit must change the payload")
    val other = (0 until 400)
      .map(i => ('a' + (i * i * 11 + i * 5 + 13) % 26).toChar).mkString
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val got = Multimodal.withPhash(df)
      .select($"doc_id", $"phash", $"band0", $"band1", $"band2", $"band3")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Seq(r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))))
      .toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val (h1, b1) = got(1L); val (h2, b2) = got(2L); val (h3, b3) = got(3L)
    assert(hamming(h1, h2) <= 4, s"near-dup hamming ${hamming(h1, h2)}")
    assert(b1.zip(b2).exists { case (x, y) => x == y },
      "near-dup pair shares no band key — candidate generation would miss it")
    assert(hamming(h1, h3) > 8, s"unrelated payloads too close: ${hamming(h1, h3)}")
  }

  test("average_hash equals its driver-side twin and the unrolled substr form, under codegen") {
    def quad(k: Int) = (0 until k).map(i => ('a' + (i * i * 7 + i * 3) % 26).toChar).mkString
    val base = quad(400)
    val multi = (0 until 150)
      .map(i => Seq("a", "é", "✓", "𝄞", "z", "ß", "Ꟁ")((i * i * 7 + i * 3) % 7)).mkString
    // phash as the unrolled 60-term substr + byte_sum tree computed it
    // on these inputs, taken once before the kernel replaced it
    val cases: Seq[(Option[String], Long)] = Seq(
      Some("") -> 0L,
      Some(quad(1)) -> 0L,
      Some(quad(59)) -> 219014267020907568L,
      Some(quad(60)) -> 406780997230348890L,
      Some(quad(61)) -> 406780997230348890L,
      Some(base) -> 723578168309716309L,
      Some("z" * 8 + base.substring(8)) -> 723578168309716311L,
      Some(multi) -> 813864200743342811L,
      None -> 0L)
    // an RDD source keeps the projection out of local-relation folding,
    // so the generated code is what runs
    val df = spark.sparkContext
      .parallelize(cases.zipWithIndex.map { case ((t, _), i) => (i.toLong, t) }, 2)
      .toDF("doc_id", "text")
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val q = Multimodal.withPhash(df).select($"doc_id", $"phash")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.linesIterator.exists(l => l.contains("average_hash") && l.contains("*(")),
        s"average_hash not in a codegen'd projection:\n$plan")
      val got = q.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      cases.zipWithIndex.foreach { case ((t, want), i) =>
        assert(got(i.toLong) == want, s"case $i")
        t.foreach(s => assert(graft.functions.AverageHash.hashOf(s, 60) == want, s"twin, case $i"))
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }

  test("mm_resize matches the nearest-neighbor index map recomputed locally") {
    val got = SparkEntry.queries("mm_resize")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val docs = Tables(spark, sf).documents
      .select("doc_id", "text").collect().take(50)
    docs.foreach { d =>
      val text = d.getString(1)
      val expected = (0 until graft.operators.Multimodal.resizeTarget)
        .map(i => text.charAt(i * text.length / graft.operators.Multimodal.resizeTarget))
        .mkString
      assert(got(d.getLong(0)) == ((text.length.toLong, expected)),
        s"doc ${d.getLong(0)}")
    }
  }

  test("mm_dedup equals the brute-force band-collision + hamming recompute") {
    // ground truth: ALL pairs sharing >= 1 band key with popcount(xor)
    // <= threshold, recomputed in the driver from the signature frame
    // itself — proves the banded equi-join loses no in-contract pair
    // and the verify filter is the exact popcount
    val sig0 = graft.operators.Multimodal.phashDocsPlan(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Seq(r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .sortBy(_._1)
    // the operator masks each lane to the corpus-derived width — the
    // ground truth must block on the same masked keys
    val w = graft.operators.Multimodal.mmBandWidthFor(sig0.length.toLong)
    val sig = sig0.map { case (id, ph, lanes) =>
      (id, ph, lanes.map(_ % (1L << w))) }
    val expected = (for {
      i <- sig.indices; j <- (i + 1) until sig.length
      if sig(i)._3.zip(sig(j)._3).exists { case (x, y) => x == y }
      h = java.lang.Long.bitCount(sig(i)._2 ^ sig(j)._2)
      if h <= graft.operators.Multimodal.mmDedupThreshold
    } yield (sig(i)._1, sig(j)._1, h.toLong)).toSet
    val rows = SparkEntry.queries("mm_dedup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val got = rows.toSet
    // first-matching-band emission replaced the DISTINCT (r14): a
    // multi-band pair must still appear exactly once — the Set
    // compare below would silently absorb duplicate emissions
    assert(rows.length == got.size,
      s"pair emitted more than once: ${rows.length} rows, ${got.size} distinct")
    assert(expected.nonEmpty, "degenerate corpus: no near-dup pair in contract")
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  test("frame sampling covers every 4th frame exactly") {
    val rows = SparkEntry.queries("mm_framesample")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._2 % 4 == 0))
    val byDoc = rows.groupBy(_._1)
    val lens = Tables(spark, sf).documents
      .selectExpr("doc_id", "length(text) AS n").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    byDoc.foreach { case (doc, frames) =>
      val expected = (0 until (lens(doc) + 15) / 16).count(_ % 4 == 0)
      assert(frames.length == expected, s"doc $doc")
    }
  }
}
