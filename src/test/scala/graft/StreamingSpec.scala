package graft

import graft.streaming.EventsStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The streaming plans must produce the same results as their batch
  * oracles when fed the full input as one burst.
  */
class StreamingSpec extends AnyFunSuite with TempDirs {
  import TestSpark._

  test("event_id is unique — the contract behind stream_dedup's oracle") {
    // the stream_dedup oracle dedups the doubled table with DISTINCT *
    // while the Spark side uses dropDuplicates("event_id"); those
    // coincide only while every event_id maps to ONE payload. Pin the
    // data contract so a future generator change surfaces here, as a
    // named failure, instead of as an oracle hash mismatch.
    val e = Tables(spark, sf).events
    assert(e.count() == e.select("event_id").distinct().count(),
      "duplicate event_id with potentially divergent payloads")
  }

  test("streaming windowed agg == batch windowed agg") {
    val stream = EventsStream.windowedAggStreaming(
      EventsStream.readStreamEvents(spark, sf))
    val query = stream.writeStream
      .format("memory").queryName("stream_out").outputMode("complete")
      .start()
    try {
      query.processAllAvailable()
      val got = spark.table("stream_out")
        .orderBy("bucket_start", "event_type").collect()
      val want = EventsStream.windowedAgg(Tables(spark, sf).events)
        .orderBy("bucket_start", "event_type").collect()
      assert(got.length == want.length && got.sameElements(want))
    } finally query.stop()
  }

  test("streaming stream-static enrichment == batch enriched agg") {
    val cust = Tables(spark, sf).customer
    val stream = EventsStream.enrichStreaming(
      EventsStream.readStreamEvents(spark, sf), cust)
    val query = stream.writeStream
      .format("memory").queryName("enrich_out").outputMode("complete")
      .start()
    try {
      query.processAllAvailable()
      val got = spark.table("enrich_out")
        .orderBy("bucket_start", "segment").collect()
      val want = EventsStream.enrich(Tables(spark, sf).events, cust)
        .orderBy("bucket_start", "segment").collect()
      assert(got.length == want.length && got.sameElements(want))
    } finally query.stop()
  }

  test("streaming dedup collapses a doubled input to distinct events") {
    import spark.implicits._
    // duplicate the stream by reading the same dir twice via union
    val s1 = EventsStream.readStreamEvents(spark, sf)
    val doubled = s1.union(EventsStream.readStreamEvents(spark, sf))
    val q = EventsStream.dedupStreaming(doubled)
      .select($"event_id")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("dedup_out").count()
      val want = Tables(spark, sf).events.select($"event_id").distinct().count()
      assert(got == want, s"stream dedup $got != batch distinct $want")
    } finally q.stop()
  }

  test("checkpointed file-sink query recovers and does not reprocess") {
    import spark.implicits._
    val tmp = tempDir("graft-stream").toString
    def start() = EventsStream.windowedAgg(
        EventsStream.readStreamEvents(spark, sf)
          .withWatermark("ts", "2 hours"))
      .writeStream.format("parquet")
      .option("path", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val q1 = start(); q1.awaitTermination(120000); q1.stop()
    val n1 = spark.read.parquet(s"$tmp/out").count()
    // restart from the checkpoint: source already fully consumed, so
    // recovery must add no duplicate output
    val q2 = start(); q2.awaitTermination(120000); q2.stop()
    val n2 = spark.read.parquet(s"$tmp/out").count()
    assert(n1 > 0)
    assert(n2 == n1, s"restart reprocessed: $n1 -> $n2")
  }

  test("stateful upsert survives a mid-stream crash and restart, exactly-once") {
    // The production contract the single-query tests don't cover:
    // kill a STATEFUL query mid-stream (injected sink crash at batch
    // 1), restart from the same checkpoint, and the converged view
    // must equal the batch oracle — state recovered, the crashed
    // batch retried once, the committed batch not replayed.
    import spark.implicits._
    import org.apache.spark.sql.Dataset
    val tmp = tempDir("graft-restart")
    val (src, out, ckpt) = (s"$tmp/src", s"$tmp/out", s"$tmp/ckpt")
    val all = Tables(spark, sf).events
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventsStream.Event]
      .collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq
    // 4 source files -> 4 micro-batches at maxFilesPerTrigger=1
    all.grouped(math.max(1, (all.length + 3) / 4)).foreach(chunk =>
      chunk.toDS().coalesce(1).write.mode("append").parquet(src))
    val crashArmed = new java.util.concurrent.atomic.AtomicBoolean(true)
    def start() = {
      val events = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[EventsStream.Event]].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .as[EventsStream.Event]
      EventsStream.upsertLatest(events)
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: Dataset[EventsStream.Latest], id: Long) =>
          if (id >= 1 && crashArmed.compareAndSet(true, false))
            throw new RuntimeException("injected mid-stream crash")
          // idempotent per-batch sink: retries overwrite, never append
          df.withColumn("batch_id", lit(id))
            .write.mode("overwrite").parquet(s"$out/b_$id")
        }
        .start()
    }
    val q1 = start()
    val died = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    assert(died.getMessage.contains("injected mid-stream crash"))
    assert(!crashArmed.get, "the crash must actually have fired")
    // batch 0 committed before the crash; batch 1 must NOT have output
    def batchDirs() = new java.io.File(out).list()
      .filter(_.startsWith("b_")).toSet
    assert(batchDirs() == Set("b_0"),
      s"crash point wrong: ${batchDirs()} present after the kill")
    val b0Files = new java.io.File(s"$out/b_0")
      .listFiles().map(f => f.getName -> f.lastModified).toMap
    // restart from the SAME checkpoint: batch 1 retried, 2..n drained
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    assert(batchDirs().size >= 4, s"restart did not drain: ${batchDirs()}")
    // the pre-crash commit was not replayed (exactly-once bookkeeping)
    val b0After = new java.io.File(s"$out/b_0")
      .listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(b0After == b0Files, "restart rewrote the already-committed batch 0")
    // converged view across ALL emitted batches == the batch oracle
    def us(t: java.sql.Timestamp): Long =
      t.getTime * 1000 + (t.getNanos / 1000) % 1000
    val got = spark.read.parquet(s"$out/b_*")
      .collect().groupBy(_.getLong(0))
      .map { case (_, rows) =>
        val r = rows.maxBy(x => x.getLong(5)) // latest batch wins per key
        (r.getLong(0), r.getLong(1), us(r.getTimestamp(2)),
          r.getString(3), r.getDouble(4))
      }.toSet
    val want = SparkEntry.queries("stream_upsert")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), us(r.getTimestamp(2)),
        r.getString(3), r.getDouble(4))).toSet
    assert(want.nonEmpty)
    assert(got == want,
      s"restart diverged from batch: missing=${(want -- got).take(3)} " +
        s"extra=${(got -- want).take(3)}")
  }

  test("stream-stream interval join matches the batch pair join") {
    import spark.implicits._
    val s = EventsStream.readStreamEvents(spark, sf)
    val streamPairs = EventsStream.clickPurchasePairs(
      s.filter($"event_type" === "purchase").withWatermark("ts", "2 hours"),
      s.filter($"event_type" === "click").withWatermark("ts", "2 hours"), "inner")
    val q = streamPairs
      .select($"purchase_id", $"click_id")
      .writeStream.format("memory").queryName("attr_pairs")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("attr_pairs").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val e = Tables(spark, sf).events
      val want = EventsStream.clickPurchasePairs(
          e.filter($"event_type" === "purchase"),
          e.filter($"event_type" === "click"), "inner")
        .select($"purchase_id", $"click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(want.nonEmpty, "batch join produced no pairs")
      assert(got == want,
        s"stream=${got.size} batch=${want.size} " +
          s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("left-outer interval join emits unmatched purchases after the watermark") {
    // the outer rows are WATERMARK-DRIVEN: an unattributed purchase
    // emits only once the click side's watermark proves no matching
    // click can still arrive — so the spec feeds the corpus, then
    // far-future sentinel clicks (for a user with no purchases) to
    // push the watermark past every purchase interval, and asserts
    // the converged stream equals the batch left-outer join exactly,
    // nulls included
    import spark.implicits._
    val all = Tables(spark, sf).events
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventsStream.Event].collect().toSeq
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EventsStream.Event]
    val events = mem.toDS().toDF()
    val pairs = EventsStream.clickPurchasePairs(
      events.filter($"event_type" === "purchase").withWatermark("ts", "2 hours"),
      events.filter($"event_type" === "click").withWatermark("ts", "2 hours"), "left_outer")
    val q = pairs.select($"purchase_id", $"click_id")
      .writeStream.format("memory").queryName("attr_outer")
      .outputMode("append").start()
    try {
      mem.addData(all); q.processAllAvailable()
      val maxTs = all.map(_.ts.getTime).max
      // sentinel batches on BOTH inputs (the global watermark is the
      // MIN across them, so a click-only sentinel would leave the
      // purchase side's watermark pinned at the corpus max): the
      // first advances the watermark, the second triggers
      // eviction/emission of the now-expired state. The sentinel
      // purchases themselves emit (negative-id, None) rows — user -1
      // has no clicks — and are filtered from the compare.
      (1 to 2).foreach { i =>
        val ts = new java.sql.Timestamp(maxTs + i * 6L * 3600 * 1000)
        mem.addData(
          EventsStream.Event(-2L * i, ts, -1L, "click", 0.0),
          EventsStream.Event(-2L * i - 1, ts, -1L, "purchase", 0.0))
        q.processAllAvailable()
      }
      def key(r: org.apache.spark.sql.Row): (Long, Option[Long]) =
        (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))
      val got = spark.table("attr_outer").collect().map(key)
        .filter(_._1 >= 0).toSet
      val e = Tables(spark, sf).events
      val want = EventsStream.clickPurchasePairs(
          e.filter($"event_type" === "purchase"),
          e.filter($"event_type" === "click"), "left_outer")
        .select($"purchase_id", $"click_id").collect().map(key).toSet
      assert(want.exists(_._2.isEmpty), "fixture has no organic purchases — spec vacuous")
      assert(got == want,
        s"stream=${got.size} batch=${want.size} " +
          s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("left-outer interval join survives a mid-stream crash and restart, exactly-once") {
    // stream_upsert's restart spec covers mapGroupsWithState; this
    // covers the riskier recovery surface — the outer interval join,
    // whose null-match rows are emitted by WATERMARK-DRIVEN state
    // eviction. A checkpoint resume must neither LOSE an outer row
    // (join state and watermark recovered, eviction still fires for
    // purchases buffered before the crash) nor RE-EMIT one (append
    // mode, the crashed batch retried once). Layout mirrors the
    // upsert restart spec: file source at maxFilesPerTrigger=1, crash
    // injected in the sink at batch 1, restart from the same
    // checkpoint; the last two source files are the both-input
    // far-future sentinels that push the global watermark past every
    // real purchase interval (same mechanics as the convergence spec
    // above).
    import spark.implicits._
    import org.apache.spark.sql.{Dataset, Row}
    val tmp = tempDir("graft-outer-restart")
    val (src, out, ckpt) = (s"$tmp/src", s"$tmp/out", s"$tmp/ckpt")
    val all = Tables(spark, sf).events
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventsStream.Event]
      .collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq
    all.grouped(math.max(1, (all.length + 2) / 3)).foreach(chunk =>
      chunk.toDS().coalesce(1).write.mode("append").parquet(src))
    val maxTs = all.map(_.ts.getTime).max
    (1 to 2).foreach { i =>
      val ts = new java.sql.Timestamp(maxTs + i * 6L * 3600 * 1000)
      Seq(EventsStream.Event(-2L * i, ts, -1L, "click", 0.0),
        EventsStream.Event(-2L * i - 1, ts, -1L, "purchase", 0.0))
        .toDS().coalesce(1).write.mode("append").parquet(src)
    }
    val crashArmed = new java.util.concurrent.atomic.AtomicBoolean(true)
    def start() = {
      val events = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[EventsStream.Event]].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
      val pairs = EventsStream.clickPurchasePairs(
        events.filter($"event_type" === "purchase").withWatermark("ts", "2 hours"),
        events.filter($"event_type" === "click").withWatermark("ts", "2 hours"), "left_outer")
      pairs.select($"purchase_id", $"click_id")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: Dataset[Row], id: Long) =>
          if (id >= 1 && crashArmed.compareAndSet(true, false))
            throw new RuntimeException("injected mid-stream crash")
          // idempotent per-batch sink: a retried batch overwrites its
          // own dir, so duplicate EMISSION (not duplicate retry) is
          // what the cross-dir distinct check below would catch
          df.write.mode("overwrite").parquet(s"$out/b_$id")
        }
        .start()
    }
    val q1 = start()
    val died = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    assert(died.getMessage.contains("injected mid-stream crash"))
    assert(!crashArmed.get, "the crash must actually have fired")
    def batchDirs() = new java.io.File(out).list()
      .filter(_.startsWith("b_")).toSet
    assert(batchDirs() == Set("b_0"),
      s"crash point wrong: ${batchDirs()} present after the kill")
    val b0Files = new java.io.File(s"$out/b_0")
      .listFiles().map(f => f.getName -> f.lastModified).toMap
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    assert(batchDirs().size >= 5, s"restart did not drain: ${batchDirs()}")
    assert(new java.io.File(s"$out/b_0").listFiles()
        .map(f => f.getName -> f.lastModified).toMap == b0Files,
      "restart rewrote the already-committed batch 0")
    def key(r: Row): (Long, Option[Long]) =
      (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))
    val emitted = spark.read.parquet(s"$out/b_*").collect().map(key)
    // exactly-once across the crash: every pair emitted at most once
    // over ALL batches (append mode never re-emits a joined or
    // evicted row after recovery)
    assert(emitted.length == emitted.distinct.length,
      s"${emitted.length - emitted.distinct.length} rows re-emitted across restart")
    val got = emitted.filter(_._1 >= 0).toSet
    val e = Tables(spark, sf).events
    val want = EventsStream.clickPurchasePairs(
        e.filter($"event_type" === "purchase"),
        e.filter($"event_type" === "click"), "left_outer")
      .select($"purchase_id", $"click_id").collect().map(key).toSet
    assert(want.exists(_._2.isEmpty), "fixture has no organic purchases — spec vacuous")
    assert(got == want,
      s"restart diverged from batch: missing=${(want -- got).take(3)} " +
        s"extra=${(got -- want).take(3)}")
  }

  test("windowed top-k composition survives a mid-stream crash and restart, exactly-once") {
    // stream_topk's production decomposition: the watermark-bounded
    // windowed COUNT is the stateful operator (stream_windowed_agg),
    // the rank is a per-trigger window function over the closed
    // buckets. The recovery surface this pins: append-mode WINDOW
    // EVICTION across a checkpoint resume — a closed (bucket, type)
    // row must be emitted exactly once over the whole crash/restart
    // history, and the converged ranking must equal the batch oracle.
    // Same recipe as the upsert/outer-join restart specs:
    // maxFilesPerTrigger=1, injected sink crash at batch 1, restart
    // from the same checkpoint; a far-future sentinel pair closes
    // every real bucket.
    import spark.implicits._
    import org.apache.spark.sql.{Dataset, Row}
    val tmp = tempDir("graft-topk-restart")
    val (src, out, ckpt) = (s"$tmp/src", s"$tmp/out", s"$tmp/ckpt")
    val all = Tables(spark, sf).events
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventsStream.Event]
      .collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq
    all.grouped(math.max(1, (all.length + 3) / 4)).foreach(chunk =>
      chunk.toDS().coalesce(1).write.mode("append").parquet(src))
    val maxTs = all.map(_.ts.getTime).max
    // two sentinel files: the first advances the watermark past every
    // real bucket's close (2h watermark), the second gives the
    // post-advance trigger in which eviction emits them
    (1 to 2).foreach { i =>
      Seq(EventsStream.Event(-1L * i,
          new java.sql.Timestamp(maxTs + i * 6L * 3600 * 1000),
          -1L, "sentinel", 0.0))
        .toDS().coalesce(1).write.mode("append").parquet(src)
    }
    val crashArmed = new java.util.concurrent.atomic.AtomicBoolean(true)
    def start() = {
      val events = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[EventsStream.Event]].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
      EventsStream.windowedAggStreaming(events)
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: Dataset[Row], id: Long) =>
          if (id >= 1 && crashArmed.compareAndSet(true, false))
            throw new RuntimeException("injected mid-stream crash")
          df.write.mode("overwrite").parquet(s"$out/b_$id")
        }
        .start()
    }
    val q1 = start()
    val died = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    assert(died.getMessage.contains("injected mid-stream crash"))
    assert(!crashArmed.get, "the crash must actually have fired")
    def batchDirs() = new java.io.File(out).list()
      .filter(_.startsWith("b_")).toSet
    assert(batchDirs() == Set("b_0"),
      s"crash point wrong: ${batchDirs()} present after the kill")
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    assert(batchDirs().size >= 5, s"restart did not drain: ${batchDirs()}")
    val emitted = spark.read.parquet(s"$out/b_*")
      .filter($"event_type" =!= "sentinel").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2)))
    // exactly-once: a closed bucket row never re-emitted after recovery
    val keys = emitted.map(e => (e._1, e._2))
    assert(keys.length == keys.distinct.length,
      s"${keys.length - keys.distinct.length} bucket rows re-emitted across restart")
    // converged ranking over everything emitted == the batch oracle
    val got = emitted.groupBy(_._1).toSeq.flatMap { case (bucket, rows) =>
      rows.sortBy(r => (-r._3, r._2)).take(3).zipWithIndex
        .map { case (r, i) => (bucket, i + 1, r._2, r._3) }
    }.toSet
    val want = SparkEntry.queries("stream_topk")(spark, sf).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getInt(1), r.getString(2),
        r.getLong(3))).toSet
    assert(got == want,
      s"stream=${got.size} batch=${want.size} " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("event-time-timeout sessionize survives a mid-stream crash and restart, exactly-once") {
    // The EventTimeTimeout sessionizer's recovery surface is the
    // riskiest of the stateful family: sessions are emitted BOTH by
    // in-batch gap detection and by watermark-driven timeouts, and a
    // checkpoint resume must recover per-user state, the watermark,
    // AND the registered timeout timestamps — losing any of the
    // three drops or duplicates a session. Crash at batch 1,
    // restart, drain; sentinels push the watermark past every real
    // session's (last + gap) so the converged emission is TOTAL and
    // comparable to the batch oracle as set equality.
    import spark.implicits._
    import org.apache.spark.sql.Dataset
    val tmp = tempDir("graft-sess-restart")
    val (src, out, ckpt) = (s"$tmp/src", s"$tmp/out", s"$tmp/ckpt")
    val all = Tables(spark, sf).events
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventsStream.Event]
      .collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq
    all.grouped(math.max(1, (all.length + 3) / 4)).foreach(chunk =>
      chunk.toDS().coalesce(1).write.mode("append").parquet(src))
    val maxTs = all.map(_.ts.getTime).max
    (1 to 2).foreach { i =>
      Seq(EventsStream.Event(-1L * i,
          new java.sql.Timestamp(maxTs + i * 6L * 3600 * 1000),
          -1L, "sentinel", 0.0))
        .toDS().coalesce(1).write.mode("append").parquet(src)
    }
    val crashArmed = new java.util.concurrent.atomic.AtomicBoolean(true)
    def start() = {
      val events = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[EventsStream.Event]].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .as[EventsStream.Event]
      EventsStream.sessionizeEventTime(events)
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: Dataset[EventsStream.Session], id: Long) =>
          if (id >= 1 && crashArmed.compareAndSet(true, false))
            throw new RuntimeException("injected mid-stream crash")
          df.write.mode("overwrite").parquet(s"$out/b_$id")
        }
        .start()
    }
    val q1 = start()
    val died = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    assert(died.getMessage.contains("injected mid-stream crash"))
    assert(!crashArmed.get, "the crash must actually have fired")
    def batchDirs() = new java.io.File(out).list()
      .filter(_.startsWith("b_")).toSet
    assert(batchDirs() == Set("b_0"),
      s"crash point wrong: ${batchDirs()} present after the kill")
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    assert(batchDirs().size >= 5, s"restart did not drain: ${batchDirs()}")
    def us(t: java.sql.Timestamp): Long =
      t.getTime * 1000 + (t.getNanos / 1000) % 1000
    val emitted = spark.read.parquet(s"$out/b_*").as[EventsStream.Session]
      .collect().filter(_.user_id >= 0)
      .map(s => (s.user_id, us(s.session_start), us(s.session_end),
        s.n_events) -> s.total_value)
    // exactly-once: no session emitted twice across the crash history
    // (covers both emission paths — gap-closed and timeout-closed)
    assert(emitted.length == emitted.map(_._1).distinct.length,
      s"${emitted.length - emitted.map(_._1).distinct.length} sessions re-emitted across restart")
    val want = SparkEntry.queries("stream_sessionize")(spark, sf)
      .select($"user_id", $"session_start", $"session_end",
        $"n_events", $"total_value").collect()
      .map(r => (r.getLong(0), us(r.getTimestamp(1)), us(r.getTimestamp(2)),
        r.getLong(3)) -> r.getDouble(4)).toMap
    val got = emitted.toMap
    assert(got.keySet == want.keySet,
      s"stream=${got.size} batch=${want.size} " +
        s"missing=${(want.keySet -- got.keySet).take(3)} " +
        s"extra=${(got.keySet -- want.keySet).take(3)}")
    // totals: the stateful fold accumulates doubles in event order,
    // the batch oracle sums in exact decimal (Det.dsum) — identical
    // sessions can differ in the last ulp (60.92999…9 vs 60.93), so
    // structure is exact above and the value check is a tight epsilon
    got.foreach { case (k, v) =>
      assert(math.abs(v - want(k)) <= 1e-6 * math.max(1.0, math.abs(want(k))),
        s"session $k total diverged: $v vs ${want(k)}")
    }
  }

  test("event-time-timeout sessionize closes idle sessions via watermark") {
    import spark.implicits._
    val all = Tables(spark, sf).events
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventsStream.Event]
      .collect().sortBy(e => (e.ts.getTime, e.event_id))
    assert(all.length > 100)
    val (b1, b2) = all.splitAt(all.length / 2)
    // sentinel far past the data: advances the watermark beyond every
    // real session's (last + gap), so EventTimeTimeout must fire and
    // emit them all; the sentinel's own session stays open in state
    val maxTs = all.last.ts.getTime
    val sentinel = EventsStream.Event(-1L,
      new java.sql.Timestamp(maxTs + 6L * 3600 * 1000), -1L, "sentinel", 0.0)

    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EventsStream.Event]
    val q = EventsStream.sessionizeEventTime(mem.toDS())
      .writeStream.format("memory").queryName("ett_out")
      .outputMode("append").start()
    try {
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      mem.addData(Seq(sentinel)); q.processAllAvailable()
      // one more empty-ish trigger so timeouts fire against the
      // sentinel-advanced watermark
      mem.addData(Seq(sentinel.copy(event_id = -2L))); q.processAllAvailable()
      val emitted = spark.table("ett_out").as[EventsStream.Session]
        .collect().filter(_.user_id >= 0)
        .map(s => (s.user_id, s.session_start.getTime * 1000 +
          (s.session_start.getNanos / 1000) % 1000, s.n_events)).toSet
      val batch = SparkEntry.queries("stream_sessionize")(spark, sf)
        .select($"user_id", $"session_start", $"n_events").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime * 1000 +
          (r.getTimestamp(1).getNanos / 1000) % 1000, r.getLong(2))).toSet
      assert(emitted == batch,
        s"emitted=${emitted.size} batch=${batch.size} " +
          s"missing=${(batch -- emitted).take(3)} extra=${(emitted -- batch).take(3)}")
    } finally q.stop()
  }

  test("streaming keep-latest upsert converges to the batch latest view") {
    import spark.implicits._
    val all = Tables(spark, sf).events
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventsStream.Event]
      .collect().sortBy(e => (e.ts.getTime, e.event_id))
    val (b1, b2) = all.splitAt(all.length / 2)
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EventsStream.Event]
    val q = EventsStream.upsertLatest(mem.toDS())
      .writeStream.format("memory").queryName("upsert_out")
      .outputMode("update").start()
    try {
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      // Update mode re-emits a key on every change: the per-key max
      // across emissions IS the final state, and must equal the batch
      // window-rank view exactly (id, micros-precise ts, type, value)
      def us(t: java.sql.Timestamp): Long =
        t.getTime * 1000 + (t.getNanos / 1000) % 1000
      val finalState = spark.table("upsert_out").as[EventsStream.Latest]
        .collect().groupBy(_.user_id)
        .map { case (_, ls) =>
          val l = ls.maxBy(x => (us(x.last_ts), x.last_event_id))
          (l.user_id, l.last_event_id, us(l.last_ts), l.last_type, l.last_value)
        }.toSet
      val batch = SparkEntry.queries("stream_upsert")(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), us(r.getTimestamp(2)),
          r.getString(3), r.getDouble(4))).toSet
      assert(finalState == batch,
        s"stream=${finalState.size} batch=${batch.size} " +
          s"missing=${(batch -- finalState).take(3)} extra=${(finalState -- batch).take(3)}")
    } finally q.stop()
  }

  test("stateful sessionize matches the batch window-function form") {
    import spark.implicits._
    val events = Tables(spark, sf).events
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventsStream.Event]
    // NoTimeout + single batch: sessions still in state at end are
    // not emitted; compare only the emitted (closed) ones.
    val emitted = EventsStream.sessionize(events)
      .collect().map(s => (s.user_id, s.session_start.getTime, s.n_events)).toSet
    val batch = SparkEntry.queries("stream_sessionize")(spark, sf)
      .select($"user_id", $"session_start", $"n_events").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2))).toSet
    assert(emitted.nonEmpty)
    assert(emitted.subsetOf(batch),
      s"emitted=${emitted.size} not within batch=${batch.size}")
  }
}
