package graft.operators

import graft.{Q, Tables}
import graft.Out._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Multimodal-column plumbing (SURVEY §2c): treat media as opaque
  * `binary` payloads with typed metadata, and run deterministic
  * decode/sample transforms over them.
  *
  * The container has no image/audio codecs, so the *decode* step is
  * a clearly-marked deterministic stub (see [[StubDecoders]]); the
  * Spark-side plumbing — binary columns, schema'd metadata, frame
  * explosion, per-frame hashing, partition-parallel layout — is real
  * and oracle-checked where SQL-expressible.
  */
object Multimodal {

  /** STUB DECODE BOUNDARY ---------------------------------------
    * Real deployments replace these with codec calls (e.g. JNI
    * image decode) inside the same column expressions; everything
    * downstream (schema, partitioning, batch shape) is unchanged.
    * Dimensions are derived deterministically from payload size so
    * the oracle can reproduce them.
    */
  object StubDecoders {
    def fakeWidth(nBytes: org.apache.spark.sql.Column) = nBytes % 320 + 320
    def fakeHeight(nBytes: org.apache.spark.sql.Column) = nBytes % 240 + 240
  }

  // ---- mm_metadata: binary payload + typed metadata extraction ----

  private def mmMetadata(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).documents
      .withColumn("payload", $"text".cast("binary"))
      .select($"doc_id",
        when($"doc_id" % 3 === 0, "image")
          .when($"doc_id" % 3 === 1, "audio")
          .otherwise("video").as("modality"),
        octet_length($"payload").cast(LongType).as("n_bytes"),
        md5($"payload").as("checksum"),
        StubDecoders.fakeWidth(octet_length($"payload").cast(LongType)).as("width"),
        StubDecoders.fakeHeight(octet_length($"payload").cast(LongType)).as("height"))
      .resultOrder($"doc_id")
  }

  private val mmMetadataSql =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'image'
      |       WHEN doc_id % 3 = 1 THEN 'audio'
      |       ELSE 'video' END AS modality,
      |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
      |  md5(text) AS checksum,
      |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) % 320 + 320 AS width,
      |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) % 240 + 240 AS height
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- mm_framesample: deterministic frame sampling ----
  // Payload is chunked into 16-byte "frames"; every 4th frame is
  // sampled and hashed — the plumbing (explode, per-frame transform,
  // hash) is exactly what a video frame-sampler does after decode.

  /** Non-overlapping 16-byte frame explode shared by mm_framesample
    * and mm_video_scene: (doc_id, text, pos, frame_idx) per frame.
    * The empty-text guard matters — sequence(0, -1) counts DOWN to
    * [0, -1] and would emit a phantom frame the oracles' range()
    * doesn't have. One copy so the framing convention can never
    * desynchronize between the sampler and the cut detector.
    */
  private def frameExplode(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val nFrames = ((length($"text") + 15) / 16).cast("int")
    docs.select($"doc_id", $"text",
        posexplode(when(nFrames > 0, sequence(lit(0), nFrames - 1))
          .otherwise(array().cast("array<int>"))))
      .withColumnRenamed("col", "frame_idx")
  }

  private def mmFramesample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    frameExplode(Tables(spark, dir).documents)
      .filter($"frame_idx" % 4 === 0)
      .select($"doc_id", $"frame_idx".cast(LongType).as("frame_idx"),
        md5($"text".substr($"frame_idx" * 16 + 1, lit(16))).as("frame_md5"))
      .resultOrder($"doc_id", $"frame_idx")
  }

  private val mmFramesampleSql =
    """SELECT doc_id, CAST(k AS BIGINT) AS frame_idx,
      |  md5(substr(text, k * 16 + 1, 16)) AS frame_md5
      |FROM documents, UNNEST(range(0, (length(text) + 15) // 16)) AS t(k)
      |WHERE k % 4 = 0
      |ORDER BY doc_id, frame_idx""".stripMargin

  // ---- mm_decode_batch: batch-iterator decode boundary ----
  // The shape a real codec integration needs: a typed mapPartitions
  // pipeline where each task walks its partition's payloads through
  // a (stubbed) decoder exactly once, amortizing decoder init per
  // batch — the Scala analog of a pandas mapInPandas decode UDF.
  // The stub features are pure integer/byte arithmetic, so the
  // DuckDB oracle recomputes them over the ASCII payload bytes and
  // the mapPartitions boundary is hash-checked like everything else
  // (MultimodalSpec additionally asserts the per-task batch shape).

  final case class MediaRow(doc_id: Long, payload: Array[Byte])
  final case class MediaFeatures(doc_id: Long, n_bytes: Long,
      brightness: Double, edge_count: Long)

  /** STUB: stands in for a codec call. Deterministic features from
    * the payload bytes so tests and future rounds can verify the
    * plumbing without image libraries.
    */
  def decodeStub(payload: Array[Byte]): (Double, Long) = {
    var sum = 0L
    var edges = 0L
    var i = 0
    while (i < payload.length) {
      sum += payload(i) & 0xFF
      if (i > 0 && math.abs((payload(i) & 0xFF) - (payload(i - 1) & 0xFF)) > 16)
        edges += 1
      i += 1
    }
    (if (payload.isEmpty) 0.0 else sum.toDouble / payload.length, edges)
  }

  private def mmDecodeBatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).documents
      .select($"doc_id", $"text".cast("binary").as("payload"))
      .as[MediaRow]
      .mapPartitions { rows =>
        // per-partition decoder init would go here (once per task)
        rows.map { r =>
          // null-safe like the SQL siblings: a null payload decodes
          // to empty features instead of NPE-ing the task
          val p = if (r.payload == null) Array.emptyByteArray else r.payload
          val (brightness, edges) = decodeStub(p)
          MediaFeatures(r.doc_id, p.length.toLong, brightness, edges)
        }
      }
      .toDF()
      .resultOrder($"doc_id")
  }

  private val mmDecodeBatchSql =
    """WITH b AS (
      |  SELECT doc_id,
      |    CASE WHEN text = '' THEN CAST([] AS BIGINT[])
      |         ELSE [CAST(ascii(ch) AS BIGINT) for ch in string_split(text, '')]
      |    END AS cs
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(cs) AS BIGINT) AS n_bytes,
      |  CASE WHEN len(cs) = 0 THEN 0.0
      |       ELSE CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), cs),
      |                 (a, x) -> a + x) AS DOUBLE) / len(cs) END AS brightness,
      |  CAST(len([i for i in range(2, len(cs) + 1)
      |            if abs(cs[i] - cs[i-1]) > 16]) AS BIGINT) AS edge_count
      |FROM b ORDER BY doc_id""".stripMargin

  // ---- mm_phash: perceptual average-hash + LSH band keys ----
  // Image dedup at corpus scale: byte-identical checksums (mm_metadata's
  // md5) miss re-encoded copies, so pipelines hash DECODED content —
  // here the classic average-hash (aHash): split the payload into
  // `phashBits` slices, set bit j iff slice-j mean brightness exceeds
  // the global mean. Near-identical payloads differ in few bits, so
  // candidate pairs come from equality on 15-bit hash band lanes
  // (masked to a corpus-sized width in mm_dedup) — the
  // same banding trick minhash LSH uses, and the join stays an
  // equi-join on band keys (never a corpus self-join on hamming
  // distance). The comparison is exact integer cross-multiplication
  // (slice_sum · n > total_sum · slice_len), no float means, so the
  // DuckDB oracle reproduces every bit.
  //
  // The decode boundary is the same stub as above: a real deployment
  // computes slice sums from decoded pixel rows; everything from the
  // bit-packing down (band keys, the dedup join in MultimodalSpec) is
  // deployment-real. Row-local, one whole-stage-codegen pass (the
  // AverageHash kernel walks each payload once), zero shuffle.

  // 60-bit signature in 4 × 15-bit lanes (r14; was 48/12): the widest
  // layout whose bits and lane keys all stay strictly positive in a
  // signed 64-bit word on BOTH engines (DuckDB raises on 1<<63, and a
  // sign bit would drag arithmetic-shift semantics into the band
  // extraction). mm_dedup masks each lane down to a corpus-sized
  // width, so the LANE is the ceiling, not the operating point.
  private[graft] val phashBits = 60L
  private[graft] val phashBandBits = 15

  /** The phash columns for any frame with (text) — private[graft] so
    * the spec can run the planted-pair band join on a synthetic frame.
    */
  private[graft] def withPhash(df: DataFrame): DataFrame = {
    val bands = (0 until (phashBits.toInt / phashBandBits)).map(b =>
      (shiftright(col("phash"), b * phashBandBits) % (1L << phashBandBits))
        .as(s"band$b"))
    df.withColumn("phash",
        graft.functions.AverageHash.average_hash(col("text"), phashBits.toInt))
      .select(col("*") +: bands: _*)
  }

  /** Derived from the same constants as the SQL twin's generated
    * column list — retuning phashBits/phashBandBits keeps both
    * engines' schemas in lockstep.
    */
  private[graft] def bandCols: Seq[String] =
    (0 until phashBits.toInt / phashBandBits).map(b => s"band$b")

  /** The UNCHECKPOINTED signature derivation (for plan-shape guards). */
  private[graft] def phashDocsPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withPhash(Tables(spark, dir).documents)
      .select(($"doc_id" +: $"phash" +: bandCols.map(col)): _*)
  }

  /** Per-doc phash signatures + band keys, checkpointed and cached
    * per (session, dir) — the 60-slice signature pass is the
    * expensive half of the phash pipeline and the signatures are a
    * deterministic corpus artifact like the minhash posting; mm_dedup
    * self-joins this frame, so without the checkpoint the doc scan
    * would run once per join side.
    */
  private def phashDocs(spark: SparkSession, dir: String): DataFrame =
    graft.Artifacts(spark, dir, "Multimodal.phashDocs")(
      phashDocsPlan(spark, dir).localCheckpoint())

  private def mmPhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    phashDocs(spark, dir).resultOrder($"doc_id")
  }

  /** Shared CTE stack ending in `pb` = (doc_id, phash, band0..3) —
    * mm_phash publishes it directly; mm_dedup builds its candidate
    * join on top of the same derivation so the two oracles can never
    * drift.
    */
  private val phashSqlCtes = {
    import graft.functions.ByteSum
    val bandExprs = bandCols.zipWithIndex.map { case (name, b) =>
      s"(phash >> ${b * phashBandBits}) % ${1L << phashBandBits} AS $name" }.mkString(",\n  ")
    s"""d AS (SELECT doc_id, text, length(text) AS n,
       |             ${ByteSum.sql("text")} AS total_sum
       |           FROM documents),
       |s AS (SELECT doc_id, CAST(j AS BIGINT) AS j, n, total_sum,
       |        substr(text, CAST((j * n) // $phashBits + 1 AS BIGINT),
       |          CAST(((j + 1) * n) // $phashBits - (j * n) // $phashBits AS BIGINT)) AS sl,
       |        ((j + 1) * n) // $phashBits - (j * n) // $phashBits AS slen
       |      FROM d, UNNEST(range(0, $phashBits)) AS r(j)),
       |bits AS (SELECT doc_id, j,
       |        CASE WHEN (${ByteSum.sql("sl")}) * n > total_sum * slen
       |             THEN 1 ELSE 0 END AS bit
       |      FROM s),
       |ph AS (SELECT doc_id,
       |        CAST(SUM(bit * (CAST(1 AS BIGINT) << CAST(j AS INT))) AS BIGINT) AS phash
       |      FROM bits GROUP BY doc_id),
       |pb AS (SELECT doc_id, phash,
       |  $bandExprs
       |  FROM ph)""".stripMargin
  }

  private val mmPhashSql =
    s"""WITH $phashSqlCtes
       |SELECT doc_id, phash, ${bandCols.mkString(", ")}
       |FROM pb ORDER BY doc_id""".stripMargin

  // ---- mm_resize: deterministic nearest-neighbor downsample ----
  // The remaining multimodal verb (decode / feature-extract / RESIZE /
  // frame-sample): collapse each payload to a fixed target width by
  // nearest-neighbor sampling — pixel i of the output is source byte
  // (i·n) div T, the standard NN resampling index map. Sampling
  // positions are static per row (T is a build-time constant), so the
  // 16 substrings unroll into one flat codegen projection: row-local,
  // zero shuffle, and the thumbnail
  // fingerprint (rolling hash of the sampled bytes) is the
  // cheap-to-compare key a dedup-by-thumbnail pass would join on. A
  // real deployment swaps byte sampling for decoded-pixel sampling
  // inside the same projection; payloads shorter than T repeat
  // samples (NN upsampling), identically on both engines.

  private[graft] val resizeTarget = 16

  private def mmResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = length($"text")
    // (i·n) div T on non-negative ints ≪ 2^53: double-div + trunc-cast
    // equals the oracle's integer floor-div
    val sampled = concat((0 until resizeTarget).map { i =>
      $"text".substr(((lit(i) * n).cast("double") / resizeTarget)
        .cast("int") + 1, lit(1))
    }: _*)
    Tables(spark, dir).documents
      .select($"doc_id", n.cast(LongType).as("n_bytes"),
        sampled.as("thumb"),
        graft.functions.RollingHash.rolling_hash(sampled).as("thumb_hash"))
      .resultOrder($"doc_id")
  }

  private val mmResizeSql = {
    val sampled = (0 until resizeTarget)
      .map(i => s"substr(text, ($i * length(text)) // $resizeTarget + 1, 1)")
      .mkString(" || ")
    s"""SELECT doc_id,
       |  CAST(length(text) AS BIGINT) AS n_bytes,
       |  $sampled AS thumb,
       |  ${graft.functions.RollingHash.sql(s"($sampled)")} AS thumb_hash
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---- mm_dedup: perceptual-hash image dedup (band LSH + hamming) ----
  // The operator mm_phash's band keys exist FOR: re-encoded copies of
  // the same image hash to nearby (not identical) signatures, so
  // byte-checksum dedup misses them. Candidates = pairs agreeing on
  // ANY of the 4 masked 15-bit band lanes — an equi-join on (band_idx,
  // band_key), never a corpus self-join on hamming distance; verify =
  // exact popcount(xor) over the 60-bit signatures, kept iff ≤ 10.
  // Pigeonhole gives EXACT recall to hamming ≤ 3 (3 dirty bits touch
  // ≤ 3 of 4 bands); beyond that, recall needs the differing bits to
  // cluster into ≤ 3 bands — the common case for locally-edited
  // re-encodes, same contract as dedup_simhash's block-pair tables.
  // Both engines derive candidates from the identical band tables, so
  // the output is exactly hash-checked despite the probabilistic
  // recall contract. Scale shape: the join is shuffled on the band
  // key, nothing is broadcast, and the verify is row-local popcount.
  //
  // The band-key WIDTH follows the corpus (r14; the r13 form pinned
  // 4×12-bit keys and saturated at sf10: n/4096 buckets → quadratic
  // pair growth, measured 2.0→47.6 s for 10× rows). Each 15-bit lane
  // is masked down to w = widthFor(nDocs) bits — the same
  // one-bit-per-corpus-doubling dial as dedup_embedding, computed
  // from COUNT(*) by both engines (Spark: a parquet-metadata count;
  // DuckDB: the static CASE ladder in the wp CTE), so bucket
  // population holds near-constant until the lane ceiling. Masking
  // low bits of a lane keeps the pigeonhole contract (4 disjoint bit
  // ranges, ≤3 dirty bits still leave ≥1 clean band); the 15-bit
  // ceiling itself saturates past ~10⁶ images, where the production
  // layout is a longer multi-word signature with the same masking.
  //
  // Each qualifying pair is emitted from its FIRST matching band only
  // (r14): both phashes ride the join row, so "no earlier band also
  // matched" is a row-local mask comparison, and the candidate stream
  // is exactly-once BY CONSTRUCTION — no DISTINCT. That matters
  // because this corpus's aHash is low-entropy (word-salad brightness
  // oscillates, so hamming-close pairs are genuinely dense: 22.4M
  // output pairs at sf10): with Ω(output) work unavoidable, the
  // distinct was a second full exchange of the ~4×-multiplied pair
  // stream — measured at sf10, dropping it and filtering before any
  // shuffle is the difference between 43 s and the join's raw cost.

  private[graft] val mmDedupThreshold = 10L
  private[graft] val mmDedupTargetBucket = 8L
  private[graft] def mmBandWidthFor(n: Long): Int =
    graft.functions.VectorFunctions.widthFor(
      n, mmDedupTargetBucket, phashBandBits)

  private def mmDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = phashDocs(spark, dir)
    val w = mmBandWidthFor(Tables(spark, dir).documents.count())
    val keys = docs.select($"doc_id", $"phash",
      posexplode(array(bandCols.map(col): _*)))
      .withColumnRenamed("pos", "band_idx")
      .withColumn("band_key", col("col") % (1L << w))
      .drop("col")
    val a = keys.select($"band_idx", $"band_key",
      $"doc_id".as("a_id"), $"phash".as("a_ph"))
    val b = keys.select($"band_idx".as("b_idx"), $"band_key".as("b_key"),
      $"doc_id".as("b_id"), $"phash".as("b_ph"))
    // masked lane b of a signature (non-negative, so % == bit mask)
    def lane(ph: org.apache.spark.sql.Column, i: Int) =
      shiftright(ph, i * phashBandBits) % (1L << w)
    // the first band where the two masked lanes agree — this join row
    // survives only if it IS that band, making the pair exactly-once
    val firstMatch = (0 until bandCols.size).foldRight(lit(-1)) {
      case (i, rest) => when(lane($"a_ph", i) === lane($"b_ph", i), lit(i))
        .otherwise(rest)
    }
    a.join(b, $"band_idx" === $"b_idx" && $"band_key" === $"b_key" &&
        $"a_id" < $"b_id")
      .filter($"band_idx" === firstMatch &&
        bit_count($"a_ph".bitwiseXOR($"b_ph")) <= mmDedupThreshold)
      .select($"a_id", $"b_id",
        bit_count($"a_ph".bitwiseXOR($"b_ph")).cast(LongType).as("hamming"))
      .resultOrder($"a_id", $"b_id")
  }

  private val mmDedupSql: String = {
    val bandArms = bandCols.zipWithIndex.map { case (name, i) =>
      s"SELECT doc_id, phash, $i AS band_idx, " +
        s"$name % (CAST(1 AS BIGINT) << wp.p) AS band_key FROM pb, wp" }
      .mkString("\n  UNION ALL ")
    s"""WITH nn AS (SELECT COUNT(*) AS c FROM documents),
       |wp AS (
       |  SELECT ${graft.functions.VectorFunctions.widthLadderSql(
                    "nn.c", mmDedupTargetBucket, phashBandBits)} AS p FROM nn),
       |$phashSqlCtes,
       |bands AS (
       |  $bandArms),
       |cand AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |    a.phash AS a_ph, b.phash AS b_ph
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |      AND a.doc_id < b.doc_id, wp
       |  WHERE a.band_idx = (CASE
       |    ${bandCols.indices.map(i =>
               s"WHEN ((a.phash >> ${i * phashBandBits}) % (CAST(1 AS BIGINT) << wp.p)) = " +
               s"((b.phash >> ${i * phashBandBits}) % (CAST(1 AS BIGINT) << wp.p)) THEN $i")
             .mkString("\n    ")}
       |    ELSE -1 END))
       |SELECT a_id, b_id,
       |  CAST(bit_count(xor(a_ph, b_ph)) AS BIGINT) AS hamming
       |FROM cand
       |WHERE bit_count(xor(a_ph, b_ph)) <= $mmDedupThreshold
       |ORDER BY a_id, b_id""".stripMargin
  }

  // ---- mm_audio_window: overlapped framing + window features ----
  // The audio verb of the multimodal surface (metadata/frame-sample/
  // decode/phash/resize cover image+video): stub-decoded 8-bit PCM
  // (payload bytes = samples, midpoint 128) is framed into W=32
  // windows hopped by H=16 — the 50%-overlap STFT layout every
  // spectral featurizer uses — and each window gets exact-integer
  // features: dc = byte_sum (DC offset) and energy = Σ(s−128)²
  // (ByteEnergy, a native codegen Expression like ByteSum), so the
  // oracle reproduces both bit-for-bit with no float RMS. Only FULL
  // windows are framed (trailing partial is dropped — the framing
  // convention that keeps window stats comparable). Row-local
  // explode + projection, zero shuffle before the output order: the
  // 100 TB plan is the scan itself, windows×corpus staying inside
  // one whole-stage-codegen region.

  private val audioW = 32
  private val audioH = 16

  private def mmAudioWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = length($"text")
    val nWin = when(n >= audioW, (n - audioW) / audioH + 1).otherwise(0).cast("int")
    Tables(spark, dir).documents
      .filter($"doc_id" % 3 === 1) // the audio modality slice (mm_metadata routing)
      .select($"doc_id", $"text",
        posexplode(when(nWin > 0, sequence(lit(0), nWin - 1))
          .otherwise(array().cast("array<int>"))))
      .withColumnRenamed("col", "window_idx")
      .select($"doc_id", $"window_idx".cast(LongType).as("window_idx"),
        graft.functions.ByteSum.byte_sum(
          $"text".substr($"window_idx" * audioH + 1, lit(audioW))).as("dc"),
        graft.functions.ByteEnergy.byte_energy(
          $"text".substr($"window_idx" * audioH + 1, lit(audioW))).as("energy"))
      .resultOrder($"doc_id", $"window_idx")
  }

  private val mmAudioWindowSql =
    s"""SELECT doc_id, CAST(k AS BIGINT) AS window_idx,
       |  ${graft.functions.ByteSum.sql(s"substr(text, k * $audioH + 1, $audioW)")} AS dc,
       |  ${graft.functions.ByteEnergy.sql(s"substr(text, k * $audioH + 1, $audioW)")} AS energy
       |FROM documents,
       |  UNNEST(range(0, CASE WHEN length(text) >= $audioW
       |    THEN (length(text) - $audioW) // $audioH + 1 ELSE 0 END)) AS t(k)
       |WHERE doc_id % 3 = 1
       |ORDER BY doc_id, window_idx""".stripMargin

  // ---- mm_video_scene: scene-cut detection over the frame stream ----
  // The video ANALYSIS verb on top of the framing plumbing
  // (mm_framesample samples; this one interprets): consecutive-frame
  // brightness delta |Σbytes(k) − Σbytes(k−1)| above a threshold is
  // the classic hard-cut detector every shot-segmentation pipeline
  // starts with. Features are the codegen ByteSum over non-overlapping
  // 16-byte stub "frames"; the only exchange is the per-video lag
  // window (hashpartitioning(doc_id) — one task per video's frame
  // list, bounded by clip length, parallel across the corpus). τ=200
  // flags ~6% of frame transitions on this corpus.

  private val sceneTau = 200L

  private def mmVideoScene(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"frame_idx")
    frameExplode(Tables(spark, dir).documents
        .filter($"doc_id" % 3 === 2)) // the video modality slice (mm_metadata routing)
      .select($"doc_id", $"frame_idx".cast(LongType).as("frame_idx"),
        graft.functions.ByteSum.byte_sum(
          $"text".substr($"frame_idx" * 16 + 1, lit(16))).as("bs"))
      .withColumn("delta", abs($"bs" - lag($"bs", 1).over(w)))
      .filter($"delta" > sceneTau)
      .select($"doc_id", $"frame_idx", $"delta")
      .resultOrder($"doc_id", $"frame_idx")
  }

  private val mmVideoSceneSql =
    s"""WITH f AS (
       |  SELECT doc_id, CAST(k AS BIGINT) AS frame_idx,
       |    ${graft.functions.ByteSum.sql("substr(text, k * 16 + 1, 16)")} AS bs
       |  FROM documents,
       |    UNNEST(range(0, (length(text) + 15) // 16)) AS t(k)
       |  WHERE doc_id % 3 = 2),
       |d AS (SELECT doc_id, frame_idx,
       |        abs(bs - LAG(bs) OVER (PARTITION BY doc_id ORDER BY frame_idx))
       |          AS delta
       |      FROM f)
       |SELECT doc_id, frame_idx, delta FROM d
       |WHERE delta > $sceneTau
       |ORDER BY doc_id, frame_idx""".stripMargin

  val all: Seq[Q] = Seq(
    Q("mm_video_scene", mmVideoScene, Some(mmVideoSceneSql)),
    Q("mm_audio_window", mmAudioWindow, Some(mmAudioWindowSql)),
    Q("mm_metadata", mmMetadata, Some(mmMetadataSql)),
    Q("mm_framesample", mmFramesample, Some(mmFramesampleSql)),
    Q("mm_decode_batch", mmDecodeBatch, Some(mmDecodeBatchSql)),
    Q("mm_phash", mmPhash, Some(mmPhashSql)),
    Q("mm_resize", mmResize, Some(mmResizeSql)),
    Q("mm_dedup", mmDedup, Some(mmDedupSql))
  )
}
