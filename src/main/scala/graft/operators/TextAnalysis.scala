package graft.operators

import graft.{Q, Tables}
import graft.Out._
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Text-analysis operators for the training-data pipeline (SURVEY
  * §2c): token counting, quality scoring, language-ID heuristics and
  * content fingerprinting over the `documents` table.
  *
  * All pure narrow transformations — they pipeline inside one
  * whole-stage-codegen pass over the scan, shuffle nothing, and
  * scale linearly with input splits.
  */
object TextAnalysis {

  /** Small public stopword lists (top function words per language)
    * for the language-ID vote.
    */
  private val stop = Map(
    "en" -> Seq("the", "of", "and", "to", "a", "in", "is", "it", "that", "for"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "los", "se", "del", "las"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit", "den", "im", "ein"),
    "fr" -> Seq("le", "les", "des", "et", "de", "la", "un", "une", "du", "dans")
  )

  private def inList(vals: Seq[String]): String =
    vals.map(v => s"'$v'").mkString("(", ", ", ")")

  // ---- text_tokens: whitespace + BPE-ish regex token counts ----

  private val bpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  private def textTokens(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).documents
      .select($"doc_id",
        size(tokens($"text")).cast(LongType).as("n_ws_tokens"),
        regexp_count($"text", lit(bpePattern)).cast(LongType).as("n_bpe_tokens"),
        (length($"text").cast("double") /
          size(tokens($"text")).cast("double")).as("chars_per_token"))
      .repartition(1).sortWithinPartitions($"doc_id")
  }

  private val textTokensSql =
    s"""SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       |  CAST(len(regexp_extract_all(text, '$bpePattern')) AS BIGINT) AS n_bpe_tokens,
       |  CAST(length(text) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS chars_per_token
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---- text_quality: heuristic quality scoring ----
  // Reference analog: the reference filters series by simple ratio
  // statistics (eda.py outlier logic); here the ratios are the
  // standard LLM-corpus quality signals.

  /** Appends the quality columns to any frame with a `text` column —
    * row-local projections, so composing with other with* stages
    * stays a single pass over the scan (llm_corpus_select relies on
    * this).
    */
  private[graft] def withQuality(df: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val n = size(t).cast("double")
    // native codegen'd set-membership count — NOT size(filter(...)):
    // HOF lambdas run interpreted per token on a corpus-wide scan
    // (see TokenSetCount's doc); value is identical (multiset count)
    val stopHits = graft.functions.TokenSetCount
      .token_set_count(t, stop("en")).cast("double")
    val rep = (n - size(array_distinct(t)).cast("double")) / n
    val stopRatio = stopHits / n
    val avgTokLen = (length(col("text")).cast("double") - (n - 1.0)) / n
    val score = lit(0.4) * (lit(1.0) - rep) + lit(0.3) * least(stopRatio * 5.0, lit(1.0)) +
      lit(0.3) * when(avgTokLen.between(3.0, 10.0), 1.0).otherwise(0.0)
    df.withColumn("n_tokens", size(t).cast(LongType))
      .withColumn("repetition_ratio", rep)
      .withColumn("stopword_ratio", stopRatio)
      .withColumn("avg_token_len", avgTokLen)
      .withColumn("quality_score", score)
  }

  private[graft] def textQuality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withQuality(Tables(spark, dir).documents)
      .select($"doc_id", $"n_chars", $"n_tokens", $"repetition_ratio",
        $"stopword_ratio", $"avg_token_len", $"quality_score")
      .resultOrder($"doc_id")
  }

  private[graft] val textQualitySql = {
    val n = "CAST(len(string_split(text, ' ')) AS DOUBLE)"
    val stopHits = s"CAST(len(list_filter(string_split(text, ' '), tk -> tk IN ${inList(stop("en"))})) AS DOUBLE)"
    val rep = s"(($n - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)) / $n)"
    val stopRatio = s"($stopHits / $n)"
    val avgTokLen = s"((CAST(length(text) AS DOUBLE) - ($n - 1.0)) / $n)"
    s"""SELECT doc_id, n_chars,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |  $rep AS repetition_ratio,
       |  $stopRatio AS stopword_ratio,
       |  $avgTokLen AS avg_token_len,
       |  0.4 * (1.0 - $rep) + 0.3 * least($stopRatio * 5.0, 1.0)
       |    + 0.3 * (CASE WHEN $avgTokLen BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END) AS quality_score
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---- text_langid: stopword-vote language ID ----

  /** Appends the stopword-vote columns + pred_lang (row-local, same
    * single-pass composition property as withQuality).
    */
  private[graft] def withLangid(df: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    // codegen'd per-language stopword votes (see withQuality's note)
    def hits(l: String) =
      graft.functions.TokenSetCount.token_set_count(t, stop(l))
    df.withColumn("en_hits", hits("en"))
      .withColumn("es_hits", hits("es"))
      .withColumn("de_hits", hits("de"))
      .withColumn("fr_hits", hits("fr"))
      .withColumn("pred_lang",
        when(greatest(col("en_hits"), col("es_hits"), col("de_hits"), col("fr_hits")) === 0, "und")
          .when(col("en_hits") >= greatest(col("es_hits"), col("de_hits"), col("fr_hits")), "en")
          .when(col("es_hits") >= greatest(col("de_hits"), col("fr_hits")), "es")
          .when(col("de_hits") >= col("fr_hits"), "de")
          .otherwise("fr"))
  }

  private[graft] def textLangid(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withLangid(Tables(spark, dir).documents)
      .select($"doc_id", $"lang", $"en_hits", $"es_hits", $"de_hits",
        $"fr_hits", $"pred_lang")
      .resultOrder($"doc_id")
  }

  private[graft] val textLangidSql = {
    def hits(l: String) =
      s"CAST(len(list_filter(string_split(text, ' '), tk -> tk IN ${inList(stop(l))})) AS BIGINT)"
    s"""SELECT doc_id, lang, en_hits, es_hits, de_hits, fr_hits,
       |  CASE
       |    WHEN greatest(en_hits, es_hits, de_hits, fr_hits) = 0 THEN 'und'
       |    WHEN en_hits >= greatest(es_hits, de_hits, fr_hits) THEN 'en'
       |    WHEN es_hits >= greatest(de_hits, fr_hits) THEN 'es'
       |    WHEN de_hits >= fr_hits THEN 'de'
       |    ELSE 'fr' END AS pred_lang
       |FROM (
       |  SELECT doc_id, lang,
       |    ${hits("en")} AS en_hits, ${hits("es")} AS es_hits,
       |    ${hits("de")} AS de_hits, ${hits("fr")} AS fr_hits
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  // ---- text_fingerprint: order-insensitive content fingerprint ----

  private def textFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).documents
      .select($"doc_id",
        md5($"text").as("exact_md5"),
        bowFingerprint($"text").as("bow_fp"),
        size(array_distinct(tokens($"text"))).cast(LongType).as("vocab_size"))
      .resultOrder($"doc_id")
  }

  private val textFingerprintSql =
    """SELECT doc_id,
      |  md5(text) AS exact_md5,
      |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bow_fp,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS vocab_size
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- text_top_bigrams: corpus-wide n-gram frequencies ----
  // Exploded tokens + window lead (the scalable shingle pattern),
  // then a plain count aggregate — vocabulary statistics for corpus
  // analysis.

  /** Adjacent-token bigram array built map-side from the token ARRAY
    * (zip with its own tail; the final position pairs with NULL and
    * is dropped, same rows as a lead-window over the exploded
    * stream) — no posexplode, no doc-partitioned window sort: n-gram
    * construction is row-local work, so the only exchange these
    * operators pay is the counting aggregate's.
    */
  private def bigramArr(toks: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    filter(
      zip_with(toks, slice(toks, lit(2), size(toks)),
        (a, b) => when(b.isNotNull, concat_ws(" ", a, b))),
      _.isNotNull)

  /** Longest equal-run in `array_sort(arr)` — the max multiplicity of
    * any element — as ONE O(n) fold. Row-local: no explode, no gram
    * shuffle, no per-element array building (an `array_append` fold
    * would be O(n²) in copies).
    */
  private def maxRunSql(arr: String): String =
    s"""aggregate(array_sort($arr),
       |  named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L),
       |  (s, x) -> named_struct(
       |    'prev', x,
       |    'run', IF(x <=> s.prev, s.run + 1L, 1L),
       |    'best', GREATEST(s.best, IF(x <=> s.prev, s.run + 1L, 1L))),
       |  s -> s.best)""".stripMargin

  /** The (doc_id, t, c) term-frequency posting table — the inverted-
    * index artifact a text deployment materializes once per corpus,
    * cached per (session, dir) like the shingle postings: text_tfidf
    * consumes it twice in one plan (the vocab df aggregate and the
    * scoring probe side — Spark has no cross-branch common-subplan
    * elimination, so uncached the scan+TermCounts+explode ran twice
    * per action) and text_lm_score consumes the identical frame.
    */
  private def tfPosting(spark: SparkSession, dir: String): DataFrame =
      graft.Artifacts(spark, dir, "TextAnalysis.tfPosting") {
    import spark.implicits._
    Tables(spark, dir).documents
      .select($"doc_id",
        explode(graft.functions.TermCounts.term_counts(tokens($"text"))).as("e"))
      .select($"doc_id", $"e.t".as("t"), $"e.c".as("c"))
      .localCheckpoint()
  }

  /** Vocabulary rollup of the tf posting — per-term document
    * frequency (`df`), corpus term count (`c`) and the corpus total
    * (`n`, a constant column) — cached alongside it: the second
    * index table a text deployment maintains. text_tfidf's idf join
    * and text_lm_score's surprisal join both consumed this rollup as
    * an inline vocab aggregate plus (for lm_score) a scalar-N job —
    * one extra exchange and one extra job per pass that a maintained
    * index doesn't pay. The constant-N column comes from a
    * single-partition unbounded window at BUILD time over the
    * vocab-sized aggregate (the audited aggregate-then-window
    * shape).
    */
  private def vocabPosting(spark: SparkSession, dir: String): DataFrame =
      graft.Artifacts(spark, dir, "TextAnalysis.vocabPosting") {
    import spark.implicits._
    tfPosting(spark, dir)
      .groupBy($"t")
      .agg(count(lit(1)).as("df"), sum($"c").as("c"))
      .withColumn("n", sum($"c").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .localCheckpoint()
  }

  private def topBigrams(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).documents
      .select(explode(bigramArr(tokens($"text"))).as("bigram"))
      .groupBy($"bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"bigram")
      .limit(20)
  }

  private val topBigramsSql =
    """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |tok AS (
      |  SELECT doc_id, toks[ord] AS t, ord
      |  FROM sp, UNNEST(range(1, len(toks) + 1)) AS r(ord)),
      |b AS (
      |  SELECT t || ' ' || LEAD(t, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS bigram,
      |    LEAD(t, 1) OVER (PARTITION BY doc_id ORDER BY ord) IS NOT NULL AS is_full
      |  FROM tok)
      |SELECT bigram, COUNT(*) AS n
      |FROM b WHERE is_full
      |GROUP BY bigram
      |ORDER BY n DESC, bigram
      |LIMIT 20""".stripMargin

  // ---- text_tfidf: top distinguishing term per document ----
  // Integer-scaled score tf·1e6 ÷ df (floor division) keeps the
  // ranking engine-exact — ln-based idf differs in the last ulp
  // between libm implementations.

  private def tfidf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // tf built ROW-LOCALLY (run-length fold over the sorted token
    // array): the raw token stream never shuffles — the first
    // exchange already carries (doc, term, tf) rows
    val tf = tfPosting(spark, dir).select($"doc_id", $"t", $"c".as("tf"))
    // df = the cached vocab rollup JOINED back — not a count window
    // over t: WindowExec must sort its partition input, so the window
    // form pays a full sort of tf on t where this form pays a
    // checkpoint scan (vocab-sized, Heaps-law sublinear) plus a join
    // that AQE turns into a broadcast at bench scale. Deliberately
    // NOT a broadcast hint: vocab grows with the corpus, AQE decides
    // by size.
    val df = vocabPosting(spark, dir).select($"t", $"df")
    // top term per doc via the TopKPerKey operator (k=1 per doc_id,
    // ordered score DESC then t ASC — a total order: (doc_id, t) is
    // unique in the tf posting) instead of a min-of-struct aggregate:
    // the struct buffer carried the tie-break STRING, and Spark plans
    // any var-width aggregation buffer as SortAggregate — a full sort
    // of the scored posting on BOTH sides of the doc_id exchange
    // (guide §4: fixed-width/codegen-friendly operators). TopKPerKey
    // keeps a bounded heap per doc instead: no sort anywhere, the
    // same map-side reduction (the exchange carries ≤ 1 row per
    // (doc, partition)), and the identical argmin row — lexicographic
    // min over (-score, t) ≡ top-1 under (score DESC, t ASC), and the
    // remaining fields never decide because (score, t) is already
    // unique per doc.
    val scored = tf.join(df, "t")
      .withColumn("score", expr("(tf * 1000000) div df"))
    graft.plans.TopKPerKey(scored, Seq("doc_id"),
        Seq(graft.plans.TopKPerKey.desc("score"), graft.plans.TopKPerKey.asc("t")), 1)
      .select($"doc_id", $"t".as("top_term"), $"tf", $"df", $"score")
      .resultOrder($"doc_id")
  }

  private val tfidfSql =
    """WITH tok AS (
      |  SELECT doc_id, u.t
      |  FROM documents, UNNEST(string_split(text, ' ')) AS u(t)),
      |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t),
      |df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
      |scored AS (
      |  SELECT tf.doc_id, tf.t, tf.tf, df.df,
      |    (tf.tf * 1000000) // df.df AS score,
      |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
      |      ORDER BY (tf.tf * 1000000) // df.df DESC, tf.t) AS rk
      |  FROM tf JOIN df USING (t))
      |SELECT doc_id, t AS top_term, tf, df, score
      |FROM scored WHERE rk = 1
      |ORDER BY doc_id""".stripMargin

  // ---- text_chunk: fixed-size token windows with stride overlap ----
  // The tokenize-and-chunk stage every pretraining pipeline runs
  // before sequence packing: size-32 token windows every 24 tokens
  // (8-token overlap so no span is split across a boundary without a
  // witness). Emits chunk coordinates + the cross-engine rolling hash
  // of the chunk text — the hash is what downstream chunk-level exact
  // dedup consumes, and it keeps the verified output narrow (no chunk
  // text through the exchange or the compare). Per-doc fanout is
  // ~n_tok/stride — a narrow map-side projection, zero shuffle before
  // the output sort.

  private val chunkSize = 32
  private val chunkStride = 24

  private def textChunk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).documents
      .select($"doc_id", tokens($"text").as("toks"))
      .withColumn("n_tok", size($"toks").cast(LongType))
      // 1 + ceil(max(n-size, 0) / stride) in pure integer arithmetic
      .withColumn("n_chunks", lit(1L) +
        expr(s"(greatest(n_tok - $chunkSize, 0L) + ${chunkStride - 1}L) div ${chunkStride}L"))
      .select($"doc_id", $"toks",
        explode(sequence(lit(0L), $"n_chunks" - 1L)).as("chunk_idx"))
      .withColumn("tok_start", $"chunk_idx" * chunkStride)
      .withColumn("ctoks",
        expr(s"slice(toks, CAST(tok_start + 1 AS INT), $chunkSize)"))
      .select($"doc_id", $"chunk_idx", $"tok_start",
        size($"ctoks").cast(LongType).as("n_chunk_tokens"),
        graft.functions.RollingHash.rolling_hash(array_join($"ctoks", " "))
          .as("chunk_hash"))
      .resultOrder($"doc_id", $"chunk_idx")
  }

  private val textChunkSql =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |n AS (SELECT doc_id, toks,
       |        1 + (greatest(len(toks) - $chunkSize, 0) + ${chunkStride - 1}) // $chunkStride AS n_chunks
       |      FROM d),
       |c AS (SELECT doc_id, toks, CAST(ci AS BIGINT) AS chunk_idx
       |      FROM n, UNNEST(range(0, n_chunks)) AS r(ci)),
       |s AS (SELECT doc_id, chunk_idx, chunk_idx * $chunkStride AS tok_start,
       |        toks[chunk_idx * $chunkStride + 1 : chunk_idx * $chunkStride + $chunkSize] AS ctoks
       |      FROM c)
       |SELECT doc_id, chunk_idx, tok_start,
       |  CAST(len(ctoks) AS BIGINT) AS n_chunk_tokens,
       |  ${graft.functions.RollingHash.sql("array_to_string(ctoks, ' ')")} AS chunk_hash
       |FROM s ORDER BY doc_id, chunk_idx""".stripMargin

  // ---- text_repetition: intra-document repetition filter ----
  // The Gopher-family repetition signals (Rae et al. 2021, table A1)
  // adapted to this corpus: the reference signals are duplicate-LINE
  // fractions, but this corpus is flat space-separated tokens (no
  // newlines), so the line-granularity signals map to their
  // token/n-gram forms — duplicate-token fraction, top-bigram mass,
  // duplicate-trigram fraction. Docs where one n-gram dominates or
  // most grams are repeats are loop/boilerplate artifacts that
  // poison training corpora.
  //
  // All three gram granularities (token, bigram, trigram) are built
  // row-locally from the token array and reduced to per-doc moments
  // in the same projection — zero shuffles before the output sort
  // (grams are per-doc signals, never corpus-global).
  //
  // Thresholds calibrated on the corpus distribution: dup_token_frac
  // p50 = 0.54 / p90 = 0.68, top_bigram_frac p50 = 0.03 / p90 = 0.07,
  // so (0.65, 0.08) flags the ~10-15% repetitive tail.

  private val dupTokThreshold = 0.65
  private val topBigramThreshold = 0.08

  private def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // fully ROW-LOCAL: every signal is a per-doc array statistic —
    // distinct fractions via array_distinct, the top-bigram count as
    // a max-run fold over the sorted bigram array — so the operator
    // is one narrow projection over the scan plus the output sort.
    // The r6 form exploded a 3×-token (kind, gram) stream through two
    // hash-aggregate exchanges; per-doc stats never needed cross-row
    // context, so that shuffle bought nothing at any scale.
    val stats = Tables(spark, dir).documents
      .withColumn("toks", tokens($"text"))
      .withColumn("bi", bigramArr($"toks"))
      .withColumn("tri",
        filter(
          zip_with($"bi", slice($"toks", lit(3), size($"toks")),
            (ab, c) => when(c.isNotNull, concat_ws(" ", ab, c))),
          _.isNotNull))
      .select($"doc_id",
        size($"toks").cast(LongType).as("n_tok"),
        size(array_distinct($"toks")).cast(LongType).as("d_tok"),
        size($"bi").cast(LongType).as("n_2"),
        expr(maxRunSql("bi")).cast(LongType).as("top_2"),
        size($"tri").cast(LongType).as("n_3"),
        size(array_distinct($"tri")).cast(LongType).as("d_3"))
    stats.select($"doc_id", $"n_tok",
        (lit(1.0) - $"d_tok".cast(DoubleType) / $"n_tok".cast(DoubleType))
          .as("dup_token_frac"),
        when($"n_2" > 0, $"top_2".cast(DoubleType) / $"n_2".cast(DoubleType))
          .otherwise(0.0).as("top_bigram_frac"),
        when($"n_3" > 0, lit(1.0) - $"d_3".cast(DoubleType) / $"n_3".cast(DoubleType))
          .otherwise(0.0).as("dup_trigram_frac"))
      .withColumn("is_repetitive",
        $"dup_token_frac" > dupTokThreshold ||
          $"top_bigram_frac" > topBigramThreshold)
      .resultOrder($"doc_id")
  }

  private val textRepetitionSql =
    s"""WITH sp AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |tok AS (SELECT doc_id, toks[ord] AS t, ord
       |        FROM sp, UNNEST(range(1, len(toks) + 1)) AS r(ord)),
       |led AS (SELECT doc_id, t,
       |          LEAD(t, 1) OVER w AS t1, LEAD(t, 2) OVER w AS t2
       |        FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY ord)),
       |grams AS (
       |  SELECT doc_id, 1 AS kind, t AS gram FROM led
       |  UNION ALL
       |  SELECT doc_id, 2, t || ' ' || t1 FROM led WHERE t1 IS NOT NULL
       |  UNION ALL
       |  SELECT doc_id, 3, t || ' ' || t1 || ' ' || t2 FROM led WHERE t2 IS NOT NULL),
       |cnt AS (SELECT doc_id, kind, gram, COUNT(*) AS c
       |        FROM grams GROUP BY doc_id, kind, gram),
       |stats AS (
       |  SELECT doc_id,
       |    SUM(CASE WHEN kind = 1 THEN c ELSE 0 END) AS n_tok,
       |    SUM(CASE WHEN kind = 1 THEN 1 ELSE 0 END) AS d_tok,
       |    SUM(CASE WHEN kind = 2 THEN c ELSE 0 END) AS n_2,
       |    MAX(CASE WHEN kind = 2 THEN c END) AS top_2,
       |    SUM(CASE WHEN kind = 3 THEN c ELSE 0 END) AS n_3,
       |    SUM(CASE WHEN kind = 3 THEN 1 ELSE 0 END) AS d_3
       |  FROM cnt GROUP BY doc_id)
       |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
       |  1.0 - CAST(d_tok AS DOUBLE) / CAST(n_tok AS DOUBLE) AS dup_token_frac,
       |  CASE WHEN n_2 > 0 THEN CAST(top_2 AS DOUBLE) / CAST(n_2 AS DOUBLE)
       |       ELSE 0.0 END AS top_bigram_frac,
       |  CASE WHEN n_3 > 0 THEN 1.0 - CAST(d_3 AS DOUBLE) / CAST(n_3 AS DOUBLE)
       |       ELSE 0.0 END AS dup_trigram_frac,
       |  (1.0 - CAST(d_tok AS DOUBLE) / CAST(n_tok AS DOUBLE)) > $dupTokThreshold
       |    OR (CASE WHEN n_2 > 0 THEN CAST(top_2 AS DOUBLE) / CAST(n_2 AS DOUBLE)
       |             ELSE 0.0 END) > $topBigramThreshold AS is_repetitive
       |FROM stats ORDER BY doc_id""".stripMargin

  // ---- text_lm_score: unigram-LM surprisal (perplexity filter) ----
  // The CCNet-style LM quality gate: score each document by its
  // average per-token surprisal under a language model — here the
  // corpus's own unigram model, the degenerate-but-real first rung of
  // the KenLM ladder. Cross-engine exactness rules out floating logs
  // (log2 differs in the last ulp between libm builds), so surprisal
  // is INTEGER: floor(log2(N div c)) = length(bin(N div c)) - 1 —
  // bit-length arithmetic both engines compute identically — and the
  // doc score ships as an integer milli-average (1000·Σ div n).
  //
  // Scale shape: per-doc token counts FIRST (map-side-combining
  // groupBy (doc, t) — the exploded stream never crosses a shuffle
  // raw), then an equi-join with the vocabulary count table keyed on
  // the token. The vocab table is Heaps-law sublinear but NOT
  // forced-broadcast (AQE decides by size); stopword keys are hot on
  // the probe side only — per-(doc,t) rows are distinct, so AQE's
  // skew split handles the reducer imbalance. N is a one-row
  // aggregate of the vocab table: the only broadcast is a scalar.

  private[graft] val lmKeepMilli = 4100L

  private def lmScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // per-doc term counts built ROW-LOCALLY (run-length fold over the
    // sorted token array): what reaches the first exchange is already
    // the (doc, term, k) count stream — the raw token stream never
    // shuffles and never passes through a hash aggregate
    val dc = tfPosting(spark, dir).select($"doc_id", $"t", $"c".as("k"))
    // vocab counts and the scalar N come from the cached vocab
    // rollup (Σk per term, with N as its constant column): the
    // inline aggregate and the one-row total job are build-time
    // costs of the maintained index, not per-query ones
    val vc = vocabPosting(spark, dir).select($"t", $"c", $"n")
    dc.join(vc, "t")
      .withColumn("surp", (length(bin(expr("n div c"))) - 1).cast("long"))
      .groupBy($"doc_id")
      .agg(sum($"k").as("n_tokens"),
        sum($"k" * $"surp").as("total_surprisal"))
      .select($"doc_id", $"n_tokens", $"total_surprisal",
        expr("(1000 * total_surprisal) div n_tokens").as("avg_surprisal_milli"))
      .withColumn("verdict",
        when($"avg_surprisal_milli" <= lmKeepMilli, "keep").otherwise("drop"))
      .resultOrder($"doc_id")
  }

  private val lmScoreSql =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |             FROM documents),
       |dc AS (SELECT doc_id, t, COUNT(*) AS k FROM tok GROUP BY doc_id, t),
       |vc AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
       |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM vc),
       |s AS (SELECT dc.doc_id, dc.k,
       |        CAST(length(bin(tot.n // vc.c)) - 1 AS BIGINT) AS surp
       |      FROM dc JOIN vc USING (t), tot)
       |SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_tokens,
       |  CAST(SUM(k * surp) AS BIGINT) AS total_surprisal,
       |  (1000 * CAST(SUM(k * surp) AS BIGINT)) // CAST(SUM(k) AS BIGINT)
       |    AS avg_surprisal_milli,
       |  CASE WHEN (1000 * CAST(SUM(k * surp) AS BIGINT)) // CAST(SUM(k) AS BIGINT)
       |         <= $lmKeepMilli THEN 'keep' ELSE 'drop' END AS verdict
       |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- text_entropy: per-doc unigram diversity (self-entropy) ----
  // The diversity twin of text_lm_score: where lm_score rates a doc
  // under the CORPUS unigram model, self-entropy rates it under its
  // OWN token distribution — low entropy = template/boilerplate/
  // keyword-stuffed text even when every token is common, the signal
  // the Gopher repetition rules approximate with fixed thresholds.
  // Same integer-exact surprisal ladder (floor(log2(n div c)) via
  // bit-length — no floating logs), summed per doc and shipped as a
  // floor milli-bit average.
  //
  // Scale shape: fully ROW-LOCAL — self-entropy only needs the doc's
  // own token multiset, so the per-term surprisal sum is one
  // run-length fold over the sorted token array inside the scan
  // projection; nothing is exploded and nothing shuffles before the
  // output sort.

  /** Σ over runs of `run · (bitlen(n div run) − 1)` — the per-doc
    * integer surprisal sum — as one fold over the sorted array; `n`
    * is the doc token-count column name.
    */
  private def entropySumSql(arr: String, n: String): String = {
    val close = s"s.run * CAST(length(bin($n div s.run)) - 1 AS BIGINT)"
    s"""aggregate(array_sort($arr),
       |  named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'acc', 0L),
       |  (s, x) -> IF(x <=> s.prev,
       |    named_struct('prev', x, 'run', s.run + 1L, 'acc', s.acc),
       |    named_struct('prev', x, 'run', 1L,
       |      'acc', s.acc + IF(s.prev IS NULL, 0L, $close))),
       |  s -> s.acc + IF(s.prev IS NULL, 0L, $close))""".stripMargin
  }

  private def textEntropy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).documents
      .withColumn("toks", tokens($"text"))
      .withColumn("n_tokens", size($"toks").cast(LongType))
      .withColumn("n_distinct", size(array_distinct($"toks")).cast(LongType))
      .withColumn("hsum", expr(entropySumSql("toks", "n_tokens")).cast(LongType))
      .select($"doc_id", $"n_tokens", $"n_distinct", $"hsum",
        expr("(1000 * hsum) div n_tokens").as("entropy_milli"))
      .resultOrder($"doc_id")
  }

  private val textEntropySql =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |             FROM documents),
       |dc AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY doc_id, t),
       |dn AS (SELECT doc_id, t, c,
       |         CAST(SUM(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n
       |       FROM dc),
       |s AS (SELECT doc_id, c, n,
       |        CAST(length(bin(n // c)) - 1 AS BIGINT) AS surp
       |      FROM dn)
       |SELECT doc_id,
       |  MAX(n) AS n_tokens,
       |  COUNT(*) AS n_distinct,
       |  CAST(SUM(c * surp) AS BIGINT) AS hsum,
       |  (1000 * CAST(SUM(c * surp) AS BIGINT)) // MAX(n) AS entropy_milli
       |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- text_cooc_pmi: windowed co-occurrence lift (PMI ranking) ----
  // The word-association statistic under every count-based embedding
  // and collocation extractor (word2vec-era co-occurrence matrices,
  // phrase mining à la Mikolov 2013 §4): token pairs within a
  // ±2-token window, scored by lift = P(x,y) / (P(x)·P(y)) — the
  // exponential of PMI, same ranking. Pair generation is ROW-LOCAL
  // (the bigramArr zip-with-tail pattern at distances 1 and 2 —
  // O(tokens·2) rows, no position self-join, no doc-partitioned
  // window); the only exchanges are the pair-key counting aggregate
  // and the two vocab joins against the cached unigram rollup
  // (vocabulary-sized, Heaps-law sublinear — never broadcast by
  // hint). Orientation is canonicalized (least, greatest) map-side so
  // "new york" and "york new" count as one association. The lift
  // arithmetic casts each count to DOUBLE in a fixed operation order,
  // so both engines produce bit-identical IEEE results; min support
  // c_pair ≥ 5 is the standard noise gate (and keeps the 1/c_xy
  // variance of low-count PMI out of the ranking).

  /** Canonicalized within-window pairs at token distance `d`,
    * row-local (see [[bigramArr]] for the zip-with-tail trick).
    */
  private def coocPairs(toks: org.apache.spark.sql.Column, d: Int) =
    filter(
      zip_with(toks, slice(toks, lit(d + 1), size(toks)),
        (a, b) => when(b.isNotNull,
          struct(least(a, b).as("t1"), greatest(a, b).as("t2")))),
      _.isNotNull)

  private def coocPmi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = tokens($"text")
    val pairs = Tables(spark, dir).documents
      .select(explode(concat(coocPairs(toks, 1), coocPairs(toks, 2))).as("p"))
      .groupBy($"p.t1".as("t1"), $"p.t2".as("t2"))
      .agg(count(lit(1)).as("c_pair"))
      .filter($"c_pair" >= 5)
    val uni = vocabPosting(spark, dir).select($"t", $"c", $"n")
    pairs
      .join(uni.select($"t".as("t1"), $"c".as("c1"), $"n"), "t1")
      .join(uni.select($"t".as("t2"), $"c".as("c2")), "t2")
      // UNROUNDED on purpose (r10 ADVICE): ROUND(x,6) tie-breaks
      // differently between the engines on the half-1e-6 grid (see
      // CorpusSelect's integer-milli note) — the raw IEEE division in
      // this fixed operation order is bit-identical on both sides, so
      // rounding could only ADD divergence, never remove it
      .select($"t1", $"t2", $"c_pair",
        ($"c_pair".cast(DoubleType) * $"n".cast(DoubleType) /
          ($"c1".cast(DoubleType) * $"c2".cast(DoubleType))).as("lift"))
      .orderBy($"lift".desc, $"t1", $"t2")
      .limit(20)
  }

  private val coocPmiSql =
    """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |tok AS (
      |  SELECT doc_id, toks[ord] AS t, ord
      |  FROM sp, UNNEST(range(1, len(toks) + 1)) AS r(ord)),
      |uni AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
      |tot AS (SELECT SUM(c) AS n FROM uni),
      |pc AS (
      |  SELECT LEAST(a.t, b.t) AS t1, GREATEST(a.t, b.t) AS t2,
      |    COUNT(*) AS c_pair
      |  FROM tok a JOIN tok b
      |    ON a.doc_id = b.doc_id AND (b.ord - a.ord) IN (1, 2)
      |  GROUP BY 1, 2
      |  HAVING COUNT(*) >= 5)
      |SELECT t1, t2, c_pair,
      |  CAST(c_pair AS DOUBLE) * CAST(tot.n AS DOUBLE) /
      |    (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)) AS lift
      |FROM pc
      |CROSS JOIN tot
      |JOIN uni u1 ON u1.t = pc.t1
      |JOIN uni u2 ON u2.t = pc.t2
      |ORDER BY lift DESC, t1, t2
      |LIMIT 20""".stripMargin

  val all: Seq[Q] = Seq(
    Q("text_entropy", textEntropy, Some(textEntropySql)),
    Q("text_lm_score", lmScore, Some(lmScoreSql)),
    Q("text_tokens", textTokens, Some(textTokensSql)),
    Q("text_quality", textQuality, Some(textQualitySql)),
    Q("text_langid", textLangid, Some(textLangidSql)),
    Q("text_fingerprint", textFingerprint, Some(textFingerprintSql)),
    Q("text_top_bigrams", topBigrams, Some(topBigramsSql)),
    Q("text_tfidf", tfidf, Some(tfidfSql)),
    Q("text_chunk", textChunk, Some(textChunkSql)),
    Q("text_repetition", textRepetition, Some(textRepetitionSql)),
    Q("text_cooc_pmi", coocPmi, Some(coocPmiSql))
  )
}
