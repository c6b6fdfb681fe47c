package graft.operators

import graft.Q
import graft.Out._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The capstone of the LLM-training-data surface (SURVEY §2c): the
  * actual corpus-selection pass a training pipeline runs, COMPOSED
  * from the already-oracle-checked stages —
  *
  *   keep a document iff it is English (text_langid), clears the
  *   quality threshold (text_quality), and is the keeper of its
  *   near-dup cluster (dedup_clusters' connected components).
  *
  * The quality and langid columns are ROW-LOCAL projections stacked
  * on one scan of documents (withQuality ∘ withLangid — no join
  * between them), so the drop-list anti-join is the plan's only
  * shuffle. At 100 TB this is the shape you want — selection as one
  * declarative plan over a single corpus pass, not a sequence of
  * materialized intermediate tables. (The DuckDB oracle joins the
  * stage CTEs instead — same rows, oracle clarity over oracle
  * physics.)
  */
object CorpusSelect {

  private val minQuality = 0.5

  private def corpusSelect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = TextAnalysis.withLangid(
      TextAnalysis.withQuality(graft.Tables(spark, dir).documents))
    // The drop-list is every doc that loses its near-dup cluster —
    // O(duplicate count) ≈ O(corpus) in the worst case — so it must
    // NEVER be a broadcast build side: a corpus-proportional
    // broadcast OOMs driver and executors at 100 TB. A shuffled hash
    // anti-join keeps both sides distributed and hash-partitioned on
    // doc_id (ids-only build rows, ~16 bytes each through the
    // exchange); SHUFFLE_HASH also skips the sort a stats-less
    // checkpointed side would otherwise be given under sort-merge.
    val dropList = Dedup.nonKeepers(spark, dir)
      .select($"id".as("doc_id")).hint("shuffle_hash")
    scored
      .filter($"pred_lang" === "en" && $"quality_score" >= minQuality)
      .join(dropList, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"pred_lang", $"quality_score", $"n_tokens")
      .resultOrder($"doc_id")
  }

  private val corpusSelectSql =
    s"""WITH RECURSIVE
       |${Dedup.clusterWalkSql},
       |q AS (${TextAnalysis.textQualitySql}),
       |l AS (${TextAnalysis.textLangidSql}),
       |drop_list AS (SELECT id AS doc_id FROM comp WHERE id <> cluster_id)
       |SELECT q.doc_id, l.pred_lang, q.quality_score, q.n_tokens
       |FROM q JOIN l ON l.doc_id = q.doc_id
       |WHERE l.pred_lang = 'en' AND q.quality_score >= $minQuality
       |  AND q.doc_id NOT IN (SELECT doc_id FROM drop_list)
       |ORDER BY q.doc_id""".stripMargin

  // ---- llm_decontaminate: benchmark n-gram overlap flagging ----
  // THE pipeline step between corpus and training run: any training
  // document sharing enough shingles with the held-out eval/benchmark
  // set is flagged (training on eval == silently inflated scores).
  // Eval membership is a deterministic ~1% slice (doc_id % 97 == 13 —
  // in production, the benchmark corpus is its own table on the same
  // posting schema). Overlap = DISTINCT discriminative shingles
  // shared (the df-capped posting: boilerplate shingles must not
  // flag). This corpus tokenizes short, so the shingle order is 3 and
  // the threshold 3 shared shingles; production decontamination runs
  // the same plan at 8-13-gram order with threshold 1.
  //
  // Scale shape: equi-join on the df-capped shingle key (per-shingle
  // fanout ≤ cap × eval postings), two counting aggregates — nothing
  // is FORCE-broadcast: the eval side is corpus-proportional (1%),
  // so AQE's size-based selection broadcasts it only while it fits
  // (as it does at test SF) and keeps it shuffled past the threshold.

  private val evalMod = 97
  private val evalRes = 13
  private val minSharedShingles = 3

  private def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val posting = Dedup.shinglePosting(spark, dir)
    val evalPost = posting.filter($"doc_id" % evalMod === evalRes)
      .select($"doc_id".as("eval_id"), $"shingle")
    val trainPost = posting.filter($"doc_id" % evalMod =!= evalRes)
    trainPost.join(evalPost, "shingle")
      .groupBy($"doc_id")
      .agg(countDistinct($"shingle").as("n_shared_shingles"),
        countDistinct($"eval_id").as("n_eval_docs"))
      .filter($"n_shared_shingles" >= minSharedShingles)
      .resultOrder($"doc_id")
  }

  private val decontaminateSql =
    s"""WITH ${Dedup.postingSqlCtes},
       |ev AS (SELECT doc_id AS eval_id, sh FROM posting
       |       WHERE doc_id % $evalMod = $evalRes),
       |tr AS (SELECT doc_id, sh FROM posting
       |       WHERE doc_id % $evalMod <> $evalRes)
       |SELECT tr.doc_id,
       |  COUNT(DISTINCT tr.sh) AS n_shared_shingles,
       |  COUNT(DISTINCT ev.eval_id) AS n_eval_docs
       |FROM tr JOIN ev ON ev.sh = tr.sh
       |GROUP BY tr.doc_id
       |HAVING COUNT(DISTINCT tr.sh) >= $minSharedShingles
       |ORDER BY tr.doc_id""".stripMargin

  // ---- llm_containment: pair-level eval-in-train containment ----
  // llm_decontaminate answers "is this training doc contaminated at
  // all"; the AUDIT question is "by WHICH benchmark doc, and how
  // much of it leaked". Containment C(E,T) = |sh(E) ∩ sh(T)| / |sh(E)|
  // (Broder's containment, the asymmetric twin of Jaccard) is the
  // standard measure: C→1 means the eval doc appears nearly whole
  // inside the training doc even when the training doc is much
  // larger (where Jaccard would dilute to ~0). Reported per
  // (train, eval) pair in exact milli units (integer div of two
  // distinct-counts — bit-stable cross-engine).
  //
  // Scale shape: same df-capped posting equi-join as decontaminate
  // (per-shingle fanout ≤ cap × eval postings), one pair-keyed
  // counting aggregate, then an equi-join against the per-eval-doc
  // shingle totals (eval-slice-proportional, AQE-sized, never
  // forced broadcast). The ≥2-shared-shingles floor bounds the
  // output to genuinely overlapping pairs.

  private val minPairShingles = 2

  private def containment(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val posting = Dedup.shinglePosting(spark, dir)
    val evalPost = posting.filter($"doc_id" % evalMod === evalRes)
      .select($"doc_id".as("eval_id"), $"shingle")
    // plain count, not countDistinct: the posting is distinct per
    // (doc, shingle) by construction (dropDuplicates in
    // shinglePosting), so each shingle reaches an (eval) group or a
    // (train, eval) pair exactly once — unlike decontaminate's
    // per-train-doc grouping, where the eval-side fanout genuinely
    // duplicates shingles. countDistinct here paid a second
    // dedup-keyed exchange per aggregate for nothing.
    val evalSize = evalPost.groupBy($"eval_id")
      .agg(count(lit(1)).as("n_eval_sh"))
    val trainPost = posting.filter($"doc_id" % evalMod =!= evalRes)
    trainPost.join(evalPost, "shingle")
      .groupBy($"doc_id", $"eval_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= minPairShingles)
      .join(evalSize, "eval_id")
      .select($"doc_id", $"eval_id", $"n_shared", $"n_eval_sh",
        expr("(1000 * n_shared) div n_eval_sh").as("containment_milli"))
      .resultOrder($"doc_id", $"eval_id")
  }

  private val containmentSql =
    s"""WITH ${Dedup.postingSqlCtes},
       |ev AS (SELECT doc_id AS eval_id, sh FROM posting
       |       WHERE doc_id % $evalMod = $evalRes),
       |evsz AS (SELECT eval_id, COUNT(DISTINCT sh) AS n_eval_sh
       |         FROM ev GROUP BY eval_id),
       |tr AS (SELECT doc_id, sh FROM posting
       |       WHERE doc_id % $evalMod <> $evalRes),
       |pairs AS (
       |  SELECT tr.doc_id, ev.eval_id, COUNT(DISTINCT tr.sh) AS n_shared
       |  FROM tr JOIN ev ON ev.sh = tr.sh
       |  GROUP BY tr.doc_id, ev.eval_id
       |  HAVING COUNT(DISTINCT tr.sh) >= $minPairShingles)
       |SELECT p.doc_id, p.eval_id, p.n_shared, evsz.n_eval_sh,
       |  (1000 * p.n_shared) // evsz.n_eval_sh AS containment_milli
       |FROM pairs p JOIN evsz ON evsz.eval_id = p.eval_id
       |ORDER BY p.doc_id, p.eval_id""".stripMargin

  // ---- llm_sample_mix: deterministic stratified mixture sampling ----
  // The "data mixing" knob: per-language sampling rates (per mille)
  // applied via the cross-engine rolling hash of the doc id — pure
  // row-local arithmetic, so the sample is reproducible on any
  // executor, any engine, any run, and resampling with new rates
  // never reshuffles previously-kept documents within a stratum
  // (hash-threshold sampling is monotone in the rate). Strata come
  // from the catalog `lang` column — the declared metadata, as
  // distinct from text_langid's PREDICTED language used by
  // llm_corpus_select's filter.

  private val mixRates: Seq[(String, Int)] =
    Seq("en" -> 600, "de" -> 300, "fr" -> 300, "es" -> 300, "zh" -> 150)
  private val mixDefaultRate = 100

  private def sampleMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val mixKey = graft.functions.RollingHash.rolling_hash(
      concat(lit("mix|"), $"doc_id".cast("string"))) % 1000L
    val rate = mixRates.foldLeft(lit(mixDefaultRate)) {
      case (acc, (l, r)) => when($"lang" === l, lit(r)).otherwise(acc)
    }
    graft.Tables(spark, dir).documents
      .select($"doc_id", $"lang", $"source",
        mixKey.as("mix_key"), rate.as("mix_rate"))
      .filter($"mix_key" < $"mix_rate")
      .resultOrder($"doc_id")
  }

  private val sampleMixSql = {
    val rateCase = mixRates
      .map { case (l, r) => s"WHEN '$l' THEN $r" }
      .mkString("CASE lang ", " ", s" ELSE $mixDefaultRate END")
    s"""SELECT * FROM (
       |  SELECT doc_id, lang, source,
       |    ${graft.functions.RollingHash.sql("'mix|' || CAST(doc_id AS VARCHAR)")} % 1000 AS mix_key,
       |    $rateCase AS mix_rate
       |  FROM documents)
       |WHERE mix_key < mix_rate
       |ORDER BY doc_id""".stripMargin
  }

  // ---- llm_pii_scrub: regex PII redaction stage ----
  // Every corpus release runs a redaction pass: match PII-shaped
  // spans (emails, phone numbers), replace with typed placeholder
  // tags, count what was removed per document. The transform is
  // scrub() below — row-local regexp_replace chains that pipeline
  // inside whole-stage codegen, zero shuffle, linear in input splits.
  //
  // The synthetic corpus carries no PII (verified: documents.text is
  // flat tokens; customer has no phone/comment columns), so the
  // query DRIVES the scrubber over a deterministic contact string
  // constructed from customer catalog fields — the patterns,
  // replacement chain, counting and output hashing are the real
  // pipeline; only the input text is synthesized (in the plan, from
  // table values, identically on both engines).
  //
  // Pattern dialect: the subset valid in BOTH java.util.regex and
  // RE2 (DuckDB) — character classes, bounded repeats; no
  // backreferences or lookaround.

  private val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val phonePat = "\\+[0-9]{1,2}-[0-9]{1,4}-[0-9]{3,10}"

  /** The redaction transform: emails → <EMAIL>, phones → <PHONE>.
    * Order matters (emails first: a phone pattern must not eat the
    * digits inside an address-like span).
    */
  private[graft] def scrub(c: org.apache.spark.sql.Column) =
    regexp_replace(regexp_replace(c, emailPat, "<EMAIL>"),
      phonePat, "<PHONE>")

  private def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val contact = concat(
      lit("reach "), $"c_name",
      lit(" at user"), $"c_custkey".cast("string"),
      lit("@corp-"), lower($"c_mktsegment"), lit(".example.com or tel +"),
      ($"c_nationkey" % 9 + 1).cast("string"), lit("-"),
      ($"c_custkey" % 900 + 100).cast("string"), lit("-"),
      ($"c_custkey" % 9000 + 1000).cast("string"))
    graft.Tables(spark, dir).customer
      .select($"c_custkey", contact.as("contact"))
      .select($"c_custkey",
        regexp_count($"contact", lit(emailPat)).cast("long").as("n_emails"),
        regexp_count($"contact", lit(phonePat)).cast("long").as("n_phones"),
        scrub($"contact").as("redacted"))
      .resultOrder($"c_custkey")
  }

  private val piiScrubSql =
    s"""WITH c AS (
       |  SELECT c_custkey,
       |    'reach ' || c_name || ' at user' || CAST(c_custkey AS VARCHAR)
       |      || '@corp-' || lower(c_mktsegment) || '.example.com or tel +'
       |      || CAST(c_nationkey % 9 + 1 AS VARCHAR) || '-'
       |      || CAST(c_custkey % 900 + 100 AS VARCHAR) || '-'
       |      || CAST(c_custkey % 9000 + 1000 AS VARCHAR) AS contact
       |  FROM customer)
       |SELECT c_custkey,
       |  CAST(len(regexp_extract_all(contact, '$emailPat')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(contact, '$phonePat')) AS BIGINT) AS n_phones,
       |  regexp_replace(regexp_replace(contact, '$emailPat', '<EMAIL>', 'g'),
       |    '$phonePat', '<PHONE>', 'g') AS redacted
       |FROM c ORDER BY c_custkey""".stripMargin

  // ---- llm_pack: deterministic sequence packing (concat-then-split) ----
  // The packing stage between chunking and the training run:
  // concatenate the corpus token stream in doc_id order and split it
  // every B tokens into fixed-size training sequences; each document
  // needs its global token offset, i.e. an exclusive prefix sum over
  // the corpus.
  //
  // A global `Window.orderBy` prefix sum funnels the CORPUS through
  // one partition — the classic scale-killer — so the offsets are
  // computed with the two-phase distributed scan: (1) intra-bucket
  // exclusive cumsum, windowed BY contiguous doc_id bucket (shuffle =
  // one hash exchange on bucket, each bucket sorts locally); (2)
  // bucket totals — one tiny aggregate row per bucket — get the
  // global cumsum on the reduced table (n_docs/bucketSpan rows; at
  // 1e9 docs and span 1e5 that is 1e4 rows — driver-trivial), then
  // join back. Same shape as the kpi global-series windows: the only
  // single-partition window runs on an aggregate, never the corpus.
  // The DuckDB oracle uses the direct global window — identical
  // arithmetic, engine-local physics.

  private val packBudget = 512L // tokens per training sequence
  private val bucketSpan = 100L // docs per prefix-sum bucket

  private def pack(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // Tokenize BEFORE the shuffle (ships (doc_id, n_tok, bucket),
    // never text), and scan + shuffle the corpus ONCE: bucket totals
    // are derived FROM the windowed frame — the bucket's inclusive
    // cumsum is max(intra_off + n_tok), monotone in doc order
    // (monotonicity needs n_tok ≥ 0 or NULL: `size` of a non-null
    // split is never negative in Spark 4 (legacy sizeOfNull is off,
    // NULL text → NULL n_tok), the window SUM skips NULLs, and
    // max(intra_off + NULL) drops the NULL row, so a NULL-text doc
    // yields the same bucket total the old SUM form produced) — so
    // both join inputs share a byte-identical scan→project→exchange
    // subtree and ReuseExchange serves the aggregate from the
    // window's shuffle files. The previous phrasing aggregated a
    // SECOND documents scan (its partial-agg exchange differs from
    // the window's, so nothing reused) and tokenized the corpus
    // twice — at 100 TB the tokenize+scan is the dominant term.
    val docs = graft.Tables(spark, dir).documents
      .select($"doc_id",
        size(graft.functions.TextFunctions.tokens($"text")).cast("long").as("n_tok"))
      .withColumn("bucket", expr(s"doc_id div ${bucketSpan}L"))
      // bucket is non-null by construction (doc_id is a key); stating
      // it explicitly matters for plan shape: the join below
      // null-filters its keys, and that isnotnull pushes below the
      // probe's exchange but NOT through the build's global cumsum
      // window (no partition keys) — one asymmetric filter and the
      // two exchange subtrees stop being sameResult, which kills the
      // shuffle reuse this operator is shaped around.
      .filter($"bucket".isNotNull)
    val wIntra = Window.partitionBy($"bucket").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val intra = docs.withColumn("intra_off",
      coalesce(sum($"n_tok").over(wIntra), lit(0L)))
    val wBucket = Window.orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketOff = intra.groupBy($"bucket")
      .agg(max($"intra_off" + $"n_tok").as("btot"))
      .withColumn("bucket_off", coalesce(sum($"btot").over(wBucket), lit(0L)))
      .select($"bucket", $"bucket_off")
    intra.join(bucketOff, "bucket")
      .withColumn("tok_offset", $"bucket_off" + $"intra_off")
      // greatest(n_tok, 1): at n_tok = 0 the numerator would go to
      // tok_offset - 1, where Spark `div` (truncate-toward-zero) and
      // DuckDB `//` (floor) disagree on negatives (offset 0 → 0 vs
      // -1). Unreachable with the current tokenizer (split('') yields
      // one empty token) but guarded identically on both engines.
      .select($"doc_id", $"n_tok", $"tok_offset",
        expr(s"tok_offset div ${packBudget}L").as("pack_first"),
        expr(s"(tok_offset + greatest(n_tok, 1L) - 1) div ${packBudget}L")
          .as("pack_last"))
      .withColumn("spans_boundary", $"pack_first" =!= $"pack_last")
      .resultOrder($"doc_id")
  }

  private val packSql =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |o AS (
       |  SELECT doc_id, n_tok,
       |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
       |  FROM d)
       |SELECT doc_id, n_tok, tok_offset,
       |  tok_offset // $packBudget AS pack_first,
       |  (tok_offset + GREATEST(n_tok, 1) - 1) // $packBudget AS pack_last,
       |  tok_offset // $packBudget
       |    <> (tok_offset + GREATEST(n_tok, 1) - 1) // $packBudget AS spans_boundary
       |FROM o ORDER BY doc_id""".stripMargin

  // ---- llm_quality_classify: hashed linear quality model ----
  // Heuristic ratios (text_quality) are the first quality gate; the
  // second, in every modern corpus pipeline, is a MODEL score
  // (fastText-style linear classifier over hashed bag-of-words — the
  // CCNet / LLaMA "quality classifier" stage). Inference shape at
  // 100 TB: explode the token stream, hash each token through the
  // codegen'd RollingHash, and reduce INTEGER weight numerators
  // (k(t) = h % 2001 - 1000 ∈ [-1000, 1000]) with a two-level hash
  // aggregate — Spark's interpreted higher-order-lambda path
  // (transform/aggregate are CodegenFallback, the form the minhash
  // signature build also deliberately avoids) never touches the
  // scan, and the only exchange ships one (count, Σk) pair per doc.
  // Integer sums are order-independent, so the shuffle cannot
  // perturb the result; the single margin division and the
  // piecewise-linear calibration (clamp, not float exp) then produce
  // bit-identical doubles on both engines. The weight table is
  // hash-derived so neither engine ships a model file; a real
  // deployment swaps the k(t) expression for a broadcast vocab-id
  // lookup, leaving the plan shape unchanged.

  private val keepThreshold = 0.55

  private def qualityClassify(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = (graft.functions.RollingHash.rolling_hash(
      concat(lit("w|"), $"t")) % 2001L) - 1000L
    // margin/keep_prob ship UNROUNDED: exact integer Σk and one IEEE
    // division are bit-identical cross-engine, while ROUND(x, 6)
    // breaks ties differently (Spark rounds the exact binary
    // expansion, DuckDB the ×1e6 product) exactly when a rational
    // margin lands on the half-ulp-of-1e-6 grid, as these do
    graft.Tables(spark, dir).documents
      .select($"doc_id",
        explode(graft.functions.TextFunctions.tokens($"text")).as("t"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(k).as("ksum"))
      .withColumn("m",
        $"ksum".cast("double") / ($"n_tokens" * 1000L).cast("double"))
      .select($"doc_id", $"n_tokens",
        $"m".as("margin"),
        least(greatest(lit(0.5) + $"m", lit(0.0)), lit(1.0)).as("keep_prob"),
        when(lit(0.5) + $"m" >= keepThreshold, "keep").otherwise("drop").as("verdict"))
      .resultOrder($"doc_id")
  }

  private val qualityClassifySql = {
    val tokenHash = graft.functions.RollingHash.sql("'w|' || t")
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |             FROM documents),
       |m AS (SELECT doc_id, COUNT(*) AS n_tokens,
       |        SUM(($tokenHash) % 2001 - 1000) AS ksum
       |      FROM tok GROUP BY doc_id)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(ksum AS DOUBLE) / CAST(n_tokens * 1000 AS DOUBLE) AS margin,
       |  least(greatest(0.5 + CAST(ksum AS DOUBLE) / CAST(n_tokens * 1000 AS DOUBLE), 0.0), 1.0) AS keep_prob,
       |  CASE WHEN 0.5 + CAST(ksum AS DOUBLE) / CAST(n_tokens * 1000 AS DOUBLE) >= $keepThreshold
       |       THEN 'keep' ELSE 'drop' END AS verdict
       |FROM m ORDER BY doc_id""".stripMargin
  }

  // ---- llm_shard_shuffle: deterministic global shuffle + sharding ----
  // The last step before tokens hit the trainer: break source/time
  // locality (a corpus written source-by-source trains badly) and
  // assign every document a reproducible (shard, position). A true
  // global sort of 100 TB by random key is one giant range exchange;
  // the standard decomposition is row-local hash sharding (one hash
  // exchange into nShards groups) + an independent ORDER WITHIN each
  // shard (per-shard window, shards are parallel). Both keys come
  // from the shared rolling hash under distinct salts, so the
  // permutation is engine-independent and stable under reruns —
  // resuming a training job re-derives the identical data order.

  // Pinned at test scale because the DuckDB twin embeds the literal
  // (the same convention as ann_lsh's width): in
  // production the shard count is the dial that keeps PER-SHARD rows
  // bounded — each shard's position window is one reducer, so a fixed
  // 16 at 100 TB would sort ~6 TB per task. A real caller passes
  // ceil(corpusRows / targetShardRows) (e.g. ~10k shards for 1e10
  // docs at 1e6 rows/shard); the plan shape is unchanged at any width.
  private val nShards = 16

  private def shardShuffle(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val shard = graft.functions.RollingHash.rolling_hash(
      concat(lit("shard|"), $"doc_id".cast("string"))) % nShards
    val ord = graft.functions.RollingHash.rolling_hash(
      concat(lit("ord|"), $"doc_id".cast("string")))
    val w = Window.partitionBy($"shard").orderBy($"ord", $"doc_id")
    graft.Tables(spark, dir).documents
      .select($"doc_id", shard.as("shard"), ord.as("ord"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select($"doc_id", $"shard", $"pos")
      .resultOrder($"shard", $"pos")
  }

  private val shardShuffleSql = {
    val shard = graft.functions.RollingHash.sql("'shard|' || CAST(doc_id AS VARCHAR)")
    val ord = graft.functions.RollingHash.sql("'ord|' || CAST(doc_id AS VARCHAR)")
    s"""WITH k AS (SELECT doc_id, ($shard) % $nShards AS shard, $ord AS ord
       |           FROM documents)
       |SELECT doc_id, shard,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS BIGINT) AS pos
       |FROM k ORDER BY shard, pos""".stripMargin
  }

  // ---- llm_bloom: Bloom-filter decontamination pre-filter ----
  // llm_decontaminate's posting equi-join ships every train-side
  // posting row through a shuffle keyed on the shingle. At 100 TB the
  // cheaper first pass is the classic Bloom pre-filter: fold the EVAL
  // side's shingles into a fixed-size bit array (here 1024 words ×
  // 63 bits ≈ 8 KB — constant, whatever the corpus size), broadcast
  // it, and probe each training shingle row-locally. Bloom filters
  // have NO false negatives, so every truly-contaminated doc survives
  // the pre-filter (spec'd against llm_decontaminate's exact output);
  // false positives (expected at the bits/keys ratio, a few percent
  // here) are re-checked by the exact join over the ~surviving slice.
  // The filter is EXACT BITS cross-engine: positions come from the
  // shared rolling hash under k=3 salts, words are 63 bits wide
  // because a 1<<63 BIGINT shift overflows DuckDB, and bit_or /
  // bool_and aggregate identically on both engines.
  //
  // Scale shape: one tiny aggregate (≤1024 groups, map-side partial)
  // builds the filter; the probe is a broadcast join against a
  // FIXED-size table — the one broadcast that is legitimate at any
  // corpus size — then two counting aggregates per doc. In
  // production m scales with the eval-shingle count (m ≈ 10·|S| bits
  // for ~1% fp at k=3); the plan shape is unchanged at any width.

  private[graft] val bloomWordBits = 63
  private val bloomWords = 1024
  private val bloomBits = bloomWordBits * bloomWords
  private[graft] val bloomK = 3

  private def bloomPos(j: org.apache.spark.sql.Column,
      sh: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.RollingHash.rolling_hash(
      concat(lit("bloom"), j.cast("string"), lit("|"), sh)) % bloomBits

  /** The eval-slice Bloom filter: (w, word) with at most [[bloomWords]]
    * rows — bounded by construction, hence broadcastable at any SF.
    */
  private[graft] def bloomFilterPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Dedup.shinglePosting(spark, dir)
      .filter($"doc_id" % evalMod === evalRes)
      .select($"shingle").distinct()
      .select($"shingle",
        explode(array((0 until bloomK).map(lit): _*)).as("j"))
      .select(bloomPos($"j", $"shingle").as("pos"))
      .select(expr(s"pos div $bloomWordBits").as("w"),
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(pos % $bloomWordBits AS INT))").as("mask"))
      .groupBy($"w").agg(expr("bit_or(mask)").as("word"))
  }

  /** The filter as a VALUE: the ≤[[bloomWords]]-row (w, word) frame
    * collected into a dense positional array (missing words → 0) —
    * exactly how Spark's own bloom_filter_agg / might_contain pair
    * ships a filter to its probe side, and how a production gate
    * broadcasts its eval-set filter to every executor. The collect is
    * of a bounded-by-construction frame (8 KB at any corpus size).
    * Cached per (session, corpus): a production decontamination gate
    * builds the eval-set filter ONCE and probes every batch against
    * it — the build aggregation is index cost, not per-query cost
    * (same convention as lshIndex / the CC label caches).
    */
  private[graft] def bloomFilterArray(spark: SparkSession, dir: String): Array[Long] =
      graft.Artifacts(spark, dir, "CorpusSelect.bloomFilterArray") {
    val arr = new Array[Long](bloomWords)
    bloomFilterPlan(spark, dir).collect()
      .foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
    arr
  }

  private def bloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val train = Dedup.shinglePosting(spark, dir)
      .filter($"doc_id" % evalMod =!= evalRes)
    // The probe is ROW-LOCAL: the fixed-size filter rides along as a
    // literal array (the might_contain deployment shape — a Bloom
    // filter is a value, not a join side), so each posting row
    // evaluates its k probes inside the scan projection and the whole
    // operator is scan → per-doc reduction → sort. Earlier forms paid
    // a k-way explode plus two joins and two extra aggregations for
    // the identical bits.
    val words = lit(bloomFilterArray(spark, dir))
    val maybe = (0 until bloomK).map { j =>
      // pos appears in both the word index and the mask shift; the
      // deterministic subexpression is eliminated inside codegen
      val pos = bloomPos(lit(j), $"shingle")
      val mask = call_function("shiftleft", lit(1L),
        (pos % bloomWordBits).cast("int"))
      // word index: integer division via floor — exact at these
      // magnitudes (pos < 2^17, far inside double precision)
      (element_at(words, floor(pos / bloomWordBits).cast("int") + 1)
        .bitwiseAND(mask)) =!= 0L
    }.reduce(_ && _)
    train
      .withColumn("maybe", maybe)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_probe_sh"),
        sum(when($"maybe", 1L).otherwise(0L)).as("n_bloom_hits"))
      .filter($"n_bloom_hits" >= minSharedShingles)
      .resultOrder($"doc_id")
  }

  private val bloomDecontaminateSql = {
    def rh(arg: String) = graft.functions.RollingHash.sql(arg)
    val evPos = rh("'bloom' || CAST(j AS VARCHAR) || '|' || sh")
    s"""WITH ${Dedup.postingSqlCtes},
       |ks AS (SELECT unnest(range($bloomK)) AS j),
       |ev AS (SELECT DISTINCT sh FROM posting WHERE doc_id % $evalMod = $evalRes),
       |evpos AS (SELECT ($evPos) % $bloomBits AS pos FROM ev, ks),
       |filt AS (SELECT pos // $bloomWordBits AS w,
       |    bit_or(CAST(1 AS BIGINT) << CAST(pos % $bloomWordBits AS INT)) AS word
       |  FROM evpos GROUP BY pos // $bloomWordBits),
       |trpos AS (SELECT doc_id, sh, ($evPos) % $bloomBits AS pos
       |  FROM posting, ks WHERE doc_id % $evalMod <> $evalRes),
       |pr AS (SELECT doc_id, sh,
       |    bool_and((COALESCE(f.word, CAST(0 AS BIGINT))
       |      & (CAST(1 AS BIGINT) << CAST(t.pos % $bloomWordBits AS INT))) <> 0) AS maybe
       |  FROM trpos t LEFT JOIN filt f ON f.w = t.pos // $bloomWordBits
       |  GROUP BY doc_id, sh)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_probe_sh,
       |  CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits
       |FROM pr GROUP BY doc_id
       |HAVING SUM(CASE WHEN maybe THEN 1 ELSE 0 END) >= $minSharedShingles
       |ORDER BY doc_id""".stripMargin
  }

  // ---- llm_dataset_card: one-pass corpus profile ----
  // The "dataset card" numbers every corpus release publishes (docs,
  // tokens, source/language mix, exact-dup rate) computed as ONE
  // aggregate over one scan — the multi-countDistinct expands to a
  // grouping-set pass (Spark's Expand), never N scans, and every
  // figure is integer so the single output row is bit-stable on any
  // engine. At 100 TB this is the profile job you run after every
  // pipeline stage; approximate twins (HLL) live in q20_sketches.

  private def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Tables(spark, dir).documents
      .select($"source", $"lang", $"text",
        size(graft.functions.TextFunctions.tokens($"text"))
          .cast("long").as("n_tok"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct($"source").as("n_sources"),
        countDistinct($"lang").as("n_langs"),
        sum(when($"lang" === "en", 1L).otherwise(0L)).as("en_docs"),
        sum($"n_tok").as("total_tokens"),
        countDistinct(md5($"text")).as("n_distinct_texts"))
      .select($"n_docs", $"n_sources", $"n_langs", $"en_docs",
        $"total_tokens",
        expr("(1000 * total_tokens) div n_docs").as("avg_tokens_milli"),
        $"n_distinct_texts",
        ($"n_docs" - $"n_distinct_texts").as("n_exact_dups"))
  }

  private val datasetCardSql =
    s"""WITH c AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en_docs,
       |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       |    CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts
       |  FROM documents)
       |SELECT n_docs, n_sources, n_langs, en_docs, total_tokens,
       |  (1000 * total_tokens) // n_docs AS avg_tokens_milli,
       |  n_distinct_texts, n_docs - n_distinct_texts AS n_exact_dups
       |FROM c""".stripMargin

  // ---- llm_bpe_stats: the BPE merge-statistics kernel ----
  // The inner loop of byte-pair-encoding tokenizer training (Sennrich
  // et al. 2016, "Neural Machine Translation of Rare Words with
  // Subword Units" — public literature): count corpus frequencies of
  // adjacent symbol pairs, weighted by word frequency; the argmax
  // pair becomes the next merge. Distributed shape is two hash
  // aggregations — word→freq first (vocabulary-sized, map-side
  // partials collapse the corpus), then pair→Σfreq over the pair
  // explode of the VOCABULARY (not the corpus — the standard trick
  // that makes BPE training tractable: pair work scales with distinct
  // words, not tokens) — and a bounded top-k. Characters here play
  // the role of the symbol alphabet; iterating merge+recount is the
  // full trainer, and one iteration is the oracle-checkable unit.

  private def bpeStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val words = graft.Tables(spark, dir).documents
      .select(explode(graft.functions.TextFunctions.tokens($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("freq"))
    words
      // adjacent char pairs as 2-char substrings; single-char words
      // contribute none (sequence(1,0) would DESCEND in Spark, so the
      // guard is explicit)
      .filter(length($"w") > 1)
      .select($"freq",
        explode(expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))"))
          .as("pair"))
      .groupBy($"pair").agg(sum($"freq").as("pair_count"))
      .orderBy($"pair_count".desc, $"pair")
      .limit(20)
  }

  private val bpeStatsSql =
    """WITH words AS (
      |  SELECT u.w AS w, COUNT(*) AS freq
      |  FROM documents, UNNEST(string_split(text, ' ')) AS u(w)
      |  GROUP BY u.w),
      |pairs AS (
      |  SELECT substr(w, CAST(i AS INT), 2) AS pair, freq
      |  FROM words, UNNEST(range(1, length(w))) AS r(i)
      |  WHERE length(w) > 1)
      |SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
      |FROM pairs GROUP BY pair
      |ORDER BY pair_count DESC, pair
      |LIMIT 20""".stripMargin

  // ---- llm_ingest_jsonl: the JSONL corpus entry boundary ----
  // Training corpora ship as JSON-Lines (one JSON object per line —
  // the interchange format of every public text corpus), so the
  // engine must prove a real JSONL round-trip: documents are
  // materialized ONCE per (SF) as .jsonl through Spark's
  // distributed JSON writer, read back through `spark.read.schema(…)
  // .json` — the EXPLICIT schema matters: schema inference is a
  // second full scan of the corpus, unacceptable at 100 TB — and
  // row-fidelity is proven against the parquet-sourced oracle
  // (doc_id, lang, length, md5): any escaping/encoding loss in the
  // writer/reader pair lands in the hash compare. The fixture write
  // is the same publish-or-reuse pattern as the CSV/xlsx books
  // (bounded side job, atomic move, content-keyed path).

  // fixture roots live under java.io.tmpdir (same convention as
  // Tables.splitLayout), never a hardcoded checkout path — the repo
  // must be relocatable; SourcesSpec references these constants
  private[graft] val jsonlRoot =
    s"${System.getProperty("java.io.tmpdir")}/graft-fixtures/corpus_jsonl"

  private def jsonlDocs(spark: SparkSession, dir: String): DataFrame =
      graft.Artifacts(spark, dir, "CorpusSelect.jsonlDocs") {
    import spark.implicits._
    // Tables.publishFixture keys on (source path, size, mtime): a
    // count-based key would collide across SFs (sf0.001 and sf0.01
    // both ship 500 docs) and a regenerated same-size source must
    // also invalidate; the shared protocol handles the multi-JVM
    // publish race too
    val path = graft.Tables.publishFixture(jsonlRoot, dir, "documents.parquet") {
      tmp =>
        graft.Tables(spark, dir).documents
          .select($"doc_id", $"lang", $"source", $"text")
          .write.mode("overwrite").json(tmp)
    }
    spark.read
      .schema("doc_id BIGINT, lang STRING, source STRING, text STRING")
      .json(path)
  }

  private def ingestJsonl(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    jsonlDocs(spark, dir)
      .select($"doc_id", $"lang",
        length($"text").cast("long").as("n_chars"),
        md5($"text").as("text_md5"))
      .resultOrder($"doc_id")
  }

  private val ingestJsonlSql =
    """SELECT doc_id, lang,
      |  CAST(length(text) AS BIGINT) AS n_chars,
      |  md5(text) AS text_md5
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- llm_mix_epochs: per-source data-repetition schedule ----
  // The data-constrained-scaling knob (repeating high-value sources
  // for multiple epochs while crawl-grade text runs once): each
  // source gets a deterministic repetition factor, every document is
  // expanded into one row per epoch, and each (doc, epoch) carries
  // an independent interleave key so repeats of one document never
  // cluster in training order. Everything is ROW-LOCAL (factor =
  // hash of the source, explode by factor, keys from the shared
  // rolling hash): at 100 TB the repetition schedule is a
  // metadata-only transform on the scan — no shuffle, no copy of the
  // text until the export writer streams it.

  private def mixEpochs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val factor = lit(1) + graft.functions.RollingHash.rolling_hash(
      concat(lit("epoch|"), $"source")) % 3L
    graft.Tables(spark, dir).documents
      .select($"doc_id", $"source", factor.as("n_epochs"))
      .select($"doc_id", $"source", $"n_epochs",
        explode(sequence(lit(1L), $"n_epochs")).as("epoch"))
      .withColumn("interleave_key",
        graft.functions.RollingHash.rolling_hash(concat(
          lit("mixord|"), $"doc_id".cast("string"), lit("|"),
          $"epoch".cast("string"))))
      .resultOrder($"doc_id", $"epoch")
  }

  private val mixEpochsSql = {
    val factor = "1 + " + graft.functions.RollingHash.sql("'epoch|' || source") + " % 3"
    val ordKey = graft.functions.RollingHash.sql(
      "'mixord|' || CAST(doc_id AS VARCHAR) || '|' || CAST(epoch AS VARCHAR)")
    s"""WITH d AS (SELECT doc_id, source, CAST($factor AS BIGINT) AS n_epochs
       |           FROM documents)
       |SELECT doc_id, source, n_epochs, CAST(epoch AS BIGINT) AS epoch,
       |  $ordKey AS interleave_key
       |FROM d, UNNEST(range(1, n_epochs + 1)) AS t(epoch)
       |ORDER BY doc_id, epoch""".stripMargin
  }

  // ---- llm_export_shards: the training-export SINK boundary ----
  // The write-side twin of llm_ingest_jsonl: a training corpus
  // leaves the engine as a PARTITIONED layout (one directory per
  // shard — the unit trainers stream independently), and the export
  // must be auditable. The fixture write runs Spark's distributed
  // partitionBy writer once per SF; the query reads the WRITTEN
  // files back and emits the per-shard manifest every export job
  // publishes: doc count, token count, and an order-independent
  // content checksum (sum of rolling hashes — commutative, so the
  // figure is identical whatever order tasks wrote rows in). The
  // oracle recomputes the manifest from the parquet source table:
  // any row lost, duplicated, or mangled by the writer/reader pair
  // flips a checksum. Shard key = llm_shard_shuffle's hash (same
  // dial: production raises the shard count so per-shard bytes stay
  // bounded; the plan is unchanged at any width).

  private[graft] val exportRoot =
    s"${System.getProperty("java.io.tmpdir")}/graft-fixtures/corpus_shards"
  private val nExportShards = 16

  private def exportedShards(spark: SparkSession, dir: String): DataFrame =
      graft.Artifacts(spark, dir, "CorpusSelect.exportedShards") {
    import spark.implicits._
    // same shared (path, size, mtime)-keyed publish protocol as the
    // jsonl fixture — see jsonlDocs
    val path = graft.Tables.publishFixture(exportRoot, dir, "documents.parquet") {
      tmp =>
        graft.Tables(spark, dir).documents
          .select($"doc_id", $"text",
            (graft.functions.RollingHash.rolling_hash(
              concat(lit("shard|"), $"doc_id".cast("string"))) % nExportShards)
              .as("shard"))
          .write.mode("overwrite").partitionBy("shard").parquet(tmp)
    }
    spark.read.parquet(path)
  }

  private def exportShards(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    exportedShards(spark, dir)
      .groupBy($"shard".cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(graft.functions.TextFunctions.tokens($"text")).cast("long"))
          .as("n_tokens"),
        sum(graft.functions.RollingHash.rolling_hash($"text")).as("content_hash"))
      .resultOrder($"shard")
  }

  private val exportShardsSql = {
    val shardKey = graft.functions.RollingHash.sql(
      "'shard|' || CAST(doc_id AS VARCHAR)")
    s"""WITH s AS (SELECT doc_id, text, $shardKey % $nExportShards AS shard
       |           FROM documents)
       |SELECT shard, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       |  CAST(SUM(${graft.functions.RollingHash.sql("text")}) AS BIGINT)
       |    AS content_hash
       |FROM s GROUP BY shard ORDER BY shard""".stripMargin
  }

  // ---- llm_split: leakage-free deterministic train/val/test split ----
  // Every training corpus ships with a split assignment, and the
  // classic leakage bug is splitting by ROW: two near-identical
  // copies of one document land in train and test and the eval is
  // contaminated. The split key here is the CANONICAL content hash
  // (dedup_canonical's normalize-then-hash), so byte-identical and
  // trivially-reformatted copies always land in the SAME split by
  // construction — no coordination, no join against a dedup table.
  // Assignment is hash-threshold per mille over the cross-engine
  // rolling hash (train 900 / valid 50 / test 50): row-local,
  // reproducible on any engine, and stable under corpus growth (a
  // new document never moves an old one between splits). One narrow
  // codegen projection, zero shuffle — the 100 TB plan is this scan.

  private val validFrom = 900
  private val testFrom = 950

  /** The per-mille split key as a column expression — private[graft]
    * so the specs exercise the PRODUCTION derivation (a test-local
    * re-implementation would keep passing if this one regressed to a
    * doc_id/row-order key, the exact leakage bug it exists to avoid).
    */
  private[graft] def splitKey(text: org.apache.spark.sql.Column) =
    graft.functions.RollingHash.rolling_hash(
      concat(lit("split|"), md5(Dedup.canonical(text)))) % 1000L

  private def split(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Tables(spark, dir).documents
      .select($"doc_id", $"lang", splitKey($"text").as("split_key"))
      .withColumn("split",
        when($"split_key" < validFrom, "train")
          .when($"split_key" < testFrom, "valid")
          .otherwise("test"))
      .resultOrder($"doc_id")
  }

  private val splitSql = {
    val keyExpr = graft.functions.RollingHash.sql(
      s"'split|' || md5(${Dedup.canonicalSqlExpr("text")})")
    s"""SELECT doc_id, lang, split_key,
       |  CASE WHEN split_key < $validFrom THEN 'train'
       |       WHEN split_key < $testFrom THEN 'valid'
       |       ELSE 'test' END AS split
       |FROM (SELECT doc_id, lang, $keyExpr % 1000 AS split_key
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("llm_ingest_jsonl", ingestJsonl, Some(ingestJsonlSql)),
    Q("llm_export_shards", exportShards, Some(exportShardsSql)),
    Q("llm_mix_epochs", mixEpochs, Some(mixEpochsSql)),
    Q("llm_split", split, Some(splitSql)),
    Q("llm_bpe_stats", bpeStats, Some(bpeStatsSql)),
    Q("llm_corpus_select", corpusSelect, Some(corpusSelectSql)),
    Q("llm_dataset_card", datasetCard, Some(datasetCardSql)),
    Q("llm_bloom", bloomDecontaminate, Some(bloomDecontaminateSql)),
    Q("llm_quality_classify", qualityClassify, Some(qualityClassifySql)),
    Q("llm_shard_shuffle", shardShuffle, Some(shardShuffleSql)),
    Q("llm_decontaminate", decontaminate, Some(decontaminateSql)),
    Q("llm_containment", containment, Some(containmentSql)),
    Q("llm_sample_mix", sampleMix, Some(sampleMixSql)),
    Q("llm_pii_scrub", piiScrub, Some(piiScrubSql)),
    Q("llm_pack", pack, Some(packSql))
  )
}
