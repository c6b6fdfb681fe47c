package graft.operators

import graft.{Q, Tables}
import graft.Out._
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (SURVEY §2c).
  *
  * `ann_bruteforce` is the exactness baseline: query set × corpus
  * cosine ranking. The corpus side stays partitioned; only the small
  * query set is broadcast, so the scan parallelizes over corpus
  * splits and the per-query top-k is a partial-aggregating window.
  *
  * `ann_lsh` is the scale path: deterministic random-hyperplane
  * sign bits bucket the corpus; a query only scores its own bucket
  * (≈ corpus/2^bits of the data at uniform spread). Hyperplane j's
  * component i is ±1 derived from a build-time hash — no RNG state,
  * so the signature is reproducible on any executor AND in the
  * DuckDB oracle, which embeds the same literal sign matrix.
  */
object Similarity {

  /** Queries = every `stride`-th vector: a deterministic probe
    * workload at any SF (10 queries at sf0.001, 1000 at sf0.1).
    *
    * The stride FOLLOWS THE CORPUS above probeMaxQueries (r15): a
    * fixed /50 probe set grows linearly with the corpus, so the flat
    * oracle baselines (ann_bruteforce's M·N scan, ann_pq's
    * full-code-scan ADC) grow SUPER-linearly — 75 s of the 341 s sf10
    * campaign wall, hours at sf100 — and past maxBroadcastQueries the
    * bounded-probe contract would fail loudly. Capping the probe set
    * at a deterministic sample is the ann_recall_eval story ("at
    * 100 TB this runs over a SAMPLED query set"), applied to the ONE
    * shared probe-set definition so every ANN variant, the ground
    * truth, and the recall figure stay mutually consistent. The
    * widened stride keeps 50 as a divisor, so the capped probe set is
    * a subset of the uncapped one, and the DuckDB twin re-derives the
    * identical stride from COUNT(*) (integer ceil-div — see
    * probeStrideSql): the oracle stays EXACT over the sampled set at
    * every SF. Below the cap (all committed-gate SFs: sf0.001 through
    * sf1 = 10..400 queries) the stride is exactly the historical 50;
    * it first binds at sf10 (200k vectors -> stride 200, 1000
    * queries) where the flat scans were ~75 s of the 341 s campaign
    * wall, and keeps sf100's 2M-vector corpus at the same 1000.
    */
  private[graft] val probeBaseStride = 50L
  private[graft] val probeMaxQueries = 1000L
  private[graft] def probeStrideFor(n: Long): Long = {
    val cap = probeBaseStride * probeMaxQueries
    probeBaseStride * ((n + cap - 1) / cap)
  }
  /** The corpus-count-derived stride, via the same parquet-metadata
    * count the LSH dials use (cached — one row-group-stats job).
    */
  private def probeStride(spark: SparkSession, dir: String): Long =
    probeStrideFor(measuredCount(spark, dir, "corpus")(
      Tables(spark, dir).embeddings))
  private def queryFilter(spark: SparkSession, dir: String)(c: Column): Column =
    c % probeStride(spark, dir) === 0
  /** The DuckDB twin's stride: same integer ceil-div over COUNT(*),
    * inlined as a scalar subquery so the SQL string stays
    * scale-factor-agnostic.
    */
  private[graft] val probeStrideSql: String = {
    val cap = probeBaseStride * probeMaxQueries
    s"(SELECT $probeBaseStride * ((count(*) + ${cap - 1}) // $cap) FROM embeddings)"
  }

  /** ANN's contract is a BOUNDED probe list against a huge corpus, so
    * the query-derived side of each scoring join is broadcast — but
    * the contract is ENFORCED, not assumed: one cheap count of the
    * query frame (column-pruned scan; at production scale the probe
    * list is its own small table and this is metadata), and past the
    * threshold the join falls back to a shuffled hash join instead of
    * OOMing the executors. 100k queries × 64 float dims ≈ 30 MB —
    * comfortably broadcastable; a "query set" beyond that is really a
    * batch similarity join and should run as one.
    */
  private[graft] val maxBroadcastQueries = 100000L
  private def probeSide(df: DataFrame, queryCount: Long): DataFrame =
    if (queryCount <= maxBroadcastQueries) broadcast(df)
    else df.hint("shuffle_hash")

  /** The HARD variant of the bounded-probe contract, for scoring
    * joins whose only predicate is `=!=` (ann_bruteforce; ann_pq's
    * flat-ADC join): there a `shuffle_hash` hint cannot bind — Spark
    * would silently plan a nested-loop/cartesian over the corpus, the
    * exact blowup the contract exists to prevent. These are
    * bounded-probe operators BY DEFINITION (the baseline scan and the
    * flat-PQ kernel), so past the bound the call fails loudly and
    * points at the pruned variants instead of degrading. Guarded by
    * PlanSpec's over-threshold test via the explicit `bound` knob.
    */
  private[graft] def boundedProbeSide(df: DataFrame, queryCount: Long,
      bound: Long = maxBroadcastQueries): DataFrame =
    if (queryCount <= bound) broadcast(df)
    else throw new IllegalStateException(
      s"bounded-probe contract violated: $queryCount probe queries > $bound. " +
        "This operator's scoring join is non-equi (=!= only) and cannot " +
        "fall back to a shuffled hash join — a corpus-scale query set " +
        "must run through the pruned variants (ann_lsh / ann_ivf / " +
        "ann_ivfpq) or as a batch similarity join (ann_knn_graph).")

  /** Measured row counts per (session, corpus, tag) — one count job
    * each, kept in graft.Artifacts. "queries" backs the
    * probeSide contract check; "nodes"/"knn_edges" back the graph
    * partition sizing (graphParts). Counts are data properties, so a
    * racing duplicate build is benign.
    */
  private def measuredCount(spark: SparkSession, dir: String, tag: String)(
      df: => DataFrame): Long =
    graft.Artifacts(spark, dir, s"Similarity.measuredCount.$tag")(Long.box(df.count())).longValue()

  private def queryCount(spark: SparkSession, dir: String, q: => DataFrame): Long =
    measuredCount(spark, dir, "queries")(q)

  // ---- ann_bruteforce: exact cosine top-5 per query ----

  private def annBruteCore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val v = lshIndex(spark, dir).select($"vec_id", $"embedding", $"nrm")
    val q = v.filter(queryFilter(spark, dir)($"vec_id"))
      .select($"vec_id".as("q_id"), $"embedding".as("q_e"), $"nrm".as("q_n"))
    val nQ = queryCount(spark, dir, q)
    topKRanked(
      v.join(boundedProbeSide(q, nQ), $"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id",
          (dot($"q_e", $"embedding") / ($"q_n" * $"nrm")).as("cosine")),
      "cosine", descending = true)
  }

  /** Group-wise top-5 neighbors per query with a rank column, via the
    * TopKPerKey operator: the partial pass caps each (partition,
    * query) at 5 candidates BEFORE the shuffle — the exchange carries
    * ≤ 5·queries·partitions rows, never the full query×candidate
    * score stream through a window sort. The rank column is then a
    * window over ≤ 5 rows per query on the already-clustered output
    * (partitioning is preserved, so no second exchange). Ties break
    * on the neighbor id — the same cross-engine total order the
    * window form used. Input: (keyCol, nbrCol, <scoreCol>); output:
    * (keyCol, rk, neighbor_id, scoreCol).
    */
  private def topKRanked(scored: DataFrame, scoreCol: String,
      descending: Boolean, k: Int = 5,
      keyCol: String = "q_id", nbrCol: String = "vec_id"): DataFrame = {
    import graft.plans.TopKPerKey
    val top = TopKPerKey(scored, Seq(keyCol),
      Seq(if (descending) TopKPerKey.desc(scoreCol) else TopKPerKey.asc(scoreCol),
        TopKPerKey.asc(nbrCol)), k)
    val sort = if (descending) col(scoreCol).desc else col(scoreCol).asc
    val w = Window.partitionBy(col(keyCol)).orderBy(sort, col(nbrCol))
    top.withColumn("rk", row_number().over(w))
      .select(col(keyCol), col("rk"), col(nbrCol).as("neighbor_id"), col(scoreCol))
  }

  private def annBrute(spark: SparkSession, dir: String): DataFrame =
    annBruteCore(spark, dir).resultOrder(col("q_id"), col("rk"))

  /** Ground-truth neighbor table for recall evaluation — the exact
    * top-k per probe query, cached per (session, corpus) like the
    * LSH/IVF index frames: every ANN evaluation reuses ONE computed
    * truth set (queries×k rows, tiny), it is not a per-evaluation
    * cost. The system under evaluation (the approx side) is NOT
    * cached — recall_eval re-runs it live.
    */
  private def bruteTruth(spark: SparkSession, dir: String): DataFrame =
    graft.Artifacts(spark, dir, "Similarity.bruteTruth")(
      annBruteCore(spark, dir)
        .select(col("q_id"), col("neighbor_id"))
        .localCheckpoint())

  private val annBruteSql =
    s"""WITH v AS (
       |  SELECT vec_id, embedding AS e, ${normSql("embedding")} AS nrm
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, v.vec_id,
       |    ${dotSql("q.e", "v.e", 64)} / (q.nrm * v.nrm) AS cosine
       |  FROM v q JOIN v ON v.vec_id <> q.vec_id
       |  WHERE q.vec_id % ${probeStrideSql} = 0)
       |SELECT q_id, rk, vec_id AS neighbor_id, cosine FROM (
       |  SELECT q_id, vec_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
       |  FROM scored)
       |WHERE rk <= 5
       |ORDER BY q_id, rk""".stripMargin

  // ---- ann_lsh: random-hyperplane LSH bucketing ----

  /** Signature width for the ORACLE-CHECKED instance of ann_lsh.
    *
    * The width dial itself is mechanized in VectorFunctions
    * .lshPlanesFor (ceil(log2(n / targetBucket)) — one extra plane
    * per corpus doubling keeps expected bucket size constant;
    * growth law spec'd in LshSpec). The oracle-checked query must
    * pin ONE width, because the DuckDB twin embeds the literal sign
    * matrix in a static SQL string that cannot re-derive a corpus
    * count — so this constant is pinned to the dial's value at the
    * benchmarked corpus (lshPlanesFor(2000) == 8, asserted in
    * LshSpec). A production caller sizes the signature with
    * lshPlanesFor(corpusCount) directly.
    */
  private[graft] val lshPlanes = 8
  private def lshSigSql(e: String): String =
    graft.functions.VectorFunctions.lshSigSql(e, lshPlanes)

  /** The signed corpus — every vector with its norm and its
    * lshPlanes-bit sign bucket (vec_id, label, embedding, nrm,
    * bucket) — cached per (session, corpus). This IS the LSH index: a
    * production deployment builds it once and serves probes against
    * it, so the signature evaluation (lshPlanes × 64 sign terms
    * per vector) is index-build cost, not per-query cost. Shared by
    * every ANN variant and by dedup_embedding's candidate blocking.
    */
  private[graft] def lshIndex(spark: SparkSession, dir: String): DataFrame =
      graft.Artifacts(spark, dir, "Similarity.lshIndex") {
    import spark.implicits._
    Tables(spark, dir).embeddings
      .select($"vec_id", $"label", $"embedding", norm($"embedding").as("nrm"),
        graft.functions.VectorFunctions.lshSig($"embedding", lshPlanes).as("bucket"))
      .localCheckpoint()
  }

  private def annLshCore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val v = lshIndex(spark, dir)
      .select($"vec_id", $"embedding", $"nrm", $"bucket")
    val q = v.filter(queryFilter(spark, dir)($"vec_id"))
      .select($"vec_id".as("q_id"), $"embedding".as("q_e"),
        $"nrm".as("q_n"), $"bucket".as("q_bucket"))
    val nQ = queryCount(spark, dir, q)
    topKRanked(
      v.join(probeSide(q, nQ), $"bucket" === $"q_bucket" && $"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id",
          (dot($"q_e", $"embedding") / ($"q_n" * $"nrm")).as("cosine")),
      "cosine", descending = true)
  }

  private def annLsh(spark: SparkSession, dir: String): DataFrame =
    annLshCore(spark, dir).resultOrder(col("q_id"), col("rk"))

  private val annLshSql =
    s"""WITH v AS (
       |  SELECT vec_id, embedding AS e, ${normSql("embedding")} AS nrm,
       |    ${lshSigSql("embedding")} AS bucket
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, v.vec_id,
       |    ${dotSql("q.e", "v.e", 64)} / (q.nrm * v.nrm) AS cosine
       |  FROM v q JOIN v ON v.bucket = q.bucket AND v.vec_id <> q.vec_id
       |  WHERE q.vec_id % ${probeStrideSql} = 0)
       |SELECT q_id, rk, vec_id AS neighbor_id, cosine FROM (
       |  SELECT q_id, vec_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
       |  FROM scored)
       |WHERE rk <= 5
       |ORDER BY q_id, rk""".stripMargin

  // ---- ann_index_stats: LSH index health report ----
  // The operational introspection every served vector index needs:
  // bucket-population distribution (count, min/max/avg, singleton
  // rate) and the candidate PAIR WORK Σ p(p−1)/2 — the number the
  // width dial (VectorFunctions.lshPlanesFor) exists to keep
  // near-constant per bucket as the corpus grows. At 100 TB this is
  // the query a platform runs before every reindex decision: if
  // max_pop or pair_work drifts up, the index needs more planes.
  // One keyed aggregate over the cached index + a single-row rollup,
  // all-integer, exact cross-engine.

  private def annIndexStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    lshIndex(spark, dir)
      .groupBy($"bucket").agg(count(lit(1)).as("pop"))
      .agg(
        sum($"pop").as("n_vectors"),
        count(lit(1)).as("n_buckets"),
        max($"pop").as("max_pop"),
        min($"pop").as("min_pop"),
        sum(when($"pop" === 1, 1L).otherwise(0L)).as("n_singleton"),
        sum(expr("pop * (pop - 1) div 2")).as("pair_work"))
      .select($"n_vectors", $"n_buckets", $"max_pop", $"min_pop",
        $"n_singleton", $"pair_work",
        expr("(1000 * n_vectors) div n_buckets").as("avg_pop_milli"))
  }

  private val annIndexStatsSql =
    s"""WITH v AS (SELECT ${lshSigSql("embedding")} AS bucket FROM embeddings),
       |p AS (SELECT bucket, COUNT(*) AS pop FROM v GROUP BY bucket)
       |SELECT CAST(SUM(pop) AS BIGINT) AS n_vectors,
       |  COUNT(*) AS n_buckets,
       |  CAST(MAX(pop) AS BIGINT) AS max_pop,
       |  CAST(MIN(pop) AS BIGINT) AS min_pop,
       |  CAST(SUM(CASE WHEN pop = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singleton,
       |  CAST(SUM((pop * (pop - 1)) // 2) AS BIGINT) AS pair_work,
       |  (1000 * CAST(SUM(pop) AS BIGINT)) // COUNT(*) AS avg_pop_milli
       |FROM p""".stripMargin

  // ---- ann_ivf: inverted-file (cluster-probe) ANN ----
  // The production path for corpus-scale search: centroids per
  // partition (here the label clustering; k-means at scale), each
  // query probes only its nearest centroid's cluster — scoring work
  // drops from O(corpus) to O(corpus/nlist) per query. Centroids are
  // exact decimal-accumulated dimension means, so the DuckDB oracle
  // reproduces the same floats and the same final ranking.
  //
  // nlist here is the corpus's LABEL CARDINALITY (a data property:
  // 10 at every test SF), so per-query probe work is corpus/10 and
  // the family's total grows quadratically across SFs — the same
  // growth the DuckDB twin pays on the identical semantics, so the
  // ratio holds, but the absolute wall is the label clustering's,
  // not IVF's. The production dial is nlist ≈ √corpus from a real
  // k-means (ann_kmeans_step is one Lloyd iteration of exactly that
  // trainer; iterate it and cluster on its assignments instead of
  // `label` to get corpus/√n-sized cells) — the same
  // one-dial-per-corpus-doubling discipline the LSH family's
  // widthFor/embBandsFor dials mechanize.

  /** The IVF index build — exact decimal-accumulated centroid per
    * cluster — cached per (session, corpus): production IVF builds
    * the index once and serves many probe queries, so the two
    * centroid aggregations are not part of a query's steady-state
    * cost. nlist rows, checkpointed.
    */
  private def ivfCentroids(spark: SparkSession, dir: String): DataFrame =
      graft.Artifacts(spark, dir, "Similarity.ivfCentroids") {
    import spark.implicits._
    // centroid component = exact mean per (label, dimension)
    val dims = Tables(spark, dir).embeddings
      .select($"label", posexplode($"embedding"))
      .groupBy($"label", $"pos")
      .agg((sum($"col".cast("double").cast(org.apache.spark.sql.types.DecimalType(30, 15)))
        .cast("double") / count(lit(1))).as("c"))
    dims.groupBy($"label")
      .agg(transform(array_sort(collect_list(struct($"pos", $"c"))),
        x => x.getField("c")).as("cvec"))
      .select($"label".as("c_label"), $"cvec", norm($"cvec").as("c_nrm"))
      .localCheckpoint()
  }

  /** Per-query probed-cluster routing (q_id, q_e, q_n, c_label,
    * c_rk ≤ [[ivfProbeMax]]) — the nearest-centroid ranking every IVF
    * variant starts from, cached per (session, corpus) and shared by
    * ann_ivf (c_rk ≤ 1), ann_ivf_multiprobe and ann_ivfpq (≤ 2): the
    * routing of the fixed probe set against the SAME cached centroid
    * frame is identical across them, so computing it per variant was
    * pure repeated work. Queries × ivfProbeMax rows, checkpointed.
    */
  private[graft] val ivfProbeMax = 2
  private def ivfProbed(spark: SparkSession, dir: String): DataFrame =
      graft.Artifacts(spark, dir, "Similarity.ivfProbed") {
    import spark.implicits._
    val q = lshIndex(spark, dir).filter(queryFilter(spark, dir)($"vec_id"))
      .select($"vec_id".as("q_id"), $"embedding".as("q_e"), $"nrm".as("q_n"))
    val wC = Window.partitionBy($"q_id").orderBy($"c_cos".desc, $"c_label")
    q.crossJoin(broadcast(ivfCentroids(spark, dir)))
      .withColumn("c_cos", dot($"q_e", $"cvec") / ($"q_n" * $"c_nrm"))
      .withColumn("c_rk", row_number().over(wC))
      .filter($"c_rk" <= ivfProbeMax)
      .select($"q_id", $"q_e", $"q_n", $"c_label", $"c_rk")
      .localCheckpoint()
  }

  private def annIvfProbe(spark: SparkSession, dir: String, nprobe: Int): DataFrame = {
    import spark.implicits._
    require(nprobe <= ivfProbeMax, s"nprobe $nprobe > cached ivfProbeMax $ivfProbeMax")
    val v = lshIndex(spark, dir)
      .select($"vec_id", $"label", $"embedding", $"nrm")
    val q = v.filter(queryFilter(spark, dir)($"vec_id"))
      .select($"vec_id".as("q_id"), $"embedding".as("q_e"), $"nrm".as("q_n"))
    val nQ = queryCount(spark, dir, q)
    val probed = ivfProbed(spark, dir).filter($"c_rk" <= nprobe)
      .select($"q_id", $"q_e", $"q_n", $"c_label")
    // search only the probed clusters; probed = queries × nprobe rows
    topKRanked(
      v.join(probeSide(probed, nQ * nprobe),
          $"label" === $"c_label" && $"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id",
          (dot($"q_e", $"embedding") / ($"q_n" * $"nrm")).as("cosine")),
      "cosine", descending = true)
      .resultOrder($"q_id", $"rk")
  }

  private def annIvf(spark: SparkSession, dir: String): DataFrame =
    annIvfProbe(spark, dir, 1)

  // ---- ann_ivf_multiprobe: nprobe=2 — the recall knob ----
  // The standard IVF accuracy/latency dial: scoring the two nearest
  // clusters instead of one recovers the neighbors that fall just
  // across a centroid boundary, at 2× the per-query scan (still
  // corpus/nlist·nprobe, never the full corpus).

  private def annIvfMulti(spark: SparkSession, dir: String): DataFrame =
    annIvfProbe(spark, dir, 2)

  private def annIvfSqlProbe(nprobe: Int): String =
    s"""WITH v AS (
       |  SELECT vec_id, label, embedding AS e, ${normSql("embedding")} AS nrm
       |  FROM embeddings),
       |dims AS (
       |  SELECT label, pos,
       |    CAST(SUM(CAST(CAST(embedding[pos] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) / COUNT(*) AS c
       |  FROM embeddings, UNNEST(range(1, 65)) AS r(pos)
       |  GROUP BY label, pos),
       |cent AS (
       |  SELECT label AS c_label, list(c ORDER BY pos) AS cvec
       |  FROM dims GROUP BY label),
       |cent2 AS (SELECT c_label, cvec, ${normSql("cvec")} AS c_nrm FROM cent),
       |probe AS (
       |  SELECT q_id, q_e, q_n, c_label FROM (
       |    SELECT q.vec_id AS q_id, q.e AS q_e, q.nrm AS q_n, c.c_label,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${dotSql("q.e", "c.cvec", 64)} / (q.nrm * c.c_nrm) DESC, c.c_label) AS c_rk
       |    FROM v q, cent2 c
       |    WHERE q.vec_id % ${probeStrideSql} = 0)
       |  WHERE c_rk <= $nprobe),
       |scored AS (
       |  SELECT p.q_id, v.vec_id,
       |    ${dotSql("p.q_e", "v.e", 64)} / (p.q_n * v.nrm) AS cosine
       |  FROM probe p JOIN v ON v.label = p.c_label AND v.vec_id <> p.q_id)
       |SELECT q_id, rk, vec_id AS neighbor_id, cosine FROM (
       |  SELECT q_id, vec_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
       |  FROM scored)
       |WHERE rk <= 5
       |ORDER BY q_id, rk""".stripMargin

  // ---- ann_kmeans_step: one deterministic Lloyd iteration ----
  // The IVF index build at scale: seeds are fixed corpus vectors
  // (vec_id 0,50,...,350), every vector picks its nearest centroid by
  // cosine (deterministic exact math), and per-cluster stats come
  // from one aggregation pass. Iterating this step to convergence is
  // the full k-means; one step is enough to oracle-check assignment +
  // recomputation semantics.
  //
  // The centroid set is CONSTANT-SIZE (k vectors, here 8×64 doubles ≈
  // 4 KB), so the scale-correct assignment is ROW-LOCAL: the seeds
  // are inlined as literal arrays (the ann_lsh sign-matrix pattern)
  // and each vector takes `greatest` over the k scored structs —
  // zero join, zero corpus-keyed exchange. The earlier
  // crossJoin+TopKPerKey form paid a broadcast-build job plus a
  // full-corpus shuffle on vec_id whose final pass was an identity
  // (each vector's 8 candidate rows already sat in one partition).
  // This is the plan Spark MLlib's KMeans assignment uses, and the
  // only exchange left is the ≤ k·partitions-row aggregation one.

  /** Seed centroids collected once per (session, corpus) — a k-row
    * driver read of a deterministic projection, memoized like
    * queryCount. (vec_id, embedding as double, norm), sorted by id.
    */
  private def kmeansSeeds(spark: SparkSession, dir: String): Array[(Long, Array[Double], Double)] =
      graft.Artifacts(spark, dir, "Similarity.kmeansSeeds") {
    import spark.implicits._
    Tables(spark, dir).embeddings
      .filter($"vec_id" % 50 === 0 && $"vec_id" < 400)
      .select($"vec_id", $"embedding", norm($"embedding").as("nrm"))
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getDouble(2)))
      .sortBy(_._1)
  }

  private def annKmeansStep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val seeds = kmeansSeeds(spark, dir)
    val v = Tables(spark, dir).embeddings
      .select($"vec_id", $"embedding", norm($"embedding").as("nrm"))
    // greatest over (cos, -seed_id) structs == top-1 by (cos desc,
    // seed_id asc): the same tie-total order the TopKPerKey form and
    // the oracle's row_number use. dot() is the shared codegen
    // kernel, so the arithmetic is bit-identical to the join form.
    require(seeds.nonEmpty,
      s"ann_kmeans_step: no seed vectors in $dir (vec_id % 50 == 0, < 400)")
    val scored = seeds.map { case (sid, vec, n) =>
      struct(
        (dot($"embedding", lit(vec)) / ($"nrm" * lit(n))).as("cos"),
        lit(-sid).as("neg_id"))
    }
    // greatest() needs >= 2 args; a 1-seed corpus assigns trivially
    val best = if (scored.size == 1) scored.head else greatest(scored: _*)
    v.select($"vec_id",
        (-best.getField("neg_id")).as("seed_id"),
        best.getField("cos").as("cos"))
      .groupBy($"seed_id".as("cluster_id"))
      .agg(
        count(lit(1)).as("n_members"),
        graft.Det.dsum(lit(1.0) - $"cos").as("inertia"),
        min($"vec_id").as("first_member"))
      .resultOrder($"cluster_id")
  }

  private val annKmeansStepSql =
    s"""WITH v AS (
       |  SELECT vec_id, embedding AS e, ${normSql("embedding")} AS nrm
       |  FROM embeddings),
       |seeds AS (
       |  SELECT vec_id AS seed_id, e AS s_e, nrm AS s_n FROM v
       |  WHERE vec_id % 50 = 0 AND vec_id < 400),
       |assigned AS (
       |  SELECT vec_id, seed_id, cos FROM (
       |    SELECT v.vec_id, s.seed_id,
       |      ${dotSql("v.e", "s.s_e", 64)} / (v.nrm * s.s_n) AS cos,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${dotSql("v.e", "s.s_e", 64)} / (v.nrm * s.s_n) DESC, s.seed_id) AS rk
       |    FROM v, seeds s)
       |  WHERE rk = 1)
       |SELECT seed_id AS cluster_id,
       |  COUNT(*) AS n_members,
       |  ${graft.Det.dsumSql("1.0 - cos")} AS inertia,
       |  MIN(vec_id) AS first_member
       |FROM assigned
       |GROUP BY cluster_id
       |ORDER BY cluster_id""".stripMargin

  // ---- ann_quantize: symmetric int8 embedding quantization ----
  // The standard memory lever for corpus-scale vector search: float32
  // → int8 + one float scale per vector is 4× less storage and
  // shuffle for every ANN stage downstream. Per-vector symmetric
  // scheme: scale = amax/127, q_i = trunc(e_i/scale) — truncation
  // toward zero on BOTH engines (Spark CAST INT truncates; DuckDB
  // CAST rounds, so the oracle spells trunc() explicitly). Fidelity
  // is reported as cosine(original, dequantized); scale cancels in
  // the cosine, so it is computed exactly over the int vector. A
  // narrow projection with zero shuffles — embarrassingly parallel
  // at any corpus size. Degenerate input guard: an all-zero vector
  // gives amax=0, so the scale is clamped (greatest(amax,1e-30)/127,
  // identically in both engines) and the fidelity denominator is
  // clamped the same way — zero vectors quantize to zeros with
  // cos_fidelity 0 instead of engine-dependent NaN/∞.

  private def annQuantize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val amax = aggregate(
      transform($"embedding", x => abs(x.cast("double"))),
      lit(0.0), (a, x) => greatest(a, x))
    val q = transform($"embedding",
      x => (x.cast("double") / $"scale").cast("int"))
    Tables(spark, dir).embeddings
      .select($"vec_id", $"embedding",
        (greatest(amax, lit(1e-30)) / 127.0).as("scale"))
      .withColumn("q", q)
      .select($"vec_id", $"scale",
        concat_ws(",", transform($"q", _.cast("string"))).as("q_csv"),
        (dot($"embedding", $"q".cast("array<double>")) /
          greatest(norm($"embedding") * norm($"q".cast("array<double>")),
            lit(1e-30)))
          .as("cos_fidelity"))
      .resultOrder($"vec_id")
  }

  private val annQuantizeSql = {
    val amax =
      "list_reduce(list_prepend(0.0, [abs(CAST(x AS DOUBLE)) for x in embedding]), (a, x) -> greatest(a, x))"
    s"""WITH s AS (
       |  SELECT vec_id, embedding, greatest($amax, 1e-30) / 127.0 AS scale
       |  FROM embeddings),
       |qt AS (
       |  SELECT vec_id, scale, embedding,
       |    [CAST(trunc(CAST(x AS DOUBLE) / scale) AS INTEGER) for x in embedding] AS q
       |  FROM s)
       |SELECT vec_id, scale,
       |  list_aggregate([CAST(x AS VARCHAR) for x in q], 'string_agg', ',') AS q_csv,
       |  ${dotSql("embedding", "q", 64)}
       |    / greatest(${normSql("embedding")} * ${normSql("q")}, 1e-30) AS cos_fidelity
       |FROM qt ORDER BY vec_id""".stripMargin
  }

  // ---- ann_knn_graph: corpus-wide kNN graph via LSH blocking ----
  // The ALL-vectors variant of ann_lsh: every vector finds its top-3
  // cosine neighbors among its own LSH bucket — the build step for
  // embedding clustering, semantic-dedup sweeps, and graph-based
  // index construction (NSW/HNSW seeding), where the "query set" IS
  // the corpus. Nothing is broadcast (both sides are the corpus):
  // one shuffled self-equi-join on the bucket key, and per-band
  // bucket population is held near-constant by the width dial
  // (VectorFunctions.lshPlanesFor), so pair work per bucket is a
  // build-time constant and the join output is O(n·targetBucket) —
  // the kNN graph at 100 TB is exactly this plan with more planes.
  // Vectors alone in their bucket emit no edges (sparse by design;
  // production recalls them via multi-band OR like dedup_embedding).

  /** The kNN edge set is an index artifact (like the LSH/IVF frames):
    * built once per (session, corpus), consumed by the graph listing
    * AND by graph_pagerank's five iterations — cached per convention,
    * with the UNCHECKPOINTED *Plan variant for the shape guards.
    */
  private[graft] def knnEdges(spark: SparkSession, dir: String): DataFrame =
    graft.Artifacts(spark, dir, "Similarity.knnEdges")(
      // MeasuredCkpt, not a plain checkpoint: the copied origin
      // estimate (a join product) is garbage-huge, and every graph
      // artifact downstream (undirected edges, pagerank prep) would
      // inherit it — see MeasuredCkpt's scaladoc
      graft.MeasuredCkpt(knnEdgesPlan(spark, dir)))

  /** The UNCHECKPOINTED kNN-edge derivation (for plan-shape guards). */
  private[graft] def knnEdgesPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val v = lshIndex(spark, dir)
      .select($"vec_id", $"embedding", $"nrm", $"bucket")
    val b = v.select($"vec_id".as("b_id"), $"embedding".as("b_e"),
      $"nrm".as("b_n"), $"bucket".as("b_bucket"))
    // top-3 per vector via TopKPerKey (partial heap before the
    // shuffle — see topKRanked): at corpus scale the exchange carries
    // ≤ 3·n rows instead of the full bucket-pair score stream
    topKRanked(
      v.join(b.hint("shuffle_hash"),
          $"bucket" === $"b_bucket" && $"vec_id" =!= $"b_id")
        .select($"vec_id", $"b_id",
          (dot($"embedding", $"b_e") / ($"nrm" * $"b_n")).as("cosine")),
      "cosine", descending = true, k = 3, keyCol = "vec_id", nbrCol = "b_id")
  }

  private def annKnnGraph(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    knnEdges(spark, dir).resultOrder($"vec_id", $"rk")
  }

  private val annKnnGraphSql =
    s"""WITH v AS (
       |  SELECT vec_id, embedding AS e, ${normSql("embedding")} AS nrm,
       |    ${lshSigSql("embedding")} AS bucket
       |  FROM embeddings),
       |scored AS (
       |  SELECT a.vec_id, b.vec_id AS b_id,
       |    ${dotSql("a.e", "b.e", 64)} / (a.nrm * b.nrm) AS cosine
       |  FROM v a JOIN v b ON b.bucket = a.bucket AND b.vec_id <> a.vec_id)
       |SELECT vec_id, rk, b_id AS neighbor_id, cosine FROM (
       |  SELECT vec_id, b_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, b_id) AS rk
       |  FROM scored)
       |WHERE rk <= 3
       |ORDER BY vec_id, rk""".stripMargin

  // ---- dedup_semantic: SemDeDup over the kNN graph ----
  // Semantic deduplication (Abbas et al. 2023, "SemDeDup": drop
  // embedding-space near-duplicates that share no n-grams — public
  // literature): edges are kNN-graph pairs above a cosine threshold,
  // semantic-dup groups are their connected components, and each
  // group keeps its min-id representative. Composes three already-
  // checked pieces — the LSH-bucketed kNN graph (candidate
  // generation never goes all-pairs), the star-contraction CC
  // (O(log n) rounds), and a keyed count window — so the whole
  // pipeline is the 100 TB shape end to end. Every vector gets a
  // verdict row (singletons are their own keeper), which is what the
  // downstream corpus-select anti-join consumes.

  private[graft] val semTau = 0.35

  /** Semantic-CC labels cached per (session, corpus) — the iterative
    * star-contraction is index-build cost (like the LSH/IVF frames and
    * dedup_clusters' clusterLabels twin, Dedup.scala), not per-invocation
    * cost: a production SemDeDup sweep labels the corpus once and
    * every downstream selection consumes the labels. The cached frame
    * is localCheckpoint output, so eviction just drops the reference.
    */
  private def semClusterLabels(spark: SparkSession, dir: String): DataFrame =
      graft.Artifacts(spark, dir, "Similarity.semClusterLabels") {
    import spark.implicits._
    val edges = knnEdges(spark, dir).filter($"cosine" >= semTau)
      .select(least($"vec_id", $"neighbor_id").as("a_id"),
        greatest($"vec_id", $"neighbor_id").as("b_id"))
      .distinct()
    Dedup.connectedComponents(edges).localCheckpoint()
  }

  private def dedupSemantic(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // shuffle_hash on the label side (r15): the cached CC frame is
    // stats-less checkpoint output, so sort-merge gave BOTH shuffled
    // sides a full sort; a per-partition hash build of the label rows
    // (two longs each) does the same left join without either sort —
    // the same pattern corpus_select's drop-list join documents.
    // Never broadcast: labels are corpus-proportional.
    val comp = semClusterLabels(spark, dir)
      .select($"id".as("vec_id"), $"label".as("cl")).hint("shuffle_hash")
    val wc = Window.partitionBy($"cluster_id")
    Tables(spark, dir).embeddings.select($"vec_id")
      .join(comp, Seq("vec_id"), "left")
      .select($"vec_id", coalesce($"cl", $"vec_id").as("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(wc))
      .withColumn("is_keeper", $"vec_id" === $"cluster_id")
      .resultOrder($"vec_id")
  }

  private lazy val dedupSemanticSql =
    s"""WITH RECURSIVE knn AS MATERIALIZED ($annKnnGraphSql),
       |sedges AS MATERIALIZED (
       |  SELECT DISTINCT least(vec_id, neighbor_id) AS a_id,
       |    greatest(vec_id, neighbor_id) AS b_id
       |  FROM knn WHERE cosine >= $semTau),
       |edges AS MATERIALIZED (
       |  SELECT a_id AS src, b_id AS dst FROM sedges
       |  UNION ALL SELECT b_id, a_id FROM sedges),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |walk(id, root) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.src, w.root FROM walk w JOIN edges e ON e.dst = w.id
       |  WHERE w.root < e.src OR w.root < w.id),
       |comp AS (SELECT id, MIN(root) AS cluster_id FROM walk GROUP BY id),
       |lab AS (SELECT em.vec_id, COALESCE(c.cluster_id, em.vec_id) AS cluster_id
       |        FROM embeddings em LEFT JOIN comp c ON c.id = em.vec_id)
       |SELECT vec_id, cluster_id,
       |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       |  vec_id = cluster_id AS is_keeper
       |FROM lab ORDER BY vec_id""".stripMargin

  // ---- graph_pagerank: corpus-importance over the kNN graph ----
  // The iterative-propagation workload class (Pregel-style): document
  // importance from graph structure, the signal link/similarity-graph
  // corpus curation weights selection by (à la OpenWebText's link
  // filtering, done here on the semantic kNN graph). Five damped
  // iterations, statically unrolled into ONE declarative plan — each
  // iteration is edges ⋈ ranks ⋈ out-degrees, contributions reduced
  // per destination (shuffle key: dst), then a left join back onto
  // the node set; the only broadcast is the single-row corpus count.
  //
  // All arithmetic is SCALED INTEGER (ranks in units of 1e-12):
  // integer sums are order-independent, so shuffle nondeterminism
  // cannot perturb a float accumulation, and Spark's truncating
  // `div` equals DuckDB's floor `//` because every operand is
  // non-negative — the rank vector is bit-identical cross-engine
  // with no decimal-division scale rules in play. Dangling-node mass
  // leaks (no redistribution term): fine for a per-doc importance
  // SCORE, and it keeps every contribution local to an edge.

  private[graft] val prScale = 1000000000000L
  private[graft] val prIters = 5
  // damping d = prDampNum/prDampDen (0.85), base mass = prBaseNum/prDampDen
  // (0.15) — shared by the Spark builder, the SQL twin and the spec's
  // sequential recompute, so retuning cannot drift one engine
  private[graft] val prBaseNum = 15
  private[graft] val prDampNum = 85
  private[graft] val prDampDen = 100

  /** Measured-bound partition sizing for graph-index frames — the
    * explicit size-aware planning the r8 AQE-off flip removed from
    * the two graph plans, recovered from a MEASURED row count (paid
    * once per (session, corpus) at index build, like the probeSide
    * query count) instead of a runtime re-plan:
    *
    *   parts = clamp(ceil(maxRows / rowsPerPartition), 1, shuffle.partitions)
    *
    * A bench-scale graph (thousands of rows) collapses to ONE
    * partition — SinglePartition satisfies every clustering
    * requirement, so the whole unrolled iteration / wedge closure
    * plans ZERO exchanges and runs as one stage. At corpus scale the
    * count grows the partition count back to the session shuffle
    * parallelism and the co-partitioned shuffle plan reappears
    * unchanged — same code, measured dial. Conf-threaded
    * (rowsPerPartition) so plan guards can pin the scale path.
    */
  private[graft] val graphRowsPerPartConf = "spark.graft.graph.rowsPerPartition"
  private[graft] val defaultGraphRowsPerPart = 1L << 18 // ~6 MB of (long,long,long) rows
  private def partsFor(spark: SparkSession, maxRows: Long): Int = {
    val perPart = graft.Confs.positiveLong(spark, graphRowsPerPartConf, defaultGraphRowsPerPart)
    val want = (maxRows + perPart - 1) / perPart
    math.max(1L, math.min(want, spark.sessionState.conf.numShufflePartitions.toLong)).toInt
  }
  private def graphParts(spark: SparkSession, dir: String): Int =
    partsFor(spark, math.max(
      measuredCount(spark, dir, "nodes")(
        Tables(spark, dir).embeddings.select(col("vec_id"))),
      measuredCount(spark, dir, "knn_edges")(knnEdges(spark, dir))))

  /** Graph-INDEX preparation: the degree-weighted edge list
    * partitioned by src and the node set partitioned by id —
    * artifacts the unrolled plan would otherwise re-derive in every
    * iteration (5× the deg aggregation + 5× the edges⋈deg join).
    * Both frames are HASH-PARTITIONED ON THEIR JOIN KEY at the
    * MEASURED partition count ([[partsFor]]) and checkpointed, so
    * inside [[pagerankIter]] every join is co-partitioned: rank
    * carries hash(id) out of each update (alias-aware partitioning
    * propagation through the renames), so the edges⋈rank join and
    * the nodes⋈contrib update both plan with ZERO additional
    * exchange — each iteration pays exactly one shuffle, the dst
    * contribution reduction, and at the single-partition measured
    * bound even that reduction needs no exchange.
    */
  private def prepNodes(nodes: DataFrame, parts: Int): DataFrame = {
    import nodes.sparkSession.implicits._
    graft.MeasuredCkpt(nodes.repartition(parts, $"id"))
  }
  private def prepEdges(edges: DataFrame, parts: Int): DataFrame = {
    import edges.sparkSession.implicits._
    graft.MeasuredCkpt(
      edges.join(edges.groupBy($"src").agg(count(lit(1)).as("deg")), "src")
        .repartition(parts, $"src"))
  }

  /** The unrolled integer-PageRank iteration over any prepared
    * (id)-node / (src, dst, deg)-edge pair — private[graft] via
    * [[pagerankRanks]] so the spec can drive it on a handmade graph
    * against a sequential recompute.
    */
  private[graft] def pagerankRanks(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val n = nodes.count()
    val parts = partsFor(nodes.sparkSession, math.max(n, edges.count()))
    pagerankIter(prepNodes(nodes, parts), prepEdges(edges, parts), n)
  }

  private def pagerankIter(nodesP: DataFrame, edgesW: DataFrame,
      nNodes: Long): DataFrame = {
    import nodesP.sparkSession.implicits._
    require(nNodes > 0, "pagerank over an empty node set")
    // The node count is a measured scalar (one cached count job), so
    // the per-iteration base mass folds to a LITERAL — Scala Long
    // division over non-negative operands is the same truncating div
    // the SQL twin's // computes, and dropping the old broadcast
    // count-row removes a crossJoin per iteration.
    //
    // SHUFFLE_HASH on the rank/contrib sides: both joins are already
    // co-partitioned (hash(id) ≡ hash(src/dst) via alias propagation,
    // or SinglePartition at the measured bound), so the hint's only
    // effect is picking hash join over sort-merge — the stats-less
    // checkpointed inputs otherwise get TWO sorts per join, 3× per
    // iteration; the hash build is the rank table, O(n) per
    // partition, the same memory the SMJ sort buffer held.
    //
    // The edges⋈rank join is LEFT OUTER although every edge src has a
    // rank row (edges are node-to-node by construction): an INNER
    // join advertises a PartitioningCollection of both sides, which
    // the exchange-compatibility check refuses to match against a
    // SinglePartition sibling (measured: it re-shuffles both sides of
    // every downstream join) — a left join keeps the streamed edge
    // side's plain partitioning, on both the single-partition and the
    // co-partitioned path.
    var rank = nodesP.select($"id", lit(prScale / nNodes).as("r"))
    val base = ((prScale / prDampDen) * prBaseNum) / nNodes
    for (_ <- 1 to prIters) {
      rank = pagerankUpdate(nodesP, edgesW, rank, base)
      // Per-iteration lineage truncation — the iterative-algorithm
      // standard (GraphX/Pregel materialize each round for the same
      // reason) — via MeasuredCkpt: a PLAIN checkpoint copies the
      // origin's estimated size, and the estimator's join-size
      // product grows exponentially in unrolled depth (BigInt, so it
      // outruns ANY maxSinglePartitionBytes setting — the bench
      // corpus crossed Long.MaxValue by iteration 2), so the static
      // planner re-shuffled the measured-single-partition iterations
      // off that garbage estimate. Rank has exactly nNodes rows (one
      // per node, by the left join), so the measured stats are free —
      // the only added work is the one-task-per-partition checkpoint
      // job itself, and partitioning is preserved, so the
      // co-partitioned (or single-partition) join shape carries into
      // the next round.
      rank = graft.MeasuredCkpt(rank, knownRows = nNodes)
    }
    rank
  }

  /** ONE iteration's UNCHECKPOINTED update plan: contributions
    * reduced per destination, then the damped rank refresh — shared
    * by the executed loop and the plan-shape guard (the loop
    * truncates lineage per round, so an executed query's final plan
    * reduces to a checkpoint scan and a guard run against it would
    * pass vacuously — PlanSpec asserts on THIS builder instead).
    */
  private[graft] def pagerankUpdate(nodesP: DataFrame, edgesW: DataFrame,
      rank: DataFrame, base: Long): DataFrame = {
    import nodesP.sparkSession.implicits._
    val contrib = edgesW
      .join(rank.withColumnRenamed("id", "src").hint("shuffle_hash"), Seq("src"), "left")
      .select($"dst", expr("r div deg").as("c"))
      .groupBy($"dst").agg(sum($"c").as("contrib"))
    nodesP.join(contrib.hint("shuffle_hash"), $"id" === $"dst", "left")
      .select($"id", (lit(base) +
        expr(s"($prDampNum * coalesce(contrib, 0L)) div $prDampDen")).as("r"))
  }

  /** One uncheckpointed iteration over the REAL corpus graph at the
    * CURRENT session conf — the plan-shape guards' entry point (the
    * conf pin on [[graphRowsPerPartConf]] selects the scale or the
    * measured-bound path).
    */
  private[graft] def pagerankIterPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (n, nodesP, edgesW) = corpusGraph(spark, dir)
    val rank0 = nodesP.select($"id", lit(prScale / n).as("r"))
    pagerankUpdate(nodesP, edgesW, rank0,
      ((prScale / prDampDen) * prBaseNum) / n)
  }

  /** The corpus kNN graph prepared for pagerank: its measured node
    * count and the [[prepNodes]] / [[prepEdges]] frames — the same
    * builders [[pagerankRanks]] (the spec path) runs. The prepared
    * frames per (session, corpus) are index-build artifacts like
    * lshIndex/ivfCentroids, kept in graft.Artifacts (which
    * Artifacts.clear empties, so PlanSpec still asserts the full
    * derivation) so steady-state reruns skip the materialization
    * jobs.
    */
  private def corpusGraph(spark: SparkSession, dir: String): (Long, DataFrame, DataFrame) = {
    import spark.implicits._
    def nodes = Tables(spark, dir).embeddings.select($"vec_id".as("id"))
    def edges = knnEdges(spark, dir)
      .select($"vec_id".as("src"), $"neighbor_id".as("dst"))
    val n = measuredCount(spark, dir, "nodes")(nodes)
    val parts = graphParts(spark, dir)
    val nodesP = graft.Artifacts(spark, dir, "Similarity.prepNodes")(prepNodes(nodes, parts))
    val edgesW = graft.Artifacts(spark, dir, "Similarity.prepEdges")(prepEdges(edges, parts))
    (n, nodesP, edgesW)
  }

  private def graphPagerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (n, nodesP, edgesW) = corpusGraph(spark, dir)
    pagerankIter(nodesP, edgesW, n)
      .select($"id".as("vec_id"), $"r".as("pr"))
      .resultOrder($"vec_id")
  }

  private val graphPagerankSql = {
    val base = s"(($prScale // $prDampDen) * $prBaseNum) // n.n_nodes"
    val iterCtes = (1 to prIters).flatMap { i =>
      Seq(
        s"""c$i AS (SELECT e.dst, SUM(it${i - 1}.r // deg.deg) AS contrib
           |  FROM e JOIN it${i - 1} ON it${i - 1}.id = e.src
           |  JOIN deg ON deg.src = e.src
           |  GROUP BY e.dst)""".stripMargin,
        s"""it$i AS (SELECT em.vec_id AS id,
           |  CAST($base + ($prDampNum * COALESCE(c$i.contrib, 0)) // $prDampDen AS BIGINT) AS r
           |  FROM embeddings em CROSS JOIN n
           |  LEFT JOIN c$i ON c$i.dst = em.vec_id)""".stripMargin)
    }.mkString(",\n")
    s"""WITH knn AS ($annKnnGraphSql),
       |e AS (SELECT vec_id AS src, neighbor_id AS dst FROM knn),
       |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
       |n AS (SELECT COUNT(*) AS n_nodes FROM embeddings),
       |it0 AS (SELECT vec_id AS id, CAST($prScale AS BIGINT) // n.n_nodes AS r
       |        FROM embeddings, n),
       |$iterCtes
       |SELECT id AS vec_id, r AS pr FROM it$prIters ORDER BY vec_id""".stripMargin
  }

  // ---- graph_triangles: motif counting over the kNN graph ----
  // The third graph workload class beside listing (ann_knn_graph) and
  // iterative propagation (graph_pagerank): MOTIF COUNTING. Triangle
  // census + global clustering coefficient is the standard structure
  // probe of a similarity graph — a high coefficient means the
  // embedding space has tight semantic clusters (dedup_semantic will
  // bite), a low one means the kNN edges are mostly noise. One pass,
  // all-integer, so the figure is bit-stable cross-engine.
  //
  // Plan shape: undirected edge set (a<b, distinct) → per-vertex
  // degrees (one keyed aggregate) → triangle closure as TWO shuffled
  // equi-joins on vertex keys (e1(a,b) ⋈ e2(b,c) ⋈ closing (a,c)),
  // counting each triangle once via a<b<c. Nothing is broadcast.
  // At 100 TB the join fan-out is bounded by construction: a kNN
  // graph has out-degree ≤ k, so wedges-per-vertex ≤ deg² with deg
  // capped near 2k — the same degree bound production triangle
  // counters get from degree-ordering (node-iterator++). Wedge count
  // Σ d(d-1)/2 is exact integer; coefficient reported in milli units
  // via truncating div (non-negative operands → trunc ≡ floor ≡
  // DuckDB's //).

  /** Undirected distinct edge set of the kNN graph — a graph-index
    * artifact like the pagerank prep frames, cached per (session,
    * corpus): the triangle census consumes it FIVE times in one plan
    * (degrees, edge count, all three legs of the wedge closure), and
    * Spark has no cross-branch common-subplan elimination, so the
    * uncached form re-ran the distinct (scan + exchange + dedup
    * aggregate) per consumer.
    */
  private[graft] def undirectedEdgesPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    knnEdges(spark, dir)
      .select(least($"vec_id", $"neighbor_id").as("a"),
        greatest($"vec_id", $"neighbor_id").as("b"))
      .distinct()
  }
  private[graft] def undirectedEdges(spark: SparkSession, dir: String): DataFrame =
    graft.Artifacts(spark, dir, "Similarity.undirectedEdges") {
      import spark.implicits._
      // measured partition sizing, like the pagerank prep frames: a
      // bench-scale edge set collapses to one partition and the whole
      // census below plans zero exchanges; at corpus scale the wedge
      // joins shuffle on their vertex keys as before
      graft.MeasuredCkpt(undirectedEdgesPlan(spark, dir)
        .repartition(graphParts(spark, dir), $"a"))
    }

  private def graphTriangles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ue = undirectedEdges(spark, dir)
    // explode, not unionAll: a union of the two endpoint projections
    // concatenates partitions (UnknownPartitioning), forcing a keyed
    // exchange before the degree aggregate even at the measured
    // single-partition bound — the generator is a narrow op that
    // keeps the edge frame's partitioning. n_edges = Σd/2 exactly
    // (each edge contributes two endpoints), one less pass over the
    // edge set than a separate count branch.
    val deg = ue.select(explode(array($"a", $"b")).as("id"))
      .groupBy($"id").agg(count(lit(1)).as("d"))
    val degStats = deg.agg(
      count(lit(1)).as("n_vertices"),
      expr("sum(d) div 2").as("n_edges"),
      sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    val e2 = ue.select($"a".as("b2"), $"b".as("c2"))
    val e3 = ue.select($"a".as("a3"), $"b".as("c3"))
    // SHUFFLE_HASH like the pagerank iterations: the stats-less
    // checkpointed sides would otherwise plan sort-merge (two sorts
    // per join); fan-out is degree-bounded (≤ 2k per vertex), so the
    // hash build is the same memory the SMJ sort buffer held.
    // The wedge join is LEFT OUTER for the same reason as pagerank's
    // edges⋈rank join: an inner join's PartitioningCollection output
    // fails the exchange-compatibility check against a
    // SinglePartition sibling and re-shuffles the closing join —
    // left keeps the streamed side's plain partitioning, and the
    // unmatched wedge stubs (null c2) are dropped by the closing
    // join, so the census is unchanged. The closing c2-key is
    // NULL-SAFE (<=>, still a hashable equi-key): a plain === is
    // null-intolerant, and EliminateOuterJoin would use it to fold
    // the wedge join back to inner — reintroducing the collection
    // partitioning. c3 is never null, so <=> matches exactly the
    // pairs === matched and the stub rows (null c2) match nothing.
    val triStats = ue
      .join(e2.hint("shuffle_hash"), $"b" === $"b2", "left")
      .join(e3.hint("shuffle_hash"), $"a" === $"a3" && $"c2" <=> $"c3")
      .agg(count(lit(1)).as("n_triangles"))
    degStats.crossJoin(broadcast(triStats))
      .select($"n_vertices", $"n_edges", $"n_wedges", $"n_triangles",
        expr("(3000 * n_triangles) div greatest(n_wedges, 1L)")
          .as("global_cc_milli"))
  }

  private lazy val graphTrianglesSql =
    s"""WITH knn AS ($annKnnGraphSql),
       |ue AS (SELECT DISTINCT least(vec_id, neighbor_id) AS a,
       |         greatest(vec_id, neighbor_id) AS b FROM knn),
       |deg AS (SELECT id, COUNT(*) AS d
       |        FROM (SELECT a AS id FROM ue UNION ALL SELECT b AS id FROM ue)
       |        GROUP BY id),
       |ds AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vertices,
       |         CAST(SUM((d * (d - 1)) // 2) AS BIGINT) AS n_wedges FROM deg),
       |es AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM ue),
       |ts AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
       |       FROM ue e1 JOIN ue e2 ON e2.a = e1.b
       |       JOIN ue e3 ON e3.a = e1.a AND e3.b = e2.b)
       |SELECT n_vertices, n_edges, n_wedges, n_triangles,
       |  CAST((3000 * n_triangles) // greatest(n_wedges, 1) AS BIGINT) AS global_cc_milli
       |FROM ds CROSS JOIN es CROSS JOIN ts""".stripMargin

  // ---- ann_pq: product quantization + asymmetric-distance search ----
  // The third leg of the compressed-ANN stack (quantize → IVF → PQ):
  // split each vector into pqSubspaces subvectors, encode each
  // subvector as its nearest codebook centroid, and rank neighbors by
  // ADC — the sum of per-subspace distances looked up from a tiny
  // per-query table instead of recomputed per pair (Jégou et al.,
  // "Product Quantization for Nearest Neighbor Search", TPAMI 2011 —
  // public literature). 64 dims collapse to 4 code bytes (16× less
  // index than even int8), and pair scoring is 4 table adds vs 64
  // multiplies; in production this composes with ann_ivf's probe
  // pruning (IVF-PQ), and the codebooks come from per-subspace
  // k-means (ann_kmeans_step is that trainer) — here they are pinned
  // to the kmeans seed set so the DuckDB twin derives the identical
  // codebook from the same table.
  //
  // Cross-engine exactness: vectors are first quantized to int8 on a
  // CORPUS-GLOBAL scale (one-row broadcast agg; same trunc rules as
  // ann_quantize), so every subspace distance, code argmin (packed
  // min(d·K+idx) — tie-break on centroid id), and ADC sum is INTEGER
  // arithmetic — order-independent, no float-accumulation drift
  // through any shuffle on either engine.

  private[graft] val pqSubspaces = 4
  private[graft] val pqSubDim = lshDim / pqSubspaces
  private val pqSeedMod = 50
  private val pqSeedMax = 400
  private val pqK = 8 // centroid slots per subspace (idx < pqK by construction)

  /** Corpus quantized on the global scale: (vec_id, q array<int>) —
    * index-build cost cached per (session, corpus) like lshIndex: one
    * invocation of ann_pq consumes it three times (codes, the
    * per-query ADC tables, the probe-count check), and every rerun
    * re-consumed it from scratch before this cache.
    */
  private def pqQuantized(spark: SparkSession, dir: String): DataFrame =
      graft.Artifacts(spark, dir, "Similarity.pqQuantized") {
    import spark.implicits._
    val emb = Tables(spark, dir).embeddings
    val amax = aggregate(
      transform($"embedding", x => abs(x.cast("double"))),
      lit(0.0), (a, x) => greatest(a, x))
    val gscale = emb.select(amax.as("amax"))
      .agg(max($"amax").as("gmax"))
      .select((greatest($"gmax", lit(1e-30)) / 127.0).as("gscale"))
    emb.crossJoin(broadcast(gscale))
      .select($"vec_id",
        transform($"embedding",
          x => (x.cast("double") / $"gscale").cast("int")).as("q"))
      .localCheckpoint()
  }

  /** Per-(vector, centroid) subspace distances (vec_id, idx,
    * d_0..d_{pqSubspaces-1}) — the shared kernel behind encoding
    * (argmin → codes) and the per-query ADC tables. Unrolled per
    * subspace (16 integer terms each — codegen-sized).
    */
  private def pqDists(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val qv = pqQuantized(spark, dir)
    val seeds = qv
      .filter($"vec_id" % pqSeedMod === 0 && $"vec_id" < pqSeedMax)
      .select(expr(s"CAST(vec_id div $pqSeedMod AS INT)").as("idx"),
        $"q".as("sq"))
    def subDist(m: Int) = (1 to pqSubDim).map { i =>
      val d = element_at($"q", m * pqSubDim + i).cast("long") -
        element_at($"sq", m * pqSubDim + i).cast("long")
      d * d
    }.reduceLeft(_ + _)
    qv.crossJoin(broadcast(seeds))
      .select($"vec_id" +: $"idx" +:
        (0 until pqSubspaces).map(m => subDist(m).as(s"d_$m")): _*)
  }

  /** PQ codes per vector: argmin centroid per subspace via the packed
    * integer min — (vec_id, codes: array<int> of length pqSubspaces).
    * The codes ARE the PQ index (what a deployment stores instead of
    * vectors), so like lshIndex they are cached per (session, corpus):
    * built once, served to every ADC query (ann_pq, ann_ivfpq). Packed
    * into one int array (not pqSubspaces columns) because that is the
    * shape [[graft.functions.AdcSum]] scores against.
    */
  private def pqCodes(spark: SparkSession, dir: String): DataFrame =
      graft.Artifacts(spark, dir, "Similarity.pqCodes") {
    import spark.implicits._
    val dists = pqDists(spark, dir)
    val packs = (0 until pqSubspaces).map(m =>
      min(col(s"d_$m") * pqK + $"idx").as(s"p_$m"))
    dists.groupBy($"vec_id")
      .agg(packs.head, packs.tail: _*)
      .select($"vec_id", array((0 until pqSubspaces).map(m =>
        (col(s"p_$m") % pqK).cast("int")): _*).as("codes"))
      .localCheckpoint()
  }

  /** PQ codes carrying their IVF cluster key — exactly what a served
    * IVFPQ index stores (per-cluster posting lists of codes; Jégou et
    * al. §V), so the codes⋈labels join is index-build work, cached
    * per (session, corpus) like pqCodes itself.
    */
  private def labeledCodes(spark: SparkSession, dir: String): DataFrame =
      graft.Artifacts(spark, dir, "Similarity.labeledCodes") {
    import spark.implicits._
    pqCodes(spark, dir)
      .join(lshIndex(spark, dir).select($"vec_id", $"label"), "vec_id")
      .localCheckpoint()
  }

  /** Per-query ADC lookup table as ONE packed `array<long>` —
    * (q_id, lut), entry m·n + idx = the query's distance to centroid
    * idx of subspace m (subspace-major; n = centroid slots, derived
    * from the seed count so SFs with fewer than pqK seeds stay
    * consistent). One hash aggregate builds the sorted slot list; the
    * flatten to subspace-major runs on the aggregate's ~query-count
    * rows, never on a scan. Replaces the per-subspace map columns
    * (dmap_m + element_at scoring): the flat array is what
    * [[graft.functions.AdcSum]] reads with direct primitive indexing,
    * and it rides the broadcast as one UnsafeArrayData instead of
    * pqSubspaces boxed maps.
    */
  private def pqQueryLut(spark: SparkSession, dir: String, dists: DataFrame): DataFrame = {
    import dists.sparkSession.implicits._
    val slotFields = $"idx" +: (0 until pqSubspaces).map(m => col(s"d_$m"))
    dists.filter(queryFilter(spark, dir)($"vec_id"))
      .groupBy($"vec_id".as("q_id"))
      // array_sort on struct orders by leading field idx — slot i of
      // the sorted list IS centroid i, making position arithmetic
      // safe ONLY because seed idx values are contiguous 0..n-1. That
      // precondition is ASSERTED per query row (max(idx)+1 == slot
      // count; idx values are distinct non-negative by construction):
      // a gap below the max seed id would otherwise silently map slot
      // i to the i-th SMALLEST idx rather than idx i, and only codes
      // past the compacted range would hit AdcSum's loud
      // out-of-range check.
      .agg(array_sort(collect_list(struct(slotFields: _*))).as("slots"),
        max($"idx").as("max_idx"))
      .select($"q_id",
        when(size($"slots") === $"max_idx" + 1,
          concat((0 until pqSubspaces).map(m =>
            expr(s"transform(slots, x -> x.d_$m)")): _*))
          .otherwise(raise_error(concat(
            lit("pqQueryLut: non-contiguous seed idx — max(idx)+1 = "),
            ($"max_idx" + 1).cast("string"), lit(" but "),
            size($"slots").cast("string"), lit(" slots"))))
          .as("lut"))
  }

  /** ADC distance: the fused lookup-table kernel — pqSubspaces direct
    * array reads per scored pair (see [[graft.functions.AdcSum]]).
    */
  private def adcDist: Column =
    graft.functions.AdcSum.adc_sum(col("lut"), col("codes"))

  private def annPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val qv = pqQuantized(spark, dir)
    val dists = pqDists(spark, dir)
    val codes = pqCodes(spark, dir)
    val qluts = pqQueryLut(spark, dir, dists)
    val nQ = queryCount(spark, dir, qv.filter(queryFilter(spark, dir)($"vec_id")))
    topKRanked(
      codes.join(boundedProbeSide(qluts, nQ), $"q_id" =!= $"vec_id")
        .select($"q_id", $"vec_id", adcDist.as("adc_dist")),
      "adc_dist", descending = false)
      .resultOrder($"q_id", $"rk")
  }

  /** The CTE prefix both PQ oracle twins share: the global
    * quantization scale (g), the quantized vectors (qt), the seed
    * codebook (sq), every vector's per-subspace distance to every
    * seed (dists), the nearest-seed codes (codes) and the probe
    * queries' ADC tables (dtab). Ends with the comma before the
    * twin's own CTEs.
    */
  private val pqPrefixSql = {
    val amax =
      "list_reduce(list_prepend(0.0, [abs(CAST(x AS DOUBLE)) for x in embedding]), (a, x) -> greatest(a, x))"
    def sum16(m: Int) = (1 to pqSubDim).map { i =>
      val p = m * pqSubDim + i
      s"(CAST(v.q[$p] AS BIGINT) - CAST(s.sq[$p] AS BIGINT)) * (CAST(v.q[$p] AS BIGINT) - CAST(s.sq[$p] AS BIGINT))"
    }.mkString(" + ")
    val distArms = (0 until pqSubspaces).map(m =>
      s"SELECT v.vec_id, s.idx, $m AS m, ${sum16(m)} AS d FROM qt v, sq s")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH g AS (
       |  SELECT greatest(MAX($amax), 1e-30) / 127.0 AS gscale FROM embeddings),
       |qt AS (
       |  SELECT vec_id,
       |    [CAST(trunc(CAST(x AS DOUBLE) / g.gscale) AS INTEGER) for x in embedding] AS q
       |  FROM embeddings, g),
       |sq AS (SELECT CAST(vec_id // $pqSeedMod AS INTEGER) AS idx, q AS sq FROM qt
       |       WHERE vec_id % $pqSeedMod = 0 AND vec_id < $pqSeedMax),
       |dists AS (
       |  $distArms),
       |codes AS (
       |  SELECT vec_id, m, CAST(MIN(d * $pqK + idx) % $pqK AS INTEGER) AS code
       |  FROM dists GROUP BY vec_id, m),
       |dtab AS (SELECT vec_id AS q_id, m, idx AS c, d FROM dists
       |         WHERE vec_id % ${probeStrideSql} = 0),
       |""".stripMargin
  }

  private val annPqSql = pqPrefixSql +
    """scored AS (
       |  SELECT dt.q_id, c.vec_id, CAST(SUM(dt.d) AS BIGINT) AS adc_dist
       |  FROM codes c JOIN dtab dt ON dt.m = c.m AND dt.c = c.code
       |  WHERE dt.q_id <> c.vec_id
       |  GROUP BY dt.q_id, c.vec_id)
       |SELECT q_id, rk, vec_id AS neighbor_id, adc_dist FROM (
       |  SELECT q_id, vec_id, adc_dist,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rk
       |  FROM scored)
       |WHERE rk <= 5
       |ORDER BY q_id, rk""".stripMargin

  // ---- ann_ivfpq: IVF probe pruning composed with PQ ADC scoring ----
  // The production compressed-search plan (IVF-PQ — Jégou et al.,
  // TPAMI 2011 §V, the composition behind FAISS's IVFPQ index):
  // prune each query to its nprobe nearest centroids FIRST, then rank
  // only those clusters' members by integer ADC. Per-query scoring
  // work drops from ann_pq's flat O(corpus) to
  // O(nlist + corpus/nlist · nprobe), and the scoring join carries the
  // cluster EQUI-key — so past the broadcast bound it degrades to a
  // shuffled hash join (probeSide's soft fallback CAN bind here),
  // closing exactly the contract hole the flat non-equi variants must
  // fail loudly on. Reuses the checked pieces: ivfCentroids (probe),
  // pqQuantized/pqCodes (index), pqQueryLut (ADC tables) — all
  // integer-exact cross-engine; the probe ranking is the same float
  // cosine ann_ivf is oracle-green on.

  private[graft] val ivfPqNprobe = 2

  private[graft] def annIvfPqPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dists = pqDists(spark, dir)
    val labeled = labeledCodes(spark, dir)
    val v = lshIndex(spark, dir).select($"vec_id", $"embedding", $"nrm")
    val q = v.filter(queryFilter(spark, dir)($"vec_id"))
      .select($"vec_id".as("q_id"), $"embedding".as("q_e"), $"nrm".as("q_n"))
    val nQ = queryCount(spark, dir, q)
    // probe routing shared with ann_ivf/_multiprobe (see ivfProbed)
    require(ivfPqNprobe <= ivfProbeMax,
      s"ivfPqNprobe $ivfPqNprobe > cached ivfProbeMax $ivfProbeMax — " +
        "the probe routing cache only holds ivfProbeMax ranks; raising " +
        "nprobe without raising ivfProbeMax would silently truncate " +
        "the routing (the SQL twin computes the full ranking)")
    val probed = ivfProbed(spark, dir).filter($"c_rk" <= ivfPqNprobe)
      .select($"q_id", $"c_label")
    // each probe row carries its query's ADC table; the scoring join
    // below is equi on the cluster key, ADC only within probed clusters
    val probes = probed.join(pqQueryLut(spark, dir, dists), "q_id")
    topKRanked(
      labeled.join(probeSide(probes, nQ * ivfPqNprobe),
          $"label" === $"c_label" && $"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id", adcDist.as("adc_dist")),
      "adc_dist", descending = false)
      .resultOrder($"q_id", $"rk")
  }

  private val annIvfPqSql = pqPrefixSql +
    s"""fv AS (
       |  SELECT vec_id, label, embedding AS e, ${normSql("embedding")} AS nrm
       |  FROM embeddings),
       |dims AS (
       |  SELECT label, pos,
       |    CAST(SUM(CAST(CAST(embedding[pos] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) / COUNT(*) AS c
       |  FROM embeddings, UNNEST(range(1, 65)) AS r(pos)
       |  GROUP BY label, pos),
       |cent AS (
       |  SELECT label AS c_label, list(c ORDER BY pos) AS cvec
       |  FROM dims GROUP BY label),
       |cent2 AS (SELECT c_label, cvec, ${normSql("cvec")} AS c_nrm FROM cent),
       |probe AS (
       |  SELECT q_id, c_label FROM (
       |    SELECT q.vec_id AS q_id, c.c_label,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${dotSql("q.e", "c.cvec", 64)} / (q.nrm * c.c_nrm) DESC, c.c_label) AS c_rk
       |    FROM fv q, cent2 c
       |    WHERE q.vec_id % ${probeStrideSql} = 0)
       |  WHERE c_rk <= $ivfPqNprobe),
       |scored AS (
       |  SELECT p.q_id, c.vec_id, CAST(SUM(dt.d) AS BIGINT) AS adc_dist
       |  FROM probe p
       |  JOIN fv l ON l.label = p.c_label
       |  JOIN codes c ON c.vec_id = l.vec_id AND c.vec_id <> p.q_id
       |  JOIN dtab dt ON dt.q_id = p.q_id AND dt.m = c.m AND dt.c = c.code
       |  GROUP BY p.q_id, c.vec_id)
       |SELECT q_id, rk, vec_id AS neighbor_id, adc_dist FROM (
       |  SELECT q_id, vec_id, adc_dist,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rk
       |  FROM scored)
       |WHERE rk <= 5
       |ORDER BY q_id, rk""".stripMargin

  // ---- ann_recall_eval: recall@k of the LSH index vs ground truth ----
  // The evaluation harness every ANN deployment runs before trusting
  // an index: recall@5 of ann_lsh against the exact brute-force
  // neighbors, as ONE query — per-query overlap via a left semi-ish
  // join on (q_id, neighbor_id), reduced to integer totals
  // (matches / 5·queries), so the figure is bit-stable cross-engine.
  // At 100 TB this runs over a SAMPLED query set against the served
  // index — same plan, sampled probe side.

  private def annRecallEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // cached ground truth (see bruteTruth); the approx side is the
    // system under test and runs live — its presentation sort is
    // dropped (core form) because the overlap join doesn't need order.
    // The approx side is BOUNDED by the top-k contract (≤ k rows per
    // probe query), so the overlap join probeSides it like every ANN
    // scoring join — under the measured query bound it broadcasts
    // (the static planner would otherwise sort-merge two stats-less
    // frames: the r8 AQE-off regression on this query), past it the
    // evaluation falls back to a shuffled hash join.
    val truth = bruteTruth(spark, dir)
    val nQ = queryCount(spark, dir,
      lshIndex(spark, dir).filter(queryFilter(spark, dir)($"vec_id")).select($"vec_id"))
    val approx = annLshCore(spark, dir)
      .select($"q_id".as("a_q"), $"neighbor_id".as("a_n"))
    truth
      .join(probeSide(approx, nQ), $"q_id" === $"a_q" && $"neighbor_id" === $"a_n", "left")
      .agg(
        countDistinct($"q_id").as("n_queries"),
        count(lit(1)).as("n_truth_pairs"),
        sum(when($"a_n".isNotNull, 1L).otherwise(0L)).as("n_recalled"))
      .select($"n_queries", $"n_truth_pairs", $"n_recalled",
        expr("(100 * n_recalled) div n_truth_pairs").as("recall_pct"))
  }

  private val annRecallEvalSql =
    s"""WITH truth AS ($annBruteSql),
       |approx AS ($annLshSql)
       |SELECT CAST(COUNT(DISTINCT t.q_id) AS BIGINT) AS n_queries,
       |  CAST(COUNT(*) AS BIGINT) AS n_truth_pairs,
       |  CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_recalled,
       |  CAST((100 * SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS recall_pct
       |FROM truth t LEFT JOIN approx a
       |  ON a.q_id = t.q_id AND a.neighbor_id = t.neighbor_id""".stripMargin

  val all: Seq[Q] = Seq(
    Q("ann_recall_eval", annRecallEval, Some(annRecallEvalSql)),
    Q("ann_bruteforce", annBrute, Some(annBruteSql)),
    Q("ann_pq", annPq, Some(annPqSql)),
    Q("ann_ivfpq", annIvfPqPlan, Some(annIvfPqSql)),
    Q("ann_lsh", annLsh, Some(annLshSql)),
    Q("ann_index_stats", annIndexStats, Some(annIndexStatsSql)),
    Q("ann_ivf", annIvf, Some(annIvfSqlProbe(1))),
    Q("ann_ivf_multiprobe", annIvfMulti, Some(annIvfSqlProbe(2))),
    Q("ann_kmeans_step", annKmeansStep, Some(annKmeansStepSql)),
    Q("ann_quantize", annQuantize, Some(annQuantizeSql)),
    Q("ann_knn_graph", annKnnGraph, Some(annKnnGraphSql)),
    Q("graph_pagerank", graphPagerank, Some(graphPagerankSql)),
    Q("graph_triangles", graphTriangles, Some(graphTrianglesSql)),
    Q("dedup_semantic", dedupSemantic, Some(dedupSemanticSql))
  )
}
