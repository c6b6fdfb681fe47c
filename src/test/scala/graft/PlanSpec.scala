package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape guards: the physical plans that make these operators
  * scale must not silently regress.
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(name: String): String = {
    // cold-path plan: drop every cached corpus artifact first, so the
    // assertions see the FULL derivation (a posting/candidate/model
    // cache left warm by an earlier suite would reduce the plan to a
    // checkpoint scan and make no-broadcast/no-cartesian guards pass
    // vacuously)
    Artifacts.clear()
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
  }

  test("ANN top-k rankings plan as TopKPerKey, not a window over the score stream") {
    // the exchange must carry <= k*queries*partitions rows (partial
    // heap BEFORE the shuffle); a regression back to a row_number
    // window would shuffle and fully sort every scored candidate.
    // Two exec nodes = partial + final; the rank window that remains
    // runs over <= k already-clustered rows per key.
    Seq("ann_bruteforce", "ann_lsh", "ann_ivf", "ann_pq", "ann_ivfpq")
      .foreach { q =>
      val p = plan(q)
      val n = "TopKPerKey \\[".r.findAllIn(p).size
      assert(n >= 2, s"$q: expected partial+final TopKPerKey nodes, found $n:\n" +
        p.linesIterator.take(30).mkString("\n"))
    }
    // ann_knn_graph serves the checkpointed edge index; the guard
    // runs against the UNCHECKPOINTED derivation
    Artifacts.clear()
    val knn = graft.operators.Similarity.knnEdgesPlan(spark, sf)
      .queryExecution.executedPlan.toString
    assert("TopKPerKey \\[".r.findAllIn(knn).size >= 2, knn)
  }

  test("ann_kmeans_step assigns centroids row-locally: no join, no corpus exchange") {
    // the centroid set is constant-size, so nearest-seed assignment
    // must be a literal-seed `greatest` projection (MLlib's
    // assignment shape): no broadcast build, no join of any kind, and
    // the ONLY keyed exchange is the <= k·partitions-row aggregation
    // on cluster_id. A regression to a crossJoin (or a window / top-k
    // over the score stream) re-shuffles the whole corpus for a
    // row-local argmax.
    val p = plan("ann_kmeans_step")
    assert(!p.contains("Join"), s"kmeans assignment must not join:\n$p")
    assert(!p.contains("TopKPerKey"), "row-local argmax needs no top-k operator")
    val keyedExchanges = "Exchange hashpartitioning\\(".r.findAllIn(p).size
    assert(keyedExchanges == 1, s"expected one aggregation exchange, got $keyedExchanges:\n$p")
    assert(p.contains("hashpartitioning(seed_id") || p.contains("hashpartitioning(cluster_id"),
      s"the keyed exchange must cluster on the centroid id:\n$p")
  }

  test("q2 pushes its filters into the parquet scan") {
    val p = plan("q2_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus), IsNotNull(o_totalprice), EqualTo(o_orderstatus,F), GreaterThan(o_total"))
  }

  test("q2 prunes the scan to the referenced columns") {
    val p = plan("q2_filter_project")
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,o_orderstatus:string,o_totalprice:double>"))
  }

  test("q4 dims artifact is measured-bound: broadcast under the bound, shuffled past it") {
    // the cached customer⋈nation⋈region artifact joins the fact side
    // through Joins.sizedBuild, keyed on the checkpoint's MEASURED
    // row count — pin BOTH paths so neither can silently regress to
    // an unconditional broadcast (OOM at 100 TB) or an accidental
    // shuffle (two extra exchanges at bench scale)
    val p = plan("q4_multijoin")
    // assert on the DIMS join specifically (keyed o_custkey=c_custkey):
    // a bare contains("BroadcastHashJoin") would pass vacuously off
    // the orders⋈lineitem side auto-broadcasting at test scale
    assert(p.contains("BroadcastHashJoin [o_custkey"),
      s"measured-tiny dims must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    // bound 0 = never broadcast: the dims join must fall back to an
    // explicit shuffled hash join, not a nested loop or cartesian
    spark.conf.set(graft.Joins.maxBuildRowsConf, "0")
    try {
      val p0 = plan("q4_multijoin")
      // the dims join is the one on (o_custkey, c_custkey); the
      // orders⋈lineitem join may still auto-broadcast at test scale
      // from the planner's own file-size stats — that is size-based
      // selection, not a hint, and scales out on its own
      assert(p0.contains("ShuffledHashJoin [o_custkey"),
        s"past the bound the dims join must shuffle:\n$p0")
      assert(!p0.contains("BroadcastHashJoin [o_custkey"),
        s"past the bound the dims side may not broadcast:\n$p0")
      assert(!p0.contains("CartesianProduct"))
    } finally spark.conf.unset(graft.Joins.maxBuildRowsConf)
  }

  test("SinglePartition under a clustering requirement stays confined to audited graph plans") {
    // core.scala disables the spark.sql.maxSinglePartitionBytes
    // trip-wire for LOCAL sessions (any finite bound eventually
    // re-shuffles a measured-tiny graph frame, because the
    // estimator's join-product stats grow without bound — see the
    // GraftSession note). The safety argument is that the ONLY plans
    // that accept a SinglePartition child where a HASH distribution
    // is required are the measured-bound graph-index frames
    // (Similarity.graphParts caps their TRUE size). This sweep pins
    // that inventory over the SERVED (cached-artifact) plans of every
    // query: a new operator acquiring the shape fails here and must
    // be audited — either its frame is measured-bound too (extend the
    // allowlist with the audit note) or it is a genuine scale hazard.
    import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, SinglePartition}
    // the measured-bound graph family: pagerank/triangles iterate
    // over graphParts-sized frames (Similarity.scala) whose TRUE size
    // is measured at index build — the only plans designed to collapse
    // to SinglePartition at bench scale (observed inventory at this
    // sf: graph_triangles; pagerank's collapse shows up only via its
    // zero-keyed-exchange guard because its iteration body hides the
    // requirement behind the checkpointed rank frames)
    // ref_eda_stats: audited r13 — its aggregates run over the
    // 156-row balance-non-null window of the committed 239-row
    // kpi_monthly golden file (calendar-bounded serving probe, like
    // the Report/Dashboard collects); the SinglePartition child is
    // the global-ordered 156-row pct_change window, bounded by the
    // reference's own calendar, never by fact volume
    // ref_kpi_monthly: audited r15 — kpiMonthlyFrom merges to one
    // partition FIRST (the r15 one-exchange rewrite), so its pivot
    // aggregate and the constant-key metric group pass both accept a
    // SinglePartition child. Size bound: the input long frame is the
    // calendar-grain table itself (committed 239-row trade.parquet /
    // the G6 parse, ≤ years×12×flows rows whatever the fact volume),
    // and the metric pass is ONE global sequential series by
    // reference semantics (metrics.py positional shifts) — the
    // single partition is the operator's own contract, not a
    // fact-volume hazard.
    // ref_kpi_prod_monthly: audited r16 — kpiProdMonthlyFrom merges to
    // one partition FIRST (the same recipe), so its pivot aggregate and
    // the per-category typed group pass both accept a SinglePartition
    // child. Size bound: the input long frame is the calendar×category
    // grain model table (committed trade_prod.parquet / the F1+G1
    // parse, ≤ years×12×categories×flows rows whatever the fact volume
    // — a handful of categories by the reference's own catalog), and
    // the metric pass mirrors metrics_products.py's per-category
    // sequential semantics — the single partition is the operator's
    // serving contract, not a fact-volume hazard; the volume form is
    // kpi_prod_monthly over the catMonthly grain.
    val audited = Set("graph_pagerank", "graph_triangles", "ref_eda_stats",
      "ref_kpi_monthly", "ref_kpi_prod_monthly")
    val offenders = scala.collection.mutable.SortedMap.empty[String, Seq[String]]
    // each plan is built on its own: a query whose input is missing is
    // recorded with the first line of its cause and reported at the
    // end, never allowed to leave the queries after it unchecked
    val buildFailures = scala.collection.mutable.SortedMap.empty[String, String]
    var checked = 0
    for ((name, fn) <- SparkEntry.queries) {
      scala.util.Try(fn(spark, sf).queryExecution.executedPlan) match {
        case scala.util.Failure(e) =>
          buildFailures(name) = s"${e.getClass.getSimpleName}: " +
            Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")
        case scala.util.Success(p) =>
          checked += 1
          val hits = p.collect {
            case node if node.requiredChildDistribution.zip(node.children).exists {
              case (_: ClusteredDistribution, c) => c.outputPartitioning == SinglePartition
              case _ => false
            } => node.nodeName
          }
          if (hits.nonEmpty) offenders(name) = hits
      }
    }
    info(s"checked $checked plans; SinglePartition-under-clustering inventory: " +
      offenders.keys.mkString(", "))
    val unaudited = offenders.view.filterKeys(!audited(_)).toMap
    val unbuilt = s"plans that did not build, so went unchecked " +
      s"(${buildFailures.size}): " +
      buildFailures.map { case (q, why) => s"$q: $why" }.mkString("; ")
    assert(unaudited.isEmpty,
      s"unaudited SinglePartition-under-clustering plans: $unaudited — " +
        s"audit the frame's size bound before adding it to the allowlist; $unbuilt")
    if (buildFailures.nonEmpty) fail(unbuilt)
  }

  test("no forced broadcast of SF-proportional customer/part frames") {
    // customer and part grow linearly with SF (TPC-H 150k·SF /
    // 200k·SF rows) — at the 100 TB target an unconditional
    // broadcast() hint OOMs. With the auto-broadcast threshold
    // disabled, any BroadcastExchange left in these plans can only
    // come from an explicit hint — assert none survives.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for (q <- Seq("q3_join_agg_topk",
                    "kpi_ranking", "kpi_rank_shift", "kpi_exec_summary")) {
        val p = plan(q)
        assert(!p.contains("BroadcastExchange"),
          s"$q force-broadcasts an SF-proportional frame")
      }
      // q4's served form carries the MEASURED-bound sizedBuild hint
      // (guarded by its own both-paths test above) — the unconditional-
      // hint sweep runs on its UNCHECKPOINTED dims derivation, which
      // carries the raw customer⋈nation⋈region joins
      Artifacts.clear()
      val q4d = graft.operators.Relational.q4DimsPlan(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!q4d.contains("BroadcastExchange"),
        "q4 dims derivation force-broadcasts an SF-proportional frame")
      // kpi_prod_monthly's part join lives in the cached catMonthly
      // grain — assert on its UNCHECKPOINTED builder plan
      val pm = graft.operators.Kpi.catMonthlyPlan(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!pm.contains("BroadcastExchange"),
        "catMonthly force-broadcasts the part dimension")
    } finally {
      restoreAqeDefault()
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("lineitem scans read only needed columns in q4") {
    val p = plan("q4_multijoin")
    assert(p.contains("struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>"))
  }

  test("dedup pair generation is equi-join, never cartesian") {
    // the candidate/pair derivations live behind Artifacts +
    // localCheckpoint, so the final query plans reduce them to
    // checkpoint scans — assert on the UNCHECKPOINTED builder plans
    // (the *Plan variants) as well as the live query halves
    import graft.operators.Dedup
    val builders = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "ngramPairs" -> (() => Dedup.ngramPairsPlan(spark, sf)),
      "minhashCandidates" -> (() => Dedup.minhashCandidatesPlan(spark, sf)),
      "minhashPairs" -> (() => Dedup.minhashPairsPlan(spark, sf)),
      "simhashDocs" -> (() => Dedup.simhashDocsPlan(spark, sf)),
      "embCandidates" -> (() => Dedup.embCandidatesPlan(spark, sf)))
    for ((name, b) <- builders) {
      val p = b().queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name has a nested-loop join")
    }
    for (q <- Seq("dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash",
                  "dedup_embedding")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
    }
  }

  test("mm_dedup candidates are a banded equi-join, nothing broadcast") {
    // the band-key frame is corpus-proportional (4 rows per doc), so
    // neither join side may be broadcast and the pair generation must
    // stay an equi-join on (band_idx, band_key)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("mm_dedup")
      assert(!p.contains("CartesianProduct"), "mm_dedup has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), "mm_dedup has a nested-loop join")
      assert(!p.contains("BroadcastExchange"),
        "mm_dedup broadcasts a corpus-proportional frame")
      // the cold-path signature builder is row-local: the only
      // exchange allowed is the input round-robin spread, never a
      // keyed shuffle
      val sp = graft.operators.Multimodal.phashDocsPlan(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!sp.contains("hashpartitioning"), "phash signature pass shuffles on a key")
      // pairs are exactly-once from their first matching band (r14):
      // no distinct aggregate may reappear — on the dense hamming
      // relation the dedup exchange was the bigger half of the wall
      assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"),
        "mm_dedup re-grew a distinct/aggregate over the pair stream")
    } finally {
      restoreAqeDefault()
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("embedding candidate pairs are exactly-once — no distinct over the pair stream") {
    // first-matching-band emission (r15, the mm_dedup pattern): the
    // candidate derivation must end at the banded equi-join + the
    // row-local first-match filter — a distinct/aggregate reappearing
    // over the pair stream is a second full exchange of a
    // band-multiplied relation, the exact shape mm_dedup measured as
    // the bigger half of its wall on a dense-dup corpus
    Artifacts.clear()
    val p = graft.operators.Dedup.embCandidatesPlan(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"),
      "embCandidates re-grew a distinct/aggregate over the pair stream")
  }

  test("minhash verification never broadcasts candidate-derived frames") {
    // candIds / per-candidate sizes are O(duplicate count) ≈ O(corpus)
    // worst case. With the auto-broadcast threshold disabled, any
    // BroadcastExchange left in the plan can only come from an
    // explicit hint — assert none survives anywhere in the pipeline.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the served query reduces to a checkpoint scan of the cached
      // pair index — the property belongs to the UNCHECKPOINTED
      // verification builder
      Artifacts.clear()
      val p = graft.operators.Dedup.minhashPairsPlan(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastExchange"),
        "candidate-derived frame is broadcast in the minhash verification")
    } finally {
      restoreAqeDefault()
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("minhash verification plans no runtime bloom filter") {
    // at default thresholds: the candidate checkpoint carries measured
    // statistics, so InjectRuntimeFilter has no join-product estimate
    // to put a bloom_filter_agg subquery (its own job) on the posting
    // self-join
    Artifacts.clear()
    val qe = graft.operators.Dedup.minhashPairsPlan(spark, sf).queryExecution
    val p = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("might_contain") && !p.contains("bloom_filter_agg"), p)
    assert(Bench.RuntimeFilters.in(qe.executedPlan) == 0)
  }

  test("ann_bruteforce broadcasts the query side only") {
    val p = plan("ann_bruteforce")
    assert(p.contains("BroadcastExchange"))
  }

  test("kpi windows partition by their series keys") {
    val p = plan("kpi_prod_monthly")
    assert(p.contains("hashpartitioning(category"))
  }

  test("corpus select drop-list anti-join never broadcasts") {
    // the drop-list is corpus-proportional (every non-keeper id), so
    // a broadcast build side is a 100 TB OOM. With the auto-broadcast
    // threshold disabled, any BroadcastExchange left in the plan can
    // only come from an explicit hint — assert there is none, and
    // that the anti-join is the shuffled-hash form. (AQE prints the
    // pre-final plan — disable it for this inspection.)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("llm_corpus_select")
      assert(!p.contains("BroadcastExchange"),
        "corpus-proportional frame is broadcast")
      assert("ShuffledHashJoin .*LeftAnti".r.findFirstIn(p).isDefined,
        "drop-list anti-join is not the shuffled-hash form")
    } finally {
      restoreAqeDefault()
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("cdc_merge and knn graph never broadcast corpus-proportional sides") {
    // the CDC batch is O(change rate · base) and the kNN graph
    // self-joins the corpus with itself — neither side is ever
    // broadcast-safe at 100 TB. With the auto-threshold disabled, any
    // surviving BroadcastExchange can only come from an explicit hint.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // knn edges are now a cached artifact — assert the cold
      // UNCHECKPOINTED derivation, not the checkpoint scan the cached
      // query reduces to
      val knnP = {
        Artifacts.clear()
        graft.operators.Similarity.knnEdgesPlan(spark, sf)
          .queryExecution.executedPlan.toString
      }
      for ((q, p) <- Seq("cdc_merge" -> plan("cdc_merge"),
          "knn_edges" -> knnP)) {
        assert(!p.contains("BroadcastExchange"),
          s"$q force-broadcasts a corpus-proportional frame")
        assert(!p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin"),
          s"$q degenerates to an all-pairs join")
      }
    } finally {
      restoreAqeDefault()
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("scd2 and stream_topk windows partition by their keys") {
    // a window without PARTITION BY collapses to one task — the
    // classic 100 TB cliff. Both builds must partition by entity /
    // window-bucket keys.
    assert(plan("scd2_dim").contains("hashpartitioning(user_id"))
    assert(plan("stream_topk").contains("hashpartitioning(bucket_start"))
    assert(plan("stream_upsert").contains("hashpartitioning(user_id"))
  }

  test("grouping-sets and histogram aggregate with map-side partials") {
    for (q <- Seq("q29_grouping_sets", "q30_histogram")) {
      val p = plan(q)
      // partial + final HashAggregate pair around one exchange
      assert("HashAggregate".r.findAllIn(p).size >= 2, s"$q lacks partial agg")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    }
  }

  test("q27 KMV sketch aggregates with bounded partial state") {
    // the typed Aggregator must plan as ObjectHashAggregate with a
    // partial pass before the exchange (k longs of state per group
    // per partition) — not as a window over all distinct hashes
    val p = plan("q27_kmv_sketch")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      "KMV is not a partial+final ObjectHashAggregate pair")
    assert(!p.contains("Window"), "KMV fell back to the window formulation")
    // the cached posting's DERIVATION must dedup with a plain codegen
    // HashAggregate on the narrow pair — the sketch buffers must not
    // ride the dedup exchange (the countDistinct-alongside shape
    // hauled one ObjectHashAggregate buffer per distinct customer)
    Artifacts.clear()
    val d = graft.operators.Advanced.kmvPostingPlan(spark, sf)
      .queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(d).size >= 2,
      s"posting dedup is not a partial+final HashAggregate pair:\n$d")
    assert(!d.contains("ObjectHashAggregate"),
      s"sketch buffers must not ride the dedup exchange:\n$d")
  }

  test("average_hash participates in whole-stage codegen (mm_phash stays one pass)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // mm_phash itself now serves from the checkpointed signature
      // cache (its live plan is a checkpoint scan) — the codegen
      // property belongs to the UNCHECKPOINTED builder plan
      Artifacts.clear()
      val p = graft.operators.Multimodal.phashDocsPlan(spark, sf)
        .queryExecution.executedPlan.toString
      assert(p.contains("average_hash"), "AverageHash not in plan")
      val projLine = p.linesIterator.find(_.contains("average_hash")).get
      assert(projLine.contains("*("), s"projection not codegen'd: $projLine")
      // row-local feature extraction: no join, no aggregate exchange —
      // the only exchanges allowed are the scan repartition and the
      // output sort
      assert(!p.contains("Join"), "mm_phash must not join")
      assert(!p.contains("hashpartitioning"),
        "mm_phash must not shuffle on a key")
    } finally restoreAqeDefault()
  }

  test("llm_quality_classify reduces codegen'd integer partials per doc") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("llm_quality_classify")
      assert(!p.contains("Join"), "classifier inference must not join")
      // the token-weight hash must run inside whole-stage codegen on
      // the exploded stream (NOT as an interpreted transform/aggregate
      // lambda), and the only keyed exchange is the per-doc reduction
      val hashLine = p.linesIterator.find(_.toLowerCase.contains("rollinghash")).get
      assert(hashLine.contains("*("), s"weight hash not codegen'd: $hashLine")
      assert(p.contains("hashpartitioning(doc_id"),
        "per-doc reduction must shuffle on doc_id")
    } finally restoreAqeDefault()
  }

  test("graph_pagerank reduces contributions per node, never all-pairs") {
    // SCALE path — rowsPerPartition pinned to 1 row, so the measured
    // counts drive the prep frames to the full session partition
    // count: each unrolled iteration must aggregate contributions
    // keyed on the destination node (a hash exchange on dst), and
    // nothing may degenerate to an all-pairs join
    // the executed loop truncates lineage per round (MeasuredCkpt),
    // so the final query plan reduces to a checkpoint scan — assert
    // on the UNCHECKPOINTED single-iteration builder instead
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(graft.operators.Similarity.graphRowsPerPartConf, "1")
    try {
      Artifacts.clear()
      val p = graft.operators.Similarity.pagerankIterPlan(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        "pagerank degenerates to an all-pairs join")
      assert(p.contains("hashpartitioning(dst"),
        "contribution reduction must shuffle on dst")
    } finally {
      restoreAqeDefault()
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset(graft.operators.Similarity.graphRowsPerPartConf)
    }
  }

  test("graph_pagerank at the measured bound plans zero keyed exchanges") {
    // MEASURED-BOUND path (default rowsPerPartition): the test-scale
    // graph collapses to one partition, where every iteration join
    // and the contribution reduction are trivially co-located — the
    // whole five-iteration plan must contain NO hash exchange (the
    // one remaining exchange is resultOrder's single-partition merge)
    // and still no all-pairs join. This is the r8 regression guard:
    // the static planner re-shuffled these iterations from a garbage
    // exponential size estimate (see maxSinglePartitionBytes note in
    // GraftSession and MeasuredCkpt's scaladoc). Asserted on the
    // UNCHECKPOINTED single-iteration builder — the executed loop's
    // final plan is just a checkpoint scan.
    Artifacts.clear()
    val p = graft.operators.Similarity.pagerankIterPlan(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      "pagerank degenerates to an all-pairs join")
    assert(!p.contains("Exchange hashpartitioning("),
      s"measured-bound pagerank re-shuffles a single-partition frame:\n$p")
  }

  test("dedup_incremental never broadcasts the corpus posting") {
    // the base posting is the whole corpus — with the auto threshold
    // off, any BroadcastExchange could only come from a hint
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("dedup_incremental")
      assert(!p.contains("BroadcastExchange"),
        "corpus-proportional posting side is broadcast")
    } finally {
      restoreAqeDefault()
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("dedup_chunks counts duplicates as aggregates: no chunk self-join, no window sort") {
    // sequence-level dedup is linear: a map-side-combinable hash
    // aggregate on chunk_hash (first-occurrence owner), a doc_id
    // rollup, and one DOC-level join for the denominator. Two plan
    // hazards guarded: a chunk-level self-join (the O(df²) pair
    // generator) and the r13 window form's full (hash, doc, idx)
    // sort-exchange of every chunk instance.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("dedup_chunks")
      assert(p.contains("hashpartitioning(chunk_hash"),
        "first-occurrence aggregate must partition by chunk_hash")
      assert(!p.contains("Window"),
        "counting form must not pay the window sort over chunk instances")
      // the only join is the doc-level denominator join on doc_id —
      // never a join keyed on chunk_hash (pair generation)
      val joinLines = p.linesIterator.filter(_.contains("Join")).toSeq
      assert(joinLines.forall(_.contains("doc_id")),
        s"unexpected non-doc-level join: $joinLines")
    } finally {
      restoreAqeDefault()
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("llm_shard_shuffle orders within shards, never globally") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("llm_shard_shuffle")
      assert(p.contains("hashpartitioning(shard"),
        "position window must partition by shard")
    } finally restoreAqeDefault()
  }

  test("bounded-probe contract fails loudly past the bound (non-equi ANN joins)") {
    // ann_bruteforce / ann_pq score through a `=!=`-only join where a
    // shuffle_hash fallback cannot bind — past the bound Spark would
    // silently plan a cartesian over the corpus. The hard variant must
    // throw instead of degrading.
    import spark.implicits._
    val df = Seq(1L).toDF("q_id")
    // under the bound: passes through (broadcast-hinted)
    assert(graft.operators.Similarity.boundedProbeSide(df, 10, bound = 10)
      .queryExecution.logical != null)
    val e = intercept[IllegalStateException] {
      graft.operators.Similarity.boundedProbeSide(df, 11, bound = 10)
    }
    assert(e.getMessage.contains("bounded-probe contract violated"))
    assert(e.getMessage.contains("ann_ivfpq"),
      "error must point the caller at the pruned variants")
  }

  test("ann_ivfpq scores through the cluster equi-key, never all-pairs") {
    // the whole point of IVF-PQ over flat PQ: the scoring join must
    // carry the cluster equi-key (hash-joinable at any query count) —
    // a cartesian/nested-loop over (codes × queries) is the flat-scan
    // shape this operator exists to avoid. The centroid probe's
    // crossJoin is exempt: its build side is the nlist-row centroid
    // table, bounded by construction.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Artifacts.clear()
      val p = graft.operators.Similarity.annIvfPqPlan(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        "ann_ivfpq degenerates to an all-pairs scoring join")
      assert(p.contains("BroadcastHashJoin [label"),
        "scoring join must be an equi hash join on the cluster key")
    } finally restoreAqeDefault()
  }

  test("llm_bloom probes row-locally: literal filter, no joins") {
    // the Bloom filter is a VALUE (8 KB literal array), not a join
    // side — the probe must be scan → per-doc reduction, with no
    // explode fanout and no join anywhere in the cold plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // (the cold plan still contains the posting derivation's
      // token posexplode — the guard is about JOINS: the old probe
      // joined the filter frame and the verdict frame; the literal
      // form joins nothing anywhere)
      val p = plan("llm_bloom")
      assert(!p.contains("Join"), "bloom probe must not join")
      assert(p.contains("hashpartitioning(doc_id"),
        "per-doc reduction must shuffle on doc_id")
    } finally restoreAqeDefault()
  }

  test("text_quality/text_langid stopword counts run inside codegen") {
    // the corpus-scan scoring pass must not fall back to interpreted
    // HOF lambdas — TokenSetCount's membership loop fuses into the
    // generated stage (the r5 judge flagged the filter-lambda form)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (q <- Seq("text_quality", "text_langid")) {
        val p = plan(q)
        assert(p.toLowerCase.contains("tokensetcount"),
          s"$q does not use the native TokenSetCount kernel")
        val line = p.linesIterator.find(_.toLowerCase.contains("tokensetcount")).get
        assert(line.contains("*("), s"$q scoring not codegen'd: $line")
      }
    } finally restoreAqeDefault()
  }

  test("contamination joins never force-broadcast the eval posting") {
    // the eval slice is corpus-proportional (~1%), so the posting
    // joins in decontaminate/containment must rely on size-based
    // selection only — with the auto threshold off, any surviving
    // BroadcastExchange could only come from an explicit hint
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for (q <- Seq("llm_decontaminate", "llm_containment")) {
        val p = plan(q)
        assert(!p.contains("BroadcastExchange"),
          s"$q force-broadcasts a corpus-proportional posting")
        assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      }
    } finally {
      restoreAqeDefault()
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("dedup_url canonicalizes row-locally: no join, one keyed aggregate") {
    // URL canonicalization is a regexp chain inside the scan
    // projection; the only exchange is the per-canonical-URL
    // aggregate — the same scan-and-aggregate profile as dedup_exact
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("dedup_url")
      assert(!p.contains("Join"), "dedup_url must not join")
      assert(p.contains("hashpartitioning(canonical_url"),
        "dedup aggregate must shuffle on canonical_url")
    } finally restoreAqeDefault()
  }

  test("llm_split assigns splits with zero keyed shuffle") {
    // the leakage-free split is a row-local hash-threshold projection:
    // any join (against a dedup table) or keyed exchange here would be
    // the coordination the content-hash key exists to avoid
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("llm_split")
      assert(!p.contains("Join"), "llm_split must not join")
      assert(!p.contains("hashpartitioning"),
        "llm_split must not shuffle on a key")
    } finally restoreAqeDefault()
  }

  test("graph_triangles closes wedges via vertex equi-joins, never all-pairs") {
    // SCALE path (rowsPerPartition pinned to 1 row): triangle census
    // = two shuffled equi-joins on vertex keys over the a<b ordered
    // edge set; a cartesian over edges is the O(E²) shape
    // degree-bounded motif counting exists to avoid. The final
    // crossJoin is exempt: a 1-row stat frame, explicitly broadcast.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(graft.operators.Similarity.graphRowsPerPartConf, "1")
    try {
      val p = plan("graph_triangles")
      assert(!p.contains("CartesianProduct"),
        "triangle closure degenerates to an all-pairs edge join")
      assert(p.contains("hashpartitioning(b"),
        "wedge join must shuffle on the shared vertex key")
    } finally {
      restoreAqeDefault()
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset(graft.operators.Similarity.graphRowsPerPartConf)
    }
  }

  test("graph_triangles at the measured bound plans zero keyed exchanges") {
    // MEASURED-BOUND path (default rowsPerPartition): the census —
    // degree aggregate, both wedge-closure joins, all three stat
    // aggregates — must run co-located on the single-partition edge
    // set, with no hash exchange anywhere (the r8 regression guard,
    // same mechanism as pagerank's) and still no all-pairs join. The
    // 1-row triStats broadcast is the only broadcast.
    val p = plan("graph_triangles")
    assert(!p.contains("CartesianProduct"),
      "triangle closure degenerates to an all-pairs edge join")
    assert(!p.contains("Exchange hashpartitioning("),
      s"measured-bound triangle census re-shuffles a single-partition frame:\n$p")
  }

  test("mm_audio_window frames inside codegen with no keyed shuffle") {
    // windows × corpus is the dominant term of an audio scan: the
    // framing explode and both feature loops must fuse into the
    // generated stage, and nothing may shuffle on a key before the
    // output order
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("mm_audio_window")
      assert(!p.contains("Join"), "mm_audio_window must not join")
      assert(!p.contains("hashpartitioning"),
        "mm_audio_window must not shuffle on a key")
      val line = p.linesIterator.find(_.toLowerCase.contains("byteenergy")).get
      assert(line.contains("*("), s"feature loops not codegen'd: $line")
    } finally restoreAqeDefault()
  }

  test("rolling_hash participates in whole-stage codegen") {
    // AQE prints the pre-execution plan without codegen regions;
    // disable it for this inspection only
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("text_rollhash")
      assert(p.toLowerCase.contains("rollinghash"), "RollingHash not in plan")
      // the projection containing RollingHash must sit inside a
      // WholeStageCodegen region — printed as a "*(n)" stage prefix —
      // not fall back to interpreted eval
      val projLine = p.linesIterator.find(_.toLowerCase.contains("rollinghash")).get
      assert(projLine.contains("*("), s"projection not codegen'd: $projLine")
    } finally restoreAqeDefault()
  }

  test("llm_pack scans and shuffles the corpus exactly once") {
    // the two-phase prefix sum derives bucket totals FROM the
    // windowed frame (max of the inclusive cumsum), so the aggregate
    // reuses the window's shuffle files instead of re-scanning and
    // re-tokenizing documents: exactly one parquet scan and one
    // corpus-wide exchange, the second consumer a ReusedExchange. A
    // second scan here doubles the dominant 100 TB cost (tokenize).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("llm_pack")
      val scans = p.linesIterator.count(_.contains("Scan parquet"))
      assert(scans == 1, s"llm_pack must scan documents once, saw $scans:\n$p")
      assert(p.contains("ReusedExchange"),
        "bucket-totals aggregate must reuse the window's shuffle")
    } finally restoreAqeDefault()
  }

  test("text_cooc_pmi generates pairs row-locally and ranks via top-k, not a sort") {
    // pair generation is the zip-with-tail projection — no position
    // self-join, no doc-partitioned window over the token stream (the
    // cached vocab rollup materializes eagerly, so its build-time
    // window never appears here); the final top-20 must be
    // TakeOrderedAndProject, not a global sort of every pair
    val p = plan("text_cooc_pmi")
    assert(!p.contains("Window"), s"pair generation must not window:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"vocab joins must stay equi-joins:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must plan as TakeOrderedAndProject:\n$p")
  }

  test("stream_attribution_outer joins on the user equi-key with rank-1 pushdown") {
    // the interval condition rides an EQUI-join on user_id (broadcast
    // or shuffled by size — both scale), never a nested-loop over all
    // purchase×click pairs; and the rank-1 pick must keep Spark's
    // WindowGroupLimit pushdown (partial top-1 before the exchange),
    // or every matched pair crosses the shuffle just to be discarded
    val p = plan("stream_attribution_outer")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"outer attribution must stay an equi-join:\n$p")
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"rank-1 must push a partial group limit below the exchange:\n$p")
  }

  test("etl_parse_xlsx_prod / etl_prod_qa decode each book once, equi-joins only") {
    // the four parse legs (header row, column map, categories,
    // values) all read the ONE MeasuredCkpt'd decode artifact — a
    // query-time plan that re-runs the binaryFile decode per leg
    // would 4× the dominant ingest cost of a 100 TB book lake; and
    // every leg joins on (book, sheet[, row, col]) equi-keys, so a
    // cartesian/nested-loop shape means a lost key
    Seq("etl_parse_xlsx_prod", "etl_prod_qa").foreach { q =>
      val p = plan(q)
      assert(!p.contains("binaryFile") && !p.contains("BinaryFile"),
        s"$q: query-time plan must serve the decoded artifact, not re-decode:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: parse joins must stay equi-joins:\n$p")
    }
  }

  test("kpi_gapfill joins only bounded frames: no fact scan at query time") {
    // spine and category list derive from the cached grain (eagerly
    // checkpointed), so the query-time plan must contain NO parquet
    // scan — the fact is read zero extra times however large it is.
    // The spine cross join is a broadcast nested loop over a
    // calendar-bounded frame; a CartesianProduct would mean the
    // bounded side lost its boundedness.
    val p = plan("kpi_gapfill")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 0, s"gapfill must serve the cached grain, saw $scans scans:\n$p")
    assert(!p.contains("CartesianProduct"), s"spine join degenerated:\n$p")
  }

  test("dedup_recall_eval folds the two pair indexes with one keyed exchange, nothing broadcast") {
    // both inputs are corpus-proportional pair indexes (checkpoint
    // scans once cached) — neither may be broadcast; the flag union
    // aggregates per pair key through ONE hash exchange, then the
    // global count collapses to a single-partition aggregate
    val p = plan("dedup_recall_eval")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastExchange"),
      s"pair indexes must not broadcast:\n$p")
    val keyed = "Exchange hashpartitioning\\(".r.findAllIn(p).size
    assert(keyed == 1, s"expected one pair-key exchange, got $keyed:\n$p")
  }

  test("ref parity queries serve the decoded artifact; the totals parse is one exchange") {
    // ref_trade_prod shares parseBookCells and inherits its contract:
    // the query-time plan reads the ONE decoded checkpoint (re-running
    // the binaryFile decode per parse leg would 4× a book lake's
    // dominant ingest cost) and joins stay equi-joins
    val pp = plan("ref_trade_prod")
    assert(!pp.contains("binaryFile") && !pp.contains("BinaryFile"),
      s"ref_trade_prod must serve the decoded artifact, not re-decode:\n$pp")
    assert(!pp.contains("CartesianProduct") && !pp.contains("BroadcastNestedLoopJoin"),
      s"ref_trade_prod parse joins must stay equi-joins:\n$pp")
    // ref_trade_export is the typed per-(book, sheet) group pass: ONE
    // data exchange (the group key) plus the presentation merge — the
    // relational first cut planned 22 stages of pure scheduling floor
    // for a few-hundred-row result, which is the shape this guard
    // prevents from coming back
    val pe = plan("ref_trade_export")
    assert(!pe.contains("binaryFile") && !pe.contains("BinaryFile"),
      s"ref_trade_export must serve the decoded artifact:\n$pe")
    assert(!pe.contains("Join"), s"per-sheet parse needs no join:\n$pe")
    val exchanges = pe.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2,
      s"totals parse grew beyond group-key + merge exchanges ($exchanges):\n$pe")
  }

  test("q31_range_frame windows the bounded monthly aggregate in one Window node") {
    // aggregate-then-window: the ROWS and RANGE frames share the
    // (pri, mon_idx) partitioning/ordering so Spark must evaluate
    // both in ONE WindowExec over the already-reduced series — a
    // second Window node (or a window over raw orders rows) would
    // double the sort or shuffle the fact
    val p = plan("q31_range_frame")
    val windows = "Window \\[".r.findAllIn(p).size
    assert(windows == 1, s"expected one Window node, got $windows:\n$p")
    val keyed = "Exchange hashpartitioning\\(".r.findAllIn(p).size
    assert(keyed <= 2, s"expected agg + window exchanges only, got $keyed:\n$p")
  }
}
