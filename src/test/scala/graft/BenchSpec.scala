package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** The measurement harness: its printed summary line is a published
  * format, and its per-query record must carry the counts of the
  * query it names.
  */
class BenchSpec extends AnyFunSuite {
  import TestSpark._

  test("summary line is byte-identical to the established format") {
    val minS = Seq(0.12345, -1.0, 2.5)
    val samples = Seq(0.15, 0.2049, 0.1)
    // printed by the formatter as it stood before the harness was folded
    val golden = """{"metric":"total","value":2.623,"unit":"sec",""" +
      """"mode":"steady-state: min of 3 passes, corpus artifacts cached",""" +
      """"n_queries":3,"n_ok":2,"floor_per_query_sec":0.013,""" +
      """"floor_per_stage_sec":0.205,"floor_stage_samples":[0.150,0.205,0.100],""" +
      """"floor_per_stage_min_sec":0.100,"floor_total_sec":0.025,""" +
      """"value_minus_floor":2.598,"per_query":"BENCH_LAST.json","sf":"/data/sf0.1""""
    assert(Bench.summaryLine(minS, 3, 0.0125, samples, "BENCH_LAST.json", "/data/sf0.1",
      Some(Set("c", "a", "b"))) == golden + ""","only":"a,b,c"}""")
    assert(Bench.summaryLine(minS, 3, 0.0125, samples, "BENCH_LAST.json", "/data/sf0.1",
      None) == golden + "}")
  }

  test("harness core: one record per query, a failure reads -1 and hides nothing") {
    val real = Seq("q3_join_agg_topk", "q8_window_rank", "kpi_base_monthly")
    val boom: Bench.Query = (_, _) => throw new IllegalStateException("boom")
    val queries = real.map(n => n -> SparkEntry.queries(n)) :+ ("boom" -> boom)
    Artifacts.clear() // the KPI query's warm-up must build its monthly grain
    val m = Bench.measure(spark, sf, queries, nPasses = 1)
    assert(m.records.map(_.query) == real :+ "boom")
    val failed = m.records.last
    assert(failed.minS == -1.0 && failed.firstS == -1.0)
    assert(failed.exchanges == -1)
    m.records.init.foreach { r =>
      assert(r.firstS > 0 && r.minS > 0, r)
      assert(r.jobs > 0 && r.stages > 0 && r.tasks > 0, r)
      val direct = SparkEntry.queries(r.query)(spark, sf).queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }.size
      assert(r.exchanges == direct, r)
      assert(r.rebuilds == 0, r)
    }
    assert(m.records(2).builds > 0, m.records(2))
    assert(m.records.exists(_.exchanges > 0), "the check needs a plan with an exchange")
    assert(m.floorSamples.size == 2 && m.floor > 0)
    assert(!org.apache.spark.ListenerProbe.listeners(spark.sparkContext)
      .exists(_.isInstanceOf[Bench.JobCounts]), "the counting listener must be removed")
  }

  test("the warm-up record counts runtime bloom filters; dedup_minhash_lsh plans none") {
    // control: a shuffled join whose creation side is a selective scan
    // filter gets a bloom_filter_agg subquery once the application-side
    // size bound is lifted
    import org.apache.spark.sql.functions.col
    val control: Bench.Query = (s, dir) => {
      val t = Tables(s, dir)
      t.lineitem.join(t.orders.filter(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey"))
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    val c = try Bench.measure(spark, sf, Seq("control" -> control), nPasses = 1).records.head
    finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    }
    assert(c.minS > 0 && c.runtimeFilters > 0, c)
    // every artifact built cold, so the checkpoint executions are counted too
    Artifacts.clear()
    val r = Bench.measure(spark, sf,
      Seq("dedup_minhash_lsh" -> SparkEntry.queries("dedup_minhash_lsh")), nPasses = 1).records.head
    assert(r.minS > 0 && r.builds > 0, r)
    assert(r.runtimeFilters == 0, r)
    assert(r.json.contains(s""","runtime_filters":0,"""), r.json)
  }

  test("the warm-up record counts the jobs of its eager artifact builds") {
    // cold, graph_pagerank checkpoints its prepared graph and every
    // rank iteration while its plan is built; the measured pass hits
    // the store
    Artifacts.clear()
    val r = Bench.measure(spark, sf,
      Seq("graph_pagerank" -> SparkEntry.queries("graph_pagerank")), nPasses = 1).records.head
    assert(r.minS > 0 && r.builds > 0 && r.rebuilds == 0, r)
    assert(r.firstJobs > r.jobs && r.firstStages >= r.stages && r.firstTasks >= r.tasks, r)
    assert(r.json.contains(s""","tasks":${r.tasks},"first_jobs":${r.firstJobs},""" +
      s""""first_stages":${r.firstStages},"first_tasks":${r.firstTasks},"exchanges":"""), r.json)
  }

  test("the warm-up record counts the janino compiles of its run") {
    // generated classes are cached JVM-wide by source text, and earlier
    // suites may have compiled this query's plan already: a literal no
    // other plan carries makes its output stage new source
    val salt = System.nanoTime()
    val q: Bench.Query = (s, dir) => SparkEntry.queries("q3_join_agg_topk")(s, dir)
      .withColumn("salt", org.apache.spark.sql.functions.lit(salt))
    val r = Bench.measure(spark, sf, Seq("q3_join_agg_topk" -> q), nPasses = 1).records.head
    assert(r.minS > 0, r)
    assert(r.compiles > 0 && r.codegenMs > 0, r)
    assert(r.json.endsWith(s""","compiles":${r.compiles},"codegen_ms":${Bench.ms(r.codegenMs)}}"""))
  }
}
