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
    val real = Seq("q3_join_agg_topk", "q8_window_rank")
    val boom: Bench.Query = (_, _) => throw new IllegalStateException("boom")
    val queries = real.map(n => n -> SparkEntry.queries(n)) :+ ("boom" -> boom)
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
    }
    assert(m.records.exists(_.exchanges > 0), "the check needs a plan with an exchange")
    assert(m.floorSamples.size == 2 && m.floor > 0)
    assert(!org.apache.spark.ListenerProbe.listeners(spark.sparkContext)
      .exists(_.isInstanceOf[Bench.JobCounts]), "the counting listener must be removed")
  }
}
