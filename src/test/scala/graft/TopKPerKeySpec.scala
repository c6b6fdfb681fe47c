package graft

import graft.plans.TopKPerKey
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TopKPerKeySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def base = Tables(spark, sf).orders
    .select($"o_orderpriority", $"o_orderkey", $"o_totalprice")

  test("custom top-k equals the window formulation") {
    val custom = TopKPerKey(base, Seq("o_orderpriority"),
        Seq(TopKPerKey.desc("o_totalprice"), TopKPerKey.asc("o_orderkey")), 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    val windowed = base.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(custom == windowed)
  }

  test("plans as partial + final with a clustering exchange between") {
    val df = TopKPerKey(base, Seq("o_orderpriority"),
      Seq(TopKPerKey.desc("o_totalprice"), TopKPerKey.asc("o_orderkey")), 3)
    val p = df.queryExecution.executedPlan.toString
    assert("TopKPerKey \\[".r.findAllIn(p).size == 2, s"expected 2 exec nodes:\n$p")
    assert(p.contains("Exchange hashpartitioning(o_orderpriority"),
      "missing clustering exchange")
  }

  test("partial flush under a tiny key cap changes nothing but memory") {
    // corpus-keyed inputs (kNN graph: key = every vector) would grow
    // the partial pass's heap map without bound; past the key cap it
    // flushes downstream and resets — the final pass still computes
    // the exact per-key top-k, a flush only reduces pre-shuffle
    // reduction. Force the flush path with a cap far below the
    // distinct key count (orders has ~thousands of o_orderkey keys).
    val keyed = Tables(spark, sf).orders
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
    def run() = TopKPerKey(keyed, Seq("o_orderkey"),
        Seq(TopKPerKey.desc("o_totalprice"), TopKPerKey.asc("o_orderpriority")), 1)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val unflushed = run()
    // the cap is a session conf read at planning time (baked into the
    // exec node), so setting it here affects only plans built while it
    // is set — no process-global state to leak into other suites
    spark.conf.set(graft.plans.TopKPerKeyExec.flushKeysConf, 7)
    try {
      assert(run() == unflushed, "flush path changed the result set")
    } finally spark.conf.unset(graft.plans.TopKPerKeyExec.flushKeysConf)
    assert(unflushed.size == keyed.select($"o_orderkey").distinct().count())
  }

  test("a mis-tuned flush-key conf fails planning with the conf name") {
    // a typo'd or non-positive cap must surface as a NAMED error at
    // planning time, not an uncontextualized NumberFormatException
    // (zero would otherwise park every row in `pending` and silently
    // emit nothing)
    def planWith(v: String): Unit = {
      spark.conf.set(graft.plans.TopKPerKeyExec.flushKeysConf, v)
      try TopKPerKey(base, Seq("o_orderpriority"),
          Seq(TopKPerKey.desc("o_totalprice")), 1)
        .queryExecution.executedPlan
      finally spark.conf.unset(graft.plans.TopKPerKeyExec.flushKeysConf)
    }
    for (bad <- Seq("banana", "0", "-3")) {
      val e = intercept[IllegalArgumentException](planWith(bad))
      assert(e.getMessage.contains(graft.plans.TopKPerKeyExec.flushKeysConf),
        s"error for '$bad' must name the conf: ${e.getMessage}")
    }
  }

  test("a newSession() session plans TopKPerKey with the strategy's operator") {
    // planner strategies are session state: a session made by
    // newSession() gets TopKStrategy from the session's extensions,
    // before any TopKPerKey call, and TopKPerKey.apply adds nothing
    val s2 = spark.newSession()
    assert(s2.sessionState.planner.strategies.contains(graft.plans.TopKStrategy))
    val rows = s2.range(0, 40, 1, 4).toDF("v").withColumn("key", col("v") % 3)
    val df = TopKPerKey(rows, Seq("key"), Seq(TopKPerKey.desc("v")), 2)
    val execs = df.queryExecution.executedPlan.collect {
      case e: graft.plans.TopKPerKeyExec => e
    }
    assert(execs.size == 2, df.queryExecution.executedPlan)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (34L to 39L))
    assert(s2.experimental.extraStrategies.isEmpty)
  }

  test("handles groups smaller than k and k=1") {
    val one = TopKPerKey(base, Seq("o_orderpriority"),
      Seq(TopKPerKey.desc("o_totalprice")), 1)
    val got = one.collect()
    assert(got.length == 5) // one row per priority
    val maxes = base.groupBy($"o_orderpriority")
      .agg(max($"o_totalprice").as("m")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    got.foreach(r => assert(r.getDouble(2) == maxes(r.getString(0))))
  }
}
