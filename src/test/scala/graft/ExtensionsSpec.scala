package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{SetOpToFlagAggregate, TopKStrategy}

/** Registration surface: every session built by [[GraftSession]]
  * carries [[GraftExtensions]] — custom expressions usable from SQL,
  * the planner strategy and the optimizer rule.
  */
class ExtensionsSpec extends AnyFunSuite {
  import TestSpark._

  test("the session exposes the native expressions to SQL") {
    val r = spark.sql(
      "SELECT rolling_hash('abc') AS h, " +
        "dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
        "sum_squares(array(3.0d, 4.0d)) AS s")
      .first()
    assert(r.getLong(0) == 96354L) // (('a'*31+'b')*31+'c') mod 1e9+7
    assert(r.getDouble(1) == 11.0)
    assert(r.getDouble(2) == 25.0)
    val b = spark.sql(
      "SELECT byte_sum('ab') AS s, byte_energy('ab') AS e").first()
    assert(b.getLong(0) == 97L + 98L)
    assert(b.getLong(1) == (97L - 128L) * (97L - 128L) + (98L - 128L) * (98L - 128L))
  }

  test("the session plans with the TopKPerKey strategy and the set-op rule") {
    assert(spark.sessionState.planner.strategies.contains(TopKStrategy))
    assert(spark.sessionState.optimizer.batches
      .exists(_.rules.contains(SetOpToFlagAggregate)))
  }

  test("a newSession() session resolves every function and rewrites set ops") {
    val s2 = spark.newSession()
    // one call per registered name, so a new function must add its own
    val calls = Map(
      "rolling_hash" -> "rolling_hash('abc')",
      "dot_product" -> "dot_product(array(1.0d), array(2.0d))",
      "sum_squares" -> "sum_squares(array(3.0d))",
      "byte_sum" -> "byte_sum('ab')",
      "byte_energy" -> "byte_energy('ab')",
      "term_counts" -> "term_counts(array('a', 'b', 'a'))",
      "canonical_text" -> "canonical_text(' A,b ')",
      "canonical_url" -> "canonical_url('https://www.X.com/a/')")
    assert(calls.keySet == GraftExtensions.functions.map(_._1).toSet)
    for ((name, call) <- calls)
      assert(s2.sql(s"SELECT $call AS v").collect().length == 1, name)
    val t = Tables(s2, sf)
    val opt = t.orders.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      .intersect(t.orders.filter(col("o_orderpriority") === "5-LOW").select(col("o_custkey")))
      .queryExecution.optimizedPlan.toString
    assert(opt.contains("__setop_l") && !opt.contains("Join"), opt)
  }

  // ---- SetOpToFlagAggregate ----

  // the builder does not set this key, so unset restores the session
  private def withRuleOff[T](body: => T): T = {
    spark.conf.set("spark.sql.optimizer.excludedRules", SetOpToFlagAggregate.ruleName)
    try body finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  test("same-source INTERSECT rewrites to one scan + flag aggregate") {
    import spark.implicits._
    val t = Tables(spark, sf)
    val urgent = t.orders.filter($"o_orderpriority" === "1-URGENT").select($"o_custkey")
    val low = t.orders.filter($"o_orderpriority" === "5-LOW").select($"o_custkey")
    val q = urgent.intersect(low)
    val opt = q.queryExecution.optimizedPlan.toString
    assert(!opt.contains("Join"), s"set op not rewritten:\n$opt")
    assert(opt.contains("__setop_l"), s"flag aggregate missing:\n$opt")
    // one source scan, not two
    assert("Relation.*orders|FileScan.*orders".r.findAllIn(
      q.queryExecution.executedPlan.toString + opt).size <= 2)
    val got = q.collect().map(_.getLong(0)).sorted
    val expected = withRuleOff {
      urgent.intersect(low).collect().map(_.getLong(0)).sorted }
    assert(got.sameElements(expected))
    assert(got.nonEmpty)
  }

  test("same-source EXCEPT agrees with the built-in plan, nulls included") {
    import spark.implicits._
    // nulls group null-safe in set ops: NULL ∈ both sides must drop
    // out of EXCEPT and survive INTERSECT exactly like the built-in
    val df = Seq[(java.lang.Long, String)](
      (1L, "a"), (2L, "a"), (null, "a"), (2L, "b"), (null, "b"), (3L, "b"))
      .toDF("k", "side")
    df.cache().count()
    val a = df.filter($"side" === "a").select($"k")
    val b = df.filter($"side" === "b").select($"k")
    def norm(rows: Array[org.apache.spark.sql.Row]): Seq[Option[Long]] =
      rows.map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
        .toSeq.sortBy(_.getOrElse(Long.MinValue))
    val exceptGot = norm(a.except(b).collect())
    val intersectGot = norm(a.intersect(b).collect())
    val (exceptExp, intersectExp) = withRuleOff {
      (norm(a.except(b).collect()), norm(a.intersect(b).collect())) }
    assert(exceptGot == exceptExp && exceptGot == Seq(Some(1L)))
    assert(intersectGot == intersectExp &&
      intersectGot == Seq(None, Some(2L)))
    df.unpersist()
  }

  test("different-source set ops are left to the built-in lowering") {
    import spark.implicits._
    val t = Tables(spark, sf)
    val a = t.orders.filter($"o_orderpriority" === "1-URGENT").select($"o_custkey")
    val b = t.customer.select($"c_custkey")
    val opt = a.intersect(b).queryExecution.optimizedPlan.toString
    assert(!opt.contains("__setop_l"), "rule fired across different sources")
    assert(opt.contains("Join"), "built-in semi-join lowering missing")
  }
}
