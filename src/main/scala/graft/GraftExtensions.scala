package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.{ByteEnergy, ByteSum, DotProduct, RollingHash, SumSquares}
import graft.plans.{SetOpToFlagAggregate, TopKStrategy}

/** The engine's custom planner pieces, applied when a session is
  * built: the TopKPerKey strategy, the set-op flag-aggregate rule
  * (in the operator-optimization batches) and the SQL functions in
  * [[GraftExtensions.functions]]. Local sessions get them from
  * [[GraftSession]]'s builder; a cluster names the same class:
  * ```
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * ```
  * Sessions made by `newSession()` carry them too.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => TopKStrategy)
    e.injectOptimizerRule(_ => SetOpToFlagAggregate)
    GraftExtensions.functions.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))
    }
  }
}

object GraftExtensions {

  private def arity(name: String, n: Int)(
      b: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      if (exprs.length != n) throw new IllegalArgumentException(
        s"$name expects $n argument(s), got ${exprs.length}")
      b(exprs)
    }

  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "rolling_hash" -> arity("rolling_hash", 1)(exprs => RollingHash(exprs.head)),
    "dot_product" -> arity("dot_product", 2)(exprs => DotProduct(exprs(0), exprs(1))),
    "sum_squares" -> arity("sum_squares", 1)(exprs => SumSquares(exprs.head)),
    "byte_sum" -> arity("byte_sum", 1)(exprs => ByteSum(exprs.head)),
    "byte_energy" -> arity("byte_energy", 1)(exprs => ByteEnergy(exprs.head)),
    "term_counts" -> arity("term_counts", 1)(exprs =>
      graft.functions.TermCounts(exprs.head)),
    "canonical_text" -> arity("canonical_text", 1)(exprs =>
      graft.functions.CanonicalText(exprs.head)),
    "canonical_url" -> arity("canonical_url", 1)(exprs =>
      graft.functions.CanonicalUrl(exprs.head))
  )

  // injectFunction registers over whatever the session's registry
  // holds, so a kernel named like a Spark built-in would silently
  // replace the built-in for every SQL user of the session. Fail at
  // class-load instead of at the first wrong query.
  {
    val builtin = org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
    val clashes = functions.map(_._1)
      .filter(n => builtin.functionExists(FunctionIdentifier(n)))
    require(clashes.isEmpty,
      s"graft kernel name(s) collide with Spark built-ins: ${clashes.mkString(",")}")
  }
}
