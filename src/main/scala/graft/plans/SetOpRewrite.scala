package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.Max
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{EXCEPT, INTERSECT, LEFT_SEMI_OR_ANTI_JOIN}

/** Optimizer rule: INTERSECT / EXCEPT whose two arms filter the SAME
  * source collapse to ONE scan + a membership-flag aggregation.
  *
  * Catalyst lowers `Intersect` to `Distinct(LeftSemi join)` and
  * `Except` to `Distinct(LeftAnti join)` — both arms scan the source
  * independently and the join shuffles both. When the arms are
  * `Project(e, Filter(c_i, S))` over one source S, set membership is
  * a per-group property of one pass:
  *
  *   v ∈ left  ⇔ max(c_l) over S's rows grouping to v = 1
  *   v ∈ right ⇔ max(c_r) = 1
  *   INTERSECT ⇒ keep f_l=1 ∧ f_r=1;  EXCEPT ⇒ keep f_l=1 ∧ f_r=0
  *
  * i.e. one scan (pre-filtered to c_l ∨ c_r, so pushdown still
  * applies), one hash exchange with map-side partials, zero joins —
  * at 100 TB the difference between scanning the fact twice plus a
  * shuffle join, and one aggregation. NULL semantics match the set
  * ops exactly: grouping keys null-safe-equal like the generated
  * EqualNullSafe join condition, and a NULL filter condition counts
  * as false on both paths.
  *
  * The rule fires only on the exact generated shape — same
  * canonicalized source, positionally identical projections,
  * deterministic conditions, the positional null-safe join condition
  * — and rewrites Distinct-form and Aggregate-form (after
  * ReplaceDistinctWithAggregate) alike. [[graft.GraftExtensions]]
  * injects it into the operator-optimization batches of every
  * session, local or cluster; `spark.sql.optimizer.excludedRules`
  * turns it off by its `ruleName`.
  */
object SetOpToFlagAggregate extends Rule[LogicalPlan] {

  /** A set-op arm: (projectList, filterCondition, source). */
  private def arm(p: LogicalPlan)
      : Option[(Seq[NamedExpression], Expression, LogicalPlan)] = p match {
    case Project(es, Filter(c, s))
        if c.deterministic && es.forall(_.deterministic) =>
      Some((es, c, s))
    case Filter(c, s) if c.deterministic => Some((s.output, c, s))
    case _ => None
  }

  private def stripAlias(e: Expression): Expression = e match {
    case Alias(c, _) => c
    case x => x
  }

  /** The positional null-safe equality that
    * ReplaceIntersectWithSemiJoin / ReplaceExceptWithAntiJoin emit.
    */
  private def isPositionalNullSafeEq(cond: Expression,
      l: Seq[Attribute], r: Seq[Attribute]): Boolean = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case x => Seq(x)
    }
    val cs = conjuncts(cond)
    cs.length == l.length && cs.zip(l.zip(r)).forall {
      case (EqualNullSafe(a: Attribute, b: Attribute), (la, ra)) =>
        (a.exprId == la.exprId && b.exprId == ra.exprId) ||
          (a.exprId == ra.exprId && b.exprId == la.exprId)
      case _ => false
    }
  }

  private def rewrite(left: LogicalPlan, right: LogicalPlan,
      anti: Boolean): Option[LogicalPlan] = for {
    (le, lc, ls) <- arm(left)
    (re, rc, rs) <- arm(right)
    if le.nonEmpty && le.length == re.length
    if ls.canonicalized == rs.canonicalized
    // bring the right arm's condition/projections into the left
    // source's attribute space (positional — canonical equality of
    // the sources pins the output correspondence)
    attrMap = AttributeMap(rs.output.zip(ls.output))
    rc2 = rc.transform { case a: Attribute => attrMap.getOrElse(a, a) }
    re2 = re.map(_.transform { case a: Attribute => attrMap.getOrElse(a, a) })
    if le.zip(re2).forall { case (a, b) =>
      stripAlias(a).semanticEquals(stripAlias(b)) }
  } yield {
    val f1 = Alias(
      Max(If(lc, Literal(1), Literal(0))).toAggregateExpression(), "__setop_l")()
    val f2 = Alias(
      Max(If(rc2, Literal(1), Literal(0))).toAggregateExpression(), "__setop_r")()
    val pre = Filter(Or(lc, rc2), ls)
    val agg = Aggregate(le.map(stripAlias), le ++ Seq(f1, f2), pre)
    val keep = And(
      EqualTo(f1.toAttribute, Literal(1)),
      EqualTo(f2.toAttribute, Literal(if (anti) 0 else 1)))
    Project(le.map(_.toAttribute), Filter(keep, agg))
  }

  // the rule runs in every iteration of the operator-optimization
  // batches, so it skips subtrees holding no set op and no
  // semi/anti join, the only shapes it rewrites
  def apply(plan: LogicalPlan): LogicalPlan = plan.transformWithPruning(
      _.containsAnyPattern(INTERSECT, EXCEPT, LEFT_SEMI_OR_ANTI_JOIN)) {
    // pre-lowering shapes (when the rule runs before Replace Operators)
    case op @ Intersect(l, r, false) => rewrite(l, r, anti = false).getOrElse(op)
    case op @ Except(l, r, false) => rewrite(l, r, anti = true).getOrElse(op)
    // post-lowering: Distinct(semi/anti join) or its Aggregate form
    case op @ Distinct(Join(l, r, jt @ (LeftSemi | LeftAnti), Some(c), _))
        if isPositionalNullSafeEq(c, l.output, r.output) =>
      rewrite(l, r, anti = jt == LeftAnti).getOrElse(op)
    case op @ Aggregate(g, a, Join(l, r, jt @ (LeftSemi | LeftAnti), Some(c), _), _)
        if a.forall(_.isInstanceOf[Attribute]) &&
          a.map(_.exprId) == l.output.map(_.exprId) &&
          g.length == a.length &&
          g.zip(a).forall { case (ge, ae) => ge.semanticEquals(ae) } &&
          isPositionalNullSafeEq(c, l.output, r.output) =>
      rewrite(l, r, anti = jt == LeftAnti).getOrElse(op)
  }
}
