package graft.plans

import org.apache.spark.sql.catalyst.expressions.{
  And, Attribute, Expression, LessThan, LessThanOrEqual, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: predicate pushdown through the AS-OF JOIN.
  *
  * Catalyst's PushDownPredicates does not know the custom
  * [[AsOfJoinPlan]] node, so a `Filter` written above an as-of join would
  * otherwise stall there and the scans read everything. Two sound moves:
  *
  *  1. Conjuncts referencing only left-side columns move into the left
  *     child (the as-of join neither drops nor duplicates left rows), from
  *     where the built-in rules carry them into the parquet scan.
  *  2. An *upper* bound on the left time (`l.t <= T` — "state as of the
  *     end of the quarter") is copied (not moved) onto the right side as
  *     `r.t <= T`: an as-of match only ever looks backwards in time, so
  *     right rows past the bound can never match. Lower bounds must NOT be
  *     copied — an arbitrarily old right row can still be the match.
  *
  * GraftSession.prepare adds it to the session's optimizer. The reference has
  * no equivalent: Postgres re-scopes its lateral audit scans per row
  * (audit.go:1074); this is planning-time work done once.
  */
object AsOfRangePushdown extends Rule[LogicalPlan] with PredicateHelper {

  /** Upper bounds on `attr` among conjuncts: attr <= lit / attr < lit. */
  private def upperBounds(conjuncts: Seq[Expression], attr: Attribute): Seq[Literal] =
    conjuncts.collect {
      case LessThanOrEqual(a: Attribute, l: Literal) if a.semanticEquals(attr) => l
      case LessThan(a: Attribute, l: Literal) if a.semanticEquals(attr) => l
    }

  /** True only if the right child's top filter already carries a
    * `rightTime <= literal` conjunct (i.e. this rule already fired) — a
    * plain user filter on the right must not disable the copy. */
  private def alreadyBounded(right: LogicalPlan, rightTime: Expression): Boolean =
    right match {
      case Filter(c, _) => splitConjunctivePredicates(c).exists {
        case LessThanOrEqual(e, _: Literal) => e.semanticEquals(rightTime)
        case _ => false
      }
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, j: AsOfJoinPlan) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val (leftOnly, rest) = conjuncts.partition(c =>
        c.deterministic && c.references.subsetOf(j.left.outputSet))
      val bounds = j.leftTime match {
        case lt: Attribute => upperBounds(leftOnly, lt)
        case _ => Nil
      }
      if (leftOnly.isEmpty) f
      else {
        val newLeft = Filter(leftOnly.reduce(And(_, _)), j.left)
        val newRight =
          if (bounds.isEmpty || alreadyBounded(j.right, j.rightTime)) j.right
          else Filter(
            bounds.map(b => LessThanOrEqual(j.rightTime, b): Expression)
              .reduce(And(_, _)),
            j.right)
        val joined = j.copy(left = newLeft, right = newRight)
        if (rest.isEmpty) joined else Filter(rest.reduce(And(_, _)), joined)
      }
  }
}
