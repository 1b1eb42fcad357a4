package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.functions.Costly

/** A costly kernel is evaluated once per row, however often a projection
  * uses it. Spark's subexpression elimination shares none of the calls in
  * `langId`'s projection (38 calls of `graft_tokens(text)` per row): an
  * interpreted higher-order function such as `filter` is not generated
  * code, and a CASE evaluates its later branches conditionally.
  *
  * For each `Project`, the rule finds every deterministic
  * [[graft.functions.Costly]] expression the projection uses two or more
  * times (semantically equal occurrences, CASE branches and a higher-order
  * function's array argument included), computes it once in a child
  * `Project` as an alias, and reads the alias in its place. It moves an
  * expression only when its arguments are attributes or literals: graft's
  * kernels are total, so running such a kernel outside the CASE branch that
  * guarded it raises nothing the guarded plan did not, and a kernel over a
  * lambda variable (which changes per element) is never one of them.
  * `CollapseProject` keeps the split, because it does not inline a non-cheap
  * expression that is read more than once.
  *
  * Injected as a pre-CBO optimizer rule ([[graft.GraftExtensions]]); it is
  * idempotent. "Building Advanced SQL Analytics From Low-Level Plan
  * Operators" (SIGMOD 2021) shares an intermediate between its consumers
  * the same way. */
object CostlyOncePerRow extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p: Project => split(p)
  }

  /** `p` with its repeated kernels moved below it. A kernel over a moved
    * one (`graft_minhash(graft_shingles(text, 3), 4)`) has attribute
    * arguments once the inner one is moved, so it moves in the next round. */
  private def split(p: Project): Project = {
    val uses = p.projectList.flatMap(outermostMovable)
    val counts = uses.groupBy(_.canonicalized).view.mapValues(_.size).toMap
    val repeated = uses.filter(e => counts(e.canonicalized) > 1).distinctBy(_.canonicalized)
    if (repeated.isEmpty) p
    else {
      val aliases = repeated.map(e => Alias(e, s"__${e.prettyName}")())
      val byKey = aliases.map(a => a.child.canonicalized -> a.toAttribute).toMap
      val reads = p.projectList.map(_.transformDown {
        case e if byKey.contains(e.canonicalized) => byKey(e.canonicalized)
      }.asInstanceOf[NamedExpression])
      split(Project(reads, Project(p.child.output ++ aliases, p.child)))
    }
  }

  /** The movable costly expressions in `e`, not looking inside one. */
  private def outermostMovable(e: Expression): Seq[Expression] =
    if (movable(e)) Seq(e) else e.children.flatMap(outermostMovable)

  /** A lambda variable is not an `Attribute`, so a kernel over one stays. */
  private def movable(e: Expression): Boolean =
    Costly(e) && e.deterministic && e.children.forall {
      case _: Attribute | _: Literal => true
      case _ => false
    }
}
