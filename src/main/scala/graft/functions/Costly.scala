package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, Levenshtein}

/** Marks a per-row kernel whose evaluation costs far more than reading the
  * row: a tokenizer, a hash ladder, a vector product, an edit distance.
  * This is graft's one cost class. The planner uses it to run such a kernel
  * once per row: [[graft.plans.CostlyOncePerRow]] computes a kernel that a
  * projection uses more than once in a child projection, and
  * [[graft.plans.GlobalSortInput]] keeps a range exchange from running a
  * kernel's stage twice. Anything else that has to tell cheap work from
  * costly work should read the same mark rather than keep its own list.
  * Mark a kernel only once a workload measures it as dearer than what the
  * mark makes the planner add (for the sort rule, a local sort and a
  * shuffle write of every row): single-pass string kernels such as
  * `normalize` or `replace_many` are not marked. A marked kernel must be
  * total (no error on any input), because the projection rule may move it
  * out from under the CASE branch that guarded it. */
trait Costly

object Costly {

  /** Whether `e` itself (not its children) is a costly kernel: one of
    * graft's marked expressions, or Spark's `Levenshtein` (m·n cells per
    * row; graft's own [[LevenshteinExpr]] computes the same integer
    * bit-parallel), which user SQL still calls. */
  def apply(e: Expression): Boolean = e match {
    case _: Costly | _: Levenshtein => true
    case _ => false
  }
}
