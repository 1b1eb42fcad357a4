package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, Levenshtein}

/** Marks a per-row kernel whose evaluation costs far more than reading the
  * row: a tokenizer, a hash ladder, a vector product, an edit distance.
  * This is graft's one cost class. The planner uses it to avoid running
  * such a kernel twice ([[graft.plans.GlobalSortInput]]);
  * anything else that has to tell cheap work from costly work should read
  * the same mark rather than keep its own list. Mark a kernel only once a
  * workload measures it as dearer than what the mark makes the planner add
  * (for the sort rule, a local sort and a shuffle write of every row):
  * single-pass string kernels such as `normalize` or `replace_many` are
  * not marked. */
trait Costly

object Costly {

  /** Whether `e` itself (not its children) is a costly kernel: one of
    * graft's marked expressions, or Spark's `Levenshtein` (O(len²) per
    * row). */
  def apply(e: Expression): Boolean = e match {
    case _: Costly | _: Levenshtein => true
    case _ => false
  }
}
