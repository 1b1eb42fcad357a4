package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.CollapseProject
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.util.LongAccumulator

import graft.functions.{TextStatsExpr, TokensExpr}
import graft.plans.CostlyOncePerRow
import graft.text.TextAnalysis

/** [[CostlyOncePerRow]]: a costly kernel that a projection uses several
  * times runs once per row, also where a CASE uses it only in its later
  * branches and where it is a higher-order function's array argument; a
  * kernel over a lambda variable, a nondeterministic one and one over a
  * computed argument stay where they are. The rule is idempotent and
  * `CollapseProject` does not undo it. */
class CostlyOncePerRowSpec extends SparkSpec {

  private val N = 600

  private def input: DataFrame = spark.range(N).select(col("id"),
    concat(lit("doc"), col("id").cast("string")).as("s"),
    sequence(lit(0L), col("id") % 5).as("arr"))

  private def counted(c: Column, stable: Boolean = true): (Column, LongAccumulator) = {
    val acc = spark.sparkContext.longAccumulator("kernel evals")
    (Bridge.column(CountedKernel(Bridge.expression(c), acc, stable)), acc)
  }

  /** Evaluations of the counted kernel in `select(cols)` over [[input]],
    * with the rule and, when `without`, with the optimizer skipping it. */
  private def evals(build: => (Seq[Column], LongAccumulator), without: Boolean = false): Long = {
    val (cols, acc) = build
    def run() = assert(input.select(cols: _*).collect().length == N)
    if (without) withSQLConf("spark.sql.optimizer.excludedRules" -> CostlyOncePerRow.ruleName)(run())
    else run()
    acc.value
  }

  /** Occurrences of `is` in the expressions of every node of `plan`. */
  private def occurrences(plan: LogicalPlan)(is: Expression => Boolean): Int =
    plan.collect { case p => p.expressions.map(_.collect { case e if is(e) => e }.size).sum }.sum

  private def kernels(plan: LogicalPlan): Int =
    occurrences(plan)(_.isInstanceOf[CountedKernel])

  private def caseInLaterBranches = {
    val (k, acc) = counted(col("s"))
    (Seq(col("id"), when(col("id") % 3 === 0, lit(-1))
      .when(length(k) > 5, length(k))
      .otherwise(length(k) * 2).as("v")), acc)
  }

  private def hofArgument = {
    val (k, acc) = counted(col("arr"))
    (Seq(size(filter(k, x => x > 1)).as("big"), aggregate(k, lit(0L), _ + _).as("sum"),
      size(k).as("n")), acc)
  }

  test("a CASE using the kernel only in its later branches evaluates it once per row") {
    assert(evals(caseInLaterBranches, without = true) > N)
    assert(evals(caseInLaterBranches) == N)
  }

  test("a kernel that is a higher-order function's array argument runs once per row") {
    assert(evals(hofArgument, without = true) > N)
    assert(evals(hofArgument) == N)
  }

  test("a kernel over a lambda variable, a nondeterministic one and one over a computed argument stay") {
    def twice(k: Column) = Seq(length(k).as("a"), length(k).as("b"))
    val acc = spark.sparkContext.longAccumulator("kernel evals")
    def overLambda(x: Column) = Bridge.column(CountedKernel(Bridge.expression(x), acc))
    Seq(
      Seq(transform(col("arr"), x => overLambda(x) + overLambda(x)).as("t")),
      twice(counted(col("s"), stable = false)._1),
      twice(counted(upper(col("s")))._1)).foreach { cols =>
      val plan = input.select(cols: _*).queryExecution.optimizedPlan
      assert(kernels(plan) == 2, plan.treeString)
    }
    // 1 to 5 elements per row, the kernel twice per element
    assert(input.select(transform(col("arr"), x => overLambda(x) + overLambda(x)))
      .collect().length == N)
    assert(acc.value == 2 * (0 until N).map(_ % 5 + 1).sum)
  }

  test("the rule is idempotent and CollapseProject keeps the kernel in its own projection") {
    val (cols, _) = caseInLaterBranches
    val plan = input.select(cols: _*).queryExecution.optimizedPlan
    assert(kernels(plan) == 1, plan.treeString)
    assert(CostlyOncePerRow(plan) == plan)
    assert(kernels(CollapseProject(plan)) == 1)
  }

  test("langId and qualityScore plans call their kernel once") {
    def plan(c: Column) = input.select(c.as("v")).queryExecution.optimizedPlan
    assert(occurrences(plan(TextAnalysis.langId(col("s"))))(_.isInstanceOf[TokensExpr]) == 1)
    assert(occurrences(plan(TextAnalysis.qualityScore(col("s"))))(
      _.isInstanceOf[TextStatsExpr]) == 1)
  }
}
