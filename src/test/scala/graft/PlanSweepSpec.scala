package graft

import org.apache.spark.sql.functions._

import graft.testing.PlanSweep

/** PlanSweep's Filter-operator line check, over plan-text lines at every
  * tree depth. */
class PlanSweepSpec extends SparkSpec {

  test("Filter operators count at any depth; PushedFilters lines do not") {
    val filters = Seq(
      "*(1) Filter (isnotnull(x#1) AND (x#1 > 5))",
      "+- *(2) Filter isnotnull(o_custkey#3L)",
      "   :- Filter (id#0L > 1)",
      // under a join's left branch, one and two levels down
      ":     +- *(1) Filter (isnotnull(l_orderkey#7L) AND (l_qty#9 < 24.0))",
      "   :  +- Filter ((id#0L % 3) = 0)",
      ":  :  :  +- *(3) Filter (isnotnull(k#2) AND (k#2 = 1))")
    val others = Seq(
      "+- FileScan parquet [x#1] Batched: true, PushedFilters: [IsNotNull(x)], ReadSchema: struct<x:int>",
      ":     +- *(1) ColumnarToRow",
      "   :  +- Project [id#0L, bloom_filter_might_contain(x, y) AS f#5]",
      "+- BroadcastHashJoin [id#0L], [id#2L], Inner, BuildRight, false")
    filters.foreach(l => assert(PlanSweep.isFilterOp(l), l))
    others.foreach(l => assert(!PlanSweep.isFilterOp(l), l))
  }

  test("both filters of a join whose sides project over a filter count") {
    def side(n: Int, m: Int) = spark.range(n).filter(col("id") % m === 0)
      .select(col("id"), (col("id") * 2).as(s"v$m"))
    val plan = side(100, 3).join(side(50, 2), "id")
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(PlanSweep.isFilterOp) == 2, plan)
  }
}
