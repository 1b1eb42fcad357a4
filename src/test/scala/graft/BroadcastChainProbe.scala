package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import graft.dsl.LazyFrame

/** Size-driven broadcast is one optimizer rule (`graft.plans.BroadcastBySize`),
  * so building a join reads no statistics: an iteratively built 50-join
  * LazyFrame chain costs what the same chain of plain `DataFrame.join`s
  * costs, and the rule sizes the whole chain in one walk when the query is
  * planned. History: r17 measured the per-call hint it replaced at ~70 ms
  * per join by depth 50 (an optimizer run per call, O(N²) on the chain)
  * and bounded it with a 64-node stats fallback (SCALE.md).
  *
  * This probe pins three things: construction cost at depth stays near the
  * plain-join baseline, planning the chain with the rule costs about what
  * it costs with the rule off, and every dim in the chain still broadcasts.
  */
class BroadcastChainProbe extends SparkSpec {

  test("50-join iterative chain: bounded per-join cost, dims still broadcast-hinted") {
    val dims = (0 until 50).map { i =>
      spark.range(100).select(col("id").as("k"), (col("id") * i).as(s"v$i"))
    }
    def fact = spark.range(10000).select(col("id").as("k"))

    /** Builds the chain with `step`; returns it, the mean ms per join over
      * the 10 deepest joins, and every join's ms. */
    def chain[T](start: T)(step: (T, DataFrame) => T): (T, Double, Seq[Double]) = {
      var acc = start
      val times = dims.map { d =>
        val t0 = System.nanoTime()
        acc = step(acc, d)
        (System.nanoTime() - t0) / 1e6
      }
      val deep = times.takeRight(10)
      (acc, deep.sum / deep.size, times)
    }
    def lazyChain() = chain(LazyFrame(fact))((lf, d) => lf.join(LazyFrame(d), Seq("k")))
    def plainChain() = chain(fact)((df, d) => df.join(d, "k"))

    // warm the join/analysis path so JIT doesn't bill the timed chains
    lazyChain(); plainChain()
    // same-run baseline, alternated three times and medians compared: host
    // stalls inflate baseline and candidate together, so the RELATIVE bound
    // is immune to the multi-minute interference windows this VM documents
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val runs = (0 until 3).map(_ => (plainChain(), lazyChain()))
    val baseMean = median(runs.map(_._1._2))
    val deepMean = median(runs.map(_._2._2))
    val (lf, _, times) = runs.last._2
    val bound = math.max(50.0, 4.0 * baseMean)
    assert(deepMean < bound,
      f"per-join construction at depth 40-50 averaged $deepMean%.1f ms " +
        f"vs plain-join baseline $baseMean%.1f ms (bound $bound%.0f; " +
        f"last run: ${times.map(t => f"$t%.0f").mkString(",")}) — building a " +
        "LazyFrame join reads statistics again")

    // planning time: the rule walks the chain once. Spark's own 10 MB
    // threshold, set explicitly, turns the rule off and broadcasts the same
    // 100-row dims, so both runs plan the same physical shape. A per-join
    // optimizer run inside the rule would cost seconds on this chain.
    def planMs(conf: Seq[(String, String)]): Double = withSQLConf(conf: _*) {
      val df = lazyChain()._1.df
      val t0 = System.nanoTime()
      df.queryExecution.executedPlan
      (System.nanoTime() - t0) / 1e6
    }
    val off = Seq("spark.sql.autoBroadcastJoinThreshold" -> "10m")
    planMs(Nil); planMs(off) // warm
    val plans = (0 until 3).map(_ => (planMs(off), planMs(Nil)))
    val (ruleOff, ruleOn) = (median(plans.map(_._1)), median(plans.map(_._2)))
    val planBound = math.max(1000.0, 3.0 * ruleOff)
    assert(ruleOn < planBound,
      f"planning the 50-join chain took $ruleOn%.0f ms with the rule vs " +
        f"$ruleOff%.0f ms without (medians of 3; bound $planBound%.0f)")

    // the rule hinted every one of the 50 joins, and every tiny dim
    // broadcasts: none degrades to a shuffle join
    val hinted = lf.df.queryExecution.optimizedPlan.collect {
      case j: Join => j.hint.rightHint.isDefined
    }
    assert(hinted.size == 50 && hinted.forall(identity), hinted)
    val plan = lf.df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"deep-chain dims no longer broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"a dim in the deep chain degraded to a shuffle join:\n$plan")
  }
}
