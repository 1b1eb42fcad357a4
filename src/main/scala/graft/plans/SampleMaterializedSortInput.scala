package graft.plans

import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, RoundRobinPartitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec}

import graft.functions.Costly

/** A range exchange (a global sort's, or `repartitionByRange`'s) samples
  * its input before it shuffles it: `RangePartitioner` runs one job over
  * the whole input stage to pick the partition bounds, then the map stage
  * runs that stage again. When the stage evaluates a
  * [[graft.functions.Costly]] kernel, every row pays for the kernel twice.
  *
  * This rule puts a round-robin exchange under such a range exchange. The
  * kernel's stage then runs once and writes its output to shuffle files,
  * and the sampling job and the range map stage both read that output.
  * The inserted exchange is not free: with more than one partition, a
  * round-robin shuffle first sorts every input row locally
  * (`spark.sql.execution.sortBeforeRepartition`, on by default, a spillable
  * external sort that makes task retries deterministic), then writes the
  * rows to shuffle files. That local sort and shuffle write are what a
  * firing trades against a second pass of the kernel, which is why only
  * kernels a measured workload shows to be dearer carry the mark.
  * Shark (SIGMOD 2013) makes the same move: take statistics at a
  * materialized stage boundary instead of recomputing the work above it.
  *
  * It fires only on what the physical plan shows:
  *  - the range exchange has more than one partition (with one,
  *    `RangePartitioner` takes no sample);
  *  - its input stage, the subtree down to the next exchange or query stage
  *    (broadcasts included), evaluates a costly expression.
  * A `Sort` + `Limit` plans as `TakeOrderedAndProject` and a single-partition
  * input needs no exchange, so neither has a range exchange to match. A
  * kernel behind an exchange already runs once.
  *
  * Injected as a query-stage preparation rule ([[graft.GraftExtensions]]), so
  * it runs under adaptive execution, on the initial plan and on every
  * re-plan. Once the inserted exchange has run it is a query stage, and the
  * stage walk stops there, so a re-plan never stacks a second one. */
object SampleMaterializedSortInput extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case range @ ShuffleExchangeExec(r: RangePartitioning, child, _, _)
        if r.numPartitions > 1 && stageIsCostly(child) =>
      range.withNewChildren(Seq(
        ShuffleExchangeExec(RoundRobinPartitioning(r.numPartitions), child, ENSURE_REQUIREMENTS)))
  }

  private def stageIsCostly(plan: SparkPlan): Boolean = plan match {
    case _: Exchange | _: QueryStageExec => false
    case p => p.expressions.exists(_.exists(Costly(_))) || p.children.exists(stageIsCostly)
  }
}
