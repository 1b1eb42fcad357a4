package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, RoundRobinPartitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, PartitionedFileUtil, SortExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, BroadcastQueryStageExec, CoalesceShufflePartitions, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.datasources.{BucketingUtils, FilePartition}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec}

import graft.functions.Costly

/** Decides the input of a global sort. To meet a global sort's ordering
  * Spark plans a range exchange, and a range exchange runs its input stage
  * twice: `RangePartitioner` runs one job over the whole stage to pick the
  * partition bounds, then the map stage runs it again, and a result job
  * sorts the ranges. This rule matches the exchange Spark put directly
  * under a `SortExec(global = true)` (`RangePartitioning(n > 1)`,
  * `ENSURE_REQUIREMENTS`) and picks one of two outcomes from what the
  * physical plan shows:
  *
  *  - **The input runs as one task.** The exchange becomes `CoalesceExec(1)`,
  *    whose single partition meets the ordering, so the sort runs inside the
  *    input's task: no sampling job, no range shuffle. polars sorts an
  *    in-memory frame the same way, with no sampling pass. "One task" holds
  *    when every leaf of the input stage (the walk stops at exchanges and
  *    query stages; broadcasts do not count) is a file scan with one split
  *    or a materialized shuffle stage that AQE's own coalescing
  *    (`CoalesceShufflePartitions`, under the session's confs) reads as one
  *    partition, and no union adds up several of them. A shuffle stage that
  *    has not run yet leaves the exchange in place; the rule runs again at
  *    every adaptive re-plan, and AQE adopts the re-plan because it has
  *    fewer exchanges. Shark (SIGMOD 2013) picks the physical plan from
  *    statistics gathered at stage boundaries in the same way.
  *  - **Otherwise, if the input stage evaluates a [[graft.functions.Costly]]
  *    kernel**, a round-robin exchange goes under the range exchange. The
  *    kernel's stage then runs once and writes its output to shuffle files,
  *    which the sampling job and the range map stage both read. That costs
  *    a local sort of every row (`spark.sql.execution.sortBeforeRepartition`)
  *    and a shuffle write, which is why only kernels a measured workload
  *    shows to be dearer carry the mark. Once the inserted exchange has run
  *    it is a query stage, and at the next re-plan the first outcome may
  *    apply over it; a second round-robin exchange is never stacked.
  *
  * `repartitionByRange` (whose partition count the caller asked for),
  * `Sort` + `Limit` (planned as `TakeOrderedAndProject`) and a one-partition
  * range exchange (which takes no sample) are left alone. The rule is a
  * query-stage preparation rule ([[graft.GraftExtensions]]), so it runs
  * under adaptive execution, on the initial plan and on every re-plan. */
case class GlobalSortInput(session: SparkSession) extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case sort @ SortExec(_, true,
        range @ ShuffleExchangeExec(r: RangePartitioning, input, ENSURE_REQUIREMENTS, _), _)
        if r.numPartitions > 1 =>
      sort.withNewChildren(Seq(
        if (runsAsOneTask(input)) CoalesceExec(1, input)
        else if (stageIsCostly(input)) range.withNewChildren(Seq(
          ShuffleExchangeExec(RoundRobinPartitioning(r.numPartitions), input, ENSURE_REQUIREMENTS)))
        else range))
  }

  /** Whether the stage `input` runs as one task. AQE's coalescing reads the
    * map statistics of every shuffle stage under `input`, those under a
    * broadcast that has not run yet included, so it is applied only once
    * all of them have run. */
  private def runsAsOneTask(input: SparkPlan): Boolean =
    stageLeaves(input).forall {
      case _: ShuffleQueryStageExec | _: FileSourceScanExec => true
      case _: BroadcastExchangeLike | _: BroadcastQueryStageExec => true
      case _ => false
    } && !input.exists {
      case s: ShuffleQueryStageExec => !s.isMaterialized
      case _ => false
    } && oneTask(CoalesceShufflePartitions(session)(input))

  private def stageLeaves(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case _: Exchange | _: QueryStageExec => Seq(plan)
    case p if p.children.isEmpty => Seq(p)
    case p => p.children.flatMap(stageLeaves)
  }

  /** `plan` after AQE's coalescing: its leaves are those [[runsAsOneTask]]
    * admits, each shuffle stage possibly under its coalesced read. */
  private def oneTask(plan: SparkPlan): Boolean = plan match {
    case _: BroadcastExchangeLike | _: BroadcastQueryStageExec => true
    case r: AQEShuffleReadExec => r.partitionSpecs.size == 1
    case s: ShuffleQueryStageExec => s.shuffle.numPartitions == 1
    case s: FileSourceScanExec =>
      // a dynamic partition filter selects files only at run time
      !s.partitionFilters.exists(_.exists(_.isInstanceOf[PlanExpression[_]])) &&
        GlobalSortInput.splits(s) == 1
    case _: UnionExec => false
    case p => p.children.forall(oneTask)
  }

  private def stageIsCostly(plan: SparkPlan): Boolean = plan match {
    case _: Exchange | _: QueryStageExec => false
    case p => p.expressions.exists(_.exists(Costly(_))) || p.children.exists(stageIsCostly)
  }
}

object GlobalSortInput {

  /** The number of tasks `scan` runs, counted as `FileSourceScanExec.inputRDD`
    * splits its selected files (`FilePartition`'s split math) but without
    * building that RDD: building it builds the file format's reader, which
    * broadcasts the Hadoop configuration, and every adaptive re-plan makes
    * fresh scan nodes that would each build one again. */
  private[graft] def splits(scan: FileSourceScanExec): Int =
    if (scan.bucketedScan)
      scan.optionalNumCoalescedBuckets.getOrElse(scan.relation.bucketSpec.get.numBuckets)
    else {
      val relation = scan.relation
      val session = relation.sparkSession
      val listing = scan.selectedPartitions
      val maxSplitBytes = FilePartition.maxSplitBytes(session, listing)
      val keep: Path => Boolean = scan.optionalBucketSet match {
        case Some(buckets) if session.sessionState.conf.bucketingEnabled =>
          path => BucketingUtils.getBucketId(path.getName).forall(buckets.get)
        case _ => _ => true
      }
      val files = listing.filePartitionIterator.flatMap { part =>
        part.files.filter(f => keep(f.getPath)).flatMap { f =>
          PartitionedFileUtil.splitFiles(f, f.getPath,
            relation.fileFormat.isSplitable(session, relation.options, f.getPath),
            maxSplitBytes, part.values)
        }
      }.toSeq.sortBy(_.length)(Ordering[Long].reverse)
      FilePartition.getFilePartitions(session, files, maxSplitBytes).size
    }
}
