package graft.plans

import org.apache.spark.sql.catalyst.plans.{InnerLike, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo, Join, JoinHint, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Size-driven broadcast: the engine's one policy for when a join side is
  * small enough to ship to every executor. Spark's own 10 MB threshold
  * silently turns a 15-20 MB dim join into a two-sided shuffle of the fact
  * table (BASELINE.md, 1e9 join ladder: 764.9 s vs 112.8 s broadcast).
  *
  * The rule hints a join side as broadcast when:
  *  - the join type can build on that side (right for inner, left outer,
  *    semi and anti; left for inner and right outer; never for full outer);
  *  - its Catalyst size estimate is at most the cap ([[derateCap]] of the
  *    driver's max heap);
  *  - the other side is at least [[BroadcastRatio]]× bigger.
  * If both sides qualify, the smaller one is hinted. Streaming sides and
  * joins that already carry a hint are left alone. A hint, not a forced
  * plan: AQE can still re-plan.
  *
  * Injected as a pre-CBO optimizer rule ([[graft.GraftExtensions]]): it runs
  * once per query, after column pruning, so a projected dim is sized by the
  * columns it keeps and a chain of N joins is sized in one walk. It applies
  * to every join the optimizer sees: DataFrame, SQL and LazyFrame. When the
  * session sets `spark.sql.autoBroadcastJoinThreshold` explicitly, that conf
  * is the only broadcast policy and this rule does nothing. */
object BroadcastBySize extends Rule[LogicalPlan] {

  /** Ceiling on the cap: 256 MB, the measured fix for the 10 MB cliff. */
  private val BroadcastCapCeiling: Long = 256L * 1024 * 1024

  /** Floor on the cap: 16 MB, always above Spark's 10 MB default so the
    * star-join cliff stays closed even on a minimally sized driver. */
  private val BroadcastCapFloor: Long = 16L * 1024 * 1024

  /** Assumed on-disk → in-memory inflation of a broadcast hash relation.
    * Catalyst sizes a parquet scan by its COMPRESSED file bytes, but the
    * relation is collected through the driver as JVM rows plus a hash index,
    * typically 5-20× larger; 10× is the design point. */
  private val BroadcastInflation = 10L

  /** Minimum big-side/small-side size ratio. A broadcast ships the build side
    * once per executor, so broadcasting a 200 MB side to dodge a 250 MB
    * shuffle LOSES on a 1000-executor cluster (200 GB of network for 450 MB
    * of shuffle saved); it only wins when the probe side dwarfs the build
    * side. */
  private val BroadcastRatio = 4

  /** The cap derated against the driver's max heap. The broadcast relation
    * ([[BroadcastInflation]]× the on-disk estimate) is collected through the
    * driver and must stay well under Spark's hard 8 GB relation limit, so the
    * cap budgets at most ~1/3 of the heap for it:
    * `heap / (3 × inflation)`, clamped to [16 MB, 256 MB]. A 1 GB driver
    * (cluster default) gets ~34 MB; ≥7.5 GB drivers get the full 256 MB. */
  private[graft] def derateCap(maxHeapBytes: Long): Long = {
    val byHeap = maxHeapBytes / (3L * BroadcastInflation)
    math.max(BroadcastCapFloor, math.min(BroadcastCapCeiling, byHeap))
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (conf.contains(SQLConf.AUTO_BROADCASTJOIN_THRESHOLD.key)) plan
    else apply(plan, derateCap(Runtime.getRuntime.maxMemory))

  /** The policy at an explicit cap in bytes, whatever the session conf. */
  private[graft] def apply(plan: LogicalPlan, cap: Long): LogicalPlan = plan.transformUp {
    case j: Join if j.hint == JoinHint.NONE && !j.left.isStreaming && !j.right.isStreaming =>
      val rightOk = j.joinType match {
        case _: InnerLike | LeftOuter | LeftSemi | LeftAnti => true
        case _ => false
      }
      val leftOk = j.joinType match {
        case _: InnerLike | RightOuter => true
        case _ => false
      }
      val ls = j.left.stats.sizeInBytes
      val rs = j.right.stats.sizeInBytes
      val hintRight = rightOk && rs <= cap && ls >= rs * BroadcastRatio
      val hintLeft = leftOk && ls <= cap && rs >= ls * BroadcastRatio
      val broadcast = Some(HintInfo(strategy = Some(BROADCAST)))
      if (hintRight && (!hintLeft || rs <= ls)) j.copy(hint = JoinHint(None, broadcast))
      else if (hintLeft) j.copy(hint = JoinHint(broadcast, None))
      else j
  }
}
