package graft.testing

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.GraftSession
import graft.functions.Costly

/** Plan-shape sweep over the WHOLE declared-query inventory (r21 opt round):
  * plans every SparkEntry key (no execution) and emits one CSV row per key
  * with the red-flag counts the optimization guide says to look for —
  * Exchange count, join strategies (CartesianProduct / BroadcastNestedLoop
  * flagged), scans whose ReadSchema is wider than 12 columns, scans with a
  * Filter directly above but no PushedFilters, and interpreted (non-codegen)
  * eval markers. The checklist in OPTIMIZATION_r21.md is generated from this
  * sweep. `costly_calls` counts the [[graft.functions.Costly]] kernel
  * calls in the optimized plan, so that two sweeps tell on which keys a
  * change moved kernel work.
  *
  * Usage: sbt "Test/runMain graft.testing.PlanSweep <outCsv> [sfDir]"
  * (a test-scope runner: the library ships no test harness).
  * Keys whose very CONSTRUCTION executes jobs (stream_* run a streaming
  * query to produce their result frame) are skipped — their plans are
  * pinned by the streaming specs instead.
  */
object PlanSweep {

  private val FilterOp = """[ :]*(?:[+:]- )?(?:\*\(\d+\) )?Filter .*""".r

  /** Whether one line of `executedPlan.toString` is a Filter OPERATOR, at
    * any depth of the tree: the prefix is any run of the tree's `:` and
    * space continuation columns, then one `+- ` / `:- ` marker (a filter
    * under a join's left branch prints as `:     +- *(1) Filter ...`).
    * Lines that merely contain the substring — every scan line carries
    * `PushedFilters: [...]` — do not count. */
  def isFilterOp(line: String): Boolean = FilterOp.matches(line)

  def main(args: Array[String]): Unit = {
    val outCsv = if (args.length > 0) args(0) else "/tmp/plan_sweep.csv"
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = GraftSession.build(GraftSession.cpus(8))
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder(
      "key,exchanges,sorts,smj,bhj,shj,bnlj,cartesian,generate,window," +
        "inmemory,unpushed_scan_filters,wide_scans,costly_calls,err\n")
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("stream_"))
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.executedPlan.toString
        val lines = plan.linesIterator.toSeq
        def c(p: String) = lines.count(_.contains(p))
        // scans that push nothing while the plan filters somewhere —
        // candidate missed pushdowns, reviewed by hand from the CSV.
        val scans = c("FileScan parquet")
        val pushedScans = lines.count(l =>
          l.contains("PushedFilters: [") && !l.contains("PushedFilters: []"))
        val filterOps = lines.count(isFilterOp)
        val unpushed =
          if (filterOps > 0 && scans > 0) scans - pushedScans else 0
        val wideScans = lines.count { l =>
          l.contains("ReadSchema: struct<") &&
            l.substring(l.indexOf("ReadSchema")).count(_ == ',') >= 12
        }
        val optimized = df.queryExecution.optimizedPlan
        val costly = optimized.collect { case p =>
          p.expressions.map(_.collect { case e if Costly(e) => e }.size).sum }.sum
        sb.append(s"$name,${c("Exchange")},${c("Sort ")},${c("SortMergeJoin")}," +
          s"${c("BroadcastHashJoin")},${c("ShuffledHashJoin")}," +
          s"${c("BroadcastNestedLoopJoin")},${c("CartesianProduct")}," +
          s"${c("Generate")},${c("Window")},${c("InMemoryRelation")}," +
          s"$unpushed,$wideScans,$costly,\n")
      } catch {
        case e: Throwable =>
          sb.append(s"$name,,,,,,,,,,,,,,${e.getClass.getSimpleName}\n")
      }
    }
    Files.write(Paths.get(outCsv), sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"[plansweep] wrote $outCsv (${names.size} keys)")
    spark.stop()
  }
}
