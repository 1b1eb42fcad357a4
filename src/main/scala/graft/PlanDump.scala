package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Dump `.explain("formatted")` for headline queries to plan files.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> [query...]
  * Writes <outDir>/<query>_<suffix>.txt for each query (default: the full
  * Bench.headline list). The session is Bench's (the same factory call),
  * so the dumped plans are the ones the benchmark executes. Each file
  * holds two plans:
  *  - the initial plan (`AdaptiveSparkPlan isFinalPlan=false`): the static
  *    shape (Exchanges, join strategies, PushedFilters) that PlanSpec
  *    asserts;
  *  - the AQE-final plan of a `noop` write of the query (the write the
  *    benchmark times), which shows the decisions adaptive execution makes
  *    at stage boundaries: coalesced shuffle reads, joins switched to
  *    broadcast, and the global-sort input [[graft.plans.GlobalSortInput]]
  *    picks once a stage has run.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.length > 0) args(0) else "plans/r21"
    val suffix = if (args.length > 1) args(1) else "before"
    val picked = if (args.length > 2) args.drop(2).toSeq else Bench.headline
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build(GraftSession.cpus(32))
    val written = new AtomicReference[QueryExecution]
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        written.set(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val formatted = ExplainMode.fromString("formatted")
    Files.createDirectories(Paths.get(outDir))
    picked.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val initial = df.queryExecution.explainString(formatted)
      df.write.format("noop").mode("overwrite").save()
      Bridge.drainListenerBus(spark)
      val txt = s"$initial\n== AQE-final plan of the noop write ==\n" +
        written.get.explainString(formatted)
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        txt.getBytes(StandardCharsets.UTF_8))
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
