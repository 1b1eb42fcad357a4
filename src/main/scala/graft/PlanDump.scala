package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for headline queries to plan files.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> [query...]
  * Writes <outDir>/<query>_<suffix>.txt for each query (default: the full
  * Bench.headline list). The session is Bench's (the same factory call),
  * so the dumped plans are the ones the benchmark executes. AQE plans print
  * `AdaptiveSparkPlan isFinalPlan=false` pre-execution; the static plan
  * shape (Exchanges, join strategies, PushedFilters) is what these files
  * pin, matching what PlanSpec asserts.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.length > 0) args(0) else "plans/r21"
    val suffix = if (args.length > 1) args(1) else "before"
    val picked = if (args.length > 2) args.drop(2).toSeq else Bench.headline
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build(GraftSession.cpus(32))
    Files.createDirectories(Paths.get(outDir))
    picked.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        txt.getBytes(StandardCharsets.UTF_8))
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
