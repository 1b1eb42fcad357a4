package graft.testing

import graft.GraftSession

/** Long-horizon [[PlanFuzz]] soak runner: sweeps an arbitrary seed range
  * beyond the seeds pinned in PlanFuzzSpec (the spec's seeds gate the
  * suite; this main hunts NEW divergences, thousands of seeds in one JVM,
  * before interesting ones are promoted into the spec). The 10k/20k-seed
  * sweeps recorded in SURVEY §2.14 ran through it.
  *
  * Usage: runMain graft.testing.FuzzSoak [fromSeed=241] [toSeed=1000] [cpus]
  * A seed that diverges or throws counts as a failure and the sweep goes
  * on. Prints one JSON line with the failure count; exits 1 on any failure
  * (each failing seed reproduces via `PlanFuzz.runCase(spark, seed)`).
  */
object FuzzSoak {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val from = if (args.length > 0) args(0).toLong else 241L
    val to = if (args.length > 1) args(1).toLong else 1000L
    val cpus = if (args.length > 2) args(2).toInt else GraftSession.cpus(8)
    val spark = GraftSession.build(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    var failures = 0L
    val t0 = System.nanoTime()
    (from to to).foreach { s =>
      val failure =
        try PlanFuzz.runCase(spark, s).map(msg => s"DIVERGED:\n$msg")
        catch { case e: Throwable => Some(s"THREW: ${e.getMessage}") }
      failure.foreach { msg =>
        failures += 1
        System.err.println(s"[soak] seed $s $msg")
      }
      if (s % 500 == 0) {
        val el = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[soak] through seed $s ($failures failures, $el%.0f s)")
      }
    }
    println(s"""{"soak_from":$from,"soak_to":$to,"failures":$failures}""")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
