package graft

import graft.testing.PlanFuzz

/** Differential plan fuzzing (r15 verdict task 2): seeded random plans
  * — filter / project / join / window / group-agg / distinct over random
  * frames spanning the full dtype pool — each executed three ways (DSL,
  * emitted ANSI SQL via spark.sql, and a from-scratch collection model of
  * Spark's semantics) and compared as exact canonical multisets. A failing
  * seed reproduces deterministically: `PlanFuzz.runCase(spark, seed)`.
  *
  * Seeds 1-60 always run; 61-1000 are soak coverage behind
  * `SPARK_GRAFT_SOAK=1` (see [[Soak]]), the only seed loop this fuzzer
  * has.
  *
  * The same generator's SQL-emission discipline feeds the DuckDB-checked
  * `fuzz_*` oracle keys (FuzzQueries) — that path catches engine-level
  * divergence against a foreign engine; this one catches it against an
  * independent in-JVM model with zero shared code.
  */
class PlanFuzzSpec extends SparkSpec {

  private def sweep(seeds: Range): Unit = {
    val failures = seeds.flatMap(s => PlanFuzz.runCase(spark, s.toLong))
    assert(failures.isEmpty,
      s"${failures.size} diverging seeds:\n${failures.take(3).mkString("\n\n")}")
  }

  test("differential fuzz: seeds 1-60 agree across DSL, SQL, and the model") {
    sweep(1 to 60)
  }
  soakTest("differential fuzz: seeds 61-120 agree across DSL, SQL, and the model") {
    sweep(61 to 120)
  }
  soakTest("differential fuzz: seeds 121-180 agree across DSL, SQL, and the model") {
    sweep(121 to 180)
  }
  soakTest("differential fuzz: seeds 181-240 agree across DSL, SQL, and the model") {
    sweep(181 to 240)
  }
  soakTest("differential fuzz: seeds 241-490 agree across DSL, SQL, and the model") {
    sweep(241 to 490)
  }
  soakTest("differential fuzz: seeds 491-740 agree across DSL, SQL, and the model") {
    sweep(491 to 740)
  }
  soakTest("differential fuzz: seeds 741-1000 agree across DSL, SQL, and the model") {
    sweep(741 to 1000)
  }
}
