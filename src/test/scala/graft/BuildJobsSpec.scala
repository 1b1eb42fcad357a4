package graft

/** The keys of the benchmark's `olap` and `curation` workloads
  * (`perfbench/run.py`). */
object BenchWorkloads {
  val olap = Seq("agg_tpch_q1", "agg_sum_two_keys", "agg_count_distinct",
    "agg_dynamic_1h", "join_inner", "join_left_agg", "join_star",
    "join_asof_backward", "win_rank", "win_rolling_time", "topk_global")

  val curation = Seq("explode_words", "text_quality", "text_langid",
    "text_fingerprint", "text_fuzzy_pairs", "text_token_stats",
    "dedup_near_pairs", "dedup_minhash_sig", "dedup_simhash",
    "sim_bruteforce_topk", "sim_lsh_pairs")
}

/** Building a query frame (the battery's `SparkEntry.queries(key)` call,
  * before any action) launches no Spark job: table reads take a single
  * file's schema from its footer on the driver. */
class BuildJobsSpec extends SparkSpec {

  /** Jobs started while building each key's frame on sf0.01. */
  private def buildJobs(keys: Seq[String]): Map[String, Int] =
    keys.map { k =>
      k -> jobsStarted(SparkEntry.queries(k)(spark, "/root/testdata/sf0.01"))._2
    }.toMap

  test("building an olap key launches no Spark job") {
    val jobs = buildJobs(BenchWorkloads.olap)
    assert(jobs.values.forall(_ == 0), jobs.filter(_._2 > 0))
  }

  test("building a curation key launches no Spark job") {
    val jobs = buildJobs(BenchWorkloads.curation)
    assert(jobs.values.forall(_ == 0), jobs.filter(_._2 > 0))
  }
}

/** The Spark jobs each benchmark key's `noop` write (the call the benchmark
  * times) launches on sf0.01. A global sort whose input runs as one task
  * runs in that task (`graft.plans.GlobalSortInput`), so a returning
  * `RangePartitioner` sampling job or range shuffle fails here. */
class WriteJobsSpec extends SparkSpec {

  private def writeJobs(keys: Seq[String]): Map[String, Int] = {
    assume(spark.sparkContext.defaultParallelism >= 2,
      "with one core every range exchange has one partition and samples nothing")
    keys.map { k =>
      val df = SparkEntry.queries(k)(spark, "/root/testdata/sf0.01")
      k -> jobsStarted(df.write.format("noop").mode("overwrite").save())._2
    }.toMap
  }

  test("each olap key's write launches a pinned number of jobs") {
    assert(writeJobs(BenchWorkloads.olap) == Map(
      "agg_tpch_q1" -> 2, "agg_sum_two_keys" -> 2, "agg_count_distinct" -> 2,
      "agg_dynamic_1h" -> 2, "join_inner" -> 2, "join_left_agg" -> 3, "join_star" -> 4,
      "join_asof_backward" -> 2, "win_rank" -> 2, "win_rolling_time" -> 2,
      "topk_global" -> 1))
  }

  test("each curation key's write launches a pinned number of jobs") {
    assert(writeJobs(BenchWorkloads.curation) == Map(
      "explode_words" -> 3, "text_quality" -> 1, "text_langid" -> 1,
      "text_fingerprint" -> 1, "text_fuzzy_pairs" -> 6, "text_token_stats" -> 1,
      "dedup_near_pairs" -> 6, "dedup_minhash_sig" -> 1, "dedup_simhash" -> 1,
      "sim_bruteforce_topk" -> 3, "sim_lsh_pairs" -> 3))
  }
}
