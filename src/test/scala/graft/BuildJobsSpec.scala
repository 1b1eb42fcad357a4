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
