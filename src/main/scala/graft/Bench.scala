package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — driver runs this per-round on sf0.1 (BENCH_r{N}.json).
  * Prints ONE JSON line: {"metric":"total","value":N,"unit":"sec",
  * "queries":{name:sec,...},"sf":dir}.
  *
  * Each headline query is forced through the `noop` sink so the full plan
  * executes (a bare count() would let Catalyst prune projections).
  */
object Bench {

  // ---- calibration probes (r17) -------------------------------------------
  // Fixed-cost work emitted alongside the totals so driver-vs-builder
  // host-load skew is quantifiable: two of the last three rounds burned
  // round-over-round comparability on ±25% uniform host noise. The probe
  // code never changes, so any drift in these numbers between records is
  // the HOST, not the library. Three probes, each min-of-3, taken BEFORE
  // and AFTER the timed passes (host interference windows are
  // multi-minute — the pre/post pair brackets the run):
  //   cpu_spin_ms — single-thread fixed xorshift loop: core-speed drift.
  //   par_spin_ms — the same loop on `cpus` threads at once: CPU
  //                 contention from co-tenants (uniform noise shows here).
  //   scan_ms     — noop-sink scan of the pinned customer.parquet:
  //                 Spark job-launch + IO-path drift at the record's sf.

  @volatile private var blackhole: Long = 0L // defeats dead-code elimination

  private def spin(iters: Long): Long = {
    var x = 0x9e3779b97f4a7c15L
    var i = 0L
    while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  private def cpuSpinMs(): Double = {
    val t0 = System.nanoTime()
    blackhole ^= spin(400000000L)
    (System.nanoTime() - t0) / 1e6
  }

  private def parSpinMs(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map(_ => new Thread(() => {
      blackhole ^= spin(100000000L)
    }))
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }

  private def scanMs(spark: SparkSession, sfDir: String): Double = {
    val t0 = System.nanoTime()
    // a bare spark.read.parquet, inference job included, not util.t's
    // footer read: scan_ms is compared across rounds
    spark.read.parquet(s"$sfDir/customer.parquet")
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e6
  }

  /** One calibration snapshot as a JSON object string (min-of-3 each). */
  private[graft] def calibrate(spark: SparkSession, sfDir: String,
                               threads: Int): String = {
    val cpu = Seq.fill(3)(cpuSpinMs()).min
    val par = Seq.fill(3)(parSpinMs(threads)).min
    val scan = Seq.fill(3)(scanMs(spark, sfDir)).min
    f"""{"cpu_spin_ms":$cpu%.1f,"par_spin_ms":$par%.1f,"scan_ms":$scan%.1f}"""
  }

  /** Stream every input parquet for the battery's sf through a noop sink
    * once so the timed passes start from a WARM page cache (r17 forensics:
    * a cold cache turned a 130.7 s sf100 battery into 220 s with flat CPU
    * probes, and BENCH_r17's 12.2 s sf0.1 record was pure I/O co-tenancy —
    * records must not depend on page-cache luck). Opt out with
    * SPARK_GRAFT_BENCH_WARM=0; the record carries `warmed` either way.
    * Cost is one sequential read of the sf inputs (~seconds at sf0.1);
    * on a real cluster the analogue is per-executor storage cache locality,
    * so warm numbers are the ones comparable across rounds AND the ones
    * representative of steady-state production scans. */
  private def warmInputs(spark: SparkSession, sfDir: String): Unit = {
    val dir = new java.io.File(sfDir)
    val inputs = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).sorted
    inputs.foreach { p =>
      spark.read.parquet(p).write.format("noop").mode("overwrite").save()
    }
  }

  /** Representative slice of the battery: scan+agg, shuffles, joins, windows,
    * asof, dedup/LSH, similarity, text scoring, explode, top-k. */
  val headline: Seq[String] = Seq(
    "agg_tpch_q1", "agg_sum_two_keys", "agg_count_distinct", "agg_dynamic_1h",
    "join_inner", "join_left_agg", "join_star", "join_asof_backward",
    "win_rank", "win_rolling_time", "topk_global", "explode_words",
    "text_quality", "dedup_near_pairs", "sim_bruteforce_topk")

  /** Timed passes per run: `SPARK_GRAFT_BENCH_PASSES` (default 5), checked
    * before the session is built, so a bad value fails at once rather than
    * after the warm-up read. */
  def passes(env: Option[String]): Int =
    GraftSession.positiveInt("SPARK_GRAFT_BENCH_PASSES", env, 5)

  def main(args: Array[String]): Unit = {
    // The record line is machine-parsed JSON and every float lands in it
    // via f-interpolation, which formats in the JVM default locale — a
    // comma-decimal locale would emit {"value":7,384} and break ingestion.
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    // optional args restrict the run to named queries (local iteration)
    val picked = if (args.nonEmpty) headline.filter(args.toSet) else headline
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus(32)
    val passes = Bench.passes(sys.env.get("SPARK_GRAFT_BENCH_PASSES"))
    val spark = GraftSession.build(cpus)

    // Warm-up actions so JIT/classloading doesn't bill the first queries.
    // The HOF+md5 pipelines (dedup, similarity) are interpreted-eval paths
    // whose first execution pays ~6s of JVM warm-up — drive them once over
    // tiny synthetic frames (disjoint from the benched tables, so the
    // CacheManager/persist can't leak precomputed state into the timings).
    import org.apache.spark.sql.functions._
    SparkEntry.queries("agg_sum_two_keys")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    val tinyDocs = spark.range(64).select(col("id").as("doc_id"),
      concat(lit("warm up text number "), col("id").cast("string"),
        lit(" lorem ipsum dolor sit amet consectetur")).as("text"))
    graft.text.Dedup.nearDuplicates(tinyDocs, "doc_id", "text", 3, 4, 2, 0.5)
      .write.format("noop").mode("overwrite").save()
    val tinyVecs = spark.range(32).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(7)),
        i => (i + col("id").cast("int")).cast("float")).as("embedding"))
    graft.ml.Similarity.bruteForceTopK(
      tinyVecs.filter(col("vec_id") >= 2),
      tinyVecs.filter(col("vec_id") < 2)
        .select(col("vec_id").as("query_id"), col("embedding")),
      "vec_id", "embedding", "query_id", k = 3)
      .write.format("noop").mode("overwrite").save()
    // Drop the warm-up's verify cache before any timed pass runs.
    graft.text.Dedup.releaseCache()

    // Five passes, per-query minimum (plus medians alongside): the timing
    // target is engine throughput, not transient host noise (shared-VM CPU
    // stalls measured at 5-10× on single runs, round-6's record swung +17%
    // on code that didn't change, and the round-9 host showed multi-minute
    // interference windows where whole passes of a 0.5 s group-by ran 14 s
    // while single- and 32-core userspace probes stayed flat — so more
    // samples, each a fresh chance to land in a quiet window, is the only
    // honest defense). The median alongside exposes whether the min was a
    // fluke. A failing query is recorded as "err", never as a wall time —
    // a broken query must not read as fast.
    def pass(): Seq[(String, Either[String, Double])] = {
      val times = picked.map { name =>
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          name -> Right((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            name -> Left("err")
        }
      }
      // r21 (r20 verdict #3): release the dedup verify caches (`rescan`'s
      // persisted candidate pairs) AFTER the pass, outside any timed
      // region, so (a) every pass's dedup keys compute from the parquet
      // inputs rather than an earlier pass's persisted pairs — passes are
      // independent samples — and (b) the persist registry never crosses
      // its cap mid-run (BENCH_r20's tail carried eviction WARNs and pass
      // ≥4 silently lost cache reuse, skewing medians vs mins).
      graft.text.Dedup.releaseCache()
      times
    }
    blackhole ^= spin(50000000L) // JIT-warm the probe loop itself
    val warmed = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM", "1") != "0"
    if (warmed) warmInputs(spark, sfDir)
    val calPre = calibrate(spark, sfDir, cpus)
    val runs = Seq.fill(passes)(pass())
    val calPost = calibrate(spark, sfDir, cpus)
    val results: Seq[(String, Either[String, (Double, Double)])] =
      picked.zipWithIndex.map { case (name, i) =>
        val samples = runs.map(_(i)._2)
        if (samples.exists(_.isLeft)) name -> Left("err")
        else {
          val vs = samples.collect { case Right(v) => v }.sorted
          name -> Right((vs.head, vs(vs.size / 2)))
        }
      }
    def jsonOf(pick: ((Double, Double)) => Double) = results.map {
      case (k, Right(mm)) => "\"" + k + f"""\":${pick(mm)}%.3f"""
      case (k, Left(m))   => "\"" + k + "\":\"" + m + "\""
    }.mkString("{", ",", "}")
    val errs = results.count(_._2.isLeft)
    val total = results.collect { case (_, Right((mn, _))) => mn }.sum
    val totalMed = results.collect { case (_, Right((_, md))) => md }.sum
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":${jsonOf(_._1)},"queries_median":${jsonOf(_._2)},"total_median":$totalMed%.3f,"sf":"$sfDir","passes":$passes,"errors":$errs,"warmed":$warmed,"calibration":{"pre":$calPre,"post":$calPost}}""")
    spark.stop()
  }
}
