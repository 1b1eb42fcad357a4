package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.text.Dedup

/** Verify-stage persist lifecycle + verify-switch budget (r18 verdict item
  * 3 and ADVICE): interleaved pipelines must keep their caches live instead
  * of silently unpersisting each other; the budget must honor executor
  * confs; inputs without optimizer stats must not be treated as petabyte
  * measurements. The engine picks the verify shape, so the persisting
  * `rescan` shape is reached through frames without statistics. */
class DedupLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def docs(tag: String): DataFrame = Seq(
    (1L, s"alpha beta gamma delta epsilon $tag"),
    (2L, s"alpha beta gamma delta epsilon $tag"),
    (3L, s"zeta eta theta iota kappa $tag"),
    (4L, s"zeta eta theta iota kappa lambda $tag"),
    (5L, s"completely unrelated text about spark $tag")
  ).toDF("doc_id", "text")

  /** The same rows as `df`, RDD-backed: Catalyst cannot size the frame. */
  private def noStats(df: DataFrame): DataFrame =
    spark.createDataFrame(df.rdd, df.schema)

  test("interleaved near-dup pipelines both keep their persists live") {
    Dedup.releaseCache()
    assert(Dedup.liveCacheCount == 0)
    val r1 = Dedup.nearDuplicates(noStats(docs("one")), "doc_id", "text",
      w = 2, k = 8, b = 4, threshold = 0.5)
    val r2 = Dedup.fuzzyNearDuplicates(noStats(docs("two")), "doc_id", "text",
      w = 2, k = 8, b = 4, threshold = 0.5)
    assert(Dedup.liveCacheCount == 2,
      s"expected both pipelines' persists live, got ${Dedup.liveCacheCount}")
    // consume BOTH results only now — with the old single slot the second
    // call had already unpersisted the first pipeline's frame by this point
    val p1 = r1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p2 = r2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p1.contains((2L, 1L)) || p1.contains((1L, 2L)), s"jaccard pairs: $p1")
    assert(p2.contains((1L, 2L)) || p2.contains((2L, 1L)), s"fuzzy pairs: $p2")
    assert(Dedup.liveCacheCount == 2)
    Dedup.releaseCache()
    assert(Dedup.liveCacheCount == 0)
  }

  test("persist registry stays bounded under repeated calls") {
    Dedup.releaseCache()
    (1 to 6).foreach { i =>
      Dedup.nearDuplicates(noStats(docs(s"rep$i")), "doc_id", "text",
        w = 2, k = 8, b = 4, threshold = 0.5).count()
    }
    assert(Dedup.liveCacheCount == 4,
      s"registry must cap at 4, got ${Dedup.liveCacheCount}")
    Dedup.releaseCache()
  }

  test("rescan and recompute give the same pairs on adversarial documents") {
    val base = "the quick brown fox jumps over the lazy dog"
    val other = "a completely unrelated sentence about spark clusters and shuffles"
    val texts = Seq(
      null, "", "   ", "\t\n",
      base, s"\t$base", s"$base\n", s"\n$base\t", base,
      "the quick brown\u00A0fox jumps over the lazy dog",
      "the quick brown\u3000fox jumps over the lazy dog",
      "short text", "short text", "one",
      other, other.dropRight(1), s"$other\t")
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType)))
    val rows = texts.zipWithIndex.map { case (t, i) => Row(i.toLong + 1, t) }
    // three partitions either way: an RDD-backed frame (no stats → rescan)
    // and a local frame repartitioned (tiny stats → recompute)
    val rescanIn = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val recomputeIn = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema).repartition(3)
    assert(rescanIn.rdd.getNumPartitions == 3)
    def pairs(out: DataFrame) =
      out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def both(in: DataFrame) = (
      pairs(Dedup.nearDuplicates(in, "doc_id", "text", w = 3, k = 8, b = 4,
        threshold = 0.5)),
      pairs(Dedup.fuzzyNearDuplicates(in, "doc_id", "text", w = 3, k = 8, b = 4,
        threshold = 0.5)))
    Dedup.releaseCache()
    val (nearRc, fuzzyRc) = both(recomputeIn)
    assert(Dedup.liveCacheCount == 0,
      s"recompute must not register persists, got ${Dedup.liveCacheCount}")
    val (nearRs, fuzzyRs) = both(rescanIn)
    assert(Dedup.liveCacheCount == 2,
      s"rescan must persist each call's pairs, got ${Dedup.liveCacheCount}")
    Dedup.releaseCache()
    assert(nearRc == nearRs, s"jaccard pairs: recompute=$nearRc rescan=$nearRs")
    assert(fuzzyRc == fuzzyRs, s"fuzzy pairs: recompute=$fuzzyRc rescan=$fuzzyRs")
    // not vacuous: the duplicate texts and the tab-edged copy pair up
    assert(nearRc.exists(p => p._1 == 5L && p._2 == 9L), nearRc)
    assert(nearRc.exists(p => p._1 == 5L && p._2 == 6L), nearRc)
    assert(fuzzyRc.exists(p => p._1 == 5L && p._2 == 9L), fuzzyRc)
    // the bit-parallel edit distance gives the pairs Spark's `levenshtein` gives
    val sparkLev = pairs(Reference.fuzzyNearDuplicatesSpark(recomputeIn, "doc_id", "text",
      w = 3, k = 8, b = 4, threshold = 0.5))
    assert(fuzzyRc == sparkLev, s"fuzzy pairs: graft=$fuzzyRc spark=$sparkLev")
  }

  test("local mode ignores cluster executor confs for the auto budget") {
    // spark.executor.memory is ignored by a local master at runtime (the
    // driver heap is the only storage), so a local session carrying
    // cluster defaults must not derive the verify budget from it
    // (ADVICE r19); a cluster master keeps the conf-derived budget.
    assert(Dedup.autoBudget("local[4]", Some("1k"), None) ==
      Runtime.getRuntime.maxMemory() / 4)
    assert(Dedup.autoBudget("spark://host:7077", Some("4g"), Some(0.5)) ==
      4L * 1024 * 1024 * 1024 / 2 / 4)
    assert(Dedup.autoBudget("yarn", None, None) ==
      Runtime.getRuntime.maxMemory() / 4)
  }

  test("auto budget honors executor confs when set") {
    assert(Dedup.budgetFromConfs(None, None).isEmpty)
    assert(Dedup.budgetFromConfs(Some("4g"), Some(0.5))
      .contains(4L * 1024 * 1024 * 1024 / 2 / 4))
    // default memory fraction 0.6
    assert(Dedup.budgetFromConfs(Some("1g"), None)
      .contains((1024L * 1024 * 1024 * 0.6 / 4).toLong))
  }

  test("auto falls back to rescan (not a fake measurement) without stats") {
    val d = docs("stats")
    // RDD-backed frames report the defaultSizeInBytes sentinel
    assert(Dedup.rescan(noStats(d), "spec"))
    // a tiny local frame with real stats takes the cheap no-persist shape
    assert(!Dedup.rescan(d, "spec"))
  }
}
