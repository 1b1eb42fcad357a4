package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dsl.LazyFrame
import graft.GroupByBench.{reclaim, select, shuffleCodec}

/** H2O.ai db-benchmark join suite shape (the reference's benchmark family,
  * BASELINE.md): fact table x (N rows) joined against small (N/1e6),
  * medium (N/1e3) and big (N) dimension tables on int and string keys —
  * j1/j2/j4 exercise the library's automatic dim broadcast, j5 is the
  * genuine N:N shuffle join.
  *
  * r15: joins go through `LazyFrame.join` with NO session threshold pin —
  * the engine's size-driven broadcast (graft.plans.BroadcastBySize, cap
  * 256 MB on this rig's heap) must reproduce the fast column on its own.
  * The fallback experiment sets Spark's own threshold to its 10 MB
  * default explicitly, which turns that rule off, e.g. as
  * `-Dspark.sql.autoBroadcastJoinThreshold=10m` in the JVM options. Also r15, per
  * the H2O data spec: id5 is the STRING FORM of id2 (as id4/id5/id6
  * mirror id1/id2/id3 in the reference datagen), so the single medium
  * table serves j2/j3/j4 with unique keys on both columns and j4's match
  * rate equals j2's.
  *
  * Usage: runMain graft.JoinBench [N] [query...]  (default 1e7, all five).
  * At N=1e9 set SPARK_GRAFT_SHUFFLE_CODEC=zstd — j5's two-sided ~1.6e9-row
  * shuffle is scratch-disk-bound on one host and zstd halves the on-disk
  * bytes (the same lesson as tools/h2o_big.sh); between-query GC nudges
  * let the ContextCleaner drop finished shuffle files before the next
  * query stacks its own on top; tables cache MEMORY_ONLY so the default
  * MEMORY_AND_DISK overflow cannot silently eat the scratch disk the
  * shuffle needs (measured: j5 warm at 1e9 with MEMORY_AND_DISK dies
  * SPILL_OUT_OF_MEMORY/no-space); and at 1e9 run j5 in its OWN JVM.
  */
object JoinBench {

  /** n rows over the key domains of a FACT table with `base` rows: id1
    * spans base/1e6 values, id2 base/1e3, id3 base; id5 is the string form
    * of id2 (H2O datagen: the string ids mirror the int ids). The dims must
    * pass the fact's `base` explicitly — r14 fix: dims previously derived
    * key domains from their OWN row count, which collapsed small's id1 to
    * the single value 1 (j1 degenerated to a one-hot-key fan-out) and
    * shrank medium's id2/id5 domain 1000× (j2/j4 probes missed 99.9% of
    * x). The shape asserts in [[assertDimShape]] now fire on exactly that
    * defect class. */
  private def keyed(spark: SparkSession, n: Long, salt: Int,
                    base: Long = -1L): DataFrame = {
    val b = if (base > 0) base else n
    val id2 = pmod(xxhash64(col("id"), lit(salt + 1)), lit(b / 1000L max 1L)) + 1
    spark.range(n).select(
      (pmod(xxhash64(col("id"), lit(salt)), lit(b / 1000000L max 1L)) + 1).as("id1"),
      id2.as("id2"),
      (pmod(xxhash64(col("id"), lit(salt + 2)), lit(b)) + 1).as("id3"),
      concat(lit("id"), id2.cast("string")).as("id5"),
      round(pmod(xxhash64(col("id"), lit(salt + 4)), lit(1000000)) / 10000.0, 6).as("v"))
  }

  /** Standing shape assert (r14 verdict "What's wrong" item 1: every bench
    * generator gets a cardinality/domain assert). A hash-uniform generator
    * of `nGen` draws over a `domain`-value key space covers
    * domain·(1−exp(−nGen/domain)) distinct keys in expectation — for the
    * H2O dims (nGen = domain) that is ~63.2% — and since the fact's keys
    * are uniform over the SAME domain, that coverage IS the expected join
    * match rate. Asserts: (a) the deduped dim's row count sits within ±15%
    * of expected coverage, (b) the key's max spans the domain (≥ domain/2)
    * — the r3 defect (domain derived from dim row count) collapses both. */
  private[graft] def assertDimShape(name: String, dimRows: Long, keyMax: Long,
                                    nGen: Long, domain: Long): Unit = {
    val expected = domain.toDouble * (1.0 - math.exp(-nGen.toDouble / domain))
    // Band: ±15% of expectation PLUS a 4σ sampling-noise allowance — the
    // coverage count is a sum of near-independent Bernoullis with variance
    // ≤ expectation, so at small nGen (expected coverage of a few hundred
    // keys) honest hash-uniform draws routinely land outside a bare ±15%
    // (ADVICE r16 low item: over-tight at small nGen). The 4σ term is
    // negligible at the H2O sizes (√1e6 vs 1.5e5) and the r3 defect class
    // misses by ORDERS of magnitude, so the assert's teeth are unchanged.
    val slack = expected * 0.15 + 4.0 * math.sqrt(expected)
    require(dimRows >= expected - slack && dimRows <= expected + slack,
      f"$name shape assert: $dimRows%d distinct keys vs expected " +
        f"$expected%.0f ± $slack%.0f (domain=$domain%d, nGen=$nGen%d) — " +
        "generator defect?")
    require(keyMax >= domain / 2,
      s"$name shape assert: key max $keyMax does not span domain $domain " +
        "— dim is deriving its key domain from its own row count (r3 defect)")
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toDouble.toLong else 10000000L
    val spark = GraftSession.build(GraftSession.cpus(32), shuffleCodec)

    val only = args.drop(1).toSeq
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_ONLY

    // every table is lazy so a scoped run (e.g. j5 in its own JVM at 1e9)
    // never generates, dedups, or caches a table no selected query reads;
    // forcing happens at query construction, outside the timed window
    lazy val x = { val t = keyed(spark, n, 10).persist(mem); t.count(); t }
    lazy val small = {
      val nGen = n / 1000000L max 10L
      val t = keyed(spark, nGen, 20, base = n)
        .select(col("id1"), col("v").as("v2"))
        .dropDuplicates("id1").persist(mem)
      val s = t.agg(count(lit(1)), max(col("id1"))).collect()(0)
      assertDimShape("small", s.getLong(0), s.getLong(1), nGen, n / 1000000L max 1L)
      t
    }
    lazy val medium = {
      // ONE medium table serves j2/j3 (int key id2) and j4 (string key
      // id5): id5 is bijective with id2, so the id2-dedup leaves both
      // columns unique — the reference H2O layout
      val nGen = n / 1000L max 100L
      val t = keyed(spark, nGen, 30, base = n)
        .select(col("id2"), col("id5"), col("v").as("v2"))
        .dropDuplicates("id2").persist(mem)
      val s = t.agg(count(lit(1)), max(col("id2")),
        count_distinct(col("id5"))).collect()(0)
      assertDimShape("medium", s.getLong(0), s.getLong(1), nGen, n / 1000L max 1L)
      require(s.getLong(2) == s.getLong(0),
        s"medium shape assert: id5 not unique (${s.getLong(2)} distinct of " +
          s"${s.getLong(0)} rows) — id5 must be the string form of id2")
      t
    }
    lazy val big = {
      val b = keyed(spark, n, 40, base = n)
        .select(col("id3"), col("v").as("v2")).dropDuplicates("id3").persist(mem)
      val s = b.agg(count(lit(1)), max(col("id3"))).collect()(0)
      assertDimShape("big", s.getLong(0), s.getLong(1), n, n)
      b
    }

    def j(dim: => DataFrame, on: String, how: String = "inner"): DataFrame =
      LazyFrame(x).join(LazyFrame(dim), Seq(on), how).df

    val queries: Seq[(String, () => DataFrame)] = Seq(
      "j1_small_inner_id1" -> (() => j(small, "id1")),
      "j2_medium_inner_id2" -> (() => j(medium.select("id2", "v2"), "id2")),
      "j3_medium_left_id2" -> (() => j(medium.select("id2", "v2"), "id2", "left")),
      "j4_medium_inner_id5" -> (() => j(medium.select("id5", "v2"), "id5")),
      "j5_big_inner_id3" -> (() => j(big, "id3")))
    val selected = select(queries, only)
      .map { case (name, mk) => name -> mk() }

    selected.foreach { q =>
      q._2.write.format("noop").mode("overwrite").save(); reclaim()
    } // warm
    val results = selected.map { case (name, q) =>
      val t0 = System.nanoTime()
      q.write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      reclaim()
      name -> s
    }
    val qs = results.map { case (q, s) => "\"" + q + f"""\":$s%.3f""" }
      .mkString("{", ",", "}")
    // a scoped run's sum is NOT the suite total — name the metric so
    // downstream round-comparison scripts can't record a single query's
    // time as a full-suite number (r14 advice)
    val metric = if (only.nonEmpty) "join_subset" else "join_total"
    println(f"""{"metric":"$metric%s","value":${results.map(_._2).sum}%.3f,"unit":"sec","queries":$qs,"n":$n}""")
    spark.stop()
  }
}
