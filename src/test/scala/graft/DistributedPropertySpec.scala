package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Distributed

/** Randomized cross-check of the range-partitioned scan helpers against
  * the naive single-task global window they replace: same numbers, any
  * partition count, including negative values (prefix sums that go down),
  * nulls in the summed column, skewed key distributions, and frames
  * smaller than the partition count (empty range partitions). */
class DistributedPropertySpec extends SparkSpec {

  private val seeds = 0 until 8

  /** AQE happily coalesces a few-hundred-row range exchange down to ONE
    * partition, which would make every check here vacuous (the offset/carry
    * logic — the entire point of Distributed — never runs). Pin coalescing
    * off and prove the scan really spanned multiple range partitions. */
  private def withRealPartitions[T](body: => T): T =
    withSQLConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false")(body)

  private def rangePartitionCount(df: org.apache.spark.sql.DataFrame,
                                  ord: Seq[org.apache.spark.sql.Column]): Long =
    df.repartitionByRange(ord: _*)
      .select(spark_partition_id().as("p")).distinct().count()

  test("withRowNumber equals the single-task global row_number") {
    withRealPartitions { for (seed <- seeds) {
      val rnd = new scala.util.Random(seed)
      val n = 1 + rnd.nextInt(500)
      val parts = 1 + rnd.nextInt(7)
      // unique order keys (shuffled ints) — row numbers are then unique
      val data = rnd.shuffle((0 until n).toList).map(k => (k.toLong, rnd.nextInt(100)))
      val df = spark.createDataFrame(data).toDF("k", "v").repartition(parts)

      val got = Distributed.withRowNumber(df, "rn", Seq(col("k")))
        .select(col("k"), col("rn")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val want = df.withColumn("rn", row_number().over(Window.orderBy(col("k"))).cast("long"))
        .select(col("k"), col("rn")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == want, s"seed=$seed n=$n parts=$parts")
      if (n >= 100)
        assert(rangePartitionCount(df, Seq(col("k"))) > 1,
          s"seed=$seed n=$n: scan ran on one range partition — test is vacuous")
    } }
  }

  test("withPrefixSumBy equals the group-keyed window, any partitioning") {
    withRealPartitions { for (seed <- seeds) {
      val rnd = new scala.util.Random(seed)
      val n = 1 + rnd.nextInt(500)
      val parts = 1 + rnd.nextInt(7)
      val nGroups = 1 + rnd.nextInt(4) // skew: few groups, many rows each
      val data = rnd.shuffle((0 until n).toList).map { k =>
        val v: java.lang.Long =
          if (rnd.nextInt(10) == 0) null
          else java.lang.Long.valueOf(rnd.nextInt(200) - 100L)
        // NULL is a group too (the keyed-window semantics) — the carry
        // join must be null-safe or these rows vanish
        val g = if (rnd.nextInt(8) == 0) null else s"g${rnd.nextInt(nGroups)}"
        (k.toLong, g, v)
      }
      val df = spark.createDataFrame(data).toDF("k", "g", "v")
        .repartition(parts)

      val got = Distributed.withPrefixSumBy(df, col("v"), Seq("g"),
          Seq(col("k")), "ps")
        .select(col("k"), col("ps")).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toMap
      val w = Window.partitionBy(col("g")).orderBy(col("k"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = df.withColumn("ps", sum(col("v")).over(w))
        .select(col("k"), col("ps")).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toMap
      assert(got == want, s"seed=$seed n=$n parts=$parts groups=$nGroups")
    } }
  }

  test("withContext zip alignment equals the single-task row_number zip") {
    withRealPartitions { for (seed <- seeds) {
      val rnd = new scala.util.Random(seed)
      val n = 50 + rnd.nextInt(400)
      // context lengths bracket the frame: shorter AND longer, so both
      // padding directions (and the longer-earlier-context case the r8
      // review caught) are exercised
      val m1 = n + 1 + rnd.nextInt(100)
      val m2 = math.max(1, n - 1 - rnd.nextInt(40))
      val parts = 2 + rnd.nextInt(6)
      def frame(sz: Int, kc: String, vc: String) = spark.createDataFrame(
        rnd.shuffle((0 until sz).toList).map(k => (k.toLong, k.toLong * 10)))
        .toDF(kc, vc).repartition(parts)
      val own = frame(n, "k", "v")
      val c1 = frame(m1, "k1", "v1")
      val c2 = frame(m2, "k2", "v2")

      val got = graft.dsl.LazyFrame(own)
        .withContext(col("k"),
          (graft.dsl.LazyFrame(c1), col("k1")),
          (graft.dsl.LazyFrame(c2), col("k2")))
        .df.select(col("k"), col("v1"), col("v2")).collect()
        .map(r => (Option(r.get(0)), Option(r.get(1)), Option(r.get(2)))).toSet

      def num(df: org.apache.spark.sql.DataFrame, k: String) =
        df.withColumn("rn", row_number().over(Window.orderBy(col(k))))
      val want = num(own, "k")
        .join(num(c1, "k1"), Seq("rn"), "full")
        .join(num(c2, "k2"), Seq("rn"), "full")
        .select(col("k"), col("v1"), col("v2")).collect()
        .map(r => (Option(r.get(0)), Option(r.get(1)), Option(r.get(2)))).toSet
      assert(got == want, s"seed=$seed n=$n m1=$m1 m2=$m2 parts=$parts")
    } }
  }

  test("withPrefixSum equals the single-task global running sum (nulls, negatives)") {
    withRealPartitions { for (seed <- seeds) {
      val rnd = new scala.util.Random(seed ^ 0x5eed)
      val n = 1 + rnd.nextInt(500)
      val parts = 1 + rnd.nextInt(7)
      val data = rnd.shuffle((0 until n).toList).map { k =>
        val v: java.lang.Long =
          if (rnd.nextInt(10) == 0) null
          else java.lang.Long.valueOf(rnd.nextInt(201) - 100L)
        (k.toLong, v)
      }
      import scala.jdk.CollectionConverters._
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
      val df = spark.createDataFrame(
        data.map(t => org.apache.spark.sql.Row(t._1, t._2)).asJava, schema)
        .repartition(parts)

      val got = Distributed.withPrefixSum(df, col("v"), Seq(col("k")), "ps")
        .select(col("k"), col("ps")).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1))).toMap
      val w = Window.orderBy(col("k"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = df.withColumn("ps", sum(col("v")).over(w))
        .select(col("k"), col("ps")).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1))).toMap
      assert(got == want, s"seed=$seed n=$n parts=$parts")
      if (n >= 100)
        assert(rangePartitionCount(df, Seq(col("k"))) > 1,
          s"seed=$seed n=$n: scan ran on one range partition — test is vacuous")
    } }
  }

  test("scan branches stay bounds-consistent on unioned round-robin input (stress)") {
    // withScanned pins its ranged frame with localCheckpoint (as AsOf's
    // keyless matcher does — RangePartitioner's rdd.id-derived seed means
    // two independent evaluations of one range exchange can draw different
    // bounds). This stress keeps driving the most adversarial deterministic
    // shape we know — a union of two round-robin-repartitioned frames with
    // nulls — repeatedly, against the single-task window oracle, as a
    // regression guard on that pinning.
    withRealPartitions {
      import scala.jdk.CollectionConverters._
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
      def frame(rows: Seq[(Long, java.lang.Long)], parts: Int) =
        spark.createDataFrame(
          rows.map(t => org.apache.spark.sql.Row(t._1, t._2)).asJava, schema)
          .repartition(parts)
      val a = frame((0 until 700).map(i => (i.toLong * 3,
        if (i % 10 == 0) null else java.lang.Long.valueOf(i % 7L))), 5)
      val b = frame((0 until 300).map(i => (i.toLong * 3 + 1,
        java.lang.Long.valueOf(-(i % 5L)))), 3)
      val df = a.unionByName(b)
      val w = Window.orderBy(col("k"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = df.withColumn("ps", sum(col("v")).over(w))
        .select(col("k"), col("ps")).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1))).toMap
      for (round <- 0 until 5) {
        val got = Distributed.withPrefixSum(df, col("v"), Seq(col("k")), "ps")
          .select(col("k"), col("ps")).collect()
          .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1))).toMap
        assert(got == want, s"round=$round: branch bounds diverged")
      }
    }
  }

  test("withPrefixSum carries the running sum across an all-null partition prefix") {
    withRealPartitions {
      // 12 ordered rows over 4 range partitions (3 rows each with coalescing
      // off): partition 1 is ALL null, partition 2 leads with nulls. The
      // round-6 advisor's probe: a null-propagating `__off + __val` loses the
      // carry and returns null where the global window returns 8/10/11.
      val vs: Seq[java.lang.Long] = Seq[java.lang.Long](
        null, 3L, 5L,            // p0: global prefix null,3,8
        null, null, null,        // p1: all-null — must carry 8,8,8
        null, 2L, 1L,            // p2: null lead — must carry 8,10,11
        null, 4L, null)          // p3: 11,15,15
      import scala.jdk.CollectionConverters._
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
      val df = spark.createDataFrame(
        vs.zipWithIndex.map { case (v, i) => org.apache.spark.sql.Row(i.toLong, v) }.asJava,
        schema)
      assert(rangePartitionCount(df, Seq(col("k"))) > 1, "probe needs >1 range partition")

      val got = Distributed.withPrefixSum(df, col("v"), Seq(col("k")), "ps")
        .orderBy("k").select("ps").collect()
        .map(r => if (r.isNullAt(0)) null else r.getLong(0)).toSeq
      assert(got == Seq(null, 3L, 8L, 8L, 8L, 8L, 8L, 10L, 11L, 11L, 15L, 15L))
    }
  }
}
