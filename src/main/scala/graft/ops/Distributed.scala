package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Distributed replacements for keyless `Window.orderBy(...)` patterns.
  *
  * A window with no partition keys moves the whole frame to ONE task — fine
  * for a 60k-row test, fatal at 100 TB. These helpers get the same answers
  * with the classic two-phase shape every distributed engine uses for
  * order-dependent scans (cf. RDD.zipWithIndex):
  *
  *   1. `repartitionByRange` on the order — contiguous ranges, all tasks busy;
  *   2. evaluate the window per range-partition id (stable under AQE
  *      coalescing: only adjacent ranges merge, so ranges stay contiguous);
  *   3. combine per-partition totals — an N-row frame (N = shuffle
  *      partitions, metadata-scale) — into per-partition offsets and
  *      broadcast them back.
  *
  * Cost: the ranged frame is materialized once (`localCheckpoint`) so the
  * data pass and the totals pass read the SAME partition assignment — see
  * withScanned's note on RangePartitioner's rdd.id-derived sampling seed.
  */
object Distributed {

  /** Adds `name` = 1-based global row number along `ord` without a
    * single-task window. Ties in `ord` get arbitrary but distinct numbers
    * (same contract as `row_number` over a non-total order). */
  def withRowNumber(df: DataFrame, name: String, ord: Seq[Column]): DataFrame =
    withScanned(df, ord, count(lit(1)).cast("long"), count(lit(1))) { (ranged, w) =>
      ranged.withColumn("__val", row_number().over(w).cast("long"))
    }.withColumnRenamed("__scan", name)

  /** Adds `name` = running sum of `value` along `ord` (inclusive frame)
    * without a single-task window. Null semantics match the global window:
    * the running sum is null only while NO non-null value has been seen yet
    * anywhere in the global order — a range partition whose local prefix is
    * all-null still inherits the sum carried from earlier partitions. */
  def withPrefixSum(df: DataFrame, value: Column, ord: Seq[Column],
                    name: String): DataFrame =
    withScanned(df, ord, sum(value), count(value)) { (ranged, w) =>
      ranged.withColumn("__val",
        sum(value).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    }.withColumnRenamed("__scan", name)

  /** Grouped prefix sum: `name` = running sum of `value` along `ord`
    * WITHIN each `group` tuple, without keying a window on the group —
    * the shape that survives skewed groups (a `Window.partitionBy(group)`
    * puts each whole group in one task; a 70%-English corpus would hang
    * its biggest group on one core). Same two-branch skeleton as
    * [[withPrefixSum]]: range-partition on (group, ord) so groups are
    * contiguous but SPLIT across partitions when large, per-partition
    * local running sums, then per-(partition, group) totals — a
    * metadata-scale frame (≈ partitions + groups rows, since range
    * contiguity means few groups straddle a partition) — carry each
    * group's earlier-partition totals forward via a broadcast join. */
  def withPrefixSumBy(df: DataFrame, value: Column, group: Seq[String],
                      ord: Seq[Column], name: String): DataFrame = {
    val gCols = group.map(col)
    val ranged = df.repartitionByRange(gCols ++ ord: _*)
      .withColumn("__dp", spark_partition_id())
      .localCheckpoint(eager = false)
    val w = Window.partitionBy(col("__dp") +: gCols: _*).orderBy(ord: _*)
    val localized = ranged.withColumn("__val",
      sum(value).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val totals = ranged.groupBy(col("__dp") +: gCols: _*)
      .agg(sum(value).as("__t"), count(value).as("__c"))
    val wOff = Window.partitionBy(gCols: _*).orderBy(col("__dp"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals.select(col("__dp").as("__odp") +:
      group.map(g => col(g).as(s"__og_$g")) :+
      coalesce(sum(col("__t")).over(wOff), lit(0L)).as("__off") :+
      coalesce(sum(col("__c")).over(wOff), lit(0L)).as("__pc"): _*)
    // NULL is a group (the keyed-window semantics): the carry join must
    // be null-SAFE on the group columns — a plain equality would drop
    // every null-group row from the inner join
    val joinCond = (col("__dp") === col("__odp")) +:
      group.map(g => col(g) <=> col(s"__og_$g"))
    localized.join(broadcast(offsets), joinCond.reduce(_ && _))
      .withColumn(name,
        when(col("__val").isNotNull, col("__off") + col("__val"))
          .when(col("__pc") > 0, col("__off")))
      .drop(Seq("__dp", "__odp", "__val", "__off", "__pc") ++
        group.map(g => s"__og_$g"): _*)
  }

  /** Shared skeleton: range-repartition on `ord`, compute a per-partition
    * running value `__val` with `local`, then shift each partition by the
    * sum of all earlier partitions' totals. `__scan` = the corrected global
    * running value. `total` must be the ORDER-INDEPENDENT aggregate equal to
    * the final running value of a partition (count for row numbers, sum for
    * prefix sums) — the offsets branch is then a plain partial aggregate
    * over the shared range exchange: no second sort, no second window pass
    * over the data, and no dependence on intra-partition order at all.
    * `contrib` counts the rows that CONTRIBUTE to the running value
    * (`count(value)` for null-skipping sums, `count(*)` for row numbers);
    * its cumulative prior total `__pc` decides whether a null local prefix
    * means "no data yet anywhere" (stay null) or "all local nulls but
    * earlier partitions carry a value" (emit the carried offset).
    *
    * The window branch and the offsets branch both read `ranged`, and the
    * executed plan evaluates that range exchange INDEPENDENTLY per branch
    * (stage reuse does NOT dedupe it in Spark 4.1). RangePartitioner
    * samples its bounds with an rdd.id-derived seed, so at real scale
    * (reservoir subsampling active) two independent evaluations can draw
    * DIFFERENT boundaries and assign rows to different `__dp` partitions —
    * silently corrupting row numbers / prefix sums. `localCheckpoint`
    * pins the partitioning once (as in AsOf's keyless matcher); it
    * also replaces the old double-evaluation of the input lineage with a
    * single materialized pass. */
  private def withScanned(df: DataFrame, ord: Seq[Column], total: Column,
      contrib: Column)(
      local: (DataFrame, org.apache.spark.sql.expressions.WindowSpec) => DataFrame): DataFrame = {
    // LAZY checkpoint: pins one partition assignment for both branches
    // (blocks persist on first action; block-store locking makes each
    // partition compute once even across concurrent branch reads) without
    // running a job at PLAN-BUILD time — an eager checkpoint here would
    // materialize the whole upstream on every withRowNumber/withPrefixSum/
    // hstack call before the caller takes any action.
    val ranged = df.repartitionByRange(ord: _*).withColumn("__dp", spark_partition_id())
      .localCheckpoint(eager = false)
    val w = Window.partitionBy(col("__dp")).orderBy(ord: _*)
    val localized = local(ranged, w)

    // N rows (one per range partition): partial agg map-side, then the
    // boundary-carry window is metadata-scale by construction
    val totals = ranged.groupBy(col("__dp")).agg(total.as("__t"), contrib.as("__c"))
    val wOff = Window.orderBy(col("__dp")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals.select(col("__dp"),
      coalesce(sum(col("__t")).over(wOff), lit(0L)).as("__off"),
      coalesce(sum(col("__c")).over(wOff), lit(0L)).as("__pc"))

    // __val null means the LOCAL prefix saw no contributing row yet; the
    // global answer is then the carried offset if any earlier partition
    // contributed, else null (global null-prefix). A `+` here would
    // null-propagate and lose the carry — the round-6 advisor's bug.
    localized.join(broadcast(offsets), Seq("__dp"))
      .withColumn("__scan",
        when(col("__val").isNotNull, col("__off") + col("__val"))
          .when(col("__pc") > 0, col("__off")))
      .drop("__dp", "__val", "__off", "__pc")
  }
}
