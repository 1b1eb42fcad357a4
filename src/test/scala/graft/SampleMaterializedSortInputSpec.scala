package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, RoundRobinPartitioning}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.DataType
import org.apache.spark.util.LongAccumulator

import graft.functions.Costly
import graft.plans.SampleMaterializedSortInput
import graft.sources.ParquetMeta

/** Identity on its child, marked costly, counting every evaluation in
  * `evals` (one add per row, on whichever task evaluates it). */
case class CountedKernel(child: Expression, evals: LongAccumulator)
    extends UnaryExpression with CodegenFallback with Costly {
  override def dataType: DataType = child.dataType
  override protected def nullSafeEval(v: Any): Any = { evals.add(1); v }
  override protected def withNewChildInternal(c: Expression): CountedKernel =
    copy(child = c)
}

/** [[SampleMaterializedSortInput]]: a global sort over a costly stage runs
  * the kernel once per row, fires only where the physical plan shows a
  * re-run, never stacks under adaptive re-planning, and keeps every row
  * and its order. */
class SampleMaterializedSortInputSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val N = 2000

  private def counted(c: Column): (Column, LongAccumulator) = {
    val acc = spark.sparkContext.longAccumulator("kernel evals")
    (Bridge.column(CountedKernel(Bridge.expression(c), acc)), acc)
  }

  /** Run `df` and return its final adaptive plan. */
  private def run(df: DataFrame): (Array[Row], SparkPlan) = {
    val rows = df.collect()
    (rows, df.queryExecution.executedPlan)
  }

  /** The exchanges in `plan` the rule inserted. Spark itself never plans a
    * round-robin exchange to meet a required distribution, so the pair
    * (round-robin, `ENSURE_REQUIREMENTS`) is the rule's alone. */
  private def inserted(plan: SparkPlan): Int =
    collect(plan) {
      case e @ ShuffleExchangeExec(_: RoundRobinPartitioning, _, ENSURE_REQUIREMENTS, _) => e
    }.size

  private def rangeExchanges(plan: SparkPlan): Int =
    collect(plan) { case e @ ShuffleExchangeExec(_: RangePartitioning, _, _, _) => e }.size

  private def input = spark.range(0, N, 1, 4).toDF("id")

  test("a costly kernel under a global sort runs once per row") {
    val (k, evals) = counted(col("id"))
    val (rows, plan) = run(input.select(col("id"), k.as("v")).orderBy(col("v").desc))
    assert(rows.map(_.getLong(1)).toSeq == (N - 1 to 0 by -1).map(_.toLong))
    // without the rule the sampling job evaluates every row once more: 2N
    assert(evals.value == N)
    assert(inserted(plan) == 1 && rangeExchanges(plan) == 1, plan)
  }

  test("no inserted exchange under Sort + Limit") {
    val (k, _) = counted(col("id"))
    val (rows, plan) = run(input.select(k.as("v")).orderBy(col("v").desc).limit(5))
    assert(rows.map(_.getLong(0)).toSeq == (N - 1 to N - 5 by -1).map(_.toLong))
    assert(inserted(plan) == 0 && rangeExchanges(plan) == 0, plan)
  }

  test("no inserted exchange on a single-partition child or a single range partition") {
    val (k, evals) = counted(col("id"))
    val (_, plan) = run(input.coalesce(1).select(k.as("v")).orderBy(col("v")))
    assert(inserted(plan) == 0 && rangeExchanges(plan) == 0, plan)
    assert(evals.value == N)
    withSQLConf("spark.sql.shuffle.partitions" -> "1") {
      val (k1, evals1) = counted(col("id"))
      val (_, plan1) = run(input.select(k1.as("v")).orderBy(col("v")))
      // one range partition takes no sample, so the kernel already runs once
      assert(inserted(plan1) == 0 && rangeExchanges(plan1) == 1, plan1)
      assert(evals1.value == N)
    }
  }

  test("no inserted exchange without a marked expression") {
    val (_, plan) = run(input.select((col("id") * 7 % 13).as("v"), col("id"))
      .orderBy(col("v"), col("id")))
    assert(inserted(plan) == 0 && rangeExchanges(plan) == 1, plan)
  }

  test("no inserted exchange when the marked expression is behind an exchange") {
    val (k, evals) = counted(col("id"))
    val (rows, plan) = run(input.select((k % 10).as("g")).groupBy("g").count().orderBy("g"))
    assert(rows.map(_.getLong(1)).toSeq == Seq.fill(10)(N / 10L))
    assert(inserted(plan) == 0 && rangeExchanges(plan) == 1, plan)
    assert(evals.value == N)
  }

  test("one inserted exchange per fired sort in the final adaptive plan") {
    val (k1, e1) = counted(col("id"))
    val (k2, e2) = counted(col("id"))
    val a = input.select(k1.as("v")).orderBy(col("v"))
    val b = input.select(k2.as("v")).orderBy(col("v").desc)
    val (rows, plan) = run(a.union(b))
    assert(rows.length == 2 * N)
    assert(rangeExchanges(plan) == 2 && inserted(plan) == 2, plan)
    assert(e1.value == N && e2.value == N)
    // the rule applied again to a plan it has rewritten changes nothing
    val prepared = a.queryExecution.executedPlan
    assert(inserted(SampleMaterializedSortInput(prepared)) == inserted(prepared))
  }

  test("identical rows and order on a multi-row-group file with null and duplicate keys") {
    val dir = Files.createTempDirectory("graft-sort-sample").resolve("t").toString
    spark.range(0, 3000, 1, 1).select(
        col("id"),
        when(col("id") % 7 === 0, lit(null)).otherwise(col("id") * 37 % 50).as("k"),
        concat_ws(" ", lit("w"), (col("id") % 13).cast("string"), lit("x y"),
          (col("id") % 5).cast("string")).as("text"))
      .write.option("parquet.block.size", 8192L).parquet(dir)
    assert(ParquetMeta.rowGroups(spark, dir).count() > 1)

    withSQLConf("spark.sql.files.maxPartitionBytes" -> "8192") {
      val t = spark.read.parquet(dir).select(col("id"), col("k"),
        size(graft.functions.tokens(col("text"))).as("n"))
      assert(t.rdd.getNumPartitions > 1)
      val all = t.collect().toSeq
      assert(all.count(_.isNullAt(1)) > 0 && all.map(_.get(1)).distinct.size < all.size)

      def key(r: Row): Option[Long] = if (r.isNullAt(1)) None else Some(r.getLong(1))
      val orders = Seq(
        (col("k").asc_nulls_first, Ordering.Option[Long]),
        (col("k").asc_nulls_last,
          Ordering.by[Option[Long], (Boolean, Long)](o => (o.isEmpty, o.getOrElse(0L)))),
        (col("k").desc_nulls_first,
          Ordering.by[Option[Long], (Boolean, Long)](o => (o.nonEmpty, -o.getOrElse(0L)))),
        (col("k").desc_nulls_last, Ordering.Option[Long].reverse))
      for ((sortCol, ord) <- orders) {
        // with `id` as tiebreaker the order is total: compare whole rows
        val (rows, plan) = run(t.orderBy(sortCol, col("id")))
        assert(inserted(plan) == 1, plan)
        val expected = all.sortBy(r => (key(r), r.getLong(0)))(
          Ordering.Tuple2(ord, Ordering.Long))
        assert(rows.toSeq == expected, sortCol)
        // on the duplicate key alone: the same key sequence, the same rows
        val (byKey, _) = run(t.orderBy(sortCol))
        assert(byKey.toSeq.map(key) == expected.map(key), sortCol)
        assert(byKey.toSeq.sortBy(_.getLong(0)) == all.sortBy(_.getLong(0)))
      }
    }
  }

  /** The keys among `keys` whose final plan at sf0.01 (TESTDATA.md) holds an
    * inserted exchange. */
  private def firedKeys(keys: Seq[String]): Set[String] =
    keys.filter { key =>
      val (_, plan) = run(SparkEntry.queries(key)(spark, "/root/testdata/sf0.01"))
      inserted(plan) > 0
    }.toSet

  test("the olap workload's keys run without an inserted exchange") {
    assert(firedKeys(BenchWorkloads.olap).isEmpty)
  }

  test("the curation workload's keys fire exactly where a kernel feeds the sort") {
    // dedup_near_pairs hashes below its join's exchanges; sim_bruteforce_topk
    // scores below a window's; explode_words sorts under a limit
    assert(firedKeys(BenchWorkloads.curation) == Set(
      "text_quality", "text_langid", "text_fingerprint", "text_fuzzy_pairs",
      "text_token_stats", "dedup_minhash_sig", "dedup_simhash", "sim_lsh_pairs"))
  }
}
