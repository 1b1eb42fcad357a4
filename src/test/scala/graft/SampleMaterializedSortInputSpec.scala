package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, RoundRobinPartitioning}
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, InputAdapter, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.DataType
import org.apache.spark.util.LongAccumulator

import graft.functions.Costly
import graft.plans.GlobalSortInput
import graft.sources.ParquetMeta

/** Identity on its child, marked costly, counting every evaluation in
  * `evals` (one add per row, on whichever task evaluates it). With
  * `stable = false` it declares itself nondeterministic. */
case class CountedKernel(child: Expression, evals: LongAccumulator, stable: Boolean = true)
    extends UnaryExpression with CodegenFallback with Costly {
  override lazy val deterministic: Boolean = stable && child.deterministic
  override def dataType: DataType = child.dataType
  override protected def nullSafeEval(v: Any): Any = { evals.add(1); v }
  override protected def withNewChildInternal(c: Expression): CountedKernel =
    copy(child = c)
}

/** [[GlobalSortInput]] (the suite keeps the name of the rule it replaced):
  * a global sort whose input runs as one task sorts inside that task; over
  * a costly stage of several tasks the kernel runs once per row; the rule
  * fires only where the physical plan shows it should, never stacks under
  * adaptive re-planning, and keeps every row and its order. */
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

  /** The global sorts in `plan` that run inside their input's one task
    * (whole-stage codegen puts an `InputAdapter` between the two). */
  private def sortedInTask(plan: SparkPlan): Int =
    collect(plan) {
      case s @ SortExec(_, true, CoalesceExec(1, _) | InputAdapter(CoalesceExec(1, _)), _) => s
    }.size

  private def input = spark.range(0, N, 1, 4).toDF("id")

  test("a costly kernel under a global sort runs once per row") {
    val (k, evals) = counted(col("id"))
    val (rows, plan) = run(input.select(col("id"), k.as("v")).orderBy(col("v").desc))
    assert(rows.map(_.getLong(1)).toSeq == (N - 1 to 0 by -1).map(_.toLong))
    // without the rule the sampling job evaluates every row once more: 2N
    assert(evals.value == N)
    // AQE reads the inserted stage's 2000 rows as one partition, so the
    // re-plan sorts them in one task and drops the range exchange
    assert(inserted(plan) == 1 && rangeExchanges(plan) == 0 && sortedInTask(plan) == 1, plan)
    // read as 4 partitions, the range exchange samples the inserted stage
    withSQLConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val (k4, evals4) = counted(col("id"))
      val (rows4, plan4) = run(input.select(col("id"), k4.as("v")).orderBy(col("v").desc))
      assert(rows4.toSeq == rows.toSeq)
      assert(evals4.value == N)
      assert(inserted(plan4) == 1 && rangeExchanges(plan4) == 1 && sortedInTask(plan4) == 0, plan4)
    }
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
    // AQE reads the aggregate's shuffle as one partition: the sort runs there
    assert(inserted(plan) == 0 && rangeExchanges(plan) == 0 && sortedInTask(plan) == 1, plan)
    assert(evals.value == N)
  }

  test("one inserted exchange per fired sort in the final adaptive plan") {
    val (k1, e1) = counted(col("id"))
    val (k2, e2) = counted(col("id"))
    val a = input.select(k1.as("v")).orderBy(col("v"))
    val b = input.select(k2.as("v")).orderBy(col("v").desc)
    val (rows, plan) = run(a.union(b))
    assert(rows.length == 2 * N)
    assert(inserted(plan) == 2 && rangeExchanges(plan) == 0 && sortedInTask(plan) == 2, plan)
    assert(e1.value == N && e2.value == N)
    // the rule applied again to a plan it has rewritten changes nothing
    val prepared = a.queryExecution.executedPlan
    assert(inserted(GlobalSortInput(spark)(prepared)) == inserted(prepared))
  }

  /** A parquet file of 3000 rows in a temp dir: `id`, a nullable key `k`
    * with duplicates, and a `text` column. `rowGroupBytes` splits it into
    * row groups; otherwise it is one row group and one split. */
  private def keyedFile(rowGroupBytes: Option[Long]): String = {
    val dir = Files.createTempDirectory("graft-sort-input").resolve("t").toString
    val w = spark.range(0, 3000, 1, 1).select(
        col("id"),
        when(col("id") % 7 === 0, lit(null)).otherwise(col("id") * 37 % 50).as("k"),
        concat_ws(" ", lit("w"), (col("id") % 13).cast("string"), lit("x y"),
          (col("id") % 5).cast("string")).as("text"))
      .write
    rowGroupBytes.fold(w)(w.option("parquet.block.size", _)).parquet(dir)
    dir
  }

  /** Sorts `t` (`id`, then the nullable, duplicated key `k`) on `k` in each
    * of asc/desc x nulls first/last, and checks each result against a Scala
    * sort of the same rows: whole rows with `id` as tiebreaker; on the
    * duplicate key alone, the key sequence and the row multiset. Every
    * final plan must satisfy `planOk`. */
  private def assertSortsLikeScala(t: DataFrame)(planOk: SparkPlan => Boolean): Unit = {
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
      assert(planOk(plan), plan)
      val expected = all.sortBy(r => (key(r), r.getLong(0)))(
        Ordering.Tuple2(ord, Ordering.Long))
      assert(rows.toSeq == expected, sortCol)
      // on the duplicate key alone: the same key sequence, the same rows
      val (byKey, keyPlan) = run(t.orderBy(sortCol))
      assert(planOk(keyPlan), keyPlan)
      assert(byKey.toSeq.map(key) == expected.map(key), sortCol)
      assert(byKey.toSeq.sortBy(_.getLong(0)) == all.sortBy(_.getLong(0)))
    }
  }

  test("identical rows and order on a multi-row-group file with null and duplicate keys") {
    val dir = keyedFile(Some(8192L))
    assert(ParquetMeta.rowGroups(spark, dir).count() > 1)
    withSQLConf("spark.sql.files.maxPartitionBytes" -> "8192") {
      val t = spark.read.parquet(dir).select(col("id"), col("k"),
        size(graft.functions.tokens(col("text"))).as("n"))
      assert(t.rdd.getNumPartitions > 1)
      assertSortsLikeScala(t)(inserted(_) == 1)
    }
  }

  test("rows and order match a Scala sort on a one-split file, sorted in the scan's task") {
    val t = spark.read.parquet(keyedFile(None)).select(col("id"), col("k"))
    assert(t.rdd.getNumPartitions == 1)
    assertSortsLikeScala(t)(p => rangeExchanges(p) == 0 && sortedInTask(p) == 1)
  }

  test("rows and order match a Scala sort on a multi-split file, range-partitioned") {
    val dir = keyedFile(Some(8192L))
    assert(ParquetMeta.rowGroups(spark, dir).count() > 1)
    withSQLConf("spark.sql.files.maxPartitionBytes" -> "8192") {
      val t = spark.read.parquet(dir).select(col("id"), col("k"))
      assert(t.rdd.getNumPartitions > 1)
      assertSortsLikeScala(t)(p => rangeExchanges(p) == 1 && sortedInTask(p) == 0)
    }
  }

  test("a scan's split count equals its input RDD's partition count") {
    def same(df: DataFrame): Int = {
      val scan = df.queryExecution.sparkPlan.collectFirst { case s: FileSourceScanExec => s }.get
      val n = GlobalSortInput.splits(scan)
      assert(n == scan.inputRDD.getNumPartitions, df.queryExecution.sparkPlan)
      n
    }
    val parted = Files.createTempDirectory("graft-sort-input").resolve("p").toString
    spark.range(0, 3000, 1, 3).select(col("id"), (col("id") % 4).as("p"))
      .write.partitionBy("p").parquet(parted)
    assert(same(spark.read.parquet(keyedFile(None))) == 1)
    same(spark.read.parquet(parted))
    withSQLConf("spark.sql.files.maxPartitionBytes" -> "8192") {
      assert(same(spark.read.parquet(keyedFile(Some(8192L)))) > 1)
      assert(same(spark.read.parquet(parted)) > 1)
      assert(same(spark.read.parquet(parted).where(col("p") === 1)) > 1)
    }
  }

  test("a union of one-split scans runs as several tasks and keeps its range exchange") {
    val t = spark.read.parquet(keyedFile(None)).select(col("id"), col("k"))
    val (rows, plan) = run(t.union(t).orderBy(col("k"), col("id")))
    assert(rows.length == 6000)
    assert(rangeExchanges(plan) == 1 && sortedInTask(plan) == 0, plan)
  }

  test("repartitionByRange over a one-split input keeps its 4-partition exchange") {
    val t = spark.read.parquet(keyedFile(None)).select(col("id"), col("k"))
    val ranged = t.repartitionByRange(4, col("id"))
    val (rows, plan) = run(ranged)
    assert(rows.length == 3000)
    assert(collect(plan) {
      case e @ ShuffleExchangeExec(r: RangePartitioning, _, _, _) if r.numPartitions == 4 => e
    }.size == 1, plan)
    assert(ranged.rdd.getNumPartitions == 4)
  }

  test("a sort over a broadcast whose shuffle has not run yet keeps every row") {
    // row_index broadcasts an aggregate of its own input, so a re-plan sees
    // an unfinished shuffle stage under a broadcast exchange that has not run
    val (rows, _) = run(SparkEntry.queries("row_index")(spark, "/root/testdata/sf0.01"))
    assert(rows.map(_.getLong(0)).toSeq == (0L until 25L))
  }

  /** What the rule did in each key's final plan at sf0.01 (TESTDATA.md):
    * the number of global sorts that run in their input's task, and the
    * number of inserted round-robin exchanges. */
  private def outcomes(keys: Seq[String]): Map[String, (Int, Int)] =
    keys.map { key =>
      val (_, plan) = run(SparkEntry.queries(key)(spark, "/root/testdata/sf0.01"))
      key -> (sortedInTask(plan), inserted(plan))
    }.toMap

  test("the olap workload's keys run without an inserted exchange") {
    // every global sort's input is one task: a one-split scan or a shuffle
    // AQE reads as one partition; topk_global sorts under a limit
    val local = BenchWorkloads.olap.filterNot(_ == "topk_global")
    assert(outcomes(BenchWorkloads.olap) ==
      (local.map(_ -> (1, 0)) :+ ("topk_global" -> (0, 0))).toMap)
  }

  test("the curation workload's keys fire exactly where a kernel feeds the sort") {
    // at sf0.01 every sorted input runs as one task, so no kernel is
    // sampled through an inserted exchange. explode_words plans a Sort +
    // Limit(50), but its aggregate stage counts 31 rows, so AQE's re-plan
    // drops the limit and leaves a global sort
    assert(outcomes(BenchWorkloads.curation) == BenchWorkloads.curation.map(_ -> (1, 0)).toMap)
  }
}
