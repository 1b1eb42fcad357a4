package graft
// (bucketed-join shuffle-elimination evidence lives at the bottom of this suite)

import org.apache.spark.sql.functions._

/** Physical-plan shape assertions — the 100 TB story is in the plan, not the
  * row counts: filters must reach the parquet scan, projections must prune
  * the read schema, small dimensions must broadcast, and orderBy+limit must
  * plan as TakeOrderedAndProject (no global sort).
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter pushes down to the parquet scan") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") > 40)
      .select(col("l_orderkey"), col("l_quantity"))
    val p = planOf(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)]"),
      s"no pushed filter in:\n$p")
  }

  test("projection prunes the parquet read schema") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
    val p = planOf(df)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"scan reads more than the 2 projected columns:\n$p")
  }

  test("star join broadcasts the small dimension") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val j = li.join(broadcast(orders), col("l_orderkey") === col("o_orderkey"))
    assert(planOf(j).contains("BroadcastHashJoin"), "expected a broadcast hash join")
  }

  test("orderBy+limit plans as TakeOrderedAndProject (no global sort)") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .orderBy(col("l_extendedprice").desc).limit(5)
    assert(planOf(df).contains("TakeOrderedAndProject"),
      "top-k should not be a full sort")
  }

  test("hive-partitioned scan prunes partitions, not rows") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-pp").toString
    spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(tmp)
    val df = spark.read.parquet(tmp).filter(col("l_returnflag") === "R")
    val p = planOf(df)
    assert(p.contains("PartitionFilters: [isnotnull(l_returnflag"),
      s"partition filter not applied at scan:\n$p")
    // the data filter must NOT appear as a post-scan Filter node
    assert(!p.contains("+- Filter"), s"row-level filter survived pruning:\n$p")
  }

  test("groupBy plans a partial (map-side) aggregate before the shuffle") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")))
    val p = planOf(df)
    // two HashAggregate nodes around one Exchange = partial + final
    assert("HashAggregate".r.findAllIn(p).size >= 2 && p.contains("Exchange"),
      s"expected partial+final aggregate around the shuffle:\n$p")
  }

  test("join-then-aggregate shape still plans a post-join aggregate (ADVICE r21)") {
    // join_left_agg was rewritten to pre-aggregate-then-join in r21, so the
    // bench key no longer exercises the join-then-agg plan shape; this pins
    // the engine's handling of the ORIGINAL formulation (aggregate above
    // the join, partial+final pair) so that coverage doesn't silently lapse.
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val joined = cust.join(orders, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("revenue"))
    val p = planOf(joined)
    val joinAt = p.linesIterator.indexWhere(_.contains("Join"))
    val aggAt = p.linesIterator.indexWhere(_.contains("HashAggregate"))
    assert(joinAt >= 0 && aggAt >= 0 && aggAt < joinAt,
      s"expected aggregate ABOVE the join in the join-then-agg shape:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected a partial+final aggregate pair:\n$p")
  }

  test("similarity pipeline stays inside whole-stage codegen AND compiles") {
    // Guards the r3 regression: VectorExpr codegen failed Janino, plan fell
    // back to interpreted per task (8× slower) while plan-string tests stayed
    // green. fallback=false turns a compile failure into a hard error.
    withSQLConf("spark.sql.codegen.fallback" -> "false") {
      val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      val queries = emb.limit(3).select(col("vec_id").as("qid"), col("embedding"))
      val top = graft.ml.Similarity.bruteForceTopK(
        emb, queries, "vec_id", "embedding", "qid", 5)
      assert(top.collect().length == 15) // would throw on codegen compile failure
      // AQE: codegen stage markers only appear once the final plan is chosen
      val p = planOf(top)
      assert(p.linesIterator.exists(l => l.contains("graft_cosine") && l.contains("*(")),
        s"graft_cosine not in a codegen stage:\n$p")
    }
  }

  test("whole-stage codegen covers the scan→filter→project pipeline") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_discount") > 0.05)
      .select((col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    // executedPlan.toString marks codegen stages with a "*(n)" prefix
    assert(planOf(df).contains("*(1) Project"), "hot path fell out of codegen")
  }

  test("AQE splits a skewed join partition at runtime (the hot-key safety net)") {
    withSQLConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16384",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8192",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // one hot key carrying ~90% of the left side
      val skewed = spark.range(200000).selectExpr(
        "CASE WHEN id % 10 < 9 THEN 0L ELSE id END AS k", "id AS v")
      val dim = spark.range(1000).selectExpr("id AS k", "id * 2 AS w")
      val j = skewed.join(dim, "k")
      // execute THIS plan (count() would execute a different QueryExecution)
      j.queryExecution.toRdd.foreach(_ => ())
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"), s"AQE final plan missing:\n$p")
      assert(p.contains("skew=true"), s"skew-split did not trigger:\n$p")
    }
  }

  test("bucketed tables join with ZERO shuffle (the co-located fact-fact path)") {
    // the 100 TB recipe the prompt names: bucket both fact tables on the
    // join key at write time; repeated joins then skip the exchange entirely
    spark.sql("DROP TABLE IF EXISTS graft_bkt_orders")
    spark.sql("DROP TABLE IF EXISTS graft_bkt_lineitem")
    // a fresh JVM's in-memory catalog forgets the tables but the warehouse
    // directories persist — clear the locations or CTAS refuses to create
    Seq("graft_bkt_orders", "graft_bkt_lineitem").foreach { t =>
      val p = new org.apache.hadoop.fs.Path(s"/tmp/graft_test/warehouse/$t")
      p.getFileSystem(new org.apache.hadoop.conf.Configuration()).delete(p, true)
    }
    spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_totalprice")
      .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("graft_bkt_orders")
    spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
      .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("graft_bkt_lineitem")
    val joined = withSQLConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "true") {
      val j = spark.table("graft_bkt_lineitem").join(
        spark.table("graft_bkt_orders"),
        col("l_orderkey") === col("o_orderkey"))
      val p = planOf(j)
      assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$p")
      j.count()
    }
    assert(joined > 0)
  }

  test("SQL subqueries compile to joins: EXISTS->semi, NOT EXISTS->anti, scalar->aggregated outer") {
    val q = (name: String) => {
      val p = graft.SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") || name == "sql_scalar_corr",
        s"$name fell back to BNLJ:\n$p")
      p
    }
    assert(q("sql_exists_corr").contains("LeftSemi"),
      "correlated EXISTS should plan as a left semi join")
    assert(q("sql_not_exists").contains("LeftAnti"),
      "correlated NOT EXISTS should plan as a left anti join")
    // the correlated scalar aggregate becomes a join against the grouped
    // subquery — never a per-row re-evaluation
    val sc = q("sql_scalar_corr")
    assert(sc.contains("HashAggregate") &&
      (sc.contains("SortMergeJoin") || sc.contains("BroadcastHashJoin") ||
        sc.contains("ShuffledHashJoin")),
      s"scalar subquery should join an aggregated side:\n$sc")
  }

  test("repeatedSpans plans as the 2-exchange exact-distinct ladder + TakeOrderedAndProject") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = graft.text.Dedup.repeatedSpans(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    // count(DISTINCT doc) is the canonical two-exchange ladder: partial agg
    // on (digest, id), then final agg on digest — both keyed by the 16-byte
    // md5, never by span text
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 2, s"expected the 2-exchange distinct ladder, got $shuffles:\n$plan")
    assert("hashpartitioning\\(__h".r.findAllIn(plan).size +
      "hashpartitioning\\(_groupingexpression".r.findAllIn(plan).size == 2,
      s"an exchange is keyed by something other than the span digest:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k cut should avoid a global sort:\n$plan")
  }

  test("sentence dedup shuffles on digests/ids only, never sentence text") {
    val plan = graft.SparkEntry.queries("text_dedup_sentences")(spark, sf)
      .queryExecution.executedPlan.toString
    // every hash exchange must key on an md5 digest, the doc id, or a
    // grouping alias of one of those — a text-keyed exchange would ship
    // full sentences through the shuffle
    val keys = "Exchange hashpartitioning\\(([a-zA-Z_#0-9]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(keys.nonEmpty, s"no hash exchanges found:\n$plan")
    keys.foreach { k =>
      assert(k.startsWith("h#") || k.startsWith("doc_id#") ||
        k.startsWith("md5(") || k.startsWith("_groupingexpression"),
        s"exchange keyed by $k (text-sized key?):\n$plan")
    }
  }

  test("text-LSH pair-gen streams a bucket self-join; capped pre-shuffle via anti-join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // at sf0.001 the optimizer would broadcast the tiny side; pin the
    // shuffle-join shape real corpus sizes force
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val uncapped = graft.text.Dedup.minhashCandidates(
        docs, "doc_id", "text", w = 3, k = 16, b = 4)
      // AQE applies exchange reuse as stages materialize — execute first
      uncapped.queryExecution.toRdd.foreach(_ => ())
      val p = planOf(uncapped).split("== Initial Plan ==")(0)
      // no single-row bucket materialization anywhere in the pipeline —
      // pairs come from a join whose match buffers spill, not from an
      // exploded collect_set array
      assert(!p.contains("collect_set"),
        s"bucket ids materialized into one row:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a bucket-keyed self-join:\n$p")
      // both sides are projections of ONE repartition — the exchange is reused
      assert(p.contains("ReusedExchange"),
        s"self-join should reuse the single bucket exchange:\n$p")
    }
    // the degenerate-bucket valve: over-cap keys broadcast (the drop list
    // is tiny by construction), rows removed by an anti-join over the ONE
    // repartitioned frame — counts, drop list, and both join sides all
    // read the same exchange, so the signature pipeline computes once
    // (r12 ADVICE: counting over the pre-shuffle frame planned a second
    // independent subtree) — broadcast left intentionally enabled here
    val capped = graft.text.Dedup.minhashCandidates(
      docs, "doc_id", "text", w = 3, k = 16, b = 4, maxBucket = 100)
    val pc = planOf(capped)
    assert(pc.contains("LeftAnti"),
      s"cap should be an anti-join on the over-cap keys:\n$pc")
  }

  test("near-dup verify caches the PAIRS and semi-filters the corpus (r18 shape)") {
    // the r12 shape persisted the corpus-sized (id, shingles) projection
    // (28 GB + 10 GB spill at sf100) and shuffled it through both verify
    // joins; the r18 shape persists the candidate pairs and re-shingles
    // only semi-filtered candidate docs (SCALE.md: 67.1 -> 23.1 s at sf100).
    // An RDD-backed frame has no optimizer stats, so the engine takes the
    // corpus-scale shape; the tiny fixture itself would verify by recompute
    val parquet = spark.read.parquet(s"$sf/documents.parquet")
    val docs = spark.createDataFrame(parquet.rdd, parquet.schema)
    graft.text.Dedup.releaseCache()
    val out = graft.text.Dedup.nearDuplicates(
      docs, "doc_id", "text", w = 3, k = 4, b = 2, threshold = 0.5)
    val p = planOf(out)
    // the only cache read is the pair frame: (id_a, id_b) columns, never
    // a shingle-array column
    assert(p.contains("InMemoryTableScan"),
      s"expected the persisted candidate pairs in the verify plan:\n$p")
    assert(!p.split("InMemoryTableScan").drop(1).exists(_.take(120).contains("__sh")),
      s"a cache read carries shingle arrays — corpus-sized persist is back:\n$p")
    // the verify side is candidate-filtered before re-shingling
    assert(p.contains("LeftSemi"),
      s"expected the candidate-id semi filter on the verify side:\n$p")
    graft.text.Dedup.releaseCache()
  }

  test("agg_count_distinct plans Expand-free: one-pass graft_ndv typed aggregate") {
    // two countDistinct in ONE groupBy would plan Catalyst's Expand — the
    // input triples before the first shuffle (19.5 s at sf100, r12 verdict
    // task 1). The r13 one-pass shape computes both exact NDVs with
    // graft_ndv (a TypedImperativeAggregate → ObjectHashAggregate operator,
    // partial + final around one exchange) in a single scan.
    val df = graft.SparkEntry.queries("agg_count_distinct")(spark, sf)
    val p = planOf(df)
    assert(!p.contains("Expand"),
      s"agg_count_distinct regressed to the Expand plan:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"expected the graft_ndv typed-aggregate operator:\n$p")
    assert(p.contains("graft_ndv"), s"expected the graft_ndv aggregate:\n$p")
  }

  test("bottomK plans as TakeOrderedAndProject, same as topK") {
    val cust = graft.dsl.LazyFrame(spark.read.parquet(s"$sf/customer.parquet"))
    val p = planOf(cust.bottomK(10, col("c_acctbal"), col("c_custkey")).df)
    assert(p.contains("TakeOrderedAndProject"), s"bottomK global-sorted:\n$p")
  }

  test("pack-shards prefix sum range-partitions; no data-row single-task window") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("n_chars"))
    val summed = graft.ops.Distributed.withPrefixSum(
      docs, col("n_chars"), Seq(col("doc_id")), "run_chars")
    val p = planOf(summed)
    // the ranged frame is localCheckpoint-pinned (RangePartitioner's
    // rdd.id-derived sampling seed makes independent re-evaluations draw
    // different bounds), so the downstream plan reads the materialized
    // scan — both branches share ONE partition assignment by construction
    assert(p.contains("ExistingRDD"),
      s"prefix sum should read the checkpoint-pinned ranged frame:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"no branch may re-evaluate the range exchange past the checkpoint:\n$p")
    // exactly two windows: the per-range-partition running sum (parallel)
    // and the boundary-carry pass; the latter is the ONLY single-partition
    // exchange and sits above a HashAggregate (#partitions rows, metadata
    // scale), never above the data
    assert("Window ".r.findAllIn(p).size == 2, s"unexpected windows:\n$p")
    assert("Exchange SinglePartition".r.findAllIn(p).size == 1,
      s"expected exactly the boundary-carry single-partition exchange:\n$p")
    assert(p.contains("HashAggregate(keys=[__dp"),
      s"offsets branch should be a plain per-partition aggregate:\n$p")
  }

  test("sequence packing: every window is partitioned; fan-out is a Generate") {
    val df = graft.SparkEntry.queries("text_pack_sequences")(spark, sf)
    import org.apache.spark.sql.execution.window.WindowExec
    // the terminal orderBy is a range-partitioned SortExec, not a window,
    // so it cannot mask an unpartitioned window in the packing stages
    val plan = df.queryExecution.executedPlan
    val unpartitioned = plan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(unpartitioned.isEmpty,
      s"single-task window in the packing plan:\n$plan")
    // the per-doc span fan-out is a Generate (explode), not a join
    assert(plan.toString.contains("Generate explode"),
      s"span fan-out should be an explode:\n$plan")
  }

  test("embedding LSH pairs: one shared bucket exchange, streaming join pair-gen") {
    val vecs = spark.range(100).select(col("id").as("vec_id"),
      array(col("id").cast("float"), (col("id") % 7).cast("float"), lit(1.0f))
        .as("embedding"))
    val planes = Seq(Array(0.3, -0.7, 0.2), Array(-0.5, 0.4, 0.8))
    val df = graft.ml.Similarity.embeddingNearDups(
      vecs, "vec_id", "embedding", planes, 0.8, maxBucket = 50)
    // execute THIS plan: AQE applies exchange reuse when stages materialize
    df.queryExecution.toRdd.foreach(_ => ())
    val p = df.queryExecution.executedPlan.toString
    // pair fan-out streams through an equi-join on the bucket key with
    // spillable match buffers — the previous collect_list + nested-transform
    // explode materialized O(bucket²·dim) bytes in ONE row and OOM'd the
    // sf1 full-suite sweep (20k×64-dim vectors, 8 buckets ⇒ ~2 GB rows)
    // any equi-join form streams (AQE picks broadcast at this test size;
    // at corpus scale the sides exceed the threshold and it plans SMJ)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
        || p.contains("BroadcastHashJoin"),
      s"pair generation should be a streaming bucket equi-join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"bucket join degenerated to a cross product:\n$p")
    // both sides project the SAME hash-partitioned subplan: in the FINAL
    // plan (the string also prints the initial pre-reuse plan, and
    // ReusedExchange lines quote the reused node — count neither) the
    // corpus shuffles ONCE, the other join side reuses it, and the only
    // other exchange is the ≤2^planes-row bucket-size aggregate feeding
    // the broadcast maxBucket semi-filter below the shuffle
    val finalPlan = p.split("== Initial Plan ==")(0)
    val materialized = finalPlan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("ReusedExchange"))
    assert(materialized == 2,
      s"expected the corpus exchange + the tiny bucket-size agg exchange:\n$p")
    assert(finalPlan.contains("ReusedExchange"),
      s"second join side should reuse the bucket exchange:\n$p")
    assert(finalPlan.contains("LeftSemi"),
      s"maxBucket prune should be a pre-shuffle broadcast semi-filter:\n$p")
    assert(!finalPlan.contains("Window"),
      s"maxBucket prune must not re-run a window per join side:\n$p")
  }

  test("scale stratified sampling is window-free: count agg + broadcast cutoffs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sampled = graft.ops.Sampling.sampleStratified(docs, Seq("lang"), "doc_id", 0.1)
    val p = planOf(sampled)
    // the rank form puts each stratum in ONE window task; the scale form
    // must touch the data only through a filter under a broadcast join
    assert(!p.contains("Window"), s"stratified sampling planned a window:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"per-stratum cutoffs should broadcast:\n$p")
  }

  test("mixture sampling: one range exchange, group offsets broadcast, no group-keyed window") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val cut = graft.ops.Mixing.sampleToBudgets(docs, "doc_id", "lang",
      "n_chars", Map("en" -> 10000L, "de" -> 3000L))
    val p = planOf(cut)
    // the range exchange is localCheckpoint-pinned (the withScanned
    // discipline — independent branch re-evaluations of RangePartitioner
    // draw different bounds), so the plan reads the materialized scan;
    // what must NOT appear is a hash exchange on the group key (the
    // skew-hostile group-keyed-window shape), and the per-group carries
    // must ride a broadcast.
    assert(p.contains("ExistingRDD"),
      s"mixture sampling should read the checkpoint-pinned ranged frame:\n$p")
    // the DATA window must be keyed by (__dp, group) — per-reducer load is
    // then bounded by the range-partition size, never by group size. (The
    // offsets branch may hash on the group alone: it carries only the
    // per-(partition, group) TOTALS, ≤ partitions × groups rows.)
    assert("windowspecdefinition\\(__dp#\\d+, lang#".r.findFirstIn(p).isDefined,
      s"data window should be (__dp, group)-keyed:\n$p")
    assert(!("Window .*windowspecdefinition\\(lang#\\d+, _w".r.findFirstIn(p).isDefined),
      s"a group-only window over document rows is the skew-hostile shape:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"group offsets should broadcast:\n$p")
  }

  test("quality-classifier gradient: docs never shuffle, only bucket partials") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val f = graft.text.QualityClassifier.featurize(docs, "text", 8)
      .withColumn("__y", (col("lang") === "en").cast("int").cast("double"))
    // the per-iteration gradient shape: residual → explode sparse entries
    // → groupBy(bucket). The only exchange must be keyed by the bucket id
    // and carry map-side-combined partials (≤ dim rows per partition) —
    // document text never rides a shuffle.
    val g = f.select(lit(0.5).as("__r"), col("__xs"))
      .select(col("__r"), explode(col("__xs")).as("__e"))
      .groupBy(col("__e")("b").as("b"))
      .agg(sum(col("__r") * col("__e")("v")).as("s"), count(lit(1)).as("c"))
    val p = planOf(g)
    assert(
      "Exchange hashpartitioning\\((b|_groupingexpression)#".r
        .findFirstIn(p).isDefined,
      s"gradient shuffle should be keyed by the bucket id:\n$p")
    assert("HashAggregate.*partial".r.findFirstIn(p).isDefined ||
      p.split("Exchange hashpartitioning").head.contains("HashAggregate"),
      s"expected a map-side partial aggregate below the exchange:\n$p")
    assert(!"Exchange.*text#".r.findFirstIn(p).isDefined,
      s"document text must not ride the gradient shuffle:\n$p")
  }

  test("PQ encoding is a pure projection: no exchange, no join") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"),
        x => x.cast("double")).as("e"))
    val (_, enc) = graft.ml.Quantize.productQuantize(emb, "vec_id", "e",
      m = 4, k = 2, iters = 0,
      seed = sub => sub.filter(col("vec_id") < 2).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toArray)).toSeq)
    val p = planOf(enc)
    assert(!p.contains("Exchange"), s"PQ encode should not shuffle:\n$p")
    assert(!p.contains("Join"), s"PQ encode should not join:\n$p")
  }

  // ---- size-driven automatic broadcast (r15 top task) ----------------------
  // Evidence basis: at Spark's 10 MB autoBroadcastJoinThreshold a 15-20 MB
  // dim silently degrades a 1e9-row star join to a two-sided shuffle —
  // 764.9 s vs 112.8 s broadcast (BASELINE.md). The engine rule
  // graft.plans.BroadcastBySize broadcasts such a dim from Catalyst's own
  // size estimate, with NO manual hint, on every join API; an explicit
  // Spark threshold turns it off.

  private val threshold = "spark.sql.autoBroadcastJoinThreshold"
  private val mb = 1L << 20

  /** A parquet dim of `rows` rows: a key and two incompressible xxhash64
    * payload columns, so its on-disk size grows with `rows`. */
  private def writeDim(dir: String, rows: Long): String = {
    spark.range(rows).select(col("id").as("k"),
        xxhash64(col("id")).as("p1"), xxhash64(col("id"), lit(7)).as("p2"))
      .write.mode("overwrite").parquet(dir)
    dir
  }
  // ~40 MB: over a 1 GB driver's derated cap, under the 256 MB ceiling
  private lazy val bigDim = writeDim("/tmp/graft_test/bcast_dim", 2000000)
  // 10-16 MB: over Spark's 10 MB default, under the 16 MB floor of the
  // derated cap, so the rule broadcasts it whatever the test JVM's heap
  private lazy val midDim = writeDim("/tmp/graft_test/bcast_dim_mid", 650000)

  private def onDisk(df: org.apache.spark.sql.DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  private def fact = spark.range(100000000L)
    .select(pmod(col("id"), lit(2000000L)).as("k"), col("id").as("v"))

  /** The side the rule hints on each join of `df` at `cap` bytes ("left",
    * "right" or "none"), applied to `df`'s plan as optimized with the rule
    * off (an explicit Spark threshold). `df` must not be planned yet. */
  private def hintedAt(cap: Long)(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val optimized = withSQLConf(threshold -> "-1")(df.queryExecution.optimizedPlan)
    graft.plans.BroadcastBySize(optimized, cap).collect { case j: Join =>
      if (j.hint.rightHint.isDefined) "right" else if (j.hint.leftHint.isDefined) "left" else "none"
    }
  }

  /** The four LazyFrame join APIs over `fact` and `dim`, each built fresh. */
  private def lazyJoins(dim: org.apache.spark.sql.DataFrame): Seq[(String, () => org.apache.spark.sql.DataFrame)] = {
    import graft.dsl.LazyFrame
    Seq(
      "join" -> (() => LazyFrame(fact).join(LazyFrame(dim), Seq("k")).df),
      "joinOn" -> (() => LazyFrame(fact).joinOn(LazyFrame(dim.withColumnRenamed("k", "dk")),
        col("k") === col("dk")).df),
      "semiJoin" -> (() => LazyFrame(fact).semiJoin(LazyFrame(dim), Seq("k")).df),
      "antiJoin" -> (() => LazyFrame(fact).antiJoin(LazyFrame(dim), Seq("k")).df))
  }

  test("auto-broadcast: a >10MB-but-small parquet dim broadcasts with no manual hint") {
    import graft.dsl.LazyFrame
    val dim = spark.read.parquet(bigDim)
    val dimBytes = onDisk(dim)
    assert(dimBytes > 10 * mb,
      s"fixture defect: dim is only $dimBytes bytes — must exceed Spark's 10 MB default")
    assert(dimBytes < 256 * mb, s"fixture defect: dim too big ($dimBytes)")
    // control: Spark's own 10 MB threshold, set explicitly, does NOT broadcast it
    val raw = withSQLConf(threshold -> "10m")(planOf(fact.join(dim, "k")))
    assert(!raw.contains("BroadcastHashJoin"),
      s"control broken: Spark broadcast a >10MB dim at a 10 MB threshold?\n$raw")
    // The rule at the 256 MB ceiling (pinned, not the heap-derated session
    // cap, which has its own tests below) hints the dim on every join API:
    // the four LazyFrame joins, a left join, a plain DataFrame join and SQL
    val at256 = hintedAt(256 * mb) _
    lazyJoins(dim).foreach { case (api, build) =>
      assert(at256(build()) == Seq("right"), s"LazyFrame.$api should broadcast the dim")
    }
    assert(at256(LazyFrame(fact).join(LazyFrame(dim), Seq("k"), "left").df) == Seq("right"))
    assert(at256(fact.join(dim, "k")) == Seq("right"))
    fact.createOrReplaceTempView("bcast_fact")
    dim.createOrReplaceTempView("bcast_dim")
    assert(at256(spark.sql("SELECT * FROM bcast_fact JOIN bcast_dim USING (k)")) == Seq("right"))
    // right outer builds on the left: the dim on the left is the hinted side
    assert(at256(dim.join(fact, Seq("k"), "right")) == Seq("left"))
  }

  test("auto-broadcast: cap=0 disables; full outer and similar-size sides never hint") {
    import graft.dsl.LazyFrame
    val dim = spark.read.parquet(bigDim)
    assert(hintedAt(0)(LazyFrame(fact).join(LazyFrame(dim), Seq("k")).df) == Seq("none"),
      "cap=0 must disable the hint")
    // full outer has no broadcastable build side — never hint
    assert(hintedAt(256 * mb)(LazyFrame(fact).join(LazyFrame(dim), Seq("k"), "full").df) ==
      Seq("none"), "full outer must not hint")
    // two similar-size sides: shipping one to every executor loses at
    // cluster scale (the ratio guard) — plan stays a shuffle join
    val twin = spark.read.parquet(bigDim)
      .withColumnRenamed("p1", "q1").withColumnRenamed("p2", "q2")
    assert(hintedAt(256 * mb)(LazyFrame(dim).join(LazyFrame(twin), Seq("k")).df) ==
      Seq("none"), "similar-size sides must not broadcast (ratio guard)")
  }

  test("auto-broadcast: an explicit Spark threshold (-1 or 10m) turns the rule off for LazyFrame joins") {
    val dim = spark.read.parquet(midDim)
    val dimBytes = onDisk(dim)
    assert(dimBytes > 10 * mb && dimBytes <= 16 * mb,
      s"fixture defect: dim is $dimBytes bytes — must lie in (10 MB, 16 MB]")
    lazyJoins(dim).foreach { case (api, build) =>
      // no explicit threshold: the rule broadcasts the dim (cap >= 16 MB)
      val auto = planOf(build())
      assert(auto.contains("BroadcastHashJoin"), s"LazyFrame.$api did not broadcast:\n$auto")
      val off = withSQLConf(threshold -> "-1")(planOf(build()))
      assert(!off.contains("BroadcastHashJoin"),
        s"LazyFrame.$api broadcast under an explicit -1:\n$off")
    }
    // 10m: Spark's own threshold decides. semiJoin and antiJoin read only the
    // key, which Catalyst sizes at half the dim, under 10 MB — Spark itself
    // broadcasts those, so only the two joins that keep every column count
    lazyJoins(dim).take(2).foreach { case (api, build) =>
      val off = withSQLConf(threshold -> "10m")(planOf(build()))
      assert(!off.contains("BroadcastHashJoin"),
        s"LazyFrame.$api broadcast a >10MB dim under an explicit 10m:\n$off")
    }
  }

  test("auto-broadcast: plain DataFrame and SQL joins get the same rule") {
    val dim = spark.read.parquet(midDim)
    dim.createOrReplaceTempView("bcast_dim_mid")
    fact.createOrReplaceTempView("bcast_fact")
    val builds = Seq[() => org.apache.spark.sql.DataFrame](
      () => fact.join(dim, "k"),
      () => spark.sql("SELECT * FROM bcast_fact JOIN bcast_dim_mid USING (k)"),
      () => spark.sql("SELECT * FROM bcast_fact LEFT JOIN bcast_dim_mid USING (k)"))
    builds.foreach { build =>
      val auto = planOf(build())
      assert(auto.contains("BroadcastHashJoin"), s"the rule did not broadcast the dim:\n$auto")
      val off = withSQLConf(threshold -> "10m")(planOf(build()))
      assert(!off.contains("BroadcastHashJoin"), s"broadcast under an explicit 10m:\n$off")
    }
    // full outer never broadcasts
    val fo = planOf(spark.sql("SELECT * FROM bcast_fact FULL JOIN bcast_dim_mid USING (k)"))
    assert(!fo.contains("BroadcastHashJoin"), s"full outer must not broadcast:\n$fo")
  }

  test("auto-broadcast: streaming sides and already-hinted joins are left unchanged") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, SHUFFLE_MERGE}
    val dim = spark.read.parquet(midDim)
    // stream-static: the micro-batch planner sizes the stream, not this rule
    val stream = spark.readStream.format("rate").load()
      .select(pmod(col("value"), lit(650000L)).as("k"))
    val streamed = graft.plans.BroadcastBySize(
      stream.join(dim, "k").queryExecution.analyzed, 256 * mb)
    assert(streamed.collect { case j: Join => j.hint } == Seq(JoinHint.NONE))
    // a user's hint stands: the rule adds no broadcast to a merge-hinted join
    val hinted = fact.join(dim.hint("merge"), "k")
    val hints = graft.plans.BroadcastBySize(hinted.queryExecution.optimizedPlan, 256 * mb)
      .collect { case j: Join => j.hint }
    assert(hints.map(h => (h.leftHint, h.rightHint.flatMap(_.strategy))) ==
      Seq((None, Some(SHUFFLE_MERGE))), hints)
    val p = planOf(fact.join(dim.hint("merge"), "k"))
    assert(p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
  }

  // ---- heap-derated default cap (r17, VERDICT r16 "what's wrong" #2) -------
  // Catalyst's sizeInBytes for a parquet scan is COMPRESSED ON-DISK bytes;
  // the broadcast relation is collected through the driver 5-20× larger and
  // Spark hard-caps it at 8 GB. A fixed 256 MB default OOMs a 1 GB cluster
  // driver, so the default is maxHeap/30 clamped to [16 MB, 256 MB].

  test("auto-broadcast: default cap derates against driver heap") {
    import graft.plans.BroadcastBySize
    import BroadcastBySize.derateCap
    // 1 GB cluster-default driver: ~34 MB — 10× inflation of a 34 MB scan
    // is ~340 MB, a third of the heap, survivable
    assert(derateCap(1L << 30) == (1L << 30) / 30)
    assert(derateCap(1L << 30) < 64 * mb)
    // tiny driver: floor at 16 MB so the measured 10 MB star-join cliff
    // stays closed
    assert(derateCap(256 * mb) == 16 * mb)
    // big rig (bench JVM runs at 8 GiB): full 256 MB ceiling
    assert(derateCap(8L << 30) == 256 * mb)
    assert(derateCap(96L << 30) == 256 * mb)
    // with no explicit threshold the session rule IS the rule at the
    // derated cap for this JVM's real heap (the default path, not a fixed
    // constant); with one, it returns the plan untouched
    val dims = Seq(midDim, bigDim).map(spark.read.parquet)
    dims.foreach { dim =>
      val optimized = withSQLConf(threshold -> "-1")(
        fact.join(dim, "k").queryExecution.optimizedPlan)
      assert(!spark.conf.getAll.contains(threshold))
      assert(BroadcastBySize(optimized) ==
        BroadcastBySize(optimized, derateCap(Runtime.getRuntime.maxMemory)))
      withSQLConf(threshold -> "10m")(assert(BroadcastBySize(optimized) eq optimized))
    }
  }

  test("auto-broadcast: hint does NOT fire when the in-memory estimate exceeds the derated cap") {
    import graft.plans.BroadcastBySize.derateCap
    // the ~20-50 MB on-disk dim inflates to ~200-500 MB in driver memory —
    // over a 1 GB driver's derated ~34 MB cap. The JVM heap itself can't
    // change in-test, so apply the rule at that cap: the join stays a
    // shuffle join; at the 256 MB ceiling the same join is hinted.
    val dim = spark.read.parquet(bigDim)
    val oneGbCap = derateCap(1L << 30)
    assert(onDisk(dim) > oneGbCap,
      s"fixture defect: dim (${onDisk(dim)} B) should exceed a 1 GB driver's derated cap ($oneGbCap B)")
    assert(hintedAt(oneGbCap)(fact.join(dim, "k")) == Seq("none"),
      "a dim over the 1 GB-driver derated cap must NOT be hinted")
    assert(hintedAt(256 * mb)(fact.join(dim, "k")) == Seq("right"))
  }
}
