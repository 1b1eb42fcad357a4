package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bench-scale data generator: replicates a driver-provided sf directory
  * `factor`× with key-shifted copies, so the headline suite can run one
  * order of magnitude above the largest driver SF (the scale where shuffle
  * paths, not Spark's scheduling floor, dominate the timings).
  *
  * The scale-up preserves each table's distributional SHAPE:
  *  - fact keys (orders, lineitem, customer, supplier, part, events,
  *    documents, embeddings) shift per copy so FK joins stay 1:1-consistent
  *    and group counts scale with the data (more groups, same group sizes —
  *    how real data grows);
  *  - dimension tables (region, nation) stay fixed, as in TPC-H;
  *  - document text suffixes every word with a copy tag, so each copy is a
  *    renamed-alphabet clone: shingle/overlap structure inside a copy is
  *    isomorphic to the original and cross-copy shingle sets are disjoint —
  *    a verbatim copy would make every doc a 10-way near-duplicate, and
  *    injecting separator tokens would create near-universal shingles
  *    (tag-word-tag) that merge LSH buckets; both blow the dedup benchmarks
  *    past any realistic corpus shape;
  *  - embeddings perturb per copy (tiny per-copy offset) for the same
  *    reason on the vector side;
  *  - `events.ts` is replicated in whatever physical form the driver wrote
  *    (INT64 nanos read raw under nanosAsLong, or plain µs timestamps) —
  *    `graft.queries.util.t` adapts to either on read.
  *
  * Usage: runMain graft.ScaleData <srcSfDir> <outDir> [factor=10] [table ...]
  * Naming tables restricts the output (key strides still derive from every
  * source table, so a partial replica stays FK-consistent with a full one
  * generated at the same factor).
  */
object ScaleData {

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val only = args.drop(3).toSet
    val known = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val unknown = only -- known
    require(unknown.isEmpty,
      s"unknown table name(s) ${unknown.mkString(", ")} — valid: " +
        known.toSeq.sorted.mkString(", "))
    def want(name: String): Boolean = only.isEmpty || only(name)
    val spark = GraftSession.build(GraftSession.cpus(32))

    def read(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")

    // strides: one power-of-ten above each table's max key, so shifted key
    // ranges never collide and stay human-readable
    def stride(df: DataFrame, key: String): Long = {
      val mx = df.agg(max(col(key))).head.getLong(0)
      math.pow(10, math.ceil(math.log10((mx + 1).toDouble))).toLong
    }

    def copies(df: DataFrame, shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => shift(df, i)).reduce(_ unionAll _)

    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    // Standing shape assert (r14 verdict item 1: every generator gets a
    // cardinality/domain assert): the written table must hold exactly
    // factor× the source rows, and the shifted key's NDV must scale by
    // factor too — a stride collision (overlapping key ranges between
    // copies) drops the NDV by ≥1/factor, far outside the 2% sketch noise.
    // Read back what LANDED, not the in-memory frame.
    def check(name: String, srcDf: DataFrame, key: String): Unit = {
      val s0 = srcDf.agg(count(lit(1)),
        approx_count_distinct(col(key), 0.02)).head
      val s1 = spark.read.parquet(s"$out/$name.parquet").agg(count(lit(1)),
        approx_count_distinct(col(key), 0.02)).head
      require(s1.getLong(0) == s0.getLong(0) * factor,
        s"$name shape assert: ${s1.getLong(0)} rows != " +
          s"${s0.getLong(0)} × $factor")
      require(s1.getLong(1) >= s0.getLong(1) * factor * 0.95,
        s"$name shape assert: $key NDV ${s1.getLong(1)} < 0.95 × " +
          s"${s0.getLong(1)} × $factor — key-shift stride collision?")
    }

    // dims: fixed
    if (want("region")) write(read("region"), "region")
    if (want("nation")) write(read("nation"), "nation")

    val cust = read("customer"); val custS = stride(cust, "c_custkey")
    if (want("customer")) {
      write(copies(cust, (d, i) =>
        d.withColumn("c_custkey", col("c_custkey") + lit(i * custS))), "customer")
      check("customer", cust, "c_custkey")
    }

    val supp = read("supplier"); val suppS = stride(supp, "s_suppkey")
    if (want("supplier")) {
      write(copies(supp, (d, i) =>
        d.withColumn("s_suppkey", col("s_suppkey") + lit(i * suppS))), "supplier")
      check("supplier", supp, "s_suppkey")
    }

    val part = read("part"); val partS = stride(part, "p_partkey")
    if (want("part")) {
      write(copies(part, (d, i) =>
        d.withColumn("p_partkey", col("p_partkey") + lit(i * partS))), "part")
      check("part", part, "p_partkey")
    }

    val ord = read("orders"); val ordS = stride(ord, "o_orderkey")
    if (want("orders")) {
      write(copies(ord, (d, i) => d
        .withColumn("o_orderkey", col("o_orderkey") + lit(i * ordS))
        .withColumn("o_custkey", col("o_custkey") + lit(i * custS))), "orders")
      check("orders", ord, "o_orderkey")
    }

    if (want("lineitem")) {
      val li = read("lineitem")
      write(copies(li, (d, i) => d
        .withColumn("l_orderkey", col("l_orderkey") + lit(i * ordS))
        .withColumn("l_partkey", col("l_partkey") + lit(i * partS))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * suppS))), "lineitem")
      check("lineitem", li, "l_orderkey")
    }

    if (want("events")) {
      val ev = read("events") // ts form preserved (raw i64 nanos or µs NTZ)
      val evS = stride(ev, "event_id"); val usrS = stride(ev, "user_id")
      write(copies(ev, (d, i) => d
        .withColumn("event_id", col("event_id") + lit(i * evS))
        .withColumn("user_id", col("user_id") + lit(i * usrS))), "events")
      check("events", ev, "event_id")
    }

    if (want("documents")) {
      val docs = read("documents"); val docS = stride(docs, "doc_id")
      write(copies(docs, (d, i) => d
        .withColumn("doc_id", col("doc_id") + lit(i * docS))
        .withColumn("text",
          if (i == 0) col("text")
          else regexp_replace(col("text"), lit("(\\S+)"), lit(s"$$1x$i")))
        // the rewrite lengthens every word — keep the stored length column
        // consistent with the text it describes
        .withColumn("n_chars", length(col("text")).cast("long"))), "documents")
      check("documents", docs, "doc_id")
    }

    if (want("embeddings")) {
      val emb = read("embeddings"); val embS = stride(emb, "vec_id")
      write(copies(emb, (d, i) => d
        .withColumn("vec_id", col("vec_id") + lit(i * embS))
        .withColumn("embedding",
          transform(col("embedding"), x => x + lit(i * 1e-3f)))), "embeddings")
      check("embeddings", emb, "vec_id")
    }

    println(s"""{"scaled":"$src","out":"$out","factor":$factor}""")
    spark.stop()
  }
}
