package graft

import org.apache.spark.sql.functions._
import graft.plans.PlanSerde
import graft.plans.PlanSerde._
import graft.testing.Assertions.assertFrameEqual

/** Plan serialization round-trip (polars LazyFrame::serialize analogue,
  * crates/polars-plan/src/client/mod.rs): build → toJson → fromJson →
  * build must execute the same logical plan, over scan / filter / select /
  * agg / join / window / sort / limit shapes. */
class PlanSerdeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def roundTrips(plan: Node): Unit = {
    val direct = PlanSerde.build(spark, plan)
    val json = PlanSerde.toJson(plan)
    val back = PlanSerde.fromJson(json)
    assert(back == plan, s"ADT round-trip diverged:\n$json\n$back")
    assertFrameEqual(direct, PlanSerde.build(spark, back))
  }

  test("scan + filter + select round-trips") {
    roundTrips(
      Select(
        Filter(Scan("parquet", s"$sf/lineitem.parquet"), "l_quantity > 40"),
        Seq("l_orderkey", "l_quantity * 2 AS dbl_qty")))
  }

  test("aggregate (grouped and global) round-trips") {
    roundTrips(
      Agg(Scan("parquet", s"$sf/lineitem.parquet"),
        Seq("l_returnflag"),
        Seq("sum(l_quantity) AS sum_qty", "count(*) AS n")))
    roundTrips(
      Agg(Scan("parquet", s"$sf/lineitem.parquet"),
        Nil, Seq("avg(l_extendedprice) AS avg_price")))
  }

  test("join + sort + limit round-trips") {
    roundTrips(
      Limit(
        Sort(
          Join(
            Scan("parquet", s"$sf/orders.parquet"),
            Select(Scan("parquet", s"$sf/customer.parquet"),
              Seq("c_custkey AS o_custkey", "c_mktsegment")),
            Seq("o_custkey"), "left"),
          Seq(SortKey("o_totalprice", desc = true),
            SortKey("o_orderkey"))),
        25))
  }

  test("window expressions ride through selectExpr strings") {
    roundTrips(
      Select(Scan("parquet", s"$sf/orders.parquet"),
        Seq("o_orderkey", "o_custkey",
          "rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC)" +
            " AS rnk")))
  }

  test("HOF expressions and scan options serialize") {
    roundTrips(
      Select(
        Scan("parquet", s"$sf/lineitem.parquet",
          Map("mergeSchema" -> "false")),
        Seq("l_orderkey",
          "aggregate(sequence(1, 4), 0L, (a, x) -> a + x) AS ten")))
  }

  test("the serialized form is plain JSON with an op discriminator") {
    val json = PlanSerde.toJson(
      Filter(Scan("parquet", "/x"), "a > 1"))
    assert(json.contains("\"jsonClass\""), json)
    assert(json.contains("Filter") && json.contains("Scan"), json)
  }

  // ---- graft operators (r12 verdict task 5) ------------------------------

  private val events = Select(Scan("parquet", s"$sf/events.parquet"),
    Seq("event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id % 3 AS grp"))
  private val marks = Select(Scan("parquet", s"$sf/events.parquet"),
    Seq("CAST(ts AS TIMESTAMP) AS mark_ts", "user_id % 3 AS grp",
      "value AS mark_value"))

  test("as-of join round-trips (backward, by-keyed, with tolerance)") {
    roundTrips(
      AsOfJoin(events, marks, "ts", "mark_ts", by = Seq("grp"),
        strategy = "backward"))
    roundTrips(
      AsOfJoin(events, marks, "ts", "mark_ts", by = Seq("grp"),
        // tolerance rides in the key's natural comparison units (the
        // graft.ops.AsOf contract) — epoch seconds for timestamps
        strategy = "nearest", tolerance = Some("7200.0")))
  }

  test("an as-of plan written with the removed rangedBy field still builds") {
    // toJson output of the nearest plan above from before AsOfJoin lost its
    // `rangedBy` flag (a second, opt-in by-keyed matcher). json4s ignores
    // the unknown field, so the plan builds the keyed-window as-of.
    val json = s"""{"jsonClass":"PlanSerde$$AsOfJoin","left":{"jsonClass":"PlanSerde$$Select","child":{"jsonClass":"PlanSerde$$Scan","format":"parquet","path":"$sf/events.parquet","options":{}},"exprs":["event_id","CAST(ts AS TIMESTAMP) AS ts","user_id % 3 AS grp"]},"right":{"jsonClass":"PlanSerde$$Select","child":{"jsonClass":"PlanSerde$$Scan","format":"parquet","path":"$sf/events.parquet","options":{}},"exprs":["CAST(ts AS TIMESTAMP) AS mark_ts","user_id % 3 AS grp","value AS mark_value"]},"leftOn":"ts","rightOn":"mark_ts","by":["grp"],"strategy":"nearest","tolerance":"7200.0","rangedBy":true}"""
    val plan = PlanSerde.fromJson(json)
    assert(plan == AsOfJoin(events, marks, "ts", "mark_ts", by = Seq("grp"),
      strategy = "nearest", tolerance = Some("7200.0")))
    val df = PlanSerde.build(spark, plan)
    // row count, order-free row hash and matched count of this plan as
    // both as-of matchers computed them before the flag was removed
    val d = digest(df)
    assert(df.columns.toSeq == Seq("grp", "event_id", "ts", "mark_ts", "mark_value"))
    assert(d == ((1000L, new java.math.BigDecimal("-25721222425903565805"), 1000L)), d)
  }

  /** An as-of join's row count, order-free row hash (a sum of `xxhash64`)
    * and matched count (rows with a non-null right side). */
  private def digest(df: org.apache.spark.sql.DataFrame): (Long, java.math.BigDecimal, Long) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")),
      count(col("mark_value"))).collect()(0)
    (r.getLong(0), r.getDecimal(1), r.getLong(2))
  }

  test("as-of join round-trips when the right side is other rows") {
    // 'error' marks against 'click' events: unlike `marks` above, no left
    // row can match itself, so the match rate and the rows depend on the
    // strategy and the tolerance
    val clicks = Select(Filter(Scan("parquet", s"$sf/events.parquet"), "event_type = 'click'"),
      Seq("event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id % 3 AS grp"))
    val errors = Select(Filter(Scan("parquet", s"$sf/events.parquet"), "event_type = 'error'"),
      Seq("CAST(ts AS TIMESTAMP) AS mark_ts", "user_id % 3 AS grp", "value AS mark_value"))
    def asOf(strategy: String, tolerance: Option[String]) =
      AsOfJoin(clicks, errors, "ts", "mark_ts", by = Seq("grp"),
        strategy = strategy, tolerance = tolerance)
    val plan = asOf("nearest", Some("7200.0"))
    roundTrips(plan)
    // every click row, 67 of them matched; a change to the as-of matcher
    // or to the serde that moves a match shows in these literals
    val d = digest(PlanSerde.build(spark, plan))
    assert(d == ((210L, new java.math.BigDecimal("12192300804723875907"), 67L)), d)
    assert(digest(PlanSerde.build(spark, asOf("backward", Some("7200.0")))) != d)
    assert(digest(PlanSerde.build(spark, asOf("nearest", Some("600.0")))) != d)
  }

  test("inequality join round-trips through the grid-partitioned IEJoin") {
    val l = Select(Scan("parquet", s"$sf/orders.parquet"),
      Seq("o_orderkey", "o_totalprice"))
    val r = Select(Scan("parquet", s"$sf/customer.parquet"),
      Seq("c_custkey", "c_acctbal"))
    roundTrips(
      IneqJoin(l, r, "o_totalprice", "<", "c_acctbal",
        residual = Some("o_orderkey % 100 = c_custkey % 100")))
  }

  test("unique keep=any/first/last/none round-trips") {
    val scan = Scan("parquet", s"$sf/orders.parquet")
    roundTrips(Unique(Select(scan, Seq("o_custkey", "o_orderpriority")),
      subset = Seq("o_custkey")))
    for (k <- Seq("first", "last", "none"))
      roundTrips(Unique(scan, subset = Seq("o_custkey"), keep = k,
        orderBy = Some("o_orderkey")))
  }

  test("unique keep=first without orderBy raises the contract error") {
    val err = intercept[IllegalArgumentException] {
      PlanSerde.build(spark,
        Unique(Scan("parquet", s"$sf/orders.parquet"),
          subset = Seq("o_custkey"), keep = "first"))
    }
    assert(err.getMessage.contains("orderBy"), err.getMessage)
  }

  test("explode (single and lockstep) + unnest + unpivot round-trip") {
    val lists = Select(Scan("parquet", s"$sf/orders.parquet"),
      Seq("o_orderkey", "array(o_custkey, o_custkey + 1) AS ks",
        "array(o_totalprice) AS ps"))
    roundTrips(Explode(lists, Seq("ks")))
    roundTrips(Explode(lists, Seq("ks", "ps"), outer = true))
    roundTrips(Unnest(
      Select(Scan("parquet", s"$sf/orders.parquet"),
        Seq("o_orderkey",
          "named_struct('pri', o_orderpriority, 'bal', o_totalprice) AS s")),
      "s"))
    roundTrips(Unpivot(
      Select(Scan("parquet", s"$sf/orders.parquet"),
        Seq("o_orderkey", "o_totalprice", "o_custkey * 1.0 AS bal")),
      ids = Seq("o_orderkey"), values = Seq("o_totalprice", "bal"),
      variableName = "metric", valueName = "v"))
  }

  test("a composed curation pipeline round-trips end-to-end") {
    // dedupe documents per language, keep the longest, join quality stats,
    // rank and slice — the shape a remote curation executor would receive.
    val docs = Select(Scan("parquet", s"$sf/documents.parquet"),
      Seq("doc_id", "lang", "length(text) AS n_chars",
        "split(text, ' ') AS words"))
    val plan =
      Limit(
        Sort(
          Join(
            Unique(docs, subset = Seq("lang"), keep = "first",
              orderBy = Some("-n_chars * 1000000 + doc_id")),
            Agg(docs, Seq("lang"),
              Seq("count(*) AS n_docs", "avg(n_chars) AS avg_chars")),
            Seq("lang"), "inner"),
          Seq(SortKey("n_docs", desc = true), SortKey("lang"))),
        10)
    roundTrips(plan)
    assert(PlanSerde.rebuild(spark, plan).count() > 0)
  }

  test("malformed plans fail with contract messages, not bare NPEs") {
    val aggErr = intercept[IllegalArgumentException] {
      PlanSerde.build(spark,
        Agg(Scan("parquet", s"$sf/orders.parquet"), Seq("o_custkey"), Nil))
    }
    assert(aggErr.getMessage.contains("at least one aggregate"),
      aggErr.getMessage)
    val limErr = intercept[IllegalArgumentException] {
      PlanSerde.build(spark,
        Limit(Scan("parquet", s"$sf/orders.parquet"), -1))
    }
    assert(limErr.getMessage.contains("n >= 0"), limErr.getMessage)
  }
}
