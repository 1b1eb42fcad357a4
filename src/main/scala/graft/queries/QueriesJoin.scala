package graft.queries

import org.apache.spark.sql.functions._
import graft.dsl.LazyFrame
import graft.queries.util._

/** Join battery (SURVEY §2.4): equi inner/left/right/full, semi/anti, cross,
  * as-of (backward/forward/nearest/tolerance), inequality and range joins.
  */
object QueriesJoin {

  // events split into two streams so as-of has interleaved timestamps:
  // clicks (left side) match the most recent error (right side) per user.
  //
  // r22 (opt guide §6): both sides are row-slices of ONE events scan, so
  // the as-of goes through AsOf.joinSliced — the tagged union is a single
  // conditional projection over one scan instead of a union of two filtered
  // scans of the same parquet (each of which read every row group; the
  // event_type values interleave, so row-group pruning never helped).
  // Row-identical to joinAsof over the two filtered frames (the slice
  // predicates are disjoint values of one column); oracle-proven at
  // sf0.001/0.01/0.1 for all four strategies — oracle SQL unchanged.
  private def asofSliced(s: org.apache.spark.sql.SparkSession, d: String,
                         strategy: String,
                         tolerance: Option[org.apache.spark.sql.Column]) =
    LazyFrame(graft.ops.AsOf.joinSliced(
      t(s, d, "events"),
      col("event_type") === "click",
      Seq("event_id" -> col("event_id"), "user_id" -> col("user_id"),
        "ts" -> col("ts"), "value" -> col("value")),
      col("event_type") === "error",
      Seq("user_id" -> col("user_id"), "err_ts" -> col("ts"),
        "err_value" -> col("value")),
      "ts", "err_ts", by = Seq("user_id"), strategy = strategy,
      tolerance = tolerance))

  val queries: Map[String, Q] = Map(
    "join_inner" -> ((s, d) =>
      lf(s, d, "orders")
        .joinOn(lf(s, d, "customer"), col("o_custkey") === col("c_custkey"), "inner")
        .select(col("o_orderkey"), col("c_custkey"), col("c_name"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .sort(col("o_orderkey")).collect()),

    // r21 (opt guide §2.3 "aggregate before you shuffle"): pre-aggregate
    // the fact side per o_custkey BEFORE the join instead of aggregating
    // the joined rows. Same result (c_custkey is unique, a customer's
    // orders form exactly one pre-agg group, customers without orders get
    // NULL → coalesce 0, and unmatched/null o_custkey groups are dropped
    // by the left join in both shapes — oracle hash unchanged, the
    // rewrite was proven against DuckDB at sf0.001/0.01/0.1), but above
    // the broadcast cap the join now matches 1 aggregated row per
    // customer instead of every order row: the join build/probe work and
    // the joined-row materialization shrink by the orders-per-customer
    // factor, and the post-join 15M-group hash aggregate disappears (the
    // agg exchange on o_custkey doubles as the join exchange).
    "join_left_agg" -> ((s, d) => {
      val perCust = lf(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(col("o_orderkey")).as("__n"),
          sum(col("o_totalprice")).as("__rev"))
      lf(s, d, "customer")
        .joinOn(perCust, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"),
          coalesce(col("__n"), lit(0L)).as("n_orders"),
          round(coalesce(col("__rev"), lit(0.0)), 2).as("revenue"))
        .sort(col("c_custkey")).collect()
    }),

    "join_semi" -> ((s, d) =>
      lf(s, d, "orders")
        .semiJoin(lf(s, d, "lineitem").filter(col("l_quantity") >= 49)
          .rename("l_orderkey" -> "o_orderkey"), Seq("o_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
        .sort(col("o_orderkey")).collect()),

    // r14 re-pin (r13 verdict item 4): the old form anti-joined against ALL
    // orders — at the driver fixture every customer has orders, so both
    // engines returned ZERO rows and the key could not catch a wrong-but-
    // also-empty anti-join. Now: customers with no URGENT order (survivors
    // exist at every sf), with every 97th key nulled on the left to pin
    // NOT-EXISTS null semantics (a null key never matches → always kept).
    "join_anti" -> ((s, d) =>
      lf(s, d, "customer")
        .withColumns("k" -> when(col("c_custkey") % 97 === 0, lit(null))
          .otherwise(col("c_custkey")))
        .antiJoin(lf(s, d, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .rename("o_custkey" -> "k"), Seq("k"))
        .select(col("c_custkey"), col("c_name"))
        .sort(col("c_custkey")).collect()),

    "join_cross" -> ((s, d) =>
      lf(s, d, "region").crossJoin(lf(s, d, "nation"))
        .select(col("r_name"), col("n_name"))
        .sort(col("r_name"), col("n_name")).collect()),

    "join_full" -> ((s, d) => {
      val y95 = lf(s, d, "orders")
        .filter(year(col("o_orderdate")) === 1995)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n95"))
      val y96 = lf(s, d, "orders")
        .filter(year(col("o_orderdate")) === 1996)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n96"))
      y95.join(y96, Seq("o_custkey"), "full")
        .sort(col("o_custkey")).collect()
    }),

    // star join: revenue per region. BroadcastBySize hints the 25-row
    // nation and 5-row region dims (plan shows BroadcastHashJoin for both
    // and one shuffle for the agg).
    "join_star" -> ((s, d) =>
      lf(s, d, "customer")
        .join(lf(s, d, "nation").rename("n_nationkey" -> "c_nationkey"), Seq("c_nationkey"))
        .join(lf(s, d, "region").rename("r_regionkey" -> "n_regionkey"), Seq("n_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_cust"), round(sum(col("c_acctbal")), 2).as("sum_bal"))
        .sort(col("r_name")).collect()),

    "join_asof_backward" -> ((s, d) =>
      asofSliced(s, d, "backward", None)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("err_ts"), round(col("err_value"), 4).as("err_value"))
        .sort(col("event_id")).collect()),

    "join_asof_forward" -> ((s, d) =>
      asofSliced(s, d, "forward", None)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("err_ts"), round(col("err_value"), 4).as("err_value"))
        .sort(col("event_id")).collect()),

    "join_asof_tolerance" -> ((s, d) =>
      // tolerance is in the key's natural comparison units — epoch seconds
      // for timestamps (2 hours = 7200 s)
      asofSliced(s, d, "backward", Some(lit(7200.0)))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("err_ts"), round(col("err_value"), 4).as("err_value"))
        .sort(col("event_id")).collect()),

    "join_asof_nearest" -> ((s, d) =>
      asofSliced(s, d, "nearest", None)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("err_ts"), round(col("err_value"), 4).as("err_value"))
        .sort(col("event_id")).collect()),

    // join_where: pure inequality predicates (IEJoin shape). Grid-bucketed
    // equi-join on range cells (ops/IEJoin.scala) — no BNLJ in the plan.
    "join_inequality" -> ((s, d) => {
      val p1 = lf(s, d, "part").filter(col("p_partkey") % 97 === 0)
        .select(col("p_partkey").as("a_key"), col("p_retailprice").as("a_price"),
          col("p_size").as("a_size"))
      val p2 = lf(s, d, "part").filter(col("p_partkey") % 89 === 0)
        .select(col("p_partkey").as("b_key"), col("p_retailprice").as("b_price"),
          col("p_size").as("b_size"))
      p1.joinIneq(p2, col("a_price"), "<", col("b_price"),
          col("a_size") > col("b_size"))
        .select(col("a_key"), col("b_key"))
        .sort(col("a_key"), col("b_key")).collect()
    }),

    // equi + range predicate: lineitems shipped within 90 days of the order.
    "join_range" -> ((s, d) =>
      lf(s, d, "orders")
        .joinOn(lf(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") >= col("o_orderdate") &&
            col("l_shipdate") < col("o_orderdate") + expr("interval 90 days"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
        .sort(col("o_orderpriority")).collect())
  )

  val oracle: Map[String, String] = Map(
    "join_inner" ->
      """SELECT o_orderkey, c_custkey, c_name, round(o_totalprice,2) AS o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    "join_left_agg" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        | round(coalesce(sum(o_totalprice),0),2) AS revenue
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "join_semi" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice,2) AS o_totalprice
        |FROM orders WHERE EXISTS (
        | SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
        |ORDER BY o_orderkey""".stripMargin,

    "join_anti" ->
      """WITH c AS (
        | SELECT CASE WHEN c_custkey % 97 = 0 THEN NULL ELSE c_custkey END AS k,
        |  c_custkey, c_name FROM customer)
        |SELECT c_custkey, c_name FROM c
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_orderpriority = '1-URGENT' AND o_custkey = c.k)
        |ORDER BY c_custkey""".stripMargin,

    "join_cross" ->
      "SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY 1, 2",

    "join_full" ->
      """WITH y95 AS (SELECT o_custkey, count(*) AS n95 FROM orders
        |  WHERE year(o_orderdate)=1995 GROUP BY 1),
        | y96 AS (SELECT o_custkey, count(*) AS n96 FROM orders
        |  WHERE year(o_orderdate)=1996 GROUP BY 1)
        |SELECT coalesce(y95.o_custkey, y96.o_custkey) AS o_custkey, n95, n96
        |FROM y95 FULL JOIN y96 ON y95.o_custkey = y96.o_custkey
        |ORDER BY 1""".stripMargin,

    "join_star" ->
      """SELECT r_name, count(*) AS n_cust, round(sum(c_acctbal),2) AS sum_bal
        |FROM customer
        |JOIN nation ON n_nationkey = c_nationkey
        |JOIN region ON r_regionkey = n_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "join_asof_backward" ->
      """SELECT c.event_id, c.user_id, c.ts, e.err_ts, round(e.err_value,4) AS err_value
        |FROM (SELECT event_id, user_id, ts, value FROM events WHERE event_type='click') c
        |ASOF LEFT JOIN
        | (SELECT user_id, ts AS err_ts, value AS err_value FROM events WHERE event_type='error') e
        | ON c.user_id = e.user_id AND c.ts >= e.err_ts
        |ORDER BY c.event_id""".stripMargin,

    "join_asof_forward" ->
      """SELECT c.event_id, c.user_id, c.ts, e.err_ts, round(e.err_value,4) AS err_value
        |FROM (SELECT event_id, user_id, ts, value FROM events WHERE event_type='click') c
        |ASOF LEFT JOIN
        | (SELECT user_id, ts AS err_ts, value AS err_value FROM events WHERE event_type='error') e
        | ON c.user_id = e.user_id AND c.ts <= e.err_ts
        |ORDER BY c.event_id""".stripMargin,

    "join_asof_tolerance" ->
      """SELECT event_id, user_id, ts,
        | CASE WHEN err_ts >= ts - INTERVAL 2 HOURS THEN err_ts END AS err_ts,
        | CASE WHEN err_ts >= ts - INTERVAL 2 HOURS THEN round(err_value,4) END AS err_value
        |FROM (
        | SELECT c.event_id, c.user_id, c.ts, e.err_ts, e.err_value
        | FROM (SELECT event_id, user_id, ts, value FROM events WHERE event_type='click') c
        | ASOF LEFT JOIN
        |  (SELECT user_id, ts AS err_ts, value AS err_value FROM events WHERE event_type='error') e
        |  ON c.user_id = e.user_id AND c.ts >= e.err_ts)
        |ORDER BY event_id""".stripMargin,

    "join_asof_nearest" ->
      """WITH c AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type='click'),
        | e AS (SELECT user_id, ts AS err_ts, value AS err_value FROM events WHERE event_type='error'),
        | b AS (SELECT c.event_id, e.err_ts AS b_ts, e.err_value AS b_val
        |   FROM c ASOF LEFT JOIN e ON c.user_id = e.user_id AND c.ts >= e.err_ts),
        | f AS (SELECT c.event_id, e.err_ts AS f_ts, e.err_value AS f_val
        |   FROM c ASOF LEFT JOIN e ON c.user_id = e.user_id AND c.ts <= e.err_ts)
        |SELECT c.event_id, c.user_id, c.ts,
        | CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL OR (c.ts - b_ts) <= (f_ts - c.ts))
        |      THEN b_ts ELSE f_ts END AS err_ts,
        | round(CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL OR (c.ts - b_ts) <= (f_ts - c.ts))
        |      THEN b_val ELSE f_val END, 4) AS err_value
        |FROM c JOIN b ON c.event_id = b.event_id JOIN f ON c.event_id = f.event_id
        |ORDER BY c.event_id""".stripMargin,

    "join_inequality" ->
      """SELECT a.p_partkey AS a_key, b.p_partkey AS b_key
        |FROM (SELECT * FROM part WHERE p_partkey % 97 = 0) a
        |JOIN (SELECT * FROM part WHERE p_partkey % 89 = 0) b
        | ON a.p_retailprice < b.p_retailprice AND a.p_size > b.p_size
        |ORDER BY 1, 2""".stripMargin,

    "join_range" ->
      """SELECT o_orderpriority, count(*) AS n, round(sum(l_quantity),2) AS qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        | AND l_shipdate >= o_orderdate
        | AND l_shipdate < o_orderdate + INTERVAL 90 DAYS
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
