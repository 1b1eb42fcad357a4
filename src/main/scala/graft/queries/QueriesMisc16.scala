package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import util._

/** Round-13 batch: the last two API micro-tails from the r12 verdict —
  * rolling_rank_by (py-polars/src/polars/expr/expr.py rolling rank over a
  * VALUE window, the rank sibling of win_rolling_median_by's RANGE-frame
  * median) and bottom_k_by (expr.py, the ascending dual of top_k_by).
  * Round 14 adds the NATIVE Time dtype (Spark 4.1 TimeType), upgrading
  * the r11 i64-carrier contract (`dtype_time_ns`) to a first-class type.
  */
object QueriesMisc16 {

  val queries: Map[String, Q] = Map(

    // rolling_rank_by: the rank (method="min") of the current row's value
    // among all values in (v − 50000.00, v] of its group — the reference's
    // default closed="right" window (rolling_rank_by in expr.py: the frame
    // is (t − window_size, t], EXCLUSIVE lower bound), expressed on
    // integer-cent keys as RANGE BETWEEN (window−1) PRECEDING AND CURRENT
    // ROW. A RANGE frame gives the value window; min-rank = frame count −
    // peer (tie) count + 1 — two window counts over the SAME
    // partitioning+ordering, so Spark plans ONE Window operator (one
    // shuffle, one sort), nothing per-row quadratic. Integer-cent keys make
    // the frame bounds exact cross-engine. The bottom_k_by tail rides the
    // same key: ascending TakeOrderedAndProject on an expression key
    // (per-partition heap + driver k-merge, never a global sort — same
    // plan family PlanSpec pins for bottomK/topK).
    "win_rolling_rank_by" -> ((s, d) => {
      val cents = round(col("o_totalprice") * 100, 0).cast("long")
      val base = t(s, d, "orders").filter(col("o_custkey") <= 500)
        .select(col("o_orderkey"), col("o_custkey"), cents.as("cents"))
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("cents"))
        .rangeBetween(-(5000000L - 1), 0L)
      val peers = Window.partitionBy(col("o_custkey")).orderBy(col("cents"))
        .rangeBetween(0L, 0L)
      val ranked = base.select(lit("rank").as("tag"),
        col("o_orderkey").as("k"), col("o_custkey").as("grp"),
        (count(lit(1)).over(w) - count(lit(1)).over(peers) + 1).as("v"))
      val bottomBy = lf(s, d, "customer")
        .bottomK(10, length(col("c_name")) * col("c_acctbal"), col("c_custkey"))
        .select(lit("bottom_by").as("tag"), col("c_custkey").as("k"),
          lit(null).cast("long").as("grp"),
          round(length(col("c_name")) * col("c_acctbal") * 100).cast("long")
            .as("v"))
      ranked.unionAll(bottomBy.df).orderBy(col("tag"), col("k"))
    }),

    // The polars Time dtype as a NATIVE column type (Spark 4.1 TimeType,
    // reference crates/polars-core/src/datatypes/dtype.rs:120-136 `Time`):
    // construction (make_time from a timestamp's clock fields), extraction
    // (hour/minute/second dispatch on TIME), ordering (min/max aggregate
    // over TIME values), and comparison (count of pre-noon events) — the
    // operations py-polars exercises on pl.Time — plus str.to_time
    // (string.py `to_time`): every TIME is printed and re-parsed
    // (cast(cast(tm as string) as time)) and the round-trip count must
    // equal the group count on both engines. Times are whole-second
    // here and the TIME values are emitted as strings because both engines
    // print whole-second TIME identically ('HH:MM:SS') while the driver's
    // hash canonicalization has no TIME lane. Supersedes the i64-ns-carrier
    // contract of `dtype_time_ns` (kept: it pins the ns arithmetic).
    "dtype_time_native" -> ((s, d) => {
      // Spark 4.1 ships TimeType behind a flag; it is enabled by the one
      // session factory that runs keys (graft.GraftSession) —
      // NOT mutated here: a conf.set inside a query lambda would leave
      // cross-key global state behind (r14 verdict hygiene item 2).
      t(s, d, "events")
        .select(col("event_type"),
          expr("make_time(hour(ts), minute(ts), cast(second(ts) as decimal(16,6)))").as("tm"))
        .groupBy(col("event_type"))
        .agg(
          count(when(expr("tm < make_time(12, 0, 0)"), 1)).as("am_events"),
          expr("cast(min(tm) as string)").as("first_tm"),
          expr("cast(max(tm) as string)").as("last_tm"),
          sum(expr("hour(tm) * 3600 + minute(tm) * 60 + second(tm)"))
            .cast("long").as("sec_sum"),
          count(when(expr("cast(cast(tm as string) as time)") === col("tm"), 1))
            .as("str_roundtrip"))
        .orderBy(col("event_type"))
    }),

    // time_range / time_ranges (py-polars/src/polars/functions/range/
    // time_range.py): a per-row list of TIME values from start to end by a
    // row-dependent step, closed="both" (polars default; Spark `sequence`
    // and DuckDB `generate_series` are both end-inclusive, so the bound
    // semantics align). The list is built on the seconds-of-day carrier and
    // mapped through make_time, then emitted as SCALAR projections (count,
    // first/last as strings, an hour() fold) — list columns never leave a
    // key (arrow child-name rule). Step varies per row to exercise ragged
    // range lengths.
    "range_time" -> ((s, d) => {
      t(s, d, "events")
        .filter(col("user_id") % 17 === 0)
        .select(col("user_id"), col("ts"),
          expr("hour(ts) * 3600").as("start_sec"),
          // clamp at 23:59:59 — a 22:xx start must not range past midnight
          expr("least(hour(ts) * 3600 + 7200, 86399)").as("end_sec"),
          expr("(user_id % 3 + 1) * 900").cast("int").as("step_sec"))
        .select(col("user_id"), col("ts"),
          expr("transform(sequence(start_sec, end_sec, step_sec), " +
            "x -> make_time(x div 3600, (x % 3600) div 60, cast(x % 60 as decimal(16,6))))")
            .as("times"))
        .groupBy(col("user_id"))
        .agg(
          sum(size(col("times"))).cast("long").as("n_times"),
          min(expr("cast(times[0] as string)")).as("first_t"),
          max(expr("cast(element_at(times, -1) as string)")).as("last_t"),
          sum(expr("aggregate(times, 0L, (a, t) -> a + hour(t))"))
            .cast("long").as("hour_fold"))
        .orderBy(col("user_id"))
    })
  )

  val oracle: Map[String, String] = Map(
    "win_rolling_rank_by" ->
      """WITH t AS (
        | SELECT o_orderkey, o_custkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        | FROM orders WHERE o_custkey <= 500),
        |r AS (
        | SELECT 'rank' AS tag, o_orderkey AS k, o_custkey AS grp,
        |  count(*) OVER (PARTITION BY o_custkey ORDER BY cents
        |    RANGE BETWEEN 4999999 PRECEDING AND CURRENT ROW)
        |  - count(*) OVER (PARTITION BY o_custkey ORDER BY cents
        |    RANGE BETWEEN CURRENT ROW AND CURRENT ROW) + 1 AS v
        | FROM t),
        |b AS (
        | SELECT 'bottom_by' AS tag, c_custkey AS k, CAST(NULL AS BIGINT) AS grp,
        |  CAST(round(length(c_name) * c_acctbal * 100) AS BIGINT) AS v
        | FROM customer ORDER BY length(c_name) * c_acctbal, c_custkey LIMIT 10)
        |SELECT * FROM r UNION ALL SELECT * FROM b ORDER BY tag, k""".stripMargin,

    "dtype_time_native" ->
      """WITH t AS (
        | SELECT event_type,
        |  make_time(extract(hour FROM ts)::INT, extract(minute FROM ts)::INT,
        |            extract(second FROM ts)::DOUBLE) AS tm
        | FROM events)
        |SELECT event_type,
        |  count(*) FILTER (WHERE tm < make_time(12, 0, 0)) AS am_events,
        |  min(tm)::VARCHAR AS first_tm,
        |  max(tm)::VARCHAR AS last_tm,
        |  (sum(extract(hour FROM tm) * 3600 + extract(minute FROM tm) * 60
        |       + extract(second FROM tm)))::BIGINT AS sec_sum,
        |  count(*) FILTER (WHERE (tm::VARCHAR)::TIME = tm) AS str_roundtrip
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin,

    "range_time" ->
      """WITH e AS (
        | SELECT user_id, extract(hour FROM ts)::BIGINT * 3600 AS start_sec,
        |  least(extract(hour FROM ts)::BIGINT * 3600 + 7200, 86399) AS end_sec,
        |  (user_id % 3 + 1) * 900 AS step_sec
        | FROM events WHERE user_id % 17 = 0),
        |r AS (
        | SELECT user_id,
        |  [make_time((x // 3600)::INT, ((x % 3600) // 60)::INT, (x % 60)::DOUBLE)
        |   FOR x IN generate_series(start_sec, end_sec, step_sec)] AS times
        | FROM e)
        |SELECT user_id,
        |  sum(len(times))::BIGINT AS n_times,
        |  min(times[1]::VARCHAR) AS first_t,
        |  max(times[-1]::VARCHAR) AS last_t,
        |  sum(list_sum(list_transform(times, t -> extract(hour FROM t))))::BIGINT AS hour_fold
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin
  )
}
