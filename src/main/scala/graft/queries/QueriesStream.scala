package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}
import graft.sources.ParquetRead
import graft.streaming.Streams
import util._

/** Round-11 batch 7: Structured Streaming, ORACLE-pinned.
  *
  * §2.10 was previously spec-only (StreamingSpec checks stream-vs-batch
  * parity inside one JVM). These keys run REAL streaming queries — parquet
  * file source → watermarked event-time state → memory sink, replayed to
  * completion over the driver tables — and hand the materialized result to
  * the same DuckDB hash gate as every batch key. The reference's "streaming
  * engine" (`crates/polars-stream`) is pipelined batch with no event-time
  * semantics; watermarked tumbling/session windows and cross-trigger dedup
  * are beyond-reference surface, expressed on Spark's native streaming
  * state store.
  *
  * At 100 TB the same plans run unchanged against an unbounded source
  * (Kafka / file arrivals): state is bounded by watermark horizon ×  key
  * cardinality (tumble: #open windows; session: #open sessions; dedup:
  * #keys inside the horizon), never by stream length. The memory sink +
  * `processAllAvailable` here is the bounded-replay harness; a production
  * sink swaps in without touching the plan.
  */
object QueriesStream {

  private val nameSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The driver events table as a file-source stream, ts normalized
    * through `util.normalizeEventsTs` — the SAME normalizer as the batch
    * loader, so the two paths cannot drift across testdata generations.
    *
    * maxFilesPerTrigger is unbounded: the oracle is the BATCH answer, and
    * the watermark-sensitive keys (dedup, interval join) are only
    * batch-equal when the replay is one trigger — a multi-trigger replay
    * would advance the watermark between triggers and (correctly, by
    * streaming semantics) drop rows arriving later than the horizon,
    * which the batch oracle still counts. Single-trigger replay pins the
    * operator math; late-data admission is watermark policy, spec-covered
    * in StreamingSpec. */
  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val schema = ParquetRead.schema(s, path) // streams can't infer
    // glob form: FileStreamSource force-overrides `basePath` with the path
    // itself for non-glob paths, and a single FILE basePath is rejected —
    // the glob keeps our directory basePath in force (and matches both the
    // driver's single file and ScaleData's part-file directory)
    val stream = Streams.readParquetStream(s, s"$path*", schema,
      maxFilesPerTrigger = Int.MaxValue, basePath = Some(dir))
    util.normalizeEventsTs(stream, schema("ts").dataType)
  }

  private def replay(df: DataFrame, key: String, mode: String): DataFrame =
    Streams.replayToTable(df, s"${key}_${nameSeq.incrementAndGet()}", mode)

  /** Exact integer cents — double-sum order skew cannot flip a rounded
    * boundary (the sql_tpch_q5 lesson). */
  private val cents = round(col("value") * 100).cast("long")

  val queries: Map[String, Q] = Map(

    // Watermarked 1-hour tumbling aggregation (Streams.windowedAgg — the
    // streaming form of group_by_dynamic): per (hour, event_type) count +
    // exact cent sum. Complete-mode replay == the batch answer; row count
    // is bounded by hours × types at ANY scale factor.
    "stream_tumble_agg" -> ((s, d) => {
      val agg = Streams.windowedAgg(
        eventsStream(s, d), "ts", "1 hour", watermark = "1 hour",
        aggs = Seq(count(lit(1)).as("n"), sum(cents).as("sum_cents")),
        extraKeys = Seq(col("event_type")))
      replay(agg, "stream_tumble", "complete")
        .select(date_format(col("_window_start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
          col("event_type"), col("n"), col("sum_cents"))
        .orderBy(col("ws"), col("event_type"))
    }),

    // Watermarked session windows (Streams.sessionAgg): per-user activity
    // bursts closed by 30 min of event-time silence. Spark's merge rule —
    // an event at exactly last+gap opens a NEW session ([start, last+gap)
    // half-open) — is replayed by the oracle's `diff >= gap` island split;
    // session_end = last event + gap on both sides.
    "stream_session_agg" -> ((s, d) => {
      val agg = Streams.sessionAgg(
        eventsStream(s, d).filter(col("user_id") <= 20), "ts",
        gap = "30 minutes", watermark = "1 hour",
        keys = Seq(col("user_id")),
        aggs = Seq(count(lit(1)).as("n"), sum(cents).as("sum_cents")))
      replay(agg, "stream_session", "complete")
        .select(col("user_id"),
          date_format(col("_session_start"), "yyyy-MM-dd HH:mm:ss").as("ss"),
          date_format(col("_session_end"), "yyyy-MM-dd HH:mm:ss").as("se"),
          col("n"), col("sum_cents"))
        .orderBy(col("user_id"), col("ss"))
    }),

    // Cross-trigger streaming dedup (Streams.dedupStream): first sighting
    // of each (user_id, event_type, hour) survives; watermark bounds the
    // dedup state to one horizon of keys. Emitted columns == dedup key, so
    // the surviving SET is deterministic whatever the arrival order.
    "stream_dedup" -> ((s, d) => {
      val keyed = eventsStream(s, d).filter(col("user_id") <= 10)
        .select(col("user_id"), col("event_type"),
          date_trunc("hour", col("ts")).as("hr"))
      val deduped = Streams.dedupStream(keyed, "hr", watermark = "2 hours",
        keyCols = Seq("user_id", "event_type"))
      replay(deduped, "stream_dedup", "append")
        .select(col("user_id"), col("event_type"),
          date_format(col("hr"), "yyyy-MM-dd HH:mm:ss").as("hr"))
        .orderBy(col("user_id"), col("event_type"), col("hr"))
    }),

    // Stream-static enrichment (Streams.enrich): the stream broadcasts the
    // 25-row dim per micro-batch and never shuffles — the standard
    // unbounded-fact × small-dim shape. Absolute event_id cap keeps the
    // emitted rows bounded at any SF.
    "stream_enrich_join" -> ((s, d) => {
      val dim = t(s, d, "nation")
        .select(col("n_nationkey").as("nk"), col("n_name"))
      val enriched = Streams.enrich(
        eventsStream(s, d).filter(col("event_id") <= 2000)
          .withColumn("nk", (col("user_id") % 25).cast("int")),
        dim, Seq("nk"))
      replay(enriched, "stream_enrich", "append")
        .select(col("event_id"), col("user_id"), col("n_name"),
          round(col("value") * 100).cast("long").as("cents"))
        .orderBy(col("event_id"))
    }),

    // Stream-stream interval join (Streams.intervalJoin): every purchase
    // within [0, 2 h] AFTER a click by the same user, both sides
    // unbounded. Watermarks on both sides bound the join state to one
    // horizon of arrivals; the emitted pair set is deterministic (append
    // mode, stateful symmetric hash join).
    "stream_interval_join" -> ((s, d) => {
      val ev = eventsStream(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("r_user_id"),
          col("event_id").as("buy_id"), col("ts").as("buy_ts"))
      val joined = Streams.intervalJoin(clicks, buys,
        "click_ts", "buy_ts", watermark = "1 hour",
        keyEq = col("user_id") === col("r_user_id"),
        lower = "0 seconds", upper = "2 hours")
      replay(joined, "stream_interval", "append")
        .select(col("user_id"), col("click_id"), col("buy_id"),
          date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("cts"),
          date_format(col("buy_ts"), "yyyy-MM-dd HH:mm:ss").as("bts"))
        .orderBy(col("click_id"), col("buy_id"))
    }),

    // OUTER stream-stream interval join (Streams.intervalJoin with
    // joinType=leftOuter): every purchase within [0, 2 h] AFTER a click,
    // PLUS the clicks that never converted — emitted null-padded once the
    // global watermark proves no purchase can still arrive. The emission
    // cutoff is Spark's state-value watermark, pinned by
    // StreamJoinSemanticsSpec: an unmatched click pads iff
    // click_ts_us <= (wmF_ms - upper_ms - 1) * 1000, where wmF =
    // min(floor_ms(max click ts), floor_ms(max purchase ts)) - delay —
    // the oracle models exactly that, so the key pins both the pair set
    // AND the watermark-driven null emission. Clicks still inside the
    // horizon when the replay ends stay buffered (not emitted) — at scale
    // they'd emit as the live watermark advances.
    "stream_outer_join" -> ((s, d) => {
      val ev = eventsStream(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("r_user_id"),
          col("event_id").as("buy_id"), col("ts").as("buy_ts"))
      val joined = Streams.intervalJoin(clicks, buys,
        "click_ts", "buy_ts", watermark = "1 hour",
        keyEq = col("user_id") === col("r_user_id"),
        lower = "0 seconds", upper = "2 hours", joinType = "leftOuter")
      replay(joined, "stream_outer", "append")
        .select(col("user_id"), col("click_id"), col("buy_id"),
          date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("cts"),
          date_format(col("buy_ts"), "yyyy-MM-dd HH:mm:ss").as("bts"))
        .orderBy(col("click_id"), col("buy_id"))
    }),

    // FULL outer stream-stream interval join: pads on BOTH sides — clicks
    // that never converted (closed at the upper-bound cutoff) AND
    // purchases with no preceding click (closed at the lower-bound cutoff,
    // here wmF - 1 ms since lower = 0). Gates the two-sided emission rule
    // the leftOuter key can't see.
    "stream_full_outer_join" -> ((s, d) => {
      val ev = eventsStream(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("r_user_id"),
          col("event_id").as("buy_id"), col("ts").as("buy_ts"))
      val joined = Streams.intervalJoin(clicks, buys,
        "click_ts", "buy_ts", watermark = "1 hour",
        keyEq = col("user_id") === col("r_user_id"),
        lower = "0 seconds", upper = "2 hours", joinType = "fullOuter")
      replay(joined, "stream_fullouter", "append")
        .select(col("user_id").as("c_uid"), col("click_id"),
          col("r_user_id").as("b_uid"), col("buy_id"),
          date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("cts"),
          date_format(col("buy_ts"), "yyyy-MM-dd HH:mm:ss").as("bts"))
        .orderBy(col("click_id"), col("buy_id"))
    }),

    // Arbitrary keyed state via mapGroupsWithState (Streams.runningTotals)
    // — the custom-state surface the reference engine has no analogue
    // for. Values are pre-scaled to exact integer cents (doubles sum
    // integers exactly below 2^53) so arrival order cannot move the
    // total; update-mode replay emits one row per key per trigger, and
    // the final state per key is selected by max n (totals are
    // monotone), which keeps the key correct however many triggers the
    // file source splits the input into.
    "stream_running_totals" -> ((s, d) => {
      val ev = eventsStream(s, d).filter(col("user_id") <= 50)
        .withColumn("value", round(col("value") * 100))
      val totals = Streams.runningTotals(ev)
      val tbl = Streams.replayDatasetToTable(totals,
        s"stream_running_${nameSeq.incrementAndGet()}", "update")
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("n").desc)
      tbl.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select(col("user_id"), col("n"),
          col("total").cast("long").as("cents"))
        .orderBy(col("user_id"))
    }),

    // HOPPING windows on the stream (Streams.windowedAgg with slide <
    // window): 1-hour windows every 20 minutes — each event lands in
    // exactly 3 overlapping windows. The oracle replays the hop by
    // flooring each event to its 20-min grid cell and fanning out the 3
    // candidate window starts.
    "stream_hopping_agg" -> ((s, d) => {
      val agg = Streams.windowedAgg(
        eventsStream(s, d).filter(col("user_id") <= 40),
        "ts", "1 hour", watermark = "1 hour",
        aggs = Seq(count(lit(1)).as("n"), sum(cents).as("sum_cents")),
        slide = Some("20 minutes"))
      replay(agg, "stream_hop", "complete")
        .select(date_format(col("_window_start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
          col("n"), col("sum_cents"))
        .orderBy(col("ws"))
    }),

    // The curation pipeline re-pointed at a STREAM — the Streams module's
    // core promise, oracle-pinned: the same quality-score expression the
    // batch text_quality key uses runs as a stateless streaming filter
    // (no watermark/state needed; at scale this is the shape of a
    // continuously-ingesting corpus filter). Append-mode replay == the
    // batch filter's row set.
    "stream_curation_filter" -> ((s, d) => {
      val path = s"$d/documents.parquet"
      val stream = Streams.readParquetStream(s, s"$path*",
        ParquetRead.schema(s, path),
        maxFilesPerTrigger = Int.MaxValue, basePath = Some(d))
      val curated = stream
        .withColumn("quality", graft.text.TextAnalysis.qualityScore(col("text")))
        .filter(col("quality") >= 0.5 && col("n_chars") >= 50)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("quality"))
      replay(curated, "stream_curation", "append")
        .orderBy(col("doc_id"))
    })
  )

  val oracle: Map[String, String] = Map(

    "stream_tumble_agg" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS ws,
        | event_type, count(*) AS n,
        | sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS sum_cents
        |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,

    "stream_session_agg" ->
      """WITH marked AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |           >= INTERVAL 30 MINUTE OR
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM events WHERE user_id <= 20),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked)
        |SELECT user_id,
        | strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS ss,
        | strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS se,
        | count(*) AS n,
        | sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS sum_cents
        |FROM sess GROUP BY user_id, sid ORDER BY user_id, ss""".stripMargin,

    "stream_dedup" ->
      """SELECT DISTINCT user_id, event_type,
        | strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hr
        |FROM events WHERE user_id <= 10
        |ORDER BY user_id, event_type, hr""".stripMargin,

    "stream_enrich_join" ->
      """SELECT e.event_id, e.user_id, n.n_name,
        | CAST(round(e.value * 100) AS BIGINT) AS cents
        |FROM events e LEFT JOIN nation n
        |  ON (e.user_id % 25)::INT = n.n_nationkey
        |WHERE e.event_id <= 2000 ORDER BY e.event_id""".stripMargin,

    "stream_interval_join" ->
      """SELECT c.user_id, c.event_id AS click_id, b.event_id AS buy_id,
        | strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS cts,
        | strftime(b.ts, '%Y-%m-%d %H:%M:%S') AS bts
        |FROM events c JOIN events b
        |  ON c.user_id = b.user_id
        | AND b.ts >= c.ts AND b.ts <= c.ts + INTERVAL 2 HOUR
        |WHERE c.event_type = 'click' AND b.event_type = 'purchase'
        |ORDER BY click_id, buy_id""".stripMargin,

    // Pads: unmatched clicks close at the probed state-value-watermark
    // cutoff (wmF_ms - upper_ms - 1) * 1000 us, inclusive; wmF =
    // min(per-side floor-ms maxima) - delay. epoch_ms truncates like
    // Spark's EventTimeStats (us div 1000).
    "stream_outer_join" ->
      """WITH c AS (
        |  SELECT user_id, event_id AS click_id, ts AS click_ts
        |  FROM events WHERE event_type = 'click'),
        |b AS (
        |  SELECT user_id AS r_user_id, event_id AS buy_id, ts AS buy_ts
        |  FROM events WHERE event_type = 'purchase'),
        |wm AS (
        |  SELECT least((SELECT max(epoch_ms(ts)) FROM events
        |                WHERE event_type = 'click'),
        |               (SELECT max(epoch_ms(ts)) FROM events
        |                WHERE event_type = 'purchase')) - 3600000 AS w)
        |SELECT c.user_id, c.click_id, b.buy_id,
        | strftime(c.click_ts, '%Y-%m-%d %H:%M:%S') AS cts,
        | strftime(b.buy_ts, '%Y-%m-%d %H:%M:%S') AS bts
        |FROM c LEFT JOIN b
        |  ON c.user_id = b.r_user_id
        | AND b.buy_ts >= c.click_ts
        | AND b.buy_ts <= c.click_ts + INTERVAL 2 HOUR
        |WHERE b.buy_id IS NOT NULL
        |   OR epoch_us(c.click_ts) <=
        |      ((SELECT w FROM wm) - 7200000 - 1) * 1000
        |ORDER BY click_id, buy_id""".stripMargin,

    "stream_full_outer_join" ->
      """WITH c AS (
        |  SELECT user_id, event_id AS click_id, ts AS click_ts
        |  FROM events WHERE event_type = 'click'),
        |b AS (
        |  SELECT user_id AS r_user_id, event_id AS buy_id, ts AS buy_ts
        |  FROM events WHERE event_type = 'purchase'),
        |wm AS (
        |  SELECT least((SELECT max(epoch_ms(ts)) FROM events
        |                WHERE event_type = 'click'),
        |               (SELECT max(epoch_ms(ts)) FROM events
        |                WHERE event_type = 'purchase')) - 3600000 AS w)
        |SELECT c.user_id AS c_uid, c.click_id,
        | b.r_user_id AS b_uid, b.buy_id,
        | strftime(c.click_ts, '%Y-%m-%d %H:%M:%S') AS cts,
        | strftime(b.buy_ts, '%Y-%m-%d %H:%M:%S') AS bts
        |FROM c FULL JOIN b
        |  ON c.user_id = b.r_user_id
        | AND b.buy_ts >= c.click_ts
        | AND b.buy_ts <= c.click_ts + INTERVAL 2 HOUR
        |WHERE (c.click_id IS NOT NULL AND b.buy_id IS NOT NULL)
        |   OR (b.buy_id IS NULL AND epoch_us(c.click_ts) <=
        |       ((SELECT w FROM wm) - 7200000 - 1) * 1000)
        |   OR (c.click_id IS NULL AND epoch_us(b.buy_ts) <=
        |       ((SELECT w FROM wm) - 1) * 1000)
        |ORDER BY click_id, buy_id""".stripMargin,

    "stream_running_totals" ->
      """SELECT user_id, count(*) AS n,
        | sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
        |FROM events WHERE user_id <= 50
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "stream_hopping_agg" ->
      """WITH g AS (
        |  SELECT make_timestamp((floor(epoch(ts) / 1200))::BIGINT
        |      * 1200000000) AS cell,
        |    CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events WHERE user_id <= 40),
        |fan AS (
        |  SELECT cell - to_minutes(20 * k) AS ws, c
        |  FROM g CROSS JOIN generate_series(0, 2) AS s(k))
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS ws,
        | count(*) AS n, sum(c)::BIGINT AS sum_cents
        |FROM fan GROUP BY 1 ORDER BY ws""".stripMargin,

    "stream_curation_filter" ->
      s"""WITH scored AS (
        |  SELECT doc_id, lang, n_chars,
        |    ${QueriesText.qualityScoreSql} AS quality
        |  FROM documents)
        |SELECT doc_id, lang, n_chars, quality FROM scored
        |WHERE quality >= 0.5 AND n_chars >= 50
        |ORDER BY doc_id""".stripMargin
  )
}
