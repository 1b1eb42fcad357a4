package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Structured Streaming extensions (SURVEY §2.10 / §7.2 M6).
  *
  * The reference's "streaming engine" is pipelined batch (no watermarks or
  * event-time semantics); these operators go beyond it: the same graft
  * transforms applied to unbounded sources with watermark-driven state
  * eviction, so a pipeline written against LazyFrame can be re-pointed at a
  * stream. At scale, state size is bounded by (watermark horizon × key
  * cardinality) — choose the horizon accordingly.
  */
object Streams {

  /** Open a parquet directory as an unbounded stream (new files = new data).
    * Schema must be supplied — streams can't infer. */
  def readParquetStream(spark: SparkSession, path: String, schema: StructType,
                        maxFilesPerTrigger: Int = 16,
                        basePath: Option[String] = None): DataFrame = {
    val r = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
    // a single-FILE source (the driver tables) needs an explicit directory
    // basePath — FileStreamSource otherwise derives it from the file itself
    basePath.foreach(r.option("basePath", _))
    r.parquet(path)
  }

  /** Tumbling/hopping event-time aggregation with late-data handling — the
    * streaming version of LazyFrame.groupByDynamic. */
  def windowedAgg(events: DataFrame, ts: String, every: String,
                  watermark: String, aggs: Seq[org.apache.spark.sql.Column],
                  extraKeys: Seq[org.apache.spark.sql.Column] = Nil,
                  slide: Option[String] = None): DataFrame = {
    // slide < every → hopping windows (each event lands in every/slide
    // overlapping windows); None → tumbling
    val win = slide match {
      case Some(sl) if sl != every => window(col(ts), every, sl)
      case _                       => window(col(ts), every)
    }
    events
      .withWatermark(ts, watermark)
      .groupBy(win +: extraKeys: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("_window_start", col("window.start"))
      .withColumn("_window_end", col("window.end"))
      .drop("window")
  }

  /** Streaming exact dedup on a key expression: drops duplicates across
    * triggers; watermark bounds the dedup state. */
  def dedupStream(events: DataFrame, ts: String, watermark: String,
                  keyCols: Seq[String]): DataFrame =
    events.withWatermark(ts, watermark)
      .dropDuplicates(keyCols :+ ts)

  /** Session windows: group rows into activity bursts separated by `gap` of
    * event-time silence — state the reference engine cannot express at all
    * (its §2.10 "streaming" is pipelined batch). Watermark bounds session
    * state; at scale, state ∝ open sessions, not history. */
  def sessionAgg(events: DataFrame, ts: String, gap: String, watermark: String,
                 keys: Seq[org.apache.spark.sql.Column],
                 aggs: Seq[org.apache.spark.sql.Column]): DataFrame =
    events
      .withWatermark(ts, watermark)
      .groupBy(session_window(col(ts), gap) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("_session_start", col("session_window.start"))
      .withColumn("_session_end", col("session_window.end"))
      .drop("session_window")

  /** Stream-static enrichment join: the static side is a dimension table —
    * Catalyst broadcasts it per micro-batch, so the stream never shuffles. */
  def enrich(stream: DataFrame, dim: DataFrame, on: Seq[String]): DataFrame =
    stream.join(broadcast(dim), on, "left")

  /** Stream-stream interval join: match rows from two unbounded streams
    * whose event times fall within `[lowerBound, upperBound]` of each
    * other. Both sides carry watermarks so the join state is evicted once
    * no counterpart can still arrive — state ∝ (watermark horizon ×
    * arrival rate), never the stream length. Column names on `right` must
    * be pre-suffixed by the caller to avoid ambiguity.
    *
    * `joinType` supports inner (default) plus leftOuter / rightOuter /
    * fullOuter: an unmatched row is emitted null-padded once the global
    * watermark proves no counterpart can still arrive — for a left row
    * when `wm` passes `ts + upper` (for a right row: `ts + lower`).
    * Spark's exact emission cutoff is `ts_us <= (wm_ms - bound_ms - 1ms)`
    * (StreamingJoinHelper computes the state value watermark in whole ms
    * minus a 1 ms safety margin; pinned by StreamJoinSemanticsSpec
    * on this build), so rows still inside the horizon when the stream
    * idles stay buffered rather than emitting — the semantics a click-
    * without-purchase / impressions-without-clicks pipeline relies on. */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftTs: String, rightTs: String, watermark: String,
                   keyEq: org.apache.spark.sql.Column,
                   lower: String, upper: String,
                   joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r, keyEq &&
      col(rightTs) >= col(leftTs) - expr(s"interval $lower") &&
      col(rightTs) <= col(leftTs) + expr(s"interval $upper"), joinType)
  }

  /** Per-key running totals via mapGroupsWithState — the general custom-
    * state surface (reference analogue: none; closest is fold/cum_fold over
    * a finite frame). Update-mode output: one row per key per trigger. */
  def runningTotals(events: DataFrame): Dataset[KeyRunning] = {
    val s = events.sparkSession
    import s.implicits._
    events.select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Double)], st: GroupState[KeyRunning]) =>
          val prev = st.getOption.getOrElse(KeyRunning(key, 0L, 0.0))
          val next = rows.foldLeft(prev) { case (acc, (_, v)) =>
            KeyRunning(key, acc.n + 1, acc.total + v)
          }
          st.update(next)
          next
      }
  }

  /** Run a streaming query to completion over the files already in the
    * source dir (batch-replay harness for tests/backfills): memory sink,
    * processAllAvailable, COPY the result out, drop the sink's temp view.
    * The copy is the retention fix: a memory sink holds its full
    * materialized result for the session lifetime, so a long-lived session
    * replaying many backfills would otherwise accumulate every result —
    * here the sink's blocks are released with the view and the caller gets
    * a frame sized to the result (driver-local rows; the harness is for
    * test/backfill-scale outputs, not corpus-scale ones). */
  def replayToTable(df: DataFrame, queryName: String,
                    outputMode: String = "append"): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .start()
    q.processAllAvailable()
    q.stop()
    detach(df.sparkSession, queryName)
  }

  /** replayToTable for typed Datasets (mapGroupsWithState output). */
  def replayDatasetToTable[T](ds: Dataset[T], queryName: String,
                              outputMode: String = "update"): DataFrame = {
    val q = ds.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .start()
    q.processAllAvailable()
    q.stop()
    detach(ds.sparkSession, queryName)
  }

  /** Copy a memory-sink table into a standalone local frame and drop the
    * sink's temp view so its blocks don't outlive the replay. */
  private def detach(spark: SparkSession, queryName: String): DataFrame = {
    val sunk = spark.table(queryName)
    val out = spark.createDataFrame(
      java.util.Arrays.asList(sunk.collect(): _*), sunk.schema)
    spark.catalog.dropTempView(queryName)
    out
  }
}

/** Running state for [[Streams.runningTotals]]. */
case class KeyRunning(user_id: Long, n: Long, total: Double)
