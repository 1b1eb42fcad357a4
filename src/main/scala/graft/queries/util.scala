package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.dsl.LazyFrame
import graft.sources.ParquetRead

/** Shared helpers for the oracle-checked query battery. */
object util {
  /** Read one of the driver-provided tables from an sf dir.
    *
    * `events.ts` has shipped in two physical forms across driver testdata
    * generations: parquet TIMESTAMP(NANOS) (which Spark 4 refuses by
    * default — read nanos as long and truncate to µs, the same truncation
    * DuckDB applies) and plain timestamp[us] (read as TIMESTAMP_NTZ).
    * Normalize BOTH to tz-aware µs TIMESTAMP so every downstream query sees
    * one dtype; sessions run UTC so the NTZ cast is instant-preserving.
    *
    * `spark.sql.legacy.parquet.nanosAsLong` is required for the NANOS form
    * and must be live at schema-inference AND scan time, so it belongs to
    * the session factory ([[graft.GraftSession]], which every main and
    * the test suite's TestSpark go through) — never set here: a conf.set
    * inside the query path is hidden cross-key session mutation (r14
    * verdict hygiene item 2).
    *
    * The read goes through [[graft.sources.ParquetRead]]: a single-file
    * table's schema comes from its footer on the driver, so building a
    * query launches no Spark job. A `$name.parquet` that is a directory
    * (ScaleData's part-file layout, a hive-partitioned dataset) still
    * pays Spark's schema-inference job. */
  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val raw = ParquetRead(s, s"$dir/$name.parquet")
    if (name == "events") normalizeEventsTs(raw, raw.schema("ts").dataType)
    else raw
  }

  /** The one events-ts normalizer, shared by the batch loader above and
    * the streaming source (QueriesStream.eventsStream) so the two paths
    * cannot drift across driver testdata generations. `raw` is the
    * PHYSICAL ts dtype of the frame being normalized. */
  def normalizeEventsTs(df: DataFrame,
                        raw: org.apache.spark.sql.types.DataType): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampType}
    raw match {
      case LongType =>
        // integral `div`, NOT `/`: ns longs exceed double's 2^53 mantissa
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case TimestampType => df
      case _ => // TIMESTAMP_NTZ (µs testdata) — UTC session, identity cast
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts")
            .cast(TimestampType))
    }
  }

  def lf(s: SparkSession, dir: String, name: String): LazyFrame =
    LazyFrame(t(s, dir, name))

  type Q = (SparkSession, String) => DataFrame
}
