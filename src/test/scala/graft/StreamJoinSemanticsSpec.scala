package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampType}

import graft.streaming.Streams
import graft.testing.StreamFuzz

/** Hand-pinned stream-stream join semantics on THIS Spark build — the
  * clauses the v4 fuzz oracle (StreamFuzz.runJoinV2Case) models, frozen
  * here as a regression gate. This spec is the reference for them; the
  * probe that first measured them (`graft.testing.StreamJoinProbe`, commit
  * 412b471) is retired, and every scenario it printed is one of the
  * pinned timelines below:
  *
  *  1. OUTER pad cutoff: an unmatched row is null-padded iff
  *     ts_us <= (wmF_ms − bound_ms − 1) · 1000, INCLUSIVE to the exact
  *     microsecond (StreamingJoinHelper's whole-ms state value watermark
  *     minus its 1 ms margin, compared via WatermarkSupport's ×1000 µs
  *     literal). Pinned at both a whole-ms and a fractional-ms watermark.
  *  2. LATE input filter: a join input row in batch b is dropped iff its
  *     RAW ts_us <= wm(b−1)_ms · 1000 — the previous batch's displayed
  *     watermark (chaining lag), NOT adjusted by the join bounds.
  *  3. A late-but-KEPT row still matches buffered counterpart state, and a
  *     DROPPED row produces neither a pair nor (under an outer type) a pad.
  */
class StreamJoinSemanticsSpec extends SparkSpec {

  private val T0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  private def tsm(min: Long, micros: Long = 0L): Timestamp = {
    val totalUs = (T0 + min * 60000L) * 1000L + micros
    val t = new Timestamp(totalUs / 1000000L * 1000L)
    t.setNanos((totalUs % 1000000L).toInt * 1000)
    t
  }

  private val schema = StructType(Seq(
    StructField("ts", TimestampType), StructField("k", LongType),
    StructField("id", LongType)))

  private def writeFiles(chunks: Seq[Seq[(Timestamp, Long, Long)]]): Path = {
    val out = Files.createTempDirectory("graft-joinsem")
    chunks.zipWithIndex.foreach { case (part, i) =>
      val rows = part.map { case (t, k, id) => Row(t, k, id) }
      val tmp = Files.createTempDirectory("graft-joinsem-part")
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val src = tmp.toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      val dst = out.resolve(f"chunk_$i%04d.parquet")
      Files.move(src, dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(1700000000000L + i * 60000L))
      StreamFuzz.deleteRec(tmp)
    }
    out
  }

  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Replay a join timeline to completion; returns (l_id, r_id) pairs with
    * -1 for the null-padded side. */
  private def run(left: Seq[Seq[(Timestamp, Long, Long)]],
                  right: Seq[Seq[(Timestamp, Long, Long)]],
                  joinType: String, delay: String,
                  lower: String, upper: String): Set[(Long, Long)] = {
    val ldir = writeFiles(left)
    val rdir = writeFiles(right)
    try {
      val sl = Streams.readParquetStream(spark, ldir.toString, schema,
        maxFilesPerTrigger = 1)
      val sr = Streams.readParquetStream(spark, rdir.toString, schema,
        maxFilesPerTrigger = 1)
        .select(col("ts").as("r_ts"), col("k").as("r_k"), col("id").as("r_id"))
      val joined = Streams.intervalJoin(sl, sr, "ts", "r_ts", delay,
        col("k") === col("r_k"), lower, upper, joinType)
        .select(col("id").as("l_id"), col("r_id"))
      val got = Streams.replayToTable(joined, s"joinsem_${seq.incrementAndGet()}",
        outputMode = "append")
      got.collect().map(r =>
        ((if (r.isNullAt(0)) -1L else r.getLong(0)),
          (if (r.isNullAt(1)) -1L else r.getLong(1)))).toSet
    } finally {
      StreamFuzz.deleteRec(ldir)
      StreamFuzz.deleteRec(rdir)
    }
  }

  test("outer pad cutoff is (wmF - upper - 1ms), microsecond-inclusive") {
    // wmF = min(wmL, wmR) = (105:00 - 10m) = 95:00.000 -> cutoff
    // (95:00.000 - 10:00 - 0.001) = 84:59.999000. Rows at the boundary:
    val got = run(
      left = Seq(Seq(
        (tsm(50), 1L, 10L),              // matched by r 20
        (tsm(84, 59999000L), 1L, 11L),   // 84:59.999000 == cutoff -> pad
        (tsm(84, 59999001L), 1L, 12L),   // +1us -> stays buffered, no pad
        (tsm(85), 1L, 13L),              // above -> no pad
        (tsm(105), 98L, 14L))),          // wmL driver, unmatched, above
      right = Seq(Seq(
        (tsm(55), 1L, 20L),              // matches id 10
        (tsm(120), 99L, 21L))),          // wmR driver = 110:00
      joinType = "leftOuter", delay = "10 minutes",
      lower = "0 seconds", upper = "10 minutes")
    assert(got == Set((10L, 20L), (11L, -1L)))
  }

  test("outer pad cutoff at a fractional-ms watermark (fullOuter, both sides)") {
    // left max 105:00.250 -> wmF = 95:00.250. Left cutoff (upper 10m):
    // 85:00.249000; right cutoff (lower 0): 95:00.249000.
    val got = run(
      left = Seq(Seq(
        (tsm(85, 249000L), 1L, 10L),     // 85:00.249000 == cutoff -> pad
        (tsm(85, 249001L), 1L, 11L),     // +1us -> no pad
        (tsm(105, 250000L), 98L, 12L))), // wm driver; 105:00.250 > r-cut? no pad
      right = Seq(Seq(
        (tsm(95, 248999L), 2L, 20L),     // 95:00.248999 <= r-cutoff -> pad
        (tsm(95, 249001L), 2L, 21L),     // +2us above -> no pad
        (tsm(120), 99L, 22L))),
      joinType = "fullOuter", delay = "10 minutes",
      lower = "0 seconds", upper = "10 minutes")
    assert(got == Set((10L, -1L), (-1L, 20L)))
  }

  test("late input filter: raw ts vs the previous batch's watermark, inclusive") {
    // maxima 100/200/400 both sides, delay 10m: the filter for batch 2
    // uses wm(1) = 90:00.000. Late left rows in file 2 straddle it; kept
    // rows close under wmF = 390:00 (cutoff 359:59.999) and pad.
    val got = run(
      left = Seq(
        Seq((tsm(100), 98L, 10L)),
        Seq((tsm(200), 98L, 11L)),
        Seq((tsm(89, 59999999L), 1L, 12L),  // <= 90:00 -> DROPPED, no pad
          (tsm(90, 0L), 1L, 13L),           // == 90:00.000000 -> DROPPED
          (tsm(90, 1L), 1L, 14L),           // +1us -> KEPT -> pads
          (tsm(400), 98L, 15L))),
      right = Seq(
        Seq((tsm(100), 99L, 20L)),
        Seq((tsm(200), 99L, 21L)),
        Seq((tsm(400), 99L, 22L))),
      joinType = "leftOuter", delay = "10 minutes",
      lower = "0 seconds", upper = "30 minutes")
    // raw-form check: 89:59.999999 + 30m is far ahead of 90:00, yet the
    // row drops — the filter ignores the join bounds
    assert(got == Set((10L, -1L), (11L, -1L), (14L, -1L)))
  }

  test("late-kept row matches buffered state; dropped row yields nothing") {
    // delay 60m, maxima 100/200/400 both sides -> filter for batch 2 =
    // wm(1) = 40:00. l1(k=4)@65 kept late, matches buffered r@70;
    // l2(k=3)@35 dropped despite matching r@50 (no pair, no pad).
    val got = run(
      left = Seq(
        Seq((tsm(100), 98L, 10L)),
        Seq((tsm(200), 98L, 11L)),
        Seq((tsm(65), 4L, 12L), (tsm(35), 3L, 13L), (tsm(400), 98L, 14L))),
      right = Seq(
        Seq((tsm(70), 4L, 20L), (tsm(50), 3L, 21L), (tsm(100), 99L, 22L)),
        Seq((tsm(200), 99L, 23L)),
        Seq((tsm(400), 99L, 24L))),
      joinType = "leftOuter", delay = "60 minutes",
      lower = "0 seconds", upper = "30 minutes")
    assert(got == Set((10L, -1L), (11L, -1L), (12L, 20L)))
  }

  // ---- the remaining probe timelines, each pinned at its observed output.
  // Shorthand: wmF = the final global watermark; a row pads iff
  // ts <= wmF - bound - 1ms (clause 1), and a late row drops iff
  // ts <= wm(b-1) (clause 2).

  test("leftOuter boundary: 1us past the whole-ms cutoff stays buffered") {
    // wmF = 95:00 -> cutoff 84:59.999; 84:59.999999 and 85:00 stay buffered
    val got = run(
      left = Seq(Seq((tsm(50), 1L, 10L), (tsm(80), 1L, 11L),
        (tsm(84, 59999999L), 1L, 12L), (tsm(85), 1L, 13L),
        (tsm(85, 1), 1L, 14L), (tsm(105), 98L, 15L))),
      right = Seq(Seq((tsm(55), 1L, 20L), (tsm(120), 99L, 21L))),
      joinType = "leftOuter", delay = "10 minutes",
      lower = "0 seconds", upper = "10 minutes")
    assert(got == Set((10L, 20L), (11L, -1L)))
  }

  test("rightOuter boundary: a right row closes at r_ts + lower") {
    // lower 10m, wmF = 95:00 -> right cutoff 84:59.999
    val got = run(
      left = Seq(Seq((tsm(55), 1L, 10L), (tsm(120), 99L, 11L))),
      right = Seq(Seq((tsm(50), 1L, 20L), (tsm(80), 1L, 21L),
        (tsm(85), 1L, 22L), (tsm(85, 1), 1L, 23L), (tsm(105), 98L, 24L))),
      joinType = "rightOuter", delay = "10 minutes",
      lower = "10 minutes", upper = "0 seconds")
    assert(got == Set((10L, 20L), (-1L, 21L)))
  }

  test("fullOuter boundary: each side pads against its own bound") {
    // wmF = 95:00: left cutoff 84:59.999 (upper 10m), right 94:59.999
    val got = run(
      left = Seq(Seq((tsm(50), 1L, 10L), (tsm(80), 1L, 11L),
        (tsm(105), 98L, 12L))),
      right = Seq(Seq((tsm(55), 1L, 20L), (tsm(70), 2L, 21L),
        (tsm(120), 99L, 22L))),
      joinType = "fullOuter", delay = "10 minutes",
      lower = "0 seconds", upper = "10 minutes")
    assert(got == Set((10L, 20L), (11L, -1L), (-1L, 21L)))
  }

  test("pad grid below a whole-ms cutoff: every row pads") {
    // wmF = 95:00 -> cutoff 84:59.999; all four rows are at or below it
    val got = run(
      left = Seq(Seq((tsm(84, 58999999L), 1L, 10L),
        (tsm(84, 59000000L), 1L, 11L), (tsm(84, 59000001L), 1L, 12L),
        (tsm(84, 59500000L), 1L, 13L), (tsm(105), 98L, 14L))),
      right = Seq(Seq((tsm(120), 99L, 20L))),
      joinType = "leftOuter", delay = "10 minutes",
      lower = "0 seconds", upper = "10 minutes")
    assert(got == Set((10L, -1L), (11L, -1L), (12L, -1L), (13L, -1L)))
  }

  test("pad grid under a fractional-ms watermark: every row pads") {
    // wmF = 95:00.250 -> cutoff 85:00.249; rows around 84:59.25 and
    // around 85:00.000 are all below it
    for (rows <- Seq(
           Seq(59249999L, 59250000L, 59250001L).map(tsm(84, _)),
           Seq(tsm(84, 59999999L), tsm(85, 0L), tsm(85, 1L)))) {
      val got = run(
        left = Seq(rows.zipWithIndex.map { case (t, i) => (t, 1L, 10L + i) } :+
          ((tsm(105, 250000L), 98L, 13L))),
        right = Seq(Seq((tsm(120), 99L, 20L))),
        joinType = "leftOuter", delay = "10 minutes",
        lower = "0 seconds", upper = "10 minutes")
      assert(got == Set((10L, -1L), (11L, -1L), (12L, -1L)), rows)
    }
  }

  test("late filter of batch 1 uses wm(0) = epoch: nothing drops") {
    // two files per side: batch 1 filters against wm(0) = epoch, so its
    // late rows (55 / 60 / 85 / 95 against wm(1) = 90:00) all survive and
    // pad under wmF = 290:00
    val got = run(
      left = Seq(
        Seq((tsm(100), 98L, 10L)),
        Seq((tsm(55), 1L, 11L), (tsm(60), 1L, 12L), (tsm(85), 1L, 13L),
          (tsm(95), 1L, 14L), (tsm(300), 98L, 15L))),
      right = Seq(
        Seq((tsm(100), 99L, 20L)),
        Seq((tsm(300), 99L, 21L))),
      joinType = "leftOuter", delay = "10 minutes",
      lower = "0 seconds", upper = "30 minutes")
    assert(got == Set((10L, -1L), (11L, -1L), (12L, -1L), (13L, -1L), (14L, -1L)))
  }

  test("late filter at a fractional-ms watermark is microsecond-inclusive") {
    // batch 3 filters against wm(2) = 190:00.750 (the left side governs)
    val got = run(
      left = Seq(
        Seq((tsm(100), 98L, 10L)),
        Seq((tsm(200, 750000L), 98L, 11L)),
        Seq((tsm(300), 98L, 12L)),
        Seq((tsm(190, 749999L), 1L, 13L),   // below -> DROPPED
          (tsm(190, 750000L), 1L, 14L),     // equal -> DROPPED
          (tsm(190, 750001L), 1L, 15L),     // +1us  -> KEPT, pads
          (tsm(700), 98L, 16L))),
      right = Seq(
        Seq((tsm(100), 99L, 20L)),
        Seq((tsm(210), 99L, 21L)),
        Seq((tsm(300), 99L, 22L)),
        Seq((tsm(700), 99L, 23L))),
      joinType = "leftOuter", delay = "10 minutes",
      lower = "0 seconds", upper = "30 minutes")
    assert(got == Set((10L, -1L), (11L, -1L), (12L, -1L), (15L, -1L)))
    // one batch earlier the same rows face wm(1) = 90:00 and all survive
    val early = run(
      left = Seq(
        Seq((tsm(100), 98L, 10L)),
        Seq((tsm(200, 750000L), 98L, 11L)),
        Seq((tsm(190, 749999L), 1L, 12L), (tsm(190, 750000L), 1L, 13L),
          (tsm(190, 750001L), 1L, 14L), (tsm(400), 98L, 15L))),
      right = Seq(
        Seq((tsm(100), 99L, 20L)),
        Seq((tsm(210), 99L, 21L)),
        Seq((tsm(400), 99L, 22L))),
      joinType = "leftOuter", delay = "10 minutes",
      lower = "0 seconds", upper = "30 minutes")
    assert(early == Set((10L, -1L), (11L, -1L), (12L, -1L), (13L, -1L), (14L, -1L)))
  }

  test("inner join: dropped late rows never match buffered state") {
    // delay 60m: batch 2 filters against wm(1) = 40:00, so both late left
    // rows at 25 drop — even the one whose counterpart (k=4 @ 45) is
    // still buffered — and nothing is emitted
    val got = run(
      left = Seq(
        Seq((tsm(100), 98L, 10L)),
        Seq((tsm(200), 98L, 11L)),
        Seq((tsm(25), 3L, 12L), (tsm(25), 4L, 13L), (tsm(320), 98L, 14L))),
      right = Seq(
        Seq((tsm(30), 3L, 20L), (tsm(45), 4L, 21L), (tsm(100), 99L, 22L)),
        Seq((tsm(200), 99L, 23L)),
        Seq((tsm(320), 99L, 24L))),
      joinType = "inner", delay = "60 minutes",
      lower = "0 seconds", upper = "120 minutes")
    assert(got.isEmpty)
  }
}
