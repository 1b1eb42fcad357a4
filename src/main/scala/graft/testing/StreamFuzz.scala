package graft.testing

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout
import org.apache.spark.sql.types.{BooleanType, IntegerType, StructType}

import graft.queries.util
import graft.streaming.Streams

/** Seeded streaming-vs-batch differential fuzzer (SURVEY §2.13; r17 verdict
  * task 4, late-data + join grammars r18 verdict tasks 1-2). PlanFuzz
  * reaches every batch path; the nine `stream_*` oracle keys are
  * hand-written — this generator searches the streaming state machinery
  * (window-state merge, session merge rules, watermark-driven append
  * emission, LATE-row drop/keep, dedup state, join state eviction,
  * mapGroupsWithState folds) with random shapes the hand tests don't
  * enumerate.
  *
  * Three grammars, all drawing from `new Random(seed)` (fully
  * deterministic; seeds within one grammar are frozen forever):
  *
  * == v1: [[runCase]] — time-contiguous replay (r18, seeds 1-600 green) ==
  *
  *  - shape ∈ { tumble·complete, tumble·append, hop·complete, hop·append,
  *              session·complete, dedup·append, mapGroupsWithState·update }
  *  - input: the sf events fixture under one of 4 pre-filters, split into
  *    1–3 TIME-CONTIGUOUS parquet files (sorted by ts, chunked) replayed
  *    one file per micro-batch. Contiguity is the v1 determinism invariant:
  *    minTs(batch i+1) ≥ maxTs(batch i), so no row is ever behind the
  *    watermark and the stream drops nothing — the batch frame is then an
  *    exact oracle. File order is pinned by both name and mtime.
  *  - window `every` ∈ {23m, 45m, 1h, 97m, 3h, 8h, 1d}; hop `slide` drawn
  *    strictly smaller; session `gap` ∈ {9m, 30m, 1h, 2h}; watermark delay
  *    in whole odd minutes/hours so the final watermark (maxTs − delay,
  *    where maxTs has seconds ≈ :16.2) never coincides with a window
  *    boundary and the append cutoff is unambiguous.
  *  - aggs: 1–3 of {count, round(sum(value),4), min/max(value),
  *    sum(user_id), min/max(event_id)} — sums of the 2-decimal fixture
  *    values are integer cents, so round(·,4) can never straddle a
  *    half-ulp rounding boundary between the stream's incremental state
  *    order and the batch hash-agg order; everything else is exact.
  *  - extra group keys ⊂ {event_type, user_id, pmod(user_id,3)}.
  *
  * v1 oracles: complete mode = the full batch aggregate; append mode = the
  * batch aggregate filtered to windows with end ≤ floor_ms(maxTs) − delay
  * (emission boundary verified inclusive on this build); dedup = distinct
  * (keys, date_trunc(unit, ts)); mapGroupsWithState = batch fold, final
  * state read as the max-n update per key.
  *
  * == v2: [[runLateCase]] — LATE data (r19; removes the contiguity crutch) ==
  *
  * A drawn fraction of rows is RELOCATED from its natural time-sorted
  * chunk into a later file, so rows genuinely arrive behind the watermark.
  * The oracle models Spark's drop/keep behavior exactly, per the following
  * semantics, each pinned by a dedicated probe on THIS Spark build
  * (4.1.x; the late-record/eviction split is Spark's stateful-operator
  * chaining behavior, SPARK-40925):
  *
  *  - The watermark in effect during batch b is
  *    wm(b) = max(0, floor_ms(max event time over batches < b) − delay),
  *    updated between batches, monotone. With one file per trigger and all
  *    files present up front, batch b processes exactly file b (verified
  *    via per-batch progress: no interleaved no-data batches).
  *  - LATE-ROW FILTER: a row arriving in batch b is dropped against the
  *    PREVIOUS batch's watermark wm(b−1), not wm(b) — i.e. threshold
  *    thr(b) = max(0, floor_ms(max event time over files ≤ b−2) − delay).
  *    Eviction at the end of batch b uses wm(b); since thr(b+1) = wm(b),
  *    a row for an already-evicted key always fails the filter, so
  *    append-mode emission stays exactly-once.
  *  - The filter key is the STATE key's event-time bound, per instance:
  *    window aggregations drop a (row, window) INSTANCE iff
  *    window.end ≤ thr(b) — a late row still counts in its newer hopping
  *    windows while being dropped from expired ones (probe-verified);
  *    dedup drops a row iff its watermark column (the truncated tsh)
  *    ≤ thr(b); session windows drop a row iff its proto-session end
  *    ts + gap ≤ thr(b) (probe-verified: a row with raw ts behind the
  *    watermark but ts+gap ahead of it is KEPT and merges — including
  *    bridge-merging two existing sessions exactly like the batch oracle).
  *  - COMPLETE-mode time-window aggregations never drop late rows (state
  *    is never evicted and the late filter is not applied — probe-verified
  *    with a row far behind the watermark), so their oracle is the plain
  *    batch aggregate. Session aggregations DO filter in complete mode
  *    (probe-verified). Session APPEND mode is deliberately out of grammar:
  *    eviction splits the merge timeline, so a kept late row overlapping an
  *    already-emitted session re-opens it and the emitted multiset is not a
  *    function of the final row set — not expressible as a batch oracle.
  *  - Boundary exactness: window ends and truncated tsh are whole minutes
  *    while thresholds carry the fixture's random millisecond parts, and
  *    the drop comparisons are exact in integer ms, so `end > thr` can tie
  *    only when a source row's ms part is exactly 0 — and at a tie the
  *    drop must be inclusive (end ≤ thr drops) for consistency with the
  *    verified-inclusive eviction rule, which is what the oracle computes.
  *    Session proto-ends compare in integer MICROSECONDS (ties need a row
  *    with µs ≡ 0 mod 1000 AND an exact ms collision, ~1e-9/seed).
  *
  * Late relocation grammar: nFiles ∈ 3–5, pLate ∈ {0.08, 0.15, 0.25},
  * destination = natural chunk + 1..3 (capped at the last file; a chunk is
  * never emptied). A +1 hop can never be dropped (the filter's one-batch
  * lag), +2/+3 hops drop unless the row sits within `delay` of its chunk
  * max — so every seed mixes genuinely-dropped and late-but-kept rows, and
  * [[LateOutcome]] reports both counts so the spec can assert the sweep is
  * not vacuous (≥30% of seeds must actually drop rows).
  *
  * == v3: [[runJoinCase]] — stream-stream interval join + enrichment ==
  *
  * Contiguous replay (v1 invariant) on BOTH sources. Interval join: two
  * independently-filtered, independently-chunked replays of the events
  * fixture, inner-joined on a drawn key with rts ∈ [lts − lower,
  * lts + upper]; with per-source contiguity and the default min
  * multiple-watermark policy no row is ever late, and Structured
  * Streaming's buffered-state eviction guarantees every qualifying pair is
  * emitted exactly once — the batch range join is an exact oracle, while
  * the replay still exercises cross-trigger buffering and eviction.
  * Enrichment: stream–static broadcast left join against a dimension
  * derived from the batch fixture (drawn key, drawn key-subset filter so
  * unmatched rows exercise the null path); stateless, batch left join is
  * the oracle.
  *
  * == v4: [[runJoinV2Case]] — OUTER join types + one-sided LATE data (r20) ==
  *
  * Extends v3 with a drawn joinType ∈ {inner, leftOuter, rightOuter,
  * fullOuter} and a drawn fraction of ONE side's rows relocated 1–3 files
  * forward (v2-style), so the interval join sees genuinely late rows. The
  * oracle models the semantics pinned by StreamJoinSemanticsSpec on this
  * build (each clause measured before the grammar was written):
  *
  *  - LATE FILTER (both input sides): a row in batch b is dropped iff
  *    ts_us <= wm(b−1)_ms · 1000 (raw event time, INCLUSIVE; the same
  *    one-batch chaining lag as v2: wm(b) = displayed watermark of batch
  *    b = max(0, min over sides of floor_ms(per-side prefix max over
  *    files <= b−1) − delay)). The filter is RAW-ts form — NOT adjusted
  *    by the join bounds (probes P-C/P-D/P-J: a row with ts+upper ahead
  *    of the threshold still drops when its raw ts is behind).
  *  - PAIRS: the batch range join over KEPT rows exactly. A late-but-kept
  *    row always finds surviving counterpart state: eviction of the other
  *    side at wm implies any row it could match is itself filter-dropped
  *    (cutoffs below + the raw filter make the two regions disjoint;
  *    probe P-J shows the late-kept match emitting).
  *  - OUTER PADS: an unmatched kept row is null-padded iff
  *    ts_us <= (wmF_ms − bound_ms − 1) · 1000, INCLUSIVE, where bound =
  *    upper for the left side, lower for the right, and wmF is the final
  *    displayed watermark (StreamingJoinHelper computes the state value
  *    watermark in whole ms via (wm_ms·1000 − bound_us)/1000 and then
  *    subtracts the 1 ms safety margin; WatermarkSupport compares the µs
  *    event time ≤ value·1000 — probes P-A/P-B/P-E/P-F/P-G/P-G2 pin the
  *    boundary to the microsecond at both whole-ms and fractional-ms
  *    watermarks). Unmatched rows still inside the horizon when the
  *    replay ends stay buffered and never emit — the oracle keeps them
  *    out the same way. "Unmatched" means matched by no KEPT row: a
  *    dropped late row produces neither a pair nor a pad (probe P-J).
  *
  * == v5: [[runRecoveryCase]] — seeded restart/recovery (r20) ==
  *
  * Exactly-once across restart, the production claim: a drawn shape
  * (tumble/hop append, dedup, session append, interval join incl. outer)
  * replays over CONTIGUOUS chunked files revealed in 2–3 phases; between
  * phases the query is stopped and restarted from its checkpoint, writing
  * to a parquet FILE SINK (whose manifest is the exactly-once mechanism
  * being tested). The oracle is the UNINTERRUPTED run of the same plan
  * over the same files into a fresh sink/checkpoint: under per-side
  * contiguity the phase-boundary no-data batches emit only state no
  * future row can touch, so the two runs' multisets are identical — any
  * divergence is a restart bug (lost/duplicated state, watermark regress,
  * sink manifest replay). Session·append — excluded from the v2 late
  * grammar because arrival order changes its emitted multiset — is IN
  * here, because both runs see the identical arrival order.
  *
  * A failing seed reproduces standalone:
  * `StreamFuzz.runCase(spark, "/root/testdata/sf0.001", seed)` (or
  * `runLateCase` / `runJoinCase` / `runJoinV2Case` / `runRecoveryCase`).
  */
object StreamFuzz {

  // ---- deterministic multi-batch input ----------------------------------

  private case class Input(dir: String, schema: StructType, maxTsMillis: Long)

  private val inputCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Int), Input]()

  // the v1/v3 input dirs are cached for seed reuse, so they can't be
  // deleted per-case like the late/join-v2/recovery dirs — reclaim them at
  // JVM exit instead (ADVICE r19: long-lived test/soak JVMs otherwise
  // accumulate temp dirs)
  sys.addShutdownHook {
    inputCache.values.forEach(i =>
      try deleteRec(java.nio.file.Paths.get(i.dir)) catch { case _: Throwable => () })
  }

  private val filterPool: Vector[(String, DataFrame => DataFrame)] = Vector(
    ("all", identity[DataFrame] _),
    ("user_le_7", (df: DataFrame) => df.filter(col("user_id") <= 7)),
    ("value_gt_50", (df: DataFrame) => df.filter(col("value") > 50)),
    ("two_types",
      (df: DataFrame) => df.filter(col("event_type").isin("click", "purchase"))))

  private val sourceCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int),
      (Array[Row], StructType)]()

  private def sourceRows(spark: SparkSession, sfDir: String,
                         filterIdx: Int): (Array[Row], StructType) =
    sourceCache.computeIfAbsent((sfDir, filterIdx), { _ =>
      val df = filterPool(filterIdx)._2(
        util.t(spark, sfDir, "events")
          .select("ts", "event_id", "user_id", "event_type", "value"))
      val rows = df.orderBy("ts", "event_id").collect()
      require(rows.nonEmpty, s"empty fuzz input for filter $filterIdx")
      (rows, df.schema)
    })

  /** Write row chunks as one parquet file each, ordered by name AND mtime
    * so the file stream source replays them oldest-first. */
  private def writeChunks(spark: SparkSession, schema: StructType,
                          chunks: Seq[Seq[Row]]): Path = {
    val out = Files.createTempDirectory("graft-streamfuzz")
    chunks.zipWithIndex.foreach { case (part, i) =>
      val tmp = Files.createTempDirectory("graft-streamfuzz-part")
      spark.createDataFrame(java.util.Arrays.asList(part: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val src = tmp.toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      val dst = out.resolve(f"chunk_$i%04d.parquet")
      Files.move(src, dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst,
        FileTime.fromMillis(1700000000000L + i * 60000L))
      deleteRec(tmp) // the moved-out writer dir (_SUCCESS, crc files)
    }
    out
  }

  /** Split the (filtered) events fixture into `nFiles` time-contiguous
    * parquet files in one directory. Collect is fixture-scale (≤ thousands
    * of rows) — this is a test harness, not an operator. Cached per
    * (sfDir, filter, nFiles) so repeated seeds reuse the same files. */
  private def prepare(spark: SparkSession, sfDir: String,
                      filterIdx: Int, nFiles: Int): Input =
    inputCache.computeIfAbsent((sfDir, filterIdx, nFiles), { _ =>
      val (rows, schema) = sourceRows(spark, sfDir, filterIdx)
      val chunk = math.max(1, math.ceil(rows.length.toDouble / nFiles).toInt)
      val chunks = rows.grouped(chunk).map(_.toSeq).toSeq
      val out = writeChunks(spark, schema, chunks)
      val tsIdx = schema.fieldIndex("ts")
      Input(out.toString, schema, rows.last.getTimestamp(tsIdx).getTime)
    })

  // ---- draw pools --------------------------------------------------------

  private val everyPool =
    Vector("23 minutes", "45 minutes", "1 hour", "97 minutes", "3 hours",
      "8 hours", "1 day")
  private val slidePool =
    Vector("7 minutes", "15 minutes", "30 minutes", "1 hour")
  private val gapPool = Vector("9 minutes", "30 minutes", "1 hour", "2 hours")
  // (interval string, milliseconds) — whole odd minutes/hours; see scaladoc
  private val delayPool = Vector(
    ("31 minutes", 31L * 60000L),
    ("2 hours", 2L * 3600000L),
    ("7 hours", 7L * 3600000L),
    ("26 hours", 26L * 3600000L))

  private def minutesOf(interval: String): Long = {
    val Array(n, unit) = interval.split(" ")
    unit match {
      case u if u.startsWith("minute") => n.toLong
      case u if u.startsWith("hour")   => n.toLong * 60
      case u if u.startsWith("day")    => n.toLong * 1440
    }
  }

  private case class AggPick(name: String, c: Column)
  private val aggPool = Vector(
    AggPick("n", count(lit(1)).as("n")),
    AggPick("sv", round(sum(col("value")), 4).as("sv")),
    AggPick("mxv", max(col("value")).as("mxv")),
    AggPick("mnv", min(col("value")).as("mnv")),
    AggPick("su", sum(col("user_id")).as("su")),
    AggPick("mxe", max(col("event_id")).as("mxe")),
    AggPick("mne", min(col("event_id")).as("mne")))

  private val keyPool: Vector[(String, Column)] = Vector(
    ("event_type", col("event_type")),
    ("user_id", col("user_id")),
    ("ub", pmod(col("user_id"), lit(3)).as("ub")))

  private def drawDistinct[T](rnd: scala.util.Random, pool: Vector[T],
                              n: Int): Vector[T] =
    rnd.shuffle(pool).take(n)

  // ---- comparison --------------------------------------------------------

  /** Exact multiset equality over the shared (sorted) column set. */
  private def diff(got: DataFrame, want: DataFrame): Option[String] = {
    val cols = want.columns.sorted.map(col)
    val g = got.select(cols.toIndexedSeq: _*)
    val w = want.select(cols.toIndexedSeq: _*)
    val extra = g.exceptAll(w)
    val missing = w.exceptAll(g)
    if (extra.isEmpty && missing.isEmpty) None
    else Some(
      s"extra=[${extra.collect().take(3).mkString("; ")}] " +
        s"missing=[${missing.collect().take(3).mkString("; ")}] " +
        s"(got ${g.count()} rows, want ${w.count()})")
  }

  // ---- the v1 case runner ------------------------------------------------

  /** Run one seeded contiguous case; None = stream and batch agree. */
  def runCase(spark: SparkSession, sfDir: String, seed: Long): Option[String] = {
    val rnd = new scala.util.Random(seed)
    val shape = rnd.nextInt(10)
    val res = shape match {
      case 0 | 1 => windowCase(spark, sfDir, rnd, hop = false, append = false)
      case 2 | 3 => windowCase(spark, sfDir, rnd, hop = false, append = true)
      case 4     => windowCase(spark, sfDir, rnd, hop = true, append = false)
      case 5     => windowCase(spark, sfDir, rnd, hop = true, append = true)
      case 6 | 7 => sessionCase(spark, sfDir, rnd)
      case 8     => dedupCase(spark, sfDir, rnd)
      case _     => mgsCase(spark, sfDir, rnd)
    }
    res.map(msg => s"seed $seed: $msg")
  }

  private def windowCase(spark: SparkSession, sfDir: String,
                         rnd: scala.util.Random,
                         hop: Boolean, append: Boolean): Option[String] = {
    val filterIdx = rnd.nextInt(filterPool.length)
    val nFiles = if (append) 2 + rnd.nextInt(2) else 1 + rnd.nextInt(3)
    val in = prepare(spark, sfDir, filterIdx, nFiles)
    val every = everyPool(rnd.nextInt(everyPool.length))
    val slide =
      if (hop) {
        val cands = slidePool.filter(s => minutesOf(s) < minutesOf(every))
        Some(cands(rnd.nextInt(cands.length)))
      } else None
    val (delayStr, delayMs) = delayPool(rnd.nextInt(delayPool.length))
    val keys = drawDistinct(rnd, keyPool, rnd.nextInt(3)).map(_._2)
    val aggs = drawDistinct(rnd, aggPool, 1 + rnd.nextInt(3)).map(_.c)

    val stream = Streams.readParquetStream(spark, in.dir, in.schema,
      maxFilesPerTrigger = 1)
    val agg = Streams.windowedAgg(stream, "ts", every, delayStr, aggs,
      extraKeys = keys, slide = slide)
    val mode = if (append) "append" else "complete"
    val name = s"sfz_w_${rnd.nextInt(Int.MaxValue)}"
    val got = Streams.replayToTable(agg, name, outputMode = mode)

    val batch = spark.read.schema(in.schema).parquet(in.dir)
    val win = slide.map(s => window(col("ts"), every, s))
      .getOrElse(window(col("ts"), every))
    val full = batch.groupBy(win +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("_window_start", col("window.start"))
      .withColumn("_window_end", col("window.end"))
      .drop("window")
    val want =
      if (append) {
        val cutoffMs = in.maxTsMillis - delayMs
        full.filter(col("_window_end") <= expr(s"timestamp_millis(${cutoffMs}L)"))
      } else full
    diff(got, want).map(d =>
      s"window hop=$hop mode=$mode every=$every slide=$slide delay=$delayStr " +
        s"filter=${filterPool(filterIdx)._1} nFiles=$nFiles: $d")
  }

  private def sessionCase(spark: SparkSession, sfDir: String,
                          rnd: scala.util.Random): Option[String] = {
    val filterIdx = rnd.nextInt(filterPool.length)
    val nFiles = 1 + rnd.nextInt(3)
    val in = prepare(spark, sfDir, filterIdx, nFiles)
    val gap = gapPool(rnd.nextInt(gapPool.length))
    val (delayStr, _) = delayPool(rnd.nextInt(delayPool.length))
    // streaming session aggregation requires ≥1 non-session group key
    val keys = drawDistinct(rnd, keyPool, 1 + rnd.nextInt(2)).map(_._2)
    val aggs = drawDistinct(rnd, aggPool, 1 + rnd.nextInt(3)).map(_.c)

    val stream = Streams.readParquetStream(spark, in.dir, in.schema,
      maxFilesPerTrigger = 1)
    val agg = Streams.sessionAgg(stream, "ts", gap, delayStr, keys, aggs)
    val name = s"sfz_s_${rnd.nextInt(Int.MaxValue)}"
    val got = Streams.replayToTable(agg, name, outputMode = "complete")

    val batch = spark.read.schema(in.schema).parquet(in.dir)
    val want = batch.groupBy(session_window(col("ts"), gap) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("_session_start", col("session_window.start"))
      .withColumn("_session_end", col("session_window.end"))
      .drop("session_window")
    diff(got, want).map(d =>
      s"session gap=$gap delay=$delayStr filter=${filterPool(filterIdx)._1} " +
        s"nFiles=$nFiles: $d")
  }

  private def dedupCase(spark: SparkSession, sfDir: String,
                        rnd: scala.util.Random): Option[String] = {
    val filterIdx = rnd.nextInt(filterPool.length)
    val nFiles = 2 + rnd.nextInt(2)
    val in = prepare(spark, sfDir, filterIdx, nFiles)
    val unit = if (rnd.nextBoolean()) "hour" else "minute"
    // delay ≥ 2 h: larger than the trunc unit, so a cross-file duplicate's
    // coarsened event time can never be behind the watermark (see scaladoc)
    val (delayStr, _) = delayPool(1 + rnd.nextInt(delayPool.length - 1))
    val keyNames = drawDistinct(rnd,
      Vector("user_id", "event_type"), 1 + rnd.nextInt(2))

    val stream = Streams.readParquetStream(spark, in.dir, in.schema,
      maxFilesPerTrigger = 1)
      .withColumn("tsh", date_trunc(unit, col("ts")))
      .select(("tsh" +: keyNames).map(col): _*)
    val deduped = Streams.dedupStream(stream, "tsh", delayStr, keyNames)
    val name = s"sfz_d_${rnd.nextInt(Int.MaxValue)}"
    val got = Streams.replayToTable(deduped, name, outputMode = "append")

    val want = spark.read.schema(in.schema).parquet(in.dir)
      .withColumn("tsh", date_trunc(unit, col("ts")))
      .select(("tsh" +: keyNames).map(col): _*)
      .distinct()
    diff(got, want).map(d =>
      s"dedup unit=$unit keys=$keyNames delay=$delayStr " +
        s"filter=${filterPool(filterIdx)._1} nFiles=$nFiles: $d")
  }

  /** The shared mapGroupsWithState fold pipeline (v1 + late grammars). */
  private def mgsFold(spark: SparkSession, stream: DataFrame, kExpr: Column,
                      vExpr: Column, op: Int)
      : org.apache.spark.sql.Dataset[FuzzFoldState] = {
    val s = spark
    import s.implicits._
    stream
      .select(kExpr.cast("long").as("k"), vExpr.cast("double").as("v"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Double)],
         st: org.apache.spark.sql.streaming.GroupState[FuzzFoldState]) =>
          val next = rows.foldLeft(st.getOption.orNull) { case (acc, (_, v)) =>
            if (acc == null) FuzzFoldState(key, 1L, v)
            else FuzzFoldState(key, acc.n + 1, op match {
              case 0 => acc.acc + v
              case 1 => math.max(acc.acc, v)
              case _ => math.min(acc.acc, v)
            })
          }
          st.update(next)
          next
      }
  }

  private val mgsKeyExprs = Vector(
    ("user_id", col("user_id")),
    ("ub3", pmod(col("user_id"), lit(3))),
    ("ub5", pmod(col("user_id"), lit(5))))
  private val mgsValExprs = Vector(
    ("value", col("value")),
    ("scaled", col("value") * 0.5 + 1),
    ("eid97", (col("event_id") % 97).cast("double")))

  /** Batch oracle for the fold: per-key (count, folded value), and the
    * update-mode sink's final state per key = the max-n row (n strictly
    * increases per key). */
  private def mgsDiff(updates: DataFrame, batch: DataFrame, kExpr: Column,
                      vExpr: Column, op: Int): Option[String] = {
    val got = updates.groupBy(col("k"))
      .agg(max(col("n")).as("n"), max_by(col("acc"), col("n")).as("acc"))
      .select(col("k"), col("n"), round(col("acc"), 4).as("acc"))
    val batchAcc = op match {
      case 0 => sum(col("v"))
      case 1 => max(col("v"))
      case _ => min(col("v"))
    }
    val want = batch
      .select(kExpr.cast("long").as("k"), vExpr.cast("double").as("v"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), round(batchAcc, 4).as("acc"))
    diff(got, want)
  }

  private def mgsCase(spark: SparkSession, sfDir: String,
                      rnd: scala.util.Random): Option[String] = {
    val filterIdx = rnd.nextInt(filterPool.length)
    val nFiles = 2 + rnd.nextInt(2)
    val in = prepare(spark, sfDir, filterIdx, nFiles)
    val (kName, kExpr) = mgsKeyExprs(rnd.nextInt(mgsKeyExprs.length))
    val (vName, vExpr) = mgsValExprs(rnd.nextInt(mgsValExprs.length))
    val op = rnd.nextInt(3) // 0=sum 1=max 2=min

    val stream = Streams.readParquetStream(spark, in.dir, in.schema,
      maxFilesPerTrigger = 1)
    val folded = mgsFold(spark, stream, kExpr, vExpr, op)
    val name = s"sfz_m_${rnd.nextInt(Int.MaxValue)}"
    val updates = Streams.replayDatasetToTable(folded, name,
      outputMode = "update")
    val batch = spark.read.schema(in.schema).parquet(in.dir)
    mgsDiff(updates, batch, kExpr, vExpr, op).map(d =>
      s"mgs key=$kName val=$vName op=$op filter=${filterPool(filterIdx)._1} " +
        s"nFiles=$nFiles: $d")
  }

  // ---- v2: late-data grammar ---------------------------------------------

  /** Outcome of one late-data seed: `failure` None = stream and the
    * drop-modeling oracle agree; `relocated` rows were moved to a later
    * file; of their per-state-key instances, `dropped` fell behind the
    * late filter and `keptLate` arrived behind their natural position but
    * ahead of the filter (both from the oracle model — the spec asserts
    * the sweep exercises both outcomes). `filterApplies` is false for the
    * shapes whose operator never applies the drop/keep filter
    * (complete-mode time windows, the unwatermarked mgs fold) — their
    * relocated rows are trivially kept, so the spec's kept-share
    * non-vacuity assertion counts only filterApplies seeds (ADVICE r19). */
  case class LateOutcome(failure: Option[String], relocated: Long,
                         dropped: Long, keptLate: Long,
                         filterApplies: Boolean = true)

  private val lateDelayPool = delayPool.take(3) // 31m / 2h / 7h
  private val latePPool = Vector(0.08, 0.15, 0.25)

  private case class LateInput(dir: Path, schema: StructType,
                               rowsF: DataFrame, tsMsAndFile: Array[(Long, Int)],
                               nFiles: Int, relocated: Long)

  /** Build a seeded late-data input: chunk the sorted rows into nFiles,
    * then relocate ~pLate of the rows 1–3 files forward (never emptying a
    * chunk). Returns the written directory, an in-memory frame of every
    * row with its arrival file (`__file`) and relocation flag (`__late`),
    * and the (raw-ts ms, file) pairs for threshold derivation. */
  private def prepareLate(spark: SparkSession, sfDir: String,
                          rnd: scala.util.Random): LateInput = {
    val filterIdx = rnd.nextInt(filterPool.length)
    val nFiles = 3 + rnd.nextInt(3)
    val pLate = latePPool(rnd.nextInt(latePPool.length))
    val (rows, schema) = sourceRows(spark, sfDir, filterIdx)
    val n = rows.length
    val chunk = math.max(1, math.ceil(n.toDouble / nFiles).toInt)
    val natural = Array.tabulate(n)(i => math.min(i / chunk, nFiles - 1))
    val assign = natural.clone()
    val retained = Array.tabulate(nFiles)(f => natural.count(_ == f))
    var relocated = 0L
    var i = 0
    while (i < n) {
      val c = natural(i)
      if (c < nFiles - 1 && rnd.nextDouble() < pLate && retained(c) > 1) {
        assign(i) = math.min(nFiles - 1, c + 1 + rnd.nextInt(3))
        retained(c) -= 1
        relocated += 1
      }
      i += 1
    }
    val chunks = (0 until nFiles).map(f =>
      (0 until n).filter(assign(_) == f).map(rows(_)))
    val dir = writeChunks(spark, schema, chunks)
    val tsIdx = schema.fieldIndex("ts")
    val schemaF = schema.add("__file", IntegerType).add("__late", BooleanType)
    val rowsF = spark.createDataFrame(
      java.util.Arrays.asList((0 until n).map(j => Row.fromSeq(
        rows(j).toSeq :+ assign(j) :+ (assign(j) != natural(j)))): _*),
      schemaF)
    val tsMs = (0 until n).map(j =>
      (rows(j).getTimestamp(tsIdx).getTime, assign(j))).toArray
    LateInput(dir, schema, rowsF, tsMs, nFiles, relocated)
  }

  /** Per-file late-filter thresholds in ms: thr(b) = the watermark of the
    * PREVIOUS batch = max(0, prefix-max of per-file key maxima through
    * file b−2, minus delay). `keyMsAndFile` carries the value of the
    * WATERMARK COLUMN per row (raw ts for windows/sessions, truncated tsh
    * for dedup) — the event-time stats Spark derives the watermark from. */
  private def lateThresholds(keyMsAndFile: Array[(Long, Int)], nFiles: Int,
                             delayMs: Long): Array[Long] = {
    val fileMax = new Array[Long](nFiles)
    keyMsAndFile.foreach { case (ms, f) =>
      if (ms > fileMax(f)) fileMax(f) = ms
    }
    val thr = new Array[Long](nFiles)
    var runMax = 0L
    var b = 0
    while (b < nFiles) {
      thr(b) = if (b < 2) 0L else math.max(0L, runMax - delayMs)
      if (b >= 1 && fileMax(b - 1) > runMax) runMax = fileMax(b - 1)
      b += 1
    }
    thr
  }

  private def thrCol(thr: Array[Long]): Column =
    element_at(typedLit(thr.toSeq), col("__file") + 1)

  private[graft] def deleteRec(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  /** One agg job over the instance frame: (dropped, keptLate) among
    * relocated instances. */
  private def lateCounts(inst: DataFrame, keep: Column): (Long, Long) = {
    val r = inst.agg(
      sum(when(col("__late") && !keep, 1L).otherwise(0L)),
      sum(when(col("__late") && keep, 1L).otherwise(0L))).head
    (if (r.isNullAt(0)) 0L else r.getLong(0),
      if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Run one seeded LATE-data case (grammar + oracle model in the object
    * scaladoc). */
  def runLateCase(spark: SparkSession, sfDir: String,
                  seed: Long): LateOutcome = {
    val rnd = new scala.util.Random(seed)
    val shape = rnd.nextInt(11)
    val in = prepareLate(spark, sfDir, rnd)
    try {
      val out = shape match {
        case 0 | 1 | 2 => lateWindowCase(spark, in, rnd, hop = false, append = true)
        case 3 | 4     => lateWindowCase(spark, in, rnd, hop = true, append = true)
        case 5         => lateWindowCase(spark, in, rnd, hop = false, append = false)
        case 6         => lateWindowCase(spark, in, rnd, hop = true, append = false)
        case 7 | 8     => lateDedupCase(spark, in, rnd)
        case 9         => lateSessionCase(spark, in, rnd)
        case _         => lateMgsCase(spark, in, rnd)
      }
      out.copy(failure = out.failure.map(m => s"late seed $seed: $m"),
        relocated = in.relocated)
    } finally deleteRec(in.dir)
  }

  private def lateWindowCase(spark: SparkSession, in: LateInput,
                             rnd: scala.util.Random,
                             hop: Boolean, append: Boolean): LateOutcome = {
    val every = everyPool(rnd.nextInt(everyPool.length))
    val slide =
      if (hop) {
        val cands = slidePool.filter(s => minutesOf(s) < minutesOf(every))
        Some(cands(rnd.nextInt(cands.length)))
      } else None
    val (delayStr, delayMs) = lateDelayPool(rnd.nextInt(lateDelayPool.length))
    val keys = drawDistinct(rnd, keyPool, rnd.nextInt(3)).map(_._2)
    val aggs = drawDistinct(rnd, aggPool, 1 + rnd.nextInt(3)).map(_.c)

    val stream = Streams.readParquetStream(spark, in.dir.toString, in.schema,
      maxFilesPerTrigger = 1)
    val agg = Streams.windowedAgg(stream, "ts", every, delayStr, aggs,
      extraKeys = keys, slide = slide)
    val mode = if (append) "append" else "complete"
    val name = s"sfz_lw_${rnd.nextInt(Int.MaxValue)}"
    val got = Streams.replayToTable(agg, name, outputMode = mode)

    val win = slide.map(s => window(col("ts"), every, s))
      .getOrElse(window(col("ts"), every))
    // one row per (source row, window) instance, via Spark's own window
    // expansion — grouping the unique event_id alongside the window
    val inst = in.rowsF.groupBy(win, col("event_id"))
      .agg(first(col("user_id")).as("user_id"),
        first(col("event_type")).as("event_type"),
        first(col("value")).as("value"),
        first(col("__file")).as("__file"),
        first(col("__late")).as("__late"))
    val thr = lateThresholds(in.tsMsAndFile, in.nFiles, delayMs)
    val keep = unix_millis(col("window.end")) > thrCol(thr)
    val (dropped, keptLate) =
      if (append) lateCounts(inst, keep)
      else (0L, in.relocated) // complete mode never drops (probe-verified)
    val kept = if (append) inst.filter(keep) else inst
    val full = kept.groupBy(col("window") +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("_window_start", col("window.start"))
      .withColumn("_window_end", col("window.end"))
      .drop("window")
    val want =
      if (append) {
        val cutoffMs = in.tsMsAndFile.map(_._1).max - delayMs
        full.filter(col("_window_end") <= expr(s"timestamp_millis(${cutoffMs}L)"))
      } else full
    LateOutcome(diff(got, want).map(d =>
      s"window hop=$hop mode=$mode every=$every slide=$slide delay=$delayStr " +
        s"nFiles=${in.nFiles} relocated=${in.relocated} dropped=$dropped: $d"),
      in.relocated, dropped, keptLate, filterApplies = append)
  }

  private def lateDedupCase(spark: SparkSession, in: LateInput,
                            rnd: scala.util.Random): LateOutcome = {
    val unit = if (rnd.nextBoolean()) "hour" else "minute"
    val (delayStr, delayMs) = lateDelayPool(rnd.nextInt(lateDelayPool.length))
    val keyNames = drawDistinct(rnd,
      Vector("user_id", "event_type"), 1 + rnd.nextInt(2))

    val stream = Streams.readParquetStream(spark, in.dir.toString, in.schema,
      maxFilesPerTrigger = 1)
      .withColumn("tsh", date_trunc(unit, col("ts")))
      .select(("tsh" +: keyNames).map(col): _*)
    val deduped = Streams.dedupStream(stream, "tsh", delayStr, keyNames)
    val name = s"sfz_ld_${rnd.nextInt(Int.MaxValue)}"
    val got = Streams.replayToTable(deduped, name, outputMode = "append")

    // the watermark column is the TRUNCATED tsh — derive thresholds from it
    val unitMs = if (unit == "hour") 3600000L else 60000L
    val truncated = in.tsMsAndFile.map { case (ms, f) => (ms - ms % unitMs, f) }
    val thr = lateThresholds(truncated, in.nFiles, delayMs)
    val rowsT = in.rowsF.withColumn("tsh", date_trunc(unit, col("ts")))
    val keep = unix_millis(col("tsh")) > thrCol(thr)
    val (dropped, keptLate) = lateCounts(rowsT, keep)
    val want = rowsT.filter(keep).select(("tsh" +: keyNames).map(col): _*)
      .distinct()
    LateOutcome(diff(got, want).map(d =>
      s"dedup unit=$unit keys=$keyNames delay=$delayStr " +
        s"nFiles=${in.nFiles} relocated=${in.relocated} dropped=$dropped: $d"),
      in.relocated, dropped, keptLate)
  }

  private def lateSessionCase(spark: SparkSession, in: LateInput,
                              rnd: scala.util.Random): LateOutcome = {
    val gap = gapPool(rnd.nextInt(gapPool.length))
    val gapUs = minutesOf(gap) * 60000000L
    val (delayStr, delayMs) = lateDelayPool(rnd.nextInt(lateDelayPool.length))
    val keys = drawDistinct(rnd, keyPool, 1 + rnd.nextInt(2)).map(_._2)
    val aggs = drawDistinct(rnd, aggPool, 1 + rnd.nextInt(3)).map(_.c)

    val stream = Streams.readParquetStream(spark, in.dir.toString, in.schema,
      maxFilesPerTrigger = 1)
    val agg = Streams.sessionAgg(stream, "ts", gap, delayStr, keys, aggs)
    val name = s"sfz_ls_${rnd.nextInt(Int.MaxValue)}"
    val got = Streams.replayToTable(agg, name, outputMode = "complete")

    // sessions filter late rows even in complete mode, keyed on the
    // proto-session end ts+gap (probe-verified); compare in µs
    val thr = lateThresholds(in.tsMsAndFile, in.nFiles, delayMs)
    val keep = unix_micros(col("ts")) + lit(gapUs) > thrCol(thr) * lit(1000L)
    val (dropped, keptLate) = lateCounts(in.rowsF, keep)
    val want = in.rowsF.filter(keep)
      .groupBy(session_window(col("ts"), gap) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("_session_start", col("session_window.start"))
      .withColumn("_session_end", col("session_window.end"))
      .drop("session_window")
    LateOutcome(diff(got, want).map(d =>
      s"session gap=$gap delay=$delayStr nFiles=${in.nFiles} " +
        s"relocated=${in.relocated} dropped=$dropped: $d"),
      in.relocated, dropped, keptLate)
  }

  private def lateMgsCase(spark: SparkSession, in: LateInput,
                          rnd: scala.util.Random): LateOutcome = {
    val (kName, kExpr) = mgsKeyExprs(rnd.nextInt(mgsKeyExprs.length))
    val (vName, vExpr) = mgsValExprs(rnd.nextInt(mgsValExprs.length))
    val op = rnd.nextInt(3)
    val stream = Streams.readParquetStream(spark, in.dir.toString, in.schema,
      maxFilesPerTrigger = 1)
    val folded = mgsFold(spark, stream, kExpr, vExpr, op)
    val name = s"sfz_lm_${rnd.nextInt(Int.MaxValue)}"
    val updates = Streams.replayDatasetToTable(folded, name,
      outputMode = "update")
    // no watermark on the fold: every relocated row still folds (in arrival
    // order — the drawn ops are order-insensitive), nothing drops
    LateOutcome(mgsDiff(updates, in.rowsF, kExpr, vExpr, op).map(d =>
      s"mgs key=$kName val=$vName op=$op nFiles=${in.nFiles} " +
        s"relocated=${in.relocated}: $d"),
      in.relocated, 0L, in.relocated, filterApplies = false)
  }

  // ---- v3: join grammar ----------------------------------------------------

  private val boundPool = Vector("3 minutes", "15 minutes", "45 minutes",
    "2 hours")
  private val joinKeyPool: Vector[(String, Column, Column)] = Vector(
    ("user_id", col("user_id"), col("r_user_id")),
    ("event_type", col("event_type"), col("r_event_type")),
    ("ub3", pmod(col("user_id"), lit(3)), pmod(col("r_user_id"), lit(3))))

  /** Run one seeded join case (stream-stream interval join or stream-static
    * enrichment); None = stream and batch agree. */
  def runJoinCase(spark: SparkSession, sfDir: String,
                  seed: Long): Option[String] = {
    val rnd = new scala.util.Random(seed)
    val res = rnd.nextInt(3) match {
      case 0 | 1 => intervalJoinCase(spark, sfDir, rnd)
      case _     => enrichCase(spark, sfDir, rnd)
    }
    res.map(msg => s"join seed $seed: $msg")
  }

  private def rSuffixed(df: DataFrame): DataFrame =
    df.select(col("ts").as("r_ts"), col("event_id").as("r_event_id"),
      col("user_id").as("r_user_id"), col("event_type").as("r_event_type"),
      col("value").as("r_value"))

  private def intervalJoinCase(spark: SparkSession, sfDir: String,
                               rnd: scala.util.Random): Option[String] = {
    val filterL = rnd.nextInt(filterPool.length)
    val filterR = rnd.nextInt(filterPool.length)
    val nFilesL = 1 + rnd.nextInt(3)
    val nFilesR = 1 + rnd.nextInt(3)
    val inL = prepare(spark, sfDir, filterL, nFilesL)
    val inR = prepare(spark, sfDir, filterR, nFilesR)
    val (keyName, lKey, rKey) = joinKeyPool(rnd.nextInt(joinKeyPool.length))
    val lower = boundPool(rnd.nextInt(boundPool.length))
    val upper = boundPool(rnd.nextInt(boundPool.length))
    val (delayStr, _) = delayPool(rnd.nextInt(delayPool.length))

    val sl = Streams.readParquetStream(spark, inL.dir, inL.schema,
      maxFilesPerTrigger = 1)
    val sr = rSuffixed(Streams.readParquetStream(spark, inR.dir, inR.schema,
      maxFilesPerTrigger = 1))
    val joined = Streams.intervalJoin(sl, sr, "ts", "r_ts", delayStr,
      lKey === rKey, lower, upper)
      .select(col("event_id").as("l_eid"), col("r_event_id").as("r_eid"))
    val name = s"sfz_j_${rnd.nextInt(Int.MaxValue)}"
    val got = Streams.replayToTable(joined, name, outputMode = "append")

    val bl = spark.read.schema(inL.schema).parquet(inL.dir)
    val br = rSuffixed(spark.read.schema(inR.schema).parquet(inR.dir))
    val want = bl.join(br, lKey === rKey &&
        col("r_ts") >= col("ts") - expr(s"interval $lower") &&
        col("r_ts") <= col("ts") + expr(s"interval $upper"))
      .select(col("event_id").as("l_eid"), col("r_event_id").as("r_eid"))
    diff(got, want).map(d =>
      s"interval key=$keyName lower=$lower upper=$upper delay=$delayStr " +
        s"filters=${filterPool(filterL)._1}/${filterPool(filterR)._1} " +
        s"nFiles=$nFilesL/$nFilesR: $d")
  }

  private def enrichCase(spark: SparkSession, sfDir: String,
                         rnd: scala.util.Random): Option[String] = {
    val filterIdx = rnd.nextInt(filterPool.length)
    val nFiles = 1 + rnd.nextInt(3)
    val in = prepare(spark, sfDir, filterIdx, nFiles)
    val keyName = if (rnd.nextBoolean()) "user_id" else "event_type"
    val keep = 1 + rnd.nextInt(3) // dim keeps keys with pmod(hash,keep)==0

    val batch = spark.read.schema(in.schema).parquet(in.dir)
    // exact aggs only: the dim is re-evaluated per micro-batch AND once for
    // the oracle, so its values must be bitwise order-independent
    val dim = batch.groupBy(col(keyName))
      .agg(max(col("value")).as("dim_mx"), count(lit(1)).as("dim_n"))
      .filter(pmod(hash(col(keyName)), lit(keep)) === 0)

    val stream = Streams.readParquetStream(spark, in.dir, in.schema,
      maxFilesPerTrigger = 1)
    val joined = Streams.enrich(stream, dim, Seq(keyName))
      .select(col("event_id"), col("dim_mx"), col("dim_n"))
    val name = s"sfz_e_${rnd.nextInt(Int.MaxValue)}"
    val got = Streams.replayToTable(joined, name, outputMode = "append")

    val want = batch.join(dim, Seq(keyName), "left")
      .select(col("event_id"), col("dim_mx"), col("dim_n"))
    diff(got, want).map(d =>
      s"enrich key=$keyName keep=1/$keep filter=${filterPool(filterIdx)._1} " +
        s"nFiles=$nFiles: $d")
  }

  // ---- v4: outer join types + one-sided late data --------------------------

  /** Outcome of one v4 join seed. `nullPadded` counts the null-padded rows
    * the STREAM actually emitted (outer types only); `dropped`/`keptLate`
    * are the relocated late side's filter outcomes, as in [[LateOutcome]].
    * The spec asserts all three are exercised across a sweep. */
  case class JoinOutcome(failure: Option[String], relocated: Long,
                         dropped: Long, keptLate: Long, nullPadded: Long)

  private case class SideInput(dir: Path, schema: StructType, rowsF: DataFrame,
                               tsUsAndFile: Array[(Long, Int)], nFiles: Int,
                               relocated: Long)

  private def tsUs(t: java.sql.Timestamp): Long =
    t.getTime / 1000L * 1000000L + t.getNanos / 1000L

  /** v2-style seeded side builder with explicit nFiles/pLate (pLate = 0 →
    * contiguous). Not cached: dirs are per-seed and deleted by the case. */
  private def prepareSide(spark: SparkSession, sfDir: String,
                          rnd: scala.util.Random, nFiles: Int,
                          pLate: Double): SideInput = {
    val filterIdx = rnd.nextInt(filterPool.length)
    val (rows, schema) = sourceRows(spark, sfDir, filterIdx)
    val n = rows.length
    val chunk = math.max(1, math.ceil(n.toDouble / nFiles).toInt)
    val natural = Array.tabulate(n)(i => math.min(i / chunk, nFiles - 1))
    val assign = natural.clone()
    val retained = Array.tabulate(nFiles)(f => natural.count(_ == f))
    var relocated = 0L
    var i = 0
    while (i < n) {
      val c = natural(i)
      if (pLate > 0 && c < nFiles - 1 && rnd.nextDouble() < pLate &&
          retained(c) > 1) {
        assign(i) = math.min(nFiles - 1, c + 1 + rnd.nextInt(3))
        retained(c) -= 1
        relocated += 1
      }
      i += 1
    }
    val chunks = (0 until nFiles).map(f =>
      (0 until n).filter(assign(_) == f).map(rows(_)))
    val dir = writeChunks(spark, schema, chunks)
    val tsIdx = schema.fieldIndex("ts")
    val schemaF = schema.add("__file", IntegerType).add("__late", BooleanType)
    val rowsF = spark.createDataFrame(
      java.util.Arrays.asList((0 until n).map(j => Row.fromSeq(
        rows(j).toSeq :+ assign(j) :+ (assign(j) != natural(j)))): _*),
      schemaF)
    val us = (0 until n).map(j =>
      (tsUs(rows(j).getTimestamp(tsIdx)), assign(j))).toArray
    SideInput(dir, schema, rowsF, us, nFiles, relocated)
  }

  /** Per-batch late-filter thresholds (µs) and the final watermark (ms)
    * for a two-source join: wm(b) = displayed watermark of batch b =
    * max(0, min over sides of (per-side prefix-max floor-ms over files
    * <= b−1) − delay); the filter for batch b uses wm(b−1) (the chaining
    * lag pinned by probes P-C/P-H/P-I2). */
  private def joinThresholds(l: Array[(Long, Int)], nL: Int,
                             r: Array[(Long, Int)], nR: Int,
                             delayMs: Long): (Array[Long], Long) = {
    def prefixMaxMs(a: Array[(Long, Int)], n: Int): Array[Long] = {
      val m = new Array[Long](n)
      a.foreach { case (us, f) => val ms = us / 1000L; if (ms > m(f)) m(f) = ms }
      var i = 1
      while (i < n) { if (m(i - 1) > m(i)) m(i) = m(i - 1); i += 1 }
      m
    }
    val mL = prefixMaxMs(l, nL)
    val mR = prefixMaxMs(r, nR)
    val nB = math.max(nL, nR)
    def wmAt(b: Int): Long =
      if (b <= 0) 0L
      else math.max(0L, math.min(mL(math.min(b - 1, nL - 1)),
        mR(math.min(b - 1, nR - 1))) - delayMs)
    (Array.tabulate(nB)(b => wmAt(b - 1) * 1000L), wmAt(nB))
  }

  /** Run one seeded v4 case: drawn joinType over two replays, one side
    * carrying relocated (late) rows; oracle = kept-row batch join + the
    * probe-pinned pad cutoffs (object scaladoc). */
  def runJoinV2Case(spark: SparkSession, sfDir: String,
                    seed: Long): JoinOutcome = {
    val rnd = new scala.util.Random(seed)
    val joinType = Vector("inner", "leftOuter", "rightOuter",
      "fullOuter")(rnd.nextInt(4))
    val pLate = Vector(0.0, 0.12, 0.25)(rnd.nextInt(3))
    val lateLeft = rnd.nextBoolean()
    // the late side needs >= 3 files so a +2/+3 hop can land behind the
    // two-batch-lagged filter; the contiguous side stays 1-3
    val (nFilesL, nFilesR) =
      if (lateLeft) (3 + rnd.nextInt(3), 1 + rnd.nextInt(3))
      else (1 + rnd.nextInt(3), 3 + rnd.nextInt(3))
    val inL = prepareSide(spark, sfDir, rnd, nFilesL,
      if (lateLeft) pLate else 0.0)
    val inR = prepareSide(spark, sfDir, rnd, nFilesR,
      if (lateLeft) 0.0 else pLate)
    try {
      val (keyName, lKey, rKey) = joinKeyPool(rnd.nextInt(joinKeyPool.length))
      val lower = boundPool(rnd.nextInt(boundPool.length))
      val upper = boundPool(rnd.nextInt(boundPool.length))
      val (delayStr, delayMs) = lateDelayPool(rnd.nextInt(lateDelayPool.length))
      val lowerMs = minutesOf(lower) * 60000L
      val upperMs = minutesOf(upper) * 60000L

      val sl = Streams.readParquetStream(spark, inL.dir.toString, inL.schema,
        maxFilesPerTrigger = 1)
      val sr = rSuffixed(Streams.readParquetStream(spark, inR.dir.toString,
        inR.schema, maxFilesPerTrigger = 1))
      val joined = Streams.intervalJoin(sl, sr, "ts", "r_ts", delayStr,
        lKey === rKey, lower, upper, joinType)
        .select(col("event_id").as("l_eid"), col("r_event_id").as("r_eid"))
      val name = s"sfz_j2_${rnd.nextInt(Int.MaxValue)}"
      val got = Streams.replayToTable(joined, name, outputMode = "append")
      val nullPadded =
        got.filter(col("l_eid").isNull || col("r_eid").isNull).count()

      val (thrUs, wmF) = joinThresholds(inL.tsUsAndFile, inL.nFiles,
        inR.tsUsAndFile, inR.nFiles, delayMs)
      val keep = unix_micros(col("ts")) > thrCol(thrUs)
      val keptL = inL.rowsF.filter(keep)
      val keptR = rSuffixed(inR.rowsF.filter(keep))
      val lateIn = if (lateLeft) inL else inR
      val (dropped, keptLate) = lateCounts(lateIn.rowsF, keep)

      val cond = lKey === rKey &&
        col("r_ts") >= col("ts") - expr(s"interval $lower") &&
        col("r_ts") <= col("ts") + expr(s"interval $upper")
      val padL = if (wmF > 0) (wmF - upperMs - 1) * 1000L else Long.MinValue
      val padR = if (wmF > 0) (wmF - lowerMs - 1) * 1000L else Long.MinValue
      val keepRow = (col("event_id").isNotNull && col("r_event_id").isNotNull) ||
        (col("r_event_id").isNull && unix_micros(col("ts")) <= padL) ||
        (col("event_id").isNull && unix_micros(col("r_ts")) <= padR)
      val want = keptL.join(keptR, cond, joinType)
        .filter(keepRow)
        .select(col("event_id").as("l_eid"), col("r_event_id").as("r_eid"))

      JoinOutcome(diff(got, want).map(d =>
        s"joinv2 seed $seed: type=$joinType key=$keyName lower=$lower " +
          s"upper=$upper delay=$delayStr lateLeft=$lateLeft pLate=$pLate " +
          s"nFiles=$nFilesL/$nFilesR relocated=${lateIn.relocated} " +
          s"dropped=$dropped padded=$nullPadded: $d"),
        lateIn.relocated, dropped, keptLate, nullPadded)
    } finally {
      deleteRec(inL.dir)
      deleteRec(inR.dir)
    }
  }

  // ---- v5: seeded restart/recovery -----------------------------------------

  /** Outcome of one recovery seed: `emittedBeforeKill` rows were in the
    * file sink when the FIRST kill happened; `emittedAfterRestart` arrived
    * across the restarted phases. The spec asserts both are frequently
    * non-zero (state and sink genuinely span the kill). */
  case class RecoveryOutcome(failure: Option[String], emittedBeforeKill: Long,
                             emittedAfterRestart: Long)

  /** Move staged chunk files [from, until) into the live source dir,
    * preserving names and mtimes (Files.move keeps both). */
  private def reveal(staged: Path, live: Path, from: Int, until: Int): Unit =
    (from until until).foreach { i =>
      val f = f"chunk_$i%04d.parquet"
      Files.move(staged.resolve(f), live.resolve(f),
        StandardCopyOption.REPLACE_EXISTING)
    }

  /** Read a streaming parquet sink's output (via its _spark_metadata
    * manifest — the exactly-once view); empty/never-committed sinks read
    * as an empty frame of the sink's schema. */
  private def readSink(spark: SparkSession, out: Path,
                       schema: StructType): DataFrame =
    if (Files.exists(out.resolve("_spark_metadata")))
      spark.read.schema(schema).parquet(out.toString)
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** Run one seeded recovery case (grammar in the object scaladoc). */
  def runRecoveryCase(spark: SparkSession, sfDir: String,
                      seed: Long): RecoveryOutcome = {
    val rnd = new scala.util.Random(seed)
    val shape = rnd.nextInt(8)
    val root = Files.createTempDirectory("graft-streamfuzz-rec")
    try {
      val twoSources = shape >= 6
      val nFilesL = 3 + rnd.nextInt(3)
      val nFilesR = if (twoSources) 2 + rnd.nextInt(3) else 0
      val inL = prepareSide(spark, sfDir, rnd, nFilesL, 0.0)
      val inR = if (twoSources) prepareSide(spark, sfDir, rnd, nFilesR, 0.0)
                else null
      try {
        // the prepared dirs become the STAGING dirs; live dirs start empty
        val liveL = Files.createDirectory(root.resolve("srcL"))
        val liveR = Files.createDirectory(root.resolve("srcR"))
        val streamL = Streams.readParquetStream(spark, liveL.toString,
          inL.schema, maxFilesPerTrigger = 1)
        val streamR = if (twoSources)
          rSuffixed(Streams.readParquetStream(spark, liveR.toString,
            inR.schema, maxFilesPerTrigger = 1))
        else null

        val (df, label) = shape match {
          case 0 | 1 | 2 =>
            val hop = shape == 2
            val every = everyPool(rnd.nextInt(everyPool.length))
            val slide = if (hop) {
              val cands = slidePool.filter(s => minutesOf(s) < minutesOf(every))
              Some(cands(rnd.nextInt(cands.length)))
            } else None
            val (delayStr, _) = delayPool(rnd.nextInt(delayPool.length))
            val keys = drawDistinct(rnd, keyPool, rnd.nextInt(3)).map(_._2)
            val aggs = drawDistinct(rnd, aggPool, 1 + rnd.nextInt(3)).map(_.c)
            (Streams.windowedAgg(streamL, "ts", every, delayStr, aggs,
              extraKeys = keys, slide = slide),
              s"window hop=$hop every=$every slide=$slide delay=$delayStr")
          case 3 =>
            val unit = if (rnd.nextBoolean()) "hour" else "minute"
            val (delayStr, _) = delayPool(1 + rnd.nextInt(delayPool.length - 1))
            val keyNames = drawDistinct(rnd,
              Vector("user_id", "event_type"), 1 + rnd.nextInt(2))
            val keyed = streamL
              .withColumn("tsh", date_trunc(unit, col("ts")))
              .select(("tsh" +: keyNames).map(col): _*)
            (Streams.dedupStream(keyed, "tsh", delayStr, keyNames),
              s"dedup unit=$unit keys=$keyNames delay=$delayStr")
          case 4 | 5 =>
            val gap = gapPool(rnd.nextInt(gapPool.length))
            val (delayStr, _) = delayPool(rnd.nextInt(delayPool.length))
            val keys = drawDistinct(rnd, keyPool, 1 + rnd.nextInt(2)).map(_._2)
            val aggs = drawDistinct(rnd, aggPool, 1 + rnd.nextInt(3)).map(_.c)
            (Streams.sessionAgg(streamL, "ts", gap, delayStr, keys, aggs),
              s"session gap=$gap delay=$delayStr")
          case _ =>
            val joinType = Vector("inner", "leftOuter", "rightOuter",
              "fullOuter")(rnd.nextInt(4))
            val (keyName, lKey, rKey) =
              joinKeyPool(rnd.nextInt(joinKeyPool.length))
            val lower = boundPool(rnd.nextInt(boundPool.length))
            val upper = boundPool(rnd.nextInt(boundPool.length))
            val (delayStr, _) =
              lateDelayPool(rnd.nextInt(lateDelayPool.length))
            (Streams.intervalJoin(streamL, streamR, "ts", "r_ts", delayStr,
              lKey === rKey, lower, upper, joinType)
              .select(col("event_id").as("l_eid"),
                col("r_event_id").as("r_eid")),
              s"join type=$joinType key=$keyName lower=$lower upper=$upper " +
                s"delay=$delayStr")
        }

        // 2-3 phases; each phase boundary is a clean kill + restart from
        // the checkpoint
        val nPhases = 2 + rnd.nextInt(2)
        val cutsL = (rnd.shuffle((1 until nFilesL).toVector)
          .take(nPhases - 1).sorted :+ nFilesL).toVector
        val cutsR = if (twoSources)
          (0 until nPhases - 1).map(p =>
            math.min(nFilesR, 1 + rnd.nextInt(nFilesR))).sorted.toVector :+ nFilesR
        else Vector.fill(nPhases)(0)

        val out = root.resolve("out")
        val ckpt = root.resolve("ckpt")
        var prevL = 0
        var prevR = 0
        var emittedBeforeKill = -1L
        (0 until nPhases).foreach { p =>
          reveal(inL.dir, liveL, prevL, cutsL(p)); prevL = cutsL(p)
          if (twoSources) { reveal(inR.dir, liveR, prevR, cutsR(p)); prevR = cutsR(p) }
          val q = df.writeStream.format("parquet")
            .option("path", out.toString)
            .option("checkpointLocation", ckpt.toString)
            .outputMode("append").start()
          q.processAllAvailable()
          q.stop()
          if (p == 0) emittedBeforeKill = readSink(spark, out, df.schema).count()
        }

        // uninterrupted oracle: same plan over the now fully-revealed
        // sources, fresh sink + checkpoint
        val out2 = root.resolve("out2")
        val q2 = df.writeStream.format("parquet")
          .option("path", out2.toString)
          .option("checkpointLocation", root.resolve("ckpt2").toString)
          .outputMode("append").start()
        q2.processAllAvailable()
        q2.stop()

        val gotF = readSink(spark, out, df.schema)
        val total = gotF.count()
        RecoveryOutcome(diff(gotF, readSink(spark, out2, df.schema)).map(d =>
          s"recovery seed $seed: shape=$shape $label nFiles=$nFilesL/$nFilesR " +
            s"phases=$nPhases cuts=$cutsL/$cutsR: $d"),
          emittedBeforeKill, total - emittedBeforeKill)
      } finally {
        deleteRec(inL.dir)
        if (inR != null) deleteRec(inR.dir)
      }
    } finally deleteRec(root)
  }
}

/** Running fold state for [[StreamFuzz]] mapGroupsWithState cases. */
case class FuzzFoldState(k: Long, n: Long, acc: Double)
