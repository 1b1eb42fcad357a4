package graft

import scala.jdk.CollectionConverters._

import graft.testing.StreamFuzz

/** Streaming-vs-batch differential fuzzing (r17 verdict task 4; late-data
  * and join grammars r18 verdict tasks 1-2):
  *
  * Seed ranges: a smoke block per family always runs; the full ranges
  * noted below require SPARK_GRAFT_SOAK=1 (see [[Soak]]).
  *
  *  - v1 (seeds 1-600): time-contiguous replays of watermarked
  *    tumbling/hopping aggregations in complete and append modes, session
  *    windows, streaming dedup and mapGroupsWithState folds, compared as
  *    exact multisets against the batch equivalent.
  *  - LATE (seeds 1-200): a drawn fraction of rows is relocated into
  *    later files so rows genuinely arrive behind the watermark; the
  *    oracle models Spark's probe-verified drop/keep semantics (late
  *    filter against the PREVIOUS batch's watermark, per (row, window)
  *    instance; complete-mode time windows never drop; sessions filter on
  *    proto-session end even in complete mode). The sweeps assert they are
  *    not vacuous: a healthy share of seeds must actually DROP rows, and a
  *    healthy share must carry late-but-kept rows.
  *  - JOIN (seeds 1-150): stream-stream interval joins (buffered
  *    two-sided state + watermark eviction) and stream-static broadcast
  *    enrichment, against batch range-join / left-join oracles.
  *  - JOIN v2 (seeds 1-150): outer interval joins with one-sided late rows.
  *  - RECOVERY (seeds 1-40): kill/restart cycles against the uninterrupted
  *    run.
  *
  * The ROCKSDB blocks re-run v1 1-100, LATE 1-100, JOIN 1-100, JOIN v2
  * 1-50 and RECOVERY 1-30 on `RocksDBStateStoreProvider`, the production
  * state backend (the other blocks use Spark's default HDFS-backed
  * provider). They are soak blocks too.
  *
  * Grammar and determinism invariants are documented on
  * [[graft.testing.StreamFuzz]]. A failing seed reproduces standalone:
  * `StreamFuzz.runCase(spark, "/root/testdata/sf0.001", seed)` (or
  * `runLateCase` / `runJoinCase`).
  */
class StreamFuzzSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def sweep(seeds: Range): Unit = {
    val failures = seeds.flatMap(s => StreamFuzz.runCase(spark, dir, s.toLong))
    assert(failures.isEmpty,
      s"${failures.size} diverging seeds:\n${failures.take(3).mkString("\n\n")}")
  }

  private def sweepLate(seeds: Range): Unit = {
    val outcomes = seeds.map(s => StreamFuzz.runLateCase(spark, dir, s.toLong))
    val failures = outcomes.flatMap(_.failure)
    assert(failures.isEmpty,
      s"${failures.size} diverging late seeds:\n${failures.take(3).mkString("\n\n")}")
    // non-vacuity: the late grammar must exercise BOTH outcomes of the
    // watermark late filter across the sweep — measured over the seeds
    // whose shape actually APPLIES the filter (complete-mode windows and
    // the unwatermarked mgs fold keep every late row trivially and would
    // otherwise satisfy the kept assertion for free; ADVICE r19)
    val applies = outcomes.filter(_.filterApplies)
    assert(applies.size >= outcomes.size / 2, "late sweep shape mix skewed")
    val dropShare = applies.count(_.dropped > 0).toDouble / applies.size
    val keptShare = applies.count(_.keptLate > 0).toDouble / applies.size
    assert(dropShare >= 0.3,
      f"only $dropShare%.2f of late seeds dropped any row — sweep is vacuous")
    assert(keptShare >= 0.3,
      f"only $keptShare%.2f of late seeds kept a late row — sweep is vacuous")
  }

  private def sweepJoin(seeds: Range): Unit = {
    val failures = seeds.flatMap(s => StreamFuzz.runJoinCase(spark, dir, s.toLong))
    assert(failures.isEmpty,
      s"${failures.size} diverging join seeds:\n${failures.take(3).mkString("\n\n")}")
  }

  // A first SMOKE block of every family always runs (grammar, oracle, and
  // the non-vacuity assertions all execute — measured ~2.5-5.5 s/seed, so
  // the smoke blocks keep the default suite inside a CI window); the full
  // seed ranges are soak coverage behind SPARK_GRAFT_SOAK=1 (r21 verdict
  // item 2 — the full sweeps alone put `sbt test` at 1h15m).
  test("stream fuzz: seeds 1-25 match their batch oracle") { sweep(1 to 25) }
  soakTest("stream fuzz: seeds 26-110 match their batch oracle") { sweep(26 to 110) }
  soakTest("stream fuzz: seeds 111-165 match their batch oracle") { sweep(111 to 165) }
  soakTest("stream fuzz: seeds 166-220 match their batch oracle") { sweep(166 to 220) }
  soakTest("stream fuzz: seeds 221-410 match their batch oracle") { sweep(221 to 410) }
  soakTest("stream fuzz: seeds 411-600 match their batch oracle") { sweep(411 to 600) }

  test("stream fuzz LATE: seeds 1-25 match the drop-model oracle") {
    sweepLate(1 to 25)
  }
  soakTest("stream fuzz LATE: seeds 26-100 match the drop-model oracle") {
    sweepLate(26 to 100)
  }
  soakTest("stream fuzz LATE: seeds 101-150 match the drop-model oracle") {
    sweepLate(101 to 150)
  }
  soakTest("stream fuzz LATE: seeds 151-200 match the drop-model oracle") {
    sweepLate(151 to 200)
  }

  private def sweepJoinV2(seeds: Range): Unit = {
    val outcomes = seeds.map(s => StreamFuzz.runJoinV2Case(spark, dir, s.toLong))
    val failures = outcomes.flatMap(_.failure)
    assert(failures.isEmpty,
      s"${failures.size} diverging joinv2 seeds:\n${failures.take(3).mkString("\n\n")}")
    // non-vacuity: across the sweep the grammar must emit null-padded
    // outer rows, drop genuinely-late rows, and keep late-but-admissible
    // rows — otherwise the outer/late arms aren't being exercised
    val padShare = outcomes.count(_.nullPadded > 0).toDouble / outcomes.size
    val dropShare = outcomes.count(_.dropped > 0).toDouble / outcomes.size
    val keptShare = outcomes.count(_.keptLate > 0).toDouble / outcomes.size
    assert(padShare >= 0.3,
      f"only $padShare%.2f of joinv2 seeds emitted a null-padded row — vacuous")
    assert(dropShare >= 0.25,
      f"only $dropShare%.2f of joinv2 seeds dropped a late row — vacuous")
    assert(keptShare >= 0.3,
      f"only $keptShare%.2f of joinv2 seeds kept a late row — vacuous")
  }

  private def sweepRecovery(seeds: Range): Unit = {
    val outcomes = seeds.map(s => StreamFuzz.runRecoveryCase(spark, dir, s.toLong))
    val failures = outcomes.flatMap(_.failure)
    assert(failures.isEmpty,
      s"${failures.size} diverging recovery seeds:\n${failures.take(3).mkString("\n\n")}")
    // non-vacuity: the kill must frequently land with output already
    // committed AND output still to come — both sides of the restart
    val beforeShare =
      outcomes.count(_.emittedBeforeKill > 0).toDouble / outcomes.size
    val afterShare =
      outcomes.count(_.emittedAfterRestart > 0).toDouble / outcomes.size
    assert(beforeShare >= 0.3,
      f"only $beforeShare%.2f of recovery seeds emitted before the kill — vacuous")
    assert(afterShare >= 0.3,
      f"only $afterShare%.2f of recovery seeds emitted after restart — vacuous")
  }

  test("stream fuzz JOIN: seeds 1-25 match their batch oracle") {
    sweepJoin(1 to 25)
  }
  soakTest("stream fuzz JOIN: seeds 26-100 match their batch oracle") {
    sweepJoin(26 to 100)
  }
  soakTest("stream fuzz JOIN: seeds 101-150 match their batch oracle") {
    sweepJoin(101 to 150)
  }

  test("stream fuzz JOIN v2 (outer + late): seeds 1-25 match the oracle") {
    sweepJoinV2(1 to 25)
  }
  soakTest("stream fuzz JOIN v2 (outer + late): seeds 26-100 match the oracle") {
    sweepJoinV2(26 to 100)
  }
  soakTest("stream fuzz JOIN v2 (outer + late): seeds 101-150 match the oracle") {
    sweepJoinV2(101 to 150)
  }

  test("stream fuzz RECOVERY: seeds 1-10 match the uninterrupted run") {
    sweepRecovery(1 to 10)
  }
  soakTest("stream fuzz RECOVERY: seeds 11-40 match the uninterrupted run") {
    sweepRecovery(11 to 40)
  }

  /** `body` with new streaming queries keeping their state in RocksDB. */
  private def onRocksDB[T](body: => T): T =
    withSQLConf("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  // the ROCKSDB blocks are soak-only; this keeps their conf honest in the
  // default suite: a stateful query started under it reports RocksDB's
  // own state-store metrics, and one started outside it does not
  test("the ROCKSDB blocks' conf puts a new query's state in RocksDB") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("graft-rocksdb-conf")
    try {
      Seq(1L, 2L, 2L).toDF("k").write.mode("overwrite").parquet(in.toString)
      def stateMetrics(): Set[String] = {
        val q = spark.readStream.schema("k LONG").parquet(in.toString)
          .groupBy("k").count()
          .writeStream.format("memory").queryName("rocksdb_conf_probe")
          .outputMode("complete").start()
        try {
          q.processAllAvailable()
          q.lastProgress.stateOperators.head.customMetrics.keySet.asScala.toSet
        } finally q.stop()
      }
      val onRocks = onRocksDB(stateMetrics())
      assert(onRocks.exists(_.startsWith("rocksdb")), onRocks)
      assert(!stateMetrics().exists(_.startsWith("rocksdb")))
    } finally StreamFuzz.deleteRec(in)
  }

  soakTest("stream fuzz ROCKSDB: seeds 1-100 match their batch oracle") {
    onRocksDB(sweep(1 to 100))
  }
  soakTest("stream fuzz ROCKSDB LATE: seeds 1-100 match the drop-model oracle") {
    onRocksDB(sweepLate(1 to 100))
  }
  soakTest("stream fuzz ROCKSDB JOIN: seeds 1-100 match their batch oracle") {
    onRocksDB(sweepJoin(1 to 100))
  }
  soakTest("stream fuzz ROCKSDB JOIN v2 (outer + late): seeds 1-50 match the oracle") {
    onRocksDB(sweepJoinV2(1 to 50))
  }
  soakTest("stream fuzz ROCKSDB RECOVERY: seeds 1-30 match the uninterrupted run") {
    onRocksDB(sweepRecovery(1 to 30))
  }
}
