package graft.testing

import graft.GraftSession

/** Long-horizon StreamFuzz soak runner — the streaming twin of [[FuzzSoak]]
  * (the spec sweeps are the per-commit gate; this main extends the search
  * reproducibly across all five grammars).
  *
  * Usage: runMain graft.testing.StreamFuzzSoak <fromSeed> <toSeed>
  *          [sfDir] [grammar: v1|late|join|joinv2|recovery]
  * `SPARK_GRAFT_STATE_PROVIDER=rocksdb` runs the whole soak on
  * RocksDBStateStoreProvider — the production state backend — instead of
  * the default HDFS-backed provider (r19 verdict task 2: the differential
  * grammars otherwise never touch RocksDB); the JSON line records which.
  * Prints one JSON line with the failure count (late/joinv2/recovery also
  * report their non-vacuity seed shares); exits 1 on any divergence (each
  * diverging seed reproduces via the matching `StreamFuzz.run*Case`).
  */
object StreamFuzzSoak {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val from = args(0).toLong
    val to = args(1).toLong
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.001"
    val grammar = if (args.length > 3) args(3) else "v1"
    require(Set("v1", "late", "join", "joinv2", "recovery")(grammar),
      s"grammar must be v1|late|join|joinv2|recovery, got '$grammar'")
    val provider = sys.env.getOrElse("SPARK_GRAFT_STATE_PROVIDER", "default")
    require(Set("default", "rocksdb")(provider),
      s"SPARK_GRAFT_STATE_PROVIDER must be default|rocksdb, got '$provider' " +
        "— a typo here would silently soak the default provider while the " +
        "evidence line records the misspelled name")
    val rocksdb =
      if (provider == "rocksdb") Seq("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else Nil
    val spark = GraftSession.build(GraftSession.cpus(4), rocksdb: _*)
    spark.sparkContext.setLogLevel("ERROR")

    var failures = 0L
    var a = 0L // late: dropped-seeds    joinv2: padded-seeds  recovery: before>0
    var b = 0L // late: kept-late-seeds  joinv2: dropped-seeds recovery: after>0
    var c = 0L //                        joinv2: kept-late-seeds
    val t0 = System.nanoTime()
    (from to to).foreach { s =>
      val failure = grammar match {
        case "late" =>
          val o = StreamFuzz.runLateCase(spark, sfDir, s)
          if (o.dropped > 0) a += 1
          if (o.keptLate > 0) b += 1
          o.failure
        case "join" => StreamFuzz.runJoinCase(spark, sfDir, s)
        case "joinv2" =>
          val o = StreamFuzz.runJoinV2Case(spark, sfDir, s)
          if (o.nullPadded > 0) a += 1
          if (o.dropped > 0) b += 1
          if (o.keptLate > 0) c += 1
          o.failure
        case "recovery" =>
          val o = StreamFuzz.runRecoveryCase(spark, sfDir, s)
          if (o.emittedBeforeKill > 0) a += 1
          if (o.emittedAfterRestart > 0) b += 1
          o.failure
        case _ => StreamFuzz.runCase(spark, sfDir, s)
      }
      failure.foreach { msg =>
        failures += 1
        System.err.println(s"[stream-soak] seed $s DIVERGED:\n$msg")
      }
      if (s % 50 == 0) {
        val el = (System.nanoTime() - t0) / 1e9
        System.err.println(
          f"[stream-soak] through seed $s ($failures failures, $el%.0f s)")
      }
    }
    val stats = grammar match {
      case "late"   => s""","dropped_seeds":$a,"kept_late_seeds":$b"""
      case "joinv2" =>
        s""","padded_seeds":$a,"dropped_seeds":$b,"kept_late_seeds":$c"""
      case "recovery" =>
        s""","emitted_before_kill_seeds":$a,"emitted_after_restart_seeds":$b"""
      case _ => ""
    }
    println(s"""{"stream_soak_from":$from,"stream_soak_to":$to,""" +
      s""""grammar":"$grammar","provider":"$provider","failures":$failures$stats}""")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
