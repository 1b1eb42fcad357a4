package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's JVM. Runs a list of query keys from the public
  * `graft.SparkEntry` battery, one at a time on one thread, and times from
  * the outside the two public calls each query makes:
  *
  *  - build: `SparkEntry.queries(key)(spark, dir)`, which returns a frame;
  *  - write: the `noop` write that plans and executes that frame.
  *
  * A run is: session set-up, one cold first pass, an untimed check pass
  * that writes every key's output as parquet for the oracle compare (and
  * warms the JVM), then timed passes, each in a seeded random order, until
  * `--seconds` have elapsed and at least [[MinTimedPasses]] ran.
  * With `--trace 1` a SparkListener and a QueryExecutionListener record
  * jobs, stages, task metrics and Catalyst phase times; the bus is drained
  * before they are read. Raw spans and counters go to `--out` as JSON; all
  * arithmetic on them happens in the Python runner.
  */
object Harness {

  /** Local property carrying the benchmark span a Spark job belongs to. */
  val SpanKey = "perfbench.span"

  val MinTimedPasses = 2

  private val epochBaseUs = System.currentTimeMillis() * 1000L
  private val nanoBase = System.nanoTime()
  /** Wall clock in epoch microseconds, monotonic within the run. */
  def nowUs(): Long = epochBaseUs + (System.nanoTime() - nanoBase) / 1000L

  /** Tiny queries with known job, stage and task counts (the self-test). */
  val selfTest: Map[String, (SparkSession, String) => DataFrame] = Map(
    // build infers the parquet schema (one job); the write scans one file
    // of one row group (one job, one stage, one task)
    "selftest_scan" -> ((s, dir) => s.read.parquet(s"$dir/region.parquet")),
    // no build job; three range splits feed one shuffle
    "selftest_shuffle" -> ((s, _) =>
      s.range(0, 3000, 1, 3).toDF().repartition(2, col("id"))))

  def query(key: String): (SparkSession, String) => DataFrame =
    selfTest.getOrElse(key, graft.SparkEntry.queries(key))

  // ---- host probes: fixed work whose time tracks only the host ---------
  @volatile private var blackhole = 0L
  private def spin(iters: Long): Long = {
    var x = 0x9e3779b97f4a7c15L
    var i = 0L
    while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }
  private def timedMs(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
  }
  def cpuSpinMs(): Double = timedMs { blackhole ^= spin(100000000L) }
  def parSpinMs(threads: Int): Double = timedMs {
    val ts = (1 to threads).map(_ => new Thread(() => {
      blackhole ^= spin(25000000L)
    }))
    ts.foreach(_.start()); ts.foreach(_.join())
  }

  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs(): Long = {
    var t = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }
  /** CPU time the hypervisor gave to other guests, summed over all CPUs
    * (the `steal` column of /proc/stat, in USER_HZ ticks of 10 ms). */
  def stealMs(): Long = {
    val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).split("\\s+")
    if (cpu.length > 8) cpu(8).toLong * 10L else 0L
  }
  /** Peak, over every GC of the run, of the memory in use right after it:
    * the live heap plus non-heap pools (metaspace, code cache). Filled from
    * the collectors' notifications once [[watchGc]] ran. */
  @volatile var peakAfterGcBytes = 0L
  @volatile var gcs = 0
  def watchGc(): Unit = ManagementFactory.getGarbageCollectorMXBeans.forEach {
    case emitter: NotificationEmitter =>
      emitter.addNotificationListener((n: Notification, _: AnyRef) => {
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          var used = 0L
          info.getGcInfo.getMemoryUsageAfterGc.values.forEach(u => used += u.getUsed)
          synchronized { peakAfterGcBytes = math.max(peakAfterGcBytes, used); gcs += 1 }
        }
      }, null, null)
    case _ =>
  }

  // ---- JSON output ------------------------------------------------------
  def q(s: String): String = if (s == null) "null" else "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => q(k) + ":" + js(v) }
    .mkString("{", ",", "}")
  def js(v: Any): String = v match {
    case null => "null"
    case s: String => q(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case Raw(s) => s
    case xs: Iterable[_] => xs.map(js).mkString("[", ",", "]")
    case other => q(other.toString)
  }
  final case class Raw(json: String)

  // ---- per-query and per-pass records ----------------------------------
  final case class QueryRun(key: String, span: String, buildUs: (Long, Long),
                            writeUs: (Long, Long), error: String) {
    def json: String = obj("key" -> key, "span" -> span,
      "build" -> Seq(buildUs._1, buildUs._2),
      "write" -> Seq(writeUs._1, writeUs._2), "error" -> error)
  }
  final case class PassRun(kind: String, startUs: Long, endUs: Long,
                           jitMs: Long, gcMs: Long, stealMs: Long,
                           queries: Seq[QueryRun]) {
    def json: String = obj("kind" -> kind, "start" -> startUs, "end" -> endUs,
      "jit_ms" -> jitMs, "gc_ms" -> gcMs, "steal_ms" -> stealMs, "queries" -> queries.map(r => Raw(r.json)))
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    watchGc()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opts.contains("oracle")) {
      // every key of the battery with its DuckDB oracle SQL
      val oracle = graft.SparkEntry.oracleSql
      Files.writeString(Paths.get(opts("oracle")), graft.SparkEntry.queries.keys
        .toSeq.sorted.map(k => q(k) + ":" + js(oracle.getOrElse(k, null)))
        .mkString("{", ",\n", "}"))
      return
    }
    val dataDir = opts("data")
    val keys = opts("keys").split(",").toSeq.filter(_.nonEmpty)
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val workDir = opts("work")

    // ---- set-up: session with graft's functions registered ------------
    val sessionStartUs = nowUs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.timeType.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    require(spark.catalog.functionExists("graft_minhash"),
      "graft functions are not registered")
    val sessionReadyUs = nowUs()
    val sc = spark.sparkContext
    keys.foreach(query) // fail before any pass on an unknown key
    val hostPre = (cpuSpinMs(), parSpinMs(cores))

    val rec = if (traced) Some(new Recorder) else None
    rec.foreach { r => sc.addSparkListener(r); spark.listenerManager.register(r) }

    // ---- passes --------------------------------------------------------
    val dumpDir = opts("dump")
    val noop: (String, DataFrame) => Unit =
      (_, df) => df.write.format("noop").mode("overwrite").save()
    // the check pass writes each output as parquet, timestamps as naive
    // values the way the DuckDB oracle emits them
    def ntz(dt: DataType): DataType = dt match {
      case TimestampType => TimestampNTZType
      case ArrayType(e, n) => ArrayType(ntz(e), n)
      case MapType(k, v, n) => MapType(ntz(k), ntz(v), n)
      case StructType(fs) => StructType(fs.map(f => f.copy(dataType = ntz(f.dataType))))
      case other => other
    }
    val dump: (String, DataFrame) => Unit = (key, df) =>
      df.schema.fields.foldLeft(df) { (d, f) =>
        val t = ntz(f.dataType)
        if (t == f.dataType) d else d.withColumn(f.name, col(f.name).cast(t))
      }.coalesce(1).write.mode("overwrite").parquet(s"$dumpDir/$key")

    var passNo = 0
    def runPass(kind: String, order: Seq[String],
                sink: (String, DataFrame) => Unit = noop): PassRun = {
      passNo += 1
      val jit0 = jitMs(); val gc0 = gcMs(); val steal0 = stealMs()
      val t0 = nowUs()
      val runs = order.zipWithIndex.map { case (key, i) =>
        val span = s"p$passNo/q$i"
        sc.setLocalProperty(SpanKey, s"$span/build")
        val b0 = nowUs()
        var b1 = -1L
        var w1 = -1L
        var err: String = null
        try {
          val df = query(key)(spark, dataDir)
          b1 = nowUs()
          sc.setLocalProperty(SpanKey, s"$span/write")
          sink(key, df)
          w1 = nowUs()
        } catch {
          case e: Throwable =>
            err = s"${e.getClass.getName}: ${e.getMessage}".take(500)
            System.err.println(s"[perfbench] $key failed: $err")
        } finally sc.setLocalProperty(SpanKey, null)
        val end = nowUs()
        if (b1 < 0) b1 = end
        QueryRun(key, span, (b0, b1), (b1, if (w1 < 0) end else w1), err)
      }
      val t1 = nowUs()
      val p = PassRun(kind, t0, t1, jitMs() - jit0, gcMs() - gc0,
        stealMs() - steal0, runs)
      // outside the timed region: cached dedup frames never leak into
      // the next pass, so every pass computes from the parquet inputs
      graft.text.Dedup.releaseCache()
      p
    }
    val rnd = new Random(seed)
    val passes = mutable.ArrayBuffer[PassRun]()
    // the cold pass runs the keys in their listed order, so what it pays
    // for JIT and class loading does not depend on the seed
    passes += runPass("first", keys)
    // untimed: outputs for the oracle check, which also warms the JVM
    passes += runPass("check", keys, dump)
    val timedStart = nowUs()
    var timed = 0
    while (timed < MinTimedPasses || (nowUs() - timedStart) < seconds * 1e6) {
      passes += runPass("timed", rnd.shuffle(keys))
      timed += 1
    }
    rec.foreach(_ => BenchBus.drain(sc))

    val hostPost = (cpuSpinMs(), parSpinMs(cores))
    val json = obj(
      "jvm_start_ms" -> jvmStartMs,
      "session_start_us" -> sessionStartUs,
      "session_ready_us" -> sessionReadyUs,
      "cores" -> cores,
      "traced" -> traced,
      "host" -> Raw(obj(
        "cpu_spin_ms" -> Seq(hostPre._1, hostPost._1),
        "par_spin_ms" -> Seq(hostPre._2, hostPost._2))),
      "peak_after_gc_bytes" -> peakAfterGcBytes,
      "gcs" -> gcs,
      "passes" -> passes.map(p => Raw(p.json)),
      "trace" -> Raw(rec.map(_.json).getOrElse("null")))
    Files.writeString(Paths.get(opts("out")), json)
    // halting skips Spark's shutdown (stopping the context, deleting its
    // local directories), which takes seconds; the runner deletes the run
    // directory itself
    System.out.flush(); System.err.flush()
    Runtime.getRuntime.halt(0)
  }
}

/** Collects Spark's public listener events for the traced run: jobs with
  * the benchmark span they ran under, per-stage task-metric aggregates,
  * and Catalyst phase times per query execution. Read only after
  * [[org.apache.spark.BenchBus.drain]]. */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Harness.{obj, Raw}

  final class Stage(val id: Int, val attempt: Int) {
    var submitMs = -1L; var endMs = -1L
    var tasks = 0; var inputTasks = 0; var emptyTasks = 0
    var inputRecords = 0L; var maxTaskInput = 0L
    var cpuNs = 0L; var runMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    def json: String = obj("id" -> id, "attempt" -> attempt,
      "submit_ms" -> submitMs, "end_ms" -> endMs, "tasks" -> tasks,
      "input_tasks" -> inputTasks, "empty_tasks" -> emptyTasks,
      "input_records" -> inputRecords, "max_task_input" -> maxTaskInput,
      "cpu_ns" -> cpuNs, "run_ms" -> runMs,
      "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
      "spill_bytes" -> spill)
  }
  final class Job(val id: Int, val span: String, val startMs: Long, val stageIds: Seq[Int]) {
    var endMs = -1L
    def json: String = obj("id" -> id, "span" -> span, "start_ms" -> startMs,
      "end_ms" -> endMs, "stages" -> stageIds)
  }

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.LinkedHashMap[(Int, Int), Stage]()
  private val qes = mutable.ArrayBuffer[String]()

  private def stage(id: Int, attempt: Int) = stages.getOrElseUpdate((id, attempt), new Stage(id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).map(_.getProperty(Harness.SpanKey)).orNull
    jobs(e.jobId) = new Job(e.jobId, span, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.submitMs = i.submissionTime.getOrElse(-1L)
    s.endMs = i.completionTime.getOrElse(-1L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val s = stage(e.stageId, e.stageAttemptId)
    s.tasks += 1
    if (m != null) {
      val in = m.inputMetrics.recordsRead
      if (in > 0) s.inputTasks += 1
      if (in == 0 && m.shuffleReadMetrics.recordsRead == 0) s.emptyTasks += 1
      s.inputRecords += in
      s.maxTaskInput = math.max(s.maxTaskInput, in)
      s.cpuNs += m.executorCpuTime
      s.runMs += m.executorRunTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
    }
  }
  private def qe(func: String, q: QueryExecution, ok: Boolean): Unit = synchronized {
    val phases = q.tracker.phases.toSeq.sortBy(_._1).map { case (name, p) =>
      name -> Seq(p.startTimeMs, p.endTimeMs)
    }
    qes += obj("func" -> func, "ok" -> ok, "phases" -> Raw(obj(phases: _*)))
  }
  override def onSuccess(func: String, q: QueryExecution, durationNs: Long): Unit = qe(func, q, ok = true)
  override def onFailure(func: String, q: QueryExecution, e: Exception): Unit = qe(func, q, ok = false)

  def json: String = synchronized {
    obj("jobs" -> jobs.values.map(j => Raw(j.json)),
      "stages" -> stages.values.map(s => Raw(s.json)),
      "qes" -> qes.map(Raw))
  }
}
