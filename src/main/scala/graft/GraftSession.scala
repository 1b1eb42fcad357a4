package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every main (and the test suite's shared
  * session) gets its SparkSession here, so the policy the query battery
  * depends on is written down once.
  *
  * - `local[cpus]`, with `cpus` also sizing the shuffle partitions.
  * - The key-running confs: UTC session time zone, Spark 4.1's TIME type
  *   flag (`dtype_time_native`, `range_time`), and
  *   `parquet.nanosAsLong` (events.ts may ship as TIMESTAMP(NANOS);
  *   `queries/util.t` normalizes it). Both flags must be live at schema
  *   inference and scan time, so they are set here and never inside a
  *   query lambda.
  * - AQE on, UI off.
  * - [[GraftExtensions]]: graft's functions in SQL and its planner rules,
  *   so every main runs the plans the test suite checks.
  *
  * A caller passes only the confs that are its own as `extra` pairs (the
  * Verify dump's timestamp type, a bench's shuffle codec); they are
  * applied after the shared ones.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, or the caller's own default when it is unset. */
  def cpus(default: Int): Int = cpus(sys.env.get("SPARK_GRAFT_CPUS"), default)

  /** [[cpus]] over a given value of `SPARK_GRAFT_CPUS`. */
  def cpus(env: Option[String], default: Int): Int =
    positiveInt("SPARK_GRAFT_CPUS", env, default)

  /** The value `env` of the environment variable `name`: a positive
    * integer, `default` when unset, else an error that names the variable. */
  def positiveInt(name: String, env: Option[String], default: Int): Int =
    env.fold(default) { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"$name must be a positive integer, got '$v'"))
    }

  /** The conf pairs [[build]] applies, in order (`spark.master` first). */
  def conf(cpus: Int, extra: (String, String)*): Seq[(String, String)] =
    Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.timeType.enabled" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.ui.enabled" -> "false") ++ extra

  /** Build (or join) the JVM's session under [[conf]], logging at WARN. */
  def build(cpus: Int, extra: (String, String)*): SparkSession = {
    val spark = conf(cpus, extra: _*)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
