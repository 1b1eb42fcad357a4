package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session). */
object TestSpark {
  lazy val spark: SparkSession = {
    // the factory loads graft's extensions, so the whole suite proves the
    // spark.sql.extensions entry point end-to-end
    val s = GraftSession.build(4,
      "spark.sql.warehouse.dir" -> "/tmp/graft_test/warehouse")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Env gate for the soak portion of the suite (r21 verdict item 2: the
  * full fuzz-seed sweeps put `sbt test` at 1h15m, which no CI window fits
  * — the default suite must complete in minutes). `SPARK_GRAFT_SOAK=1`
  * runs everything; the default keeps the FIRST seed block of every fuzz
  * family (each family's grammar, oracle, and non-vacuity assertions all
  * execute) and marks the deeper blocks ignored, so coverage loss is
  * visible in the run summary rather than silent. */
object Soak {
  val on: Boolean = sys.env.get("SPARK_GRAFT_SOAK").exists(_.trim == "1")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Register `name` as a live test when `SPARK_GRAFT_SOAK=1`, as an
    * ignored test otherwise. */
  def soakTest(name: String)(body: => Any): Unit =
    if (Soak.on) test(name)(body) else ignore(name)(body)

  /** `body`'s result and the number of Spark jobs that started while it
    * ran. The listener bus is drained before and after, never slept on. */
  def jobsStarted[T](body: => T): (T, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
      (r, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Run `body` with the given SQL confs set, restoring prior values after.
    * A conf that was unset is unset again, not set to its default:
    * `graft.plans.BroadcastBySize` turns off when Spark's threshold is set
    * at all. */
  def withSQLConf[T](pairs: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val saved = pairs.map { case (k, _) => k -> conf.getAll.get(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }
}
