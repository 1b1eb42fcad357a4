package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** Guards for the one session factory ([[GraftSession]]): no other file
  * under `src/` builds a session, `src/main` reads no session conf or
  * environment variable beyond a fixed set and declares no main beyond a
  * fixed set, the DSL adds no broadcast hint of its own, and the mains
  * whose records are compared across rounds (`Bench`, `Verify`) run under
  * exactly the confs they ran under before the factory existed, plus
  * [[GraftExtensions]]. */
class SessionSpec extends AnyFunSuite {

  /** The repository root: the nearest directory at or above the working
    * directory that holds `build.sbt`. */
  private def repoRoot: Path =
    Iterator.iterate(Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .find(d => Files.exists(d.resolve("build.sbt")))
      .getOrElse(fail("no build.sbt at or above the working directory"))

  test("SparkSession is built only in the factory") {
    val needle = "." + "builder()" // split so this file is not a hit itself
    val src = repoRoot.resolve("src")
    val hits = Files.walk(src).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex
          .filter(_._1.contains(needle))
          .map { case (_, i) => s"${src.relativize(p)}:${i + 1}" }
      }.toList
    assert(hits.size == 1 &&
      hits.head.startsWith("main/scala/graft/GraftSession.scala:"), hits)
  }

  /** Every capture of `pattern` in the Scala sources under `src/main/scala`. */
  private def mainSourceCaptures(pattern: scala.util.matching.Regex): Set[String] = {
    val main = repoRoot.resolve("src/main/scala")
    Files.walk(main).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap(p => pattern.findAllMatchIn(new String(Files.readAllBytes(p), "UTF-8")))
      .map(_.group(1)).toSet
  }

  test("the DSL takes no per-call broadcast hint") {
    // which join side broadcasts is graft.plans.BroadcastBySize's decision
    // (with Spark's threshold), made once per query for every join API
    val call = "\\bbroadcast\\s*\\(".r
    val dsl = repoRoot.resolve("src/main/scala/graft/dsl")
    val hits = Files.walk(dsl).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex
          .filter { case (line, _) => call.findFirstIn(line).isDefined }
          .map { case (_, i) => s"${dsl.relativize(p)}:${i + 1}" }
      }.toList
    assert(hits.isEmpty, hits)
  }

  test("no new session confs or environment variables are read") {
    val graftConf = "\"(spark\\.graft\\.[\\w.]*\\w)".r
    val envRead = "(?:sys\\.env\\.?\\w*|System\\.getenv)\\(\\s*\"([^\"]+)\"".r
    assert(mainSourceCaptures(graftConf) == Set.empty[String])
    assert(mainSourceCaptures(envRead) == Set("SPARK_GRAFT_CPUS",
      "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_BENCH_PASSES",
      "SPARK_GRAFT_BENCH_WARM", "SPARK_GRAFT_SHUFFLE_CODEC"))
  }

  /** Each key's effective value under `pairs`: the pair's value when set,
    * else Spark's default for a SQL conf, else "<unset>". */
  private def effective(pairs: Seq[(String, String)],
                        keys: Set[String]): Map[String, String] = {
    val conf = new SQLConf
    pairs.foreach { case (k, v) => conf.setConfString(k, v) }
    keys.map(k => k -> Try(conf.getConfString(k)).getOrElse("<unset>")).toMap
  }

  private def assertSameEffective(now: Seq[(String, String)],
                                  before: Seq[(String, String)]): Unit = {
    val keys = (now ++ before).map(_._1).toSet
    assert(effective(now, keys) == effective(before, keys))
  }

  // the builder calls of Bench and Verify as they stood before the factory,
  // plus the one pair the factory has added since: graft's extensions (its
  // SQL functions and its planner rules) in every main
  private val extensions = "spark.sql.extensions" -> "graft.GraftExtensions"

  private def benchBefore(cpus: Int) = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.timeType.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    extensions)

  private def verifyBefore(cpus: Int) = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    "spark.sql.timeType.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    extensions)

  test("Bench and Verify sessions keep their effective confs") {
    for (cpus <- Seq(4, 32)) {
      assertSameEffective(GraftSession.conf(cpus), benchBefore(cpus))
      assertSameEffective(GraftSession.conf(cpus, Verify.extraConf: _*),
        verifyBefore(cpus))
    }
  }

  test("SPARK_GRAFT_CPUS must be a positive integer") {
    assert(GraftSession.cpus(None, 8) == 8)
    assert(GraftSession.cpus(Some(" 3 "), 8) == 3)
    for (bad <- Seq("0", "-2", "four", "2.5", "")) {
      val e = intercept[IllegalArgumentException](GraftSession.cpus(Some(bad), 8))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
    }
    // the bench's pass count goes through the same parser, before the
    // session is built: "0" would leave every key with no samples
    assert(Bench.passes(None) == 5)
    assert(Bench.passes(Some("2")) == 2)
    for (bad <- Seq("0", "-1", "abc", "")) {
      val e = intercept[IllegalArgumentException](Bench.passes(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_BENCH_PASSES") &&
        e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("the library declares exactly the six mains") {
    // each `def main(` belongs to the last object declared before it
    val objectDecl = "(?m)^\\s*(?:\\w+\\s+)*object\\s+(\\w+)".r
    val main = repoRoot.resolve("src/main/scala")
    val owners = Files.walk(main).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p =>
        val text = new String(Files.readAllBytes(p), "UTF-8")
        "def main\\(".r.findAllMatchIn(text).map { m =>
          objectDecl.findAllMatchIn(text.substring(0, m.start)).toSeq.lastOption
            .fold(s"<no object> ${main.relativize(p)}")(_.group(1))
        }
      }.toList
    assert(owners.sorted == Seq("Bench", "GroupByBench", "JoinBench", "PlanDump",
      "ScaleData", "Verify"), owners)
  }
}
