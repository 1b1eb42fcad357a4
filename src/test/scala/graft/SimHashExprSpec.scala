package graft

import org.apache.spark.sql.functions._
import graft.text.Dedup
import graft.queries.util

/** Native SimHashExpr must equal the HOF formulation bit for bit. */
class SimHashExprSpec extends SparkSpec {

  test("native simhash equals HOF simhash on the real documents table") {
    val docs = util.t(spark, "/root/testdata/sf0.001", "documents")
    val rows = docs.select(col("doc_id"),
      Dedup.simhash(col("text")).as("native"),
      Reference.simhashHof(col("text")).as("hof")).collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"mismatch doc_id=${r.getLong(0)}")
    }
  }

  test("edge cases: null, empty, repeated tokens, unicode, other widths") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (1, cast(null as string)), (2, ''), (3, '   '),
        |  (4, 'one one one'), (5, 'a b a b c'),
        |  (6, 'Ünïcode über straße 日本語')
        |AS t(id, s)""".stripMargin)
    Seq(8, 16, 32).foreach { bits =>
      df.select(col("id"),
        Dedup.simhash(col("s"), bits).as("native"),
        Reference.simhashHof(col("s"), bits).as("hof"))
        .collect().foreach { r =>
          assert(r.getLong(1) == r.getLong(2), s"mismatch id=${r.getInt(0)} bits=$bits")
        }
    }
  }
}
