package graft

import org.apache.spark.sql.functions._
import graft.text.Dedup
import graft.queries.util

/** Native ShinglesExpr must be byte-identical to the HOF formulation. */
class ShinglesExprSpec extends SparkSpec {

  test("native shingles equal HOF shingles on the real documents table") {
    val docs = util.t(spark, "/root/testdata/sf0.001", "documents")
    val both = docs.select(col("doc_id"),
      Dedup.shingles(col("text"), 3).as("native"),
      Reference.shinglesHof(col("text"), 3).as("hof"))
    val rows = both.collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"mismatch for doc_id=${r.getLong(0)}")
    }
  }

  test("edge cases match: null, empty, whitespace, short, exact-w, unicode") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (1, cast(null as string)),
        |  (2, ''),
        |  (3, '   '),
        |  (4, 'one'),
        |  (5, 'one two'),
        |  (6, 'one two three'),
        |  (7, '  Mixed   CASE\ttabs  and\nnewlines '),
        |  (8, 'Ünïcode ÉLÄN über straße')
        |AS t(id, s)""".stripMargin)
    Seq(1, 2, 3).foreach { w =>
      df.select(col("id"),
        Dedup.shingles(col("s"), w).as("native"),
        Reference.shinglesHof(col("s"), w).as("hof"))
        .collect().foreach { r =>
          assert(r.getSeq[String](1) == r.getSeq[String](2),
            s"mismatch id=${r.getInt(0)} w=$w: " +
              s"${r.getSeq[String](1)} vs ${r.getSeq[String](2)}")
        }
    }
  }

  test("shingles stay inside a codegen stage") {
    val tree = spark.range(100)
      .select(concat(lit("a b c d e f "), col("id").cast("string")).as("text"))
      .select(Dedup.shingles(col("text"), 3).as("sh"))
      .queryExecution.executedPlan.toString
    assert(tree.linesIterator.exists(l => l.contains("graft_shingles") && l.contains("*(")),
      s"graft_shingles not inside a codegen stage:\n$tree")
  }
}
