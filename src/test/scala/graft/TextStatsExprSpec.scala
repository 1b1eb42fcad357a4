package graft

import org.apache.spark.sql.functions._
import graft.text.TextAnalysis
import graft.queries.util

/** Native TextStatsExpr must match the regex formulations field by field. */
class TextStatsExprSpec extends SparkSpec {

  private def assertEqual(df: org.apache.spark.sql.DataFrame): Unit = {
    val st = graft.functions.textStats(col("s"))
    val rows = df.select(col("id"),
      st.getField("n_chars").as("nc"),
      length(col("s")).as("nc0"),
      st.getField("n_alpha").as("na"),
      length(regexp_replace(col("s"), "[^A-Za-z]", "")).as("na0"),
      st.getField("n_punct").as("np"),
      length(regexp_replace(col("s"), "[^.,;:!?]", "")).as("np0"),
      st.getField("n_tokens").as("nt"),
      Reference.tokenCountRegex(col("s")).as("nt0")).collect()
    rows.foreach { r =>
      def cmp(a: Int, b: Int, what: String): Unit =
        assert(r.isNullAt(a) == r.isNullAt(b) &&
          (r.isNullAt(a) || r.getInt(a) == r.getInt(b)),
          s"$what mismatch id=${r.get(0)}: ${r.get(a)} vs ${r.get(b)}")
      cmp(1, 2, "n_chars"); cmp(3, 4, "n_alpha")
      cmp(5, 6, "n_punct"); cmp(7, 8, "n_tokens")
    }
  }

  test("stats match regex formulations on the real documents table") {
    assertEqual(util.t(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id").as("id"), col("text").as("s")))
  }

  test("stats match on adversarial edge cases") {
    assertEqual(spark.sql(
      """SELECT * FROM VALUES
        |  (1, cast(null as string)),
        |  (2, ''),
        |  (3, '   '),
        |  (4, '\t'),
        |  (5, ' \t '),
        |  (6, 'one'),
        |  (7, '  lead and trail  '),
        |  (8, '\ttab lead'),
        |  (9, 'trail tab\t'),
        |  (10, 'a.b,c;d:e!f?g'),
        |  (11, 'Ünïcode ÉLÄN über straße 日本語 text!'),
        |  (12, 'line\nbreaks\r\nand\x0Bvertical\x0Ctabs')
        |AS t(id, s)""".stripMargin))
  }

  test("native quality score equals the regex quality score") {
    val docs = util.t(spark, "/root/testdata/sf0.001", "documents")
    val rows = docs.select(
      TextAnalysis.qualityScore(col("text")).as("q"),
      Reference.qualityScoreRegex(col("text")).as("q0")).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }
}
