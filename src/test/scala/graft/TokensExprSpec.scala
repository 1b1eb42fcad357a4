package graft

import org.apache.spark.sql.functions._
import graft.text.TextAnalysis
import graft.queries.util

/** Native TokensExpr must be byte-identical to the HOF formulation
  * `filter(split(lower(trim(text)), "\\s+"), t => t =!= "")` — and the
  * derived TextAnalysis ops (stopwordRatio, fingerprint, minShingleHash)
  * must compute what their r21 Column compositions computed, except
  * stopwordRatio on text with leading or trailing tab / newline: its
  * denominator is the tokens() count, which drops the empty token the r21
  * split kept there, and the last test pins that.
  */
class TokensExprSpec extends SparkSpec {

  private def edgeDf = spark.sql(
    """SELECT * FROM VALUES
      |  (1, cast(null as string)),
      |  (2, ''),
      |  (3, '   '),
      |  (4, 'one'),
      |  (5, 'one two'),
      |  (6, '  Mixed   CASE\ttabs  and\nnewlines '),
      |  (7, 'Ünïcode ÉLÄN über straße'),
      |  (8, 'the  quick\tbrown\nfox the THE'),
      |  (9, 'el perro de la casa y el gato'),
      |  (10, '\t\n  \f'),
      |  (11, 'trailing spaces   '),
      |  (12, '   leading spaces')
      |AS t(id, s)""".stripMargin)

  test("native tokens equal HOF tokens on the real documents table") {
    val docs = util.t(spark, "/root/testdata/sf0.001", "documents")
    val rows = docs.select(col("doc_id"),
      TextAnalysis.tokens(col("text")).as("native"),
      Reference.tokensHof(col("text")).as("hof")).collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"mismatch for doc_id=${r.getLong(0)}")
    }
  }

  // leading / trailing whitespace that `trim` (spaces only) leaves in place
  private def wsEdgeDf = spark.sql(
    """SELECT * FROM VALUES
      |  (13, '\tthe cat'),
      |  (14, 'the cat\n'),
      |  (15, '\r\n'),
      |  (16, ' \t ')
      |AS t(id, s)""".stripMargin)

  test("edge cases match: null, empty, whitespace-only, mixed ws, unicode") {
    edgeDf.unionByName(wsEdgeDf).select(col("id"),
      TextAnalysis.tokens(col("s")).as("native"),
      Reference.tokensHof(col("s")).as("hof"))
      .collect().foreach { r =>
        val (n, h) = (r.getSeq[String](1), r.getSeq[String](2))
        assert((n == null && h == null) || n == h,
          s"mismatch id=${r.getInt(0)}: $n vs $h")
      }
  }

  test("derived ops match their r21 Column compositions") {
    // the exact pre-r22 formulations, inlined as the reference
    def stopwordRatioOld(text: org.apache.spark.sql.Column,
                         sw: Seq[String]) = {
      val toks = split(lower(trim(text)), "\\s+")
      val hits = size(filter(toks, t => t.isin(sw.map(lit(_).cast("string")): _*)))
      hits.cast("double") / greatest(size(toks), lit(1)).cast("double")
    }
    def fingerprintOld(text: org.apache.spark.sql.Column) =
      md5(array_join(array_sort(array_distinct(
        filter(split(lower(trim(text)), "\\s+"), t => t =!= ""))), " "))
    def minShingleHashOld(text: org.apache.spark.sql.Column, w: Int) = {
      val toks = filter(split(lower(trim(text)), "\\s+"), t => t =!= "")
      val n = size(toks)
      val sh = transform(sequence(lit(0), greatest(n - w, lit(0))),
        i => array_join(slice(toks, i + 1, lit(w)), " "))
      array_min(transform(sh, s => md5(s)))
    }
    val docs = util.t(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text")).unionByName(
        edgeDf.select(col("id").cast("long").as("doc_id"), col("s").as("text")))
    docs.select(col("doc_id"),
      TextAnalysis.stopwordRatio(col("text"), TextAnalysis.stopwordsEn).as("a1"),
      stopwordRatioOld(col("text"), TextAnalysis.stopwordsEn).as("b1"),
      TextAnalysis.fingerprint(col("text")).as("a2"),
      fingerprintOld(col("text")).as("b2"),
      TextAnalysis.minShingleHash(col("text"), 3).as("a3"),
      minShingleHashOld(col("text"), 3).as("b3"))
      .collect().foreach { r =>
        assert(r.get(1) == r.get(2), s"stopwordRatio mismatch doc=${r.get(0)}")
        assert(r.get(3) == r.get(4), s"fingerprint mismatch doc=${r.get(0)}")
        assert(r.get(5) == r.get(6), s"minShingleHash mismatch doc=${r.get(0)}")
      }
  }

  test("stopwordRatio on leading / trailing tab or newline is pinned") {
    // the denominator is the tokens() count: the r21 split kept the empty
    // token that a leading tab or trailing newline leaves after `trim`, so
    // "\tthe cat" gave 1/3 there and gives 1/2 now, as does the
    // text_langid oracle SQL, which divides by `tokensSql`'s count.
    val got = wsEdgeDf.orderBy("id").select(
      TextAnalysis.stopwordRatio(col("s"), TextAnalysis.stopwordsEn))
      .collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(0.5, 0.5, 0.0, 0.0))
  }

  test("tokens stay inside a codegen stage") {
    val tree = spark.range(100)
      .select(concat(lit("a b c "), col("id").cast("string")).as("text"))
      .select(TextAnalysis.tokens(col("text")).as("tk"))
      .queryExecution.executedPlan.toString
    assert(tree.linesIterator.exists(l => l.contains("graft_tokens") && l.contains("*(")),
      s"graft_tokens not inside a codegen stage:\n$tree")
  }
}
