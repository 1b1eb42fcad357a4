package graft

import org.apache.spark.sql.functions._
import graft.text.Dedup

/** The native MinHashMd5 expression must be byte-identical to the
  * higher-order-function formulation it replaces (which is what the DuckDB
  * oracle reproduces in SQL). */
class MinHashExprSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different text with no overlap at all whatsoever"),
      (4L, "a"),                     // fewer tokens than the shingle width
      (5L, "   "),                   // whitespace-only → single empty shingle
      (6L, "x y z x y z x y z")      // repeated shingles
    ).toDF("doc_id", "text")
  }

  test("native signature equals HOF signature on real shingles") {
    val sh = docs.select(col("doc_id"),
      array_distinct(Dedup.shingles(col("text"), 3)).as("sh"))
    val both = sh.select(
      col("doc_id"),
      Dedup.signatureFromShingles(col("sh"), 8).as("native"),
      Reference.signatureFromShinglesHof(col("sh"), 8).as("hof"))
    val rows = both.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"mismatch for doc_id=${r.getLong(0)}")
    }
  }

  test("null and empty arrays match HOF semantics") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (1, array('a b c', 'd e f')),
        |  (2, array(cast(null as string), 'd e f')),
        |  (3, cast(array() as array<string>)),
        |  (4, cast(null as array<string>))
        |AS t(id, sh)""".stripMargin)
    val both = df.select(col("id"),
      Dedup.signatureFromShingles(col("sh"), 4).as("native"),
      Reference.signatureFromShinglesHof(col("sh"), 4).as("hof"))
    both.collect().foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2), s"null-ness mismatch id=${r.getInt(0)}")
      if (!r.isNullAt(1))
        assert(r.getSeq[String](1) == r.getSeq[String](2), s"mismatch id=${r.getInt(0)}")
    }
  }

  test("r21 buffer-swap minimum: large shingle arrays still equal the HOF") {
    // The r21 allocation-free inner loop receives every digest into one
    // scratch buffer and pointer-swaps it with the band's running minimum.
    // Stress the swap bookkeeping with arrays large enough that each
    // band's minimum updates many times, plus interleaved nulls and
    // duplicate shingles (a duplicate must never displace the minimum).
    import spark.implicits._
    val big = (0 until 500).map(i => s"shingle token number $i")
    val withDups = big ++ big.take(50)
    val withNulls: Seq[String] = (null: String) +: big.take(100) :+ (null: String)
    val df = Seq((1L, big), (2L, withDups), (3L, withNulls))
      .toDF("id", "sh")
    val both = df.select(col("id"),
      Dedup.signatureFromShingles(col("sh"), 8).as("native"),
      Reference.signatureFromShinglesHof(col("sh"), 8).as("hof"))
    both.collect().foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"mismatch for id=${r.getLong(0)}")
    }
  }

  test("signature supports codegen (does not break the WholeStageCodegen span)") {
    // spark.range source (not a local relation) so ConvertToLocalRelation
    // can't constant-fold the projection away. Input built with split()
    // rather than shingles(): the shingle HOF lambdas are CodegenFallback
    // and would pull any projection containing them out of codegen — the
    // point here is that graft_minhash itself does NOT.
    val sh = spark.range(100)
      .select(concat(lit("w"), col("id").cast("string"), lit(" x y z a b")).as("text"))
      .select(split(col("text"), " ").as("sh"))
    val tree = sh.select(Dedup.signatureFromShingles(col("sh"), 8).as("sig"))
      .queryExecution.executedPlan.toString
    // '*(n)' marks operators inside a WholeStageCodegen stage
    assert(tree.linesIterator.exists(l => l.contains("graft_minhash") && l.contains("*(")),
      s"graft_minhash not inside a codegen stage:\n$tree")
  }
}
