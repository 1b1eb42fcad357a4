package graft

import org.apache.spark.sql.functions._
import graft.{functions => gf}

/** Native dot/cosine kernels must be bit-identical to the HOF formulations
  * they replace (the DuckDB oracle reproduces the HOF math in SQL). */
class VectorExprSpec extends SparkSpec {

  private def vecs = {
    // float embeddings like the embeddings table; includes empty + null cases
    spark.sql(
      """SELECT * FROM VALUES
        |  (1, array(cast(1.5 as float), cast(-2.25 as float), cast(0.125 as float)),
        |      array(cast(0.5 as float), cast(4.0 as float), cast(-1.0 as float))),
        |  (2, array(cast(0.0 as float), cast(0.0 as float), cast(0.0 as float)),
        |      array(cast(1.0 as float), cast(2.0 as float), cast(3.0 as float))),
        |  (3, cast(array() as array<float>), cast(array() as array<float>)),
        |  (4, array(cast(1.0 as float), cast(null as float)),
        |      array(cast(1.0 as float), cast(2.0 as float))),
        |  (5, array(cast(1.0 as float)), array(cast(1.0 as float), cast(2.0 as float))),
        |  (6, cast(null as array<float>), array(cast(1.0 as float)))
        |AS t(id, a, b)""".stripMargin)
  }

  test("native dot equals HOF dot bit-for-bit (incl. null/empty/mismatch)") {
    val rows = vecs.select(col("id"),
      gf.dotProduct(col("a"), col("b")).as("native"),
      Reference.dotProductHof(col("a"), col("b")).as("hof")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2), s"null-ness mismatch id=${r.getInt(0)}")
      if (!r.isNullAt(1)) {
        val (n, h) = (r.getDouble(1), r.getDouble(2))
        assert(java.lang.Double.doubleToLongBits(n) == java.lang.Double.doubleToLongBits(h),
          s"value mismatch id=${r.getInt(0)}: $n vs $h")
      }
    }
  }

  test("native cosine equals HOF cosine bit-for-bit (non-degenerate rows)") {
    // ids 2 and 3 have zero norms: the HOF Divide throws under ANSI mode,
    // the native kernel gives IEEE NaN (checked in the next test)
    val rows = vecs.filter(!col("id").isin(2, 3)).select(col("id"),
      gf.cosineSimilarity(col("a"), col("b")).as("native"),
      Reference.cosineSimilarityHof(col("a"), col("b")).as("hof")).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2), s"null-ness mismatch id=${r.getInt(0)}")
      if (!r.isNullAt(1)) {
        val (n, h) = (r.getDouble(1), r.getDouble(2))
        assert(java.lang.Double.doubleToLongBits(n) == java.lang.Double.doubleToLongBits(h),
          s"value mismatch id=${r.getInt(0)}: $n vs $h")
      }
    }
  }

  test("native cosine is IEEE NaN on zero-norm/empty vectors (no ANSI throw)") {
    val rows = vecs.filter(col("id").isin(2, 3))
      .select(col("id"), gf.cosineSimilarity(col("a"), col("b")).as("native")).collect()
    assert(rows.length == 2)
    rows.foreach(r => assert(r.getDouble(1).isNaN, s"id=${r.get(0)} not NaN"))
  }

  test("generated code COMPILES: collect with codegen fallback disabled") {
    // The r3 defect: with non-nullable children (transform/sequence arrays),
    // nullSafeCodeGen pinned isNull to `false` and the emitted assignment
    // `false = true;` failed Janino — silently interpreted, 8× slower, and
    // invisible to plan-string tests. fallback=false makes compile errors throw.
    withSQLConf("spark.sql.codegen.fallback" -> "false") {
      val df = spark.range(100)
        .select(transform(sequence(lit(0), lit(7)),
          i => (i + col("id")).cast("float")).as("a"))
        .select(col("a"), reverse(col("a")).as("b"))
        .select(col("a"), col("b"),
          gf.cosineSimilarity(col("a"), col("b")).as("cos"),
          gf.dotProduct(col("a"), col("b")).as("dot"),
          // two vector exprs in one projection: freshName temps must not collide
          gf.dotProduct(col("b"), col("a")).as("dot2"))
      val rows = df.collect()
      assert(rows.length == 100)
      rows.foreach { r =>
        assert(!r.isNullAt(2) && !r.isNullAt(3) && !r.isNullAt(4))
        assert(r.getDouble(3) == r.getDouble(4)) // dot is symmetric
      }
    }
  }

  test("null element under codegen (fallback disabled) yields null, not garbage") {
    withSQLConf("spark.sql.codegen.fallback" -> "false") {
      val rows = vecs.select(col("id"),
        gf.dotProduct(col("a"), col("b")).as("d")).collect()
      val byId = rows.map(r => r.getInt(0) -> r).toMap
      assert(byId(4).isNullAt(1), "null element must give null")
      assert(byId(5).isNullAt(1), "length mismatch must give null")
      assert(byId(6).isNullAt(1), "null array must give null")
      assert(!byId(1).isNullAt(1))
    }
  }

  test("cosine stays inside a codegen stage over a range source") {
    val df = spark.range(50)
      .select(transform(sequence(lit(0), lit(7)),
        i => (i + col("id")).cast("float")).as("a"))
      .select(col("a"), reverse(col("a")).as("b"))
    val tree = df.select(gf.cosineSimilarity(col("a"), col("b")).as("c"))
      .queryExecution.executedPlan.toString
    assert(tree.linesIterator.exists(l => l.contains("graft_cosine") && l.contains("*(")),
      s"graft_cosine not inside a codegen stage:\n$tree")
  }
}
