package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.IntegerType

/** SQL surface for graft's native expressions — the Spark-first equivalent
  * of the reference's expression-plugin registry (SURVEY §2.11,
  * `FunctionExpr::FfiPlugin`): instead of a shared-library FFI, custom
  * Catalyst expressions are injected into the session FunctionRegistry, so
  * `spark.sql("SELECT graft_cosine(a, b) ...")` plans and codegens exactly
  * like a builtin.
  *
  * Two activation paths:
  *  - `spark.sql.extensions=graft.GraftExtensions` at session build time;
  *  - [[GraftFunctions.register]] on a live session (idempotent).
  */
object GraftFunctions {

  /** A literal argument of a SQL function, or an error naming `fn` and `arg`;
    * shared with [[PolarsSqlShims]]. */
  private[functions] def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  private[functions] def strLit(e: Expression, fn: String, arg: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be a string literal, got $other")
  }

  private def strArrayLit(e: Expression, fn: String, arg: String): Seq[String] = e match {
    case ca: org.apache.spark.sql.catalyst.expressions.CreateArray =>
      ca.children.map(strLit(_, fn, arg))
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be array('..', ..) of string literals, got $other")
  }

  /** (identifier, info, builder) triples in SparkSessionExtensions shape. */
  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashMd5].getName, "graft_minhash"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_minhash(shingles, k)")
        MinHashMd5(args.head, intLit(args(1), "graft_minhash", "k"))
      }),
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProductExpr].getName, "graft_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_dot(a, b)")
        DotProductExpr(args.head, args(1))
      }),
    (FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarityExpr].getName, "graft_cosine"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_cosine(a, b)")
        CosineSimilarityExpr(args.head, args(1))
      }),
    (FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[ShinglesExpr].getName, "graft_shingles"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_shingles(text, w)")
        ShinglesExpr(args.head, intLit(args(1), "graft_shingles", "w"))
      }),
    (FunctionIdentifier("graft_levenshtein"),
      new ExpressionInfo(classOf[LevenshteinExpr].getName, "graft_levenshtein"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_levenshtein(a, b)")
        LevenshteinExpr(args.head, args(1))
      }),
    (FunctionIdentifier("graft_text_stats"),
      new ExpressionInfo(classOf[TextStatsExpr].getName, "graft_text_stats"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_text_stats(text)")
        TextStatsExpr(args.head)
      }),
    (FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHashExpr].getName, "graft_simhash"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_simhash(text, bits)")
        SimHashExpr(args.head, intLit(args(1), "graft_simhash", "bits"))
      }),
    (FunctionIdentifier("graft_normalize"),
      new ExpressionInfo(classOf[NormalizeExpr].getName, "graft_normalize"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_normalize(text, form)")
        NormalizeExpr(args.head, strLit(args(1), "graft_normalize", "form"))
      }),
    (FunctionIdentifier("graft_replace_many"),
      new ExpressionInfo(classOf[ReplaceManyExpr].getName, "graft_replace_many"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_replace_many(s, array(pat...), array(repl...))")
        ReplaceManyExpr(args.head,
          strArrayLit(args(1), "graft_replace_many", "patterns"),
          strArrayLit(args(2), "graft_replace_many", "replacements"))
      }),
    (FunctionIdentifier("graft_contains_any"),
      new ExpressionInfo(classOf[ContainsAnyExpr].getName, "graft_contains_any"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_contains_any(s, array(pat...))")
        ContainsAnyExpr(args.head,
          strArrayLit(args(1), "graft_contains_any", "patterns"))
      }),
    (FunctionIdentifier("graft_extract_many"),
      new ExpressionInfo(classOf[ExtractManyExpr].getName, "graft_extract_many"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_extract_many(s, array(pat...))")
        ExtractManyExpr(args.head,
          strArrayLit(args(1), "graft_extract_many", "patterns"))
      }),
    (FunctionIdentifier("graft_find_many"),
      new ExpressionInfo(classOf[ExtractManyExpr].getName, "graft_find_many"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_find_many(s, array(pat...))")
        ExtractManyExpr(args.head,
          strArrayLit(args(1), "graft_find_many", "patterns"),
          findStarts = true)
      }),
    (FunctionIdentifier("graft_reinterpret"),
      new ExpressionInfo(classOf[ReinterpretExpr].getName, "graft_reinterpret"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_reinterpret(x, mode)")
        ReinterpretExpr(args.head, strLit(args(1), "graft_reinterpret", "mode"))
      }),
    // compositions of builtins (not custom Expressions) registered through
    // the same path — the SQL user gets the scrub without knowing the rule
    // set, and the plan is the identical chained RegExpReplace codegen
    (FunctionIdentifier("graft_redact_pii"),
      new ExpressionInfo("graft.text.TextAnalysis", "graft_redact_pii"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_redact_pii(text)")
        Bridge.eagerExpression(
          graft.text.TextAnalysis.redactPii(Bridge.column(args.head)))
      }),
    (FunctionIdentifier("graft_pii_count"),
      new ExpressionInfo("graft.text.TextAnalysis", "graft_pii_count"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_pii_count(text)")
        Bridge.eagerExpression(
          graft.text.TextAnalysis.piiCount(Bridge.column(args.head)))
      }),
    // Spark's native Bloom runtime-filter pair surfaced in SQL: build a
    // constant-size membership sketch, probe it inline — the 100 TB
    // alternative to broadcasting an exact digest set
    (FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo("graft.functions", "graft_bloom_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_bloom_agg(x, numBits)")
        val bits = e2long(args(1), "graft_bloom_agg", "numBits")
        require(bits >= 16,
          s"graft_bloom_agg: numBits must be >= 16, got $bits")
        // return the bare AggregateFunction — the analyzer wraps it, the
        // same contract as Spark's own registered aggregates
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(args.head)),
          Literal(bits / 16), Literal(bits))
      }),
    // one-pass exact NDV (multi-column-safe: no Expand, unlike 2+
    // count(DISTINCT) in one GROUP BY) — see functions/NdvAgg.scala
    (FunctionIdentifier("graft_ndv"),
      new ExpressionInfo(classOf[NdvAgg].getName, "graft_ndv"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_ndv(x bigint)")
        NdvAgg(args.head)
      }),
    (FunctionIdentifier("graft_bloom_might_contain"),
      new ExpressionInfo("graft.functions", "graft_bloom_might_contain"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_bloom_might_contain(sketch, x)")
        Bridge.eagerExpression(graft.functions.bloomMightContain(
          Bridge.column(args.head), Bridge.column(args(1))))
      }))

  private def e2long(e: Expression, fn: String, arg: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _) => v.toLong
    // foldable-but-composite (e.g. 2*32768): constant folding runs AFTER
    // function resolution, so evaluate here instead of rejecting
    case other if other.foldable => other.eval() match {
      case l: java.lang.Long => l
      case i: java.lang.Integer => i.toLong
      case x => throw new IllegalArgumentException(
        s"$fn: $arg must be an integer constant, got $x")
    }
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  def register(spark: SparkSession): Unit =
    (all ++ PolarsSqlShims.all).foreach { case (id, info, b) =>
      Bridge.registerFunction(spark, id, info, b) }
}
