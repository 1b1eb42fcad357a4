package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native vector kernels for the similarity-search hot loop (SURVEY's
  * training-data additions): dot product and cosine similarity over
  * `array<float>` / `array<double>` embedding columns.
  *
  * Bit-identical to the HOF composition in [[graft.functions]]
  * (`aggregate(zip_with(a, b, (x, y) => x.cast(double) * y.cast(double)),
  * 0.0, _ + _)` etc.): per-element cast to double, left-to-right double
  * accumulation, `Math.sqrt` norms, IEEE division — so swapping the
  * implementation cannot move the DuckDB oracle. One fused loop computes
  * dot + both norms instead of three interpreted HOF passes, and the
  * expression participates in whole-stage codegen.
  *
  * Null semantics follow the HOF formulation: null array → null; a null
  * element (or a length mismatch, which zip_with pads with nulls) poisons
  * the accumulator → null; two empty arrays → 0.0 dot and NaN cosine.
  *
  * One deliberate difference: cosine of a zero-norm vector is IEEE NaN
  * here, where the HOF `Divide` under Spark 4's default ANSI mode throws
  * DIVIDE_BY_ZERO. IEEE matches DuckDB (and every vector-search engine);
  * a degenerate embedding must not kill a 100 TB job.
  */
abstract class VectorBinaryExpr extends BinaryExpression with Costly {

  override def dataType: DataType = DoubleType

  // Nullable even over non-null inputs: a null ELEMENT or a length mismatch
  // yields null (zip_with pads the shorter side with nulls). The default
  // `left.nullable || right.nullable` is wrong for e.g. sequence()-built
  // arrays and made UnsafeProjection trust a value that could be null.
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float|double> args, got ${l.simpleString}, ${r.simpleString}")
    }

  protected def leftIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  protected def rightIsFloat: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Name of the static method on [[VectorUtil]] implementing this kernel. */
  protected def kernel: String

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val r =
      if (kernel == "dot")
        VectorUtil.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
          leftIsFloat, rightIsFloat)
      else
        VectorUtil.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
          leftIsFloat, rightIsFloat)
    if (r == null) null else r.doubleValue()
  }

  // Hand-rolled (NOT nullSafeCodeGen): with non-nullable children that helper
  // pins ev.isNull to FalseLiteral, so assigning `${ev.isNull} = true` emitted
  // `false = true;` — Janino "not an rvalue", whole-stage codegen disabled for
  // the entire plan. Here we declare both result variables ourselves and use a
  // ctx.freshName temp so two vector exprs inlined into one function can't
  // collide on a shared local.
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val boxed = ctx.freshName("vecRes")
    ev.copy(code = l.code + r.code + code"""
      boolean ${ev.isNull} = true;
      double ${ev.value} = 0.0;
      if (!${l.isNull} && !${r.isNull}) {
        java.lang.Double $boxed = graft.functions.VectorUtil.$kernel(
          ${l.value}, ${r.value}, $leftIsFloat, $rightIsFloat);
        if ($boxed != null) {
          ${ev.isNull} = false;
          ${ev.value} = $boxed.doubleValue();
        }
      }""")
  }
}

case class DotProductExpr(left: Expression, right: Expression) extends VectorBinaryExpr {
  override def prettyName: String = "graft_dot"
  protected def kernel: String = "dot"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProductExpr =
    copy(left = l, right = r)
}

case class CosineSimilarityExpr(left: Expression, right: Expression) extends VectorBinaryExpr {
  override def prettyName: String = "graft_cosine"
  protected def kernel: String = "cosine"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarityExpr =
    copy(left = l, right = r)
}

/** Static kernels for the vector expressions — called from generated code.
  * Return boxed Double; null means "HOF formulation would yield null". */
object VectorUtil {

  @inline private def elem(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** Σ a_i * b_i in doubles; null on any null element or length mismatch
    * (zip_with pads the shorter side with nulls → null accumulator). */
  def dot(a: ArrayData, b: ArrayData, aF: Boolean, bF: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += elem(a, i, aF) * elem(b, i, bF)
      i += 1
    }
    acc
  }

  /** dot / (sqrt(Σa²) * sqrt(Σb²)), accumulated exactly like the separate
    * HOF passes (same element order, same double ops) so results are
    * bit-identical; NaN for empty inputs (0/0), like the HOF version. */
  def cosine(a: ArrayData, b: ArrayData, aF: Boolean, bF: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = elem(a, i, aF)
      val y = elem(b, i, bF)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (Math.sqrt(na) * Math.sqrt(nb))
  }
}
