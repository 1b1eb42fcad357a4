package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The shared whitespace token convention as a native expression.
  *
  * Byte-identical to the Column composition in
  * `graft.Reference.tokensHof` (src/test)
  * {{{
  *   filter(split(lower(trim(text)), "\\s+"), t => t =!= "")
  * }}}
  * but in one pass over the lowercased bytes ([[ShingleUtil.tokens]] — the
  * same byte-run scanner the shingle/minhash path has used since r21,
  * motivation and the `\s` ≡ ASCII-whitespace equivalence argument on that
  * method). The HOF version pays a full UTF-16 decode, a `Pattern.compile`
  * PER ROW (Spark's `StringSplit` goes through `toString().split(regex)`,
  * which only fast-paths single-literal-char patterns), a per-token
  * re-encode, and an interpreted lambda frame per element for the filter.
  *
  * Null text → null (split(null) is null and filter propagates it), hence
  * `nullable` follows the child. Non-null text never yields null elements.
  */
case class TokensExpr(child: Expression) extends UnaryExpression with Costly {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_tokens"

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      ShingleUtil.tokens(input.asInstanceOf[UTF8String])
        .asInstanceOf[Array[Any]])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = c.code + code"""
      boolean ${ev.isNull} = ${c.isNull};
      $javaType ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
          (Object[]) graft.functions.ShingleUtil.tokens(${c.value}));
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): TokensExpr =
    copy(child = newChild)
}
