package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass text statistics for quality scoring: code-point count, ASCII
  * letter count, sentence-punctuation count, whitespace token count.
  *
  * Each field is byte-identical to the Column composition it replaces in
  * [[graft.text.TextAnalysis]]:
  *  - `n_chars`  = `length(text)` (code points, `UTF8String.numChars`);
  *  - `n_alpha`  = `length(regexp_replace(text, "[^A-Za-z]", ""))` — ASCII
  *    letters survive the negated class, so this is a byte-class count;
  *  - `n_punct`  = `length(regexp_replace(text, "[^.,;:!?]", ""))`;
  *  - `n_tokens` = `when(trim(text) === "", 0)
  *                  .otherwise(size(split(trim(text), "\\s+")))` — Java
  *    `split("\\s+", -1)` counts one region per non-whitespace run PLUS one
  *    leading/trailing empty region when the space-trimmed text still
  *    starts/ends with non-space whitespace (tab, newline…); `\s` is the
  *    ASCII set `[ \t\n\x0B\f\r]` (no UNICODE_CHARACTER_CLASS).
  *
  * The regex formulation walks the text three times through java.util.regex
  * with a full replacement buffer each pass; this walks the bytes once
  * (multi-byte UTF-8 sequences can never match the ASCII classes, so byte
  * classification is exact).
  */
case class TextStatsExpr(child: Expression) extends UnaryExpression with Costly {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${t.simpleString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_chars", IntegerType, nullable = false),
    StructField("n_alpha", IntegerType, nullable = false),
    StructField("n_punct", IntegerType, nullable = false),
    StructField("n_tokens", IntegerType, nullable = false)))

  override def prettyName: String = "graft_text_stats"

  protected override def nullSafeEval(input: Any): Any =
    TextStatsUtil.stats(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextStatsUtil.stats($c);")

  override protected def withNewChildInternal(newChild: Expression): TextStatsExpr =
    copy(child = newChild)
}

object TextStatsUtil {

  @inline private def isJavaWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  def stats(text: UTF8String): InternalRow = {
    val bytes = text.getBytes
    val n = bytes.length
    var chars = 0
    var alpha = 0
    var punct = 0
    var i = 0
    while (i < n) {
      val b = bytes(i)
      // count UTF-8 lead bytes (not 10xxxxxx continuations) = code points
      if ((b & 0xc0) != 0x80) chars += 1
      if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')) alpha += 1
      else b match {
        case '.' | ',' | ';' | ':' | '!' | '?' => punct += 1
        case _ =>
      }
      i += 1
    }
    // token count over the space-trimmed text (UTF8String.trim removes
    // 0x20 only), Java split("\s+", -1) region semantics
    var lo = 0
    var hi = n
    while (lo < hi && bytes(lo) == ' ') lo += 1
    while (hi > lo && bytes(hi - 1) == ' ') hi -= 1
    var tokens = 0
    if (hi > lo) {
      var inRun = false
      var j = lo
      while (j < hi) {
        val ws = isJavaWs(bytes(j))
        if (!ws && !inRun) { tokens += 1; inRun = true }
        else if (ws) inRun = false
        j += 1
      }
      if (isJavaWs(bytes(lo))) tokens += 1      // leading empty region
      if (isJavaWs(bytes(hi - 1))) tokens += 1  // trailing empty region
    }
    new GenericInternalRow(Array[Any](chars, alpha, punct, tokens))
  }
}
