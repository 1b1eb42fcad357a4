package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** w-token shingles of a text column as a native expression.
  *
  * Byte-identical to the Column composition in
  * `graft.Reference.shinglesHof` (src/test)
  * {{{
  *   toks = filter(split(lower(trim(text)), "\\s+"), t => t =!= "")
  *   when(size(toks) >= w,
  *     transform(sequence(0, size-w), i => array_join(slice(toks, i+1, w), " ")))
  *     .otherwise(array(array_join(toks, " ")))
  * }}}
  * but in one pass: the HOF version re-walks the token array per shingle and
  * allocates a lambda frame per element, all interpreted. Identical results
  * are guaranteed by delegating to the same UTF8String kernels Spark's own
  * trim/lower/split expressions use (trim → `UTF8String.trim`, lower →
  * `UTF8String.toLowerCase`, split → `UTF8String.split(regex, -1)`), then
  * joining w-windows with single spaces exactly like `array_join(…, " ")`.
  *
  * Null text → `[null]` (the HOF otherwise-branch wraps the null join), so
  * the result array itself is never null.
  */
case class ShinglesExpr(child: Expression, w: Int) extends UnaryExpression with Costly {

  require(w > 0, s"shingle width must be positive, got $w")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_shingles"

  override def eval(input: InternalRow): Any =
    ShingleUtil.shingles(child.eval(input).asInstanceOf[UTF8String], w)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(
      code = c.code + code"""
        $javaType ${ev.value} = graft.functions.ShingleUtil.shingles(
          ${c.isNull} ? null : ${c.value}, $w);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)
}

object ShingleUtil {

  private val SPACE: UTF8String = UTF8String.fromString(" ")

  @inline private def isJavaWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  /** Tokens after trim/lower/split-on-whitespace/drop-empties; null text →
    * null (mirrors `filter(split(lower(trim(null))), …)`).
    *
    * r21 (opt guide §4): the previous `split("\\s+", -1)` went through
    * `UTF8String.split` → `toString().split(regex)` — a full UTF-16
    * decode, a `Pattern.compile` PER ROW (String.split only fast-paths
    * single-literal-char patterns), and a String→UTF8String re-encode per
    * token. Java's `\s` without UNICODE_CHARACTER_CLASS is exactly the
    * ASCII set [ \t\n\x0B\f\r]; none of those bytes can occur inside a
    * UTF-8 multi-byte sequence, so the regex split's NON-EMPTY regions
    * are exactly the maximal non-whitespace byte runs — and every caller
    * here drops the empty regions (trim() only ever changed which empties
    * appeared). Scan the lowercased bytes once and emit zero-copy views.
    * Identical results, pinned by the HOF-equivalence specs.
    *
    * VALID-UTF-8 ASSUMPTION (ADVICE r21): the equivalence holds for valid
    * UTF-8 input — the old `toString().split` path normalized malformed
    * byte sequences to U+FFFD during the UTF-16 decode, while this scanner
    * emits the raw bytes unchanged, so tokens (and everything downstream:
    * shingles, minhash, simhash) can diverge on non-UTF-8-clean input.
    * Parquet/ORC/Avro string columns are valid UTF-8 by format contract,
    * which is every input graft reads; the raw-byte behavior is the
    * intended one for such inputs (no silent lossy re-encode). */
  def tokens(text: UTF8String): Array[UTF8String] = {
    if (text == null) return null
    val bytes = text.toLowerCase().getBytes
    val n = bytes.length
    var count = 0
    var inRun = false
    var i = 0
    while (i < n) {
      if (!isJavaWs(bytes(i))) { if (!inRun) { count += 1; inRun = true } }
      else inRun = false
      i += 1
    }
    val out = new Array[UTF8String](count)
    var j = 0
    i = 0
    while (i < n) {
      if (!isJavaWs(bytes(i))) {
        val start = i
        while (i < n && !isJavaWs(bytes(i))) i += 1
        out(j) = UTF8String.fromBytes(bytes, start, i - start)
        j += 1
      } else i += 1
    }
    out
  }

  def shingles(text: UTF8String, w: Int): ArrayData = {
    val toks = tokens(text)
    if (toks == null) return new GenericArrayData(Array[Any](null))
    val n = toks.length
    if (n < w) {
      // single shingle: all tokens joined (empty string for zero tokens,
      // like array_join over an empty array)
      return new GenericArrayData(Array[Any](UTF8String.concatWs(SPACE, toks: _*)))
    }
    val out = new Array[Any](n - w + 1)
    // r21: one window buffer reused across shingles — concatWs copies the
    // bytes out immediately, so the buffer never escapes the iteration
    val win = new Array[UTF8String](w)
    var i = 0
    while (i <= n - w) {
      System.arraycopy(toks, i, win, 0, w)
      out(i) = UTF8String.concatWs(SPACE, win: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}
