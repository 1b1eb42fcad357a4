package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SimHash signature as a native expression — byte-identical to the HOF
  * formulation `graft.Reference.simhashHof` (src/test): distinct
  * whitespace tokens of the lower/trimmed text, per-token 32-bit hash from
  * the first 8 hex chars of md5, signed ±1 votes per bit position, bit set
  * where the vote sum is positive.
  *
  * The HOF tree evaluates `bits` separate interpreted `aggregate` passes
  * over the token-hash array (16 × n lambda frames per document); this
  * hashes each distinct token once and accumulates all bit votes in one
  * loop. Null/empty text yields 0L like the HOF version (null vote sums
  * fall to the otherwise-0 branch).
  */
case class SimHashExpr(child: Expression, bits: Int) extends UnaryExpression with Costly {

  require(bits > 0 && bits <= 32, s"bits must be in [1, 32], got $bits")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${t.simpleString}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_simhash"

  override def eval(input: InternalRow): Any =
    SimHashUtil.simhash(child.eval(input).asInstanceOf[UTF8String], bits)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = c.code + code"""
        long ${ev.value} = graft.functions.SimHashUtil.simhash(
          ${c.isNull} ? null : ${c.value}, $bits);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashExpr =
    copy(child = newChild)
}

object SimHashUtil {

  private val digests: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  def simhash(text: UTF8String, bits: Int): Long = {
    val toks = ShingleUtil.tokens(text)
    if (toks == null || toks.isEmpty) return 0L
    val seen = new java.util.HashSet[UTF8String](toks.length * 2)
    val votes = new Array[Long](bits)
    val md = digests.get()
    // r21: digest into one reused buffer — same per-token md5 bytes, no
    // 16-byte allocation per distinct token (mirrors MinHashUtil)
    val d = new Array[Byte](16)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (seen.add(t)) {
        md.reset()
        md.update(t.getBytes)
        md.digest(d, 0, 16)
        // first 8 hex chars == first 4 digest bytes, unsigned 32-bit value
        val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        var b = 0
        while (b < bits) {
          votes(b) += (if (((h >> b) & 1L) == 1L) 1L else -1L)
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) {
      if (votes(b) > 0) out |= 1L << b
      b += 1
    }
    out
  }
}
