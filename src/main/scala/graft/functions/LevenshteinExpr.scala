package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Edit distance: the integer Spark's `levenshtein(a, b)` computes, by the
  * Myers/Hyyrö bit-parallel algorithm (Myers, JACM 1999; Hyyrö 2003) in
  * O(⌈m/64⌉·n) word operations per pair, where Spark's dynamic program
  * fills all m·n cells ([[EditDistance.levenshtein]]). Null when either
  * side is null, as in Spark. */
case class LevenshteinExpr(left: Expression, right: Expression)
    extends BinaryExpression with Costly {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string args, got ${l.simpleString}, ${r.simpleString}")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_levenshtein"

  protected override def nullSafeEval(a: Any, b: Any): Any =
    EditDistance.levenshtein(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.EditDistance.levenshtein($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): LevenshteinExpr =
    copy(left = l, right = r)
}

/** Static kernel for [[LevenshteinExpr]], called from generated code.
  *
  * A character is what `UTF8String.levenshteinDistance` takes for one: the
  * byte run that `UTF8String.numBytesForFirstByte` gives its first byte,
  * so invalid UTF-8 splits as it does in Spark, and two characters are
  * equal when their bytes are. A truncated last character is its bytes
  * present (Spark compares the run's full width and so reads past the end
  * of the value).
  *
  * The shorter string (in characters) is the pattern: one bit per pattern
  * character in ⌈m/64⌉ words, with a match vector per distinct character
  * (a table for ASCII, a `LongMap` index for the rest). Each character of
  * the longer string then advances the vertical delta vectors of the whole
  * dynamic-programming column at once, carrying the horizontal delta from
  * word to word; the score follows the last row. */
object EditDistance {

  def levenshtein(a: UTF8String, b: UTF8String): Int = {
    val na = a.numChars()
    val nb = b.numChars()
    if (na == 0) return nb
    if (nb == 0) return na
    if (na <= nb) distance(a, na, b, nb) else distance(b, nb, a, na)
  }

  /** Distance between `pattern` (`m` > 0 characters) and `text` (`n` ≥ `m`
    * characters). The first row of each column rises by one, so the carry
    * into word 0 is +1. */
  private def distance(pattern: UTF8String, m: Int, text: UTF8String, n: Int): Int = {
    val words = (m + 63) >>> 6
    val other = mutable.LongMap.empty[Int]
    val sym = symbols(pattern, m, other, intern = true)
    val peq = new Array[Long]((128 + other.size) * words)
    var i = 0
    while (i < m) {
      peq(sym(i) * words + (i >>> 6)) |= 1L << (i & 63)
      i += 1
    }
    val tSym = symbols(text, n, other, intern = false)
    val last = 1L << ((m - 1) & 63)
    val pv = Array.fill(words)(-1L)
    val mv = new Array[Long](words)
    var score = m
    var j = 0
    while (j < n) {
      val s = tSym(j)
      val base = s * words
      var hin = 1
      var w = 0
      while (w < words) {
        var eq = if (s < 0) 0L else peq(base + w)
        val pvw = pv(w)
        val mvw = mv(w)
        val xv = eq | mvw
        if (hin < 0) eq |= 1L
        val xh = (((eq & pvw) + pvw) ^ pvw) | eq
        var ph = mvw | ~(xh | pvw)
        var mh = pvw & xh
        if (w == words - 1) {
          if ((ph & last) != 0) score += 1
          else if ((mh & last) != 0) score -= 1
        }
        val hout = (ph >>> 63).toInt - (mh >>> 63).toInt
        ph <<= 1
        mh <<= 1
        if (hin < 0) mh |= 1L
        else if (hin > 0) ph |= 1L
        pv(w) = mh | ~(xv | ph)
        mv(w) = ph & xv
        hin = hout
        w += 1
      }
      j += 1
    }
    score
  }

  /** The `n` characters of `s` as match-vector rows: an ASCII byte is its
    * own row, any other character 128 + its index in `other` (added when
    * `intern`, else -1 if absent: it matches no pattern character). */
  private def symbols(s: UTF8String, n: Int, other: mutable.LongMap[Int], intern: Boolean): Array[Int] = {
    val out = new Array[Int](n)
    val base = s.getBaseObject
    val at = s.getBaseOffset
    val bytes = s.numBytes
    var off = 0
    var i = 0
    while (i < n) {
      val b0 = Platform.getByte(base, at + off)
      if (b0 >= 0) { out(i) = b0; off += 1 }
      else {
        val len = math.min(UTF8String.numBytesForFirstByte(b0), bytes - off)
        val key = code(base, at + off, len)
        val idx = if (intern) other.getOrElseUpdate(key, other.size) else other.getOrElse(key, -1)
        out(i) = if (idx < 0) -1 else 128 + idx
        off += len
      }
      i += 1
    }
    out
  }

  /** A non-ASCII character as a key: its 1–4 bytes and their count. */
  @inline private def code(base: AnyRef, at: Long, len: Int): Long = {
    var c = len.toLong
    var k = 0
    while (k < len) {
      c = (c << 8) | (Platform.getByte(base, at + k) & 0xFF)
      k += 1
    }
    c
  }
}
