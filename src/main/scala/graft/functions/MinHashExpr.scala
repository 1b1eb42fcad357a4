package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** MinHash signature as a native Catalyst expression.
  *
  * Semantically identical to the Column composition
  * {{{
  *   transform(sequence(lit(0), lit(k - 1)),
  *     i => array_min(transform(sh, s => md5(concat(i.cast("string"), lit(":"), s)))))
  * }}}
  * (k permutations approximated by min(md5(i ":" shingle)); see
  * reference `crates/polars-ops` MinHash discussion and SURVEY §2 dedup) —
  * but evaluated in ONE tight JVM loop per row instead of k nested
  * interpreted higher-order-function evaluations. Higher-order functions
  * never enter whole-stage codegen, and each interpreted md5() call pays
  * expression-tree walking + UTF8String concat allocation; this expression
  * keeps the scan→project pipeline inside WholeStageCodegen (doGenCode emits
  * a single static call) and hashes each shingle's bytes k times with a
  * reused MessageDigest.
  *
  * The hex-string minimum is computed on the raw 16-byte digests (unsigned
  * byte compare) and hex-encoded once at the end — lowercase-hex encoding is
  * order-preserving, so this equals `array_min` over md5 hex strings, which
  * keeps the DuckDB oracle (same md5 formulation in SQL) byte-identical.
  */
case class MinHashMd5(child: Expression, k: Int)
    extends UnaryExpression with Costly {

  require(k > 0, s"k must be positive, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_minhash"

  // ":"-terminated band prefixes "0:", "1:", ... shared across rows.
  @transient private lazy val prefixes: Array[Array[Byte]] =
    MinHashUtil.prefixes(k)

  // A null shingle array still yields k nulls (the HOF formulation's outer
  // transform ranges over sequence(0, k-1), which never sees the null), so
  // the result itself is never null.
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    MinHashUtil.signature(child.eval(input).asInstanceOf[ArrayData], prefixes)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val pref = ctx.addReferenceObj("prefixes", prefixes, "byte[][]")
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(
      code = c.code + code"""
        $javaType ${ev.value} = graft.functions.MinHashUtil.signature(
          ${c.isNull} ? null : ${c.value}, $pref);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashMd5 =
    copy(child = newChild)
}

/** Static helpers for [[MinHashMd5]] — called from generated code. */
object MinHashUtil {

  def prefixes(k: Int): Array[Array[Byte]] =
    Array.tabulate(k)(i => (i.toString + ":").getBytes("UTF-8"))

  private val digests: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  private val HEX = "0123456789abcdef".toCharArray

  private def hex(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = HEX((d(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = HEX(d(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  // unsigned lexicographic byte compare == lexicographic compare of the
  // lowercase-hex encodings (hex is an order-preserving byte→string map)
  private def less(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  /** min over shingles of md5(prefix_i ++ shingle), per band i.
    * Null shingles are skipped (md5(concat(null)) is null and array_min
    * ignores nulls); a null/empty/all-null input yields k nulls, matching
    * the HOF composition.
    *
    * r21 (opt guide §4, per-task work): the k·n digests in this loop are
    * the dedup pipeline's CPU center at every scale, so the inner loop is
    * allocation-free — one scratch 16-byte buffer receives each digest
    * (`md.digest(buf, 0, 16)`) and SWAPS with the band's current minimum
    * when it wins, instead of allocating a fresh array per digest. Same
    * md5 values, same comparisons, same result. */
  def signature(arr: ArrayData, prefixes: Array[Array[Byte]]): ArrayData = {
    val k = prefixes.length
    val n = if (arr == null) 0 else arr.numElements()
    val mins = new Array[Array[Byte]](k)
    val md = digests.get()
    var cur = new Array[Byte](16)
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        val sb = arr.getUTF8String(j).getBytes
        var i = 0
        while (i < k) {
          md.reset()
          md.update(prefixes(i))
          md.update(sb)
          md.digest(cur, 0, 16)
          if (mins(i) == null) {
            mins(i) = cur
            cur = new Array[Byte](16)
          } else if (less(cur, mins(i))) {
            val t = mins(i); mins(i) = cur; cur = t
          }
          i += 1
        }
      }
      j += 1
    }
    val out = new Array[Any](k)
    var i = 0
    while (i < k) {
      out(i) = if (mins(i) == null) null else hex(mins(i))
      i += 1
    }
    new GenericArrayData(out)
  }
}
