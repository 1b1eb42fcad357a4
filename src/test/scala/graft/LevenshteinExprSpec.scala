package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.EditDistance

/** `graft_levenshtein` (the bit-parallel [[graft.functions.LevenshteinExpr]])
  * computes the integer Spark's `levenshtein` computes: on null, empty and
  * identical strings, on ASCII and 2-, 3- and 4-byte UTF-8, on invalid
  * UTF-8 and a truncated last character, on lengths either side of each
  * 64-character word boundary, and on 10k seeded random pairs, through
  * the kernel itself and through Spark's interpreted and generated code. */
class LevenshteinExprSpec extends SparkSpec {

  // 1-, 2-, 3- and 4-byte characters
  private val alphabet = Array("a", "b", "c", " ", "é", "ж", "€", "中", "😀", "𝄞")

  private def randomText(rnd: Random, n: Int): String =
    Seq.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString

  /** `s` after `edits` random character inserts, deletes and substitutions,
    * so that pairs also sit at small distances. */
  private def mutate(rnd: Random, s: String, edits: Int): String = {
    val cs = s.codePoints().toArray.map((c: Int) => new String(Character.toChars(c))).toBuffer
    (1 to edits).foreach { _ =>
      val c = alphabet(rnd.nextInt(alphabet.length))
      rnd.nextInt(3) match {
        case 0 => cs.insert(rnd.nextInt(cs.length + 1), c)
        case 1 if cs.nonEmpty => cs.remove(rnd.nextInt(cs.length))
        case _ if cs.nonEmpty => cs(rnd.nextInt(cs.length)) = c
        case _ => cs += c
      }
    }
    cs.mkString
  }

  private def hex(s: String): String =
    s.getBytes("UTF-8").map(b => f"${b & 0xFF}%02X").mkString

  /** (left, right) as hex of their bytes; null for a null string. */
  private val pairs: Seq[(String, String)] = {
    val rnd = new Random(14)
    val named = Seq[(String, String)](
      (null, "abc"), ("abc", null), (null, null),
      ("", ""), ("", "abc"), ("abc", ""), ("kitten", "kitten"),
      ("kitten", "sitting"), ("flaw", "lawn"), ("intention", "execution"),
      ("naïve café", "naive cafe"), ("Ђура", "Џура"), ("中文字符", "中文字"),
      ("😀😁😂", "😀😂"), ("a😀b", "a😁b"), ("𝄞 music", "music 𝄞")
    ).map { case (a, b) => (Option(a).map(hex).orNull, Option(b).map(hex).orNull) }
    // invalid UTF-8 (lone continuation bytes, overlong and out-of-range
    // lead bytes) and a truncated last character (€ is E2 82 AC); each
    // value is shorter than 8 bytes, so the bytes Spark reads past a
    // truncated character's end are zero padding
    val invalid = Seq(
      ("80", "80"), ("80", "BF"), ("8061", "61"), ("C0AF", "C0AF"), ("C0AF", "2F"),
      ("F8", "FF"), ("FE61FF", "61"), ("E282", "E282"), ("E282", "E282AC"),
      ("61E282", "61E282AC"), ("E282", "61"), ("F09F98", "F09F9880"),
      ("E28261", "E282"), ("C3", "C3A9"), ("ED", "EDA080"))
    val widths = Seq(63, 64, 65, 127, 128, 129, 400, 1000)
    val edges = for (m <- widths; n <- widths) yield {
      val a = randomText(rnd, m)
      val b = if (m == n) mutate(rnd, a, 1 + rnd.nextInt(5)) else randomText(rnd, n)
      (hex(a), hex(b))
    }
    val random = Seq.fill(10000) {
      val a = randomText(rnd, rnd.nextInt(150))
      val b = if (rnd.nextBoolean()) mutate(rnd, a, rnd.nextInt(12)) else randomText(rnd, rnd.nextInt(150))
      (hex(a), hex(b))
    }
    named ++ invalid ++ edges ++ random
  }

  private def bytes(h: String): Array[Byte] =
    h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  test("the kernel equals UTF8String.levenshteinDistance on every pair") {
    val bad = pairs.collect { case (a, b) if a != null && b != null =>
      val (x, y) = (UTF8String.fromBytes(bytes(a)), UTF8String.fromBytes(bytes(b)))
      (a, b, EditDistance.levenshtein(x, y), x.levenshteinDistance(y))
    }.filter { case (_, _, g, s) => g != s }
    assert(bad.isEmpty, s"${bad.size} mismatches, first: ${bad.take(3)}")
  }

  private def compared(dir: String): DataFrame = {
    val a = col("a").cast("string")
    val b = col("b").cast("string")
    spark.read.parquet(dir)
      .select(col("id"), unhex(col("ah")).as("a"), unhex(col("bh")).as("b"))
      .select(col("id"),
        graft.functions.editDistance(a, b).as("graft"),
        expr("graft_levenshtein(cast(a as string), cast(b as string))").as("graft_sql"),
        levenshtein(a, b).as("spark"))
  }

  test("graft_levenshtein equals levenshtein in interpreted and generated code") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lev").resolve("pairs").toString
    pairs.zipWithIndex.map { case ((a, b), i) => (i, a, b) }
      .toDF("id", "ah", "bh").coalesce(1).write.parquet(dir)
    def check(mode: String): Unit = {
      val df = compared(dir)
      val rows = df.collect()
      assert(rows.length == pairs.length)
      val bad = rows.filterNot(r =>
        (r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3)) ||
          (!r.isNullAt(1) && r.getInt(1) == r.getInt(3) && r.getInt(2) == r.getInt(3)))
      assert(bad.isEmpty, s"$mode: ${bad.length} mismatches, first: ${bad.take(3).mkString(", ")}")
      assert(rows.count(_.isNullAt(1)) == 3, mode)
    }
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      check("interpreted")
    }
    withSQLConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false") {
      check("codegen")
      val plan = compared(dir).queryExecution.executedPlan.toString
      assert(plan.linesIterator.exists(l => l.contains("graft_levenshtein") && l.contains("*(")),
        s"graft_levenshtein not inside a codegen stage:\n$plan")
    }
  }
}
