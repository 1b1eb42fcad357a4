package graft.testing

import java.sql.{Date, Timestamp}
import java.time.LocalDate

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Differential plan fuzzing (r15 verdict task 2; reference model:
  * py-polars/src/polars/testing/parametric/ — the hypothesis layer polars
  * tests itself with, generating random frames + operations and checking
  * laws). The 316 oracle keys are FIXED shapes; this generates random ones.
  *
  * Each seed deterministically produces one case with THREE independently
  * computed results:
  *   1. a plan built through the DataFrame DSL (the surface graft wraps);
  *   2. the equivalent ANSI SQL executed via `spark.sql` over temp views —
  *      an independent path through Catalyst's parser/analyzer, and the
  *      same emission discipline `SparkEntry.oracleSql` uses (the SQL is
  *      intentionally the portable subset both Spark and DuckDB parse);
  *   3. a driver-side collection MODEL: a from-scratch reimplementation of
  *      the plan semantics over Scala collections — Kleene 3-valued
  *      logic, null-propagating arithmetic, Spark's NaN total order
  *      (NaN = NaN, NaN greatest), null join keys never match, null
  *      group keys form a group, -0.0 == 0.0 — so an engine-level
  *      divergence cannot hide (paths 1 and 2 share the executor; path 3
  *      shares nothing).
  * Results compare as canonicalized multisets; a failure prints the seed,
  * the SQL, and both row sets, and reproduces exactly from the seed.
  *
  * Plan grammar per case (seeded draws):
  *   (base t0 | t0 UNION [ALL]/INTERSECT/EXCEPT t1 on the narrow key
  *   projection) → [filter] → [join t1 (inner|left) on k0/k1] → [filter] →
  *   [window (partitioned running agg / row_number / lag / lead,
  *   unique-rid order)] → [explode(array col) — inner Generate] →
  *   (project exprs | groupBy(keys).agg(aggs) [HAVING agg0 > t when the
  *    head agg is long-typed — r17] | distinct(projection)
  *    | ORDER BY rid LIMIT k
  *    | as-of terminal — LazyFrame.joinAsof keyless backward/forward/
  *      nearest vs a non-equi correlated-scalar ANSI emulation (r17;
  *      nearest added r18 — two directional scalars + distance CASE,
  *      tie → backward, matching ops/AsOf.scala)
  *    | inequality-join terminal — LazyFrame.joinWhere (grid IEJoin) vs
  *      Spark SQL theta join (r17))
  * Expression grammar: column refs, literals, +,-,*, string concat/upper/
  * substring/length, date year/date_add, struct field access, array
  * size/try_element_at, comparisons over every orderable kind, IS NULL,
  * IN lists, AND/OR/NOT, CASE WHEN. Aggregates: count(*)/count/sum(long)/
  * sum(decimal)/min/max. Window: sum/count/min/max/row_number over
  * ROWS UNBOUNDED PRECEDING..CURRENT ROW.
  *
  * Value domains are collision-rich (tiny key spaces, ~15% nulls, NaN/±Inf
  * in doubles, unicode strings) so joins match, groups collide, and the
  * three-valued-logic edges actually fire. Doubles never enter aggregates
  * or keys (cross-path float reassociation is the one legitimate
  * divergence class); they appear in projections and comparisons, which
  * are per-row exact.
  */
object PlanFuzz {

  // ---- kinds ----------------------------------------------------------------

  sealed trait Kind
  case object KLong extends Kind
  case object KDouble extends Kind
  case object KStr extends Kind
  case object KBool extends Kind
  case object KDate extends Kind
  case object KDec extends Kind
  case object KTs extends Kind
  case object KArr extends Kind   // array<long>
  case object KStruct extends Kind // struct<a:long, b:string>

  final case class Col(name: String, kind: Kind)

  /** A typed expression: SQL text, DSL column, and the model evaluator
    * over a row (name → value; null = SQL NULL). */
  final case class Ex(sql: String, col: Column, ev: Map[String, Any] => Any,
                      kind: Kind)

  /** An aggregate: SQL text, DSL column, model over the group's rows. */
  final case class Ag(sql: String, col: Column, ev: Seq[Map[String, Any]] => Any)

  /** One fuzz case: plan results via DSL, via SQL, and via the model. */
  final case class Case(seed: Long, sql: String, df: DataFrame,
                        model: Seq[Map[String, Any]], outCols: Seq[Col])

  // ---- base frames ----------------------------------------------------------

  private val vocabK = Seq("a", "b", "c", "αβ", "x", "yy")
  private val vocabS = Seq("", "s1", "s2", "αγ δ", "zz", "m n", "q", "LONGERSTR")

  val baseSchema: Seq[Col] = Seq(
    Col("rid", KLong), Col("k0", KLong), Col("k1", KStr), Col("i0", KLong),
    Col("d0", KDouble), Col("s0", KStr), Col("dt0", KDate), Col("b0", KBool),
    Col("dec0", KDec), Col("ts0", KTs), Col("a0", KArr), Col("st0", KStruct))

  private val sparkSchema = StructType(Seq(
    StructField("rid", LongType, nullable = false),
    StructField("k0", LongType), StructField("k1", StringType),
    StructField("i0", LongType), StructField("d0", DoubleType),
    StructField("s0", StringType), StructField("dt0", DateType),
    StructField("b0", BooleanType), StructField("dec0", DecimalType(12, 2)),
    StructField("ts0", TimestampType),
    StructField("a0", ArrayType(LongType)),
    StructField("st0", StructType(Seq(
      StructField("a", LongType), StructField("b", StringType))))))

  private val epochTs = java.time.Instant.parse("2021-03-01T00:00:00Z")

  private def nl[T](rnd: Random, ratio: Double)(v: => T): Any =
    if (rnd.nextDouble() < ratio) null else v

  private def genValue(rnd: Random, k: Kind): Any = k match {
    case KLong   => nl(rnd, 0.15)(rnd.nextLong(26) - 5L)
    case KDouble => nl(rnd, 0.15)(rnd.nextInt(9) match {
      case 0 => Double.NaN
      case 1 => Double.PositiveInfinity
      case 2 => Double.NegativeInfinity
      // exact binary fractions only: the model must match bit-for-bit
      case n => Seq(-2.5, 0.0, 1.25, 3.5, 7.75, 100.0)(n % 6)
    })
    case KStr  => nl(rnd, 0.15)(vocabS(rnd.nextInt(vocabS.length)))
    case KBool => nl(rnd, 0.15)(rnd.nextBoolean())
    case KDate => nl(rnd, 0.15)(
      Date.valueOf(LocalDate.of(2020, 1, 1).plusDays(rnd.nextInt(10))))
    case KDec => nl(rnd, 0.15)(
      new java.math.BigDecimal(rnd.nextInt(601) - 300).movePointLeft(2)
        .setScale(2))
    case KTs => nl(rnd, 0.15)(
      Timestamp.from(epochTs.plusSeconds(rnd.nextInt(48) * 3600L)))
    case KArr => nl(rnd, 0.2)(
      (0 until rnd.nextInt(4)).map(_ => nl(rnd, 0.1)(rnd.nextLong(6))).toSeq)
    case KStruct => nl(rnd, 0.2)(
      Seq(nl(rnd, 0.1)(rnd.nextLong(5)),
          nl(rnd, 0.1)(vocabK(rnd.nextInt(3)))))
  }

  /** One seeded base frame: model rows + the registered Spark frame. */
  private def genBase(spark: SparkSession, rnd: Random, view: String)
      : (Seq[Map[String, Any]], DataFrame) = {
    val n = rnd.nextInt(41)
    val rows = (0 until n).map { i =>
      Map[String, Any]("rid" -> i.toLong) ++
        baseSchema.tail.map(c =>
          c.name -> (if (c.name == "k0") nl(rnd, 0.15)(rnd.nextLong(7))
                     else if (c.name == "k1") nl(rnd, 0.15)(vocabK(rnd.nextInt(vocabK.length)))
                     else genValue(rnd, c.kind))).toMap
    }
    val sparkRows = rows.map { m =>
      Row(baseSchema.map { c =>
        m(c.name) match {
          case null => null
          case s: Seq[_] if c.kind == KStruct => Row(s(0), s(1))
          case v => v
        }
      }: _*)
    }
    val df = spark.createDataFrame(sparkRows.asJava, sparkSchema)
    df.createOrReplaceTempView(view)
    (rows, df)
  }

  // ---- spark-semantics primitives for the model ------------------------------

  /** Spark's double comparison: NaN = NaN, NaN greatest, -0.0 = 0.0. */
  private def cmpDouble(a: Double, b: Double): Int =
    if (a.isNaN && b.isNaN) 0
    else if (a.isNaN) 1
    else if (b.isNaN) -1
    else if (a == b) 0 // handles -0.0 == 0.0
    else java.lang.Double.compare(a, b)

  private def cmp(k: Kind, a: Any, b: Any): Int = k match {
    case KLong => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case KDouble => cmpDouble(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case KStr => a.asInstanceOf[String].compareTo(b.asInstanceOf[String])
    case KBool => java.lang.Boolean.compare(a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
    case KDate => a.asInstanceOf[Date].toLocalDate.compareTo(b.asInstanceOf[Date].toLocalDate)
    case KDec => a.asInstanceOf[java.math.BigDecimal].compareTo(b.asInstanceOf[java.math.BigDecimal])
    case KTs => a.asInstanceOf[Timestamp].toInstant.compareTo(b.asInstanceOf[Timestamp].toInstant)
    case other => throw new IllegalArgumentException(s"not orderable: $other")
  }

  private def np1(a: Any)(f: Any => Any): Any = if (a == null) null else f(a)
  private def np2(a: Any, b: Any)(f: (Any, Any) => Any): Any =
    if (a == null || b == null) null else f(a, b)

  /** Kleene three-valued AND/OR/NOT — Spark's null logic exactly. */
  private def and3(a: Any, b: Any): Any =
    if (a == java.lang.Boolean.FALSE || b == java.lang.Boolean.FALSE) false
    else if (a == null || b == null) null else true
  private def or3(a: Any, b: Any): Any =
    if (a == java.lang.Boolean.TRUE || b == java.lang.Boolean.TRUE) true
    else if (a == null || b == null) null else false
  private def not3(a: Any): Any = np1(a)(v => !v.asInstanceOf[Boolean])

  // ---- expression generator ---------------------------------------------------

  private def colsOf(schema: Seq[Col], k: Kind): Seq[Col] =
    schema.filter(_.kind == k)

  private def pick[T](rnd: Random, xs: Seq[T]): T = xs(rnd.nextInt(xs.length))

  private def colRef(c: Col): Ex = Ex(c.name, col(c.name), _(c.name), c.kind)

  def genLong(rnd: Random, schema: Seq[Col], depth: Int): Ex = {
    val leaves = colsOf(schema, KLong)
    val choice = if (depth <= 0) rnd.nextInt(2) else rnd.nextInt(11)
    choice match {
      case 8 =>
        val (a, b) = (genLong(rnd, schema, depth - 1), genLong(rnd, schema, depth - 1))
        Ex(s"COALESCE(${a.sql}, ${b.sql})", coalesce(a.col, b.col),
          r => { val x = a.ev(r); if (x != null) x else b.ev(r) }, KLong)
      case 9 =>
        val a = genLong(rnd, schema, depth - 1)
        Ex(s"ABS(${a.sql})", abs(a.col),
          r => np1(a.ev(r))(v => math.abs(v.asInstanceOf[Long])), KLong)
      case 10 =>
        // GREATEST/LEAST ignore nulls in Spark (null only when ALL null)
        val (a, b) = (genLong(rnd, schema, depth - 1), genLong(rnd, schema, depth - 1))
        val isMax = rnd.nextBoolean()
        val (nm, c) = if (isMax) ("GREATEST", greatest(a.col, b.col))
                      else ("LEAST", least(a.col, b.col))
        Ex(s"$nm(${a.sql}, ${b.sql})", c, { r =>
          val (x, y) = (a.ev(r), b.ev(r))
          if (x == null) y else if (y == null) x
          else {
            val (xv, yv) = (x.asInstanceOf[Long], y.asInstanceOf[Long])
            if (isMax) math.max(xv, yv) else math.min(xv, yv)
          }
        }, KLong)
      case 0 if leaves.nonEmpty => colRef(pick(rnd, leaves))
      case 0 | 1 =>
        val v = rnd.nextLong(9) - 3L
        Ex(s"CAST($v AS BIGINT)", lit(v), _ => v, KLong)
      case 2 | 3 =>
        val (a, b) = (genLong(rnd, schema, depth - 1), genLong(rnd, schema, depth - 1))
        val op = pick(rnd, Seq("+", "-", "*"))
        val f: (Long, Long) => Long = op match {
          case "+" => _ + _; case "-" => _ - _; case _ => _ * _
        }
        Ex(s"(${a.sql} $op ${b.sql})",
          op match { case "+" => a.col + b.col; case "-" => a.col - b.col
                     case _   => a.col * b.col },
          r => np2(a.ev(r), b.ev(r))((x, y) =>
            f(x.asInstanceOf[Long], y.asInstanceOf[Long])), KLong)
      case 4 =>
        val c = genBool(rnd, schema, depth - 1)
        val (t, e) = (genLong(rnd, schema, depth - 1), genLong(rnd, schema, depth - 1))
        Ex(s"(CASE WHEN ${c.sql} THEN ${t.sql} ELSE ${e.sql} END)",
          when(c.col, t.col).otherwise(e.col),
          r => if (c.ev(r) == java.lang.Boolean.TRUE) t.ev(r) else e.ev(r), KLong)
      case 5 if colsOf(schema, KStr).nonEmpty =>
        val s = colRef(pick(rnd, colsOf(schema, KStr)))
        Ex(s"CAST(LENGTH(${s.sql}) AS BIGINT)", length(s.col).cast("long"),
          r => np1(s.ev(r))(v => v.asInstanceOf[String].length.toLong), KLong)
      case 6 if colsOf(schema, KArr).nonEmpty =>
        val a = colRef(pick(rnd, colsOf(schema, KArr)))
        Ex(s"CAST(SIZE(${a.sql}) AS BIGINT)", size(a.col).cast("long"),
          r => np1(a.ev(r))(v => v.asInstanceOf[Seq[_]].length.toLong), KLong)
      case 7 if colsOf(schema, KStruct).nonEmpty =>
        val s = colRef(pick(rnd, colsOf(schema, KStruct)))
        Ex(s"${s.sql}.a", s.col.getField("a"),
          r => np1(s.ev(r))(v => v.asInstanceOf[Seq[Any]].head), KLong)
      case 6 | 7 if colsOf(schema, KDate).nonEmpty =>
        val d = colRef(pick(rnd, colsOf(schema, KDate)))
        rnd.nextInt(3) match {
          case 0 =>
            Ex(s"CAST(YEAR(${d.sql}) AS BIGINT)", year(d.col).cast("long"),
              r => np1(d.ev(r))(v =>
                v.asInstanceOf[Date].toLocalDate.getYear.toLong), KLong)
          case 1 =>
            Ex(s"CAST(MONTH(${d.sql}) AS BIGINT)", month(d.col).cast("long"),
              r => np1(d.ev(r))(v =>
                v.asInstanceOf[Date].toLocalDate.getMonthValue.toLong), KLong)
          case _ =>
            Ex(s"CAST(DAY(${d.sql}) AS BIGINT)", dayofmonth(d.col).cast("long"),
              r => np1(d.ev(r))(v =>
                v.asInstanceOf[Date].toLocalDate.getDayOfMonth.toLong), KLong)
        }
      case _ => genLong(rnd, schema, 0)
    }
  }

  def genStr(rnd: Random, schema: Seq[Col], depth: Int): Ex = {
    val leaves = colsOf(schema, KStr)
    val choice = if (depth <= 0) rnd.nextInt(2) else rnd.nextInt(7)
    choice match {
      case 5 =>
        val a = genStr(rnd, schema, depth - 1)
        Ex(s"REPLACE(${a.sql}, 'a', 'X')", regexp_replace(a.col, "a", "X"),
          r => np1(a.ev(r))(v => v.asInstanceOf[String].replace("a", "X")), KStr)
      case 6 =>
        // LPAD pads to length 5 — and TRUNCATES longer strings to 5
        val a = genStr(rnd, schema, depth - 1)
        Ex(s"LPAD(${a.sql}, 5, '_')", lpad(a.col, 5, "_"),
          r => np1(a.ev(r)) { v =>
            val s = v.asInstanceOf[String]
            if (s.length >= 5) s.substring(0, 5)
            else ("_" * (5 - s.length)) + s
          }, KStr)
      case 0 if leaves.nonEmpty => colRef(pick(rnd, leaves))
      case 0 | 1 =>
        val v = pick(rnd, vocabK)
        Ex(s"'$v'", lit(v), _ => v, KStr)
      case 2 =>
        val (a, b) = (genStr(rnd, schema, depth - 1), genStr(rnd, schema, depth - 1))
        // `||` — NULL-propagating in both Spark and DuckDB (CONCAT is not
        // null-propagating in DuckDB; emit the portable spelling)
        Ex(s"(${a.sql} || ${b.sql})", concat(a.col, b.col),
          r => np2(a.ev(r), b.ev(r))((x, y) =>
            x.asInstanceOf[String] + y.asInstanceOf[String]), KStr)
      case 3 =>
        val a = genStr(rnd, schema, depth - 1)
        Ex(s"UPPER(${a.sql})", upper(a.col),
          r => np1(a.ev(r))(v => v.asInstanceOf[String].toUpperCase), KStr)
      case _ =>
        val a = genStr(rnd, schema, depth - 1)
        Ex(s"SUBSTRING(${a.sql}, 1, 2)", substring(a.col, 1, 2),
          r => np1(a.ev(r)) { v =>
            val s = v.asInstanceOf[String]; s.substring(0, math.min(2, s.length))
          }, KStr)
    }
  }

  def genBool(rnd: Random, schema: Seq[Col], depth: Int): Ex = {
    def comparison(): Ex = {
      val kinds = Seq(KLong, KStr, KDate, KDec, KTs, KDouble)
        .filter(k => k == KLong || k == KStr || colsOf(schema, k).nonEmpty)
      val k = pick(rnd, kinds)
      val (a, b) = k match {
        case KLong => (genLong(rnd, schema, depth - 1), genLong(rnd, schema, depth - 1))
        case KStr  => (genStr(rnd, schema, math.min(depth - 1, 1)),
                       genStr(rnd, schema, math.min(depth - 1, 1)))
        case other =>
          val cs = colsOf(schema, other)
          (colRef(pick(rnd, cs)), colRef(pick(rnd, cs)))
      }
      val op = pick(rnd, Seq("<", "<=", "=", "<>", ">", ">="))
      val c = op match {
        case "<" => a.col < b.col;   case "<=" => a.col <= b.col
        case "=" => a.col === b.col; case "<>" => a.col =!= b.col
        case ">" => a.col > b.col;   case _    => a.col >= b.col
      }
      Ex(s"(${a.sql} $op ${b.sql})", c,
        r => np2(a.ev(r), b.ev(r)) { (x, y) =>
          val d = cmp(k, x, y)
          op match {
            case "<" => d < 0; case "<=" => d <= 0; case "=" => d == 0
            case "<>" => d != 0; case ">" => d > 0; case _ => d >= 0
          }
        }, KBool)
    }
    val choice = if (depth <= 0) rnd.nextInt(3) else rnd.nextInt(9)
    choice match {
      case 0 if colsOf(schema, KBool).nonEmpty => colRef(pick(rnd, colsOf(schema, KBool)))
      case 0 | 1 | 2 => comparison()
      case 3 =>
        val (a, b) = (genBool(rnd, schema, depth - 1), genBool(rnd, schema, depth - 1))
        Ex(s"(${a.sql} AND ${b.sql})", a.col && b.col,
          r => and3(a.ev(r), b.ev(r)), KBool)
      case 4 =>
        val (a, b) = (genBool(rnd, schema, depth - 1), genBool(rnd, schema, depth - 1))
        Ex(s"(${a.sql} OR ${b.sql})", a.col || b.col,
          r => or3(a.ev(r), b.ev(r)), KBool)
      case 5 =>
        val a = genBool(rnd, schema, depth - 1)
        Ex(s"(NOT ${a.sql})", !a.col, r => not3(a.ev(r)), KBool)
      case 6 =>
        val c = pick(rnd, schema)
        Ex(s"(${c.name} IS NULL)", col(c.name).isNull,
          r => r(c.name) == null, KBool)
      case 7 =>
        val a = genLong(rnd, schema, 1)
        val lits = (0 until 1 + rnd.nextInt(3)).map(_ => rnd.nextLong(9) - 3L)
        Ex(s"(${a.sql} IN (${lits.mkString(", ")}))",
          a.col.isin(lits.map(l => l: Any): _*),
          r => np1(a.ev(r))(v => lits.contains(v.asInstanceOf[Long])), KBool)
      case _ =>
        // BETWEEN with literal bounds: x null → null, else inclusive range
        val a = genLong(rnd, schema, 1)
        val lo = rnd.nextLong(9) - 3L
        val hi = lo + rnd.nextLong(8)
        Ex(s"(${a.sql} BETWEEN $lo AND $hi)", a.col.between(lo, hi),
          r => np1(a.ev(r)) { v =>
            val x = v.asInstanceOf[Long]; lo <= x && x <= hi
          }, KBool)
    }
  }

  /** An output expression of a seeded kind (for projections). */
  def genOut(rnd: Random, schema: Seq[Col]): Ex = rnd.nextInt(10) match {
    case 0 | 1 | 2 => genLong(rnd, schema, 2)
    case 3 | 4     => genStr(rnd, schema, 2)
    case 5         => genBool(rnd, schema, 2)
    case 6 if colsOf(schema, KDouble).nonEmpty =>
      // doubles: per-row exact ops only (no reassociation)
      val d = colRef(pick(rnd, colsOf(schema, KDouble)))
      rnd.nextInt(3) match {
        case 0 => d
        case 1 => Ex(s"(- ${d.sql})", -d.col,
          r => np1(d.ev(r))(v => -v.asInstanceOf[Double]), KDouble)
        case _ => Ex(s"(${d.sql} + 1.5)", d.col + lit(1.5),
          r => np1(d.ev(r))(v => v.asInstanceOf[Double] + 1.5), KDouble)
      }
    case 7 if colsOf(schema, KDec).nonEmpty =>
      val c = colRef(pick(rnd, colsOf(schema, KDec)))
      if (rnd.nextBoolean() || colsOf(schema, KDec).size < 2) c
      else {
        val d = colRef(pick(rnd, colsOf(schema, KDec)))
        Ex(s"(${c.sql} + ${d.sql})", c.col + d.col,
          r => np2(c.ev(r), d.ev(r))((x, y) =>
            x.asInstanceOf[java.math.BigDecimal].add(y.asInstanceOf[java.math.BigDecimal])),
          KDec)
      }
    case 8 if colsOf(schema, KDate).nonEmpty =>
      val d = colRef(pick(rnd, colsOf(schema, KDate)))
      if (rnd.nextBoolean()) d
      else {
        val n = rnd.nextInt(7)
        Ex(s"DATE_ADD(${d.sql}, $n)", date_add(d.col, n),
          r => np1(d.ev(r))(v =>
            Date.valueOf(v.asInstanceOf[Date].toLocalDate.plusDays(n))), KDate)
      }
    case _ if colsOf(schema, KTs).nonEmpty => colRef(pick(rnd, colsOf(schema, KTs)))
    case _ => genLong(rnd, schema, 2)
  }

  // ---- aggregate generator ---------------------------------------------------

  def genAgg(rnd: Random, schema: Seq[Col]): (Ag, Kind) = rnd.nextInt(6) match {
    case 0 =>
      (Ag("COUNT(*)", count(lit(1)), rs => rs.size.toLong), KLong)
    case 1 =>
      val e = genOut(rnd, schema)
      (Ag(s"COUNT(${e.sql})", count(e.col),
        rs => rs.count(r => e.ev(r) != null).toLong), KLong)
    case 2 =>
      val e = genLong(rnd, schema, 2)
      (Ag(s"SUM(${e.sql})", sum(e.col), { rs =>
        val vs = rs.map(e.ev).filter(_ != null)
        if (vs.isEmpty) null else vs.map(_.asInstanceOf[Long]).sum
      }), KLong)
    case 3 if colsOf(schema, KDec).nonEmpty =>
      val c = colRef(pick(rnd, colsOf(schema, KDec)))
      (Ag(s"SUM(${c.sql})", sum(c.col), { rs =>
        val vs = rs.map(c.ev).filter(_ != null)
          .map(_.asInstanceOf[java.math.BigDecimal])
        if (vs.isEmpty) null else vs.reduce(_.add(_))
      }), KDec)
    case _ =>
      val pool = Seq(KLong, KStr, KDate, KDec, KTs, KDouble, KBool)
        .filter(k => colsOf(schema, k).nonEmpty)
      val k = pick(rnd, pool)
      val c = colRef(pick(rnd, colsOf(schema, k)))
      val isMin = rnd.nextBoolean()
      val (nm, fn) = if (isMin) ("MIN", min(c.col)) else ("MAX", max(c.col))
      (Ag(s"$nm(${c.sql})", fn, { rs =>
        val vs = rs.map(c.ev).filter(_ != null)
        if (vs.isEmpty) null
        else if (isMin) vs.reduce((a, b) => if (cmp(k, a, b) <= 0) a else b)
        else vs.reduce((a, b) => if (cmp(k, a, b) >= 0) a else b)
      }), k)
  }

  // ---- canonical result comparison --------------------------------------------

  /** Canonical string form of any result value: exact for ints/decimals/
    * strings/dates, bit-exact for doubles modulo Spark's -0.0 == 0.0 and
    * one NaN. Spark Rows and model values canonicalize identically. */
  def canon(v: Any): String = v match {
    case null => "∅"
    case b: Boolean => s"b:$b"
    case n: Byte => s"i:${n.toLong}"
    case n: Short => s"i:${n.toLong}"
    case n: Int => s"i:${n.toLong}"
    case n: Long => s"i:$n"
    case d: Double =>
      val norm = if (d.isNaN) Double.NaN else if (d == 0.0) 0.0 else d
      s"f:${java.lang.Double.doubleToLongBits(norm)}"
    case f: Float => canon(f.toDouble)
    case s: String => s"s:$s"
    case d: java.math.BigDecimal => s"n:${d.stripTrailingZeros.toPlainString}"
    case d: BigDecimal => canon(d.bigDecimal)
    case d: Date => s"d:${d.toLocalDate}"
    case t: Timestamp => s"t:${t.toInstant}"
    // arrays and structs canonicalize identically (model structs are Seqs,
    // Spark structs are Rows — per-column schemas are fixed, so the shared
    // bracket form cannot conflate them within a column). collection.Seq,
    // not the default immutable.Seq: Spark collects arrays as
    // mutable.ArraySeq, which the narrower match silently missed.
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(canon).mkString("[", ",", "]")
    case other => s"?:$other"
  }

  def canonRows(rows: Seq[Seq[Any]]): Seq[Seq[String]] =
    rows.map(_.map(canon)).sortBy(_.mkString("|"))

  // ---- the case generator -------------------------------------------------------

  /** Build one seeded case over fresh base frames. */
  def genCase(spark: SparkSession, seed: Long): Case = {
    val rnd = new Random(seed)
    val (m0, f0) = genBase(spark, rnd, "fz_t0")
    val (m1, f1) = genBase(spark, rnd, "fz_t1")

    // running state: (schema, sql, dsl frame, model rows)
    var schema: Seq[Col] = baseSchema
    var sql = "SELECT * FROM fz_t0"
    var df = f0
    var model: Seq[Map[String, Any]] = m0
    var joined = false
    // hasRid = rid is still a UNIQUE total order (windows / deterministic
    // limit need one); set-op sources drop it, joins may duplicate it
    var hasRid = true

    // set-operation source (25%): both bases projected to the narrow
    // collision-rich key columns, then UNION / UNION ALL / INTERSECT /
    // EXCEPT — Spark's set ops are the DISTINCT forms and use null-safe,
    // NaN-normalizing equality, which the model mirrors through canon
    if (rnd.nextInt(4) == 0) {
      val narrowC = Seq(Col("k0", KLong), Col("k1", KStr), Col("b0", KBool))
      val names = narrowC.map(_.name)
      val proj = names.mkString(", ")
      val (opSql, opDsl, opModel): (String,
          (DataFrame, DataFrame) => DataFrame,
          (Seq[Map[String, Any]], Seq[Map[String, Any]]) => Seq[Map[String, Any]]) =
        rnd.nextInt(4) match {
          case 0 => ("UNION ALL", _ union _, _ ++ _)
          case 1 => ("UNION", (a, b) => a.union(b).distinct(),
            (a, b) => (a ++ b).groupBy(r => names.map(n => canon(r(n))))
              .map(_._2.head).toSeq)
          case 2 => ("INTERSECT", _ intersect _, (a, b) => {
            val rk = b.map(r => names.map(n => canon(r(n)))).toSet
            a.filter(r => rk(names.map(n => canon(r(n)))))
              .groupBy(r => names.map(n => canon(r(n)))).map(_._2.head).toSeq
          })
          case _ => ("EXCEPT", _ except _, (a, b) => {
            val rk = b.map(r => names.map(n => canon(r(n)))).toSet
            a.filterNot(r => rk(names.map(n => canon(r(n)))))
              .groupBy(r => names.map(n => canon(r(n)))).map(_._2.head).toSeq
          })
        }
      sql = s"SELECT $proj FROM fz_t0 $opSql SELECT $proj FROM fz_t1"
      val (d0, d1) = (f0.select(names.map(col): _*), f1.select(names.map(col): _*))
      df = opDsl(d0, d1)
      def narrow(rows: Seq[Map[String, Any]]) =
        rows.map(r => names.map(n => n -> r(n)).toMap)
      model = opModel(narrow(m0), narrow(m1))
      schema = narrowC
      hasRid = false
    }

    def applyFilter(): Unit = {
      val p = genBool(rnd, schema, 2)
      sql = s"SELECT * FROM ($sql) WHERE ${p.sql}"
      df = df.filter(p.col)
      model = model.filter(r => p.ev(r) == java.lang.Boolean.TRUE)
    }

    if (rnd.nextBoolean()) applyFilter()

    if (rnd.nextInt(3) != 0) { // join in 2/3 of cases
      joined = true
      val how = if (rnd.nextBoolean()) "inner" else "left"
      val keys = rnd.nextInt(3) match {
        case 0 => Seq("k0"); case 1 => Seq("k1"); case _ => Seq("k0", "k1")
      }
      val joinSql = if (how == "inner") "JOIN" else "LEFT JOIN"
      if (rnd.nextBoolean()) {
        // variant A: explicit rename + ON condition (raw Spark surface)
        val rCols = baseSchema.map(c => Col(c.name + "_r", c.kind))
        val cond = keys.map(k => s"L.$k = R.$k").mkString(" AND ")
        val lSel = schema.map(c => s"L.${c.name} AS ${c.name}").mkString(", ")
        val rSel = baseSchema.map(c => s"R.${c.name} AS ${c.name}_r").mkString(", ")
        sql = s"SELECT $lSel, $rSel FROM ($sql) AS L $joinSql (SELECT * FROM fz_t1) AS R ON $cond"
        val rRenamed = f1.toDF(baseSchema.map(_.name + "_r"): _*)
        val dslCond = keys.map(k => col(k) === col(k + "_r")).reduce(_ && _)
        df = df.join(rRenamed, dslCond, how)
        val rModel = m1.map(r => r.map { case (k, v) => (k + "_r", v) })
        def keyMatch(l: Map[String, Any], r: Map[String, Any]): Boolean =
          keys.forall { k =>
            val (a, b) = (l(k), r(k + "_r"))
            a != null && b != null && canon(a) == canon(b)
          }
        model = model.flatMap { l =>
          val ms = rModel.filter(r => keyMatch(l, r))
          if (ms.nonEmpty) ms.map(l ++ _)
          else if (how == "left") Seq(l ++ rCols.map(c => c.name -> null).toMap)
          else Nil
        }
        schema = schema ++ rCols
      } else {
        // variant B: the graft LazyFrame.join surface — polars USING-join
        // semantics: key columns coalesce, and a right non-key column takes
        // the suffix ONLY when it collides with a left column (after a
        // set-op source the left is the narrow projection, so most right
        // columns keep their plain names). Exercises the library's
        // collision-rename path end-to-end.
        val leftNames = schema.map(_.name).toSet
        val rNonKey = baseSchema.filterNot(c => keys.contains(c.name))
        def outName(c: Col) = if (leftNames(c.name)) c.name + "_r" else c.name
        val rCols = rNonKey.map(c => Col(outName(c), c.kind))
        val lSel = schema.map(c =>
          if (keys.contains(c.name)) c.name else s"L.${c.name} AS ${c.name}")
          .mkString(", ")
        val rSel = rNonKey.map(c => s"R.${c.name} AS ${outName(c)}").mkString(", ")
        sql = s"SELECT $lSel, $rSel FROM ($sql) AS L $joinSql " +
          s"(SELECT * FROM fz_t1) AS R USING (${keys.mkString(", ")})"
        df = graft.dsl.LazyFrame(df)
          .join(graft.dsl.LazyFrame(f1), keys, how, suffix = "_r").df
        model = model.flatMap { l =>
          val ms = m1.filter(r => keys.forall { k =>
            val (a, b) = (l(k), r(k))
            a != null && b != null && canon(a) == canon(b)
          }).map(r => r.collect {
            case (k, v) if !keys.contains(k) => (outName(Col(k, KLong)), v)
          })
          if (ms.nonEmpty) ms.map(l ++ _)
          else if (how == "left") Seq(l ++ rCols.map(c => c.name -> null).toMap)
          else Nil
        }
        schema = schema ++ rCols
      }
    }

    if (rnd.nextBoolean()) applyFilter()

    // window stage: requires a unique order column — rid is unique on the
    // base, but a set-op source drops it and an inner/left join can
    // duplicate left rows
    if (hasRid && !joined && rnd.nextInt(3) == 0) {
      val part = rnd.nextInt(4) match {
        case 0 => None; case 1 => Some("k0"); case 2 => Some("k1"); case _ => Some("b0")
      }
      type Mk = org.apache.spark.sql.expressions.WindowSpec => Column
      // (fn SQL, DSL over spec, framed? — LAG/LEAD take no frame clause,
      // running aggs use ROWS UNBOUNDED PRECEDING..CURRENT ROW, model)
      val (wSql, mkW, framed, wEv): (String, Mk, Boolean,
          (Seq[Map[String, Any]], Int) => Any) =
        rnd.nextInt(6) match {
          case 0 =>
            val e = genLong(rnd, schema, 1)
            (s"SUM(${e.sql})", (sp: org.apache.spark.sql.expressions.WindowSpec) =>
              sum(e.col).over(sp), true, { (rows, i) =>
              val vs = rows.take(i + 1).map(e.ev).filter(_ != null)
              if (vs.isEmpty) null else vs.map(_.asInstanceOf[Long]).sum
            })
          case 1 =>
            val e = genLong(rnd, schema, 1)
            (s"COUNT(${e.sql})", (sp: org.apache.spark.sql.expressions.WindowSpec) =>
              count(e.col).over(sp), true, { (rows, i) =>
              rows.take(i + 1).count(r => e.ev(r) != null).toLong
            })
          case 2 =>
            ("ROW_NUMBER()", (sp: org.apache.spark.sql.expressions.WindowSpec) =>
              row_number().over(sp).cast("long"), true,
              { (_, i) => (i + 1).toLong })
          case 3 =>
            val e = genLong(rnd, schema, 1)
            (s"MAX(${e.sql})", (sp: org.apache.spark.sql.expressions.WindowSpec) =>
              max(e.col).over(sp), true, { (rows, i) =>
              val vs = rows.take(i + 1).map(e.ev).filter(_ != null)
              if (vs.isEmpty) null
              else vs.map(_.asInstanceOf[Long]).max
            })
          case 4 =>
            val e = genLong(rnd, schema, 1)
            (s"LAG(${e.sql}, 1)", (sp: org.apache.spark.sql.expressions.WindowSpec) =>
              lag(e.col, 1).over(sp), false,
              { (rows, i) => if (i == 0) null else e.ev(rows(i - 1)) })
          case _ =>
            val e = genLong(rnd, schema, 1)
            (s"LEAD(${e.sql}, 1)", (sp: org.apache.spark.sql.expressions.WindowSpec) =>
              lead(e.col, 1).over(sp), false,
              { (rows, i) => if (i + 1 >= rows.size) null else e.ev(rows(i + 1)) })
        }
      val partSql = part.map(p => s"PARTITION BY $p ").getOrElse("")
      val frameSql =
        if (framed) " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW" else ""
      val over = s"OVER (${partSql}ORDER BY rid$frameSql)"
      val sel = schema.map(_.name).mkString(", ")
      sql = s"SELECT $sel, $wSql $over AS w0 FROM ($sql)"
      val w = org.apache.spark.sql.expressions.Window
      val spec0 = part match {
        case Some(p) => w.partitionBy(col(p)); case None => w.partitionBy()
      }
      val ordered0 = spec0.orderBy(col("rid"))
      val spec = if (framed)
        ordered0.rowsBetween(w.unboundedPreceding, w.currentRow) else ordered0
      df = df.withColumn("w0", mkW(spec))
      // model: group by canonical partition key, order by rid, prefix-agg
      val grouped = model.groupBy(r => part.map(p => canon(r(p))).getOrElse(""))
      model = grouped.values.toSeq.flatMap { g =>
        val ordered = g.sortBy(_("rid").asInstanceOf[Long])
        ordered.zipWithIndex.map { case (r, i) => r + ("w0" -> wEv(ordered, i)) }
      }
      schema = schema :+ Col("w0", KLong)
    }

    // explode stage (25% when an array column is present): a Generate
    // node. INNER explode semantics: rows with a null or EMPTY array are
    // dropped; one output row per element (elements may be null). rid
    // duplicates across exploded rows, so the unique-order flag drops.
    val arrCols = schema.filter(_.kind == KArr)
    if (arrCols.nonEmpty && rnd.nextInt(4) == 0) {
      val a = pick(rnd, arrCols)
      sql = s"SELECT *, EXPLODE(${a.name}) AS ex FROM ($sql)"
      df = df.withColumn("ex", explode(col(a.name)))
      model = model.flatMap { r =>
        r(a.name) match {
          case null => Nil
          case arr: Seq[_] => arr.map(e => r + ("ex" -> e))
        }
      }
      schema = schema :+ Col("ex", KLong)
      hasRid = false
    }

    // terminal stage
    rnd.nextInt(7) match {
      case 4 if hasRid && !joined => // deterministic sort + limit (rid unique)
        val k = 1 + rnd.nextInt(20)
        sql = s"SELECT * FROM ($sql) ORDER BY rid LIMIT $k"
        df = df.orderBy(col("rid")).limit(k)
        model = model.sortBy(_("rid").asInstanceOf[Long]).take(k)
      case 5 if schema.exists(_.name == "rid") =>
        // as-of terminal (r17, VERDICT r16 task 4): LazyFrame.joinAsof vs
        // an ANSI emulation — a non-equi correlated scalar picks the
        // matched key, a LEFT JOIN back fetches the payload (right is
        // GROUP BY-unique on (by, rk), so the re-join never multiplies) —
        // vs the model's per-row scan. Two DSL variants share the one
        // emulation: keyless (boundary-carry path) and by-keyed on the
        // collision-rich nullable k1 (keyed-window path; a NULL by-key
        // forms a matchable group on every side — partitionBy groups
        // nulls, SQL uses <=>, the model groups by canon). rid need not be
        // unique here (post-join duplicates are fine); only PRESENCE is
        // required, hence the gate.
        val strat = rnd.nextInt(3) // 0=backward, 1=forward, 2=nearest (r18)
        val backward = strat == 0
        val nearest = strat == 2
        val useBy = schema.exists(_.name == "k1") && rnd.nextBoolean()
        // draw kept from a deleted by-keyed variant so each seed keeps its plan
        if (useBy) rnd.nextBoolean()
        val rSql =
          if (useBy) "(SELECT k1, k0 AS rk, CAST(COUNT(*) AS BIGINT) AS rv " +
            "FROM fz_t1 WHERE k0 IS NOT NULL GROUP BY k1, k0)"
          else "(SELECT k0 AS rk, CAST(COUNT(*) AS BIGINT) AS rv " +
            "FROM fz_t1 WHERE k0 IS NOT NULL GROUP BY k0)"
        val byBack = if (useBy) "RR.k1 <=> X.k1 AND " else ""
        val sel = schema.map(c => s"X.${c.name}").mkString(", ")
        sql = if (nearest) {
          // nearest emulation: both directional scalars, then the distance
          // CASE with tie → backward (the `db <= df_` rule in
          // ops/AsOf.scala's nearest — polars prefers the earlier row)
          val byB = if (useBy) "R2.k1 <=> C0.k1 AND " else ""
          val byF = if (useBy) "R3.k1 <=> C0.k1 AND " else ""
          s"SELECT $sel, X.mk AS rk, RR.rv FROM (SELECT C.*, " +
            "CASE WHEN C.bk IS NOT NULL AND (C.fk IS NULL OR " +
            "(C.rid - C.bk) <= (C.fk - C.rid)) THEN C.bk ELSE C.fk END AS mk " +
            s"FROM (SELECT C0.*, " +
            s"(SELECT MAX(R2.rk) FROM $rSql R2 WHERE ${byB}R2.rk <= C0.rid) AS bk, " +
            s"(SELECT MIN(R3.rk) FROM $rSql R3 WHERE ${byF}R3.rk >= C0.rid) AS fk " +
            s"FROM ($sql) C0) C) X LEFT JOIN $rSql RR ON ${byBack}RR.rk = X.mk"
        } else {
          val (aggF, cmpS) = if (backward) ("MAX", "<=") else ("MIN", ">=")
          val byCorr = if (useBy) "R2.k1 <=> C.k1 AND " else ""
          s"SELECT $sel, X.mk AS rk, RR.rv FROM (SELECT C.*, " +
            s"(SELECT $aggF(R2.rk) FROM $rSql R2 WHERE $byCorr" +
            s"R2.rk $cmpS C.rid) AS mk " +
            s"FROM ($sql) C) X LEFT JOIN $rSql RR ON ${byBack}RR.rk = X.mk"
        }
        val right =
          if (useBy) f1.filter(col("k0").isNotNull)
            .groupBy(col("k1"), col("k0").as("rk")).agg(count(lit(1)).as("rv"))
          else f1.filter(col("k0").isNotNull)
            .groupBy(col("k0").as("rk")).agg(count(lit(1)).as("rv"))
        df = graft.dsl.LazyFrame(df).joinAsof(graft.dsl.LazyFrame(right),
          "rid", "rk", if (useBy) Seq("k1") else Nil,
          if (nearest) "nearest" else if (backward) "backward" else "forward",
          None).df
        // right lookup: (by-group canon, rk) -> count; keyless uses a
        // single "" group
        val rmap: Map[(Any, Long), Long] = m1.filter(_("k0") != null)
          .groupBy(r => (if (useBy) canon(r("k1")) else "",
            r("k0").asInstanceOf[Long]))
          .map { case (k, g) => k -> g.size.toLong }
        // rid here is only guaranteed PRESENT, not non-null: after a set-op
        // source it can re-enter from the join's RIGHT side, where an
        // unmatched left row leaves it NULL — and a null as-of key never
        // matches (AsOf skips null left keys; SQL's NULL comparison makes
        // the correlated set empty). Caught by pinned seed 176.
        model = model.map { r =>
          val g = if (useBy) canon(r("k1")) else ""
          val mkO: Option[Long] = r("rid") match {
            case null => None
            case k: Long =>
              val ks = rmap.keys.collect { case (gg, rk) if gg == g => rk }
              if (nearest) {
                val bs = ks.filter(_ <= k)
                val fs = ks.filter(_ >= k)
                (bs.nonEmpty, fs.nonEmpty) match {
                  case (true, true) =>
                    val (b, f) = (bs.max, fs.min)
                    // tie → backward, same rule as ops/AsOf.scala
                    Some(if (k - b <= f - k) b else f)
                  case (true, false) => Some(bs.max)
                  case (false, true) => Some(fs.min)
                  case _             => None
                }
              } else {
                val cand = ks.filter(rk => if (backward) rk <= k else rk >= k)
                if (cand.isEmpty) None
                else Some(if (backward) cand.max else cand.min)
              }
          }
          mkO match {
            case None => r ++ Map[String, Any]("rk" -> null, "rv" -> null)
            case Some(mk) =>
              r ++ Map[String, Any]("rk" -> mk, "rv" -> rmap((g, mk)))
          }
        }
        schema = schema ++ Seq(Col("rk", KLong), Col("rv", KLong))
      case 6 =>
        // inequality-join terminal (r17): LazyFrame.joinWhere — the grid
        // IEJoin when both conjuncts are inequalities — vs Spark SQL's
        // theta join vs the model's O(n·m) scan with null-never-matches.
        // Every schema has ≥1 KLong at terminal time (k0 survives every
        // source; projections only happen AT terminals).
        val longsL = schema.filter(_.kind == KLong)
        val rLongs = baseSchema.filter(_.kind == KLong)
        val ops = Seq("<", "<=", ">", ">=")
        val (a, c2) = (pick(rnd, longsL), pick(rnd, longsL))
        val (b, d2) = (pick(rnd, rLongs), pick(rnd, rLongs))
        val (op1, op2) = (pick(rnd, ops), pick(rnd, ops))
        sql = s"SELECT L.${a.name} AS la, L.${c2.name} AS lc, " +
          s"R.${b.name} AS rb, R.${d2.name} AS rd FROM ($sql) L " +
          s"JOIN fz_t1 R ON L.${a.name} $op1 R.${b.name} " +
          s"AND L.${c2.name} $op2 R.${d2.name}"
        def cOp(op: String)(x: Column, y: Column): Column = op match {
          case "<" => x < y; case "<=" => x <= y
          case ">" => x > y; case _ => x >= y
        }
        val lSide = df.select(col(a.name).as("la"), col(c2.name).as("lc"))
        val rSide = f1.select(col(b.name).as("rb"), col(d2.name).as("rd"))
        df = graft.dsl.LazyFrame(lSide).joinWhere(graft.dsl.LazyFrame(rSide),
          cOp(op1)(col("la"), col("rb")) && cOp(op2)(col("lc"), col("rd"))).df
        def lCmp(op: String, x: Long, y: Long): Boolean = op match {
          case "<" => x < y; case "<=" => x <= y
          case ">" => x > y; case _ => x >= y
        }
        model = model.flatMap { l =>
          val (lv1, lv2) = (l(a.name), l(c2.name))
          m1.flatMap { r =>
            val (rv1, rv2) = (r(b.name), r(d2.name))
            if (lv1 != null && lv2 != null && rv1 != null && rv2 != null &&
                lCmp(op1, lv1.asInstanceOf[Long], rv1.asInstanceOf[Long]) &&
                lCmp(op2, lv2.asInstanceOf[Long], rv2.asInstanceOf[Long]))
              Some(Map[String, Any]("la" -> lv1, "lc" -> lv2,
                "rb" -> rv1, "rd" -> rv2))
            else None
          }
        }
        schema = Seq(Col("la", KLong), Col("lc", KLong),
          Col("rb", KLong), Col("rd", KLong))
      case 0 | 1 => // project
        val n = 1 + rnd.nextInt(4)
        val exs = (0 until n).map(i => (s"e$i", genOut(rnd, schema)))
        sql = s"SELECT ${exs.map { case (nm, e) => s"${e.sql} AS $nm" }.mkString(", ")} FROM ($sql)"
        df = df.select(exs.map { case (nm, e) => e.col.as(nm) }: _*)
        model = model.map(r => exs.map { case (nm, e) => nm -> e.ev(r) }.toMap)
        schema = exs.map { case (nm, e) => Col(nm, e.kind) }
      case 2 => // group by + agg
        val keyPool = schema.filter(c => Seq(KLong, KStr, KBool, KDate).contains(c.kind))
        val nk = rnd.nextInt(3)
        val keys = rnd.shuffle(keyPool.toList).take(nk)
        val nAgg = 1 + rnd.nextInt(3)
        val aggs = (0 until nAgg).map(i => (s"agg$i", genAgg(rnd, schema)))
        val keySql = keys.map(_.name)
        val aggSql = aggs.map { case (nm, (a, _)) => s"${a.sql} AS $nm" }
        // HAVING (r17, VERDICT r16 task 4): when grouped and the first
        // aggregate is long-typed (COUNT / SUM(long) / MIN / MAX(long) —
        // so MIN/MAX heads are covered), half the cases append a HAVING.
        // 3-valued: a NULL aggregate (empty SUM/MIN/MAX never occurs per
        // group, but null-only inputs do) fails the predicate on all
        // three paths.
        val havingT =
          if (keys.nonEmpty && aggs.head._2._2 == KLong && rnd.nextBoolean())
            Some(rnd.nextLong(30) - 5L)
          else None
        val havingSql = havingT
          .map(t => s" HAVING ${aggs.head._2._1.sql} > $t").getOrElse("")
        sql = s"SELECT ${(keySql ++ aggSql).mkString(", ")} FROM ($sql)" +
          (if (keys.nonEmpty) s" GROUP BY ${keySql.mkString(", ")}" else "") +
          havingSql
        val grouped0 =
          if (keys.isEmpty) df.agg(aggs.head._2._1.col.as(aggs.head._1),
            aggs.tail.map { case (nm, (a, _)) => a.col.as(nm) }: _*)
          else df.groupBy(keys.map(k => col(k.name)): _*)
            .agg(aggs.head._2._1.col.as(aggs.head._1),
              aggs.tail.map { case (nm, (a, _)) => a.col.as(nm) }: _*)
        df = havingT match {
          case Some(t) => grouped0.filter(col(aggs.head._1) > t)
          case None    => grouped0
        }
        val modelGrouped = {
          if (keys.isEmpty)
            Seq(aggs.map { case (nm, (a, _)) => nm -> a.ev(model) }.toMap)
          else model.groupBy(r => keys.map(k => canon(r(k.name))))
            .map { case (_, g) =>
              keys.map(k => k.name -> g.head(k.name)).toMap ++
                aggs.map { case (nm, (a, _)) => nm -> a.ev(g) }.toMap
            }.toSeq
        }
        model = havingT match {
          case Some(t) => modelGrouped.filter { r =>
            val v = r(aggs.head._1)
            v != null && v.asInstanceOf[Long] > t
          }
          case None => modelGrouped
        }
        schema = keys ++ aggs.map { case (nm, (_, k)) => Col(nm, k) }
      case _ => // distinct over a scalar projection
        val pool = schema.filter(c => Seq(KLong, KStr, KBool, KDate).contains(c.kind))
        val picked =
          if (pool.isEmpty) Seq(Col("one", KLong))
          else rnd.shuffle(pool.toList).take(1 + rnd.nextInt(3))
        if (pool.isEmpty) {
          sql = s"SELECT DISTINCT CAST(1 AS BIGINT) AS one FROM ($sql)"
          df = df.select(lit(1L).as("one")).distinct()
          model = model.map(_ => Map[String, Any]("one" -> 1L)).distinct
        } else {
          sql = s"SELECT DISTINCT ${picked.map(_.name).mkString(", ")} FROM ($sql)"
          df = df.select(picked.map(c => col(c.name)): _*).distinct()
          model = model.map(r => picked.map(c => c.name -> r(c.name)).toMap)
            .groupBy(r => picked.map(c => canon(r(c.name)))).map(_._2.head).toSeq
        }
        schema = picked
    }

    Case(seed, sql, df, model, schema)
  }

  /** Run one case: returns None when all three paths agree, or a diagnostic
    * (a path that THROWS is itself a divergence — reported with the case's
    * SQL and the full cause chain, never crashing the sweep). */
  def runCase(spark: SparkSession, seed: Long): Option[String] = {
    val c = genCase(spark, seed)
    val names = c.outCols.map(_.name)
    def run(what: String)(body: => Seq[Seq[String]]): Either[String, Seq[Seq[String]]] =
      try Right(body) catch {
        case e: Throwable =>
          val causes = Iterator.iterate(e: Throwable)(_.getCause)
            .takeWhile(_ != null).map(_.toString).take(4).mkString("\n  caused by ")
          Left(s"seed=$seed $what THREW\nsql: ${c.sql}\n$causes")
      }
    val dsl = run("dsl")(canonRows(
      c.df.collect().toSeq.map(r => names.map(n => r.getAs[Any](n)))))
    val viaSql = run("sql")(canonRows(
      spark.sql(c.sql).collect().toSeq.map(r => names.map(n => r.getAs[Any](n)))))
    val mod = run("model")(canonRows(c.model.map(r => names.map(r(_)))))
    (dsl, viaSql, mod) match {
      case (Right(a), Right(b), Right(m)) if a == b && a == m => None
      case (Right(a), Right(b), Right(m)) => Some(
        s"""seed=$seed diverged
           |sql: ${c.sql}
           |dsl   (${a.size} rows): ${a.take(20).mkString("; ")}
           |sql   (${b.size} rows): ${b.take(20).mkString("; ")}
           |model (${m.size} rows): ${m.take(20).mkString("; ")}""".stripMargin)
      case _ => Some(Seq(dsl, viaSql, mod).flatMap(_.left.toOption).mkString("\n"))
    }
  }
}
