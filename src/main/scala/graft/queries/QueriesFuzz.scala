package graft.queries

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dsl.LazyFrame

/** Differential fuzzing against the DuckDB oracle (r15 verdict task 2,
  * second prong — the in-JVM prong is the test suite's PlanFuzzSpec, whose
  * generator lives in test scope).
  *
  * A FIXED master seed deterministically generates `nCases` random plans
  * over the real testdata tables (lineitem/orders/customer). Each case is
  * registered as its own oracle key `fuzz_qNN`: the Spark side is built
  * through the library DSL (LazyFrame joins, DataFrame ops), the oracle
  * side is the equivalent SQL emitted from the SAME generated plan ADT —
  * so the driver's DuckDB compare becomes a true cross-ENGINE differential
  * check over shapes nobody hand-picked (the 316 curated keys are fixed
  * shapes; these are not).
  *
  * The expression surface is deliberately the cross-engine-EXACT subset:
  *   - integer arithmetic (+, *, %), CASE, IN, 3-valued AND/OR/NOT;
  *   - `||` for concat (null-propagating in BOTH engines — CONCAT is not,
  *     in DuckDB), UPPER/LOWER/SUBSTRING/LENGTH with CAST(.. AS BIGINT)
  *     (DuckDB LENGTH returns BIGINT, Spark INT);
  *   - timestamp comparisons against TIMESTAMP literals and
  *     CAST(EXTRACT(YEAR ..) AS BIGINT);
  *   - doubles in comparisons/min/max only (per-row exact); SUMs go
  *     through CAST(x AS DECIMAL(18,2)) then CAST(.. AS DECIMAL(38,6))
  *     so accumulation is exact and the width identical (Spark sums to
  *     DECIMAL(28,2), DuckDB to DECIMAL(38,2); integer SUM is HUGEINT
  *     in DuckDB — hence CAST(SUM(..) AS BIGINT)), and the final value
  *     is emitted as a STRING digitstring on BOTH engines (r16:
  *     CAST(.. AS VARCHAR) / .cast("string")) because the driver's
  *     compare canonicalizes decimals through float64 — trailing scale
  *     zeros or >16 significant digits would hash-mismatch a typed
  *     decimal even when the values are identical (the proven
  *     dtype_decimal_s4 re-pin; see tools/check.py's hazard gate);
  *   - GROUP BY / ORDER BY by ordinal (alias resolution differs);
  *   - ORDER BY every output column ASC NULLS FIRST (DuckDB defaults
  *     NULLS LAST; Spark NULLS FIRST — left-join nulls would diverge).
  */
object QueriesFuzz {

  private val MasterSeed = 20260815L
  private val nCases = 48

  // ---- column metadata ------------------------------------------------------

  private final case class C(name: String, kind: Char) // i/d/s/t
  private final case class Tbl(name: String, cols: Seq[C])

  private val lineitem = Tbl("lineitem", Seq(
    C("l_orderkey", 'i'), C("l_partkey", 'i'), C("l_suppkey", 'i'),
    C("l_quantity", 'd'), C("l_extendedprice", 'd'), C("l_discount", 'd'),
    C("l_tax", 'd'), C("l_returnflag", 's'), C("l_linestatus", 's'),
    C("l_shipdate", 't')))
  private val orders = Tbl("orders", Seq(
    C("o_orderkey", 'i'), C("o_custkey", 'i'), C("o_orderstatus", 's'),
    C("o_totalprice", 'd'), C("o_orderdate", 't'), C("o_orderpriority", 's')))
  private val customer = Tbl("customer", Seq(
    C("c_custkey", 'i'), C("c_name", 's'), C("c_acctbal", 'd'),
    C("c_mktsegment", 's')))

  /** Measured value domains (sf0.01 probe) so filters hit interesting
    * selectivities instead of none-or-all. */
  private val strDomain: Map[String, Seq[String]] = Map(
    "l_returnflag" -> Seq("A", "N", "R"),
    "l_linestatus" -> Seq("F", "O"),
    "o_orderstatus" -> Seq("P", "F", "O"),
    "o_orderpriority" -> Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
      "4-NOT SPECIFIED", "5-LOW"),
    "c_mktsegment" -> Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
      "MACHINERY", "HOUSEHOLD"),
    "c_name" -> Seq("Customer#000000100"))
  private val dblRange: Map[String, (Double, Double)] = Map(
    "l_quantity" -> (1.0, 50.0), "l_extendedprice" -> (1000.0, 100000.0),
    "l_discount" -> (0.0, 0.1), "l_tax" -> (0.0, 0.08),
    "o_totalprice" -> (1000.0, 500000.0), "c_acctbal" -> (-1000.0, 10000.0))

  // ---- typed expression pairs (SQL text + DSL column) -------------------------

  private final case class FE(sql: String, col: Column)

  private def pick[T](rnd: Random, xs: Seq[T]): T = xs(rnd.nextInt(xs.length))

  private def intCols(cols: Seq[C]) = cols.filter(_.kind == 'i')
  private def strCols(cols: Seq[C]) = cols.filter(_.kind == 's')
  private def dblCols(cols: Seq[C]) = cols.filter(_.kind == 'd')
  private def tsCols(cols: Seq[C]) = cols.filter(_.kind == 't')

  private def genInt(rnd: Random, cols: Seq[C], depth: Int): FE = {
    val leaves = intCols(cols)
    val choice = if (depth <= 0) 0 else rnd.nextInt(7)
    choice match {
      case 0 | 1 => { val c = pick(rnd, leaves); FE(c.name, col(c.name)) }
      case 2 =>
        val (a, b) = (genInt(rnd, cols, depth - 1), genInt(rnd, cols, depth - 1))
        FE(s"(${a.sql} + ${b.sql})", a.col + b.col)
      case 3 =>
        val a = genInt(rnd, cols, depth - 1)
        val m = 2 + rnd.nextInt(12)
        FE(s"(${a.sql} % $m)", a.col % m)
      case 4 =>
        val a = genInt(rnd, cols, depth - 1)
        val m = 2 + rnd.nextInt(4)
        FE(s"(${a.sql} * $m)", a.col * m)
      case 5 if tsCols(cols).nonEmpty =>
        val c = pick(rnd, tsCols(cols))
        FE(s"CAST(EXTRACT(YEAR FROM ${c.name}) AS BIGINT)",
          year(col(c.name)).cast("long"))
      case 5 | 6 =>
        val c = pick(rnd, strCols(cols))
        FE(s"CAST(LENGTH(${c.name}) AS BIGINT)", length(col(c.name)).cast("long"))
    }
  }

  private def genStr(rnd: Random, cols: Seq[C], depth: Int): FE = {
    val leaves = strCols(cols)
    val choice = if (depth <= 0) 0 else rnd.nextInt(5)
    choice match {
      case 0 | 1 => { val c = pick(rnd, leaves); FE(c.name, col(c.name)) }
      case 2 =>
        val (a, b) = (genStr(rnd, cols, 0), genStr(rnd, cols, 0))
        FE(s"(${a.sql} || ${b.sql})", concat(a.col, b.col))
      case 3 =>
        val a = genStr(rnd, cols, depth - 1)
        val f = if (rnd.nextBoolean()) "UPPER" else "LOWER"
        FE(s"$f(${a.sql})", if (f == "UPPER") upper(a.col) else lower(a.col))
      case _ =>
        val a = genStr(rnd, cols, depth - 1)
        val n = 1 + rnd.nextInt(4)
        FE(s"SUBSTRING(${a.sql}, 1, $n)", substring(a.col, 1, n))
    }
  }

  private def genBool(rnd: Random, cols: Seq[C], depth: Int): FE = {
    def cmpOp(rnd: Random): (String, (Column, Column) => Column) =
      pick(rnd, Seq[(String, (Column, Column) => Column)](
        ("<", _ < _), ("<=", _ <= _), ("=", _ === _),
        ("<>", _ =!= _), (">", _ > _), (">=", _ >= _)))
    val choice = if (depth <= 0) rnd.nextInt(4) else rnd.nextInt(8)
    choice match {
      case 0 => // int comparison: expr vs expr or literal
        val a = genInt(rnd, cols, 1)
        val (os, of) = cmpOp(rnd)
        if (rnd.nextBoolean() && intCols(cols).size > 1) {
          val b = genInt(rnd, cols, 1)
          FE(s"(${a.sql} $os ${b.sql})", of(a.col, b.col))
        } else {
          val v = rnd.nextInt(2000).toLong
          FE(s"(${a.sql} $os $v)", of(a.col, lit(v)))
        }
      case 1 => // string equality vs a domain literal
        val c = pick(rnd, strCols(cols))
        val v = pick(rnd, strDomain(c.name))
        val (os, of) = if (rnd.nextBoolean()) ("=", (a: Column, b: Column) => a === b)
                       else ("<>", (a: Column, b: Column) => a =!= b)
        FE(s"(${c.name} $os '$v')", of(col(c.name), lit(v)))
      case 2 if dblCols(cols).nonEmpty => // double threshold
        val c = pick(rnd, dblCols(cols))
        val (lo, hi) = dblRange(c.name)
        // literal on a coarse grid: exact same binary double in both parsers
        val v = lo + (hi - lo) * (rnd.nextInt(16) / 16.0)
        val (os, of) = cmpOp(rnd)
        FE(s"(${c.name} $os $v)", of(col(c.name), lit(v)))
      case 3 if tsCols(cols).nonEmpty => // timestamp vs literal
        val c = pick(rnd, tsCols(cols))
        val d = f"${1995 + rnd.nextInt(7)}%04d-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d"
        val (os, of) = cmpOp(rnd)
        FE(s"(${c.name} $os TIMESTAMP '$d')",
          of(col(c.name), lit(d).cast("timestamp")))
      case 2 | 3 => genBool(rnd, cols, 0)
      case 4 =>
        val (a, b) = (genBool(rnd, cols, depth - 1), genBool(rnd, cols, depth - 1))
        FE(s"(${a.sql} AND ${b.sql})", a.col && b.col)
      case 5 =>
        val (a, b) = (genBool(rnd, cols, depth - 1), genBool(rnd, cols, depth - 1))
        FE(s"(${a.sql} OR ${b.sql})", a.col || b.col)
      case 6 =>
        val a = genBool(rnd, cols, depth - 1)
        FE(s"(NOT ${a.sql})", !a.col)
      case _ => // IN over a string domain
        val c = pick(rnd, strCols(cols))
        val dom = strDomain(c.name)
        val n = 1 + rnd.nextInt(math.min(3, dom.length))
        val vs = rnd.shuffle(dom.toList).take(n)
        FE(s"(${c.name} IN (${vs.map(v => s"'$v'").mkString(", ")}))",
          col(c.name).isin(vs: _*))
    }
  }

  /** Output expression: int/string expr, CASE, or a raw double/ts column. */
  private def genOut(rnd: Random, cols: Seq[C]): FE = rnd.nextInt(8) match {
    case 0 | 1 | 2 => genInt(rnd, cols, 2)
    case 3 | 4     => genStr(rnd, cols, 2)
    case 5 =>
      val c = genBool(rnd, cols, 1)
      val (t, e) = (genInt(rnd, cols, 1), genInt(rnd, cols, 1))
      FE(s"(CASE WHEN ${c.sql} THEN ${t.sql} ELSE ${e.sql} END)",
        when(c.col, t.col).otherwise(e.col))
    case 6 if dblCols(cols).nonEmpty =>
      { val c = pick(rnd, dblCols(cols)); FE(c.name, col(c.name)) }
    case _ if tsCols(cols).nonEmpty =>
      { val c = pick(rnd, tsCols(cols)); FE(c.name, col(c.name)) }
    case _ => genInt(rnd, cols, 2)
  }

  /** Aggregate with the portable exact spelling (doc comment up top). */
  private def genAgg(rnd: Random, cols: Seq[C]): FE = rnd.nextInt(6) match {
    case 0 => FE("COUNT(*)", count(lit(1)))
    case 1 =>
      val e = genOut(rnd, cols)
      FE(s"COUNT(${e.sql})", count(e.col))
    case 2 =>
      val e = genInt(rnd, cols, 2)
      FE(s"CAST(SUM(${e.sql}) AS BIGINT)", sum(e.col).cast("long"))
    case 3 if dblCols(cols).nonEmpty =>
      val c = pick(rnd, dblCols(cols))
      // r16: the decimal sum is emitted as a STRING digitstring on both
      // sides (the proven dtype_decimal_s4 re-pin, QueriesMisc8). A
      // cent-valued sum rendered at scale 6 always carries four trailing
      // zeros — hazard class 1 of the driver's float64 decimal
      // canonicalizer (SURVEY §2.12): the r15 record redded 9 of these
      // keys with value-identical results on both engines. Strings
      // compare byte-for-byte and bypass the canonicalizer entirely;
      // both engines render a decimal cast to string at full declared
      // scale, so exactness is preserved AND pinned.
      FE("CAST(CAST(SUM(CAST(" + c.name +
          " AS DECIMAL(18,2))) AS DECIMAL(38,6)) AS VARCHAR)",
        sum(col(c.name).cast("decimal(18,2)")).cast("decimal(38,6)")
          .cast("string"))
    case _ =>
      val pool = cols.filter(c => "isdt".contains(c.kind))
      val c = pick(rnd, pool)
      val isMin = rnd.nextBoolean()
      FE(s"${if (isMin) "MIN" else "MAX"}(${c.name})",
        if (isMin) min(col(c.name)) else max(col(c.name)))
  }

  // ---- the case generator ------------------------------------------------------

  private final case class FuzzCase(name: String, sql: String, q: util.Q)

  /** Source shape: single table, a real FK join (inner, or LEFT with an
    * extra ON predicate so unmatched rows actually occur), or a semi/anti
    * EXISTS shape routed through LazyFrame.semiJoin/antiJoin.
    * `uniq`: a column known UNIQUE in the source (probed at sf0.01 —
    * o_orderkey / c_custkey; lineitem has no stable unique tuple in the
    * synthetic data) — it makes window ORDER BY deterministic. Empty =
    * no window terminal for this source. Factored out of genFuzzCase in
    * r17 for the v2 batch; the RNG consumption order is byte-identical to
    * the inline r15 form so the 48 frozen v1 keys regenerate unchanged. */
  private def genSource(rnd: Random): (String, Seq[C], Seq[String],
      (SparkSession, String) => DataFrame) =
      rnd.nextInt(8) match {
        case 0 => ("lineitem", lineitem.cols, Nil,
          (s, d) => util.t(s, d, "lineitem"))
        case 1 => ("orders", orders.cols, Seq("o_orderkey"),
          (s, d) => util.t(s, d, "orders"))
        case 2 => ("customer", customer.cols, Seq("c_custkey"),
          (s, d) => util.t(s, d, "customer"))
        case 3 =>
          ("lineitem JOIN orders ON l_orderkey = o_orderkey",
            lineitem.cols ++ orders.cols, Nil,
            (s, d) => util.lf(s, d, "lineitem").joinOn(util.lf(s, d, "orders"),
              col("l_orderkey") === col("o_orderkey"), "inner").df)
        case 4 =>
          ("orders JOIN customer ON o_custkey = c_custkey",
            orders.cols ++ customer.cols, Seq("o_orderkey"),
            (s, d) => util.lf(s, d, "orders").joinOn(util.lf(s, d, "customer"),
              col("o_custkey") === col("c_custkey"), "inner").df)
        case 5 =>
          val p = genBool(rnd, customer.cols, 1)
          (s"orders LEFT JOIN customer ON o_custkey = c_custkey AND ${p.sql}",
            orders.cols ++ customer.cols, Seq("o_orderkey"),
            (s, d) => util.lf(s, d, "orders").joinOn(util.lf(s, d, "customer"),
              col("o_custkey") === col("c_custkey") && p.col, "left").df)
        case 6 =>
          // semi: orders WHERE EXISTS a matching (filtered) customer.
          // DSL: LazyFrame.semiJoin on a same-named key (rename first).
          val p = genBool(rnd, customer.cols, 1)
          (s"(SELECT * FROM orders WHERE EXISTS (SELECT 1 FROM customer " +
            s"WHERE c_custkey = o_custkey AND ${p.sql})) AS t",
            orders.cols, Seq("o_orderkey"),
            (s, d) => util.lf(s, d, "orders").semiJoin(
              util.lf(s, d, "customer").filter(p.col)
                .rename("c_custkey" -> "o_custkey"), Seq("o_custkey")).df)
        case _ =>
          // anti: orders WHERE NOT EXISTS. NULL-semantics note: NOT EXISTS
          // (unlike NOT IN) is null-key-safe in both engines, matching
          // Spark's left_anti join exactly.
          val p = genBool(rnd, customer.cols, 1)
          (s"(SELECT * FROM orders WHERE NOT EXISTS (SELECT 1 FROM customer " +
            s"WHERE c_custkey = o_custkey AND ${p.sql})) AS t",
            orders.cols, Seq("o_orderkey"),
            (s, d) => util.lf(s, d, "orders").antiJoin(
              util.lf(s, d, "customer").filter(p.col)
                .rename("c_custkey" -> "o_custkey"), Seq("o_custkey")).df)
      }

  private def genFuzzCase(idx: Int, rnd: Random): FuzzCase = {
    val (fromSql, cols, uniq, mkDf) = genSource(rnd)

    val wherePred =
      if (rnd.nextBoolean()) Some(genBool(rnd, cols, 2)) else None

    val termDraw = rnd.nextInt(10)
    val (selectSql, groupSql, build) : (String, String, DataFrame => DataFrame) =
      if (uniq.nonEmpty && termDraw < 3) {
        // window terminal: deterministic because the source carries a
        // genuinely UNIQUE order column. SUM/ROW_NUMBER cast to BIGINT
        // outside the OVER (DuckDB windows sum to HUGEINT / number to
        // BIGINT where Spark yields BIGINT / INT).
        val ok = uniq.head
        val part: Option[FE] = rnd.nextInt(3) match {
          case 0 => None
          case 1 =>
            val c = pick(rnd, strCols(cols)); Some(FE(c.name, col(c.name)))
          case _ =>
            val c = pick(rnd, intCols(cols)); val m = 2 + rnd.nextInt(8)
            Some(FE(s"(${c.name} % $m)", col(c.name) % m))
        }
        type WS = org.apache.spark.sql.expressions.WindowSpec
        // (inner fn sql, DSL over spec, framed?, cast result to BIGINT?)
        val (fnSql, mkFn, framed, castOut): (String, WS => Column, Boolean, Boolean) =
          rnd.nextInt(6) match {
            case 0 =>
              val e = genInt(rnd, cols, 2)
              (s"SUM(${e.sql})",
                (w: WS) => sum(e.col).over(w).cast("long"), true, true)
            case 1 =>
              val e = genInt(rnd, cols, 2)
              (s"COUNT(${e.sql})", (w: WS) => count(e.col).over(w), true, false)
            case 2 =>
              ("ROW_NUMBER()",
                (w: WS) => row_number().over(w).cast("long"), false, true)
            case 3 =>
              val e = genInt(rnd, cols, 2)
              (s"LAG(${e.sql}, 1)", (w: WS) => lag(e.col, 1).over(w), false, false)
            case 4 =>
              val e = genInt(rnd, cols, 2)
              (s"LEAD(${e.sql}, 1)", (w: WS) => lead(e.col, 1).over(w), false, false)
            case _ =>
              val e = genInt(rnd, cols, 2)
              val isMin = rnd.nextBoolean()
              (s"${if (isMin) "MIN" else "MAX"}(${e.sql})",
                (w: WS) => (if (isMin) min(e.col) else max(e.col)).over(w),
                true, false)
          }
        val partSql = part.map(p => s"PARTITION BY ${p.sql} ").getOrElse("")
        val frame =
          if (framed) " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW" else ""
        val wExpr0 = s"$fnSql OVER (${partSql}ORDER BY $ok ASC$frame)"
        val wExpr = if (castOut) s"CAST($wExpr0 AS BIGINT)" else wExpr0
        val outSel = (Seq(s"$ok AS o0") ++ part.map(p => s"${p.sql} AS p0") ++
          Seq(s"$wExpr AS w0")).mkString(", ")
        val nOut = 2 + part.size
        val ord = (1 to nOut).map(i => s"$i ASC NULLS FIRST").mkString(", ")
        (outSel, s" ORDER BY $ord", (df: DataFrame) => {
          val W = org.apache.spark.sql.expressions.Window
          val spec0 = part match {
            case Some(p) => W.partitionBy(p.col); case None => W.partitionBy()
          }
          val ordered = spec0.orderBy(col(ok))
          val spec = if (framed)
            ordered.rowsBetween(W.unboundedPreceding, W.currentRow) else ordered
          val sel = Seq(col(ok).as("o0")) ++ part.map(_.col.as("p0")) ++
            Seq(mkFn(spec).as("w0"))
          val outNames = Seq("o0") ++ part.map(_ => "p0") ++ Seq("w0")
          df.select(sel: _*).orderBy(outNames.map(n => col(n).asc_nulls_first): _*)
        })
      } else if (termDraw < 7) {
        // group-agg terminal
        val nk = rnd.nextInt(3)
        val keys = (0 until nk).map { i =>
          val e = rnd.nextInt(3) match {
            case 0 => { val c = pick(rnd, strCols(cols)); FE(c.name, col(c.name)) }
            case 1 =>
              val c = pick(rnd, intCols(cols)); val m = 2 + rnd.nextInt(8)
              FE(s"(${c.name} % $m)", col(c.name) % m)
            case _ if tsCols(cols).nonEmpty =>
              val c = pick(rnd, tsCols(cols))
              FE(s"CAST(EXTRACT(YEAR FROM ${c.name}) AS BIGINT)",
                year(col(c.name)).cast("long"))
            case _ => { val c = pick(rnd, strCols(cols)); FE(c.name, col(c.name)) }
          }
          (s"g$i", e)
        }
        val nAgg = 1 + rnd.nextInt(3)
        val aggs = (0 until nAgg).map(i => (s"a$i", genAgg(rnd, cols)))
        val sel = (keys.map { case (n, e) => s"${e.sql} AS $n" } ++
          aggs.map { case (n, e) => s"${e.sql} AS $n" }).mkString(", ")
        val grp = if (keys.isEmpty) ""
          else s" GROUP BY ${keys.indices.map(_ + 1).mkString(", ")}"
        // HAVING on grouped cases whose first agg is an integer (COUNT(*)
        // or the CAST(SUM .. AS BIGINT) form — matched by its exact
        // integer spelling, so the string-emitted decimal sum can never
        // be compared to an integer literal): repeat the aggregate
        // expression in HAVING (alias resolution there differs across
        // engines); the DSL filters the aliased output column — identical
        // semantics, independent spelling. NOTE: the rnd.nextBoolean()
        // draw stays FIRST so guard changes never shift the random
        // stream of later cases.
        val headSql = aggs.head._2.sql
        val havingT =
          if (keys.nonEmpty && rnd.nextBoolean() &&
              (headSql == "COUNT(*)" ||
                (headSql.startsWith("CAST(SUM(") &&
                  headSql.endsWith(" AS BIGINT)"))))
            Some(rnd.nextInt(40).toLong)
          else None
        val having = havingT.map(t => s" HAVING $headSql > $t").getOrElse("")
        val ord = (1 to keys.size + aggs.size)
          .map(i => s"$i ASC NULLS FIRST").mkString(", ")
        (sel, s"$grp$having ORDER BY $ord", (df: DataFrame) => {
          val base = if (keys.isEmpty) df.agg(aggs.head._2.col.as(aggs.head._1),
            aggs.tail.map { case (n, e) => e.col.as(n) }: _*)
          else df.groupBy(keys.map { case (n, e) => e.col.as(n) }: _*)
            .agg(aggs.head._2.col.as(aggs.head._1),
              aggs.tail.map { case (n, e) => e.col.as(n) }: _*)
          val filtered = havingT match {
            case Some(t) => base.filter(col(aggs.head._1) > t)
            case None    => base
          }
          val outNames = keys.map(_._1) ++ aggs.map(_._1)
          filtered.orderBy(outNames.map(n => col(n).asc_nulls_first): _*)
        })
      } else {
        // projection terminal
        val n = 2 + rnd.nextInt(3)
        val exs = (0 until n).map(i => (s"e$i", genOut(rnd, cols)))
        val sel = exs.map { case (nm, e) => s"${e.sql} AS $nm" }.mkString(", ")
        val ord = (1 to n).map(i => s"$i ASC NULLS FIRST").mkString(", ")
        (sel, s" ORDER BY $ord", (df: DataFrame) =>
          df.select(exs.map { case (nm, e) => e.col.as(nm) }: _*)
            .orderBy(exs.map { case (nm, _) => col(nm).asc_nulls_first }: _*))
      }

    val whereSql = wherePred.map(p => s" WHERE ${p.sql}").getOrElse("")
    val sql = s"SELECT $selectSql FROM $fromSql$whereSql$groupSql"
    val q: util.Q = (s, d) => {
      val src = mkDf(s, d)
      build(wherePred.map(p => src.filter(p.col)).getOrElse(src))
    }
    FuzzCase(f"fuzz_q$idx%02d", sql, q)
  }

  // ---- v2 batch (r17, VERDICT r16 task 4): fuzz_q48.. ------------------------
  //
  // A SECOND master seed and generator so the 48 frozen v1 keys regenerate
  // byte-identically while the surface grows. New shapes, each through a
  // DSL entry the v1 batch never reached:
  //   * as-of terminals (LazyFrame.joinAsof backward/forward, optional
  //     by-group) against DuckDB's native ASOF LEFT JOIN — the right side
  //     is GROUP BY-unique on the as-of key so tie-pinning semantics never
  //     enter the differential;
  //   * inequality-join terminals (LazyFrame.joinWhere → grid IEJoin) over
  //     two GROUP BY-aggregated sides, so the output is ≤ |ga|×|gb| rows
  //     at ANY scale factor;
  //   * correlated scalar subqueries (COUNT/SUM/MIN/MAX over lineitem
  //     correlated on the orders key) — DSL as aggregate + using-join,
  //     COALESCE(0) for the COUNT-on-empty-set scalar semantics;
  //   * group-agg v2: the proven string-digitstring decimal SUM now also
  //     over a DECIMAL×DECIMAL product (q6-revenue shape), and HAVING
  //     extended from integer COUNT/SUM heads to MIN/MAX integer heads
  //     (typed tags, not spelling matches, pick the comparable heads).

  private val MasterSeedV2 = 20260817L
  private val nCasesV2 = 36

  /** v2 aggregate: FE plus a type tag for the HAVING guard —
    * 'c' = COUNT (BIGINT), 's' = integer SUM (BIGINT), 'm' = integer
    * MIN/MAX (BIGINT), 'x' = not integer-comparable (string digitstring
    * sums, string/ts min/max). */
  private def genAggV2(rnd: Random, cols: Seq[C]): (FE, Char) =
    rnd.nextInt(8) match {
      case 0 => (FE("COUNT(*)", count(lit(1))), 'c')
      case 1 =>
        val e = genOut(rnd, cols)
        (FE(s"COUNT(${e.sql})", count(e.col)), 'c')
      case 2 =>
        val e = genInt(rnd, cols, 2)
        (FE(s"CAST(SUM(${e.sql}) AS BIGINT)", sum(e.col).cast("long")), 's')
      case 3 if dblCols(cols).nonEmpty =>
        val c = pick(rnd, dblCols(cols))
        (FE("CAST(CAST(SUM(CAST(" + c.name +
            " AS DECIMAL(18,2))) AS DECIMAL(38,6)) AS VARCHAR)",
          sum(col(c.name).cast("decimal(18,2)")).cast("decimal(38,6)")
            .cast("string")), 'x')
      case 4 if dblCols(cols).size >= 2 =>
        // decimal×decimal product sum (TPC-H q6 revenue shape): cents ×
        // cents → DECIMAL(·,4), exact in both engines, summed exactly,
        // then the r16 string-digitstring emission (header doc).
        val a = pick(rnd, dblCols(cols)); val b = pick(rnd, dblCols(cols))
        (FE("CAST(CAST(SUM(CAST(" + a.name + " AS DECIMAL(18,2)) * CAST(" +
            b.name + " AS DECIMAL(18,2))) AS DECIMAL(38,6)) AS VARCHAR)",
          sum(col(a.name).cast("decimal(18,2)") *
              col(b.name).cast("decimal(18,2)")).cast("decimal(38,6)")
            .cast("string")), 'x')
      case 5 =>
        val e = genInt(rnd, cols, 1)
        val isMin = rnd.nextBoolean()
        (FE(s"${if (isMin) "MIN" else "MAX"}(${e.sql})",
          if (isMin) min(e.col) else max(e.col)), 'm')
      case _ =>
        val pool = cols.filter(c => "isdt".contains(c.kind))
        val c = pick(rnd, pool)
        val isMin = rnd.nextBoolean()
        (FE(s"${if (isMin) "MIN" else "MAX"}(${c.name})",
          if (isMin) min(col(c.name)) else max(col(c.name))),
          if (c.kind == 'i') 'm' else 'x')
    }

  /** A small GROUP BY-aggregated side for the IEJoin terminal: bounded to
    * ≤ `m` rows at any scale factor (the group key is `key % m`), with an
    * integer aggregate payload. `g`/`v` are the group/payload output
    * aliases; returns (subquery SQL, DSL builder). */
  private def genBoundedSide(rnd: Random, tbl: Tbl, g: String, v: String)
      : (String, (SparkSession, String) => DataFrame) = {
    val key = pick(rnd, intCols(tbl.cols))
    val m = 4 + rnd.nextInt(13)
    val (agg, _) = {
      // only integer-comparable payloads: draw until c/s/m (bounded —
      // tags are independent of table shape for these three cases)
      var a = genAggV2(rnd, tbl.cols)
      while (a._2 == 'x') a = genAggV2(rnd, tbl.cols)
      a
    }
    val pred = if (rnd.nextBoolean()) Some(genBool(rnd, tbl.cols, 1)) else None
    val w = pred.map(p => s" WHERE ${p.sql}").getOrElse("")
    val sql = s"(SELECT (${key.name} % $m) AS $g, ${agg.sql} AS $v " +
      s"FROM ${tbl.name}$w GROUP BY 1)"
    val mk = (s: SparkSession, d: String) => {
      val base = util.t(s, d, tbl.name)
      val f = pred.map(p => base.filter(p.col)).getOrElse(base)
      f.groupBy((col(key.name) % m).as(g)).agg(agg.col.as(v))
    }
    (sql, mk)
  }

  private def genFuzzCaseV2(idx: Int, rnd: Random): FuzzCase =
    rnd.nextInt(10) match {
      // ---- as-of terminal (3/10) ------------------------------------------
      case 0 | 1 | 2 =>
        val backward = rnd.nextBoolean()
        val by = rnd.nextBoolean()
        // left: lineitem keyed on l_shipdate; right: orders collapsed to
        // one row per (group,) o_orderdate — GROUP BY-unique on the as-of
        // key, so both engines' tie rules are moot
        val m = 2 + rnd.nextInt(6)
        val rPred = if (rnd.nextBoolean()) Some(genBool(rnd, orders.cols, 1)) else None
        val lPred = if (rnd.nextBoolean()) Some(genBool(rnd, lineitem.cols, 1)) else None
        val rw = rPred.map(p => s" WHERE ${p.sql}").getOrElse("")
        val lw = lPred.map(p => s" WHERE ${p.sql}").getOrElse("")
        val gSelR = if (by) s"(o_custkey % $m) AS g, " else ""
        val gGrpR = if (by) "1, 2" else "1"
        val rightSql = s"(SELECT ${gSelR}o_orderdate AS rts, " +
          s"CAST(COUNT(*) AS BIGINT) AS rv FROM orders$rw GROUP BY $gGrpR)"
        val gSelL = if (by) s"(l_suppkey % $m) AS g, " else ""
        val leftSql = s"(SELECT ${gSelL}l_orderkey, l_shipdate " +
          s"FROM lineitem$lw)"
        val onSql = (if (by) "l.g = r.g AND " else "") +
          s"l.l_shipdate ${if (backward) ">=" else "<="} r.rts"
        val outCols = (if (by) Seq("g") else Nil) ++
          Seq("l_orderkey", "l_shipdate", "rts", "rv")
        // `g` exists on BOTH sides of the ASOF join — qualify (l.g AS g)
        val outSql = (if (by) Seq("l.g AS g") else Nil) ++
          Seq("l.l_orderkey", "l.l_shipdate", "r.rts", "r.rv")
        val ord = outCols.indices.map(i => s"${i + 1} ASC NULLS FIRST")
          .mkString(", ")
        val sql = s"SELECT ${outSql.mkString(", ")} FROM $leftSql l " +
          s"ASOF LEFT JOIN $rightSql r ON $onSql ORDER BY $ord"
        val q: util.Q = (s, d) => {
          val l0 = util.t(s, d, "lineitem")
          val lf0 = lPred.map(p => l0.filter(p.col)).getOrElse(l0)
          val left = if (by)
            lf0.select((col("l_suppkey") % m).as("g"), col("l_orderkey"),
              col("l_shipdate"))
          else lf0.select(col("l_orderkey"), col("l_shipdate"))
          val r0 = util.t(s, d, "orders")
          val rf0 = rPred.map(p => r0.filter(p.col)).getOrElse(r0)
          val right = if (by)
            rf0.groupBy((col("o_custkey") % m).as("g"),
                col("o_orderdate").as("rts"))
              .agg(count(lit(1)).as("rv"))
          else rf0.groupBy(col("o_orderdate").as("rts"))
            .agg(count(lit(1)).as("rv"))
          LazyFrame(left).joinAsof(LazyFrame(right), "l_shipdate", "rts",
              by = if (by) Seq("g") else Nil,
              strategy = if (backward) "backward" else "forward")
            .df.select(outCols.map(col): _*)
            .orderBy(outCols.map(n => col(n).asc_nulls_first): _*)
        }
        FuzzCase(f"fuzz_q$idx%02d", sql, q)

      // ---- inequality-join terminal (2/10) --------------------------------
      case 3 | 4 =>
        val (aSql, mkA) = genBoundedSide(rnd, customer, "ga", "va")
        val (bSql, mkB) = genBoundedSide(rnd, orders, "gb", "vb")
        val ops = Seq("<", "<=", ">", ">=")
        val op1 = pick(rnd, ops)
        val op2 = pick(rnd, ops)
        val sql = s"SELECT ga, va, gb, vb FROM $aSql a JOIN $bSql b " +
          s"ON a.ga $op1 b.gb AND a.va $op2 b.vb " +
          "ORDER BY 1 ASC NULLS FIRST, 2 ASC NULLS FIRST, " +
          "3 ASC NULLS FIRST, 4 ASC NULLS FIRST"
        def cmp(op: String)(x: Column, y: Column): Column = op match {
          case "<" => x < y; case "<=" => x <= y
          case ">" => x > y; case _ => x >= y
        }
        val q: util.Q = (s, d) => {
          val a = mkA(s, d); val b = mkB(s, d)
          LazyFrame(a).joinWhere(LazyFrame(b),
              cmp(op1)(col("ga"), col("gb")) && cmp(op2)(col("va"), col("vb")))
            .df.select(col("ga"), col("va"), col("gb"), col("vb"))
            .orderBy(Seq("ga", "va", "gb", "vb").map(col(_).asc_nulls_first): _*)
        }
        FuzzCase(f"fuzz_q$idx%02d", sql, q)

      // ---- correlated scalar subquery terminal (2/10) ----------------------
      case 5 | 6 =>
        val pred = if (rnd.nextBoolean()) Some(genBool(rnd, lineitem.cols, 1)) else None
        val wPred = if (rnd.nextBoolean()) Some(genBool(rnd, orders.cols, 1)) else None
        val pw = pred.map(p => s" AND ${p.sql}").getOrElse("")
        val ww = wPred.map(p => s" WHERE ${p.sql}").getOrElse("")
        // scalar aggregate over the correlated lineitem set
        val (scalarSql, scalarCol, isCount) = rnd.nextInt(4) match {
          case 0 => ("CAST(COUNT(*) AS BIGINT)", count(lit(1)), true)
          case 1 =>
            val e = genInt(rnd, lineitem.cols, 1)
            (s"CAST(SUM(${e.sql}) AS BIGINT)", sum(e.col).cast("long"), false)
          case 2 =>
            val e = genInt(rnd, lineitem.cols, 1)
            (s"MIN(${e.sql})", min(e.col), false)
          case _ =>
            val e = genInt(rnd, lineitem.cols, 1)
            (s"MAX(${e.sql})", max(e.col), false)
        }
        val extra = genOut(rnd, orders.cols)
        // scalar COUNT over an empty correlated set is 0, not NULL — the
        // left join emits NULL there, hence the COALESCE pair
        val sSel = s"(SELECT $scalarSql FROM lineitem " +
          s"WHERE l_orderkey = o_orderkey$pw)"
        val s0 = if (isCount) s"COALESCE($sSel, 0)" else sSel
        val sql = s"SELECT o_orderkey, ${extra.sql} AS e0, $s0 AS s0 " +
          s"FROM orders$ww ORDER BY 1 ASC NULLS FIRST, 2 ASC NULLS FIRST, " +
          "3 ASC NULLS FIRST"
        val q: util.Q = (s, d) => {
          val sub = util.t(s, d, "lineitem")
          val subF = pred.map(p => sub.filter(p.col)).getOrElse(sub)
          val agg = subF.groupBy(col("l_orderkey").as("o_orderkey"))
            .agg(scalarCol.as("__s"))
          val o0 = util.t(s, d, "orders")
          val oF = wPred.map(p => o0.filter(p.col)).getOrElse(o0)
          val j = LazyFrame(oF).join(LazyFrame(agg), Seq("o_orderkey"), "left").df
          val sOut = if (isCount) coalesce(col("__s"), lit(0L)) else col("__s")
          j.select(col("o_orderkey"), extra.col.as("e0"), sOut.as("s0"))
            .orderBy(Seq("o_orderkey", "e0", "s0").map(col(_).asc_nulls_first): _*)
        }
        FuzzCase(f"fuzz_q$idx%02d", sql, q)

      // ---- group-agg v2 terminal (3/10) ------------------------------------
      case _ =>
        val (fromSql, cols, _, mkDf) = genSource(rnd)
        val wherePred =
          if (rnd.nextBoolean()) Some(genBool(rnd, cols, 2)) else None
        val nk = 1 + rnd.nextInt(2)
        val keys = (0 until nk).map { i =>
          val e = rnd.nextInt(3) match {
            case 0 => { val c = pick(rnd, strCols(cols)); FE(c.name, col(c.name)) }
            case 1 =>
              val c = pick(rnd, intCols(cols)); val m = 2 + rnd.nextInt(8)
              FE(s"(${c.name} % $m)", col(c.name) % m)
            case _ if tsCols(cols).nonEmpty =>
              val c = pick(rnd, tsCols(cols))
              FE(s"CAST(EXTRACT(YEAR FROM ${c.name}) AS BIGINT)",
                year(col(c.name)).cast("long"))
            case _ => { val c = pick(rnd, strCols(cols)); FE(c.name, col(c.name)) }
          }
          (s"g$i", e)
        }
        val nAgg = 1 + rnd.nextInt(3)
        val aggs = (0 until nAgg).map(i => (s"a$i", genAggV2(rnd, cols)))
        val sel = (keys.map { case (n, e) => s"${e.sql} AS $n" } ++
          aggs.map { case (n, (e, _)) => s"${e.sql} AS $n" }).mkString(", ")
        val grp = s" GROUP BY ${keys.indices.map(_ + 1).mkString(", ")}"
        // HAVING now keys off the TYPED tag (VERDICT r16 task 4: MIN/MAX
        // heads too), not the SQL spelling; the draw order is fixed within
        // this v2 generator so the guard can look at the tag directly.
        // Thresholds: group counts/sums compare against a small literal;
        // integer MIN/MAX values are key-scaled, so draw a wider literal.
        val headTag = aggs.head._2._2
        val havingT =
          if (rnd.nextBoolean() && (headTag == 'c' || headTag == 's' || headTag == 'm'))
            Some(if (headTag == 'm') rnd.nextInt(2000).toLong
                 else rnd.nextInt(40).toLong)
          else None
        val having = havingT
          .map(t => s" HAVING ${aggs.head._2._1.sql} > $t").getOrElse("")
        val ord = (1 to keys.size + aggs.size)
          .map(i => s"$i ASC NULLS FIRST").mkString(", ")
        val whereSql = wherePred.map(p => s" WHERE ${p.sql}").getOrElse("")
        val sql = s"SELECT $sel FROM $fromSql$whereSql$grp$having ORDER BY $ord"
        val q: util.Q = (s, d) => {
          val src0 = mkDf(s, d)
          val src = wherePred.map(p => src0.filter(p.col)).getOrElse(src0)
          val base = src.groupBy(keys.map { case (n, e) => e.col.as(n) }: _*)
            .agg(aggs.head._2._1.col.as(aggs.head._1),
              aggs.tail.map { case (n, (e, _)) => e.col.as(n) }: _*)
          val filtered = havingT match {
            case Some(t) => base.filter(col(aggs.head._1) > t)
            case None    => base
          }
          val outNames = keys.map(_._1) ++ aggs.map(_._1)
          filtered.orderBy(outNames.map(n => col(n).asc_nulls_first): _*)
        }
        FuzzCase(f"fuzz_q$idx%02d", sql, q)
    }

  // ---- v3 batch (r18, VERDICT r17 task 5): fuzz_q84.. -------------------------
  //
  // As-of NEAREST terminals — the one as-of strategy no fuzz reached (the
  // v2 batch covers backward/forward only, because DuckDB has no native
  // nearest). The oracle is the proven two-direction emulation from the
  // curated join_asof_nearest key: a backward pass (ASOF ... >=) and a
  // forward pass (ASOF ... <=) joined back on a UNIQUE left key
  // (o_orderkey), nearest by distance, tie → backward — matching
  // ops/AsOf.scala's `db <= df_` (polars prefers the earlier row on ties,
  // asof/mod.rs:262-270). The right side is GROUP BY-unique on the as-of
  // key (and the optional by-group), so within-direction tie-pinning
  // never enters the differential. A third master seed keeps the 84
  // frozen v1+v2 keys regenerating byte-identically.

  private val MasterSeedV3 = 20260819L
  private val nCasesV3 = 8

  private def genFuzzCaseV3(idx: Int, rnd: Random): FuzzCase = {
    val by = rnd.nextBoolean()
    val m = 2 + rnd.nextInt(6)
    val lPred = if (rnd.nextBoolean()) Some(genBool(rnd, orders.cols, 1)) else None
    val rPred = if (rnd.nextBoolean()) Some(genBool(rnd, lineitem.cols, 1)) else None
    // integer-typed right payload only (BIGINT in both engines): draw
    // genAggV2 until the tag is comparable, as genBoundedSide does
    val (agg, _) = {
      var a = genAggV2(rnd, lineitem.cols)
      while (a._2 == 'x') a = genAggV2(rnd, lineitem.cols)
      a
    }
    val lw = lPred.map(p => s" WHERE ${p.sql}").getOrElse("")
    val rw = rPred.map(p => s" WHERE ${p.sql}").getOrElse("")
    val gSelL = if (by) s"(o_custkey % $m) AS g, " else ""
    val gSelR = if (by) s"(l_suppkey % $m) AS g, " else ""
    val gGrpR = if (by) "1, 2" else "1"
    val gOn = if (by) "l.g = r.g AND " else ""
    val outCols = (if (by) Seq("g") else Nil) ++
      Seq("o_orderkey", "o_orderdate", "rts", "rv")
    val nearer = "b_ts IS NOT NULL AND (f_ts IS NULL OR " +
      "(l.o_orderdate - b_ts) <= (f_ts - l.o_orderdate))"
    val ord = outCols.indices.map(i => s"${i + 1} ASC NULLS FIRST")
      .mkString(", ")
    val sql =
      s"WITH l AS (SELECT $gSelL" + s"o_orderkey, o_orderdate FROM orders$lw), " +
      s"r AS (SELECT $gSelR" + s"l_shipdate AS rts, ${agg.sql} AS rv " +
      s"FROM lineitem$rw GROUP BY $gGrpR), " +
      s"b AS (SELECT l.o_orderkey, r.rts AS b_ts, r.rv AS b_rv " +
      s"FROM l ASOF LEFT JOIN r ON ${gOn}l.o_orderdate >= r.rts), " +
      s"f AS (SELECT l.o_orderkey, r.rts AS f_ts, r.rv AS f_rv " +
      s"FROM l ASOF LEFT JOIN r ON ${gOn}l.o_orderdate <= r.rts) " +
      s"SELECT ${if (by) "l.g AS g, " else ""}l.o_orderkey, l.o_orderdate, " +
      s"CASE WHEN $nearer THEN b_ts ELSE f_ts END AS rts, " +
      s"CASE WHEN $nearer THEN b_rv ELSE f_rv END AS rv " +
      "FROM l JOIN b ON l.o_orderkey = b.o_orderkey " +
      "JOIN f ON l.o_orderkey = f.o_orderkey " +
      s"ORDER BY $ord"
    val q: util.Q = (s, d) => {
      val o0 = util.t(s, d, "orders")
      val oF = lPred.map(p => o0.filter(p.col)).getOrElse(o0)
      val left = if (by)
        oF.select((col("o_custkey") % m).as("g"), col("o_orderkey"),
          col("o_orderdate"))
      else oF.select(col("o_orderkey"), col("o_orderdate"))
      val l0 = util.t(s, d, "lineitem")
      val lF = rPred.map(p => l0.filter(p.col)).getOrElse(l0)
      val right = if (by)
        lF.groupBy((col("l_suppkey") % m).as("g"),
            col("l_shipdate").as("rts"))
          .agg(agg.col.as("rv"))
      else lF.groupBy(col("l_shipdate").as("rts")).agg(agg.col.as("rv"))
      LazyFrame(left).joinAsof(LazyFrame(right), "o_orderdate", "rts",
          by = if (by) Seq("g") else Nil, strategy = "nearest")
        .df.select(outCols.map(col): _*)
        .orderBy(outCols.map(n => col(n).asc_nulls_first): _*)
    }
    FuzzCase(f"fuzz_q$idx%02d", sql, q)
  }

  private val cases: Seq[FuzzCase] = {
    val rnd = new Random(MasterSeed)
    val v1 = (0 until nCases).map(i => genFuzzCase(i, rnd))
    val rnd2 = new Random(MasterSeedV2)
    val v2 = (0 until nCasesV2).map(i => genFuzzCaseV2(nCases + i, rnd2))
    val rnd3 = new Random(MasterSeedV3)
    val v3 = (0 until nCasesV3).map(i =>
      genFuzzCaseV3(nCases + nCasesV2 + i, rnd3))
    v1 ++ v2 ++ v3
  }

  val queries: Map[String, util.Q] =
    cases.map(c => c.name -> c.q).toMap

  val oracle: Map[String, String] =
    cases.map(c => c.name -> c.sql).toMap
}
