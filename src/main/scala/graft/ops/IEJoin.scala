package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed inequality join (polars `join_where` with pure inequality
  * predicates; reference implements the IEJoin paper single-node,
  * `crates/polars-ops/src/frame/join/iejoin/`).
  *
  * Spark-first shape: a BroadcastNestedLoopJoin ships one ENTIRE side to
  * every task — the memory wall at 100 TB. Instead, grid-partition on the
  * first inequality's attribute (Okcan & Riedewald theta-join grid, pruned
  * by the IEJoin observation that for `a.x < b.x` only upper-triangle cells
  * can produce matches):
  *
  *   1. k range blocks from approx quantiles of BOTH sides' x (balanced);
  *   2. left block i fans out to cells {(i,j) : j ≥ i}, right block j to
  *      {(i,j) : i ≤ j} (mirrored for `>`): every candidate pair meets in
  *      EXACTLY one cell, and ~half the grid is pruned before it exists;
  *   3. one shuffle each side on cell id, then an ordinary EQUI-join on the
  *      cell id with the original predicates as residual join filters.
  *
  * Per-task memory is one (n/k × n/k) cell — bounded by k, no broadcast —
  * and the equi-join shape means AQE's skew-split applies to hot cells.
  * k is the fixed [[Buckets]], not a per-call argument: rows replicate ≤ k
  * times, and the pruned grid's k(k+1)/2 cells (136) are spread over the
  * session's shuffle partitions by the cell-id exchange. Degenerate
  * single-value domains collapse to one cell (= the unavoidable cross
  * check) rather than failing.
  */
object IEJoin {

  /** Range blocks per side (the grid's k); duplicate quantiles collapse it
    * further on low-cardinality inputs. */
  val Buckets = 16

  /** Inner join on `lx op rx [AND residual]`. `op` ∈ {<, <=, >, >=};
    * `residual` may be any further predicate over both sides' columns
    * (lit(true) for none). Column names must be disjoint across sides,
    * as in any Spark join followed by by-name selection. */
  def join(left: DataFrame, right: DataFrame,
           lx: Column, op: String, rx: Column,
           residual: Column = lit(true)): DataFrame =
    join(left, right, lx, op, rx, residual, Buckets)

  /** [[join]] on a grid of `buckets` blocks per side; specs use it to
    * exercise small grids. */
  private[graft] def join(left: DataFrame, right: DataFrame,
                          lx: Column, op: String, rx: Column,
                          residual: Column, buckets: Int): DataFrame = {
    require(Set("<", "<=", ">", ">=")(op), s"op must be an inequality, got '$op'")

    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val bounds = left.select(lx.cast("double").as("__graft_x"))
      .unionAll(right.select(rx.cast("double").as("__graft_x")))
      .na.drop()
      .stat.approxQuantile("__graft_x", probs, 0.001)
      .distinct.sorted
    val k = bounds.length + 1

    // block = #bounds <= x, as a codegen-friendly comparison chain
    def blk(c: Column): Column =
      bounds.foldLeft(lit(0)) { (acc, b) =>
        acc + when(c.cast("double") >= lit(b), 1).otherwise(0)
      }

    val lessLike = op.startsWith("<")
    // cell id = i * k + j for (left block i, right block j)
    val lcells = left.filter(lx.isNotNull)
      .withColumn("__graft_lb", blk(lx))
      .withColumn("__graft_cl", explode(
        if (lessLike) // j in [i, k): contiguous ids
          sequence(col("__graft_lb") * (k + 1), col("__graft_lb") * k + lit(k - 1))
        else          // j in [0, i]
          sequence(col("__graft_lb") * k, col("__graft_lb") * (k + 1))))
      .drop("__graft_lb")
    val rcells = right.filter(rx.isNotNull)
      .withColumn("__graft_rb", blk(rx))
      .withColumn("__graft_i", explode(
        if (lessLike) sequence(lit(0), col("__graft_rb"))   // i in [0, j]
        else sequence(col("__graft_rb"), lit(k - 1))))      // i in [j, k)
      .withColumn("__graft_cr", col("__graft_i") * k + col("__graft_rb"))
      .drop("__graft_i", "__graft_rb")

    val pred1 = op match {
      case "<"  => lx < rx
      case "<=" => lx <= rx
      case ">"  => lx > rx
      case ">=" => lx >= rx
    }
    lcells
      .join(rcells, col("__graft_cl") === col("__graft_cr") && pred1 && residual)
      .drop("__graft_cl", "__graft_cr")
  }

  /** join_where planner: split the predicate into conjuncts, find the first
    * simple inequality `leftCol op rightCol` between the two sides, and
    * route through [[join]] with the remaining conjuncts as residual. When
    * no such conjunct exists (or a name is ambiguous across sides), fall
    * back to the theta-join — correctness never depends on the upgrade. */
  def joinWhereAuto(left: DataFrame, right: DataFrame, predicates: Column): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd, Expression => CExpr,
      GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.graft.Bridge

    // Column-API trees arrive as UnresolvedFunction("and"/"<"/...) nodes;
    // typed nodes appear once analyzed — match both shapes.
    def asFn(e: CExpr): Option[(String, Seq[CExpr])] = e match {
      case f: UnresolvedFunction if f.nameParts.nonEmpty =>
        Some((f.nameParts.last.toLowerCase, f.arguments))
      case _ => None
    }
    def conjuncts(e: CExpr): Seq[CExpr] = e match {
      case CAnd(a, b) => conjuncts(a) ++ conjuncts(b)
      case _ => asFn(e) match {
        case Some(("and", Seq(a, b))) => conjuncts(a) ++ conjuncts(b)
        case _ => Seq(e)
      }
    }
    val lCols = left.columns.toSet
    val rCols = right.columns.toSet
    // a name usable as a grid axis must belong to exactly one side
    def side(name: String): Option[Boolean] = // Some(true)=left, Some(false)=right
      (lCols.contains(name), rCols.contains(name)) match {
        case (true, false) => Some(true)
        case (false, true) => Some(false)
        case _ => None
      }
    def attr(e: CExpr): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.name)
      case _ => None
    }
    // (leftName, op, rightName) normalized so the left side is first
    def asIneq(e: CExpr): Option[(String, String, String)] = {
      val parts = e match {
        case LessThan(a, b)           => Some((a, "<", b))
        case LessThanOrEqual(a, b)    => Some((a, "<=", b))
        case GreaterThan(a, b)        => Some((a, ">", b))
        case GreaterThanOrEqual(a, b) => Some((a, ">=", b))
        case _ => asFn(e) match {
          case Some((op @ ("<" | "<=" | ">" | ">="), Seq(a, b))) => Some((a, op, b))
          case _ => None
        }
      }
      parts.flatMap { case (a, op, b) =>
        (attr(a), attr(b)) match {
          case (Some(an), Some(bn)) =>
            (side(an), side(bn)) match {
              case (Some(true), Some(false)) => Some((an, op, bn))
              case (Some(false), Some(true)) => // flip: b op' a with sides swapped
                val flipped = op match {
                  case "<" => ">"; case "<=" => ">="; case ">" => "<"; case ">=" => "<="
                }
                Some((bn, flipped, an))
              case _ => None
            }
          case _ => None
        }
      }
    }

    val all = conjuncts(Bridge.eagerExpression(predicates))
    val hit = all.iterator.map(c => (c, asIneq(c))).collectFirst {
      case (c, Some(t)) => (c, t)
    }
    hit match {
      case Some((chosen, (ln, op, rn))) =>
        val rest = all.filterNot(_ eq chosen)
        val residual =
          if (rest.isEmpty) org.apache.spark.sql.functions.lit(true)
          else rest.map(Bridge.column).reduce(_ && _)
        join(left, right, org.apache.spark.sql.functions.col(ln), op,
          org.apache.spark.sql.functions.col(rn), residual)
      case None =>
        left.join(right, predicates, "inner")
    }
  }
}
