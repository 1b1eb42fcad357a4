package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.json4s.{Formats, DefaultFormats, ShortTypeHints}
import org.json4s.jackson.Serialization

/** Logical-plan serialization — the Spark analogue of polars' plan
  * round-trip for remote execution (`LazyFrame::serialize`,
  * reference crates/polars-plan/src/client/mod.rs: the client serializes
  * the logical plan, a remote engine deserializes and executes it).
  *
  * Spark's own remote story is Spark Connect (the DataFrame API already
  * ships plans over the wire as protobuf), so this layer deliberately does
  * NOT reinvent a Column serializer: the DSL plan is a small JSON tree of
  * operators whose expressions are Spark SQL strings — the stable,
  * human-auditable wire form Spark itself exposes (`selectExpr`/`expr`).
  * Everything `expr()` can parse (scalar functions, aggregates, window
  * functions, HOFs) rides through unchanged, so the serializable surface
  * is the full SQL expression language, not a hand-picked subset.
  *
  * Contract: `build(spark, fromJson(toJson(plan)))` executes the same
  * logical plan as `build(spark, plan)` — pinned by PlanSerdeSpec over
  * scan/filter/select/agg/join/window/sort/limit shapes plus the graft
  * operators a remote executor needs beyond the relational core
  * (as-of join, inequality join, unique-keep, explode, unnest, unpivot)
  * and a composed curation pipeline. */
object PlanSerde {

  /** One JSON-serializable logical operator. Expressions are Spark SQL
    * strings; children nest. */
  sealed trait Node

  /** `spark.read.format(format).load(path)`; `options` pass through. */
  case class Scan(format: String, path: String,
                  options: Map[String, String] = Map.empty) extends Node
  case class Filter(child: Node, predicate: String) extends Node
  /** `selectExpr(exprs: _*)` — aliases inside the strings. */
  case class Select(child: Node, exprs: Seq[String]) extends Node
  /** groupBy(keys).agg(aggs) — empty keys = global aggregate. */
  case class Agg(child: Node, keys: Seq[String], aggs: Seq[String])
    extends Node
  case class Join(left: Node, right: Node, on: Seq[String], how: String)
    extends Node
  case class Sort(child: Node, keys: Seq[SortKey]) extends Node
  case class Limit(child: Node, n: Int) extends Node

  // ---- graft operators (the ops a remote executor actually needs beyond
  // ---- the relational core; r12 verdict task 5) --------------------------

  /** polars join_asof → [[graft.ops.AsOf.join]]. `tolerance` is a SQL
    * expression string in the key's natural comparison units (epoch
    * seconds for timestamp keys — the AsOf contract, e.g. "7200.0"). */
  case class AsOfJoin(left: Node, right: Node, leftOn: String,
                      rightOn: String, by: Seq[String] = Nil,
                      strategy: String = "backward",
                      tolerance: Option[String] = None) extends Node
  /** Inequality-led join → grid-partitioned [[graft.ops.IEJoin.join]].
    * `op` ∈ <, <=, >, >=; `residual` is an extra predicate conjunct. */
  case class IneqJoin(left: Node, right: Node, leftExpr: String, op: String,
                      rightExpr: String,
                      residual: Option[String] = None) extends Node
  /** polars unique(). keep ∈ any|first|last|none; first/last/none need
    * `orderBy` (a SQL expression) — Spark has no implicit row order. */
  case class Unique(child: Node, subset: Seq[String] = Nil,
                    keep: String = "any",
                    orderBy: Option[String] = None) extends Node
  /** polars explode: one column explodes alone; several explode in
    * LOCKSTEP (position-aligned), matching LazyFrame.explodeMany. */
  case class Explode(child: Node, cols: Seq[String],
                     outer: Boolean = false) extends Node
  /** polars unnest: struct column → top-level columns. */
  case class Unnest(child: Node, col: String) extends Node
  /** polars unpivot/melt → Spark 4 native unpivot. */
  case class Unpivot(child: Node, ids: Seq[String], values: Seq[String],
                     variableName: String = "variable",
                     valueName: String = "value") extends Node

  /** A sort key: SQL expression + direction + null placement. */
  case class SortKey(sql: String, desc: Boolean = false,
                     nullsLast: Boolean = false)

  private implicit val formats: Formats = new DefaultFormats {
    override val typeHints = ShortTypeHints(List(
      classOf[Scan], classOf[Filter], classOf[Select], classOf[Agg],
      classOf[Join], classOf[Sort], classOf[Limit], classOf[AsOfJoin],
      classOf[IneqJoin], classOf[Unique], classOf[Explode],
      classOf[Unnest], classOf[Unpivot]))
  }

  def toJson(plan: Node): String = Serialization.write(plan)

  def fromJson(json: String): Node = Serialization.read[Node](json)

  private def sortCol(k: SortKey): Column = {
    val e = expr(k.sql)
    (k.desc, k.nullsLast) match {
      case (false, false) => e.asc_nulls_first
      case (false, true)  => e.asc_nulls_last
      case (true, false)  => e.desc_nulls_first
      case (true, true)   => e.desc_nulls_last
    }
  }

  /** Rebuild the DataFrame a plan describes. Pure plan construction —
    * nothing executes until an action. */
  def build(spark: SparkSession, plan: Node): DataFrame = plan match {
    case Scan(f, p, opts) => spark.read.format(f).options(opts).load(p)
    case Filter(c, p)     => build(spark, c).filter(expr(p))
    case Select(c, es)    => build(spark, c).selectExpr(es: _*)
    case Agg(c, ks, as) =>
      // A deserialized plan is untrusted input — contract message, not a
      // bare NoSuchElementException from aggs.head (r12 ADVICE).
      require(as.nonEmpty, "Agg needs at least one aggregate expression")
      val aggs = as.map(expr)
      build(spark, c).groupBy(ks.map(col): _*).agg(aggs.head, aggs.tail: _*)
    case Join(l, r, on, how) =>
      build(spark, l).join(build(spark, r), on, how)
    case Sort(c, ks) => build(spark, c).orderBy(ks.map(sortCol): _*)
    case Limit(c, n) =>
      require(n >= 0, s"Limit needs n >= 0, got $n")
      build(spark, c).limit(n)
    case AsOfJoin(l, r, lOn, rOn, by, strategy, tol) =>
      graft.ops.AsOf.join(build(spark, l), build(spark, r), lOn, rOn, by,
        strategy, tol.map(expr))
    case IneqJoin(l, r, lx, op, rx, residual) =>
      graft.ops.IEJoin.join(build(spark, l), build(spark, r), expr(lx), op,
        expr(rx), residual.map(expr).getOrElse(org.apache.spark.sql.functions.lit(true)))
    case Unique(c, subset, keep, orderBy) =>
      val df = build(spark, c)
      keep match {
        case "any" =>
          if (subset.isEmpty) df.dropDuplicates() else df.dropDuplicates(subset)
        case k @ ("first" | "last" | "none") =>
          require(orderBy.nonEmpty,
            s"Unique(keep=$k) needs an orderBy expression — Spark frames " +
              "have no implicit row order")
          graft.ops.Unique.keep(df, subset, k, expr(orderBy.get))
        case other =>
          throw new IllegalArgumentException(s"unknown Unique keep: $other")
      }
    case Explode(c, cols, outer) =>
      require(cols.nonEmpty, "Explode needs at least one column")
      val frame = graft.dsl.LazyFrame(build(spark, c))
      (if (cols.size == 1) frame.explodeCol(cols.head, outer)
       else frame.explodeMany(cols, outer)).df
    case Unnest(c, name)  => graft.dsl.LazyFrame(build(spark, c)).unnest(name).df
    case Unpivot(c, ids, values, vn, valn) =>
      graft.dsl.LazyFrame(build(spark, c)).unpivot(ids, values, vn, valn).df
  }

  /** Convenience: serialize, deserialize, build — the full round-trip. */
  def rebuild(spark: SparkSession, plan: Node): DataFrame =
    build(spark, fromJson(toJson(plan)))
}
