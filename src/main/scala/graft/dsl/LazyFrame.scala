package graft.dsl

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType

/** Polars-shaped lazy frame over a Spark [[DataFrame]].
  *
  * The reference's `LazyFrame` (crates/polars-lazy/src/frame/mod.rs) holds a
  * `DslPlan` + optimizer flags; Spark's `DataFrame` is already a lazy logical
  * plan handled by Catalyst, so this wrapper adds only the polars API surface
  * (select / with_columns / group_by / join / unique / explode / unpivot /
  * concat / asof ...) and ordering discipline — it never materializes until a
  * terminal action (`collect`, `sinkParquet`, ...).
  *
  * Row-order discipline (SURVEY §7.1): Spark frames are unordered; every
  * order-sensitive polars op (shift/cum/head/unique-keep-first/with_row_index)
  * takes explicit order columns here instead of relying on implicit row order.
  */
final class LazyFrame(val df: DataFrame) {

  def spark: SparkSession = df.sparkSession
  def schema: StructType = df.schema
  def columns: Seq[String] = df.columns.toSeq

  // ---- projection ---------------------------------------------------------

  def select(exprs: Column*): LazyFrame = LazyFrame(df.select(exprs: _*))
  def selectNames(names: String*): LazyFrame =
    LazyFrame(df.select(names.map(col): _*))

  /** polars `with_columns`: add/replace columns, keeping the rest. */
  def withColumns(cols: (String, Column)*): LazyFrame =
    LazyFrame(df.withColumns(cols.toMap))

  def withColumn(name: String, c: Column): LazyFrame =
    LazyFrame(df.withColumn(name, c))

  def drop(names: String*): LazyFrame = LazyFrame(df.drop(names: _*))

  def rename(mapping: (String, String)*): LazyFrame =
    LazyFrame(df.withColumnsRenamed(mapping.toMap))

  /** Column multi-select by predicate over the schema (polars selectors,
    * cs.numeric() etc. — reference crates/polars-plan/src/dsl/selector.rs). */
  def selectBy(pred: org.apache.spark.sql.types.StructField => Boolean): LazyFrame =
    LazyFrame(df.select(df.schema.fields.filter(pred).map(f => col(f.name)): _*))

  // ---- filter / slice -----------------------------------------------------

  def filter(cond: Column): LazyFrame = LazyFrame(df.filter(cond))
  def where(cond: Column): LazyFrame = filter(cond)

  def limit(n: Int): LazyFrame = LazyFrame(df.limit(n))
  def head(n: Int): LazyFrame = limit(n)

  /** polars slice(offset, len) — requires an explicit order for determinism.
    * Row numbers come from the range-partitioned scan in [[graft.ops.Distributed]],
    * not a keyless window, so the slice distributes at scale. */
  def slice(offset: Long, len: Long, orderBy: Seq[Column]): LazyFrame =
    LazyFrame(
      graft.ops.Distributed.withRowNumber(df, "__rn", orderBy)
        .filter(col("__rn") > offset && col("__rn") <= offset + len)
        .drop("__rn"))

  // ---- sort ---------------------------------------------------------------

  def sort(exprs: Column*): LazyFrame = LazyFrame(df.orderBy(exprs: _*))

  def sortBy(name: String, descending: Boolean = false, nullsLast: Boolean = false): LazyFrame = {
    val c = (descending, nullsLast) match {
      case (false, false) => col(name).asc_nulls_first
      case (false, true)  => col(name).asc_nulls_last
      case (true, false)  => col(name).desc_nulls_first
      case (true, true)   => col(name).desc_nulls_last
    }
    LazyFrame(df.orderBy(c))
  }

  /** polars top_k: Catalyst plans orderBy+limit as TakeOrderedAndProject —
    * no full sort at scale. */
  def topK(k: Int, by: Column*): LazyFrame =
    LazyFrame(df.orderBy(by.map(_.desc): _*).limit(k))

  def bottomK(k: Int, by: Column*): LazyFrame =
    LazyFrame(df.orderBy(by.map(_.asc): _*).limit(k))

  // ---- group by -----------------------------------------------------------

  def groupBy(keys: Column*): GroupBy = new GroupBy(df, keys)
  def groupByNames(keys: String*): GroupBy = new GroupBy(df, keys.map(col))

  /** Time-bucketed group-by (polars group_by_dynamic,
    * crates/polars-time/src/group_by/dynamic.rs). every==period → tumbling;
    * every<period → hopping. Returns keys `_window_start`/`_window_end`.
    *
    * Hopping ratios: each row expands into period/every window instances
    * via Catalyst's Expand; past ~100 instances per row (e.g. a 1-day
    * period sliding every 7 minutes) the generated switch outgrows janino
    * method limits and Spark falls back to interpreted Expand — results
    * stay correct, but the fan-out leaves whole-stage codegen, which at
    * cluster scale is a real per-row cost. Headline ratios (1h/20m = 3
    * instances) stay comfortably inside codegen; see SCALE.md. */
  def groupByDynamic(ts: Column, every: String, period: Option[String] = None,
                     extraKeys: Seq[Column] = Nil): GroupBy = {
    val win = period match {
      case Some(p) if p != every => window(ts, p, every)
      case _                     => window(ts, every)
    }
    val tagged = df.withColumn("__w", win)
      .withColumn("_window_start", col("__w.start"))
      .withColumn("_window_end", col("__w.end"))
      .drop("__w")
    new GroupBy(tagged, col("_window_start") +: col("_window_end") +: extraKeys)
  }

  // ---- joins --------------------------------------------------------------

  /** polars join: key columns coalesce (Spark using-join), and right-side
    * NON-key columns whose names collide with the left get the polars
    * `suffix` (default "_right") instead of becoming ambiguous.
    * Like polars, no join method here takes a physical-plan argument:
    * which side broadcasts is decided by [[graft.plans.BroadcastBySize]]
    * (with Spark's own threshold) once per query when it is optimized, and
    * a hot key is split at run time by AQE's skew join (AQE is on in every
    * [[graft.GraftSession]]). */
  def join(other: LazyFrame, on: Seq[String], how: String = "inner",
           suffix: String = "_right"): LazyFrame = {
    val leftCols = df.columns.toSet
    val renamed = other.df.columns.foldLeft(other.df) { (d, c) =>
      if (!on.contains(c) && leftCols.contains(c)) d.withColumnRenamed(c, c + suffix)
      else d
    }
    LazyFrame(df.join(renamed, on, how))
  }

  /** Condition join. */
  def joinOn(other: LazyFrame, cond: Column, how: String = "inner"): LazyFrame =
    LazyFrame(df.join(other.df, cond, how))

  def crossJoin(other: LazyFrame): LazyFrame = LazyFrame(df.crossJoin(other.df))

  def semiJoin(other: LazyFrame, on: Seq[String]): LazyFrame =
    LazyFrame(df.join(other.df, on, "left_semi"))

  def antiJoin(other: LazyFrame, on: Seq[String]): LazyFrame =
    LazyFrame(df.join(other.df, on, "left_anti"))

  /** polars JoinArgs.validate ("1:1" | "1:m" | "m:1" | "m:m"): assert key
    * cardinality before joining. The check is one distributed agg per
    * validated side (count vs distinct count over the join keys) — the same
    * full-shuffle price polars pays, and it fails fast with the offending
    * side named instead of silently exploding rows. */
  def joinValidate(other: LazyFrame, on: Seq[String], how: String = "inner",
                   validate: String = "m:m"): LazyFrame = {
    def assertUnique(d: DataFrame, side: String): Unit = {
      val r = d.select(
        org.apache.spark.sql.functions.count(lit(1)).as("n"),
        count_distinct(struct(on.map(col): _*)).as("u")).collect()(0)
      require(r.getLong(0) == r.getLong(1),
        s"join validation '$validate' failed: $side side keys ${on.mkString(",")} " +
          s"are not unique (${r.getLong(0)} rows, ${r.getLong(1)} distinct)")
    }
    validate match {
      case "m:m" =>
      case "1:m" => assertUnique(df, "left")
      case "m:1" => assertUnique(other.df, "right")
      case "1:1" => assertUnique(df, "left"); assertUnique(other.df, "right")
      case v => throw new IllegalArgumentException(s"unknown validation '$v'")
    }
    join(other, on, how)
  }

  /** polars JoinArgs.maintain_order ("left" | "right" | "left_right" |
    * "right_left" — crates/polars-ops/src/frame/join/args.rs:49,
    * MaintainOrderJoin in crates/polars-plan/src/dsl/options/mod.rs):
    * preserve one/both sides' row order through the join. Spark frames
    * carry no implicit row order (SURVEY §7.1), so the maintained order
    * must be NAMED: pass the post-join column names that define each
    * side's order (right-side names that collided with the left carry
    * `suffix`). The join itself is the ordinary shuffled/broadcast
    * equi-join; the order is restored after with one range-partitioned
    * sort — primary keys from the side named first, then the other
    * side's for the two-sided variants, nulls last so outer-join
    * unmatched rows (null order keys) trail, matching polars' placement
    * of unmatched rows after the maintained block. */
  def joinMaintainOrder(other: LazyFrame, on: Seq[String],
                        how: String = "inner",
                        maintainOrder: String = "left",
                        leftOrder: Seq[String] = Nil,
                        rightOrder: Seq[String] = Nil,
                        suffix: String = "_right"): LazyFrame = {
    val keys: Seq[String] = maintainOrder match {
      case "left"       => leftOrder
      case "right"      => rightOrder
      case "left_right" => leftOrder ++ rightOrder
      case "right_left" => rightOrder ++ leftOrder
      case v => throw new IllegalArgumentException(
        s"maintain_order must be left|right|left_right|right_left, got '$v'")
    }
    require(keys.nonEmpty,
      "joinMaintainOrder: the maintained side(s) need explicit order " +
        "columns — Spark frames carry no implicit row order (SURVEY §7.1)")
    val joined = join(other, on, how, suffix)
    LazyFrame(joined.df.orderBy(keys.map(col(_).asc_nulls_last): _*))
  }

  /** polars join_where (arbitrary predicates). Planner-upgraded: when the
    * predicate conjunction contains a simple inequality between one column
    * of each side, the join routes through the grid-partitioned
    * [[graft.ops.IEJoin]] (no BNLJ) with the remaining conjuncts as
    * residual filters; otherwise it falls back to the theta-join. */
  def joinWhere(other: LazyFrame, predicates: Column): LazyFrame =
    LazyFrame(graft.ops.IEJoin.joinWhereAuto(df, other.df, predicates))

  /** Inequality-led join (polars join_where / IEJoin shape): grid-
    * partitioned equi-join on range-bucket cells instead of a
    * BroadcastNestedLoopJoin — see [[graft.ops.IEJoin]]. */
  def joinIneq(other: LazyFrame, lx: Column, op: String, rx: Column,
               residual: Column = lit(true)): LazyFrame =
    LazyFrame(graft.ops.IEJoin.join(df, other.df, lx, op, rx, residual))

  /** polars join_asof — see [[graft.ops.AsOf]] for the union+window
    * implementation and its one documented scale limit (a dominant `by`
    * group runs its window on one task).
    *
    * SEMANTIC DIFFERENCE vs polars (documented in README): when several
    * right rows tie on `(by, rightOn)`, polars keeps the row appearing
    * last in FRAME order; a distributed frame has no global frame order,
    * so the tie is pinned by a total VALUE order over the right payload
    * columns instead (greatest for backward, least for forward; columns
    * compared left-to-right in right-frame order, nulls smallest). Add the
    * desired ordering column to the right frame to reproduce a specific
    * polars pick. */
  def joinAsof(other: LazyFrame, leftOn: String, rightOn: String,
               by: Seq[String] = Nil, strategy: String = "backward",
               tolerance: Option[Column] = None): LazyFrame =
    LazyFrame(graft.ops.AsOf.join(df, other.df, leftOn, rightOn, by, strategy,
      tolerance))

  // ---- distinct -----------------------------------------------------------

  /** polars unique(keep=any) — subset-based distinct. */
  def unique(subset: Seq[String] = Nil): LazyFrame =
    LazyFrame(if (subset.isEmpty) df.dropDuplicates() else df.dropDuplicates(subset))

  /** polars unique(keep=first/last/none) needs an explicit order column in
    * Spark (SURVEY §2.1 Distinct row). */
  def uniqueKeep(subset: Seq[String], keep: String, orderCol: Column): LazyFrame =
    LazyFrame(graft.ops.Unique.keep(df, subset, keep, orderCol))

  // ---- reshape ------------------------------------------------------------

  def explodeCol(name: String, outer: Boolean = false): LazyFrame = {
    val e = if (outer) explode_outer(col(name)) else explode(col(name))
    LazyFrame(df.withColumn(name, e))
  }

  /** polars df.explode("a", "b", ...): several list columns explode in
    * LOCKSTEP (position-aligned; shorter lists pad with null), not as a
    * cross product — arrays_zip + one Generate, so it stays a single
    * narrow pipeline op. */
  def explodeMany(names: Seq[String], outer: Boolean = false): LazyFrame = {
    require(names.size >= 2, "explodeMany needs at least two columns")
    val zipped = arrays_zip(names.map(col): _*)
    val e = if (outer) explode_outer(zipped) else explode(zipped)
    val tmp = df.withColumn("__graft_z", e)
    val unpacked = names.foldLeft(tmp)((d, n) =>
      d.withColumn(n, col("__graft_z")(n)))
    LazyFrame(unpacked.drop("__graft_z"))
  }

  /** polars df.update(other, on, how): values of shared non-key columns are
    * replaced by `other`'s values where matched AND non-null (polars'
    * default null-preserving semantics); how = "left" keeps every row of
    * this frame, "inner" keeps matches only. Column order is preserved. */
  def update(other: LazyFrame, on: Seq[String], how: String = "left"): LazyFrame = {
    require(how == "left" || how == "inner", s"update supports left/inner, got '$how'")
    val shared = other.df.columns.filterNot(on.contains).filter(df.columns.contains).toSeq
    val renamed = shared.foldLeft(other.df.select((on ++ shared).map(col): _*)) {
      (d, c) => d.withColumnRenamed(c, s"__graft_u_$c")
    }
    val joined = df.join(renamed, on, how)
    val updated = shared.foldLeft(joined) { (d, c) =>
      d.withColumn(c, coalesce(col(s"__graft_u_$c"), col(c)))
    }
    LazyFrame(updated.select(df.columns.map(col).toSeq: _*))
  }

  /** polars unnest: struct column → top-level columns. */
  def unnest(name: String): LazyFrame = {
    val others = df.columns.filterNot(_ == name).map(col)
    LazyFrame(df.select(others :+ col(s"$name.*"): _*))
  }

  /** polars unpivot/melt → Spark 4 native unpivot. */
  def unpivot(ids: Seq[String], values: Seq[String],
              variableName: String = "variable", valueName: String = "value"): LazyFrame =
    LazyFrame(df.unpivot(ids.map(col).toArray, values.map(col).toArray, variableName, valueName))

  /** polars pivot → native groupBy.pivot. `values` must be enumerable;
    * passing them explicitly avoids a distinct-scan job. */
  def pivot(index: Seq[String], on: String, values: Seq[Any], agg: Column): LazyFrame =
    LazyFrame(df.groupBy(index.map(col): _*).pivot(on, values).agg(agg))

  /** polars transpose (DataFrame::transpose) — rows↔columns with everything
    * cast to string, keyed by `keyCol`'s values (must be enumerable: a
    * transpose is inherently a small-frame op; the result has one column per
    * input row). Implemented as unpivot→pivot. */
  def transpose(keyCol: String, keyValues: Seq[Any],
                colPrefix: String = "c"): LazyFrame = {
    val valueCols = df.columns.filterNot(_ == keyCol).toSeq
    val stringified = df.select(col(keyCol).cast("string").as(keyCol) +:
      valueCols.map(c => col(c).cast("string").as(c)): _*)
    val long = stringified.unpivot(Array(col(keyCol)),
      valueCols.map(col).toArray, "column", "value")
    LazyFrame(long.groupBy(col("column"))
      .pivot(keyCol, keyValues.map(_.toString))
      .agg(first(col("value")))
      .withColumnsRenamed(keyValues.map(v => v.toString -> s"$colPrefix$v").toMap))
  }

  /** polars pipe: apply a function to the frame (composition sugar). */
  def pipe[T](f: LazyFrame => T): T = f(this)

  /** polars Expr.reshape((n, k)) on a flat column: regroup consecutive
    * elements (along `order`) into fixed-width arrays — one output row per
    * chunk of `k`. Same positional machinery as [[unstack]] (range-
    * partitioned row numbers, no single-task window); a short final chunk
    * is emitted short, polars' behavior for non-divisible lengths. */
  def reshapeRows(name: String, k: Int, order: Seq[Column]): LazyFrame = {
    require(k > 0, "reshape width must be positive")
    val idxd = graft.ops.Distributed.withRowNumber(df.select(col(name)), "__idx", order)
      .withColumn("__idx", col("__idx") - 1)
    LazyFrame(idxd.withColumn("__chunk", (col("__idx") / k).cast("long"))
      .groupBy(col("__chunk"))
      .agg(transform(array_sort(collect_list(struct(col("__idx"), col(name)))),
        x => x.getField(name)).as(name))
      .orderBy(col("__chunk")).drop("__chunk"))
  }

  /** polars unstack(step, how) (DataFrame::unstack, reference
    * `py-polars/src/polars/dataframe/frame.py:9895`): reshape a long frame
    * to wide without aggregation. `how="vertical"`: the output has `step`
    * rows and element `i` (in `order`) lands at row `i % step`, column
    * `name_{i / step}`; `how="horizontal"` transposes that indexing with
    * `step` columns. Row positions come from the range-partitioned row
    * number (no single-task window); the output is one `step`-row frame per
    * `n/step` chunk — inherently a bounded-output reshape, same class as
    * transpose/pivot. */
  def unstack(step: Int, order: Seq[Column], how: String = "vertical"): LazyFrame = {
    require(step > 0, "unstack step must be positive")
    require(how == "vertical" || how == "horizontal", s"unstack how=$how")
    val names = df.columns.toSeq
    val idxd = graft.ops.Distributed.withRowNumber(df, "__idx", order)
      .withColumn("__idx", col("__idx") - 1)
    val (rowId, chunkId) =
      if (how == "vertical") (col("__idx") % step, col("__idx") / step)
      else (col("__idx") / step, col("__idx") % step)
    val tagged = idxd.withColumn("__row", rowId.cast("long"))
      .withColumn("__chunk", chunkId.cast("long"))
    // NOTE: this head() runs a job at plan-build time — unstack needs the
    // chunk count to name output columns, so it is eager by contract (the
    // reference's unstack is eager too). Guard the empty frame: max(null)
    // would NPE on getLong.
    val maxRow = tagged.agg(max(col("__chunk"))).head()
    if (maxRow.isNullAt(0)) LazyFrame(df.sparkSession.emptyDataFrame)
    else {
      val nChunks = maxRow.getLong(0).toInt + 1
      val wide = tagged.groupBy(col("__row"))
        .pivot("__chunk", 0 until nChunks)
        .agg(first(struct(names.map(col): _*)))
      val outCols = for (n <- names; j <- 0 until nChunks)
        yield col(s"$j").getField(n).as(s"${n}_$j")
      LazyFrame(wide.select(col("__row") +: outCols: _*)
        .orderBy(col("__row")).drop("__row"))
    }
  }

  /** polars partition_by (DataFrame::partition_by): split into one frame
    * per distinct key tuple. The key set is collected on the driver — this
    * is a DRIVER-BOUNDED op by contract (polars returns a dict of frames,
    * which is only sane for enumerable keys). Each returned frame is a
    * filter over the input plan, so Catalyst pushes the key predicate into
    * the scan; for non-enumerable keys use `sinkParquet(partitionBy = ...)`,
    * the scale path. */
  def partitionByKeys(keys: Seq[String]): Map[Seq[Any], LazyFrame] = {
    val ks = df.select(keys.map(col): _*).distinct().collect()
    ks.map { r =>
      val tuple = keys.indices.map(r.get)
      val cond = keys.zip(tuple).map { case (k, v) =>
        if (v == null) col(k).isNull else col(k) === lit(v)
      }.reduce(_ && _)
      tuple -> LazyFrame(df.filter(cond))
    }.toMap
  }

  /** polars insert_column(index, col): place a computed column at a fixed
    * position (pure projection — free at plan time). */
  def insertColumn(index: Int, name: String, c: Column): LazyFrame = {
    require(index >= 0 && index <= df.columns.length, s"index $index out of range")
    val (before, after) = df.columns.map(col).splitAt(index)
    LazyFrame(df.select(before ++ Seq(c.as(name)) ++ after: _*))
  }

  /** polars replace_column: swap one column's content, keeping its slot. */
  def replaceColumn(name: String, c: Column): LazyFrame = {
    require(df.columns.contains(name), s"no column $name")
    LazyFrame(df.select(df.columns.map(n =>
      if (n == name) c.as(name) else col(n)): _*))
  }

  /** polars map_columns: apply one expression template to several columns
    * in place. */
  def mapColumns(names: Seq[String], f: Column => Column): LazyFrame = {
    val s = names.toSet
    LazyFrame(df.select(df.columns.map(n =>
      if (s(n)) f(col(n)).as(n) else col(n)): _*))
  }

  /** polars glimpse(): one line per column — name, dtype, first values.
    * Driver-bounded by construction (reads `n` rows once). */
  def glimpse(n: Int = 10): String = {
    val rows = df.limit(n).collect()
    val header = s"Rows: ${rows.length}${if (rows.length == n) "+" else ""}, " +
      s"Columns: ${df.columns.length}"
    val lines = df.schema.fields.zipWithIndex.map { case (f, i) =>
      val vals = rows.map(r => String.valueOf(r.get(i))).mkString(", ")
      s"$$ ${f.name} <${f.dataType.simpleString}> $vals"
    }
    (header +: lines).mkString("\n")
  }

  // ---- concat -------------------------------------------------------------

  /** Vertical concat (polars concat how=vertical/diagonal). */
  def vstack(others: LazyFrame*): LazyFrame =
    LazyFrame(others.foldLeft(df)((a, b) => a.unionByName(b.df, allowMissingColumns = true)))

  /** polars concat(how="align"): frames are FULL-outer joined on the
    * columns common to all of them (the alignment keys), then sorted by
    * those keys — each frame contributes its non-key columns where its key
    * exists, null elsewhere. One shuffled join per frame; keys must be
    * unique per frame for polars semantics (as in polars itself). */
  def concatAlign(others: LazyFrame*): LazyFrame = {
    val keys = others.map(_.df.columns.toSet)
      .foldLeft(df.columns.toSet)(_ intersect _).toSeq.sorted
    require(keys.nonEmpty, "concat(how=align) needs at least one common column")
    val joined = others.foldLeft(df)((a, b) => a.join(b.df, keys, "full"))
    LazyFrame(joined.orderBy(keys.map(col): _*))
  }

  /** polars concat how=vertical_relaxed: shared columns are coerced to their
    * supertype before the union (reference
    * crates/polars-core/src/utils/supertype.rs; polars does this inside the
    * union's type-coercion pass — here it's an explicit pre-cast). */
  def vstackRelaxed(other: LazyFrame): LazyFrame = {
    import org.apache.spark.sql.types._
    val rank: Map[DataType, Int] = Map(ByteType -> 0, ShortType -> 1,
      IntegerType -> 2, LongType -> 3, FloatType -> 4, DoubleType -> 5)
    def supertype(a: DataType, b: DataType): DataType =
      if (a == b) a
      else if (rank.contains(a) && rank.contains(b)) { if (rank(a) >= rank(b)) a else b }
      else StringType
    val types = (df.schema.fields ++ other.df.schema.fields)
      .groupBy(_.name).map { case (n, fs) =>
        n -> fs.map(_.dataType).reduce(supertype) }
    def coerced(d: DataFrame): DataFrame =
      d.select(d.columns.map(n => col(n).cast(types(n)).as(n)): _*)
    LazyFrame(coerced(df).unionByName(coerced(other.df), allowMissingColumns = true))
  }

  /** Horizontal concat: zip by row position — needs explicit per-frame order.
    * (polars executors/hconcat.rs). */
  def hstack(other: LazyFrame, leftOrder: Column, rightOrder: Column): LazyFrame =
    LazyFrame(graft.ops.HConcat.byOrder(df, other.df, leftOrder, rightOrder))

  /** External context (reference `crates/polars-plan/src/dsl/builder_dsl.rs:241`
    * `with_context` → `DslPlan::ExtContext`; py-polars `LazyFrame.with_context`,
    * deprecated upstream since 1.0 in favor of `concat(how="horizontal")`):
    * make the context frames' columns referenceable in subsequent
    * expressions. The mapping is exactly the equivalence the upstream
    * deprecation prescribes — each context zips alongside this frame by row
    * position (null-padded where lengths differ), so whole-column
    * scalar-aggregate accesses (`first`/`median`/`min` of a context column)
    * broadcast as in the reference examples, and row-aligned access matches
    * polars' equal-length case. Spark frames carry no intrinsic row order,
    * so every frame supplies its explicit order column; context column names
    * must not collide with own columns (polars raises on duplicates too).
    * Cost at scale: one range shuffle + totals pass per frame for the zip
    * index (see [[graft.ops.HConcat]]) — same as the hconcat it desugars to.
    *
    * Every frame is numbered against its OWN rows (not the accumulated
    * join): folding hstack would let a longer earlier context's padding
    * rows — whose own-order key is null — steal the leading zip positions
    * of later contexts (Spark sorts nulls first). One shared zip key,
    * coalesced across sides, keeps row i of every frame on row i.
    */
  def withContext(ownOrder: Column, contexts: (LazyFrame, Column)*): LazyFrame = {
    // enforce the documented no-collision contract (polars raises a
    // duplicate-column error): a silent collision would yield a frame with
    // duplicate names where later selects fail ambiguously or bind wrong.
    // The reserved zip keys and intra-frame duplicates are part of the
    // contract too — a context carrying "__zip" would alias the join key.
    val reserved = "__zip" +: contexts.indices.map(i => s"__zip_c$i")
    contexts.foldLeft(df.columns.toSet ++ reserved) { case (seen, (ctx, _)) =>
      val cols = ctx.df.columns
      val innerDup = cols.groupBy(identity).filter(_._2.length > 1).keys
      require(innerDup.isEmpty,
        s"with_context: context frame has duplicate column(s) ${innerDup.mkString(", ")}")
      val dup = cols.filter(seen)
      require(dup.isEmpty,
        s"with_context: duplicate column name(s) ${dup.mkString(", ")}")
      seen ++ cols
    }
    val own = graft.ops.Distributed.withRowNumber(df, "__zip", Seq(ownOrder))
    val joined = contexts.zipWithIndex.foldLeft(own) {
      case (acc, ((ctx, ord), i)) =>
        val key = s"__zip_c$i"
        val r = graft.ops.Distributed.withRowNumber(ctx.df, key, Seq(ord))
        acc.join(r, acc("__zip") === r(key), "full")
          .withColumn("__zip", coalesce(col("__zip"), col(key)))
          .drop(key)
    }
    LazyFrame(joined.drop("__zip"))
  }

  def intersect(other: LazyFrame): LazyFrame = LazyFrame(df.intersect(other.df))
  def except(other: LazyFrame): LazyFrame = LazyFrame(df.except(other.df))

  /** polars `concat_arr` (py-polars functions/as_datatype.py:555):
    * horizontally concatenate columns into one fixed-width array column —
    * scalar columns reshape to unit-width arrays, array columns pass
    * through, and a null ARRAY input nulls the whole output row (Spark
    * `concat` propagates null the same way). `width` is the polars
    * Array-dtype width contract, enforced at runtime by
    * [[graft.functions.fixedSizeArray]] since Spark has no fixed-size
    * array type (SURVEY §1.2). Input types resolve against this frame's
    * schema (plan-only analysis — no job runs). */
  def concatArr(out: String, cols: Seq[Column], width: Int): LazyFrame = {
    import org.apache.spark.sql.types.ArrayType
    val types = df.select(cols: _*).schema.fields.map(_.dataType)
    val parts = cols.zip(types).map {
      case (c, _: ArrayType) => c
      case (c, _)            => array(c)
    }
    LazyFrame(df.withColumn(out,
      graft.functions.fixedSizeArray(concat(parts: _*), width)))
  }

  // ---- nulls / nans -------------------------------------------------------

  def fillNull(value: Any, subset: Seq[String] = Nil): LazyFrame =
    LazyFrame(if (subset.isEmpty) df.na.fill(Map(df.columns.map(_ -> value): _*))
              else df.na.fill(Map(subset.map(_ -> value): _*)))

  def fillNan(value: Double, subset: Seq[String]): LazyFrame = {
    val fixed = subset.foldLeft(df)((d, c) =>
      d.withColumn(c, when(isnan(col(c)), lit(value)).otherwise(col(c))))
    LazyFrame(fixed)
  }

  def dropNulls(subset: Seq[String] = Nil): LazyFrame =
    LazyFrame(if (subset.isEmpty) df.na.drop() else df.na.drop(subset))

  /** polars drop_nans: drop rows with NaN in `subset` (nulls pass through —
    * distinct from [[dropNulls]], matching the reference's split). */
  def dropNans(subset: Seq[String]): LazyFrame =
    LazyFrame(df.filter(
      subset.map(c => coalesce(!isnan(col(c)), lit(true))).reduce(_ && _)))

  // ---- row index ----------------------------------------------------------

  /** polars with_row_index — requires explicit order (SURVEY §7.1).
    * Distributed via range-partitioned row numbers, not a keyless window. */
  def withRowIndex(name: String = "index", orderBy: Seq[Column]): LazyFrame =
    LazyFrame(graft.ops.Distributed.withRowNumber(df, name, orderBy)
      .withColumn(name, col(name) - 1))

  /** polars LazyFrame.reverse. Spark frames carry no implicit order
    * (§7.1), so the order being reversed must be named — reversing an
    * order is just sorting by its descending dual, which Catalyst
    * executes as one range-partitioned sort (nothing driver-side). */
  def reverse(ord: Column*): LazyFrame =
    LazyFrame(df.orderBy(ord.map(_.desc): _*))

  /** polars LazyFrame.shift(n): every column shifted by n rows along
    * `ord` (negative n shifts backward), vacated rows null. A global
    * shift is inherently a total order — fine for the driver-bounded
    * frames polars uses it on; at scale shift WITHIN keys via
    * `lag(c).over(partitionBy(key))` instead (the win_shift_diff path). */
  def shiftAll(n: Int, ord: Column*): LazyFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(ord: _*)
    LazyFrame(df.select(df.columns.map(c => lag(col(c), n).over(w).as(c)): _*))
  }

  /** polars gather_every(n, offset) along `ord`: rows at positions
    * offset, offset+n, … (0-based). Row numbering is the distributed
    * range-partitioned scan, not a single-task window. */
  def gatherEvery(n: Int, offset: Int, ord: Seq[Column]): LazyFrame = {
    require(n > 0, "gather_every: n must be positive")
    val idx = "__ge_idx"
    val indexed = withRowIndex(idx, ord).df
    LazyFrame(indexed
      .filter(col(idx) >= offset && (col(idx) - offset) % n === 0)
      .drop(idx))
  }

  /** polars frame-level aggregation shortcuts (LazyFrame.max/min/sum/
    * mean/median/std/var/null_count): one row, every NUMERIC column
    * aggregated (polars applies them per column; non-numeric columns are
    * skipped here, the DataFrame.sum behavior). All partial-aggregated —
    * one row leaves the executors. */
  private def aggAll(f: Column => Column): DataFrame = {
    val numeric = df.schema.fields.filter(_.dataType.isInstanceOf[
      org.apache.spark.sql.types.NumericType]).map(_.name)
    require(numeric.nonEmpty, "frame agg: no numeric columns")
    df.agg(f(col(numeric.head)).as(numeric.head),
      numeric.tail.map(c => f(col(c)).as(c)): _*)
  }
  def maxAll(): DataFrame = aggAll(max)
  def minAll(): DataFrame = aggAll(min)
  def sumAll(): DataFrame = aggAll(sum)
  def meanAll(): DataFrame = aggAll(avg)
  def medianAll(): DataFrame = aggAll(median)
  def stdAll(): DataFrame = aggAll(stddev_samp)
  def varAll(): DataFrame = aggAll(var_samp)
  def quantileAll(q: Double): DataFrame =
    aggAll(c => percentile_approx(c, lit(q), lit(10000)))

  /** polars null_count: per-column null counts, ALL columns, one row.
    * coalesce keeps the polars empty-frame law: zero rows → 0, not the
    * SQL sum-over-nothing NULL. */
  def nullCount(): DataFrame = {
    def cnt(c: String) = coalesce(sum(col(c).isNull.cast("long")), lit(0L)).as(c)
    df.agg(cnt(df.columns.head), df.columns.tail.map(cnt): _*)
  }

  /** polars first/last along `ord` — one-row frames via TopK (no full
    * sort; Catalyst plans TakeOrderedAndProject). */
  def firstRow(ord: Column*): LazyFrame =
    LazyFrame(df.orderBy(ord: _*).limit(1))
  def lastRow(ord: Column*): LazyFrame =
    LazyFrame(df.orderBy(ord.map(_.desc): _*).limit(1))

  /** polars clear: an empty frame with this schema (n=0 form). */
  def clear(): LazyFrame = LazyFrame(df.limit(0))

  /** polars clone — plans are immutable values here; identity. */
  def cloneFrame(): LazyFrame = this

  /** polars LazyFrame.inspect: print a preview as a side effect and pass
    * the frame through unchanged (polars evaluates it mid-chain; the
    * eager preview here costs one limited collect). */
  def inspect(n: Int = 5): LazyFrame = { println(show(n)); this }

  /** polars merge_sorted: delegate to [[graft.ops.MergeSorted]] — the
    * streaming two-way merge on a shared range partitioning. */
  def mergeSorted(other: LazyFrame, key: Column*): LazyFrame =
    LazyFrame(graft.ops.MergeSorted.merge(df, other.df, key: _*))

  /** polars match_to_schema: cast common columns to the target type, add
    * missing columns as typed nulls, drop extras, order as the target. */
  def matchToSchema(target: org.apache.spark.sql.types.StructType): LazyFrame = {
    val have = df.columns.toSet
    LazyFrame(df.select(target.fields.map { f =>
      if (have(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*))
  }

  /** polars DataFrame.equals — same schema, same rows. Polars compares in
    * row order; Spark frames carry no order (§7.1 discipline), so this is
    * the multiset comparison: equal iff neither side has rows the other
    * lacks. Two distributed exceptAll counts, no driver materialization. */
  def frameEquals(other: LazyFrame): Boolean =
    df.schema == other.df.schema &&
      df.exceptAll(other.df).isEmpty && other.df.exceptAll(df).isEmpty

  /** polars shrink_dtype(): downcast integer columns to the smallest type
    * that holds their observed range — ONE distributed min/max agg pass
    * (driver sees 2 numbers per column), then plain casts. The 100 TB
    * memory-tuning knob before a wide shuffle or a cache. */
  def shrinkDtypes(): LazyFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val intCols = df.schema.fields.filter(f =>
      f.dataType == LongType || f.dataType == IntegerType || f.dataType == ShortType)
    if (intCols.isEmpty) this
    else {
      val aggs = intCols.flatMap(f =>
        Seq(min(col(f.name)).cast("long"), max(col(f.name)).cast("long")))
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      val casts = intCols.zipWithIndex.flatMap { case (f, i) =>
        if (row.isNullAt(2 * i)) None // all-null column: leave as is
        else {
          val (lo, hi) = (row.getLong(2 * i), row.getLong(2 * i + 1))
          val target =
            if (lo >= Byte.MinValue && hi <= Byte.MaxValue) ByteType
            else if (lo >= Short.MinValue && hi <= Short.MaxValue) ShortType
            else if (lo >= Int.MinValue && hi <= Int.MaxValue) IntegerType
            else LongType
          if (target == f.dataType) None else Some(f.name -> target)
        }
      }.toMap
      LazyFrame(df.select(df.columns.map { c =>
        casts.get(c).map(t => col(c).cast(t).as(c)).getOrElse(col(c))
      }.toSeq: _*))
    }
  }

  /** polars map_batches: arbitrary per-partition transformation — the
    * typed escape hatch when no Column composition expresses the logic.
    * Each partition streams through `f` (bounded memory if `f` streams);
    * prefer expressions/native kernels wherever possible — this exits
    * codegen. Cf. the batched multimodal decode for the canonical use. */
  def mapBatches[T: org.apache.spark.sql.Encoder](
      f: Iterator[Row] => Iterator[T]): org.apache.spark.sql.Dataset[T] =
    df.mapPartitions(f)

  // ---- caching / terminal -------------------------------------------------

  /** polars sample(fraction, seed): Bernoulli row sample — executes at the
    * scan (no shuffle), deterministic per seed and partition layout. */
  def sample(fraction: Double, seed: Long): LazyFrame =
    LazyFrame(df.sample(withReplacement = false, fraction, seed))

  /** polars shuffle(seed): deterministic pseudorandom permutation. Rows are
    * hash-repartitioned on a seeded content hash and locally sorted by it —
    * one shuffle, no range-sampling pass, no global sort, every task busy:
    * the same permutation quality as sorting by the hash, at the scalable
    * plan shape. Duplicate rows hash identically and stay adjacent (ties),
    * as in any content-hash shuffle. */
  def shuffle(seed: Long): LazyFrame = {
    val h = xxhash64(struct(df.columns.map(col): _*), lit(seed))
    LazyFrame(df.repartition(h).sortWithinPartitions(h))
  }

  /** polars describe(): per-column count / null_count / mean / std / min /
    * max / median for numeric columns; count / null_count / min / max for
    * other orderable types (strings, dates, …; mean/std/median are null);
    * count / null_count only for nested types. ONE distributed agg pass
    * producing a single wide row; the 7-row result frame is assembled on
    * the driver (describe is a bounded-output action by construction, like
    * polars' own). Numeric columns come back as double, everything else as
    * its string rendering — matching polars' describe dtypes. Column names
    * are never encoded into strings, so any name (including `__`) is safe. */
  def describe(): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, DoubleType, MapType, NumericType, StringType, StructField, StructType}
    import org.apache.spark.sql.functions.{count => fcount}
    val fields = df.schema.fields
    val stats = Seq("count", "null_count", "mean", "std", "min", "max", "median")
    val nullS = lit(null).cast("string")
    val aggs: Seq[Column] = fields.toSeq.flatMap { f =>
      val c = col(f.name)
      val counts = Seq(fcount(c).cast("string"),
        (fcount(lit(1)) - fcount(c)).cast("string"))
      f.dataType match {
        case _: NumericType => counts ++ Seq(
          avg(c).cast("string"), stddev_samp(c).cast("string"),
          min(c).cast("string"), max(c).cast("string"), median(c).cast("string"))
        case _: ArrayType | _: MapType | _: StructType =>
          counts ++ Seq(nullS, nullS, nullS, nullS, nullS)
        case _ => counts ++ Seq(
          nullS, nullS, min(c).cast("string"), max(c).cast("string"), nullS)
      }
    }
    val wide = df.agg(aggs.head, aggs.tail: _*).head()
    val rows: Seq[Row] = stats.zipWithIndex.map { case (stat, si) =>
      Row.fromSeq(stat +: fields.toSeq.zipWithIndex.map { case (f, fi) =>
        val v = wide.getString(fi * stats.length + si)
        f.dataType match {
          case _: NumericType => if (v == null) null else v.toDouble
          case _ => v
        }
      })
    }
    val schema = StructType(StructField("statistic", StringType) +:
      fields.toSeq.map(f => StructField(f.name, f.dataType match {
        case _: NumericType => DoubleType
        case _ => StringType
      })))
    import scala.jdk.CollectionConverters._
    df.sparkSession.createDataFrame(rows.asJava, schema)
  }

  def cache(): LazyFrame = LazyFrame(df.cache())

  /** polars set_sorted: a memory-layout hint in the reference. Spark
    * tracks ordering through SortExec nodes, not frame metadata, so the
    * honest mapping is the identity — kept so ported pipelines type-check
    * and so the contract is explicit rather than a missing method. */
  def setSorted(cols: String*): LazyFrame = { require(cols.nonEmpty); this }

  /** polars rechunk: contiguous-buffer compaction in the reference.
    * Spark's columnar batches are managed by the engine (no user-visible
    * chunking), so this is the identity; `repartition` is the analogous
    * physical-layout lever when one is actually wanted. */
  def rechunk(): LazyFrame = this

  /** polars shrink_to_fit: buffer-capacity trimming — engine-managed in
    * Spark (Tungsten owns the memory), so the identity. */
  def shrinkToFit(): LazyFrame = this

  /** polars select_seq / with_columns_seq: the reference's "don't run
    * these expressions in parallel" variants. Catalyst schedules
    * expression evaluation itself (whole-stage codegen is one fused
    * loop), so they delegate — the sequencing hint has no Spark
    * analogue and the semantics are identical. */
  def selectSeq(exprs: Column*): LazyFrame = select(exprs: _*)
  def withColumnsSeq(cols: (String, Column)*): LazyFrame =
    withColumns(cols: _*)

  /** polars collect_schema: the resolved schema without executing —
    * Spark's analysis phase resolves it lazily on the plan. */
  def collectSchema: org.apache.spark.sql.types.StructType = df.schema

  /** polars get_column_index (ColumnNotFoundError analogue: throws
    * IllegalArgumentException on a missing name). */
  def getColumnIndex(name: String): Int = df.schema.fieldIndex(name)

  /** polars estimated_size: the optimizer's size estimate for the frame
    * in bytes (parquet statistics / plan stats — the Spark-native
    * analogue of polars' heap measurement; both are estimates). */
  def estimatedSize: BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** polars collect() — in Spark the frame IS lazy; this just returns the
    * underlying DataFrame for an action. */
  def collect(): DataFrame = df
  def collectRows(): Array[Row] = df.collect()
  def count(): Long = df.count()

  /** polars LazyFrame.fetch(n): materialize at most n rows cheaply —
    * Spark's limit is pushed into the scan (CollectLimitExec), so this
    * reads only what it returns, the same debugging contract. */
  def fetch(n: Int): Array[Row] = df.limit(n).collect()

  /** polars DataFrame.rows_by_key: driver-side rows grouped by key tuple —
    * DRIVER-BOUNDED by contract (a Python-dict return in polars too);
    * unique=true keeps the last row per key (the polars semantics). */
  def rowsByKey(keys: Seq[String], unique: Boolean = false)
      : Map[Seq[Any], Seq[Row]] = {
    val idx = keys.map(df.schema.fieldIndex)
    val grouped = df.collect().toSeq.groupBy(r => idx.map(r.get))
    if (unique) grouped.map { case (k, rs) => k -> Seq(rs.last) }
    else grouped
  }

  /** polars DataFrame.iter_slices: the frame as driver-side chunks of
    * ≤`size` rows (order = frame order). Spark analogue of the zero-copy
    * slice iterator; use toLocalIterator-based streaming for frames that
    * don't fit the driver. */
  def iterSlices(size: Int): Iterator[Seq[Row]] = {
    require(size > 0, "iter_slices: size must be positive")
    import scala.jdk.CollectionConverters._
    df.toLocalIterator().asScala.grouped(size)
  }

  /** Parquet sink with the reference's two partitioned-sink flavors
    * (`crates/polars-plan/src/dsl/options/sink.rs:249-258`): by-key
    * (`partitionBy`, hive layout) and max-size (`maxRecordsPerFile` > 0
    * caps rows per emitted file — Spark splits a task's output into
    * multiple files at the cap, the direct mapping of the reference's
    * per-file size budget). The two compose: a hive partition whose task
    * output exceeds the cap emits several files under its directory. */
  def sinkParquet(path: String, partitionBy: Seq[String] = Nil,
                  maxRecordsPerFile: Long = 0): Unit = {
    val w0 = df.write.mode("overwrite")
    val w = if (maxRecordsPerFile > 0)
      w0.option("maxRecordsPerFile", maxRecordsPerFile) else w0
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** The reference's BYTE-budget partitioned sink (sink.rs max-size
    * variant takes bytes): Spark's file splitter counts records, so the
    * budget converts through an estimated row width (in-memory estimates
    * are conservative vs parquet-encoded bytes, which is the safe
    * direction for a size CAP). Width resolution order: the caller's
    * `rowBytesHint`; the optimizer's stats when it carries a rowCount;
    * else a 512-row sampled estimate (CollectLimit — reads only the
    * first partitions, never a full pass over the input). */
  def sinkParquetTargetSize(path: String, targetFileBytes: Long,
                            partitionBy: Seq[String] = Nil,
                            rowBytesHint: Long = 0): Unit = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val rowBytes: Long = if (rowBytesHint > 0) rowBytesHint else {
      val stats = df.queryExecution.optimizedPlan.stats
      // sizeInBytes is a BigInt that exceeds Long.MaxValue for estimated
      // non-leaf plans — an unclamped toLong wraps negative and the cap
      // degenerates to targetFileBytes ROWS per file
      val size = stats.sizeInBytes.min(BigInt(Long.MaxValue)).toLong
      stats.rowCount match {
        case Some(rc) =>
          math.max(1L, size / math.max(rc.min(BigInt(Long.MaxValue)).toLong, 1L))
        case None =>
          val sample = df.limit(512).collect()
          if (sample.isEmpty) 1L
          else math.max(1L, sample.iterator
            .map(r => org.apache.spark.util.SizeEstimator.estimate(r: AnyRef))
            .sum / sample.length)
      }
    }
    val maxRecords = math.max(1L, targetFileBytes / rowBytes)
    sinkParquet(path, partitionBy, maxRecordsPerFile = maxRecords)
  }

  def sinkCsv(path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** Lossless CSV dialect (reference `write_csv` + `read_csv` round-trip,
    * `py-polars/src/polars/dataframe/frame.py` write_csv `null_value`):
    * CSV itself cannot distinguish null from empty-string — both render as
    * nothing — so losslessness needs a null SENTINEL that real data never
    * contains, exactly polars' `null_value=` escape hatch. With it, null →
    * sentinel (unquoted), "" → `""` (quoted), and the quoted/unquoted
    * distinction survives the trip; floats round-trip NaN/±Infinity spelled
    * the way the writer emits them. Data containing the literal sentinel
    * would collide — the caller picks one outside their value domain, the
    * same contract polars documents. */
  def sinkCsvExact(path: String, nullValue: String = "__NULL__"): Unit =
    df.write.mode("overwrite").option("header", "true")
      .option("nullValue", nullValue)
      // the writer defaults BOTH to true (the reader defaults them false),
      // silently trimming leading/trailing whitespace out of string cells
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      // full microsecond precision: the default write pattern's [.SSS]
      // silently truncates Spark's µs timestamps to millis
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .csv(path)

  /** NDJSON sink. Timestamps carry full µs precision (the default write
    * pattern's [.SSS] truncates to millis — same fix as [[sinkCsvExact]]). */
  def sinkJson(path: String): Unit = df.write.mode("overwrite")
    .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").json(path)

  /** Bucketed-table sink: co-locates data on `key` at write time so that
    * REPEATED joins/aggregations on that key skip the exchange entirely
    * (PlanSpec proves the zero-shuffle SortMergeJoin). The 100 TB answer
    * for fact-fact joins that recur — pay one shuffle at ingest, none per
    * query. */
  def sinkBucketed(table: String, buckets: Int, key: String,
                   sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.bucketBy(buckets, key).mode("overwrite")
    val s = if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*)
            else w.sortBy(key)
    s.saveAsTable(table)
  }

  /** Arrow IPC / Feather v2 sink (polars' interchange format) — see
    * [[graft.sources.ArrowIpc]]: per-partition files, bounded batches. */
  def sinkIpc(path: String, batchRows: Int = 4096): Unit =
    graft.sources.ArrowIpc.write(df, path, batchRows)

  def sinkAvro(path: String, syncInterval: Int = 64 * 1024): Unit =
    graft.sources.Avro.write(df, path, syncInterval)

  /** polars SinkMultiple / collect_all with common-subplan elimination
    * (reference CSPE, SURVEY §2.1): Spark has no cross-action CSE, so the
    * shared prefix — THIS frame — is persisted once, every sink reads the
    * materialized plan (InMemoryTableScan, spec-asserted), and the handle
    * is released afterwards even if a sink throws. At 100 TB prefer a
    * parquet/IPC staging sink over memory for very wide prefixes; the
    * mechanism is the same. */
  def sinkMultiple(sinks: Seq[LazyFrame => Unit]): Unit = {
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try sinks.foreach(f => f(this))
    finally df.unpersist(blocking = false)
  }

  /** The 100 TB form of [[sinkMultiple]]: stage the shared prefix to
    * parquet once and let every sink read the files — no executor memory
    * pinned across sinks, restartable if a later sink dies (the staged
    * files survive the JVM, unlike a persist), and each sink's plan gets
    * full pushdown/pruning against the staged columnar files. */
  def sinkMultipleStaged(stagePath: String, sinks: Seq[LazyFrame => Unit]): Unit = {
    df.write.mode("overwrite").parquet(stagePath)
    val staged = LazyFrame(df.sparkSession.read.parquet(stagePath))
    sinks.foreach(f => f(staged))
  }

  /** polars collect_batches (LazyFrame::collect_batches): stream the result
    * to the driver in bounded chunks instead of one materialized frame.
    * Spark-first mapping: `toLocalIterator` pulls ONE partition at a time —
    * driver memory is bounded by the largest partition, never the result. */
  def collectBatches(batchRows: Int = 4096): Iterator[Seq[Row]] =
    {
      import scala.jdk.CollectionConverters._
      df.toLocalIterator().asScala.grouped(batchRows)
    }

  /** polars sink_batches: run a callback per batch of the result. Spark-first
    * mapping: the callback runs DISTRIBUTED, once per output partition on
    * the executors (the scale path — nothing funnels through the driver).
    * For a driver-side consumer use [[collectBatches]]. */
  def sinkBatches(f: Iterator[Row] => Unit): Unit =
    df.foreachPartition(f)

  def explainFormatted(): String = {
    val qe = df.queryExecution
    qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  /** polars show_graph: the plan as a renderable graph description. No
    * graphviz offline — the honest Spark mapping is the formatted plan
    * tree (same information, text-rendered); `show_graph(raw_output=True)`
    * in polars likewise returns the dot SOURCE, not an image. */
  def showGraph(): String = explainFormatted()

  /** polars DataFrame.show / print-style preview: first n rows rendered
    * with the polars box-table repr (driver-side by contract; the same
    * renderer round-trips through [[graft.testing.FromRepr]]). */
  def show(n: Int = 20): String =
    graft.testing.ToRepr.render(df.limit(n), maxRows = n)

  /** polars profile(): execute the plan and return per-operator runtime
    * metrics. Spark-first mapping: the physical plan runs once (distributed
    * action, nothing materializes on the driver) and each operator's SQL
    * metrics — output rows, per-node wall times, shuffle/spill bytes — come
    * back as a (node_id, node, metric, value) frame. Unlike polars' wall
    * clock per node, these are Spark's own accumulator metrics, which is
    * what you'd watch on a 1000-executor run anyway. */
  def profile(): DataFrame = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val qe = df.queryExecution
    qe.toRdd.foreach(_ => ()) // execute fully; metrics accumulate per node
    // AQE wraps re-planned subtrees in leaf QueryStageExec nodes — descend
    // into them explicitly (TreeNode.collect treats them as leaves)
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
      case q: QueryStageExec => p +: walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    val rows = walk(qe.executedPlan).zipWithIndex.flatMap { case (n, i) =>
      n.metrics.toSeq.sortBy(_._1).map { case (name, m) =>
        (i.toLong, n.nodeName, name, m.value)
      }
    }
    import df.sparkSession.implicits._
    rows.toDF("node_id", "node", "metric", "value")
  }
}

object LazyFrame {
  def apply(df: DataFrame): LazyFrame = new LazyFrame(df)

  /** Scan parquet. A single file's schema is read from its footer on the
    * driver (no Spark job); a directory, a hive-partitioned path or a glob
    * still launches Spark's schema-inference job. */
  def scanParquet(spark: SparkSession, path: String): LazyFrame =
    LazyFrame(graft.sources.ParquetRead(spark, path))

  /** Arrow IPC scan via the graft-ipc DSv2 connector (per-record-batch
    * splits, columnar, pruning). */
  def scanIpc(spark: SparkSession, path: String): LazyFrame =
    LazyFrame(spark.read.format("graft-ipc").load(path))

  def scanAvro(spark: SparkSession, path: String): LazyFrame =
    LazyFrame(spark.read.format("graft-avro").load(path))

  def scanCsv(spark: SparkSession, path: String, header: Boolean = true,
              inferSchema: Boolean = true): LazyFrame =
    LazyFrame(spark.read.option("header", header.toString)
      .option("inferSchema", inferSchema.toString).csv(path))

  /** Schema-directed lossless CSV scan — the read half of
    * [[LazyFrame.sinkCsvExact]]'s dialect. `multiLine` makes embedded
    * newlines inside quoted fields legal (splittability trade-off: a
    * multiLine CSV file is read as one split, so shard WIDE — many files —
    * when scanning at scale, which is how the sink lays data out anyway).
    * The Inf spellings match what the writer emits (`Infinity`, not
    * Spark's read-side default `Inf`). */
  def scanCsvExact(spark: SparkSession, path: String,
                   schema: org.apache.spark.sql.types.StructType,
                   nullValue: String = "__NULL__"): LazyFrame =
    LazyFrame(spark.read.schema(schema)
      .option("header", "true").option("multiLine", "true")
      .option("nullValue", nullValue)
      .option("nanValue", "NaN")
      .option("positiveInf", "Infinity").option("negativeInf", "-Infinity")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .csv(path))

  def scanNdjson(spark: SparkSession, path: String): LazyFrame =
    LazyFrame(spark.read.json(path))

  /** Schema-directed NDJSON scan (reference `read_ndjson(schema=...)`):
    * reading back what [[LazyFrame.sinkJson]] wrote needs the schema —
    * the writer drops null fields and spells non-finite doubles as quoted
    * "NaN"/"Infinity" strings, both unrecoverable by inference alone. */
  def scanNdjsonSchema(spark: SparkSession, path: String,
                       schema: org.apache.spark.sql.types.StructType): LazyFrame =
    LazyFrame(spark.read.schema(schema)
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").json(path))

  def scanLines(spark: SparkSession, path: String): LazyFrame =
    LazyFrame(spark.read.text(path))

  /** polars `collect_all` (py-polars functions/lazy.py): materialize N
    * frames in one go. Spark's analogue of the reference's common-subplan
    * elimination is explicit: callers that share a subplan should route it
    * through [[LazyFrame.sinkMultiple]] (persist) or `sinkMultipleStaged`;
    * this entry point just runs the independent collects. */
  def collectAll(frames: Seq[LazyFrame]): Seq[Array[org.apache.spark.sql.Row]] =
    frames.map(_.df.collect())

  /** polars `explain_all`: one formatted plan dump per frame, for the same
    * diagnostic loop as `LazyFrame.explain`. */
  def explainAll(frames: Seq[LazyFrame]): Seq[String] =
    frames.map(f => f.df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
}
