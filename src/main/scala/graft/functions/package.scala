package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window, WindowSpec}

/** The polars scalar-function surface (SURVEY §2.9) where Spark lacks a
  * 1:1 builtin. Everything here composes codegen'd
  * `org.apache.spark.sql.functions` — no UDFs, so whole-stage codegen and
  * pushdown stay intact. Direct 1:1 mappings (upper, year, abs, ...) are NOT
  * re-exported: users call Spark functions directly.
  */
package object functions {

  // ---- math / binning -----------------------------------------------------

  /** polars clip (crates/polars-ops: FunctionExpr::Clip). */
  def clip(c: Column, lo: Column, hi: Column): Column = least(greatest(c, lo), hi)

  /** polars cut: bin a numeric column by break points; produces the label of
    * the half-open interval (-inf, b1], (b1, b2], ... like polars' default
    * left-exclusive/right-inclusive (crates/polars-ops/src/series/ops/cut.rs). */
  def cut(c: Column, breaks: Seq[Double], labels: Seq[String]): Column = {
    require(labels.size == breaks.size + 1, "labels must be breaks+1")
    val first = when(c <= lit(breaks.head), lit(labels.head))
    val mid = breaks.indices.drop(1).foldLeft(first) { (acc, i) =>
      acc.when(c <= lit(breaks(i)), lit(labels(i)))
    }
    mid.otherwise(lit(labels.last))
  }

  /** polars floor-div semantics (Operator::FloorDivide). */
  def floorDiv(a: Column, b: Column): Column = floor(a / b).cast("long")

  /** Percent change vs previous row over a window (polars pct_change). */
  def pctChange(c: Column, w: WindowSpec): Column = c / lag(c, 1).over(w) - 1

  /** First difference (polars diff, crates/polars-ops/src/series/ops/diff.rs). */
  def diff(c: Column, w: WindowSpec): Column = c - lag(c, 1).over(w)

  // ---- cumulative / run-length -------------------------------------------

  def cumSum(c: Column, w: WindowSpec): Column =
    sum(c).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
  def cumMin(c: Column, w: WindowSpec): Column =
    min(c).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
  def cumMax(c: Column, w: WindowSpec): Column =
    max(c).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
  def cumCount(c: Column, w: WindowSpec): Column =
    count(c).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
  /** cum_prod via exp/sum/log with sign tracking omitted (positive inputs). */
  def cumProdPositive(c: Column, w: WindowSpec): Column =
    exp(sum(log(c)).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))

  /** polars is_first_distinct along an order. */
  def isFirstDistinct(c: Column, orderBy: Column): Column =
    row_number().over(Window.partitionBy(c).orderBy(orderBy)) === 1

  /** polars is_last_distinct: the mirror — true on the LAST occurrence
    * of each distinct value along the order (pass a plain ascending
    * order column; the reversal happens here). */
  def isLastDistinct(c: Column, orderBy: Column): Column =
    row_number().over(Window.partitionBy(c).orderBy(orderBy.desc)) === 1

  /** polars peak_max (chunked_array/peaks.rs): strictly greater than both
    * neighbors; at the partition edge only the existing neighbor counts. */
  def peakMax(c: Column, w: WindowSpec): Column = {
    val prev = lag(c, 1).over(w)
    val next = lead(c, 1).over(w)
    (prev.isNull || c > prev) && (next.isNull || c > next)
  }

  /** polars peak_min: strictly smaller than both neighbors. */
  def peakMin(c: Column, w: WindowSpec): Column = {
    val prev = lag(c, 1).over(w)
    val next = lead(c, 1).over(w)
    (prev.isNull || c < prev) && (next.isNull || c < next)
  }

  // ---- fills / interpolation ----------------------------------------------

  /** Forward fill along an order (polars fill_null(strategy="forward")). */
  def forwardFill(c: Column, w: WindowSpec): Column =
    last(c, ignoreNulls = true)
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))

  /** Backward fill along an order. */
  def backwardFill(c: Column, w: WindowSpec): Column =
    first(c, ignoreNulls = true)
      .over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing))

  /** Linear interpolation of interior nulls along a numeric coordinate
    * (polars interpolate/interpolate_by,
    * crates/polars-ops/src/series/ops/interpolation/). Leading/trailing
    * nulls stay null, matching polars. `pos` must be non-null monotone
    * within the window's order. */
  def interpolateLinear(v: Column, pos: Column, w: WindowSpec): Column = {
    val before = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val after = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val pv = last(v, ignoreNulls = true).over(before)
    val pp = last(when(v.isNotNull, pos), ignoreNulls = true).over(before)
    val nv = first(v, ignoreNulls = true).over(after)
    val np = first(when(v.isNotNull, pos), ignoreNulls = true).over(after)
    when(v.isNotNull, v)
      .when(pv.isNotNull && nv.isNotNull,
        pv + (nv - pv) * (pos.cast("double") - pp) / (np - pp))
  }

  // ---- EWM ---------------------------------------------------------------

  /** polars ewm_mean(alpha, adjust=true): y_i = Σ_j (1-α)^(i-j) x_j / Σ_j w.
    * Computed with the scale-safe ratio trick over two running sums — the
    * naive (1-a)^i term under/overflows, so we fold over the ordered list of
    * trailing values per row via the `aggregate` HOF instead. Bounded windows
    * only (use `span` rows back) to stay O(n·span) not O(n²). */
  def ewmMeanRows(c: Column, w: WindowSpec, span: Int, alpha: Double): Column = {
    val vals = collect_list(c).over(w.rowsBetween(-(span - 1), Window.currentRow))
    // weights are (1-a)^(n-1-j) for j-th element of the trailing list
    val n = size(vals)
    val num = aggregate(
      zip_with(vals, sequence(lit(0), n - 1), (v, i) =>
        v * pow(lit(1 - alpha), (n - 1 - i).cast("double"))),
      lit(0.0), (acc, x) => acc + x)
    val den = aggregate(
      transform(sequence(lit(0), n - 1), i =>
        pow(lit(1 - alpha), (n - 1 - i).cast("double"))),
      lit(0.0), (acc, x) => acc + x)
    num / den
  }

  /** polars ewm_sum(alpha): y_i = Σ_j (1-α)^(i-j) x_j — the ewm_mean
    * numerator without normalization. Same bounded-window fold as
    * [[ewmMeanRows]] (O(n·span), exact when groups are shorter than
    * `span`). */
  def ewmSumRows(c: Column, w: WindowSpec, span: Int, alpha: Double): Column = {
    val vals = collect_list(c).over(w.rowsBetween(-(span - 1), Window.currentRow))
    val n = size(vals)
    aggregate(
      zip_with(vals, sequence(lit(0), n - 1), (v, i) =>
        v * pow(lit(1 - alpha), (n - 1 - i).cast("double"))),
      lit(0.0), (acc, x) => acc + x)
  }

  /** polars ewm_sum_by(half_life): time-decayed running sum
    * y_i = Σ_{t_j ≤ t_i} x_j · 0.5^((t_i − t_j)/half_life), bounded to a
    * trailing `horizonMicros` range window (the weight at the horizon is
    * 0.5^(horizon/half_life) — pick horizon ≥ 60 half-lives and the
    * truncation is below double precision). Same collect-then-fold shape as
    * the `ewm_mean_by` query path: one window, no self-join. */
  def ewmSumBy(v: Column, tMicros: Column, w: WindowSpec,
               halfLifeMicros: Long, horizonMicros: Long): Column = {
    val hist = collect_list(struct(tMicros.as("t"), v.as("v")))
      .over(w.rangeBetween(-horizonMicros, Window.currentRow))
    aggregate(hist, lit(0.0), (acc, e) =>
      acc + e.getField("v") *
        pow(lit(0.5), (tMicros - e.getField("t")) / lit(halfLifeMicros.toDouble)))
  }

  /** polars rolling_map: an arbitrary expression over each trailing
    * window's values, exposed as an array — the generic escape hatch for
    * shapes the dedicated rolling_* forms don't cover. `f` composes Column
    * HOFs (aggregate/transform/filter), so the result is still one window
    * pass with no UDF; state is O(window) per row. */
  def rollingMap(c: Column, w: WindowSpec, window: Int,
                 f: Column => Column): Column =
    f(collect_list(c).over(w.rowsBetween(-(window - 1), Window.currentRow)))

  /** polars shift_and_fill: shift by n (positive = backward/lag, negative =
    * forward/lead, polars sign convention) with a fill value for the
    * out-of-partition slots only — pre-existing nulls shift through
    * unfilled, exactly polars' contract (lag/lead default semantics). */
  def shiftFill(c: Column, n: Int, fill: Any, w: WindowSpec): Column =
    if (n >= 0) lag(c, n, fill).over(w) else lead(c, -n, fill).over(w)

  // ---- horizontal (row-wise across columns) --------------------------------

  def sumHorizontal(cols: Column*): Column =
    cols.map(c => coalesce(c, lit(0))).reduce(_ + _)
  def minHorizontal(cols: Column*): Column = least(cols: _*)
  def maxHorizontal(cols: Column*): Column = greatest(cols: _*)
  def meanHorizontal(cols: Column*): Column = {
    val nonNullCount = cols.map(c => when(c.isNotNull, 1).otherwise(0)).reduce(_ + _)
    sumHorizontal(cols: _*) / nonNullCount
  }
  def anyHorizontal(cols: Column*): Column = cols.reduce(_ || _)
  def allHorizontal(cols: Column*): Column = cols.reduce(_ && _)

  /** polars fold/reduce over columns (FunctionExpr::Fold). */
  def foldColumns(zero: Column, op: (Column, Column) => Column, cols: Seq[Column]): Column =
    cols.foldLeft(zero)(op)

  // ---- NaN-aware min/max (polars propagates NaN in min/max unless nan_min) --

  def nanSafeMin(c: Column): Column = min(when(!isnan(c), c))
  def nanSafeMax(c: Column): Column = max(when(!isnan(c), c))

  /** polars nan_min / nan_max (reference
    * `crates/polars-plan/src/dsl/function_expr/mod.rs` NanMin/NanMax):
    * aggregate min/max that PROPAGATES NaN — any NaN in the group poisons
    * the result, the dual of [[nanSafeMin]]/[[nanSafeMax]]. Written as an
    * explicit two-branch form rather than relying on Spark's NaN total
    * ordering so the semantics read off the expression. */
  def nanMin(c: Column): Column =
    when(count(when(isnan(c), lit(1))) > 0, lit(Double.NaN))
      .otherwise(min(c))
  def nanMax(c: Column): Column =
    when(count(when(isnan(c), lit(1))) > 0, lit(Double.NaN))
      .otherwise(max(c))

  /** polars lower_bound / upper_bound (FunctionExpr::LowerBound/UpperBound):
    * the dtype's representable extrema as literals — resolved at plan time
    * from the static type, exactly the reference's semantics. */
  def lowerBound(dt: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType    => lit(Byte.MinValue)
      case ShortType   => lit(Short.MinValue)
      case IntegerType => lit(Int.MinValue)
      case LongType    => lit(Long.MinValue)
      case FloatType   => lit(Float.NegativeInfinity)
      case DoubleType  => lit(Double.NegativeInfinity)
      case other => throw new IllegalArgumentException(s"lower_bound: $other")
    }
  }
  def upperBound(dt: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType    => lit(Byte.MaxValue)
      case ShortType   => lit(Short.MaxValue)
      case IntegerType => lit(Int.MaxValue)
      case LongType    => lit(Long.MaxValue)
      case FloatType   => lit(Float.PositiveInfinity)
      case DoubleType  => lit(Double.PositiveInfinity)
      case other => throw new IllegalArgumentException(s"upper_bound: $other")
    }
  }

  // ---- bitwise unary inspection (polars bitwise_count_* / leading / trailing) --

  /** polars bitwise_count_ones (reference
    * `crates/polars-plan/src/dsl/function_expr/bitwise.rs`): popcount over
    * the two's-complement representation. Spark's `bit_count` is exactly
    * that for integral types. */
  def bitCountOnes(c: Column): Column = bit_count(c)

  /** polars bitwise_count_zeros over a `width`-bit integer. */
  def bitCountZeros(c: Column, width: Int = 64): Column =
    lit(width) - bit_count(c)

  /** polars bitwise_leading_zeros over a `width`-bit integer. For a
    * positive value `length(bin(x))` is exactly `floor(log2 x) + 1` with no
    * float round-off; negatives have the sign bit set (0 leading zeros) and
    * `bin` renders all 64 bits. For sub-64-bit widths the value is masked to
    * `width` bits first, so callers pass the ORIGINAL dtype's width with the
    * raw two's-complement bits (e.g. an i32 upcast keeps bit 31 as sign). */
  def bitLeadingZeros(c: Column, width: Int = 64): Column = {
    val x = if (width == 64) c.cast("long")
            else c.cast("long").bitwiseAND(lit((1L << width) - 1))
    when(x === 0, lit(width)).otherwise(lit(width) - length(bin(x)))
  }

  /** polars bitwise_trailing_zeros: isolate the lowest set bit with
    * `x & -x`, then popcount the mask below it — integer-exact, no log. */
  def bitTrailingZeros(c: Column, width: Int = 64): Column = {
    val x = c.cast("long")
    when(x === 0, lit(width))
      .otherwise(bit_count(x.bitwiseAND(-x) - 1))
  }

  /** Bloom-filter sketch over xxhash64 of a column — Spark's native
    * runtime-filter aggregate (BloomFilterAggregate) exposed as a user
    * aggregate. Returns the serialized sketch as binary; pair with
    * [[bloomMightContain]]. The sketch is the membership-test lever at
    * scale: constant-size broadcast where an exact digest set grows with
    * the data (a million-item set tests at fpp well under 1% from a
    * ~1 MB sketch). NOTE the aggregate enforces the runtime-filter
    * SQLConf ceilings — by default numBits ≤
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` (2^26 ≈ 8 MB)
    * and expectedItems ≤ `...maxNumItems` (4M); raise both confs for
    * larger sketches (billion-item sets need ~1.2 GB at 1% fpp). */
  def bloomAgg(c: Column, expectedItems: Long, numBits: Long): Column = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(new BloomFilterAggregate(
      new XxHash64(Seq(Bridge.expression(c))),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression())
  }

  /** Membership probe against a [[bloomAgg]] sketch (never false-negative;
    * false-positive rate set by the sketch's numBits/items). `sketch` must
    * be a literal or scalar subquery — collect the (small) sketch first,
    * exactly like a broadcast digest set. */
  def bloomMightContain(sketch: Column, c: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, XxHash64}
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(BloomFilterMightContain(Bridge.expression(sketch),
      new XxHash64(Seq(Bridge.expression(c)))))
  }

  /** polars bitwise_leading_ones = leading zeros of the complement
    * (x = −1, all ones, correctly yields `width`). */
  def bitLeadingOnes(c: Column, width: Int = 64): Column =
    bitLeadingZeros(bitwise_not(c.cast("long")), width)

  /** polars bitwise_trailing_ones = trailing zeros of the complement. */
  def bitTrailingOnes(c: Column, width: Int = 64): Column =
    bitTrailingZeros(bitwise_not(c.cast("long")), width)

  // ---- strings -------------------------------------------------------------

  /** polars str.zfill. */
  def zfill(c: Column, width: Int): Column = lpad(c, width, "0")

  /** polars str.escape_regex: neutralize regex metacharacters so the value
    * can be used as a literal pattern (one replace pass — the inverse need
    * of `replace_many` literal scrubbing). */
  def escapeRegex(c: Column): Column =
    regexp_replace(c, "([.^$*+?()\\[\\]{}|\\\\])", "\\\\$1")

  /** polars str.count_matches (regex) → Spark regexp_count. */
  def countMatches(c: Column, pattern: String): Column = regexp_count(c, lit(pattern))

  /** polars str.replace_many — ONE pass over the string regardless of
    * pattern count (native trie automaton, [[ReplaceManyExpr]]), with the
    * reference's leftmost-first match semantics. Equivalent to
    * [[replaceManyChained]] whenever patterns don't overlap in the data and
    * replacements don't create new matches (spec-checked on real data). */
  def replaceMany(c: Column, pairs: Seq[(String, String)],
                  asciiCaseInsensitive: Boolean = false): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(ReplaceManyExpr(Bridge.expression(c),
      pairs.map(_._1), pairs.map(_._2), asciiCaseInsensitive))
  }

  /** The O(patterns)-passes composition `replace_many` used to be — each
    * pattern rescans the whole string INCLUDING prior replacements' output.
    * Kept as the spec-equivalence partner for [[replaceMany]]. */
  def replaceManyChained(c: Column, pairs: Seq[(String, String)]): Column =
    pairs.foldLeft(c) { case (acc, (from, to)) => replace(acc, lit(from), lit(to)) }

  /** polars Expr.hash(seed) — stable 64-bit row hash. Mapped to xxhash64
    * (hash values are engine-specific in polars too; only stability within
    * an engine is contractual). */
  def hashRows(seed: Long, cols: Column*): Column =
    xxhash64((lit(seed) +: cols): _*)

  /** polars Expr.replace(mapping) — VALUE recode (any dtype, not string
    * search): mapped values change, unmapped values pass through unchanged.
    * One broadcast map literal + a codegen'd lookup per row. */
  def replaceValues(c: Column, mapping: Seq[(Any, Any)]): Column = {
    val m = map(mapping.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    coalesce(try_element_at(m, c), c)
  }

  /** polars Expr.replace_strict(mapping, default): EVERY non-null value
    * must be mapped; unmapped values take `default` when given, otherwise
    * the row raises (polars' strict contract). The output dtype follows the
    * mapping's values, so recodes may change type. Nulls pass through. */
  def replaceStrict(c: Column, mapping: Seq[(Any, Any)],
                    default: Option[Column] = None): Column = {
    val m = map(mapping.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    val hit = try_element_at(m, c)
    default match {
      case Some(d) => when(c.isNull, lit(null)).otherwise(coalesce(hit, d))
      case None =>
        when(c.isNull, lit(null))
          .when(assert_true(hit.isNotNull,
            concat(lit("replace_strict: unmapped value "), c.cast("string"))).isNull, hit)
    }
  }

  /** polars str.contains_any — one automaton pass, early exit. */
  def containsAny(c: Column, patterns: Seq[String],
                  asciiCaseInsensitive: Boolean = false): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(ContainsAnyExpr(Bridge.expression(c), patterns, asciiCaseInsensitive))
  }

  /** polars str.extract_many — every literal-pattern occurrence as a list. */
  def extractMany(c: Column, patterns: Seq[String],
                  asciiCaseInsensitive: Boolean = false,
                  overlapping: Boolean = false): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(ExtractManyExpr(Bridge.expression(c), patterns,
      asciiCaseInsensitive, overlapping, findStarts = false))
  }

  /** polars Array(inner, SIZE) — SURVEY §1.2: Spark has no fixed-width
    * array dtype, so the size contract is enforced at the boundary instead:
    * conforming rows (and nulls) pass through; a wrong-width row raises,
    * matching polars' strict cast. assert_true keeps the whole check inside
    * codegen. */
  def fixedSizeArray(c: Column, n: Int): Column =
    when(assert_true(c.isNull || size(c) === n,
      lit(s"fixed-size array[$n] violated")).isNull, c)

  /** polars str.find_many — UTF-8 byte start offsets of every occurrence. */
  def findMany(c: Column, patterns: Seq[String],
               asciiCaseInsensitive: Boolean = false,
               overlapping: Boolean = false): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(ExtractManyExpr(Bridge.expression(c), patterns,
      asciiCaseInsensitive, overlapping, findStarts = true))
  }

  // Per-character escaping of the class metachars only. The previous
  // Pattern.quote(...).replace("\\","\\\\") form put LITERAL '\', 'Q',
  // and 'E' into the class (and left '-' ranges live): strip_chars("Qx",
  // "aeiou") wrongly stripped the Q. TPC-H's all-lowercase fixtures
  // masked it; caught by the continuation-session review.
  private def charClassEsc(chars: String): String =
    chars.flatMap {
      case c if "\\^]-[&".contains(c) => s"\\$c"
      case c => c.toString
    }

  /** polars str.strip_chars_start (leading only, char set). */
  def stripCharsStart(c: Column, chars: String): Column =
    regexp_replace(c, s"^[${charClassEsc(chars)}]+", "")

  /** polars str.strip_chars_end (trailing only, char set). */
  def stripCharsEnd(c: Column, chars: String): Column =
    regexp_replace(c, s"[${charClassEsc(chars)}]+$$", "")

  /** polars str.strip_chars (both ends, char set). */
  def stripChars(c: Column, chars: String): Column =
    stripCharsEnd(stripCharsStart(c, chars), chars)

  // ---- lists / vectors ------------------------------------------------------

  /** Sum of element-wise products — the hot loop of similarity search.
    * Native fused kernel ([[DotProductExpr]]); bit-identical to the
    * higher-order-function formulation `graft.Reference.dotProductHof`
    * (test scope), which documents the exact semantics. */
  def dotProduct(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(DotProductExpr(Bridge.expression(a), Bridge.expression(b)))
  }

  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))

  /** Cosine similarity in ONE fused native loop (dot + both norms) instead
    * of three HOF passes; bit-identical to `graft.Reference`'s
    * `cosineSimilarityHof`, `dotProductHof(a, b) / (l2Norm(a) * l2Norm(b))`. */
  def cosineSimilarity(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(CosineSimilarityExpr(Bridge.expression(a), Bridge.expression(b)))
  }

  /** Grouped top-k values with k-bounded state (native [[TopKAgg]], a
    * TypedImperativeAggregate): `df.groupBy(g).agg(topKAgg(col, 5))` — the
    * scale-safe form of per-group top-k (no window sort, no full
    * collect_list). Input must be double (cast upstream). */
  def topKAgg(c: Column, k: Int, descending: Boolean = true): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(TopKAgg(Bridge.expression(c), k, descending).toAggregateExpression())
  }

  /** One-pass exact NDV over a long key (native [[NdvAgg]], a
    * TypedImperativeAggregate): `df.groupBy(g).agg(ndvAgg(col(k1)),
    * ndvAgg(col(k2)))` computes ANY number of exact distinct counts in a
    * single scan — `countDistinct` ×2+ in one groupBy triples the input
    * through Catalyst's Expand before the first shuffle. Long input only
    * (cast upstream); nulls ignored like countDistinct. */
  def ndvAgg(c: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(NdvAgg(Bridge.expression(c)).toAggregateExpression())
  }

  /** Unicode normalization (native [[NormalizeExpr]]); form is one of
    * NFC/NFD/NFKC/NFKD. polars str.normalize — no Spark builtin exists. */
  def normalize(text: Column, form: String = "NFC"): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(NormalizeExpr(Bridge.expression(text), form))
  }

  /** polars dt.base_utc_offset: the zone's standard (non-DST) offset at
    * each instant, in seconds (native [[TzOffsetExpr]] over tzdb rules;
    * polars emits Duration — seconds-as-long is the honest mapping). */
  def baseUtcOffset(ts: Column, zone: String): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(TzOffsetExpr(Bridge.expression(ts), zone, base = true))
  }

  /** polars dt.dst_offset: daylight savings in force at each instant,
    * seconds (total offset − standard offset). */
  def dstOffset(ts: Column, zone: String): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(TzOffsetExpr(Bridge.expression(ts), zone, base = false))
  }

  /** One-pass text statistics (native [[TextStatsExpr]]): struct of
    * n_chars / n_alpha / n_punct / n_tokens, byte-identical to the regex
    * formulations in [[graft.text.TextAnalysis]]. */
  def textStats(text: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(TextStatsExpr(Bridge.expression(text)))
  }

  /** Spark's `levenshtein(a, b)` as a bit-parallel native kernel
    * ([[LevenshteinExpr]], SQL `graft_levenshtein`): the same integer in
    * O(⌈m/64⌉·n) word operations instead of m·n cells. */
  def editDistance(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(LevenshteinExpr(Bridge.expression(a), Bridge.expression(b)))
  }

  /** The shared whitespace token convention as a native one-pass kernel
    * (lowercase → split on `\s+` → drop empties; [[TokensExpr]]).
    * Byte-identical to the reference formulation
    * `graft.Reference.tokensHof` (src/test), which the equivalence spec
    * pins. */
  def tokens(text: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(TokensExpr(Bridge.expression(text)))
  }

  /** polars list.eval(expr) — general per-element expression. */
  def listEval(c: Column, f: Column => Column): Column = transform(c, f)

  def listSum(c: Column): Column =
    aggregate(c, lit(0.0), (acc, v) => acc + coalesce(v.cast("double"), lit(0.0)))

  def listMean(c: Column): Column = listSum(c) / size(c)

  // ---- temporal -------------------------------------------------------------

  /** Count of business days (Mon-Fri) in [start, end) —
    * polars business_day_count (crates/polars-ops business.rs), closed-form. */
  def businessDayCount(start: Column, end: Column): Column = {
    val d = datediff(end, start)
    // dayofweek: 1=Sunday..7=Saturday; map to 0=Monday..6=Sunday
    val dowStart = (dayofweek(start) + 5) % 7
    val fullWeeks = floorDiv(d, lit(7))
    val rem = d % 7
    // remainder (≤6 days): count weekdays by enumerating offsets
    val remDays = when(rem > 0,
      size(filter(sequence(lit(0), rem - 1), i => ((dowStart + i) % 7) < 5)))
      .otherwise(lit(0))
    fullWeeks * 5 + remDays
  }

  /** Epoch microseconds — stable numeric key for range windows over time. */
  def epochMicros(ts: Column): Column = unix_micros(ts)

  /** polars dt.add_business_days (business.rs, Mon-Fri week) — closed-form
    * column arithmetic, no UDF. `roll` handles a weekend start like the
    * reference: "forward"/"backward" move it to the adjacent business day
    * first; "raise" errors. Negative `n` walks backwards. */
  def addBusinessDays(start: Column, n: Column, roll: String = "raise"): Column = {
    val dow = (dayofweek(start) + 5) % 7 // 0=Mon .. 6=Sun
    val rolled = roll match {
      case "forward" =>
        when(dow === 5, date_add(start, 2))
          .when(dow === 6, date_add(start, 1)).otherwise(start)
      case "backward" =>
        when(dow === 5, date_sub(start, 1))
          .when(dow === 6, date_sub(start, 2)).otherwise(start)
      case "raise" =>
        when(dow <= 4, start).otherwise(raise_error(concat(
          lit("add_business_days: "), start.cast("string"),
          lit(" is not a business day"))).cast("date"))
      case other => throw new IllegalArgumentException(
        s"roll must be raise|forward|backward, got $other")
    }
    val rdow = (dayofweek(rolled) + 5) % 7
    val weeks = floor(n.cast("double") / 5).cast("int") // floor div, negatives too
    val rem = (n - weeks * 5).cast("int")               // ∈ [0, 4]
    val extra = when(rdow + rem > 4, lit(2)).otherwise(lit(0))
    date_add(rolled, weeks * 7 + rem + extra)
  }

  // ---- round-7 audit stragglers --------------------------------------------

  /** polars eq_missing / ne_missing (expr.py): equality where null == null
    * is true — Spark's null-safe `<=>` operator, surfaced with the polars
    * names. */
  def eqMissing(a: Column, b: Column): Column = a <=> b
  def neMissing(a: Column, b: Column): Column = !(a <=> b)

  /** polars list.set_symmetric_difference: elements in exactly one of the
    * two lists (distinct, as the reference's set semantics). */
  def listSetSymmetricDifference(a: Column, b: Column): Column =
    array_union(array_except(a, b), array_except(b, a))

  /** polars dt.total_{hours,minutes,seconds,milliseconds,microseconds} on a
    * µs duration (the Duration carrier is i64 micros here): integral
    * truncation toward zero, matching the reference's total_* contract. */
  def totalHours(durUs: Column): Column = (durUs / lit(3600000000L)).cast("long")
  def totalMinutes(durUs: Column): Column = (durUs / lit(60000000L)).cast("long")
  def totalSeconds(durUs: Column): Column = (durUs / lit(1000000L)).cast("long")
  def totalMillis(durUs: Column): Column = (durUs / lit(1000L)).cast("long")

  /** polars dt.with_time_unit: REINTERPRET the underlying integer as a
    * different unit (no arithmetic — a ns-labeled count becomes a µs-labeled
    * count, value preserved); dt.cast_time_unit CONVERTS (scales the count).
    * On the i64 carrier the distinction is exactly: with = identity on the
    * integer, cast = multiply/divide by the unit ratio. */
  def castTimeUnitNsToUs(ns: Column): Column = (ns / lit(1000L)).cast("long")
  def castTimeUnitUsToNs(us: Column): Column = us * lit(1000L)

  /** polars name.prefix_fields / suffix_fields / map_fields: rename every
    * field of a struct column. */
  def mapFields(struct0: Column, dt: org.apache.spark.sql.types.StructType,
                f: String => String): Column =
    struct(dt.fields.map(fld => struct0.getField(fld.name).as(f(fld.name))).toIndexedSeq: _*)
  def prefixFields(c: Column, dt: org.apache.spark.sql.types.StructType,
                   p: String): Column = mapFields(c, dt, p + _)
  def suffixFields(c: Column, dt: org.apache.spark.sql.types.StructType,
                   s: String): Column = mapFields(c, dt, _ + s)
}
