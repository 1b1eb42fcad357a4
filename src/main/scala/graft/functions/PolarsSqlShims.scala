package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import GraftFunctions.{intLit, strLit}

/** polars-SQL dialect shims (reference:
  * crates/polars-sql/src/functions.rs:930-1125): the function names polars'
  * SQL frontend accepts that Spark SQL lacks, registered into the session
  * FunctionRegistry so a polars-SQL corpus runs verbatim on Spark.
  *
  * Only names MISSING from Spark 4's builtin registry are shimmed — names
  * Spark already has with matching semantics (string_agg/listagg, substr,
  * regexp_like, split_part, median, left/right, …) pass straight through,
  * and no builtin is overridden. Each shim composes `functions._` Columns,
  * so everything stays codegen'd Catalyst — no UDFs.
  *
  * Dialect-quirk notes (crates/polars-sql/src/sql_expr.rs):
  *  - `^` is XOR in polars-SQL, not exponentiation — Spark agrees already.
  *  - `array_get`/`strpos` are 1-indexed with null/0 on miss — matched via
  *    try_element_at / instr.
  *  - `total` is SQLite's null-safe sum (empty → 0, never null).
  *  - strftime/strptime take chrono `%`-codes — translated to java.time
  *    patterns at plan time (format must be a literal).
  */
object PolarsSqlShims {

  private def c(e: Expression): Column = Bridge.column(e)
  private def x(col: Column): Expression = Bridge.eagerExpression(col)

  /** chrono strftime codes → java.time pattern (literal letters quoted). */
  private[graft] def chronoToJava(fmt: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val ch = fmt.charAt(i)
      if (ch == '%' && i + 1 < fmt.length) {
        sb.append(fmt.charAt(i + 1) match {
          case 'Y' => "yyyy"; case 'y' => "yy";  case 'm' => "MM";   case 'd' => "dd"
          case 'H' => "HH";   case 'I' => "hh";  case 'M' => "mm";   case 'S' => "ss"
          case 'j' => "DDD";  case 'a' => "EEE"; case 'A' => "EEEE"; case 'b' => "MMM"
          case 'B' => "MMMM"; case 'p' => "a";   case 'z' => "xx";   case '%' => "%"
          case other => throw new IllegalArgumentException(
            s"strftime/strptime: unsupported chrono code %$other")
        })
        i += 2
      } else if (ch.isLetter) { sb.append('\'').append(ch).append('\''); i += 1 }
      else if (ch == '\'')    { sb.append("''"); i += 1 }
      else                    { sb.append(ch); i += 1 }
    }
    sb.toString
  }

  private def shim(name: String, arities: Range)(b: Seq[Column] => Column)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft.functions.PolarsSqlShims", name),
      (args: Seq[Expression]) => {
        require(arities.contains(args.length),
          s"$name expects ${arities.min}-${arities.max} arguments, got ${args.length}")
        x(b(args.map(c)))
      })

  private def shim1(name: String)(b: Column => Column) = shim(name, 1 to 1)(a => b(a(0)))
  private def shim2(name: String)(b: (Column, Column) => Column) =
    shim(name, 2 to 2)(a => b(a(0), a(1)))

  private def arrMean(arr: Column): Column = {
    val nn = filter(arr, e => e.isNotNull)
    when(size(nn) > 0,
      aggregate(nn, lit(0.0), (acc, e) => acc + e.cast("double")) / size(nn))
  }

  private def truncTo(e: Column, n: Int): Column = {
    val s = pow(lit(10.0), lit(n))
    when(e >= 0, floor(e * s) / s).otherwise(-floor(-e * s) / s)
  }

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    // degree-argument trig (CosD/SinD/… variants)
    shim1("sind")(e => sin(radians(e))),
    shim1("cosd")(e => cos(radians(e))),
    shim1("tand")(e => tan(radians(e))),
    shim1("cotd")(e => cot(radians(e))),
    shim1("asind")(e => degrees(asin(e))),
    shim1("acosd")(e => degrees(acos(e))),
    shim1("atand")(e => degrees(atan(e))),
    shim2("atan2d")((y, xx) => degrees(atan2(y, xx))),
    // bitwise names (polars BitAnd/BitOr/… functions, `^` stays Spark XOR)
    shim2("bitand")(_ bitwiseAND _),
    shim2("bitor")(_ bitwiseOR _),
    shim1("bitnot")(bitwise_not),
    shim1("bitcount")(bit_count),
    shim2("xor")(_ bitwiseXOR _),
    // array namespace (polars list ops; 1-indexed get, null on miss)
    shim2("array_get")((arr, i) => try_element_at(arr, i)),
    shim1("array_length")(size(_)),
    shim1("array_lower")(array_min),
    shim1("array_upper")(array_max),
    shim1("array_mean")(arrMean),
    shim1("array_sum")(arr =>
      aggregate(filter(arr, e => e.isNotNull), lit(0.0), (acc, e) => acc + e.cast("double"))),
    shim1("array_unique")(array_distinct),
    shim1("array_reverse")(reverse),
    shim2("array_to_string")((arr, sep) => call_function("array_join", arr, sep)),
    // string namespace
    shim2("ends_with")((e, s) => call_function("endswith", e, s)),
    shim2("starts_with")((e, s) => call_function("startswith", e, s)),
    shim2("strpos")((e, s) => call_function("instr", e, s)),
    // NOTE on `div`: Spark 4 ships a builtin `div` (truncating toward zero);
    // polars-SQL DIV floor-divides. Per the no-override policy the builtin
    // stands — they agree for non-negative operands, documented divergence
    // for negatives.
    // datetime conversion function (polars Datetime cast)
    shim1("datetime")(_.cast("timestamp")),
    // unnest as a SELECT-level generator (polars-SQL table_functions.rs):
    // alias for Spark's explode
    (FunctionIdentifier("unnest"),
      new ExpressionInfo("graft.functions.PolarsSqlShims", "unnest"),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"unnest expects 1 argument, got ${args.length}")
        org.apache.spark.sql.catalyst.expressions.Explode(args.head)
      }),
    // aggregates
    shimGroupConcat,
    shim1("total")(e => coalesce(sum(e), lit(0.0))),
    shim2("covar")(covar_samp),
    shim2("quantile_cont")((e, q) => percentile(e, q)),
    // discrete quantile: highest-accuracy t-digest — exact for any group that
    // fits an executor (documented approximation beyond that)
    shim2("quantile_disc")((e, q) => percentile_approx(e, q, lit(1000000))),
    // numeric truncate toward zero (polars Truncate, 0-2 decimals args)
    (FunctionIdentifier("truncate"),
      new ExpressionInfo("graft.functions.PolarsSqlShims", "truncate"),
      (args: Seq[Expression]) => {
        require(args.length == 1 || args.length == 2,
          s"truncate expects 1-2 arguments, got ${args.length}")
        val n = if (args.length == 2) intLit(args(1), "truncate", "decimals") else 0
        require(n >= 0, s"truncate does not support negative decimals ($n)")
        x(truncTo(c(args.head), n))
      }),
    // unicode normalization (polars-sql NORMALIZE; native NormalizeExpr)
    (FunctionIdentifier("normalize"),
      new ExpressionInfo("graft.functions.PolarsSqlShims", "normalize"),
      (args: Seq[Expression]) => {
        require(args.length == 1 || args.length == 2,
          s"normalize expects 1-2 arguments, got ${args.length}")
        val form = if (args.length == 2) strLit(args(1), "normalize", "form") else "NFC"
        NormalizeExpr(args.head, form)
      }),
    // chrono-format strftime/strptime (format literal, translated)
    (FunctionIdentifier("strftime"),
      new ExpressionInfo("graft.functions.PolarsSqlShims", "strftime"),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"strftime expects 2 arguments, got ${args.length}")
        x(date_format(c(args.head), chronoToJava(strLit(args(1), "strftime", "format"))))
      }),
    (FunctionIdentifier("strptime"),
      new ExpressionInfo("graft.functions.PolarsSqlShims", "strptime"),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"strptime expects 2 arguments, got ${args.length}")
        x(to_timestamp(c(args.head), chronoToJava(strLit(args(1), "strptime", "format"))))
      }),
    // literal-separator split (polars str.split is non-regex; quote it)
    (FunctionIdentifier("string_to_array"),
      new ExpressionInfo("graft.functions.PolarsSqlShims", "string_to_array"),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"string_to_array expects 2 arguments, got ${args.length}")
        val sep = strLit(args(1), "string_to_array", "separator")
        x(split(c(args.head), java.util.regex.Pattern.quote(sep)))
      })
  )

  /** group_concat / polars string_agg: literal separator (default ","). */
  private def shimGroupConcat
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("group_concat"),
      new ExpressionInfo("graft.functions.PolarsSqlShims", "group_concat"),
      (args: Seq[Expression]) => {
        require(args.length == 1 || args.length == 2,
          s"group_concat expects 1-2 arguments, got ${args.length}")
        val sep = if (args.length == 2) strLit(args(1), "group_concat", "separator") else ","
        x(array_join(collect_list(c(args.head)), sep))
      })
}
