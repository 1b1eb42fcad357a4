package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[sql]` Column ⇄ Expression converters and the
  * session FunctionRegistry so graft can wrap its native Catalyst
  * expressions as user-facing Columns and SQL functions, plus the session
  * state, schema and listener-bus calls that are `private[spark]`. Lives in
  * an `org.apache.spark.sql` subpackage purely for access; contains no logic.
  * (Same approach as every SparkSessionExtensions-based library that ships
  * custom expressions.) */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eager ColumnNode → catalyst conversion. `expression` defers via a lazy
    * `ColumnNodeExpression` wrapper, which the analyzer only unwraps at plan
    * roots — an expression RETURNED FROM a FunctionRegistry builder keeps the
    * wrapper into codegen and dies there if it contains e.g. a `Column.fn`
    * UnresolvedFunction node. This converts the whole tree up front; nested
    * unresolved functions become plain catalyst UnresolvedFunction, which the
    * fixed-point analyzer resolves normally. */
  def eagerExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Idempotent function registration on a live session (the non-extensions
    * path; `GraftExtensions` covers session construction time). */
  def registerFunction(spark: SparkSession, id: FunctionIdentifier,
                       info: ExpressionInfo,
                       builder: Seq[Expression] => Expression): Unit =
    state(spark).functionRegistry.registerFunction(id, info, builder)

  private def state(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState

  /** The session's SQL conf (what Spark's parquet schema converter reads). */
  def sqlConf(spark: SparkSession): SQLConf = state(spark).conf

  /** A Hadoop conf as the session's file sources build it: the context's
    * `spark.hadoop.*` settings plus the session's SQL confs. */
  def hadoopConf(spark: SparkSession): Configuration = state(spark).newHadoopConf()

  /** `s` with every field, array element and map value nullable, as
    * Spark's file sources expose a data schema. */
  def asNullable(s: StructType): StructType = s.asNullable

  /** Block until every listener has seen every event posted so far, so
    * listener counters can be read without sleeping. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
