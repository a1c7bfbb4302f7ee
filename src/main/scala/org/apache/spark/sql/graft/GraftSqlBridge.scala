package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Thin accessors for `private[sql]` Spark internals the library needs:
  * Column ↔ Catalyst Expression conversion (to compose function builders
  * from the public Column DSL) and `Dataset.ofRows` (to run a logical plan
  * with substituted relations — the temp-view-free `/druid/v2/sql` path),
  * plus the session conf and schema merge [[graft.sink.Footers]] needs and
  * the listener-bus drain [[graft.tools.Probe]] reads its meter after.
  * Lives under `org.apache.spark.sql` solely for access; contains no logic.
  */
object GraftSqlBridge {

  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** EAGER ColumnNode → Expression conversion. `ExpressionUtils.expression`
    * returns a lazy `ColumnNodeExpression` wrapper that reports itself
    * resolved — embedded inside a function-builder result it reaches codegen
    * unconverted and explodes; the converter unwraps to real (possibly
    * Unresolved*) Catalyst nodes the analyzer then resolves in its normal
    * fixed-point pass. */
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The session's `SQLConf` — the parquet schema converter reads its NTZ,
    * nanos and binary-as-string rules from it. */
  def sqlConf(spark: SparkSession): SQLConf =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf

  /** `StructType.merge`, the fold parquet `mergeSchema` applies to the
    * per-file schemas (left fields keep their order, right-only fields
    * append). */
  def mergeSchema(left: StructType, right: StructType,
      caseSensitive: Boolean): StructType =
    left.merge(right, caseSensitive)

  /** Blocks until every listener event posted so far has been delivered
    * (`LiveListenerBus` is `private[spark]`); throws a TimeoutException
    * after `timeoutMs`. */
  def drainListeners(spark: SparkSession, timeoutMs: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
}
