package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge.
  *
  * Spark 4 split the user-facing `Column` (a ColumnNode wrapper in sql-api)
  * from Catalyst `Expression`s; the converters live in
  * `org.apache.spark.sql.classic` and are `private[sql]`. Custom native
  * expressions (graft.functions.*) need exactly this seam, so we expose it
  * from inside the sql package namespace — the same technique third-party
  * Spark extension libraries use. Beyond the two stable converter calls,
  * internals are touched only by the helpers below that say so.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a Catalyst aggregate function as a Column usable in `df.agg(...)`.
    * `toAggregateExpression` is `private[sql]`, which is exactly why this
    * helper lives inside the sql package namespace. */
  def aggregateColumn(
      f: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction): Column =
    ExpressionUtils.column(f.toAggregateExpression())

  /** Drop an RDD's cached blocks without `RDD.unpersist`'s per-RDD
    * lineage WARN for locally checkpointed RDDs (`private[spark]`). */
  def unpersistRDD(sc: SparkContext, rddId: Int): Unit =
    sc.unpersistRDD(rddId, blocking = false)

  /** Register a builder so the expression is callable from SQL too. */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")
}
