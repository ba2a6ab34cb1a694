package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 moved `Column` onto ColumnNode and made the Expression↔Column
  * conversions `private[sql]`. This bridge (living inside the sql package,
  * the standard extension-library pattern — cf. spark-packages like
  * sedona/delta doing the same) re-exports just the two conversions our
  * custom Catalyst expressions need. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a (resolved) logical plan — the entry point a
    * library-defined LogicalPlan node needs; `Dataset.ofRows` is
    * private[sql]. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A DataFrame over an RDD of rows already in `schema`'s internal
    * layout; `SparkSession.internalCreateDataFrame` is private[sql]. */
  def ofInternalRows(spark: org.apache.spark.sql.SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)
}
