package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Column ⇄ Expression bridge for graft's native Catalyst expressions.
  *
  * Spark 4 made the `Column` ⇄ `Expression` converters `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`, columnNodeSupport.scala)
  * when `Column` moved to connect-compatible `ColumnNode`s. Libraries that
  * ship their own codegen expressions use the package-qualified-access
  * pattern below: one object inside the `org.apache.spark.sql` namespace
  * re-exporting the two converters, and the internal-row DataFrame
  * constructor the pair-RDD query tails end in. This is the only file in the
  * repo outside the `graft` namespace; everything else goes through it.
  */
object ColumnBridge {
  /** Wrap a Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Unwrap a Column to its Catalyst expression (classic sessions only). */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over rows already in Catalyst's internal form: no
    * per-row conversion from `Row`, and so no converter class to compile. */
  def dataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].internalCreateDataFrame(rows, schema)
}
