package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ExpressionUtils, SparkSession => Classic}
import org.apache.spark.sql.types.StructType

/** Column ⇄ Expression bridge, and catalyst rows → DataFrame. Spark 4
  * made these conversions `private[sql]` (ExpressionUtils in
  * columnNodeSupport.scala), so libraries that define native Catalyst
  * expressions expose them through a file in the sql package tree — the
  * standard extension-library pattern.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def frame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType)
      : DataFrame = spark.asInstanceOf[Classic]
    .internalCreateDataFrame(rows, schema)
}
