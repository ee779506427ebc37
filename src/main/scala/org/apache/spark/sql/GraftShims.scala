package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Bridge between Catalyst [[Expression]]s and the public [[Column]] API.
  * Spark 4 made the classic converters package-private
  * (`org.apache.spark.sql.classic.ExpressionUtils`), so library code that
  * defines native expressions needs this one-file shim in the sql
  * namespace — the same approach Spark-native extension libraries use.
  * `internalCreateDataFrame` serves an `RDD[InternalRow]` (e.g. rows
  * decoded from a primitive cache) as a DataFrame without a Row
  * round-trip.
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def internalCreateDataFrame(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
