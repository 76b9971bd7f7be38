package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Bridge to sql-private entry points: the Column<->Expression converters
  * so graft's custom Catalyst expressions can be exposed as Columns (the
  * public Column(Expression) constructor was removed in Spark 4's Connect
  * refactor; `classic.ExpressionUtils` is private[sql]), and the frame
  * over rows already in Catalyst's internal format. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The frame `createDataFrame(rows, schema)` builds once its encoder has
    * turned external rows into internal ones: a scan of `rows` as they
    * are, no encoder on the read. */
  def internalCreateDataFrame(spark: SparkSession, rows: RDD[InternalRow],
                              schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
