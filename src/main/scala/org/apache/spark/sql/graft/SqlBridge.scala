package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[sql]` frame constructor over Catalyst
  * rows, so a reader that already holds its values in Catalyst form
  * skips the `Row` encoder, and into its SQL execution scope, so
  * actions over a frame's RDD run as one query of that frame. Lives
  * in the org.apache.spark.sql namespace purely for access; contains
  * no logic.
  */
object SqlBridge {
  def dataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  def withExecution[T](df: DataFrame, name: String)(body: => T): T =
    SQLExecution.withNewExecutionId(
      df.asInstanceOf[classic.Dataset[Row]].queryExecution, Some(name))(body)
}
