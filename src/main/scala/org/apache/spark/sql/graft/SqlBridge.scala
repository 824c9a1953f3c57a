package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[sql]` frame constructor over Catalyst
  * rows, so a reader that already holds its values in Catalyst form
  * skips the `Row` encoder, and into its SQL execution scope, so
  * actions over a frame's RDD run as one query of that frame. Lives
  * in the org.apache.spark.sql namespace purely for access.
  */
object SqlBridge {
  def dataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** [[dataFrame]] whose plan knows what the reader planned: a
    * single-partition RDD reports `SinglePartition`, so the operators
    * over it need no exchange, and the plan's size estimate is
    * `sizeInBytes`, so join planning sees the relation's real size. */
  def dataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType,
      sizeInBytes: Long): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val partitioning = if (rows.getNumPartitions == 1) SinglePartition
      else UnknownPartitioning(rows.getNumPartitions)
    classic.Dataset.ofRows(session, LogicalRDD(DataTypeUtils.toAttributes(schema), rows,
      partitioning)(session, Some(Statistics(BigInt(sizeInBytes)))))
  }

  def withExecution[T](df: DataFrame, name: String)(body: => T): T =
    SQLExecution.withNewExecutionId(
      df.asInstanceOf[classic.Dataset[Row]].queryExecution, Some(name))(body)
}
