package org.apache.spark.sql.graft

import org.apache.spark.TaskContext

/** Adds a reader's bytes and records to the running task's input
  * metrics, as Spark's own file scans do, so a task that reads files
  * with parquet-java shows its IO in the task metrics. Lives in the
  * org.apache.spark namespace purely for access to the metrics'
  * `private[spark]` counters; contains no logic.
  */
object TaskInputMetrics {
  def add(bytes: Long, records: Long): Unit =
    Option(TaskContext.get()).foreach { ctx =>
      val m = ctx.taskMetrics().inputMetrics
      m.incBytesRead(bytes)
      m.incRecordsRead(records)
    }
}
