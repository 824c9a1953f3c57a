package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Records the Spark jobs a block of code starts, as the SQL
  * execution id each job ran under (None outside any SQL execution,
  * e.g. a parquet schema-inference job). Lives under `org.apache.spark`
  * because draining the listener bus — so every job start is delivered
  * before the log is read — is package-private.
  */
object JobLog {
  def apply[T](sc: SparkContext)(body: => T): (T, Seq[Option[String]]) = {
    sc.listenerBus.waitUntilEmpty()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))))
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      import scala.jdk.CollectionConverters._
      (result, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
