package org.apache.spark.graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Records the Spark jobs a block of code starts, as the SQL
  * execution id each job ran under (None outside any SQL execution,
  * e.g. a parquet schema-inference job) — or, with [[timed]], also
  * each job's first stage and wall time. Lives under `org.apache.spark`
  * because draining the listener bus — so every job start is delivered
  * before the log is read — is package-private.
  */
object JobLog {
  def apply[T](sc: SparkContext)(body: => T): (T, Seq[Option[String]]) = {
    val (result, jobs) = timed(sc)(body)
    (result, jobs.map(_.executionId))
  }

  /** One job: its SQL execution id; the name of its first stage (its
    * call site, e.g. `count at Foo.scala:12`, or an anonymous function
    * for a stage adaptive execution submits); the call site that made
    * the last RDD of its last stage (for an adaptive stage, the user
    * line that planned it; for a checkpoint, `localCheckpoint at ...`);
    * and its wall time from start to end. */
  final case class Job(executionId: Option[String], firstStage: String,
      site: String, wallMs: Long) {
    override def toString: String = s"$firstStage / $site, $wallMs ms" +
      executionId.fold("")(id => s", SQL execution $id")
  }

  /** [[apply]] with each job's stages, call site and wall time, in
    * start order — what a job-count assertion prints to say where the
    * jobs went. */
  def timed[T](sc: SparkContext)(body: => T): (T, Seq[Job]) = {
    val starts = new ConcurrentHashMap[Int, SparkListenerJobStart]
    val ends = new ConcurrentHashMap[Int, Long]
    val result = listening(sc, new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.put(e.jobId, e)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.put(e.jobId, e.time)
    })(body)
    (result, starts.asScala.toSeq.sortBy(_._1).map { case (id, e) =>
      val stages = e.stageInfos.sortBy(_.stageId)
      Job(Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))),
        stages.headOption.fold("")(_.name),
        stages.lastOption.flatMap(_.rddInfos.sortBy(_.id).lastOption).fold("")(_.callSite),
        ends.asScala.get(id).fold(-1L)(_ - e.time))
    })
  }

  /** Runs `body` with `listener` attached; every event `body` caused
    * is delivered before this returns. */
  private[graft] def listening[T](sc: SparkContext, listener: SparkListener)(
      body: => T): T = {
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      result
    } finally sc.removeSparkListener(listener)
  }
}

/** What a block of code executed: the shuffle records its tasks wrote,
  * and the physical plan of every SQL execution it ran — the plan
  * posted at the execution's start plus each adaptive re-plan.
  */
object ExecLog {
  final case class Log(shuffleRecordsWritten: Long, plans: Seq[SparkPlanInfo]) {
    /** Every node of every plan, depth first. */
    def nodes: Seq[SparkPlanInfo] = {
      def walk(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(walk)
      plans.flatMap(walk)
    }
  }

  def apply[T](sc: SparkContext)(body: => T): (T, Log) = {
    val records = new AtomicLong
    val plans = new ConcurrentLinkedQueue[SparkPlanInfo]
    val result = JobLog.listening(sc, new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          records.addAndGet(m.shuffleWriteMetrics.recordsWritten))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.add(u.sparkPlanInfo)
        case _ =>
      }
    })(body)
    (result, Log(records.get, plans.asScala.toSeq))
  }
}

/** The input a block of code's tasks read: the bytes and records their
  * input metrics count. */
object ReadLog {
  def apply[T](sc: SparkContext)(body: => T): (T, Long, Long) = {
    val (bytes, records) = (new AtomicLong, new AtomicLong)
    val result = JobLog.listening(sc, new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          bytes.addAndGet(m.inputMetrics.bytesRead)
          records.addAndGet(m.inputMetrics.recordsRead)
        }
    })(body)
    (result, bytes.get, records.get)
  }
}
