package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** A wall-clock span around one public call (or, for `parent == 0`, a
  * whole operation). `op` is the id of the operation span it belongs
  * to. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans kept in memory for the whole run and read when it ends.
  * Outside a traced operation a span only runs its body. The current
  * span travels
  * with the client thread and is set as a Spark local property, so the
  * listener can charge every job, stage and task to the span whose call
  * submitted it. */
final class Tracer(sc: SparkContext) {
  val spans = new ConcurrentLinkedQueue[Span]()
  /** Counts the workload reports from inside traced operations. */
  val counts = new ConcurrentHashMap[String, AtomicLong]()
  /** Adds to System.nanoTime()/1e6 to give epoch ms (task times). */
  val epochOffsetMs: Double = System.currentTimeMillis() - System.nanoTime() / 1e6
  private val ids = new AtomicLong()
  private val current = new ThreadLocal[(Long, Long)] { // (span, op)
    override def initialValue(): (Long, Long) = (0L, 0L)
  }

  /** Runs one operation and returns its result and wall nanoseconds;
    * with `traced` it becomes a root span named `name`. */
  def op[T](traced: Boolean, name: String = "op")(body: => T): (T, Long) = {
    val id = if (traced) ids.incrementAndGet() else 0L
    if (traced) enter(id, id)
    val t0 = System.nanoTime()
    try {
      val r = body
      val t1 = System.nanoTime()
      if (traced) spans.add(Span(id, 0L, id, name, t0, t1))
      (r, t1 - t0)
    } finally if (traced) enter(0L, 0L)
  }

  /** Adds `n` to counter `name` when inside a traced operation. */
  def count(name: String, n: Long): Unit =
    if (current.get()._2 != 0L) counts.computeIfAbsent(name, _ => new AtomicLong()).addAndGet(n)

  def span[T](name: String)(body: => T): T = {
    val (parent, op) = current.get()
    if (op == 0L) body
    else {
      val id = ids.incrementAndGet()
      enter(id, op)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, op, name, t0, System.nanoTime()))
        enter(parent, op)
      }
    }
  }

  private def enter(span: Long, op: Long): Unit = {
    current.set((span, op))
    sc.setLocalProperty(Tracer.SpanProp, if (span == 0L) null else span.toString)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** What the Spark scheduler and the SQL metrics report, charged to the
  * span whose call submitted the work (jobs carry the span as a local
  * property; stages and tasks inherit it from their job). Events arrive
  * asynchronously: read the totals only after the bus has drained. */
final class LayerListener extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, busyNs, gcMs, shuffleWrite, shuffleRead,
        waitMs, blockBusyNs, blockStages, chunkBytes = 0L
    /** SQL metric totals by role (see [[LayerListener.register]]). */
    val sql = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val taskSpans = new java.util.ArrayList[(Long, Long)]() // launch, finish (ms)
  }
  val bySpan = new ConcurrentHashMap[Long, Acc]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  private val blockStage = ConcurrentHashMap.newKeySet[Int]()
  /** SQL metric accumulator id → role. */
  private val accRole = new ConcurrentHashMap[Long, String]()
  /** SQL execution id → span that started its first job. */
  private val execSpan = new ConcurrentHashMap[Long, Long]()

  private def acc(span: Long): Acc = bySpan.computeIfAbsent(span, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp))).foreach { s0 =>
      val s = s0.toLong
      e.stageIds.foreach(stageSpan.put(_, s))
      Option(e.properties.getProperty("spark.sql.execution.id"))
        .foreach(x => execSpan.putIfAbsent(x.toLong, s))
      val a = acc(s); a.synchronized { a.jobs += 1 }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    stageSubmitMs.put(id, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    // the TSDB block reader builds its RDD in TsdbBlockStore
    if (e.stageInfo.rddInfos.exists(_.callSite.contains("TsdbBlockStore.scala")))
      blockStage.add(id)
    Option(stageSpan.get(id)).foreach { s =>
      val a = acc(s)
      a.synchronized {
        a.stages += 1
        if (blockStage.contains(id)) a.blockStages += 1
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (!stageSpan.containsKey(e.stageId)) return
    val a = acc(stageSpan.get(e.stageId))
    val m = e.taskMetrics
    a.synchronized {
      var chunkScan = false
      e.taskInfo.accumulables.foreach { ai =>
        val role = accRole.get(ai.id)
        if (role != null) {
          if (role.startsWith("chunks_")) chunkScan = true
          // an RDD scan in a block-reading stage is the block reader's
          // output; elsewhere it is a checkpoint being re-read
          val r = if (role == "rdd_rows" && blockStage.contains(e.stageId)) "block_rows" else role
          ai.update.foreach {
            case n: Long => a.sql(r) += n
            case _ =>
          }
        }
      }
      a.tasks += 1
      if (m != null) {
        a.busyNs += m.executorRunTime * 1000000L
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        if (blockStage.contains(e.stageId)) a.blockBusyNs += m.executorRunTime * 1000000L
        if (chunkScan) a.chunkBytes += m.inputMetrics.bytesRead
      }
      a.waitMs += math.max(0L,
        e.taskInfo.launchTime - stageSubmitMs.getOrDefault(e.stageId, e.taskInfo.launchTime))
      a.taskSpans.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => register(s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate => register(u.sparkPlanInfo)
    // driver-side metrics, such as the rows a broadcast collected
    case d: SparkListenerDriverAccumUpdates if execSpan.containsKey(d.executionId) =>
      val a = acc(execSpan.get(d.executionId))
      a.synchronized {
        d.accumUpdates.foreach { case (id, v) =>
          Option(accRole.get(id)).foreach(role => a.sql(role) += v)
        }
      }
    case _ =>
  }

  /** Gives roles to the SQL metrics of a plan: row and other counters
    * of the shard labels/chunks scans, rows of an RDD scan (the block
    * reader's output in `ingest`), rows broadcast (series matched on
    * the select path), and the top-most row counter ("root_rows": what
    * the execution returned). */
  private def register(plan: SparkPlanInfo): Unit = {
    def rows(p: SparkPlanInfo): Option[Long] =
      p.metrics.find(_.name == "number of output rows").map(_.accumulatorId)
    def walk(p: SparkPlanInfo): Unit = {
      if (p.nodeName.startsWith("Scan parquet")) {
        val loc = p.metadata.getOrElse("Location", "")
        val kind = if (loc.contains(".labels.parquet")) "labels"
          else if (loc.contains(".chunks.parquet")) "chunks" else "parquet"
        p.metrics.foreach { m =>
          accRole.put(m.accumulatorId,
            if (m.name == "number of output rows") s"${kind}_rows" else s"${kind}_scan")
        }
      } else if (p.nodeName == "Scan ExistingRDD") rows(p).foreach(accRole.put(_, "rdd_rows"))
      else if (p.nodeName.startsWith("BroadcastExchange")) rows(p).foreach(accRole.put(_, "bcast_rows"))
      p.children.foreach(walk)
    }
    walk(plan)
    def top(p: SparkPlanInfo): Option[Long] = rows(p).orElse(p.children.headOption.flatMap(top))
    top(plan).foreach(accRole.putIfAbsent(_, "root_rows"))
  }
}
