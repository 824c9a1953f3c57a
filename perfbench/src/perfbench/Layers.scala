package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, from the spans, the listener and
  * the counts the workload reported. Times and counts are totals over
  * the traced operations divided by their number ("per op"); a layer a
  * workload does not reach reads 0. Root spans named "probe" are the
  * dedup operations ingest's traced run adds: the dedup metrics are per
  * probe operation, and every other metric leaves them out. */
object Layers {

  /** Every per-layer metric with its unit, in report order. */
  val Units: Seq[(String, String)] = Seq(
    "block.read_s" -> "s/op",
    "block.samples_read" -> "count/op",
    "block.scan_passes" -> "count/op",
    "block.bytes_read" -> "B/op",
    "shard.write_s" -> "s/op",
    "shard.write_shuffle_bytes" -> "B/op",
    "shard.merge_s" -> "s/op",
    "shard.bytes_written" -> "B/op",
    "shard.bytes_per_sample" -> "B/sample",
    "shard.meta_s" -> "s/op",
    "shard.label_names_s" -> "s/op",
    "shard.select_plan_s" -> "s/op",
    "shard.plan_jobs" -> "count/op",
    "shard.labels_rows_read" -> "count/op",
    "shard.series_matched" -> "count/op",
    "shard.match_ratio" -> "ratio",
    "shard.chunk_bytes_read" -> "B/op",
    "shard.bytes_read_per_sample" -> "B/sample",
    "labels.names_s" -> "s/op",
    "labels.values_s" -> "s/op",
    "labels.series_s" -> "s/op",
    "promql.compile_s" -> "s/op",
    "promql.exec_s" -> "s/op",
    "promql.result_rows" -> "count/op",
    "spark.jobs_per_op" -> "count/op",
    "spark.stages_per_op" -> "count/op",
    "spark.tasks_per_op" -> "count/op",
    "spark.task_busy_s" -> "s/op",
    "spark.task_gc_s" -> "s/op",
    "spark.task_wait_s" -> "s/op",
    "spark.shuffle_write_bytes" -> "B/op",
    "spark.shuffle_read_bytes" -> "B/op",
    "driver.only_s" -> "s/op",
    "dedup.candidates_s" -> "s/op",
    "dedup.candidates" -> "count/op",
    "dedup.verified_pairs" -> "count/op",
    "dedup.candidate_precision" -> "ratio",
    "dedup.cluster_s" -> "s/op",
    "dedup.recall" -> "ratio",
    "client.repeat_key_share" -> "ratio",
    "trace.overhead_pct" -> "%")

  def metrics(tracer: Tracer, l: LayerListener,
      extra: Map[String, Double]): Map[String, (Double, String)] = {
    val spans = tracer.spans.asScala.toIndexedSeq
    val (ops, probes) = spans.filter(_.parent == 0L).partition(_.name == "op")
    val n = math.max(1, ops.size).toDouble
    val nDedup = if (probes.nonEmpty) probes.size.toDouble else n
    val probeIds = probes.map(_.id).toSet
    val children = spans.filter(_.parent != 0L).groupBy(_.parent)
    def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
      var total, end = 0.0
      end = lo
      ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
        .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
          if (b > end) { total += b - math.max(a, end); end = b }
        }
      total
    }
    def selfNs(s: Span): Double = s.durNs -
      covered(children.getOrElse(s.id, Nil).map(c => (c.startNs.toDouble, c.endNs.toDouble)),
        s.startNs.toDouble, s.endNs.toDouble)
    val selfByName = spans.groupBy(_.name).map { case (k, ss) => k -> ss.map(selfNs).sum }
    def self(name: String): Double = selfByName.getOrElse(name, 0.0) / 1e9 / n

    val (probeAccs, accs) = spans.flatMap(s => Option(l.bySpan.get(s.id)).map(s -> _))
      .partition(x => probeIds(x._1.op))
    def sum(f: l.Acc => Double, name: String = null): Double =
      accs.filter(x => name == null || x._1.name == name).map(x => f(x._2)).sum
    def sql(role: String, names: String*): Double =
      accs.filter(x => names.isEmpty || names.contains(x._1.name)).map(_._2.sql(role).toDouble).sum
    def dedupSelf(name: String): Double = selfByName.getOrElse(name, 0.0) / 1e9 / nDedup
    def count(k: String): Double = Option(tracer.counts.get(k)).map(_.get.toDouble).getOrElse(0.0)
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

    // driver-only time: operation wall time with none of its tasks running
    val tasksByOp = accs.groupBy(_._1.op).map { case (op, xs) =>
      op -> xs.flatMap(_._2.taskSpans.asScala.map(t => (t._1.toDouble, t._2.toDouble)))
    }
    val driverOnlyMs = ops.map { o =>
      val lo = o.startNs / 1e6 + tracer.epochOffsetMs
      val hi = o.endNs / 1e6 + tracer.epochOffsetMs
      (hi - lo) - covered(tasksByOp.getOrElse(o.id, Nil), lo, hi)
    }.sum

    val passes = sum(_.blockStages.toDouble) / n
    val labelsRows = sql("labels_rows")
    // rows broadcast by the actions over shard selects: the series the
    // matchers kept
    val matched = sql("bcast_rows", "promql.exec", "shard.exec")
    val chunkBytes = sum(_.chunkBytes.toDouble)
    val candidates = (accs ++ probeAccs).filter(_._1.name == "dedup.candidates")
      .map(_._2.sql("root_rows").toDouble).sum
    val verified = count("dedup.verified_pairs")
    val measured = Map(
      "block.read_s" -> sum(_.blockBusyNs.toDouble) / 1e9 / n,
      "block.samples_read" -> sql("block_rows") / n,
      "block.scan_passes" -> passes,
      "block.bytes_read" -> extra.getOrElse("block.input_bytes", 0.0) * passes,
      "shard.write_s" -> self("shard.write"),
      "shard.write_shuffle_bytes" -> sum(_.shuffleWrite.toDouble, "shard.write") / n,
      "shard.merge_s" -> self("shard.merge"),
      "shard.bytes_written" -> count("shard.bytes_written") / n,
      "shard.meta_s" -> self("shard.meta"),
      "shard.label_names_s" -> self("shard.label_names"),
      "shard.select_plan_s" -> self("shard.select_plan"),
      "shard.plan_jobs" -> sum(_.jobs.toDouble, "shard.select_plan") / n,
      "shard.labels_rows_read" -> labelsRows / n,
      "shard.series_matched" -> matched / n,
      "shard.match_ratio" -> ratio(matched, labelsRows),
      "shard.chunk_bytes_read" -> chunkBytes / n,
      "shard.bytes_read_per_sample" -> ratio(chunkBytes, count("shard.samples_selected")),
      "labels.names_s" -> self("labels.names"),
      "labels.values_s" -> self("labels.values"),
      "labels.series_s" -> self("labels.series"),
      "promql.compile_s" -> self("promql.compile"),
      "promql.exec_s" -> self("promql.exec"),
      "promql.result_rows" -> count("promql.result_rows") / n,
      "spark.jobs_per_op" -> sum(_.jobs.toDouble) / n,
      "spark.stages_per_op" -> sum(_.stages.toDouble) / n,
      "spark.tasks_per_op" -> sum(_.tasks.toDouble) / n,
      "spark.task_busy_s" -> sum(_.busyNs.toDouble) / 1e9 / n,
      "spark.task_gc_s" -> sum(_.gcMs.toDouble) / 1e3 / n,
      "spark.task_wait_s" -> sum(_.waitMs.toDouble) / 1e3 / n,
      "spark.shuffle_write_bytes" -> sum(_.shuffleWrite.toDouble) / n,
      "spark.shuffle_read_bytes" -> sum(_.shuffleRead.toDouble) / n,
      "driver.only_s" -> driverOnlyMs / 1e3 / n,
      "dedup.candidates_s" -> dedupSelf("dedup.candidates"),
      "dedup.candidates" -> candidates / nDedup,
      "dedup.verified_pairs" -> verified / nDedup,
      "dedup.candidate_precision" -> ratio(verified, candidates),
      "dedup.cluster_s" -> dedupSelf("dedup.cluster"))
    val all = measured ++ extra
    Units.map { case (k, u) => k -> (all.getOrElse(k, 0.0), u) }.toMap
  }
}
