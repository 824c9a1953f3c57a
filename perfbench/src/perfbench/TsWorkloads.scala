package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.tsdb.{DictionaryLabelScan, Matcher}
import graft.tsdb.block.TsdbBlockStore
import graft.tsdb.promql.{PromQL, PromQLContext}
import graft.tsdb.shard.ParquetShardStore

/** Seeded series, their samples, and the two writes every time-series
  * workload starts from: TSDB blocks, then reference-layout shards. */
final class TsData(spark: SparkSession, seed: Long, shape: Gen.Shape) {
  /** A 2 h block boundary, so blocks start where Prometheus cuts them. */
  val t0: Long = 1699999200000L
  val endMs: Long = t0 + shape.hours * 3600000L
  val series: IndexedSeq[Series] = Gen.series(seed, shape, t0)
  val labelCols: Seq[String] = Seq("__name__", "handler", "instance", "job")
  private val samplesById = new ConcurrentHashMap[Int, Samples]()
  def samples(s: Series): Samples = samplesById.computeIfAbsent(s.id, _ => Gen.samples(seed, s))
  def totalSamples: Long = series.map(samples(_).size.toLong).sum

  private val schema = StructType(labelCols.map(StructField(_, StringType)) ++ Seq(
    StructField("ts", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  /** The generated samples of `which` as a frame (ts in epoch ms),
    * produced inside Spark tasks from the seed. `bump` is added to
    * every value. */
  def frame(which: Seq[Series], lo: Long = Long.MinValue, hi: Long = Long.MaxValue,
      bump: Double = 0.0): DataFrame = {
    val sd = seed
    val rdd = spark.sparkContext.parallelize(which, spark.sparkContext.defaultParallelism)
      .flatMap { s =>
        val x = Gen.samples(sd, s)
        (0 until x.size).iterator.filter(i => x.ts(i) >= lo && x.ts(i) < hi).map { i =>
          Row(s.name, s.handler, s.instance, s.job, x.ts(i), x.v(i) + bump)
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  def writeBlocks(dir: String): Unit =
    TsdbBlockStore.write(frame(series), dir, labelCols, "ts", "value")

  /** Block reader rows → shard writer input: the reader gives absent
    * labels as "" and timestamps as epoch-ms longs; the shard writer
    * takes null for an absent label and a timestamp column. */
  def toShardInput(df: DataFrame): DataFrame =
    df.select(labelCols.map(c => nullif(col(c), lit("")).as(c)) ++
      Seq(timestamp_millis(col("ts")).as("ts"), col("value")): _*)

  /** Converts the blocks under `blocks` into shards under `out`. */
  def convert(tracer: Tracer, blocks: String, out: String): Unit = {
    val raw = tracer.span("block.read") { TsdbBlockStore.readLabels(spark, blocks, labelCols) }
    tracer.span("shard.write") {
      ParquetShardStore.write(toShardInput(raw), out, labelCols, "ts", "value",
        shards = TsData.Shards)
    }
  }

  /** Per-series (count, sum) of shard dirs, keyed by dir and label
    * map — read back through the shard select path in one action. */
  def seriesTotals(dirs: Seq[String]): Map[(String, Map[String, String]), (Long, Double)] =
    dirs.map(d => ParquetShardStore.select(spark, d, t0, endMs).withColumn("_dir", lit(d)))
      .reduce(_.unionByName(_))
      .groupBy((col("_dir") +: labelCols.map(col)): _*).agg(count(lit(1)), sum(col("value")))
      .collect().map { r =>
        val labels = labelCols.indices.collect {
          case i if !r.isNullAt(i + 1) => labelCols(i) -> r.getString(i + 1)
        }.toMap
        (r.getString(0), labels) -> (r.getLong(labelCols.size + 1), r.getDouble(labelCols.size + 2))
      }.toMap

  def expectTotals(adjust: Series => (Long, Double) => (Long, Double) = _ => (c, s) => (c, s))
      : Map[Map[String, String], (Long, Double)] =
    series.filter(samples(_).size > 0).map { s =>
      val x = samples(s)
      s.labels -> adjust(s)(x.size.toLong, x.v.sum)
    }.toMap

  def compareTotals(what: String, got: Map[Map[String, String], (Long, Double)],
      want: Map[Map[String, String], (Long, Double)]): Option[String] =
    if (got.keySet != want.keySet)
      Some(s"$what: ${got.size} series vs ${want.size} expected")
    else want.collectFirst {
      case (k, (c, s)) if got(k)._1 != c || !Ref.close(got(k)._2, s) =>
        s"$what: series $k has ${got(k)} want ($c, $s)"
    }
}

object TsData {
  /** Shard files per converted dir. */
  val Shards = 2
  /** Shape of every time-series workload's data: 196 series over 6 h,
    * about 0.24 M samples. */
  val Shape: Gen.Shape = Gen.Shape(jobs = 4, instancesPerJob = 6, handlers = 6,
    hours = 6, churnPct = 15)
}

/** `ingest`: the write path, one client. Each op converts the seeded
  * blocks into shards and compacts that shard dir with an overlapping
  * one (newer values for one job's last 2 h). */
final class Ingest(spark: SparkSession, tracer: Tracer, seed: Long) extends Workload {
  val data = new TsData(spark, seed, TsData.Shape)
  private var blocks, overlay, opsDir = ""
  private var lastShardBytes = 0L
  private val overlayFrom = data.endMs - 2 * 3600000L
  private def overlaid(s: Series) = s.job == Gen.jobName(0)
  private val Bump = 0.5

  def clients = 1
  // every run measures the same operations, whatever the host's speed
  override def minOps: Int = 5

  def setup(dir: String): Unit = {
    blocks = s"$dir/blocks"; overlay = s"$dir/overlay"; opsDir = s"$dir/ops"
    data.writeBlocks(blocks)
    ParquetShardStore.write(
      data.toShardInput(data.frame(data.series.filter(overlaid), overlayFrom, data.endMs, Bump)),
      overlay, data.labelCols, "ts", "value", shards = TsData.Shards)
  }

  private lazy val wantConverted = data.expectTotals()
  private lazy val wantMerged = data.expectTotals { s => (c, sum) =>
    if (!overlaid(s)) (c, sum)
    else (c, sum + Bump * Ref.count(data.samples(s), overlayFrom, data.endMs))
  }

  override def prepare(): Unit = { wantConverted; wantMerged }

  def op(client: Int, k: Int): OpResult = {
    val out = s"$opsDir/$k"
    data.convert(tracer, blocks, s"$out/converted")
    tracer.span("shard.merge") {
      ParquetShardStore.mergeShards(spark, Seq(s"$out/converted", overlay), s"$out/merged",
        shards = TsData.Shards)
    }
    lastShardBytes = Main.dirBytes(s"$out/converted")
    tracer.count("shard.bytes_written", lastShardBytes + Main.dirBytes(s"$out/merged"))
    OpResult(2 * data.totalSamples, () => {
      val (conv, merged) = (s"$out/converted", s"$out/merged")
      val got = data.seriesTotals(Seq(conv, merged))
      def of(d: String) = got.collect { case ((`d`, k), v) => k -> v }
      val bad = data.compareTotals("converted", of(conv), wantConverted)
        .orElse(data.compareTotals("merged", of(merged), wantMerged))
      Main.deleteTree(out)
      bad
    })
  }

  override def layerMetrics(): Map[String, Double] = Map(
    "block.input_bytes" -> Main.dirBytes(blocks).toDouble,
    "shard.bytes_per_sample" -> lastShardBytes.toDouble / data.totalSamples)
}

/** `dashboard`: Grafana-style panel refreshes, four clients, closed
  * loop. A fixed panel set is replayed in order, each refresh with its
  * window advanced one 60 s step: 60% PromQL range panels, 20% one-
  * series raw selects, 20% label-API calls. */
final class Dashboard(spark: SparkSession, tracer: Tracer, seed: Long, cpus: Int)
    extends Workload {
  val data = new TsData(spark, seed, TsData.Shape)
  private var dir = ""
  private var shardBytes = 0L

  def setup(d: String): Unit = {
    data.writeBlocks(s"$d/blocks")
    dir = s"$d/shards"
    data.convert(tracer, s"$d/blocks", dir)
    shardBytes = Main.dirBytes(dir)
  }

  /** Series of `metric` that equality matchers `ms` select. */
  private def bySel(metric: String, ms: Seq[Matcher.Eq]): Seq[Series] =
    data.series.filter(s => s.name == metric && ms.forall(m => s.labels.get(m.label).contains(m.value)))

  private def samplesIn(ss: Seq[Series], lo: Long, hi: Long): Long =
    ss.map(s => Ref.count(data.samples(s), lo, hi).toLong).sum

  private def promqlRange(metric: String, ms: Seq[Matcher.Eq], query: String,
      lo: Long, start: Long, end: Long, step: Long): Array[Row] = {
    val names = tracer.span("shard.label_names") { ParquetShardStore.labelNames(spark, dir) }
    val sel = tracer.span("shard.select_plan") {
      ParquetShardStore.select(spark, dir, lo, end, Matcher.Eq("__name__", metric) +: ms)
    }
    val ctx = PromQLContext(Map(metric -> sel), names.filterNot(_ == "__name__"), evalMs = end)
    val df = tracer.span("promql.compile") { PromQL.compileRange(query, ctx, start, end, step) }
    val rows = tracer.span("promql.exec") { df.collect() }
    tracer.count("promql.result_rows", rows.length)
    tracer.count("shard.samples_selected", samplesIn(bySel(metric, ms), lo, end))
    rows
  }

  /** (labels of `by`, step) → value of a range-query result. */
  private def keyed(rows: Array[Row], by: Seq[String]): Map[(Seq[String], Long), Double] =
    rows.map { r =>
      (by.map(b => r.getAs[String](b)), r.getAs[Long]("step_ms")) -> r.getAs[Double]("value")
    }.toMap

  private def matcherText(ms: Seq[Matcher.Eq]): String =
    ms.map(m => s"""${m.label}="${m.value}"""").mkString("{", ",", "}")

  def clients: Int = math.min(4, cpus)
  // at least ten operations beyond the 90th percentile
  override def minOps: Int = 100
  private val StepMs = 60000L
  private val RateWindowMs = 300000L

  sealed trait Panel
  final case class RatePanel(by: String, ms: Seq[Matcher.Eq], rangeH: Int) extends Panel
  final case class MaxPanel(ms: Seq[Matcher.Eq], rangeH: Int) extends Panel
  final case class RawPanel(s: Series, rangeH: Int) extends Panel
  case object NamesPanel extends Panel
  final case class SeriesPanel(job: String) extends Panel
  case object ValuesPanel extends Panel

  private var panels: IndexedSeq[Panel] = IndexedSeq.empty
  private val seen = ConcurrentHashMap.newKeySet[String]()
  private val repeated, keyedOps = new java.util.concurrent.atomic.AtomicLong()

  override def prepare(): Unit = {
    data.series.foreach(data.samples)
    val rnd = new java.util.SplittableRandom(Gen.mix(seed, 3))
    val shape = TsData.Shape
    def job() = Gen.jobName(rnd.nextInt(shape.jobs))
    val live = data.series.filter(s => s.startMs == data.t0 && s.endMs == data.endMs)
    // instances scraped over the whole range, so a panel's series
    // count does not depend on where churn fell
    def inst(j: String) = {
      val is = live.filter(_.job == j).map(_.instance).distinct
      is(rnd.nextInt(is.size))
    }
    // fixed panel shapes (kind, range); only the label values they
    // select are seeded, so every seed does the same amount of work
    val promql = Seq(1, 3, 2, 1, 2, 1, 3, 2, 1, 2, 3, 1).zipWithIndex.map { case (h, i) =>
      val j = job()
      i % 4 match {
        case 0 => RatePanel("handler", Seq(Matcher.Eq("job", j), Matcher.Eq("instance", inst(j))), h)
        case 1 => RatePanel("instance", Seq(Matcher.Eq("job", j),
          Matcher.Eq("handler", Gen.handlerName(rnd.nextInt(shape.handlers)))), h)
        case 2 => MaxPanel(Seq(Matcher.Eq("job", j)), h)
        case _ => MaxPanel(Seq(Matcher.Eq("job", j), Matcher.Eq("instance", inst(j))), h)
      }
    }
    val raw = Seq(1, 2, 3, 1).map(h => RawPanel(live(rnd.nextInt(live.size)), h))
    val labels = Seq(NamesPanel, SeriesPanel(job()), SeriesPanel(job()), ValuesPanel)
    // interleave so the clients see the mix at any point of a refresh
    panels = (promql.grouped(3).toSeq.zip(raw).zip(labels)).flatMap {
      case ((p, r), l) => p :+ r :+ l
    }.toIndexedSeq
  }

  /** Panel window ends advance one step per refresh from 3 h in, so a
    * 3 h panel always lies inside the data. */
  private def window(refresh: Int, hours: Int): (Long, Long) = {
    val end = data.t0 + 3 * 3600000L + (refresh % 150) * StepMs
    (end - hours * 3600000L, end)
  }

  /** Client c replays panels c, c + clients, c + 2·clients, ...; one
    * pass over them is one refresh. Warm-up -j runs the client's j-th
    * panel of refresh 0. */
  def op(client: Int, k: Int): OpResult = {
    val i = client + clients * (if (k >= 0) k else -k - 1)
    val panel = panels(i % panels.size)
    val refresh = i / panels.size
    val (start, end) = panel match {
      case RatePanel(_, _, h) => window(refresh, h)
      case MaxPanel(_, h) => window(refresh, h)
      case RawPanel(_, h) => window(refresh, h)
      case _ => (0L, 0L)
    }
    if (k >= 0) {
      keyedOps.incrementAndGet()
      if (!seen.add(s"$panel@$start-$end")) repeated.incrementAndGet()
    }
    run(panel, start, end).copy(kind = s"panel${i % panels.size}")
  }

  override def cycle: Int = panels.size / clients

  private def run(panel: Panel, start: Long, end: Long): OpResult = panel match {
      case RatePanel(by, ms, _) =>
        val lo = start - RateWindowMs
        val rows = promqlRange("c", ms, s"sum by ($by) (rate(c${matcherText(ms)}[5m]))",
          lo, start, end, StepMs)
        val sel = bySel("c", ms)
        OpResult(samplesIn(sel, lo, end), () => {
          val want = Ref.steps(start, end, StepMs).flatMap { t =>
            sel.flatMap(s => Ref.rate(data.samples(s), t, RateWindowMs).map(v => (s.labels(by), t, v)))
          }.groupBy(x => (Seq(x._1), x._2)).map { case (k, xs) => k -> Ref.sumDec(xs.map(_._3)) }
          Ref.diff(s"rate panel $ms", keyed(rows, Seq(by)), want)
        })
      case MaxPanel(ms, _) =>
        val lo = start - RateWindowMs
        val rows = promqlRange("g", ms, s"max_over_time(g${matcherText(ms)}[5m])",
          lo, start, end, StepMs)
        val sel = bySel("g", ms)
        OpResult(samplesIn(sel, lo, end), () => {
          val want = (for (t <- Ref.steps(start, end, StepMs); s <- sel;
              v <- Ref.maxOverTime(data.samples(s), t, RateWindowMs))
            yield (Seq(s.job, s.instance), t) -> v).toMap
          Ref.diff(s"max panel $ms", keyed(rows, Seq("job", "instance")), want)
        })
      case RawPanel(s, _) =>
        val m = tracer.span("shard.meta") { ParquetShardStore.meta(spark, dir) }
        val ms = Seq(Matcher.Eq("__name__", s.name), Matcher.Eq("job", s.job),
          Matcher.Eq("instance", s.instance)) ++ Option(s.handler).map(Matcher.Eq("handler", _))
        val rows =
          if (end <= m.mintMs || start > m.maxtMs) Array.empty[Row]
          else {
            val df = tracer.span("shard.select_plan") { ParquetShardStore.select(spark, dir, start, end, ms) }
            tracer.span("shard.exec") { df.select(unix_millis(col("ts")), col("value")).collect() }
          }
        val n = samplesIn(Seq(s), start, end)
        tracer.count("shard.samples_selected", n)
        OpResult(n, () => {
          val x = data.samples(s)
          val (a, b) = Ref.range(x, start, end)
          val got = rows.map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
          val want = (a until b).map(i => (x.ts(i), x.v(i)))
          if (got == want) None else Some(s"raw select of ${s.labels}: ${got.size} samples, want ${want.size}")
        })
      case NamesPanel =>
        val got = tracer.span("labels.names") { ParquetShardStore.labelNames(spark, dir) }
        OpResult(0, () =>
          if (got == data.labelCols.sorted) None else Some(s"label names $got"))
      case SeriesPanel(job) =>
        val rows = tracer.span("labels.series") {
          ParquetShardStore.series(spark, dir, Seq(Matcher.Eq("job", job))).collect()
        }
        OpResult(0, () => {
          val got = rows.map(r => r.schema.fieldNames.indices.collect {
            case i if !r.isNullAt(i) => r.schema.fieldNames(i) -> r.getString(i)
          }.toMap).toSet
          val want = data.series.filter(s => s.job == job && data.samples(s).size > 0).map(_.labels).toSet
          if (got == want) None else Some(s"series($job): ${got.size} label sets, want ${want.size}")
        })
      case ValuesPanel =>
        val got = tracer.span("labels.values") {
          DictionaryLabelScan.labelValues(spark, dir, "l_instance").collect().map(_.getString(0)).toSeq
        }
        OpResult(0, () => {
          val want = data.series.filter(data.samples(_).size > 0).map(_.instance).distinct.sorted
          if (got == want) None else Some(s"label values: ${got.size}, want ${want.size}")
        })
  }

  override def layerMetrics(): Map[String, Double] = Map(
    "shard.bytes_per_sample" -> shardBytes.toDouble / data.totalSamples,
    "client.repeat_key_share" -> repeated.get.toDouble / math.max(1L, keyedOps.get))
}
