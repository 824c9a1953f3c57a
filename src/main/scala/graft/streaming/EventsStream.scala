package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

/** One event of the long-format series model (SURVEY §3). */
final case class SeriesEvent(
    ts: Timestamp, event_type: String, user_id: Long, value: Double)

/** Running per-series state: the live instant-query answer. */
final case class SeriesLast(
    event_type: String, user_id: Long, last_ts: Timestamp,
    last_value: Double, n_samples: Long)

/** Structured-Streaming transforms over an `events`-shaped stream
  * (ts, event_type, user_id, value). The batch engine's time-series
  * operators (PromOps) re-expressed for unbounded input: watermarked
  * windowed aggregation and per-series running state.
  *
  * The reference is a batch storage layer; its consumers (Thanos/
  * Cortex receivers) handle live series — this module is that live
  * path: `readStream` → these transforms → `writeStream` into the
  * same time-bucketed parquet layout [[graft.tsdb.TsdbConverter]]
  * writes, so the batch queryable sees a continuously-growing table.
  */
object EventsStream {

  /** Tumbling-window aggregate by `seriesCols` with a watermark for
    * state eviction — the streaming form of PromOps.downsample at
    * the SAME grain: pass the full series key for per-series
    * windows, or a label subset for a PromQL-`by`-style collapse
    * (the event_type-only default).
    */
  def windowedAgg(events: DataFrame, windowLen: String, watermark: String,
      seriesCols: Seq[String] = Seq("event_type")): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen) +: seriesCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_events"),
        avg("value").as("avg_value"),
        max("value").as("max_value"))
      .select(col("window.start").as("window_start") +: seriesCols.map(col) :+
        col("n_events") :+ col("avg_value") :+ col("max_value"): _*)

  /** Stateful per-series running last point — the streaming form of
    * PromOps.lastPoint: each micro-batch updates a per-series
    * GroupState so an instant query is answerable without rescanning
    * history. State is one row per live series (bounded by series
    * cardinality, not by throughput), the partitioning is the
    * groupByKey hash on the series key — the same key the batch
    * layout sorts by.
    */
  def runningLastPoint(events: Dataset[SeriesEvent]): Dataset[SeriesLast] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.event_type, e.user_id))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: (String, Long), batch: Iterator[SeriesEvent],
         state: GroupState[SeriesLast]) => {
          var cur = state.getOption.orNull
          // (ts, value) order as in runningIncrease and the batch
          // tieBreak: same-timestamp samples must pick the same
          // winner on every replay, not arrival order
          batch.toSeq.sortBy(e => (e.ts.getTime, e.value)).foreach { e =>
            val n = if (cur == null) 1L else cur.n_samples + 1L
            cur =
              if (cur == null || !e.ts.before(cur.last_ts))
                SeriesLast(key._1, key._2, e.ts, e.value, n)
              else cur.copy(n_samples = n)
          }
          state.update(cur)
          Iterator(cur)
        })
  }

  /** Running state for a live counter series. */
  final case class CounterState(
      last_ts: Timestamp, last_value: Double, cum_increase: Double)

  /** Per-series increase emitted per update. */
  final case class SeriesIncrease(
      event_type: String, user_id: Long, cum_increase: Double,
      last_value: Double, last_ts: Timestamp)

  /** Stateful streaming counter increase — PromOps.increase for
    * unbounded input: per series, accumulate positive deltas (with
    * counter-reset handling) across micro-batches. Emits the running
    * cumulative increase on every update; divide by wall-clock range
    * downstream for a live rate. Within a micro-batch events are
    * processed in event-time order so late-within-batch samples
    * cannot produce phantom resets.
    */
  def runningIncrease(events: Dataset[SeriesEvent]): Dataset[SeriesIncrease] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.event_type, e.user_id))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: (String, Long), batch: Iterator[SeriesEvent],
         state: GroupState[CounterState]) => {
          var cur = state.getOption.orNull
          // (ts, value) tiebreak as in the batch PromOps ordering —
          // same-timestamp samples must replay deterministically
          batch.toSeq.sortBy(e => (e.ts.getTime, e.value)).foreach { e =>
            cur =
              if (cur == null) CounterState(e.ts, e.value, 0.0)
              else if (e.ts.before(cur.last_ts)) cur // late sample: drop
              else {
                val delta =
                  if (e.value >= cur.last_value) e.value - cur.last_value
                  else e.value // counter reset
                CounterState(e.ts, e.value, cur.cum_increase + delta)
              }
          }
          state.update(cur)
          Iterator(SeriesIncrease(key._1, key._2, cur.cum_increase,
            cur.last_value, cur.last_ts))
        })
  }

  /** Buffered samples of one open (series, window). */
  final case class WindowBuf(
      windowStartMs: Long, tsMs: Array[Long], vals: Array[Double])

  /** Per-series state: every window not yet sealed by the watermark. */
  final case class OpenWindows(bufs: Seq[WindowBuf])

  /** One finalized window of a counter series. */
  final case class WindowIncrease(
      event_type: String, user_id: Long, window_start: Timestamp,
      n_samples: Long, increase: Double, rate: Double)

  /** Watermarked per-series windowed counter increase/rate — the
    * streaming form of PromOps.increase over tumbling windows, with
    * real late-data semantics: samples are buffered per (series,
    * window) until the watermark passes the window end, then the
    * window is sealed ONCE with its samples in event-time order —
    * so late-but-within-watermark arrivals land in the right place
    * in the delta chain instead of being dropped or double-counted
    * (an incremental fold could not reorder them). Append output:
    * each (series, window) is emitted exactly once, final.
    *
    * State is bounded by (live series × open windows per watermark ×
    * samples per window) — watermark delay controls the window
    * count; a decimation step upstream bounds samples for
    * pathological-rate series. Eviction uses event-time timeouts, so
    * a series that stops sending still seals its windows.
    */
  def windowedIncrease(events: Dataset[SeriesEvent], windowLenMs: Long,
      watermarkDelay: String): Dataset[WindowIncrease] = {
    import events.sparkSession.implicits._
    sealedWindows(events, windowLenMs, watermarkDelay) { (key, buf) =>
      // sort by (ts, value), not ts alone: samples sharing a timestamp
      // would otherwise keep ARRIVAL order, making the computed
      // increase nondeterministic across replays — and the batch
      // PromOps side pins the same tie with (ts, value) ordering.
      val samples = buf.tsMs.zip(buf.vals).sorted
      var increase = 0.0
      var i = 1
      while (i < samples.length) {
        val (prev, cur) = (samples(i - 1)._2, samples(i)._2)
        increase += (if (cur >= prev) cur - prev else cur) // reset → cur
        i += 1
      }
      WindowIncrease(key._1, key._2, new Timestamp(buf.windowStartMs),
        samples.length.toLong, increase, increase / (windowLenMs / 1000.0))
    }
  }

  /** The shared watermark-buffer-seal engine behind
    * [[windowedIncrease]] and [[windowedRollup]]: buffer samples per
    * (series, window) until the watermark passes the window end,
    * then hand the buffer to `seal` exactly once.
    */
  private def sealedWindows[T: org.apache.spark.sql.Encoder](
      events: Dataset[SeriesEvent], windowLenMs: Long,
      watermarkDelay: String)(
      seal: ((String, Long), WindowBuf) => T): Dataset[T] = {
    import events.sparkSession.implicits._
    require(windowLenMs > 0, "windowLenMs must be positive")
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(e => (e.event_type, e.user_id))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: (String, Long), batch: Iterator[SeriesEvent],
         state: GroupState[OpenWindows]) => {
          val wm = state.getCurrentWatermarkMs()
          val byWin = scala.collection.mutable.Map.empty[Long,
            (scala.collection.mutable.ArrayBuffer[Long],
             scala.collection.mutable.ArrayBuffer[Double])]
          state.getOption.foreach(_.bufs.foreach { b =>
            byWin(b.windowStartMs) =
              (b.tsMs.to(scala.collection.mutable.ArrayBuffer),
               b.vals.to(scala.collection.mutable.ArrayBuffer))
          })
          // pre-watermark rows were already filtered by the engine
          batch.foreach { e =>
            val t = e.ts.getTime
            val w = t - java.lang.Math.floorMod(t, windowLenMs)
            val (tsb, vb) = byWin.getOrElseUpdate(w,
              (scala.collection.mutable.ArrayBuffer.empty[Long],
               scala.collection.mutable.ArrayBuffer.empty[Double]))
            tsb += t; vb += e.value
          }
          val (done, open) = byWin.partition { case (w, _) => w + windowLenMs <= wm }
          if (open.isEmpty) state.remove()
          else {
            state.update(OpenWindows(open.toSeq.map { case (w, (tsb, vb)) =>
              WindowBuf(w, tsb.toArray, vb.toArray)
            }))
            // wake this series when the earliest open window expires,
            // even if it never sends another sample
            state.setTimeoutTimestamp(open.keys.min + windowLenMs)
          }
          done.toSeq.sortBy(_._1).iterator.map { case (w, (tsb, vb)) =>
            seal(key, WindowBuf(w, tsb.toArray, vb.toArray))
          }
        })
  }

  /** One finalized rollup window of a series: the STREAMING form of
    * [[graft.tsdb.RollupStore]]'s per-(series, window) row. `vsum`
    * and `increase` accumulate exactly like the batch writer — each
    * double quantized once at 8 dp (HALF_UP, Spark's double→decimal
    * cast), summed losslessly — so a sealed window is BITWISE the
    * row the batch rollup would produce from the same samples.
    */
  final case class RollupWindow(
      event_type: String, user_id: Long, window_ms: Long, n: Long,
      vsum: BigDecimal, vmin: Double, vmax: Double,
      first_ts_ms: Long, first_v: Double, last_ts_ms: Long, last_v: Double,
      prev_ts_ms: Option[Long], prev_v: Option[Double],
      vmin_ts_ms: Long, vmax_nn: Double, vmax_ts_ms: Long,
      increase: BigDecimal, resets: Long, changes: Long,
      vsq: BigDecimal, sx: BigDecimal, sxx: BigDecimal, sxy: BigDecimal)

  /** Watermarked per-series rollup maintenance — the streaming form
    * of [[graft.tsdb.RollupStore.write]]: windows seal once when the
    * watermark passes, with their samples replayed in (ts, value)
    * order, so late-but-within-watermark arrivals land in the right
    * place in the delta chain. Same bounded state as
    * [[windowedIncrease]] (they share the buffer-seal engine).
    */
  def windowedRollup(events: Dataset[SeriesEvent], windowLenMs: Long,
      watermarkDelay: String): Dataset[RollupWindow] = {
    import events.sparkSession.implicits._
    sealedWindows(events, windowLenMs, watermarkDelay) { (key, buf) =>
      val samples = buf.tsMs.zip(buf.vals).sorted
      def q(d: Double) = java.math.BigDecimal.valueOf(d)
        .setScale(8, java.math.RoundingMode.HALF_UP)
      // Spark SQL's double comparison (SQLOrderingUtil.compareDoubles):
      // -0.0 == 0.0, NaN above every value, NaN == NaN. The batch
      // writer's lag/min/max run under THIS ordering, and NaN is an
      // in-model value (Prometheus staleness markers) — plain Scala
      // `<`/`>=` would diverge on it and BigDecimal.valueOf throws on
      // non-finite, so every value-dependent accumulation below
      // either uses cmp() or skips non-finite exactly where the batch
      // path's double→decimal cast yields the NULL that sum() skips.
      def cmp(a: Double, b: Double): Int =
        if (a == b) 0 else java.lang.Double.compare(a, b)
      var vsum = java.math.BigDecimal.ZERO
      var inc = java.math.BigDecimal.ZERO
      var vsq = java.math.BigDecimal.ZERO
      var sx = java.math.BigDecimal.ZERO
      var sxx = java.math.BigDecimal.ZERO
      var sxy = java.math.BigDecimal.ZERO
      var vmin = samples.head._2
      var vmax = samples.head._2
      // argmin/argmax under the ts_of_* tie rules (latest sample
      // among tied extrema; max demotes NaN below every real value —
      // the batch writer's not-NaN struct flag). Walking in ts order
      // means a `<= / >=` update IS the latest-tie rule.
      var vminTs = samples.head._1
      var vmaxNn = samples.head._2
      var vmaxTs = samples.head._1
      var resets = 0L
      var changes = 0L
      var i = 0
      while (i < samples.length) {
        val v = samples(i)._2
        val finite = java.lang.Double.isFinite(v)
        // the batch writer's exact moment sums: v² at scale 16 (the
        // exact product of two scale-8 decimals), x = window-relative
        // integer milliseconds. sx/sxx are value-INdependent (the
        // batch sums _xw over every row), so they never skip; the
        // value-carrying sums skip non-finite like the batch cast.
        val xw = java.math.BigDecimal.valueOf(
          samples(i)._1 - buf.windowStartMs)
        sx = sx.add(xw)
        sxx = sxx.add(xw.multiply(xw))
        if (finite) {
          val qv = q(v)
          vsum = vsum.add(qv)
          vsq = vsq.add(qv.multiply(qv))
          sxy = sxy.add(xw.multiply(qv))
        }
        if (cmp(v, vmin) < 0) vmin = v
        if (cmp(v, vmax) > 0) vmax = v
        if (i > 0) {
          // vmin was already folded above, so cmp(v, vmin) <= 0 now
          // means "v is (tied-)minimal" → latest tied sample wins
          if (cmp(v, vmin) <= 0) vminTs = samples(i)._1
          def ok(d: Double) = if (d.isNaN) 0 else 1
          if (ok(v) > ok(vmaxNn) ||
              (ok(v) == ok(vmaxNn) && cmp(v, vmaxNn) >= 0)) {
            vmaxNn = v; vmaxTs = samples(i)._1
          }
        }
        if (i > 0) {
          val prev = samples(i - 1)._2
          val delta = if (cmp(v, prev) >= 0) v - prev else v
          if (java.lang.Double.isFinite(delta)) inc = inc.add(q(delta))
          if (cmp(v, prev) < 0) resets += 1
          // Spark-side `=!=` treats NaN==NaN as equal; mirror it
          if (v != prev && !(v.isNaN && prev.isNaN)) changes += 1
        }
        i += 1
      }
      // the batch writer's penultimate sample: the lag pair carried
      // by the max-key row (NULL on single-sample windows)
      val prev = if (samples.length >= 2)
        Some(samples(samples.length - 2)) else None
      RollupWindow(key._1, key._2, buf.windowStartMs, samples.length.toLong,
        BigDecimal(vsum), vmin, vmax,
        samples.head._1, samples.head._2, samples.last._1, samples.last._2,
        prev.map(_._1), prev.map(_._2),
        vminTs, vmaxNn, vmaxTs,
        BigDecimal(inc), resets, changes,
        BigDecimal(vsq), BigDecimal(sx), BigDecimal(sxx), BigDecimal(sxy))
    }
  }

  /** Streaming sink maintaining a [[graft.tsdb.RollupStore]] layer:
    * sealed windows append into the same bucketed decimal(30,8)
    * layout the batch writer produces, so
    * [[graft.tsdb.RollupStore.select]]/[[graft.tsdb.RollupStore.stitchedIncrease]]
    * — and the PromQL front-end's rollup routing — read a live,
    * continuously-growing layer with no rewrite step. Windows are
    * immutable once sealed (append mode), the exactly-once contract
    * parquet + checkpointing give every streaming sink here.
    */
  def toRollupLayer(events: Dataset[SeriesEvent], path: String,
      checkpoint: String, windowLenMs: Long,
      watermarkDelay: String): DataStreamWriter[Row] =
    windowedRollup(events, windowLenMs, watermarkDelay).toDF()
      .select(col("event_type"), col("user_id"), col("window_ms"),
        col("n"),
        col("vsum").cast("decimal(30,8)").as("vsum"),
        col("vmin"), col("vmax"),
        col("first_ts_ms"), col("first_v"),
        col("last_ts_ms"), col("last_v"),
        col("prev_ts_ms"), col("prev_v"),
        col("vmin_ts_ms"), col("vmax_nn"), col("vmax_ts_ms"),
        col("increase").cast("decimal(30,8)").as("increase"),
        col("resets"), col("changes"),
        col("vsq").cast("decimal(31,16)").as("vsq"),
        col("sx").cast("decimal(20,0)").as("sx"),
        col("sxx").cast("decimal(30,0)").as("sxx"),
        col("sxy").cast("decimal(33,8)").as("sxy"),
        timestamp_millis(col("window_ms")).as("ts"))
      .withColumn("bucket", graft.tsdb.TsdbConverter.bucketCol("ts", "1 day"))
      .writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("bucket")

  /** Streaming maintenance for the MATERIALIZED LABEL INDEX
    * ([[graft.tsdb.LabelIndexStore]]): watermarked per-bucket
    * distinct (label, value) counts sealed once per bucket window
    * and appended into the same bucket-partitioned layout the batch
    * writer produces — so [[graft.tsdb.TsdbQueryable.withLabelIndex]]
    * reads a live, continuously-growing index with no rewrite step,
    * exactly like the streamed rollup layers. One built-in windowed
    * aggregation (map-side partial combine keeps the state at index
    * cardinality, never sample cardinality); append mode = each
    * (bucket, label, value) row is final when the watermark passes
    * its day.
    */
  def toLabelIndexLayer(events: DataFrame, path: String,
      checkpoint: String, labelCols: Seq[String], watermarkDelay: String,
      bucketDuration: String = "1 day"): DataStreamWriter[Row] = {
    require(labelCols.nonEmpty, "labelCols must be non-empty")
    val widthSec = graft.tsdb.TsdbConverter.durationSeconds(bucketDuration)
    events
      .withWatermark("ts", watermarkDelay)
      .select(col("ts"), explode(map(
        labelCols.flatMap(c => Seq(lit(c), col(c).cast("string"))): _*))
        .as(Seq("label_name", "label_value")))
      .filter(col("label_value").isNotNull)
      .groupBy(window(col("ts"), s"$widthSec seconds"),
        col("label_name"), col("label_value"))
      .agg(count(lit(1)).as("n_rows"))
      .select(col("label_name"), col("label_value"), col("n_rows"),
        floor(unix_timestamp(col("window.start")) / widthSec)
          .cast("long").as("bucket"))
      .writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("bucket")
  }

  /** Streaming maintenance for the HLL SKETCH layer
    * ([[graft.tsdb.LabelIndexStore.writeSketches]]): per-bucket
    * per-label DataSketches registers sealed once per bucket window
    * and appended into the same bucket-partitioned layout the batch
    * writer produces. `hll_sketch_agg` is a typed imperative
    * aggregate — its buffer is the register array itself, so the
    * streaming state per open (bucket, label) is one fixed-size
    * sketch, merged map-side exactly like batch; HLL state being a
    * deterministic function of the value SET makes streamed ≡ batch
    * bitwise-comparable at the estimate level regardless of arrival
    * order. Append mode: a (bucket, label) sketch row is final when
    * the watermark passes its bucket.
    */
  def toLabelSketchLayer(events: DataFrame, path: String,
      checkpoint: String, labelCols: Seq[String], watermarkDelay: String,
      bucketDuration: String = "1 day", lgK: Int = 14): DataStreamWriter[Row] = {
    require(labelCols.nonEmpty, "labelCols must be non-empty")
    val widthSec = graft.tsdb.TsdbConverter.durationSeconds(bucketDuration)
    events
      .withWatermark("ts", watermarkDelay)
      .select(col("ts"), explode(map(
        labelCols.flatMap(c => Seq(lit(c), col(c).cast("string"))): _*))
        .as(Seq("label_name", "label_value")))
      .filter(col("label_value").isNotNull)
      .groupBy(window(col("ts"), s"$widthSec seconds"), col("label_name"))
      .agg(hll_sketch_agg(col("label_value"), lit(lgK)).as("sketch"))
      .select(col("label_name"), col("sketch"),
        floor(unix_timestamp(col("window.start")) / widthSec)
          .cast("long").as("bucket"))
      .writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("bucket")
  }

  /** Streaming maintenance for the GK QUANTILE SKETCH layer
    * ([[graft.tsdb.QuantileSketchStore]]): per (series, window) one
    * Greenwald–Khanna summary sealed when the watermark passes the
    * window, appended into the batch layout. The aggregate's buffer
    * IS the summary (fixed-size state per open window, exactly like
    * the HLL layer); counts compose order-independently so a sealed
    * window's `n` equals the batch writer's, while quantile ANSWERS
    * agree within the GK rank bound (insertion order differs — the
    * same declared-approximate convention as the batch layer,
    * spec-pinned in [[QuantileSketchSpec]]).
    */
  def toQuantileSketchLayer(events: DataFrame, path: String,
      checkpoint: String, windowLenMs: Long, watermarkDelay: String,
      relativeError: Double = 0.01): DataStreamWriter[Row] = {
    require(windowLenMs > 0 && windowLenMs % 1000 == 0,
      "windowLenMs must be a positive whole-second width")
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), s"${windowLenMs / 1000} seconds"),
        col("event_type"), col("user_id"))
      .agg(graft.functions.QuantileSketch
        .sketchAgg(col("value").cast("double"), relativeError)
        .as("qsketch"))
      .select(col("event_type"), col("user_id"),
        (unix_timestamp(col("window.start")) * 1000L).as("window_ms"),
        col("qsketch"), col("window.start").as("ts"))
      .withColumn("bucket", graft.tsdb.TsdbConverter.bucketCol("ts", "1 day"))
      .writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("bucket")
  }

  /** One native-histogram sample on a stream (the long-format NH
    * row model of [[graft.tsdb.NativeHistogram]], one string series
    * key). `hint` is the chunk counter-reset header where the source
    * surfaces one (`readHistLabels(withResetHint)`), else "unknown".
    */
  final case class HistEvent(
      ts: Timestamp, series: String, zero_count: Double,
      pos_idx: Seq[Int], pos_counts: Seq[Double],
      neg_idx: Seq[Int], neg_counts: Seq[Double], hint: String)

  /** Buffered samples of one open (series, window) of histograms. */
  final case class HistWindowBuf(
      windowStartSec: Long, samples: Seq[HistEvent])

  final case class OpenHistWindows(bufs: Seq[HistWindowBuf])

  /** One finalized NH rollup window — the STREAMING form of
    * [[graft.tsdb.HistRollupStore]]'s per-(series, window) row:
    * boundary snapshots plus the within-window reset-aware increase
    * maps, computed by the identical sample walk (component decrease
    * OR an explicit hint ⇒ reset ⇒ the post-reset histogram adds
    * whole; per-key sums accumulate in step order), so a sealed
    * window matches the batch writer's row on integral counts
    * exactly and on float counts FP-identically (same addition
    * order, no reassociation).
    */
  final case class HistRollupWindow(
      series: String, window_sec: Long, n: Long,
      f_t: Long, f_z: Double, f_i: Seq[Int], f_c: Seq[Double],
      f_ni: Seq[Int], f_nc: Seq[Double], f_h: String,
      l_t: Long, l_z: Double, l_i: Seq[Int], l_c: Seq[Double],
      l_ni: Seq[Int], l_nc: Seq[Double],
      zero_inc: Double, pos_idx: Seq[Int], pos_inc: Seq[Double],
      neg_idx: Seq[Int], neg_inc: Seq[Double])

  /** Mirrors Catalyst's ordering for the batch writer's
    * sort_array(struct(t, z, i, c, ni, nc, h)) snapshot sort:
    * arrays compare element-wise, shorter-is-less on a tie.
    */
  private def seqOrd[A](implicit o: Ordering[A]): Ordering[Seq[A]] =
    (a: Seq[A], b: Seq[A]) => {
      val it = a.iterator.zip(b.iterator)
      var c = 0
      while (c == 0 && it.hasNext) {
        val (x, y) = it.next(); c = o.compare(x, y)
      }
      if (c != 0) c else a.length.compareTo(b.length)
    }

  private val histSampleOrd: Ordering[HistEvent] = {
    implicit val si = seqOrd[Int]
    implicit val sd = seqOrd[Double]
    Ordering.by((e: HistEvent) => (e.ts.getTime, e.zero_count,
      (e.pos_idx, e.pos_counts, e.neg_idx), (e.neg_counts, e.hint)))
  }

  /** Watermarked per-series NH rollup maintenance — the streaming
    * form of [[graft.tsdb.HistRollupStore.write]]: whole histogram
    * samples buffer per (series, window) until the watermark passes
    * the window end, then the window seals ONCE with its samples
    * replayed in event-time order, so late-but-within-watermark
    * arrivals land in the right place in the reset ladder (an
    * incremental fold could not reorder them, and a phantom reset is
    * exactly what an out-of-order histogram pair fabricates). State
    * is bounded by live series × open windows × samples per window.
    */
  def windowedHistRollup(events: Dataset[HistEvent], windowLenSec: Long,
      watermarkDelay: String): Dataset[HistRollupWindow] = {
    import events.sparkSession.implicits._
    require(windowLenSec > 0, "windowLenSec must be positive")
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.series)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: String, batch: Iterator[HistEvent],
         state: GroupState[OpenHistWindows]) => {
          val wlenMs = windowLenSec * 1000L
          val wm = state.getCurrentWatermarkMs()
          val byWin = scala.collection.mutable.Map.empty[Long,
            scala.collection.mutable.ArrayBuffer[HistEvent]]
          state.getOption.foreach(_.bufs.foreach { b =>
            byWin(b.windowStartSec) =
              b.samples.to(scala.collection.mutable.ArrayBuffer)
          })
          batch.foreach { e =>
            val tSec = java.lang.Math.floorDiv(e.ts.getTime, 1000L)
            val w = tSec - java.lang.Math.floorMod(tSec, windowLenSec)
            byWin.getOrElseUpdate(w,
              scala.collection.mutable.ArrayBuffer.empty[HistEvent]) += e
          }
          val (done, open) = byWin.partition {
            case (w, _) => (w + windowLenSec) * 1000L <= wm
          }
          if (open.isEmpty) state.remove()
          else {
            state.update(OpenHistWindows(open.toSeq.map { case (w, b) =>
              HistWindowBuf(w, b.toSeq)
            }))
            state.setTimeoutTimestamp((open.keys.min + windowLenSec) * 1000L)
          }
          done.toSeq.sortBy(_._1).iterator.map { case (w, b) =>
            sealHistWindow(key, w, b.toSeq)
          }
        })
  }

  /** The within-window walk — sample-for-sample the fold
    * [[graft.tsdb.NativeHistogram.increaseBySignedResets]] runs
    * batch-side: step deltas cover the CURRENT sample's bucket keys
    * (reset ⇒ the whole current histogram), per-key sums accumulate
    * in step order.
    */
  private def sealHistWindow(series: String, windowSec: Long,
      samples: Seq[HistEvent]): HistRollupWindow = {
    val ss = samples.sorted(histSampleOrd)
    val f = ss.head
    val l = ss.last
    var z = 0.0
    val p = scala.collection.mutable.LinkedHashMap.empty[Int, Double]
    val n = scala.collection.mutable.LinkedHashMap.empty[Int, Double]
    def asMap(i: Seq[Int], c: Seq[Double]): Map[Int, Double] =
      i.zip(c).toMap
    def decreased(prev: Map[Int, Double], cur: Map[Int, Double]): Boolean =
      prev.exists { case (k, pv) => cur.getOrElse(k, 0.0) < pv }
    var prev = f
    var i = 1
    while (i < ss.length) {
      val cur = ss(i)
      val prevP = asMap(prev.pos_idx, prev.pos_counts)
      val prevN = asMap(prev.neg_idx, prev.neg_counts)
      val curP = asMap(cur.pos_idx, cur.pos_counts)
      val curN = asMap(cur.neg_idx, cur.neg_counts)
      val detected = cur.zero_count < prev.zero_count ||
        decreased(prevP, curP) || decreased(prevN, curN)
      val reset = cur.hint match {
        case "counter_reset" => true
        case "not_counter_reset" | "gauge" => false
        case _ => detected
      }
      z += (if (reset) cur.zero_count else cur.zero_count - prev.zero_count)
      cur.pos_idx.zip(cur.pos_counts).foreach { case (k, c) =>
        val d = if (reset) c else c - prevP.getOrElse(k, 0.0)
        p(k) = p.getOrElse(k, 0.0) + d
      }
      cur.neg_idx.zip(cur.neg_counts).foreach { case (k, c) =>
        val d = if (reset) c else c - prevN.getOrElse(k, 0.0)
        n(k) = n.getOrElse(k, 0.0) + d
      }
      prev = cur
      i += 1
    }
    def tSec(e: HistEvent): Long = java.lang.Math.floorDiv(e.ts.getTime, 1000L)
    val pk = p.keys.toSeq.sorted
    val nk = n.keys.toSeq.sorted
    HistRollupWindow(series, windowSec, ss.length.toLong,
      tSec(f), f.zero_count, f.pos_idx, f.pos_counts, f.neg_idx,
      f.neg_counts, f.hint,
      tSec(l), l.zero_count, l.pos_idx, l.pos_counts, l.neg_idx,
      l.neg_counts,
      z, pk, pk.map(p), nk, nk.map(n))
  }

  /** Streaming sink maintaining a [[graft.tsdb.HistRollupStore]]
    * layer: sealed NH windows append into the same bucketed layout
    * the batch writer produces, so
    * [[graft.tsdb.HistRollupStore.select]]/
    * [[graft.tsdb.HistRollupStore.stitchedIncrease]] — and the
    * PromQL front-end's `HistTable.rollups` routing — read a live,
    * continuously-growing NH layer with no rewrite step.
    */
  def toHistRollupLayer(events: Dataset[HistEvent], path: String,
      checkpoint: String, windowLenSec: Long,
      watermarkDelay: String): DataStreamWriter[Row] =
    windowedHistRollup(events, windowLenSec, watermarkDelay).toDF()
      .withColumn("ts", timestamp_seconds(col("window_sec")))
      .withColumn("bucket", graft.tsdb.TsdbConverter.bucketCol("ts", "1 day"))
      .writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("bucket")

  /** Append-mode sink into the converter's bucketed layout. */
  def toBucketedParquet(events: DataFrame, path: String, checkpoint: String) =
    events
      .withColumn("bucket", graft.tsdb.TsdbConverter.bucketCol("ts", "1 day"))
      .writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("bucket")

  /** Streaming ingest into the CHUNKED dual-file layout: each
    * micro-batch becomes its own mini chunked block
    * (`root/batch_<id>`) via [[graft.tsdb.ChunkStore.write]], and
    * background compaction — [[graft.tsdb.ChunkStore.mergeBlocks]]
    * over the accumulated dirs, exactly the reference's vertical
    * compaction — folds them into one block whenever the caller
    * chooses. This is the Prometheus lifecycle re-expressed on
    * Structured Streaming: live ingest appends small head blocks,
    * compaction produces the queryable long-term block; LWW on
    * (series, ts) across batches is inherited from mergeBlocks'
    * later-dir-wins order (sorted by batch id), and the merge moves
    * encoded chunk rows, never samples. Per-micro-batch
    * work is the same bounded groupBy-encode the batch writer runs;
    * no state store is needed because blocks are immutable once
    * written.
    */
  def toChunkedBlocks(events: DataFrame, root: String, checkpoint: String,
      seriesCols: Seq[String], samplesPerChunk: Int = 120)
      : DataStreamWriter[Row] =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty)
          graft.tsdb.ChunkStore.write(batch, f"$root/batch_$id%09d",
            seriesCols, "ts", "value", samplesPerChunk = samplesPerChunk)
      }

  /** Shared micro-batch→mini-block sink for the two histogram chunk
    * families; `writeBatch` is [[graft.tsdb.HistChunkStore.write]] or
    * `writeFloat`, the only point where they differ.
    */
  private def histBlockSink(samples: DataFrame, root: String,
      checkpoint: String,
      writeBatch: (DataFrame, String) => Unit): DataStreamWriter[Row] =
    samples.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) writeBatch(batch, f"$root/batch_$id%09d")
      }

  /** [[toChunkedBlocks]] for NATIVE-HISTOGRAM streams: each
    * micro-batch of histogram samples (`ts`, `zero_count`,
    * `pos_idx`, `pos_counts`, optional `hist_sum`) becomes a mini
    * [[graft.tsdb.HistChunkStore]] block; compaction over the
    * accumulated dirs ([[graft.tsdb.HistChunkStore.mergeBlocks]],
    * later-batch-wins on whole histogram samples) folds them into
    * the queryable long-term block — the EncHistogram half of the
    * Prometheus head-block lifecycle on Structured Streaming.
    */
  def toHistChunkedBlocks(samples: DataFrame, root: String,
      checkpoint: String, seriesCols: Seq[String],
      sumCol: Option[String] = Some("hist_sum"),
      samplesPerChunk: Int = 120): DataStreamWriter[Row] =
    histBlockSink(samples, root, checkpoint, (batch, dir) =>
      graft.tsdb.HistChunkStore.write(batch, dir,
        seriesCols, "ts", "zero_count", "pos_idx", "pos_counts",
        sumCol, samplesPerChunk = samplesPerChunk))

  /** Streaming ingest into BYTE-LEVEL Prometheus TSDB blocks
    * ([[graft.tsdb.block.TsdbBlockStore.write]]): each micro-batch's
    * samples become spec-shaped block dirs (one per `blockDurationMs`
    * window touched by the batch — the live analog of the Prometheus
    * head block cutting on the block boundary). Because a batch's
    * blocks land under content-hashed ULIDs and write() skips
    * already-existing ULIDs, re-delivered batches are idempotent;
    * periodic compaction across the accumulated per-batch blocks is
    * the same `read` → `write` pass at a coarser duration.
    */
  def toTsdbBlocks(samples: DataFrame, root: String, checkpoint: String,
      labelCols: Seq[String], tsCol: String = "ts",
      valueCol: String = "value",
      blockDurationMs: Long = 2 * 3600 * 1000L): DataStreamWriter[Row] =
    samples.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.tsdb.block.TsdbBlockStore.write(batch, root, labelCols,
            tsCol, valueCol, blockDurationMs): Unit
      }

  /** [[toHistChunkedBlocks]] for FLOAT-histogram streams (double
    * zero/bucket counts — the EncFloatHistogram half): mini
    * [[graft.tsdb.HistChunkStore.writeFloat]] blocks per micro-batch,
    * compacted by [[graft.tsdb.HistChunkStore.mergeFloatBlocks]]. */
  def toFloatHistChunkedBlocks(samples: DataFrame, root: String,
      checkpoint: String, seriesCols: Seq[String],
      sumCol: Option[String] = Some("hist_sum"),
      samplesPerChunk: Int = 120): DataStreamWriter[Row] =
    histBlockSink(samples, root, checkpoint, (batch, dir) =>
      graft.tsdb.HistChunkStore.writeFloat(batch, dir,
        seriesCols, "ts", "zero_count", "pos_idx", "pos_counts",
        sumCol, samplesPerChunk = samplesPerChunk))
}
