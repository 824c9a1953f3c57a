package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.QueryConst

/** PromQL-flavoured operators over the long-format series model.
  *
  * The reference is the storage layer beneath a PromQL engine
  * (queryable/parquet_queryable.go feeds Thanos/Cortex evaluators);
  * these are the evaluator-side operations its consumers run,
  * re-expressed as single-shuffle Spark plans: window functions for
  * per-series deltas, time_bucket + groupBy for range aggregation.
  * All are codegen-friendly (built-in functions only, no UDFs).
  */
object PromOps {

  /** Latest sample per series at or before `at` — an instant query.
    * One shuffle (the window partition); ties broken on a total
    * order so results are deterministic.
    */
  def lastPoint(df: DataFrame, seriesCols: Seq[String], tsCol: String,
      tieBreak: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(seriesCols.map(col): _*)
      .orderBy((col(tsCol) +: tieBreak.map(col)).map(_.desc): _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Per-series increase over the full selected range, counter-style:
    * sum of positive deltas between consecutive samples (PromQL
    * `increase` without extrapolation — documented, and mirrored
    * exactly by the DuckDB oracle).
    */
  def increase(df: DataFrame, seriesCols: Seq[String], tsCol: String,
      valueCol: String, tieBreak: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(seriesCols.map(col): _*)
      .orderBy((col(tsCol) +: tieBreak.map(col)): _*)
    df.withColumn("_prev", lag(col(valueCol), 1).over(w))
      .withColumn("_delta",
        when(col("_prev").isNull, lit(0.0))
          .when(col(valueCol) >= col("_prev"), col(valueCol) - col("_prev"))
          .otherwise(col(valueCol))) // counter reset
      .groupBy(seriesCols.map(col): _*)
      .agg(sum("_delta").as("increase"), count(lit(1)).as("samples"))
  }

  /** Per-series rate: counter increase divided by the range width in
    * seconds (PromQL `rate` = increase / range, no extrapolation —
    * the division the reference's PromQL consumers apply on top of
    * Select, queryable/parquet_queryable.go:283).
    */
  def rate(df: DataFrame, seriesCols: Seq[String], tsCol: String,
      valueCol: String, rangeSeconds: Double,
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(rangeSeconds > 0, "rangeSeconds must be positive")
    increase(df, seriesCols, tsCol, valueCol, tieBreak)
      .withColumn("rate", col("increase") / rangeSeconds)
  }

  /** PromQL `rate`/`increase` with Prometheus's PRODUCTION boundary
    * extrapolation (promql `extrapolatedRate`): the raw first-to-last
    * increase is scaled out to the query range's edges, except that a
    * boundary further than 1.1× the average sample spacing is only
    * extended by half a spacing, and a counter is never extrapolated
    * below zero (the start-side extension is capped at the time the
    * counter would reach zero at the observed slope). This is the
    * exact semantics a Prometheus `rate()` call returns in
    * production, where [[rate]] is the documented no-extrapolation
    * variant.
    *
    * Shape: one window shuffle for consecutive deltas, then one
    * partial-aggregating shuffle to series grain; the raw increase
    * accumulates in exact decimal (order-independent on any cluster),
    * and the extrapolation is a fixed sequence of scalar IEEE ops on
    * six per-series aggregates — bit-comparable across engines.
    * Series with <2 samples produce no row, as in Prometheus.
    *
    * Range bounds are epoch ms; rows outside [startMs, endMs) are the
    * caller's to exclude (pass the select's own range).
    */
  def extrapolatedRate(df: DataFrame, seriesCols: Seq[String], tsCol: String,
      valueCol: String, startMs: Long, endMs: Long,
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(endMs > startMs, "range must be non-empty")
    extrapolatedRateAt(df, seriesCols, tsCol, valueCol,
      lit(startMs), lit(endMs), tieBreak)
  }

  /** [[extrapolatedRate]] with PER-GROUP range bounds: `startCol` /
    * `endCol` are epoch-ms expressions over the aggregated output's
    * group keys (`seriesCols`) — the range-query form, where
    * seriesCols include a step column and each step's window is
    * `[step - range, step)`. Same ladder, same op order.
    */
  def extrapolatedRateAt(df: DataFrame, seriesCols: Seq[String], tsCol: String,
      valueCol: String, startCol: Column, endCol: Column,
      tieBreak: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(seriesCols.map(col): _*)
      .orderBy((col(tsCol) +: tieBreak.map(col)): _*)
    val tsMs = unix_millis(col(tsCol).cast("timestamp"))
    val delta = when(col("_prev").isNull, lit(0.0))
      .when(col(valueCol) >= col("_prev"), col(valueCol) - col("_prev"))
      .otherwise(col(valueCol)) // counter reset
    val perSeries = df
      .withColumns(Map("_ts_ms" -> tsMs, "_prev" -> lag(col(valueCol), 1).over(w)))
      .groupBy(seriesCols.map(col): _*)
      .agg(
        sum(delta.cast("decimal(30,8)")).cast("double").as("_inc"),
        min(col("_ts_ms")).as("_first_ms"),
        max(col("_ts_ms")).as("_last_ms"),
        // order the first-sample pick on the FULL-RESOLUTION ts (the
        // window's order), not _ts_ms: two samples inside the same
        // millisecond would otherwise tie here while the lag window
        // (and any oracle ordering on raw ts) separates them
        min(struct(col(tsCol) +: tieBreak.map(col) :+
          col(valueCol).as("_v"): _*)).getField("_v").as("_first_v"),
        count(lit(1)).as("_n"))
    extrapolationLadder(perSeries, seriesCols, startCol, endCol)
  }

  /** Prometheus's production boundary-extrapolation ladder over an
    * already-aggregated per-element frame carrying `_inc` (the
    * reset-aware raw increase), `_first_ms`/`_last_ms` (boundary
    * sample times), `_first_v` and `_n` — exactly the op order of
    * upstream extrapolatedRate (all ms as doubles from here; each
    * step is one IEEE op any engine runs identically). Factored out
    * so ROLLUP-served range vectors ([[RollupStore]]) reuse the
    * identical ladder: every input column is exactly reconstructible
    * from rollup layers, so the routed rate is bitwise the raw rate.
    * An element with fewer than two samples, or with all of them at
    * one instant, has no rate and gives no row.
    */
  def extrapolationLadder(perSeries: DataFrame, seriesCols: Seq[String],
      startCol: Column, endCol: Column): DataFrame = {
    val sampled = (col("_last_ms") - col("_first_ms")).cast("double")
    val avgSpacing = sampled / (col("_n") - 1).cast("double")
    val threshold = avgSpacing * lit(1.1)
    val toStartRaw = (col("_first_ms") - startCol).cast("double")
    val toEnd = (endCol - col("_last_ms")).cast("double")
    // counter guard: never extrapolate below zero on the start side
    val toZero = when(col("_inc") > 0 && col("_first_v") >= 0,
      sampled * (col("_first_v") / col("_inc"))).otherwise(toStartRaw)
    val toStart = least(toZero, toStartRaw)
    val extended = sampled +
      when(toStart < threshold, toStart).otherwise(avgSpacing / 2) +
      when(toEnd < threshold, toEnd).otherwise(avgSpacing / 2)
    val factor = extended / sampled
    perSeries.filter(col("_n") >= 2 && col("_last_ms") > col("_first_ms"))
      .select(seriesCols.map(col) :+
        (col("_inc") * factor).as("increase") :+
        (col("_inc") * factor /
          ((endCol - startCol).cast("double") / lit(1000.0))).as("rate") :+
        col("_n").as("samples"): _*)
  }

  /** PromQL range-query materialization: evaluate the instant vector
    * at every step in [start, end] (inclusive, UTC ISO dates) with a
    * staleness lookback — for each step t, the latest sample per
    * series with `ts <= t < ts + lookback`.
    *
    * Scale shape: each sample is exploded only to the steps it can
    * serve (at most lookback/step of them — a bounded narrow map, no
    * per-step scan, no driver loop), then ONE shuffle keyed
    * (series, step) picks the per-step winner via max(struct(ts,v)).
    * This is the evaluator-side loop the reference's consumers run
    * over Select (queryable/parquet_queryable.go:283), distributed.
    */
  def alignToSteps(df: DataFrame, seriesCols: Seq[String], tsCol: String,
      valueCol: String, startDate: String, endDate: String,
      stepMs: Long, lookbackMs: Long): DataFrame = {
    require(stepMs > 0 && lookbackMs > 0, "stepMs/lookbackMs must be positive")
    def utcMs(d: String): Long =
      java.time.LocalDate.parse(d)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
    val startMs = utcMs(startDate)
    val nSteps = ((utcMs(endDate) - startMs) / stepMs + 1).toInt
    val withIdx = df
      .withColumn("_ts_ms", unix_millis(col(tsCol).cast("timestamp")))
      // integer ceil-divs so the served-step set matches the exact
      // inequality ts <= step < ts + lookback
      .withColumn("_i0", greatest(lit(0L),
        expr(s"(_ts_ms - ${startMs}L + ${stepMs}L - 1) div ${stepMs}L")))
      .withColumn("_i1", least(lit(nSteps - 1L),
        expr(s"(_ts_ms + ${lookbackMs}L - ${startMs}L + ${stepMs}L - 1) div ${stepMs}L - 1")))
      .filter(col("_i0") <= col("_i1"))
      .select((seriesCols.map(col) :+ col("_ts_ms") :+ col(valueCol) :+
        explode(sequence(col("_i0"), col("_i1"))).as("_i")): _*)
    withIdx
      .groupBy((seriesCols.map(col) :+
        (lit(startMs) + col("_i") * stepMs).as("step_ms")): _*)
      // per-step winner = lexicographic max of (ts, value): latest
      // sample, ties on duplicate timestamps broken by max value —
      // the oracle mirrors this exact order (ts DESC, value DESC)
      .agg(max(struct(col("_ts_ms"), col(valueCol))).as("_top"))
      .select((seriesCols.map(col) :+ col("step_ms") :+
        col("_top._ts_ms").as("ts_ms") :+
        col(s"_top.$valueCol").as(valueCol)): _*)
  }

  /** Cross-series aggregation — PromQL `sum/avg/min/max/count by
    * (labels)`: collapse all series sharing the `by` labels at each
    * timestamp-bucket. One shuffle on (by-labels, bucket); map-side
    * partial aggregation keeps the 100 TB shuffle small.
    */
  def aggregateBy(df: DataFrame, by: Seq[String], tsCol: String,
      valueCol: String, window: String): DataFrame =
    df.groupBy((by.map(col) :+ date_trunc(window, col(tsCol)).as("bucket")): _*)
      .agg(
        sum(col(valueCol)).as("sum_value"),
        min(col(valueCol)).as("min_value"),
        max(col(valueCol)).as("max_value"),
        count(lit(1)).as("n_series_samples"))

  /** Cross-series DISTRIBUTIONAL aggregation — PromQL `quantile by`,
    * `avg by`, `stddev by (labels)` at each time bucket: the exact
    * interpolated q-quantile across the series sharing the `by`
    * labels, the exact-decimal mean, and the population stddev via
    * the same order-independent closed form as
    * [[stdvarOverTime]] ((nΣy² − (Σy)²)/n²). One partial-aggregating
    * shuffle keyed (labels, bucket); `percentile` merges per-
    * partition state, the decimal sums are exact — results identical
    * on any cluster size and bit-comparable across engines.
    *
    * Decimal widths bound the group size at 10⁶ samples per
    * (labels, bucket) cell and |v| ≤ ~10⁵ in the variance term —
    * beyond that the exact closed form overflows LOUDLY under ANSI
    * rather than drifting silently (the same contract as
    * [[regression]]); choose a finer bucket for denser streams.
    */
  def aggregateDistBy(df: DataFrame, by: Seq[String], tsCol: String,
      valueCol: String, window: String, q: Double): DataFrame = {
    require(q >= 0.0 && q <= 1.0, s"quantile must be in [0,1], got $q")
    val y = col(valueCol).cast("decimal(18,8)")
    df.groupBy((by.map(col) :+ date_trunc(window, col(tsCol)).as("bucket")): _*)
      .agg(
        percentile(col(valueCol), lit(q)).as("quantile"),
        count(lit(1)).cast("decimal(6,0)").as("_n"),
        sum(y).cast("decimal(16,8)").as("_sy"),
        sum((y * y).cast("decimal(30,16)")).cast("decimal(31,16)").as("_syy"),
        sum(col(valueCol).cast("decimal(30,8)")).cast("double").as("_sv"),
        count(lit(1)).as("n_samples"))
      .withColumn("_num", (col("_n") * col("_syy") -
        col("_sy") * col("_sy")).cast("decimal(36,16)"))
      .select(by.map(col) :+ col("bucket") :+ col("quantile") :+
        (col("_sv") / col("n_samples")).as("avg_value") :+
        sqrt(col("_num").cast("double") /
          (col("_n") * col("_n")).cast("double")).as("stddev_value") :+
        col("n_samples"): _*)
  }

  /** Per-series count of counter resets (PromQL `resets`): samples
    * strictly below their predecessor.
    */
  def resets(df: DataFrame, seriesCols: Seq[String], tsCol: String,
      valueCol: String, tieBreak: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(seriesCols.map(col): _*)
      .orderBy((col(tsCol) +: tieBreak.map(col)): _*)
    df.withColumn("_prev", lag(col(valueCol), 1).over(w))
      .groupBy(seriesCols.map(col): _*)
      .agg(sum(when(col(valueCol) < col("_prev"), 1).otherwise(0))
        .cast("long").as("resets"))
  }

  /** Per-series gauge delta (PromQL `delta`, no extrapolation):
    * last value minus first value over the selected range.
    */
  def delta(df: DataFrame, seriesCols: Seq[String], tsCol: String,
      valueCol: String, tieBreak: Seq[String] = Nil): DataFrame = {
    val order = (col(tsCol) +: tieBreak.map(col))
    val w = Window.partitionBy(seriesCols.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    df.withColumn("_first", first(col(valueCol)).over(w))
      .withColumn("_last", last(col(valueCol)).over(w))
      .groupBy(seriesCols.map(col): _*)
      .agg(max(col("_last") - col("_first")).as("delta"))
  }

  /** PromQL `count_values by (labels)`: how many samples carry each
    * exact value within each group — one partial-aggregating shuffle
    * keyed (labels, value).
    */
  def countValues(df: DataFrame, by: Seq[String], valueCol: String): DataFrame =
    df.groupBy((by.map(col) :+ col(valueCol)): _*)
      .agg(count(lit(1)).as("n_samples"))

  /** Downsample to fixed windows: per-series per-bucket aggregates
    * (avg/max/count) — the `*_over_time` family over aligned steps.
    * The average is an exact decimal sum divided once — independent
    * of partition/accumulation order, so results are identical on
    * any cluster size (and bitwise-comparable across engines).
    */
  def downsample(df: DataFrame, seriesCols: Seq[String], tsCol: String,
      valueCol: String, window: String): DataFrame =
    df.groupBy((seriesCols.map(col) :+
        date_trunc(window, col(tsCol)).as("bucket")): _*)
      .agg(
        (sum(col(valueCol).cast("decimal(30,8)")).cast("double") /
          count(lit(1))).as("avg_value"),
        max(col(valueCol)).as("max_value"),
        count(lit(1)).as("n_samples"))

  /** PromQL `quantile_over_time(q, ...)`: per-series exact
    * q-quantile of the value over the selected range, with linear
    * interpolation between order statistics (the continuous-quantile
    * definition both Spark's `percentile` and DuckDB's
    * `quantile_cont` implement). One shuffle to series grain —
    * `percentile` partial-aggregates per partition and merges, the
    * same distributed shape as the other `*_over_time` aggregates.
    */
  def quantileOverTime(df: DataFrame, seriesCols: Seq[String],
      valueCol: String, q: Double): DataFrame = {
    require(q >= 0.0 && q <= 1.0, s"quantile must be in [0,1], got $q")
    df.groupBy(seriesCols.map(col): _*)
      .agg(percentile(col(valueCol), lit(q)).as("quantile"),
        count(lit(1)).as("samples"))
  }

  /** PromQL binary arithmetic between two instant vectors with
    * `on(labels)` one-to-one matching: inner join on the match
    * labels, `op` applied to the two values. Callers supply vectors
    * already at `on`-label grain (as PromQL requires — aggregate
    * first), so the join is one-to-one by construction; unmatched
    * series drop, exactly PromQL's vector-matching semantics. The
    * join keys on the match labels — corpus-cardinality, hash
    * shuffle both sides (or broadcast when one side is small, left
    * to AQE).
    */
  def binaryOp(left: DataFrame, right: DataFrame, on: Seq[String],
      valueCol: String, op: (Column, Column) => Column,
      outCol: String = "value"): DataFrame =
    left.select(on.map(col) :+ col(valueCol).as("_lv"): _*)
      .join(right.select(on.map(col) :+ col(valueCol).as("_rv"): _*), on)
      .select(on.map(col) :+ op(col("_lv"), col("_rv")).as(outCol): _*)

  /** PromQL many-to-one vector matching: `left op on(on) group_left
    * (carry...) right`. The right vector is the "one" side (an info
    * metric); each of its series may match many left series, and its
    * `carry` labels ride along onto the result — the
    * relabel-by-join idiom (`metric * on(instance) group_left(role)
    * machine_info`). PromQL rejects a right side that is not unique
    * per `on`-label set; that check runs DISTRIBUTED on the right
    * side (a windowed count + raise_error), so a bad info vector
    * fails loudly instead of silently fanning out the join.
    *
    * Shape at scale: the check windows only the right side — the
    * small "one" vector — and the join keys on the `on` labels;
    * Catalyst broadcasts the small side (PlanAudit-asserted for the
    * gate query), so the big left vector never shuffles.
    */
  def binaryOpGroupLeft(left: DataFrame, right: DataFrame, on: Seq[String],
      carry: Seq[String], valueCol: String, op: (Column, Column) => Column,
      outCol: String = "value"): DataFrame = {
    val w = Window.partitionBy(on.map(col): _*)
    val checked = right
      .withColumn("_card", count(lit(1)).over(w))
      .withColumn("_rv", when(col("_card") > 1,
          raise_error(concat(lit("group_left: right vector not unique on("),
            concat_ws(",", on.map(col): _*), lit(")"))))
        .otherwise(col(valueCol)))
      .select((on ++ carry).map(col) :+ col("_rv"): _*)
    // the result keeps the LEFT side's full label set (PromQL
    // many-to-one semantics) plus the carried right labels
    val leftLabels = left.columns.filterNot(_ == valueCol).toSeq
    left.withColumnRenamed(valueCol, "_lv")
      .join(checked, on)
      .select((leftLabels ++ carry).map(col) :+
        op(col("_lv"), col("_rv")).as(outCol): _*)
  }

  /** PromQL `histogram_quantile(q, ...)` over classic le-bucketed
    * CUMULATIVE histograms — the most-used PromQL function over the
    * data the reference stores (its `le`-labelled bucket series;
    * Prometheus promql/quantile.go bucketQuantile semantics). Input
    * is already at (labels, le) grain with `cntCol` the cumulative
    * count at each upper bound `leCol` (a +Inf row required, as in
    * Prometheus). Per label-group: rank = q·total (total = the +Inf
    * count = max cumulative), pick the first bucket whose cumulative
    * count reaches rank, linearly interpolate inside it. Prometheus
    * edge cases preserved: the +Inf bucket answers with the highest
    * finite upper bound; a first bucket with le <= 0 answers with
    * its own bound (no interpolatable lower edge below zero).
    *
    * Shape at scale: buckets are series-cardinality × bucket-count —
    * tiny relative to samples — so this is one window shuffle over
    * the per-group bucket lists plus a filter; the heavy cumulative
    * counting happened in the aggregation that produced the buckets
    * (map-side partial, sample rows never shuffle).
    */
  def histogramQuantile(buckets: DataFrame, labelCols: Seq[String], q: Double,
      leCol: String = "le", cntCol: String = "cnt",
      outCol: String = "quantile"): DataFrame = {
    require(q >= 0.0 && q <= 1.0, s"quantile must be in [0,1], got $q")
    val part = Window.partitionBy(labelCols.map(col): _*)
    val byLe = part.orderBy(col(leCol))
    val inf = lit(Double.PositiveInfinity)
    val prevLe = coalesce(col("_prev_le"), lit(0.0))
    val prevCnt = coalesce(col("_prev_cnt"), lit(0.0))
    buckets
      .withColumn("_prev_le", lag(col(leCol), 1).over(byLe))
      .withColumn("_prev_cnt", lag(col(cntCol), 1).over(byLe))
      .withColumn("_total", max(col(cntCol)).over(part))
      .withColumn("_max_finite",
        max(when(col(leCol) =!= inf, col(leCol))).over(part))
      .withColumn("_rank", lit(q) * col("_total"))
      // first bucket whose cumulative count reaches the rank
      .filter(col(cntCol) >= col("_rank") &&
        (col("_prev_cnt").isNull || col("_prev_cnt") < col("_rank")))
      .select(labelCols.map(col) :+
        when(col(leCol) === inf, col("_max_finite"))
          .when(col("_prev_le").isNull && col(leCol) <= 0, col(leCol))
          // zero observations → the covering bucket is the empty first
          // bucket and the interpolation is 0/0: Prometheus answers NaN
          // (ANSI mode would otherwise raise DIVIDE_BY_ZERO here)
          .when(col(cntCol) === prevCnt, lit(Double.NaN))
          .otherwise(prevLe + (col(leCol) - prevLe) *
            (col("_rank") - prevCnt) / (col(cntCol) - prevCnt))
          .as(outCol): _*)
  }

  /** PromQL `topk(k, ... ) by (group labels)`: the k series with the
    * largest range-sum of the value within each group. One partial-
    * aggregating shuffle to series grain, then a WindowGroupLimit-
    * able rank over the (small) per-group series set. Total-order
    * tiebreak on the series key keeps results engine-deterministic.
    */
  def topKSeries(df: DataFrame, groupCols: Seq[String],
      seriesCols: Seq[String], valueCol: String, k: Int): DataFrame =
    rankSeries(df, groupCols, seriesCols, valueCol, k, largest = true)

  /** PromQL `bottomk(k, ...) by (group labels)`: the k series with
    * the SMALLEST range-sum — same single-shuffle WindowGroupLimit
    * shape as [[topKSeries]], ascending order.
    */
  def bottomKSeries(df: DataFrame, groupCols: Seq[String],
      seriesCols: Seq[String], valueCol: String, k: Int): DataFrame =
    rankSeries(df, groupCols, seriesCols, valueCol, k, largest = false)

  private def rankSeries(df: DataFrame, groupCols: Seq[String],
      seriesCols: Seq[String], valueCol: String, k: Int,
      largest: Boolean): DataFrame = {
    require(k > 0, "k must be positive")
    val perSeries = df.groupBy((groupCols ++ seriesCols).map(col): _*)
      .agg(sum(col(valueCol).cast("decimal(30,8)")).cast("double")
        .as("sum_value"))
    val ord = if (largest) col("sum_value").desc else col("sum_value").asc
    if (groupCols.isEmpty) {
      // GLOBAL top-k: orderBy + limit plans TakeOrderedAndProject —
      // map-side partial top-k, only k rows move — instead of a
      // single-partition WindowExec over every series. Rank is then
      // recomputed among the k survivors with a tiny k-row broadcast
      // peer count (rank = #peers at-or-before in the total order),
      // so no "No Partition Defined" window ever appears.
      val top = perSeries.orderBy(ord +: seriesCols.map(col): _*).limit(k)
      // struct asc ordering == (ord, seriesCols...) ranking order.
      // A bare negated value would misplace the two values negation
      // can't flip: NULL (asc-first in a struct field, but desc sorts
      // it last) and NaN (sorts largest in BOTH directions), so both
      // get explicit flag fields mirroring the orderBy's placement
      // (desc: NaN first, null last; asc: null first, NaN last).
      val sv = col("sum_value")
      val key =
        if (largest)
          struct(sv.isNull.as("_null") +: (!isnan(sv)).as("_nan") +:
            (-sv).as("_o") +: seriesCols.map(col): _*)
        else
          struct(sv.isNotNull.as("_null") +: isnan(sv).as("_nan") +:
            sv.as("_o") +: seriesCols.map(col): _*)
      val keyed = top.withColumn("_key", key)
      keyed.join(broadcast(keyed.select(col("_key").as("_peer"))),
          col("_peer") <= col("_key"))
        .groupBy((seriesCols.map(col) :+ col("sum_value")): _*)
        .agg(count(lit(1)).cast("long").as("rank"))
        .select((seriesCols.map(col) :+ col("sum_value") :+ col("rank")): _*)
    } else {
      val w = Window.partitionBy(groupCols.map(col): _*)
        .orderBy(ord +: seriesCols.map(col): _*)
      perSeries.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
    }
  }

  /** PromQL `changes`: per-series count of consecutive-sample value
    * changes over the selected range. Same one-window-shuffle shape
    * as [[resets]]; exact integer output, engine-deterministic.
    */
  def changes(df: DataFrame, seriesCols: Seq[String], tsCol: String,
      valueCol: String, tieBreak: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(seriesCols.map(col): _*)
      .orderBy((col(tsCol) +: tieBreak.map(col)): _*)
    df.withColumn("_prev", lag(col(valueCol), 1).over(w))
      .groupBy(seriesCols.map(col): _*)
      .agg(sum(when(col("_prev").isNotNull &&
          col(valueCol) =!= col("_prev"), 1).otherwise(0))
        .cast("long").as("changes"))
  }

  /** PromQL `irate`: instantaneous per-second rate from the LAST TWO
    * samples of each series (counter semantics — a reset restarts
    * from the newer value). Series with fewer than two samples, or a
    * zero time step, produce no row — as in Prometheus. One window
    * shuffle; the division is a single IEEE op on two samples, so the
    * result is bit-identical on any cluster size.
    */
  def irate(df: DataFrame, seriesCols: Seq[String], tsCol: String,
      valueCol: String, tieBreak: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(seriesCols.map(col): _*)
      .orderBy((col(tsCol) +: tieBreak.map(col)).map(_.desc): _*)
    df.withColumn("_rn", row_number().over(w))
      .withColumn("_pv", lead(col(valueCol), 1).over(w))
      .withColumn("_pt", lead(unix_millis(col(tsCol).cast("timestamp")), 1).over(w))
      .filter(col("_rn") === 1 && col("_pv").isNotNull)
      .withColumn("_dt_ms", unix_millis(col(tsCol).cast("timestamp")) - col("_pt"))
      .filter(col("_dt_ms") > 0)
      .select(seriesCols.map(col) :+
        (when(col(valueCol) >= col("_pv"), col(valueCol) - col("_pv"))
          .otherwise(col(valueCol)) / (col("_dt_ms") / lit(1000.0)))
          .as("irate"): _*)
  }

  /** PromQL `idelta`: difference of each series' LAST TWO samples
    * (gauge semantics — no counter-reset handling, unlike [[irate]]).
    * Series with fewer than two samples produce no row. Same one-
    * window-shuffle shape as [[irate]].
    */
  def idelta(df: DataFrame, seriesCols: Seq[String], tsCol: String,
      valueCol: String, tieBreak: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(seriesCols.map(col): _*)
      .orderBy((col(tsCol) +: tieBreak.map(col)).map(_.desc): _*)
    df.withColumn("_rn", row_number().over(w))
      .withColumn("_pv", lead(col(valueCol), 1).over(w))
      .filter(col("_rn") === 1 && col("_pv").isNotNull)
      .select(seriesCols.map(col) :+
        (col(valueCol) - col("_pv")).as("idelta"): _*)
  }

  /** Shared per-series simple-linear-regression sums for [[deriv]] /
    * [[predictLinear]] (PromQL's least-squares over (t, v)).
    *
    * Every accumulation is an EXACT decimal sum — x is integer
    * milliseconds since `originMs`, v is quantized at 1e-8 — so the
    * slope/intercept are order-independent: identical on 1 or 1000
    * executors, and bit-identical to an oracle replaying the same
    * closed form. Decimal widths are sized for x ≤ ~10^10 ms
    * (~4 months of range) and |v| ≤ 10^9; one partial-aggregating
    * shuffle to series grain, sample rows never move twice.
    *
    * `originMs` must be within ~31 years of every sample (x is
    * DECIMAL(12,0) ms) — pass the selected range's start; an origin
    * outside the window fails loudly under ANSI rather than losing
    * precision silently. It is a bound constant ([[QueryConst]]): it
    * moves with the window, and no scan pushes it.
    */
  private def regression(df: DataFrame, seriesCols: Seq[String],
      tsCol: String, valueCol: String, originMs: Long): DataFrame = {
    val x = (unix_millis(col(tsCol).cast("timestamp")) - QueryConst.long(originMs))
      .cast("decimal(12,0)")
    val y = col(valueCol).cast("decimal(18,8)")
    val sums = df
      .select((seriesCols.map(col) :+ x.as("_x") :+ y.as("_y")): _*)
      .groupBy(seriesCols.map(col): _*)
      .agg(
        count(lit(1)).cast("decimal(6,0)").as("_n"),
        sum(col("_x")).cast("decimal(16,0)").as("_sx"),
        sum(col("_y")).cast("decimal(21,8)").as("_sy"),
        sum((col("_x") * col("_y")).cast("decimal(31,8)"))
          .cast("decimal(31,8)").as("_sxy"),
        sum((col("_x") * col("_x")).cast("decimal(25,0)"))
          .cast("decimal(27,0)").as("_sxx"))
    // den = n·Σx² − (Σx)² is 0 iff all samples share one timestamp;
    // Prometheus emits nothing for such series (and for n < 2)
    sums
      .withColumn("_den", (col("_n") * col("_sxx") -
        col("_sx") * col("_sx")).cast("decimal(35,0)"))
      .filter(col("_n") >= 2 && col("_den") =!= 0)
      .withColumn("_num", (col("_n") * col("_sxy") -
        col("_sx") * col("_sy")).cast("decimal(36,8)"))
      // exact-decimal → double once, then pure IEEE arithmetic:
      // slope in value/ms; intercept at x = originMs
      .withColumn("_slope_ms",
        col("_num").cast("double") / col("_den").cast("double"))
      .withColumn("_intercept",
        (col("_sy").cast("double") -
          col("_slope_ms") * col("_sx").cast("double")) /
          col("_n").cast("double"))
  }

  /** PromQL `deriv`: per-series least-squares slope of the value
    * over time, in value/second.
    */
  def deriv(df: DataFrame, seriesCols: Seq[String], tsCol: String,
      valueCol: String, originMs: Long): DataFrame =
    regression(df, seriesCols, tsCol, valueCol, originMs)
      .select(seriesCols.map(col) :+
        (col("_slope_ms") * lit(1000.0)).as("deriv"): _*)

  /** PromQL `predict_linear(v[range], t)`: extrapolate the per-series
    * least-squares line to `evalMs + horizonMs` (epoch ms).
    */
  def predictLinear(df: DataFrame, seriesCols: Seq[String], tsCol: String,
      valueCol: String, evalMs: Long, horizonMs: Long,
      originMs: Long): DataFrame =
    predictLinearAt(df, seriesCols, tsCol, valueCol,
      lit(evalMs), horizonMs, originMs)

  /** [[predictLinear]] with a PER-GROUP evaluation time: `evalCol` is
    * an epoch-ms expression over the aggregated output's group keys
    * (`seriesCols`) — the range-query form, where seriesCols include
    * a step column and each step predicts from its own eval time.
    */
  def predictLinearAt(df: DataFrame, seriesCols: Seq[String], tsCol: String,
      valueCol: String, evalCol: Column, horizonMs: Long,
      originMs: Long): DataFrame =
    regression(df, seriesCols, tsCol, valueCol, originMs)
      .select(seriesCols.map(col) :+
        (col("_intercept") + col("_slope_ms") *
          (evalCol + lit(horizonMs) - QueryConst.long(originMs)).cast("double"))
          .as("predicted"): _*)

  /** PromQL `stdvar_over_time` / `stddev_over_time`: per-series
    * POPULATION variance and standard deviation. Computed as
    * (n·Σv² − (Σv)²) / n² over exact decimal sums (v quantized at
    * 1e-8), so the variance is order-independent and the only
    * floating-point steps are one cast and one sqrt — identical on
    * any cluster size and bit-comparable across engines.
    */
  def stdvarOverTime(df: DataFrame, seriesCols: Seq[String],
      valueCol: String): DataFrame = {
    val y = col(valueCol).cast("decimal(18,8)")
    df.select((seriesCols.map(col) :+ y.as("_y")): _*)
      .groupBy(seriesCols.map(col): _*)
      .agg(
        count(lit(1)).cast("decimal(6,0)").as("_n"),
        sum(col("_y")).cast("decimal(16,8)").as("_sy"),
        sum((col("_y") * col("_y")).cast("decimal(30,16)"))
          .cast("decimal(31,16)").as("_syy"))
      .withColumn("_num", (col("_n") * col("_syy") -
        col("_sy") * col("_sy")).cast("decimal(36,16)"))
      .select(seriesCols.map(col) :+
        (col("_num").cast("double") /
          (col("_n") * col("_n")).cast("double")).as("stdvar") :+
        sqrt(col("_num").cast("double") /
          (col("_n") * col("_n")).cast("double")).as("stddev") :+
        col("_n").cast("long").as("samples"): _*)
  }

  /** PromQL `double_exponential_smoothing(v[range], sf, tf)` (named
    * `holt_winters` before Prometheus v3) — Holt's linear method:
    * s₁ = sf·y₁ + (1−sf)·(y₀ + b₀) with b₀ = y₁ − y₀, then for i ≥ 2
    * bᵢ₋₁ = tf·(sᵢ₋₁ − sᵢ₋₂) + (1−tf)·bᵢ₋₂ and
    * sᵢ = sf·yᵢ + (1−sf)·(sᵢ₋₁ + bᵢ₋₁); the result is the final
    * level. This is inherently a sequential recurrence per series:
    * evaluated as ONE shuffle to series grain (collect_list partial-
    * aggregates map-side), then a per-row sort + linear fold via the
    * `aggregate` higher-order function — no UDF, no driver loop.
    * Per-series sample counts are range/scrape-interval quotients
    * (bounded small in any real PromQL window); series cardinality
    * is the axis that scales, and that is the distributed one.
    * Series with <2 samples drop, as in Prometheus. The fold's IEEE
    * op sequence is fixed, so results are deterministic on any
    * cluster size and replayable by an oracle running the same
    * recurrence.
    */
  def doubleExponentialSmoothing(df: DataFrame, seriesCols: Seq[String],
      tsCol: String, valueCol: String, sf: Double, tf: Double,
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(sf > 0 && sf < 1 && tf > 0 && tf < 1,
      s"smoothing/trend factors must be in (0,1), got sf=$sf tf=$tf")
    val sample = struct((col(tsCol) +: tieBreak.map(col) :+
      col(valueCol).as("_v")): _*)
    val y0 = element_at(col("_s"), 1).getField("_v")
    val y1 = element_at(col("_s"), 2).getField("_v")
    df.groupBy(seriesCols.map(col): _*)
      .agg(sort_array(collect_list(sample)).as("_s"),
        count(lit(1)).as("samples"))
      .filter(col("samples") >= 2)
      .withColumn("_acc",
        aggregate(
          slice(col("_s"), lit(3),
            greatest(col("samples") - 2, lit(0L)).cast("int")),
          struct(y0.as("s0"),
            (lit(sf) * y1 + lit(1 - sf) * (y0 + (y1 - y0))).as("s1"),
            (y1 - y0).as("b")),
          (acc, e) => {
            val bNew = lit(tf) * (acc.getField("s1") - acc.getField("s0")) +
              lit(1 - tf) * acc.getField("b")
            struct(acc.getField("s1").as("s0"),
              (lit(sf) * e.getField("_v") +
                lit(1 - sf) * (acc.getField("s1") + bNew)).as("s1"),
              bNew.as("b"))
          }))
      .select(seriesCols.map(col) :+
        col("_acc.s1").as("smoothed") :+ col("samples"): _*)
  }

  /** PromQL `label_replace(v, dst, "$1", src, regex)` restricted to
    * a single capture group: sets `dst` to the first group of the
    * FULLY-ANCHORED regex when it matches `src`, else leaves the
    * series' dst untouched (null when absent — the open-label-set
    * convention LabelSchema uses for missing labels). A narrow
    * per-row projection: no shuffle, codegen'd regexp.
    */
  def labelReplace(df: DataFrame, dst: String, src: String,
      regex: String): DataFrame = {
    val anchored = s"^(?:$regex)$$"
    val existing = if (df.columns.contains(dst)) col(dst)
      else lit(null).cast("string")
    df.withColumn(dst, when(col(src).rlike(anchored),
      regexp_extract(col(src), anchored, 1)).otherwise(existing))
  }

  /** PromQL `label_join(v, dst, sep, src...)`: `dst` becomes the
    * `sep`-joined values of the source labels. Absent labels join as
    * empty strings (Prometheus semantics — NOT concat_ws, which
    * silently skips nulls). A narrow codegen'd projection.
    */
  def labelJoin(df: DataFrame, dst: String, sep: String,
      srcs: Seq[String]): DataFrame = {
    require(srcs.nonEmpty, "label_join needs at least one source label")
    val parts = srcs.map(s => coalesce(col(s).cast("string"), lit("")))
    val joined = parts.reduce((a, b) => concat(a, lit(sep), b))
    df.withColumn(dst, joined)
  }

  /** PromQL `absent`: one row (value 1.0) when the selection matched
    * no series, empty otherwise. The global count partial-aggregates
    * map-side — at 100 TB this is a scan-and-count, no data movement.
    */
  def absent(df: DataFrame): DataFrame =
    df.groupBy().agg(count(lit(1)).as("_n"))
      .filter(col("_n") === 0)
      .select(lit(1.0).as("value"))

  /** PromQL `and` between instant vectors, matched `on(on)`: the
    * elements of `left` whose match-label set also appears in
    * `right`. A LEFT SEMI join — the right side's values never
    * materialize and duplicates on the right cannot fan out the
    * left. The join keys on the match labels (corpus-cardinality
    * hash shuffle, or a broadcast when the right vector is small —
    * left to AQE).
    */
  def vectorAnd(left: DataFrame, right: DataFrame, on: Seq[String]): DataFrame =
    left.join(right.select(on.map(col): _*), on, "left_semi")

  /** PromQL `unless` between instant vectors, matched `on(on)`: the
    * elements of `left` whose match-label set appears nowhere in
    * `right` — the complement of [[vectorAnd]], as a LEFT ANTI join.
    */
  def vectorUnless(left: DataFrame, right: DataFrame, on: Seq[String]): DataFrame =
    left.join(right.select(on.map(col): _*), on, "left_anti")

  /** PromQL `or` between instant vectors, matched `on(on)`: all of
    * `left`, plus the elements of `right` whose match-label set
    * matches nothing in `left` (PromQL's left-biased union). The
    * right side anti-joins against the left's label sets; both
    * inputs must share the result schema.
    */
  def vectorOr(left: DataFrame, right: DataFrame, on: Seq[String]): DataFrame =
    left.unionByName(
      right.join(left.select(on.map(col): _*), on, "left_anti"))

  /** PromQL `absent_over_time(sel[window])` / `present_over_time`
    * evaluated over a step grid: for each step `t` in
    * `[startSec, endSec]` at `stepSec` spacing, how many samples of
    * the selection fall in the range-vector window `(t-window, t]`,
    * and the absent flag (1 when none — what `absent_over_time`
    * returns; `present_over_time` is the complement).
    *
    * Shape at scale: each sample is mapped to the step indexes whose
    * window covers it (a bounded `sequence` explode of
    * window/step ≈ constant entries per sample — never a per-step
    * re-scan of the selection and never a range join), then ONE hash
    * aggregation on the step index; the step grid itself is built
    * map-side from a single-row `sequence` and left-joins the
    * covered counts (broadcast — the grid is tiny relative to the
    * data). At 100 TB: one corpus shuffle at grid cardinality.
    */
  def absentOverTime(df: DataFrame, tsCol: String,
      startSec: Long, endSec: Long, stepSec: Long,
      windowSec: Long): DataFrame = {
    require(stepSec > 0 && windowSec > 0 && endSec >= startSec,
      "absentOverTime: need step > 0, window > 0, end >= start")
    // sample at epoch x covers step t iff t-window < x <= t, i.e.
    // t in [x, x+window); restricted to the grid: k in
    // [ceil((x-start)/step), ceil((x+window-start)/step) - 1]
    val x = unix_timestamp(col(tsCol))
    val kLo = greatest(ceil((x - startSec).cast("double") / stepSec)
      .cast("long"), lit(0L))
    val kHi = least(
      ceil((x + windowSec - startSec).cast("double") / stepSec)
        .cast("long") - 1L,
      lit((endSec - startSec) / stepSec))
    val covered = df
      .filter(x > startSec - windowSec && x <= endSec)
      // sequence(a, b) with b < a DESCENDS in Spark — a sample whose
      // window straddles no grid step must contribute nothing
      .filter(kHi >= kLo)
      .select(explode(sequence(kLo, kHi)).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n_samples"))
    val spark = df.sparkSession
    val grid = spark.range(1).select(
        explode(sequence(lit(0L), lit((endSec - startSec) / stepSec)))
          .as("k"))
      .select(col("k"), (lit(startSec) + col("k") * stepSec).as("step_sec"))
    grid.join(covered, Seq("k"), "left")
      .select(col("step_sec"),
        coalesce(col("n_samples"), lit(0L)).as("n_samples"),
        when(coalesce(col("n_samples"), lit(0L)) === 0, lit(1.0))
          .otherwise(lit(0.0)).as("absent"))
  }

  /** PromQL `clamp(v, min, max)` as a codegen'd scalar column. */
  def clamp(c: Column, lo: Double, hi: Double): Column =
    greatest(least(c, lit(hi)), lit(lo))
}
