package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tsdb.{QuantileSketchStore, RollupStore}

import Shared._
import BlockShardQueries.tsdbBlock

/** Materialized rollup layers and the HLL and quantile sketch layers,
  * read directly and routed through the PromQL front-end.
  */
private[graft] object RollupSketchQueries extends QueryFamily {

  private val labelSketches: Fixture = fixture("labelsk") { (s, dir) =>
    graft.tsdb.LabelIndexStore.writeSketches(t(s, dir, "events"),
      labelSketches.path(dir), Seq("event_type", "user_id"), "ts")
  }

  /** Approximate cardinality from the HLL SKETCH LAYER
    * ([[tsdb.LabelIndexStore.writeSketches]]): per (bucket, label)
    * DataSketches registers stored once at write time, UNIONED at
    * query time — buckets × labels fixed-size rows, never a value
    * scan, the shape that survives a billion-value `user_id` at
    * 100 TB where even the pair index is value-cardinality-sized.
    * This is a CONTRACT gate (the sketch-op convention, mechanically
    * hash-gated): the output is the per-label boolean
    * |approx − exact| ≤ 5 % · exact at lgK = 14 (RSE ≈ 0.81 %, so
    * 5 % is ≈ 6σ) and the oracle states the contract holds for every
    * label; [[LabelIndexSpec]] additionally pins the union-of-bucket
    * registers ≡ one whole-table sketch (HLL state is a function of
    * the value SET) and sparse-mode exactness on a crafted fixture.
    */
  private def tsLabelCardinalitySketch(s: SparkSession, dir: String): DataFrame = {
    val p = labelSketches(s, dir)
    val q = queryable(s, dir)
      .withLabelSketches(graft.tsdb.LabelIndexStore.readSketches(s, p))
    val approx = q.labelCardinality(exact = false)
      .withColumnRenamed("cardinality", "approx")
    val exactCard = q.labelCardinality()
      .withColumnRenamed("cardinality", "exact")
    approx.join(exactCard, Seq("label_name"))
      .select(col("label_name"),
        (abs(col("approx") - col("exact")) <=
          lit(0.05) * col("exact")).as("within_5pct"))
      .orderBy("label_name")
  }
  // CONTRACT gate (sketch-op convention): the engine output is the
  // per-label boolean |approx − exact| ≤ 5%·exact from the HLL
  // sketch layer at lgK=14 (≈6σ); the oracle states the contract —
  // a hash mismatch means a sketch regression past the bound
  query("ts_label_cardinality_sketch", tsLabelCardinalitySketch,
    """SELECT label_name, TRUE AS within_5pct FROM (
      |  SELECT 'event_type' AS label_name
      |  UNION ALL SELECT 'user_id')
      |ORDER BY label_name""".stripMargin)

  private val quantileSketches: Fixture = fixture("qsketch") { (s, dir) =>
    QuantileSketchStore.write(t(s, dir, "events"), quantileSketches.path(dir),
      Seq("event_type"), "ts", "value", 86400000L, relativeError = 0.01)
  }

  /** Approximate `quantile_over_time` from the QUANTILE SKETCH LAYER
    * ([[tsdb.QuantileSketchStore]]): per (series, day) one
    * Greenwald–Khanna summary, merged across the 20-day range, one
    * query — the 100 TB p90-dashboard shape (windows-in-range sketch
    * blobs instead of raw samples; exact quantiles are order
    * statistics no moment column can serve, which is why the rollup
    * router leaves `quantile_over_time` raw by design and this layer
    * is an EXPLICIT API). CONTRACT gate (the sketch-op convention):
    * GK guarantees the returned value's rank is within ±ε·n of q·n —
    * the output is the per-series boolean of that rank test at a 2ε
    * margin (merge order varies across partitions, so the VALUE is
    * not run-stable; the CONTRACT is), and the oracle states it
    * holds. [[QuantileSketchSpec]] pins the codec, the merge bound,
    * and NaN skipping.
    */
  private def tsQuantileSketch(s: SparkSession, dir: String): DataFrame = {
    val p = quantileSketches(s, dir)
    val q = 0.9
    val eps = 0.02 // 2× the build ε — the documented merge margin
    val mint = 1704412800000L // [Jan 5, Jan 25)
    val maxt = 1706140800000L
    val approx = QuantileSketchStore.quantileOverTime(s, p,
        Seq("event_type"), q, mint, maxt)
      .withColumnRenamed("value", "qv")
    val raw = t(s, dir, "events")
      .filter(col("ts") >= timestamp_millis(lit(mint)) &&
        col("ts") < timestamp_millis(lit(maxt)))
      .select(col("event_type"), col("value"))
    raw.join(broadcast(approx), Seq("event_type"))
      .groupBy(col("event_type"), col("qv"))
      .agg(count(lit(1)).as("_n"),
        sum(when(col("value") <= col("qv"), 1L).otherwise(0L)).as("_le"),
        sum(when(col("value") < col("qv"), 1L).otherwise(0L)).as("_lt"))
      .select(col("event_type"),
        (col("_le") >= floor((lit(q) - eps) * col("_n")) &&
          col("_lt") <= ceil((lit(q) + eps) * col("_n")))
          .as("rank_within_2pct"))
      .orderBy("event_type")
  }
  // CONTRACT gate (sketch-op convention): the engine output is the
  // per-series boolean that the GK-sketch p90's RANK lies within
  // ±2ε·n of 0.9·n over the same 20-day range; the oracle states
  // the contract — a mismatch means the sketch bound broke
  query("ts_quantile_sketch", tsQuantileSketch,
    """SELECT DISTINCT event_type, TRUE AS rank_within_2pct
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-25'
      |ORDER BY event_type""".stripMargin)

  private val seriesQuantileSketches: Fixture = fixture("qsketchfe") { (s, dir) =>
    QuantileSketchStore.write(t(s, dir, "events"), seriesQuantileSketches.path(dir),
      Seq("event_type", "user_id"), "ts", "value", 86400000L,
      relativeError = 0.01)
  }

  /** `quantile_over_time` THROUGH THE STRING FRONT-END over the GK
    * sketch layer — the declared-approximate OPT-IN
    * ([[graft.tsdb.promql.PromQLContext.quantileSketches]]: an empty
    * map keeps every quantile on the raw order-statistic path; the
    * raw gates are unchanged). Same CONTRACT shape as the store
    * gate, per (event_type, user_id) series over the aligned 5-day
    * window: GK returns an actual retained sample whose RANK is
    * within ±2ε·n of q·n (the raw path's interpolated quantile is a
    * different, exact number — which is why this path is opt-in and
    * gated on the rank bound, not value equality).
    */
  private def tsPromqlQuantileSketch(s: SparkSession, dir: String): DataFrame = {
    val p = seriesQuantileSketches(s, dir)
    val q = 0.9
    val eps = 0.02
    val mint = 1704412800000L // [Jan 5, Jan 25), day-aligned
    val maxt = 1706140800000L
    val ctx = promCtx(s, dir).copy(
      evalMs = maxt,
      quantileSketches = Map("events" -> Seq(
        RollupStore.RollupLayer(p, 86400000L))))
    val approx = graft.tsdb.promql.PromQL
      .compile("quantile_over_time(0.9, events[20d])", ctx)
      .select(col("event_type"), col("user_id"),
        col("value").as("qv"))
    val raw = t(s, dir, "events")
      .filter(col("ts") >= timestamp_millis(lit(mint)) &&
        col("ts") < timestamp_millis(lit(maxt)))
      .select(col("event_type"), col("user_id"), col("value"))
    raw.join(broadcast(approx), Seq("event_type", "user_id"))
      .groupBy(col("event_type"), col("user_id"), col("qv"))
      .agg(count(lit(1)).as("_n"),
        sum(when(col("value") <= col("qv"), 1L).otherwise(0L)).as("_le"),
        sum(when(col("value") < col("qv"), 1L).otherwise(0L)).as("_lt"))
      .select(col("event_type"), col("user_id"),
        (col("_le") >= floor((lit(q) - eps) * col("_n")) &&
          col("_lt") <= ceil((lit(q) + eps) * col("_n")))
          .as("rank_within_2pct"))
      .orderBy("event_type", "user_id")
  }
  // the front-end twin at full series grain — same contract, the
  // oracle states it holds for every series with samples in range
  query("ts_promql_quantile_sketch", tsPromqlQuantileSketch,
    """SELECT DISTINCT event_type, user_id, TRUE AS rank_within_2pct
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-25'
      |ORDER BY event_type, user_id""".stripMargin)

  // ---- materialized rollup layers ([[tsdb.RollupStore]]) ----

  private val rollups: Fixture = fixture("rollup", "1h", "1d") { (s, dir) =>
    val ev = t(s, dir, "events")
    RollupStore.write(ev, rollups.path(dir, "1h"),
      Seq("event_type", "user_id"), "ts", "value", 3600000L)
    RollupStore.write(ev, rollups.path(dir, "1d"),
      Seq("event_type", "user_id"), "ts", "value", 86400000L)
  }

  /** The 1-day rollup layer replayed from raw events: the oracle of
    * the direct and the cascaded layer alike. */
  private val dayRollupSql: String =
    """WITH w AS (
      |  SELECT event_type, user_id, ts, value,
      |    (epoch_ms(ts) // 86400000) * 86400000 AS window_ms
      |  FROM events),
      |d AS (
      |  SELECT *, lag(value) OVER (
      |    PARTITION BY event_type, user_id, window_ms
      |    ORDER BY ts, value) AS pv,
      |    row_number() OVER (
      |    PARTITION BY event_type, user_id, window_ms
      |    ORDER BY ts DESC, value DESC) AS rnd
      |  FROM w),
      |m AS (
      |  SELECT event_type, user_id, window_ms,
      |    min(ts) AS mnts, max(ts) AS mxts,
      |    min(value) AS mnv,
      |    coalesce(max(value) FILTER (WHERE NOT isnan(value)),
      |             'NaN'::DOUBLE) AS mxnn
      |  FROM w GROUP BY 1, 2, 3)
      |SELECT d.event_type, d.user_id, d.window_ms,
      |  count(*) AS n,
      |  CAST(sum(CAST(d.value AS DECIMAL(30,8))) AS DOUBLE) AS sum_v,
      |  min(d.value) AS min_v, max(d.value) AS max_v,
      |  epoch_ms(m.mnts) AS first_ts_ms,
      |  min(CASE WHEN d.ts = m.mnts THEN d.value END) AS first_v,
      |  epoch_ms(m.mxts) AS last_ts_ms,
      |  max(CASE WHEN d.ts = m.mxts THEN d.value END) AS last_v,
      |  max(CASE WHEN d.rnd = 2 THEN epoch_ms(d.ts) END) AS prev_ts_ms,
      |  max(CASE WHEN d.rnd = 2 THEN d.value END) AS prev_v,
      |  max(CASE WHEN d.value = m.mnv THEN epoch_ms(d.ts) END)
      |    AS vmin_ts_ms,
      |  m.mxnn AS vmax_nn,
      |  max(CASE WHEN d.value = m.mxnn THEN epoch_ms(d.ts) END)
      |    AS vmax_ts_ms,
      |  CAST(sum(CAST(CASE WHEN d.pv IS NULL THEN 0
      |    WHEN d.value >= d.pv THEN d.value - d.pv
      |    ELSE d.value END AS DECIMAL(30,8))) AS DOUBLE) AS inc,
      |  CAST(sum(CASE WHEN d.pv IS NOT NULL AND d.value < d.pv
      |    THEN 1 ELSE 0 END) AS BIGINT) AS resets,
      |  CAST(sum(CASE WHEN d.pv IS NOT NULL AND d.value <> d.pv
      |    THEN 1 ELSE 0 END) AS BIGINT) AS changes
      |FROM d JOIN m USING (event_type, user_id, window_ms)
      |GROUP BY d.event_type, d.user_id, d.window_ms, m.mnts, m.mxts, m.mnv, m.mxnn
      |ORDER BY d.event_type, d.user_id, d.window_ms""".stripMargin

  /** Every column of a rollup layer, in (series, window) order. */
  private def layerRows(s: SparkSession, path: String): DataFrame =
    RollupStore.read(s, path)
      .select(col("event_type"), col("user_id"), col("window_ms"),
        col("n"), col("vsum").cast("double").as("sum_v"),
        col("vmin").as("min_v"), col("vmax").as("max_v"),
        col("first_ts_ms"), col("first_v"),
        col("last_ts_ms"), col("last_v"),
        col("prev_ts_ms"), col("prev_v"),
        col("vmin_ts_ms"), col("vmax_nn"), col("vmax_ts_ms"),
        col("increase").cast("double").as("inc"),
        col("resets"), col("changes"))
      .orderBy("event_type", "user_id", "window_ms")

  /** Full read-back of the 1-day rollup layer: every per-(series,
    * window) column — count, decimal-exact sum, min/max, boundary
    * samples with deterministic (ts, value) tiebreaks, and the
    * reset-aware within-window counter increase. The oracle replays
    * the identical lag-delta fold over raw events, so a hash match
    * proves the materialization is EXACT, not approximate.
    */
  private def tsRollupRoundtrip(s: SparkSession, dir: String): DataFrame = {
    rollups.build(s, dir)
    layerRows(s, rollups.path(dir, "1d"))
  }
  // rollup roundtrip: the identical per-(series, day) fold over raw
  // — lag deltas under reset semantics ordered (ts, value), decimal
  // -exact sums, boundary samples by the same (ts, value) tiebreak
  query("ts_rollup_roundtrip", tsRollupRoundtrip, dayRollupSql)

  /** Counter increase over [Jan 5, Jan 25) reassembled from 1-day
    * rollups ([[tsdb.RollupStore.stitchedIncrease]]): Σ within-window
    * increases + reset-aware boundary terms — the consecutive-pair
    * decomposition, so the result must equal (bitwise) the same fold
    * run directly over the raw samples, which is what the oracle
    * computes. At 100 TB this is the long-range-rate path: windows-
    * in-range rows per series instead of every raw sample.
    */
  private def tsRollupIncrease(s: SparkSession, dir: String): DataFrame = {
    rollups.build(s, dir)
    RollupStore.stitchedIncrease(s, rollups.path(dir, "1d"),
        Seq("event_type", "user_id"),
        mintMs = 1704412800000L, maxtMs = 1706140800000L)
      .orderBy("event_type", "user_id")
  }
  // stitched increase ≡ the same reset-aware lag fold over the raw
  // range (consecutive pairs = within-window + boundary pairs);
  // windows = distinct days with samples
  query("ts_rollup_increase", tsRollupIncrease,
    """WITH w AS (
      |  SELECT event_type, user_id, ts, value
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-25'),
      |d AS (
      |  SELECT *, lag(value) OVER (
      |    PARTITION BY event_type, user_id ORDER BY ts, value) AS pv
      |  FROM w)
      |SELECT event_type, user_id,
      |  CAST(sum(CAST(CASE WHEN pv IS NULL THEN 0
      |    WHEN value >= pv THEN value - pv
      |    ELSE value END AS DECIMAL(30,8))) AS DOUBLE) AS increase,
      |  count(DISTINCT (epoch_ms(ts) // 86400000)) AS windows
      |FROM d GROUP BY 1, 2
      |ORDER BY event_type, user_id""".stripMargin)

  /** Resolution routing ([[tsdb.RollupStore.route]], Thanos's
    * step/5 auto-downsampling rule): a 5-day step over [Jan 1,
    * Jan 31) routes to the COARSEST eligible layer (1 d here; the
    * 1 h layer also qualifies and — by the exact-rollup invariant —
    * would return the identical answer at 24× the bytes). The oracle
    * computes straight from raw, so the hash match proves layer
    * choice affects cost only, never results.
    */
  private def tsRollupRoute(s: SparkSession, dir: String): DataFrame = {
    rollups.build(s, dir)
    val layers = Seq(
      RollupStore.RollupLayer(rollups.path(dir, "1h"), 3600000L),
      RollupStore.RollupLayer(rollups.path(dir, "1d"), 86400000L))
    RollupStore.downsampleAt(s, layers, Seq("event_type"),
        stepMs = 432000000L, mintMs = 1704067200000L, maxtMs = 1706659200000L)
      .orderBy("event_type", "step_ms")
  }
  // routed downsample: straight from raw — the layer choice (1d
  // here) must be invisible in the values, only in bytes read
  query("ts_rollup_route", tsRollupRoute,
    """SELECT event_type,
      |  (epoch_ms(ts) // 432000000) * 432000000 AS step_ms,
      |  count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) / count(*) AS avg_v,
      |  min(value) AS min_v, max(value) AS max_v
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-31'
      |GROUP BY 1, 2
      |ORDER BY event_type, step_ms""".stripMargin)

  // reads the 1h layer, so callers build `rollups` first
  private val cascadedRollup: Fixture = fixture("rollup_1d_cascade") { (s, dir) =>
    RollupStore.writeFrom(s, rollups.path(dir, "1h"), cascadedRollup.path(dir),
      Seq("event_type", "user_id"), "ts",
      fineResolutionMs = 3600000L, resolutionMs = 86400000L)
  }

  /** The 1-day layer built FROM THE 1-HOUR LAYER instead of raw —
    * the layer cascade ([[tsdb.RollupStore.writeFrom]], Thanos
    * compact's 5m→1h maintenance shape: coarser layers never rescan
    * raw). The oracle is the SAME raw lag-fold replay the direct
    * roundtrip gate uses, so a hash match proves the cascade loses
    * nothing: decimal sums re-associate exactly, boundary samples
    * carry over from the seam windows, and increase/resets/changes
    * reassemble from within-fine-window terms + seam pairs — the
    * identical pair set the raw fold walks.
    */
  private def tsRollupCascade(s: SparkSession, dir: String): DataFrame = {
    rollups.build(s, dir)
    layerRows(s, cascadedRollup(s, dir))
  }
  // the CASCADED 1d layer (built from the 1h layer, raw never
  // rescanned) must replay the identical raw lag fold — same SQL
  // as the direct roundtrip gate by design
  query("ts_rollup_cascade", tsRollupCascade, dayRollupSql)

  /** [[promCtx]] with the rollup layers registered: the PromQL
    * front-end routes aligned range arguments to the coarsest
    * eligible layer ([[graft.tsdb.promql.PromQLContext.rollups]]).
    * Existing gates keep the raw context, so routing can never mask
    * a raw-path regression.
    */
  private def promCtxRollup(s: SparkSession, dir: String): graft.tsdb.promql.PromQLContext = {
    rollups.build(s, dir)
    promCtx(s, dir).copy(rollups = Map("events" -> Seq(
      RollupStore.RollupLayer(rollups.path(dir, "1h"), 3600000L),
      RollupStore.RollupLayer(rollups.path(dir, "1d"), 86400000L))))
  }

  /** `query_range` production `rate()` served FROM THE 1-DAY ROLLUP
    * LAYER (range/step/start all day-aligned, 1d×5 ≤ 5d → the 1d
    * layer wins routing): the ladder's inputs reconstruct exactly
    * from the layer, so the oracle — the same raw-sample DuckDB
    * extrapolation replay the un-routed gates use — must hash-match
    * while the plan reads ~1/100th the rows (PlanAudit asserts the
    * raw table is absent from the scan).
    */
  private def tsPromqlRollupRangeRate(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compileRange(
        "sum by (event_type) (round(rate(events[5d]), 0.00000001))",
        promCtxRollup(s, dir),
        startMs = 1704844800000L, // 2024-01-10T00:00Z
        endMs = 1706572800000L,   // 2024-01-30T00:00Z
        stepMs = 432000000L)      // 5d
      .select(col("event_type"), col("step_ms"), col("value").as("rate_sum"))
      .orderBy("event_type", "step_ms")
  // rollup-SERVED range rate: the oracle replays the raw-sample
  // extrapolation ladder (same replay the un-routed range_rate
  // gate uses, 5d windows) — the routed plan must reproduce it
  // from the 1-day layer alone
  query("ts_promql_rollup_range_rate", tsPromqlRollupRangeRate,
    """WITH steps AS (
      |  SELECT range AS step_ms
      |  FROM range(1704844800000, 1706572800001, 432000000)),
      |d AS (
      |  SELECT s.step_ms, e.event_type, e.user_id, e.value,
      |    epoch_ms(e.ts) AS ts_ms,
      |    lag(e.value) OVER w AS prev,
      |    row_number() OVER w AS rn
      |  FROM steps s JOIN events e
      |    ON e.ts >= epoch_ms(s.step_ms - 432000000)
      |   AND e.ts < epoch_ms(s.step_ms)
      |  WINDOW w AS (PARTITION BY s.step_ms, e.event_type, e.user_id
      |               ORDER BY e.ts, e.event_id)),
      |agg AS (
      |  SELECT step_ms, event_type, user_id,
      |    CAST(sum(CAST(CASE WHEN prev IS NULL THEN 0.0
      |                       WHEN value >= prev THEN value - prev
      |                       ELSE value END AS DECIMAL(30,8))) AS DOUBLE) AS inc,
      |    min(ts_ms) AS first_ms, max(ts_ms) AS last_ms,
      |    max(CASE WHEN rn = 1 THEN value END) AS first_v,
      |    count(*) AS n
      |  FROM d GROUP BY step_ms, event_type, user_id
      |  HAVING count(*) >= 2 AND max(ts_ms) > min(ts_ms)),
      |ext AS (
      |  SELECT step_ms, event_type, inc, n, first_v,
      |    CAST(last_ms - first_ms AS DOUBLE) AS sampled,
      |    CAST(last_ms - first_ms AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS avg_sp,
      |    CAST(first_ms - (step_ms - 432000000) AS DOUBLE) AS to_start_raw,
      |    CAST(step_ms - last_ms AS DOUBLE) AS to_end
      |  FROM agg),
      |fin AS (
      |  SELECT step_ms, event_type, inc, sampled, avg_sp, to_end,
      |    avg_sp * 1.1 AS threshold,
      |    least(CASE WHEN inc > 0 AND first_v >= 0
      |               THEN sampled * (first_v / inc)
      |               ELSE to_start_raw END, to_start_raw) AS to_start
      |  FROM ext),
      |rates AS (
      |  SELECT step_ms, event_type,
      |    floor((inc * ((sampled
      |        + (CASE WHEN to_start < threshold THEN to_start ELSE avg_sp / 2 END)
      |        + (CASE WHEN to_end < threshold THEN to_end ELSE avg_sp / 2 END))
      |      / sampled) / 432000.0) / 0.00000001 + 0.5) * 0.00000001 AS rate
      |  FROM fin)
      |SELECT event_type, step_ms,
      |  CAST(sum(CAST(rate AS DECIMAL(30,8))) AS DOUBLE) AS rate_sum
      |FROM rates GROUP BY event_type, step_ms
      |ORDER BY event_type, step_ms""".stripMargin)

  /** The routed 5-day avg_over_time grid summed by event_type,
    * straight from raw: the oracle of the raw-layer and block-layer
    * routed gates. */
  private val routedAvgSql: String =
    """WITH steps AS (
      |  SELECT range AS step_ms
      |  FROM range(1704844800000, 1706572800001, 432000000)),
      |p AS (
      |  SELECT s.step_ms, e.event_type, e.user_id,
      |    CAST(sum(CAST(e.value AS DECIMAL(30,8))) AS DOUBLE) / count(*) AS avg_v
      |  FROM steps s JOIN events e
      |    ON e.ts >= epoch_ms(s.step_ms - 432000000)
      |   AND e.ts < epoch_ms(s.step_ms)
      |  GROUP BY 1, 2, 3)
      |SELECT event_type, step_ms,
      |  CAST(sum(CAST(avg_v AS DECIMAL(30,8))) AS DOUBLE) AS avg_sum
      |FROM p GROUP BY 1, 2
      |ORDER BY event_type, step_ms""".stripMargin

  /** `query_range` `avg_over_time` served from the 1-day layer: the
    * decimal-exact (vsum, n) pair reconstructs the average bitwise
    * (Σvsum is the same per-value-quantized decimal sum the raw scan
    * would produce), composed under a `sum by` — oracle straight
    * from raw samples.
    */
  private def tsPromqlRollupOverTime(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compileRange(
        "sum by (event_type) (avg_over_time(events[5d]))",
        promCtxRollup(s, dir),
        startMs = 1704844800000L,
        endMs = 1706572800000L,
        stepMs = 432000000L)
      .select(col("event_type"), col("step_ms"), col("value").as("avg_sum"))
      .orderBy("event_type", "step_ms")
  // rollup-served avg_over_time under sum by: straight from raw
  query("ts_promql_rollup_over_time", tsPromqlRollupOverTime, routedAvgSql)

  // reads `tsdbBlock`, so callers build it first
  private val blockRollup: Fixture = fixture("rollup_blocks") { (s, dir) =>
    val events = graft.tsdb.block.TsdbBlockStore
      .readLabels(s, tsdbBlock.path(dir), Seq("event_type", "user_id"))
      .withColumn("ts", timestamp_millis(col("ts")))
    RollupStore.write(events, blockRollup.path(dir), Seq("event_type", "user_id"),
      "ts", "value", 86400000L)
  }

  /** The full production serving pipeline in ONE plan: a Prometheus
    * DATA DIRECTORY (byte-level blocks) → `readLabels` → an EXACT
    * 1-day rollup layer ([[tsdb.RollupStore.write]], the compact
    * maintenance step) → a day-aligned `query_range` routed ENTIRELY
    * to that layer by the string front-end. The oracle computes
    * straight from the raw events table — so the hash match pins the
    * byte decode, the layer build and the routed reconstruction
    * together. avg_over_time's (Σvsum, Σn) pair is order-independent
    * and ms-exact, so the block layout's ms timestamp grain is
    * invisible to it.
    */
  private def tsPromqlTsdbRollup(s: SparkSession, dir: String): DataFrame = {
    tsdbBlock.build(s, dir)
    val events = graft.tsdb.block.TsdbBlockStore
      .readLabels(s, tsdbBlock.path(dir), Seq("event_type", "user_id"))
      .withColumn("ts", timestamp_millis(col("ts")))
    val p = blockRollup(s, dir)
    val ctx = graft.tsdb.promql.PromQLContext(
      metrics = Map("events" -> events),
      labelCols = Seq("event_type", "user_id"),
      evalMs = 1706745600000L, // 2024-02-01T00:00:00Z
      lookbackMs = 86400000L,
      rollups = Map("events" -> Seq(
        RollupStore.RollupLayer(p, 86400000L))))
    graft.tsdb.promql.PromQL.compileRange(
        "sum by (event_type) (avg_over_time(events[5d]))", ctx,
        startMs = 1704844800000L, // 2024-01-10T00:00Z
        endMs = 1706572800000L,   // 2024-01-30T00:00Z
        stepMs = 432000000L)      // 5d
      .select(col("event_type"), col("step_ms"), col("value").as("avg_sum"))
      .orderBy("event_type", "step_ms")
  }
  // blocks -> layer -> routed grid: byte decode + layer build +
  // routed reconstruction must together replay the raw answer —
  // the SAME oracle as the raw-layer routed gate by design
  query("ts_promql_tsdb_rollup", tsPromqlTsdbRollup, routedAvgSql)

  /** Routed `resets()`/`changes()`: the layer's stored per-window
    * pair counts plus one boundary comparison per seam reproduce the
    * raw lag fold's counts exactly — the oracle runs that raw fold.
    */
  private def tsPromqlRollupResets(s: SparkSession, dir: String): DataFrame = {
    val ctx = promCtxRollup(s, dir)
    def q(fn: String, as: String): DataFrame =
      graft.tsdb.promql.PromQL.compile(s"$fn(events[5d])", ctx)
        .select(col("event_type"), col("user_id"), col("value").as(as))
    q("resets", "resets")
      .join(q("changes", "changes"), Seq("event_type", "user_id"))
      .orderBy("event_type", "user_id")
  }
  // routed resets/changes: the raw lag-fold counts over the same
  // range the rollup path serves from stored pair counts + seams
  query("ts_promql_rollup_resets", tsPromqlRollupResets,
    """WITH w AS (
      |  SELECT event_type, user_id, ts, value
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-27' AND ts < TIMESTAMP '2024-02-01'),
      |d AS (
      |  SELECT *, lag(value) OVER (
      |    PARTITION BY event_type, user_id ORDER BY ts, value) AS pv
      |  FROM w)
      |SELECT event_type, user_id,
      |  CAST(sum(CASE WHEN pv IS NOT NULL AND value < pv
      |    THEN 1 ELSE 0 END) AS DOUBLE) AS resets,
      |  CAST(sum(CASE WHEN pv IS NOT NULL AND value <> pv
      |    THEN 1 ELSE 0 END) AS DOUBLE) AS changes
      |FROM d GROUP BY 1, 2
      |ORDER BY event_type, user_id""".stripMargin)

  /** Routed `stddev/stdvar_over_time`: the layer's stored Σv²
    * (decimal-exact, v quantized once at 8 dp) re-runs the identical
    * (n·Σv² − (Σv)²)/n² closed form [[tsdb.PromOps.stdvarOverTime]]
    * computes over raw samples — the oracle IS that raw closed form
    * over the same 5-day window.
    */
  private def tsPromqlRollupStddev(s: SparkSession, dir: String): DataFrame = {
    val ctx = promCtxRollup(s, dir)
    def q(fn: String, as: String): DataFrame =
      graft.tsdb.promql.PromQL.compile(s"$fn(events[5d])", ctx)
        .select(col("event_type"), col("user_id"),
          round(col("value"), 8).as(as))
    q("stdvar_over_time", "stdvar")
      .join(q("stddev_over_time", "stddev"), Seq("event_type", "user_id"))
      .orderBy("event_type", "user_id")
  }
  // routed stdvar/stddev: raw closed form over the same 5d window
  query("ts_promql_rollup_stddev", tsPromqlRollupStddev,
    """WITH s AS (
      |  SELECT event_type, user_id,
      |    CAST(count(*) AS DECIMAL(6,0)) AS n,
      |    CAST(sum(y) AS DECIMAL(16,8)) AS sy,
      |    CAST(sum(CAST(CAST(y AS DECIMAL(19,8)) * y AS DECIMAL(30,16)))
      |      AS DECIMAL(31,16)) AS syy
      |  FROM (SELECT event_type, user_id,
      |          CAST(value AS DECIMAL(18,8)) AS y FROM events
      |        WHERE ts >= TIMESTAMP '2024-01-27'
      |          AND ts < TIMESTAMP '2024-02-01')
      |  GROUP BY 1, 2)
      |SELECT event_type, user_id,
      |  round(CAST(CAST(n * syy - CAST(sy AS DECIMAL(19,8)) * sy
      |          AS DECIMAL(36,16)) AS DOUBLE)
      |        / CAST(n * n AS DOUBLE), 8) AS stdvar,
      |  round(sqrt(CAST(CAST(n * syy - CAST(sy AS DECIMAL(19,8)) * sy
      |          AS DECIMAL(36,16)) AS DOUBLE)
      |        / CAST(n * n AS DOUBLE)), 8) AS stddev
      |FROM s
      |ORDER BY event_type, user_id""".stripMargin)

  /** Routed `deriv`/`predict_linear`: the layer's window-relative
    * regression sums shift exactly to the query origin (Σ(x+δ) =
    * Σx + nδ etc), rebuilding [[tsdb.PromOps]]'s per-series sums
    * bitwise; the oracle replays the same decimal closed form over
    * raw samples in the window.
    */
  private def tsPromqlRollupDeriv(s: SparkSession, dir: String): DataFrame = {
    val ctx = promCtxRollup(s, dir)
    val d = graft.tsdb.promql.PromQL.compile("deriv(events[5d])", ctx)
      .select(col("event_type"), col("user_id"),
        round(col("value"), 12).as("deriv"))
    val p = graft.tsdb.promql.PromQL.compile(
        "predict_linear(events[5d], 3600)", ctx)
      .select(col("event_type"), col("user_id"),
        round(col("value"), 6).as("predicted"))
    d.join(p, Seq("event_type", "user_id"))
      .orderBy("event_type", "user_id")
  }
  // routed deriv + predict_linear: the raw decimal regression
  // closed form, origin = the window start (eval - 5d), horizon
  // 3600 s; predicted replays the identical double op order
  // (intercept, then slope * (eval + h - origin))
  query("ts_promql_rollup_deriv", tsPromqlRollupDeriv,
    """WITH s AS (
      |  SELECT event_type, user_id,
      |    CAST(count(*) AS DECIMAL(6,0)) AS n,
      |    CAST(sum(x) AS DECIMAL(16,0)) AS sx,
      |    CAST(sum(y) AS DECIMAL(21,8)) AS sy,
      |    CAST(sum(CAST(CAST(x AS DECIMAL(19,0)) * y AS DECIMAL(31,8)))
      |      AS DECIMAL(31,8)) AS sxy,
      |    CAST(sum(CAST(CAST(x AS DECIMAL(19,0)) * x AS DECIMAL(25,0)))
      |      AS DECIMAL(27,0)) AS sxx
      |  FROM (SELECT event_type, user_id,
      |          CAST(epoch_ms(ts) - 1706313600000 AS DECIMAL(12,0)) AS x,
      |          CAST(value AS DECIMAL(18,8)) AS y
      |        FROM events
      |        WHERE ts >= TIMESTAMP '2024-01-27'
      |          AND ts < TIMESTAMP '2024-02-01')
      |  GROUP BY 1, 2),
      |d AS (
      |  SELECT event_type, user_id, n, sx, sy,
      |    CAST(n * sxy - sx * sy AS DECIMAL(36,8)) AS num,
      |    CAST(n * sxx - CAST(sx AS DECIMAL(19,0)) * sx AS DECIMAL(35,0)) AS den
      |  FROM s WHERE n >= 2),
      |r AS (
      |  SELECT event_type, user_id, n, sx, sy,
      |    CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS slope_ms
      |  FROM d WHERE den <> 0)
      |SELECT event_type, user_id,
      |  round(slope_ms * 1000.0, 12) AS deriv,
      |  round((CAST(sy AS DOUBLE) - slope_ms * CAST(sx AS DOUBLE))
      |          / CAST(n AS DOUBLE)
      |        + slope_ms * 435600000.0, 6) AS predicted
      |FROM r
      |ORDER BY event_type, user_id""".stripMargin)

  /** Routed `delta()` — graft's no-extrapolation gauge delta
    * (last − first, [[tsdb.PromOps.delta]]) served from the 1-day
    * layer's BOUNDARY SAMPLES: the min/max window-struct picks
    * reconstruct the range's first/last raw samples exactly, so the
    * subtraction is the identical IEEE op on the identical doubles —
    * the oracle replays the raw (ts, value)-ordered first/last over
    * the same 5-day window. A long-range dashboard `delta(gauge[30d])`
    * reads windows-in-range rows instead of every raw sample.
    */
  private def tsPromqlRollupDelta(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile("delta(events[5d])",
        promCtxRollup(s, dir))
      .select(col("event_type"), col("user_id"),
        round(col("value"), 8).as("delta"))
      .orderBy("event_type", "user_id")
  // routed delta: the raw (ts, value)-ordered first/last pick over
  // the same 5d window — the layer's boundary samples must
  // reproduce it exactly
  query("ts_promql_rollup_delta", tsPromqlRollupDelta,
    """WITH w AS (
      |  SELECT event_type, user_id, ts, value
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-27' AND ts < TIMESTAMP '2024-02-01')
      |SELECT event_type, user_id,
      |  round(last(value ORDER BY ts, value)
      |    - first(value ORDER BY ts, value), 8) AS delta
      |FROM w GROUP BY 1, 2
      |ORDER BY event_type, user_id""".stripMargin)

  /** Routed `irate()` — the instantaneous rate from the range's LAST
    * TWO samples ([[tsdb.PromOps.irate]]) served from the 1-day
    * layer's boundary + PENULTIMATE samples (`prev_ts_ms`/`prev_v`):
    * the last two samples of a window-aligned range are the last
    * window's (last, prev) pair when it holds ≥2 samples, else its
    * last plus the previous window's last — both stored, so the
    * reconstruction is exact and the division runs on the identical
    * IEEE doubles. The oracle replays the raw last-two-samples pick
    * over the same 5-day window; at 100 TB `irate(counter[30d])`
    * reads windows-in-range rows instead of every raw sample.
    */
  private def tsPromqlRollupIrate(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile("irate(events[5d])",
        promCtxRollup(s, dir))
      .select(col("event_type"), col("user_id"),
        round(col("value"), 10).as("irate"))
      .orderBy("event_type", "user_id")
  // routed irate/idelta: the raw last-two-samples pick over the
  // same 5d window under the layer's (ts, value) order — the
  // layer's boundary + penultimate samples must reproduce it
  query("ts_promql_rollup_irate", tsPromqlRollupIrate,
    """WITH w AS (
      |  SELECT event_type, user_id, value, epoch_ms(ts) AS ts_ms,
      |    row_number() OVER sw AS rn,
      |    lead(value) OVER sw AS pv,
      |    lead(epoch_ms(ts)) OVER sw AS pt
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-27' AND ts < TIMESTAMP '2024-02-01'
      |  WINDOW sw AS (PARTITION BY event_type, user_id
      |                ORDER BY ts DESC, value DESC))
      |SELECT event_type, user_id,
      |  round((CASE WHEN value >= pv THEN value - pv ELSE value END)
      |        / ((ts_ms - pt) / 1000.0), 10) AS irate
      |FROM w
      |WHERE rn = 1 AND pv IS NOT NULL AND ts_ms - pt > 0
      |ORDER BY event_type, user_id""".stripMargin)

  /** Routed `ts_of_min/max_over_time` — the ARGMIN/ARGMAX timestamps
    * served from the layer's stored per-window extremum pairs
    * (`vmin_ts_ms`, `vmax_nn`/`vmax_ts_ms`): extremum-of-struct is
    * associative, so folding the pairs across windows under the raw
    * tie keys (value, then LATEST ts; max demotes NaN below every
    * real value) is the identical struct fold the raw path runs over
    * samples. The oracle replays the raw argmin/argmax pick over the
    * same 5-day window.
    */
  private def tsPromqlRollupTsOf(s: SparkSession, dir: String): DataFrame = {
    val ctx = promCtxRollup(s, dir)
    val mn = graft.tsdb.promql.PromQL
      .compile("ts_of_min_over_time(events[5d])", ctx)
      .select(col("event_type"), col("user_id"),
        col("value").as("ts_of_min"))
    val mx = graft.tsdb.promql.PromQL
      .compile("ts_of_max_over_time(events[5d])", ctx)
      .select(col("event_type"), col("user_id"),
        col("value").as("ts_of_max"))
    mn.join(mx, Seq("event_type", "user_id"))
      .orderBy("event_type", "user_id")
  }
  // routed ts_of_min/max: the raw argmin/argmax pick (latest ts
  // among tied extrema; max demotes NaN) over the same 5d window
  query("ts_promql_rollup_ts_of", tsPromqlRollupTsOf,
    """WITH w AS (
      |  SELECT event_type, user_id, ts, value
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-27' AND ts < TIMESTAMP '2024-02-01'),
      |m AS (
      |  SELECT event_type, user_id, min(value) AS mnv,
      |    coalesce(max(value) FILTER (WHERE NOT isnan(value)),
      |             'NaN'::DOUBLE) AS mxnn
      |  FROM w GROUP BY 1, 2)
      |SELECT w.event_type, w.user_id,
      |  max(CASE WHEN w.value = m.mnv THEN epoch_ms(w.ts) END) / 1000.0
      |    AS ts_of_min,
      |  max(CASE WHEN w.value = m.mxnn THEN epoch_ms(w.ts) END) / 1000.0
      |    AS ts_of_max
      |FROM w JOIN m USING (event_type, user_id)
      |GROUP BY 1, 2
      |ORDER BY event_type, user_id""".stripMargin)

  /** Routed `idelta()` — gauge difference of the range's last two
    * samples, same layer-served reconstruction as the irate gate
    * minus the counter-reset test and the time division.
    */
  private def tsPromqlRollupIdelta(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile("idelta(events[5d])",
        promCtxRollup(s, dir))
      .select(col("event_type"), col("user_id"),
        round(col("value"), 8).as("idelta"))
      .orderBy("event_type", "user_id")
  query("ts_promql_rollup_idelta", tsPromqlRollupIdelta,
    """WITH w AS (
      |  SELECT event_type, user_id, value,
      |    row_number() OVER sw AS rn,
      |    lead(value) OVER sw AS pv
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-27' AND ts < TIMESTAMP '2024-02-01'
      |  WINDOW sw AS (PARTITION BY event_type, user_id
      |                ORDER BY ts DESC, value DESC))
      |SELECT event_type, user_id, round(value - pv, 8) AS idelta
      |FROM w
      |WHERE rn = 1 AND pv IS NOT NULL
      |ORDER BY event_type, user_id""".stripMargin)

  // ---- classic le-bucket histogram served from SCALAR rollup layers ----

  private val classicLes = Seq("10.0", "25.0", "50.0", "100.0", "200.0",
    "Infinity")

  /** A classic (le-labelled) histogram as a LONG series table derived
    * deterministically from events: per (event_type, le) a daily
    * CUMULATIVE counter of observations ≤ le — the storage shape a
    * Prometheus classic histogram has after convert (one plain
    * counter series per bucket, reference schema/schema.go le label).
    */
  private def classicBucketTable(s: SparkSession, dir: String): DataFrame = {
    val incs = classicLes.zipWithIndex.map { case (le, i) =>
      count(when(col("value") <= lit(le.toDouble), 1))
        .cast("double").as(s"_inc$i")
    }
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("ts"))
      .agg(incs.head, incs.tail: _*)
    daily
      .select(col("event_type"), col("ts"),
        explode(array(classicLes.zipWithIndex.map { case (le, i) =>
          struct(lit(le).as("le"), col(s"_inc$i").as("inc"))
        }: _*)).as("_b"))
      .select(col("event_type"), col("_b.le").as("le"), col("ts"),
        col("_b.inc").as("inc"))
      .withColumn("value", sum("inc").over(org.apache.spark.sql.expressions
        .Window.partitionBy("event_type", "le").orderBy("ts")))
      .drop("inc")
  }

  private val classicRollup: Fixture = fixture("clrollup_1d") { (s, dir) =>
    RollupStore.write(classicBucketTable(s, dir), classicRollup.path(dir),
      Seq("event_type", "le"), "ts", "value", 86400000L)
  }

  /** The Grafana dashboard idiom `histogram_quantile(0.9,
    * rate(bucket[5d]))` served FROM SCALAR ROLLUP LAYERS: classic
    * le-buckets are plain counters, so each le-series' `rate` routes
    * through the 1-day layer exactly like any float counter (the
    * stitched-increase fold + production extrapolation ladder,
    * bitwise the raw answer), and the quantile walk consumes the
    * routed rate vector unchanged. At 100 TB this is THE most-run
    * long-range query shape — the layer reads windows-in-range per
    * bucket series instead of every raw sample. The oracle replays
    * the raw ladder per le-series + the classic interpolation walk;
    * PlanAudit asserts the compiled plan reads the layer only.
    */
  private def tsPromqlRollupClassicQuantile(s: SparkSession, dir: String): DataFrame = {
    val p = classicRollup(s, dir)
    val ctx = graft.tsdb.promql.PromQLContext(
      metrics = Map("req_bucket" -> classicBucketTable(s, dir)),
      labelCols = Seq("event_type", "le"),
      evalMs = 1706745600000L, // 2024-02-01T00:00:00Z
      lookbackMs = 86400000L,
      rollups = Map("req_bucket" -> Seq(
        RollupStore.RollupLayer(p, 86400000L))))
    graft.tsdb.promql.PromQL.compile(
        "histogram_quantile(0.9, round(rate(req_bucket[5d]), 0.00000001))",
        ctx)
      .select(col("event_type"), round(col("value"), 6).as("q90"))
      .orderBy("event_type")
  }
  // routed classic-bucket quantile-over-rate: rebuild the bucket
  // counters from raw events, replay the production extrapolation
  // ladder per le-series over the same 5d window (round 1e-8,
  // mirroring the PromQL round), then the classic interpolation
  // walk — the layer-served composition must reproduce it exactly
  query("ts_promql_rollup_classic_quantile", tsPromqlRollupClassicQuantile,
    """WITH les AS (
      |  SELECT unnest(['10.0', '25.0', '50.0', '100.0', '200.0',
      |                 'Infinity']) AS le),
      |daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS day, le,
      |    CAST(count(CASE WHEN value <= CAST(le AS DOUBLE) THEN 1 END)
      |      AS DOUBLE) AS inc
      |  FROM events CROSS JOIN les GROUP BY 1, 2, 3),
      |cum AS (
      |  SELECT event_type, le, day,
      |    sum(inc) OVER (PARTITION BY event_type, le ORDER BY day) AS cnt
      |  FROM daily),
      |w AS (
      |  SELECT event_type, le, cnt, epoch_ms(day) AS ts_ms,
      |    lag(cnt) OVER sw AS prev,
      |    row_number() OVER sw AS rn
      |  FROM cum
      |  WHERE day >= TIMESTAMP '2024-01-27' AND day < TIMESTAMP '2024-02-01'
      |  WINDOW sw AS (PARTITION BY event_type, le ORDER BY day)),
      |agg AS (
      |  SELECT event_type, le,
      |    CAST(sum(CAST(CASE WHEN prev IS NULL THEN 0.0
      |                       WHEN cnt >= prev THEN cnt - prev
      |                       ELSE cnt END AS DECIMAL(30,8))) AS DOUBLE) AS inc,
      |    min(ts_ms) AS first_ms, max(ts_ms) AS last_ms,
      |    max(CASE WHEN rn = 1 THEN cnt END) AS first_v,
      |    count(*) AS n
      |  FROM w GROUP BY 1, 2
      |  HAVING count(*) >= 2 AND max(ts_ms) > min(ts_ms)),
      |ext AS (
      |  SELECT event_type, le, inc, n, first_v,
      |    CAST(last_ms - first_ms AS DOUBLE) AS sampled,
      |    CAST(last_ms - first_ms AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS avg_sp,
      |    CAST(first_ms - 1706313600000 AS DOUBLE) AS to_start_raw,
      |    CAST(1706745600000 - last_ms AS DOUBLE) AS to_end
      |  FROM agg),
      |fin AS (
      |  SELECT event_type, le, inc, sampled, avg_sp, to_end,
      |    avg_sp * 1.1 AS threshold,
      |    least(CASE WHEN inc > 0 AND first_v >= 0
      |               THEN sampled * (first_v / inc)
      |               ELSE to_start_raw END, to_start_raw) AS to_start
      |  FROM ext),
      |rated AS (
      |  SELECT event_type, le,
      |    floor((inc * ((sampled
      |        + (CASE WHEN to_start < threshold THEN to_start ELSE avg_sp / 2 END)
      |        + (CASE WHEN to_end < threshold THEN to_end ELSE avg_sp / 2 END))
      |      / sampled) / 432000.0) / 0.00000001 + 0.5) * 0.00000001 AS r
      |  FROM fin),
      |q AS (
      |  SELECT event_type, CAST(le AS DOUBLE) AS led, r,
      |    lag(CAST(le AS DOUBLE)) OVER pw AS prev_le,
      |    lag(r) OVER pw AS prev_r,
      |    max(r) OVER (PARTITION BY event_type) AS total,
      |    max(CASE WHEN CAST(le AS DOUBLE) < CAST('inf' AS DOUBLE)
      |        THEN CAST(le AS DOUBLE) END)
      |      OVER (PARTITION BY event_type) AS max_finite
      |  FROM rated
      |  WINDOW pw AS (PARTITION BY event_type ORDER BY CAST(le AS DOUBLE)))
      |SELECT event_type,
      |  round(CASE
      |    WHEN led = CAST('inf' AS DOUBLE) THEN max_finite
      |    WHEN prev_le IS NULL AND led <= 0 THEN led
      |    WHEN r = coalesce(prev_r, 0) THEN CAST('nan' AS DOUBLE)
      |    ELSE coalesce(prev_le, 0) + (led - coalesce(prev_le, 0)) *
      |      (0.9 * total - coalesce(prev_r, 0)) / (r - coalesce(prev_r, 0))
      |  END, 6) AS q90
      |FROM q
      |WHERE r >= 0.9 * total
      |  AND (prev_r IS NULL OR prev_r < 0.9 * total)
      |ORDER BY event_type""".stripMargin)
}
