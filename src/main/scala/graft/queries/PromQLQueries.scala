package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Shared._
import BlockShardQueries.{shardInterop, tsdbBlock}

/** PromQL front-end queries.
  *
  * The reference's Queryable exists to serve Prometheus's PromQL
  * engine (queryable/parquet_queryable.go:153 implements
  * storage.Queryable for exactly that caller); graft.tsdb.promql
  * closes the loop Spark-side: the SAME query STRING a Prometheus
  * user runs compiles onto the PromOps operators. These gates prove
  * the parse→compile→execute path end-to-end against oracles that
  * replay the PromQL semantics in SQL.
  */
private[graft] object PromQLQueries extends QueryFamily {

  /** `sum by (event_type) (rate(events[31d]))` — the canonical
    * PromQL shape (aggregated counter rate), parsed from the string.
    * `rate` lowers to [[PromOps.extrapolatedRate]] (production
    * extrapolation semantics, same ladder as `ts_rate_extrapolated`);
    * the `sum by` accumulates the per-series rates in exact decimal.
    */
  private def tsPromqlRateSum(s: SparkSession, dir: String): DataFrame =
    // round(., 1e-8) before the sum: see tsPromqlRangeRate — exact
    // half-boundary rates round differently at the decimal cast in
    // Spark vs DuckDB; the PromQL round() resolves them identically
    graft.tsdb.promql.PromQL.compile(
        "sum by (event_type) (round(rate(events[31d]), 0.00000001))", promCtx(s, dir))
      .select(col("event_type"), col("value").as("rate_sum"))
      .orderBy("event_type")
  // PromQL front-end oracles: each replays the semantics of the
  // COMPILED plan — the extrapolatedRate ladder for rate(), exact
  // decimal accumulation for sum/sum_over_time — so a hash match
  // proves parse→compile→execute end-to-end
  query("ts_promql_rate_sum", tsPromqlRateSum,
    """WITH d AS (
      |  SELECT event_type, user_id, value, epoch_ms(ts) AS ts_ms,
      |    lag(value) OVER w AS prev,
      |    row_number() OVER w AS rn
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
      |  WINDOW w AS (PARTITION BY event_type, user_id
      |               ORDER BY ts, event_id)),
      |agg AS (
      |  SELECT event_type, user_id,
      |    CAST(sum(CAST(CASE WHEN prev IS NULL THEN 0.0
      |                       WHEN value >= prev THEN value - prev
      |                       ELSE value END AS DECIMAL(30,8))) AS DOUBLE) AS inc,
      |    min(ts_ms) AS first_ms, max(ts_ms) AS last_ms,
      |    max(CASE WHEN rn = 1 THEN value END) AS first_v,
      |    count(*) AS n
      |  FROM d GROUP BY event_type, user_id
      |  HAVING count(*) >= 2 AND max(ts_ms) > min(ts_ms)),
      |ext AS (
      |  SELECT event_type, user_id, inc, n, first_v,
      |    CAST(last_ms - first_ms AS DOUBLE) AS sampled,
      |    CAST(last_ms - first_ms AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS avg_sp,
      |    CAST(first_ms - 1704067200000 AS DOUBLE) AS to_start_raw,
      |    CAST(1706745600000 - last_ms AS DOUBLE) AS to_end
      |  FROM agg),
      |fin AS (
      |  SELECT event_type, inc, sampled, avg_sp, to_end,
      |    avg_sp * 1.1 AS threshold,
      |    least(CASE WHEN inc > 0 AND first_v >= 0
      |               THEN sampled * (first_v / inc)
      |               ELSE to_start_raw END, to_start_raw) AS to_start
      |  FROM ext),
      |rates AS (
      |  SELECT event_type,
      |    floor((inc * ((sampled
      |        + (CASE WHEN to_start < threshold THEN to_start ELSE avg_sp / 2 END)
      |        + (CASE WHEN to_end < threshold THEN to_end ELSE avg_sp / 2 END))
      |      / sampled) / 2678400.0) / 0.00000001 + 0.5) * 0.00000001 AS rate
      |  FROM fin)
      |SELECT event_type,
      |  CAST(sum(CAST(rate AS DECIMAL(30,8))) AS DOUBLE) AS rate_sum
      |FROM rates GROUP BY event_type
      |ORDER BY event_type""".stripMargin)

  /** `A / on(user_id) B` — one-to-one vector matching parsed from
    * the string, with the distributed uniqueness guard on both sides.
    */
  private def tsPromqlRatio(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile(
        """sum by (user_id) (sum_over_time(events{event_type="click"}[31d]))
          | / on(user_id)
          |sum by (user_id) (sum_over_time(events{event_type="view"}[31d]))"""
          .stripMargin, promCtx(s, dir))
      .select(col("user_id"), col("value").as("ratio"))
      .orderBy("user_id")
  query("ts_promql_ratio", tsPromqlRatio,
    """WITH l AS (
      |  SELECT user_id, CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS v
      |  FROM events WHERE event_type = 'click'
      |    AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
      |  GROUP BY user_id),
      |r AS (
      |  SELECT user_id, CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS v
      |  FROM events WHERE event_type = 'view'
      |    AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
      |  GROUP BY user_id)
      |SELECT l.user_id, l.v / r.v AS ratio
      |FROM l JOIN r USING (user_id)
      |ORDER BY user_id""".stripMargin)

  /** The click/view sum_over_time ratio per user_id with user_id as a
    * string label: the oracle of the block and shard gates. */
  private val clickViewRatioSql: String =
    """WITH l AS (
      |  SELECT CAST(user_id AS VARCHAR) AS user_id,
      |    CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS v
      |  FROM events WHERE event_type = 'click'
      |    AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
      |  GROUP BY 1),
      |r AS (
      |  SELECT CAST(user_id AS VARCHAR) AS user_id,
      |    CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS v
      |  FROM events WHERE event_type = 'view'
      |    AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
      |  GROUP BY 1)
      |SELECT l.user_id, l.v / r.v AS ratio
      |FROM l JOIN r USING (user_id)
      |ORDER BY user_id""".stripMargin

  /** The full user story in one plan: a PromQL STRING evaluated
    * directly against a Prometheus DATA DIRECTORY — block bytes →
    * [[tsdb.block.TsdbBlockStore.readLabels]] → PromQL front-end
    * (sum_over_time ratio with on() matching, an order-insensitive
    * query: block bytes do not preserve intra-timestamp sample
    * order). What a migrating user runs on day one, hash-pinned.
    */
  private def tsPromqlTsdbBlocks(s: SparkSession, dir: String): DataFrame = {
    tsdbBlock.build(s, dir)
    val events = graft.tsdb.block.TsdbBlockStore
      .readLabels(s, tsdbBlock.path(dir), Seq("event_type", "user_id"))
      .withColumn("ts", timestamp_millis(col("ts")))
    val ctx = graft.tsdb.promql.PromQLContext(
      metrics = Map("events" -> events),
      labelCols = Seq("event_type", "user_id"),
      evalMs = 1706745600000L, // 2024-02-01T00:00:00Z
      lookbackMs = 86400000L)
    graft.tsdb.promql.PromQL.compile(
        """sum by (user_id) (sum_over_time(events{event_type="click"}[31d]))
          | / on(user_id)
          |sum by (user_id) (sum_over_time(events{event_type="view"}[31d]))"""
          .stripMargin, ctx)
      .select(col("user_id"), col("value").as("ratio"))
      .orderBy("user_id")
  }
  // the same ratio query, but the engine's input was a Prometheus
  // DATA DIRECTORY (block bytes), so user_id is a block label —
  // a string
  query("ts_promql_tsdb_blocks", tsPromqlTsdbBlocks, clickViewRatioSql)

  /** PromQL over the reference-layout shard — the capstone the block
    * and chunked layouts already have, closing the symmetry: shard
    * bytes ([[tsdb.shard.ParquetShardStore]]) → matcher select →
    * string-compiled PromQL in ONE plan. sum_over_time is
    * order-independent and ignores sub-range timestamps, so the
    * shard's ms grain is invisible to it and the oracle computes
    * straight from raw events.
    */
  private def tsPromqlShard(s: SparkSession, dir: String): DataFrame = {
    shardInterop.build(s, dir)
    val st = graft.tsdb.shard.ParquetShardStore
    val m = st.meta(s, shardInterop.path(dir))
    val events = st.select(s, shardInterop.path(dir), m.mintMs, m.maxtMs + 1)
    val ctx = graft.tsdb.promql.PromQLContext(
      metrics = Map("events" -> events),
      labelCols = Seq("event_type", "user_id"),
      evalMs = 1706745600000L, // 2024-02-01T00:00:00Z
      lookbackMs = 86400000L)
    graft.tsdb.promql.PromQL.compile(
        """sum by (user_id) (sum_over_time(events{event_type="click"}[31d]))
          | / on(user_id)
          |sum by (user_id) (sum_over_time(events{event_type="view"}[31d]))"""
          .stripMargin, ctx)
      .select(col("user_id"), col("value").as("ratio"))
      .orderBy("user_id")
  }
  // identical to ts_promql_tsdb_blocks' oracle: sum_over_time is
  // order-independent and the shard's ms grain cannot move a
  // sample across these whole-day range bounds
  query("ts_promql_shard", tsPromqlShard, clickViewRatioSql)

  /** The experimental `info()` function parsed from the string: a
    * derived `target_info` metric (one series per user with a
    * deterministic `tier` data label) enriches an aggregated vector
    * on the identifying label, through the `{tier=~".+"}` data-label
    * selector. The info side aggregates + broadcasts; the vector
    * side never shuffles for the join.
    */
  private def tsPromqlInfo(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val evL = ev.withColumn("tier", lit(null).cast("string"))
    val tinfo = ev.select(col("user_id")).distinct()
      .withColumn("event_type", lit(null).cast("string"))
      .withColumn("tier",
        concat(lit("t"), (col("user_id") % 3).cast("string")))
      .withColumn("ts", lit("2024-01-31 23:00:00").cast("timestamp"))
      .withColumn("value", lit(1.0))
    val ctx = graft.tsdb.promql.PromQLContext(
      metrics = Map("events" -> evL, "target_info" -> tinfo),
      labelCols = Seq("event_type", "user_id", "tier"),
      evalMs = 1706745600000L, // 2024-02-01T00:00:00Z
      lookbackMs = 86400000L,
      infoIdentifying = Seq("user_id"))
    graft.tsdb.promql.PromQL.compile(
        """info(sum by (event_type, user_id) (sum_over_time(events[31d])),
          |     {tier=~".+"})""".stripMargin, ctx)
      .select(col("event_type"), col("user_id"), col("tier"),
        col("value").as("sum_value"))
      .orderBy("event_type", "user_id")
  }
  // info(): the derived target_info tier label re-derived with the
  // same integer arithmetic, joined on the identifying label
  query("ts_promql_info", tsPromqlInfo,
    """SELECT event_type, user_id,
      |  't' || CAST(user_id % 3 AS VARCHAR) AS tier,
      |  CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
      |GROUP BY 1, 2
      |ORDER BY event_type, user_id""".stripMargin)

  /** `topk(5, ...)` over an `offset` range — selector offset
    * arithmetic plus the full-label topk with the documented
    * label-order tiebreak.
    */
  private def tsPromqlTopkOffset(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile(
        "topk(5, sum by (event_type, user_id) (sum_over_time(events[24d] offset 7d)))",
        promCtx(s, dir))
      .select(col("event_type"), col("user_id"), col("value").as("total"))
      .orderBy("event_type", "user_id")
  query("ts_promql_topk_offset", tsPromqlTopkOffset,
    """WITH s AS (
      |  SELECT event_type, user_id,
      |    CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS total
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-25'
      |  GROUP BY event_type, user_id),
      |rk AS (
      |  SELECT *, row_number()
      |    OVER (ORDER BY total DESC, event_type, user_id) AS rk FROM s)
      |SELECT event_type, user_id, total FROM rk WHERE rk <= 5
      |ORDER BY event_type, user_id""".stripMargin)

  /** Comparison filters on both vectors + `and on(user_id)` set
    * matching: the alerting idiom ("users with >650 of clicks that
    * also spent >650 on purchases"), parsed from the string.
    */
  private def tsPromqlFilterAnd(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile(
        """(sum by (user_id) (sum_over_time(events{event_type="click"}[31d])) > 650)
          | and on(user_id)
          |(sum by (user_id) (sum_over_time(events{event_type="purchase"}[31d])) > 650)"""
          .stripMargin, promCtx(s, dir))
      .select(col("user_id"), col("value").as("click_total"))
      .orderBy("user_id")
  query("ts_promql_filter_and", tsPromqlFilterAnd,
    """WITH c AS (
      |  SELECT user_id, CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS v
      |  FROM events WHERE event_type = 'click'
      |    AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
      |  GROUP BY user_id),
      |p AS (
      |  SELECT user_id, CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS v
      |  FROM events WHERE event_type = 'purchase'
      |    AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
      |  GROUP BY user_id)
      |SELECT c.user_id, c.v AS click_total
      |FROM c JOIN p USING (user_id)
      |WHERE c.v > 650 AND p.v > 650
      |ORDER BY c.user_id""".stripMargin)

  /** `query_range` over an aggregated window sum — the dashboard
    * workhorse shape. Steps 2024-01-08..2024-01-30 every 2d, window
    * 3d (overlapping: each sample serves up to 2 steps via the
    * bounded explode). ONE scan of events for the whole grid.
    */
  private def tsPromqlRangeSum(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compileRange(
        "sum by (event_type) (sum_over_time(events[3d]))", promCtx(s, dir),
        startMs = 1704672000000L, // 2024-01-08T00:00Z
        endMs = 1706572800000L,   // 2024-01-30T00:00Z
        stepMs = 172800000L)      // 2d
      .select(col("event_type"), col("step_ms"), col("value").as("total"))
      .orderBy("event_type", "step_ms")
  // range-query oracles: a steps CTE (DuckDB range()) replays the
  // grid; each step's window is the half-open [step - range, step)
  query("ts_promql_range_sum", tsPromqlRangeSum,
    """WITH steps AS (
      |  SELECT range AS step_ms
      |  FROM range(1704672000000, 1706572800001, 172800000)),
      |j AS (
      |  SELECT s.step_ms, e.event_type, e.value
      |  FROM steps s JOIN events e
      |    ON e.ts >= epoch_ms(s.step_ms - 259200000)
      |   AND e.ts < epoch_ms(s.step_ms))
      |SELECT event_type, step_ms,
      |  CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS total
      |FROM j GROUP BY event_type, step_ms
      |ORDER BY event_type, step_ms""".stripMargin)

  /** `query_range` of the canonical alert expression — per-step
    * production `rate()` with the full extrapolation ladder, each
    * step's window bounds its own (PromOps.extrapolatedRateAt).
    */
  private def tsPromqlRangeRate(s: SparkSession, dir: String): DataFrame =
    // round(. , 1e-8): per-series rates can land ALGEBRAICALLY on
    // exact x.xxxxxxxx5 boundaries (2-decimal inputs, even ms spans),
    // where Spark's BigDecimal(shortest-string) HALF_UP and DuckDB's
    // binary-value rounding disagree at the decimal(30,8) sum cast.
    // PromQL round() is floor(v/to + 0.5)·to — identical IEEE ops in
    // both engines — so the boundary is resolved identically BEFORE
    // the exact-decimal accumulation (the ts_rate_extrapolated fix,
    // expressed in the query language itself).
    graft.tsdb.promql.PromQL.compileRange(
        "sum by (event_type) (round(rate(events[4d]), 0.00000001))", promCtx(s, dir),
        startMs = 1704844800000L, // 2024-01-10T00:00Z
        endMs = 1706572800000L,   // 2024-01-30T00:00Z
        stepMs = 432000000L)      // 5d
      .select(col("event_type"), col("step_ms"), col("value").as("rate_sum"))
      .orderBy("event_type", "step_ms")
  query("ts_promql_range_rate", tsPromqlRangeRate,
    """WITH steps AS (
      |  SELECT range AS step_ms
      |  FROM range(1704844800000, 1706572800001, 432000000)),
      |d AS (
      |  SELECT s.step_ms, e.event_type, e.user_id, e.value,
      |    epoch_ms(e.ts) AS ts_ms,
      |    lag(e.value) OVER w AS prev,
      |    row_number() OVER w AS rn
      |  FROM steps s JOIN events e
      |    ON e.ts >= epoch_ms(s.step_ms - 345600000)
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
      |    CAST(first_ms - (step_ms - 345600000) AS DOUBLE) AS to_start_raw,
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
      |      / sampled) / 345600.0) / 0.00000001 + 0.5) * 0.00000001 AS rate
      |  FROM fin)
      |SELECT event_type, step_ms,
      |  CAST(sum(CAST(rate AS DECIMAL(30,8))) AS DOUBLE) AS rate_sum
      |FROM rates GROUP BY event_type, step_ms
      |ORDER BY event_type, step_ms""".stripMargin)

  /** `query_range` of a raw selector: per-step latest sample within
    * the lookback — the "graph this metric" query every dashboard
    * panel issues.
    */
  private def tsPromqlRangeInstant(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compileRange(
        """events{event_type="click"}""", promCtx(s, dir),
        startMs = 1704412800000L, // 2024-01-05T00:00Z
        endMs = 1704758400000L,   // 2024-01-09T00:00Z
        stepMs = 86400000L)       // 1d
      .select(col("event_type"), col("user_id"), col("step_ms"), col("value"))
      .orderBy("user_id", "step_ms")
  // per-step instant selector: latest sample in the lookback
  // window, ms-grain ties broken by value (the max(struct) order)
  query("ts_promql_range_instant", tsPromqlRangeInstant,
    """WITH steps AS (
      |  SELECT range AS step_ms
      |  FROM range(1704412800000, 1704758400001, 86400000)),
      |cand AS (
      |  SELECT s.step_ms, e.event_type, e.user_id, e.value,
      |    row_number() OVER (PARTITION BY s.step_ms, e.user_id
      |                       ORDER BY epoch_ms(e.ts) DESC, e.value DESC) AS rn
      |  FROM steps s JOIN events e
      |    ON e.ts >= epoch_ms(s.step_ms - 86400000)
      |   AND e.ts < epoch_ms(s.step_ms)
      |  WHERE e.event_type = 'click')
      |SELECT event_type, user_id, step_ms, value
      |FROM cand WHERE rn = 1
      |ORDER BY user_id, step_ms""".stripMargin)

  /** Subquery: `max_over_time(<daily sum>[7d:1d])` — the peak daily
    * total over the trailing week, one plan: inner grid (7 aligned
    * day steps) feeds the outer max as synthetic samples.
    */
  private def tsPromqlSubquery(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile(
        "max_over_time(sum by (event_type) (sum_over_time(events[1d]))[7d:1d])",
        promCtx(s, dir))
      .select(col("event_type"), col("value").as("max_daily"))
      .orderBy("event_type")
  // subquery: 7 aligned daily inner steps, outer max per group
  query("ts_promql_subquery", tsPromqlSubquery,
    """WITH steps AS (
      |  SELECT range AS step_ms
      |  FROM range(1706140800000, 1706745600000, 86400000)),
      |daily AS (
      |  SELECT s.step_ms, e.event_type,
      |    CAST(sum(CAST(e.value AS DECIMAL(30,8))) AS DOUBLE) AS v
      |  FROM steps s JOIN events e
      |    ON e.ts >= epoch_ms(s.step_ms - 86400000)
      |   AND e.ts < epoch_ms(s.step_ms)
      |  GROUP BY s.step_ms, e.event_type)
      |SELECT event_type, max(v) AS max_daily
      |FROM daily GROUP BY event_type
      |ORDER BY event_type""".stripMargin)

  /** `@` modifier: this week's totals against a PINNED baseline week
    * (`sum_over_time(v[7d] @ 1704672000)` = the week ending
    * 2024-01-08) — the "compare now to a fixed point" idiom.
    */
  private def tsPromqlAtPinned(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile(
        """sum by (event_type) (sum_over_time(events[7d]))
          | / on(event_type)
          |sum by (event_type) (sum_over_time(events[7d] @ 1704672000))"""
          .stripMargin, promCtx(s, dir))
      .select(col("event_type"), col("value").as("wow_ratio"))
      .orderBy("event_type")
  // @-pinned baseline week vs the current week
  query("ts_promql_at_pinned", tsPromqlAtPinned,
    """WITH cur AS (
      |  SELECT event_type,
      |    CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS v
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-25' AND ts < TIMESTAMP '2024-02-01'
      |  GROUP BY event_type),
      |base AS (
      |  SELECT event_type,
      |    CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS v
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-08'
      |  GROUP BY event_type)
      |SELECT cur.event_type, cur.v / base.v AS wow_ratio
      |FROM cur JOIN base USING (event_type)
      |ORDER BY cur.event_type""".stripMargin)

  /** Time-gated range query — `and on() (day_of_week() != 0)` drops
    * the Sunday steps: `day_of_week()` is a per-step column
    * expression (one codegen'd projection over the step grid), and
    * the gate semi-joins on the hidden step key.
    */
  private def tsPromqlBusinessDays(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compileRange(
        """sum by (event_type) (sum_over_time(events[1d])) and on() (day_of_week() != 0)""",
        promCtx(s, dir),
        startMs = 1704672000000L, // 2024-01-08T00:00Z (Monday)
        endMs = 1705795200000L,   // 2024-01-21T00:00Z (Sunday)
        stepMs = 86400000L)
      .select(col("event_type"), col("step_ms"), col("value").as("total"))
      .orderBy("event_type", "step_ms")
  // Sunday steps dropped by the day_of_week gate (DuckDB dayofweek:
  // Sunday = 0, the Prometheus convention)
  query("ts_promql_business_days", tsPromqlBusinessDays,
    """WITH steps AS (
      |  SELECT range AS step_ms
      |  FROM range(1704672000000, 1705795200001, 86400000)
      |  WHERE dayofweek(epoch_ms(range)) != 0),
      |j AS (
      |  SELECT s.step_ms, e.event_type, e.value
      |  FROM steps s JOIN events e
      |    ON e.ts >= epoch_ms(s.step_ms - 86400000)
      |   AND e.ts < epoch_ms(s.step_ms))
      |SELECT event_type, step_ms,
      |  CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS total
      |FROM j GROUP BY event_type, step_ms
      |ORDER BY event_type, step_ms""".stripMargin)

  /** `absent_over_time` over a step grid: 1.0 at exactly the steps
    * whose trailing window holds no matching sample — the alert-on-
    * missing-data primitive, per-step via one grid anti-join.
    */
  private def tsPromqlAbsentRange(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compileRange(
        """absent_over_time(events{event_type="click", user_id="7"}[6h])""",
        promCtx(s, dir),
        startMs = 1704844800000L, // 2024-01-10T00:00Z
        endMs = 1705017600000L,   // 2024-01-12T00:00Z
        stepMs = 21600000L)       // 6h
      .select(col("step_ms"), col("value").as("absent"))
      .orderBy("step_ms")
  // steps whose 6h trailing window holds no click from user 7
  query("ts_promql_absent_range", tsPromqlAbsentRange,
    """WITH steps AS (
      |  SELECT range AS step_ms
      |  FROM range(1704844800000, 1705017600001, 21600000)),
      |covered AS (
      |  SELECT DISTINCT s.step_ms
      |  FROM steps s JOIN events e
      |    ON e.ts >= epoch_ms(s.step_ms - 21600000)
      |   AND e.ts < epoch_ms(s.step_ms)
      |  WHERE e.event_type = 'click' AND e.user_id = 7)
      |SELECT s.step_ms, CAST(1.0 AS DOUBLE) AS absent
      |FROM steps s
      |WHERE s.step_ms NOT IN (SELECT step_ms FROM covered)
      |ORDER BY s.step_ms""".stripMargin)

  /** `X / scalar(sum(X))` — share-of-total, the classic scalar()
    * idiom. The scalar compiles to a one-row aggregate broadcast
    * back onto the vector (Sc carrier): fully distributed, no
    * driver-side demotion; the oracle replays the exact decimal
    * sums and the one double division.
    */
  private def tsPromqlScalar(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile(
        """sum by (event_type) (sum_over_time(events[31d]))
          | / scalar(sum(sum_over_time(events[31d])))""".stripMargin,
        promCtx(s, dir))
      .select(col("event_type"), col("value").as("share"))
      .orderBy("event_type")
  query("ts_promql_scalar", tsPromqlScalar,
    """WITH per_series AS (
      |  SELECT event_type, user_id,
      |    CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS v
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
      |  GROUP BY event_type, user_id),
      |bytype AS (
      |  SELECT event_type, CAST(sum(CAST(v AS DECIMAL(30,8))) AS DOUBLE) AS v
      |  FROM per_series GROUP BY event_type),
      |tot AS (
      |  SELECT CAST(sum(CAST(v AS DECIMAL(30,8))) AS DOUBLE) AS t
      |  FROM per_series)
      |SELECT event_type, v / (SELECT t FROM tot) AS share
      |FROM bytype ORDER BY event_type""".stripMargin)

  /** `limitk(3, ...) by (event_type)` — the experimental limitk
    * aggregator with graft's documented deterministic pick (first k
    * in label order), full labels kept, WindowGroupLimit shape.
    */
  private def tsPromqlLimitk(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile(
        "limitk(3, sum by (event_type, user_id) (sum_over_time(events[31d]))) by (event_type)",
        promCtx(s, dir))
      .select(col("event_type"), col("user_id"), col("value").as("total"))
      .orderBy("event_type", "user_id")
  query("ts_promql_limitk", tsPromqlLimitk,
    """WITH s AS (
      |  SELECT event_type, user_id,
      |    CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS total
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
      |  GROUP BY event_type, user_id),
      |rk AS (
      |  SELECT *, row_number()
      |    OVER (PARTITION BY event_type ORDER BY user_id) AS rk FROM s)
      |SELECT event_type, user_id, total FROM rk WHERE rk <= 3
      |ORDER BY event_type, user_id""".stripMargin)

  /** `limit_ratio(0.25, ...)` — deterministic label-hash sampling of
    * a vector (the experimental limit_ratio aggregator), decided by
    * the same sha256-threshold selection as pipe_sample_mix so the
    * oracle replays the identical keep set. Pure narrow filter.
    */
  private def tsPromqlLimitRatio(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile(
        "limit_ratio(0.25, sum by (event_type, user_id) (sum_over_time(events[31d])))",
        promCtx(s, dir))
      .select(col("event_type"), col("user_id"), col("value").as("total"))
      .orderBy("event_type", "user_id")
  // the keep set replays graft's deterministic label-hash pick:
  // substr(sha256(labels ++ ':limit_ratio'), 1, 8) < 0.25 * 16^8
  query("ts_promql_limit_ratio", tsPromqlLimitRatio,
    """WITH s AS (
      |  SELECT event_type, user_id,
      |    CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS total
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
      |  GROUP BY event_type, user_id)
      |SELECT event_type, user_id, total FROM s
      |WHERE substr(sha256(event_type || chr(1) ||
      |    CAST(user_id AS VARCHAR) || ':limit_ratio'), 1, 8) < '40000000'
      |ORDER BY event_type, user_id""".stripMargin)

  /** `mad_over_time(events{event_type="click"}[31d])` — the
    * experimental median-absolute-deviation range function: window
    * median per series, then the median of absolute deviations —
    * two hash aggregations + one join all on the SAME element key
    * (co-partitioned after the first shuffle), exact interpolated
    * quantiles on both engines (Spark `percentile` ≡ DuckDB
    * `quantile_cont`, the ts_quantile precedent).
    */
  private def tsPromqlMad(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile(
        """mad_over_time(events{event_type="click"}[31d])""", promCtx(s, dir))
      .select(col("event_type"), col("user_id"), col("value").as("mad"))
      .orderBy("event_type", "user_id")
  // window median per series, then median absolute deviation —
  // quantile_cont ≡ Spark's exact interpolated percentile
  query("ts_promql_mad", tsPromqlMad,
    """WITH sel AS (
      |  SELECT event_type, user_id, value FROM events
      |  WHERE event_type = 'click'
      |    AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'),
      |med AS (
      |  SELECT event_type, user_id, quantile_cont(value, 0.5) AS m
      |  FROM sel GROUP BY 1, 2)
      |SELECT s.event_type, s.user_id,
      |  quantile_cont(abs(s.value - med.m), 0.5) AS mad
      |FROM sel s JOIN med USING (event_type, user_id)
      |GROUP BY s.event_type, s.user_id
      |ORDER BY s.event_type, s.user_id""".stripMargin)

  /** The experimental `ts_of_min/max/last_over_time` family
    * (Prometheus 3.x): WHEN each series hit its window extreme /
    * last sample, in epoch seconds. Ties on the extreme resolve to
    * the LATEST sample (upstream's non-strict <=/>= walk keeps the
    * last occurrence), made partitioning-independent by the struct
    * aggregates — the oracle replays the same
    * max-ts-among-tied-values rule. One groupBy per function, no
    * windows, partial aggregation map-side.
    */
  private def tsPromqlTsOf(s: SparkSession, dir: String): DataFrame = {
    val ctx = promCtx(s, dir)
    def q(fn: String, as: String): DataFrame =
      graft.tsdb.promql.PromQL.compile(s"$fn(events[31d])", ctx)
        .select(col("event_type"), col("user_id"), col("value").as(as))
    q("ts_of_min_over_time", "ts_of_min")
      .join(q("ts_of_max_over_time", "ts_of_max"), Seq("event_type", "user_id"))
      .join(q("ts_of_last_over_time", "ts_of_last"), Seq("event_type", "user_id"))
      .orderBy("event_type", "user_id")
  }
  // ts_of_min/max: MAX ts among rows tied at the window extreme —
  // upstream's non-strict (<=/>=) walk keeps the last occurrence;
  // ts_of_last = the window's max ts. Epoch SECONDS = ms / 1000.0,
  // the same IEEE division on both engines.
  query("ts_promql_ts_of", tsPromqlTsOf,
    """WITH w AS (
      |  SELECT event_type, user_id, value, epoch_ms(ts) AS ms
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'),
      |m AS (
      |  SELECT event_type, user_id, min(value) AS mnv, max(value) AS mxv
      |  FROM w GROUP BY 1, 2)
      |SELECT w.event_type, w.user_id,
      |  max(CASE WHEN w.value = m.mnv THEN w.ms END) / 1000.0 AS ts_of_min,
      |  max(CASE WHEN w.value = m.mxv THEN w.ms END) / 1000.0 AS ts_of_max,
      |  max(w.ms) / 1000.0 AS ts_of_last
      |FROM w JOIN m USING (event_type, user_id)
      |GROUP BY w.event_type, w.user_id
      |ORDER BY w.event_type, w.user_id""".stripMargin)

  /** Experimental `first_over_time`/`ts_of_first_over_time`
    * (Prometheus 3.6, promql/functions.go funcFirstOverTime): the
    * earliest sample's value and epoch-seconds timestamp in the
    * range — the symmetric closer of the `last_over_time`/`ts_of_*`
    * family. Both lower to one min-struct / min-ts aggregation at
    * series grain.
    */
  private def tsPromqlFirstOverTime(s: SparkSession, dir: String): DataFrame = {
    val ctx = promCtx(s, dir)
    def q(fn: String, as: String): DataFrame =
      graft.tsdb.promql.PromQL.compile(s"$fn(events[31d])", ctx)
        .select(col("event_type"), col("user_id"), col("value").as(as))
    q("first_over_time", "first_v")
      .join(q("ts_of_first_over_time", "ts_of_first"), Seq("event_type", "user_id"))
      .orderBy("event_type", "user_id")
  }
  // first_over_time: the value at the series' min ts in range
  // (min value among ts ties, matching the min-struct tiebreak);
  // ts_of_first = min ts. Epoch SECONDS = ms / 1000.0.
  query("ts_promql_first_over_time", tsPromqlFirstOverTime,
    """WITH w AS (
      |  SELECT event_type, user_id, value, epoch_ms(ts) AS ms
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'),
      |m AS (
      |  SELECT event_type, user_id, min(ms) AS mn
      |  FROM w GROUP BY 1, 2)
      |SELECT w.event_type, w.user_id,
      |  min(CASE WHEN w.ms = m.mn THEN w.value END) AS first_v,
      |  m.mn / 1000.0 AS ts_of_first
      |FROM w JOIN m USING (event_type, user_id)
      |GROUP BY w.event_type, w.user_id, m.mn
      |ORDER BY w.event_type, w.user_id""".stripMargin)

  /** `group_right` many-to-one vector matching parsed from the
    * string: the RIGHT side keeps its full label set, each right
    * element divided by the single left element sharing its
    * `on(user_id)` key — `user_total / per-(type,user) total`. The
    * mirror image of `ts_group_left` (the compiler swaps operands
    * and reuses the group_left plan — the ONE side broadcasts, the
    * many side never shuffles for the join).
    */
  private def tsPromqlGroupRight(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile(
        """sum by (user_id) (sum_over_time(events[31d]))
          | / on(user_id) group_right
          |sum by (event_type, user_id) (sum_over_time(events[31d]))"""
          .stripMargin, promCtx(s, dir))
      .select(col("event_type"), col("user_id"), col("value").as("inv_share"))
      .orderBy("event_type", "user_id")
  // group_right: result at the many (right) side's label grain,
  // the op keeping its written orientation — user total divided
  // by that user's per-type total
  query("ts_promql_group_right", tsPromqlGroupRight,
    """WITH s AS (
      |  SELECT event_type, user_id,
      |    CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS v
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
      |  GROUP BY 1, 2),
      |u AS (
      |  SELECT user_id, CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS v
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
      |  GROUP BY 1)
      |SELECT s.event_type, s.user_id, u.v / s.v AS inv_share
      |FROM s JOIN u USING (user_id)
      |ORDER BY s.event_type, s.user_id""".stripMargin)

  /** PromQL `sort_desc(sum by (event_type) (sum_over_time(...)))` —
    * the presentation ordering IS the checked output here (the gate
    * adds NO orderBy of its own): rows must arrive value-descending
    * from the compiled plan. Value ties cannot occur (continuous
    * decimal-exact sums per event type), so the order is total.
    */
  private def tsPromqlSort(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile(
        "sort_desc(sum by (event_type) (sum_over_time(events[31d])))",
        promCtx(s, dir))
      .select(col("event_type"), col("value"))
  // sort/sort_by_label: the FUNCTION's ordering is the compared
  // output — the oracle's ORDER BY replays it (no gate-side sort)
  query("ts_promql_sort", tsPromqlSort,
    """SELECT event_type,
      |  CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS value
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
      |GROUP BY 1
      |ORDER BY value DESC""".stripMargin)

  /** PromQL `sort_by_label(v, "event_type")` — label-value ordering
    * through the parser, again with the function's ordering as the
    * checked output (unique string label values ⇒ total order).
    */
  private def tsPromqlSortByLabel(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile(
        """sort_by_label(sum by (event_type) (sum_over_time(events[31d])),
          | "event_type")""".stripMargin, promCtx(s, dir))
      .select(col("event_type"), col("value"))
  query("ts_promql_sort_by_label", tsPromqlSortByLabel,
    """SELECT event_type,
      |  CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS value
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
      |GROUP BY 1
      |ORDER BY event_type""".stripMargin)
}
