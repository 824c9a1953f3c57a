package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tsdb.{Matcher, PromOps, TsdbQueryable}

import Shared._

/** Time-series selectors, label APIs and the PromOps range and
  * aggregation functions, each over the raw `events` table.
  */
private[graft] object TsQueries extends QueryFamily {

  private def tsSelectEq(s: SparkSession, dir: String): DataFrame =
    withTsMs(queryable(s, dir)
      .select("2024-01-05", "2024-01-20", Matcher.Eq("event_type", "click")))
      .orderBy("ts_ms", "user_id", "value")
  query("ts_select_eq", tsSelectEq,
    """SELECT event_type, user_id, value, epoch_ms(ts) AS ts_ms
      |FROM events
      |WHERE event_type = 'click'
      |  AND ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-20'
      |ORDER BY ts_ms, user_id, value""".stripMargin)

  /** The constraint-cache analog on the gate
    * (search/constraint_cache.go wired at parquet_queryable.go:112):
    * the SAME select runs twice through a [[graft.tsdb.SelectionCache]]
    * and the returned result is the CACHE HIT — planned from the
    * checkpointed selection, not the parquet scan. The oracle hash
    * proves the cached path is value-identical to the direct scan;
    * the hit is asserted loudly so this can never silently degrade to
    * re-scanning.
    */
  private def tsSelectCached(s: SparkSession, dir: String): DataFrame = {
    val cache = new graft.tsdb.SelectionCache()
    val cq = queryable(s, dir).withSelectionCache(cache)
    def once() = cq.select("2024-01-03", "2024-01-25", Matcher.Eq("event_type", "view"))
    once()
    val hit = once()
    require(cache.hits == 1L && cache.misses == 1L,
      s"selection cache did not serve the repeated select (hits=${cache.hits})")
    withTsMs(hit).orderBy("ts_ms", "user_id", "value")
  }
  query("ts_select_cached", tsSelectCached,
    """SELECT event_type, user_id, value, epoch_ms(ts) AS ts_ms
      |FROM events
      |WHERE event_type = 'view'
      |  AND ts >= TIMESTAMP '2024-01-03' AND ts < TIMESTAMP '2024-01-25'
      |ORDER BY ts_ms, user_id, value""".stripMargin)

  private def tsSelectRegex(s: SparkSession, dir: String): DataFrame =
    withTsMs(queryable(s, dir)
      .select("2024-01-01", "2024-01-10", Matcher.Re("event_type", "click|view")))
      .orderBy("ts_ms", "user_id", "value")
  query("ts_select_regex", tsSelectRegex,
    """SELECT event_type, user_id, value, epoch_ms(ts) AS ts_ms
      |FROM events
      |WHERE event_type IN ('click', 'view')
      |  AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-10'
      |ORDER BY ts_ms, user_id, value""".stripMargin)

  private def tsSelectNotRegex(s: SparkSession, dir: String): DataFrame =
    withTsMs(queryable(s, dir)
      .select("2024-01-01", "2024-01-31",
        Seq(Matcher.Nre("event_type", "c.*")), Nil, 500L))
      .orderBy("event_type", "user_id", "ts_ms")
  query("ts_select_not_regex", tsSelectNotRegex,
    """SELECT event_type, user_id, value, epoch_ms(ts) AS ts_ms
      |FROM (
      |  SELECT * FROM events
      |  WHERE NOT regexp_full_match(coalesce(event_type, ''), 'c.*')
      |    AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-31'
      |  ORDER BY event_type, user_id, ts, value
      |  LIMIT 500)
      |ORDER BY event_type, user_id, ts_ms""".stripMargin)

  /** Projection hints + row quota on the Select path (reference
    * WithHonorProjectionHints + NewQuota): only the event_type label
    * is materialized and the result is capped deterministically.
    */
  private def tsSelectProjected(s: SparkSession, dir: String): DataFrame =
    withTsMs(queryable(s, dir)
      .select("2024-01-01", "2024-01-31",
        Seq(Matcher.Eq("event_type", "purchase")),
        projection = Seq("event_type"), rowQuota = 200L))
      .orderBy("event_type", "ts_ms", "value")
  query("ts_select_projected", tsSelectProjected,
    """SELECT event_type, value, epoch_ms(ts) AS ts_ms
      |FROM (
      |  SELECT event_type, ts, value FROM events
      |  WHERE event_type = 'purchase'
      |    AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-31'
      |  ORDER BY event_type, ts, value
      |  LIMIT 200)
      |ORDER BY event_type, ts_ms, value""".stripMargin)

  /** Series-only select — the reference's skipChunks fast path
    * (`/api/v1/series`, parquet_queryable.go:322 / materialize.go:164):
    * distinct label sets under matchers + range, sample values never
    * materialized (PlanAudit asserts `value` is absent from the
    * scan's ReadSchema).
    */
  private def tsSelectSeries(s: SparkSession, dir: String): DataFrame =
    queryable(s, dir).selectSeries("2024-01-05", "2024-01-20",
      Seq(Matcher.Re("event_type", "click|view|purchase")))
  query("ts_select_series", tsSelectSeries,
    """SELECT event_type, user_id FROM (
      |  SELECT DISTINCT event_type, user_id FROM events
      |  WHERE event_type IN ('click', 'view', 'purchase')
      |    AND ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-20')
      |ORDER BY event_type, user_id""".stripMargin)

  /** histogram_quantile(0.9, ...) over classic le-bucketed cumulative
    * histograms built from the events table: ONE single-pass
    * conditional aggregation reads each sample row once (a
    * `count(when(value <= le))` column per bound, all partial-
    * aggregating map-side), then the 6 cumulative counts unpivot at
    * GROUP grain — series-cardinality × 6 rows, not samples × 6 as an
    * explode-before-agg would — into the (labels, le) shape
    * PromOps.histogramQuantile interpolates. The DuckDB oracle
    * replays the identical bucket arithmetic.
    */
  private def tsHistogramQuantile(s: SparkSession, dir: String): DataFrame = {
    val les = Seq(10.0, 25.0, 50.0, 100.0, 200.0, Double.PositiveInfinity)
    val cums = les.zipWithIndex.map { case (le, i) =>
      count(when(col("value") <= lit(le), 1)).cast("double").as(s"_cum$i")
    }
    val buckets = t(s, dir, "events")
      .groupBy("event_type")
      .agg(cums.head, cums.tail: _*)
      .select(col("event_type"),
        explode(array(les.zipWithIndex.map { case (le, i) =>
          struct(lit(le).as("le"), col(s"_cum$i").as("cnt"))
        }: _*)).as("_b"))
      .select(col("event_type"), col("_b.le").as("le"), col("_b.cnt").as("cnt"))
    PromOps.histogramQuantile(buckets, Seq("event_type"), 0.9)
      .select(col("event_type"), round(col("quantile"), 6).as("q90"))
      .orderBy("event_type")
  }
  query("ts_histogram_quantile", tsHistogramQuantile,
    """WITH les AS (
      |  SELECT unnest([10.0, 25.0, 50.0, 100.0, 200.0,
      |                 CAST('inf' AS DOUBLE)]) AS le),
      |b AS (
      |  SELECT event_type, le,
      |    CAST(count(CASE WHEN value <= le THEN 1 END) AS DOUBLE) AS cnt
      |  FROM events CROSS JOIN les GROUP BY 1, 2),
      |w AS (
      |  SELECT event_type, le, cnt,
      |    lag(le) OVER pw AS prev_le,
      |    lag(cnt) OVER pw AS prev_cnt,
      |    max(cnt) OVER (PARTITION BY event_type) AS total,
      |    max(CASE WHEN le < CAST('inf' AS DOUBLE) THEN le END)
      |      OVER (PARTITION BY event_type) AS max_finite
      |  FROM b
      |  WINDOW pw AS (PARTITION BY event_type ORDER BY le))
      |SELECT event_type,
      |  round(CASE
      |    WHEN le = CAST('inf' AS DOUBLE) THEN max_finite
      |    WHEN prev_le IS NULL AND le <= 0 THEN le
      |    ELSE coalesce(prev_le, 0) + (le - coalesce(prev_le, 0)) *
      |      (0.9 * total - coalesce(prev_cnt, 0)) /
      |      (cnt - coalesce(prev_cnt, 0))
      |  END, 6) AS q90
      |FROM w
      |WHERE cnt >= 0.9 * total
      |  AND (prev_cnt IS NULL OR prev_cnt < 0.9 * total)
      |ORDER BY event_type""".stripMargin)

  /** `histogram_quantile(0.9, rate(bucket[30d]))` — the composition a
    * real Prometheus user runs over the reference's `le`-labelled
    * bucket series. Bucket COUNTER series are synthesized at day
    * grain: one single-pass conditional aggregation computes the
    * per-(event_type, day) bucket increments (map-side partial, each
    * sample row read once), a cumulative window turns them into the
    * monotone counter samples a scrape sequence would record —
    * day-grain rows, series-cardinality × 6 buckets × ~30 days, tiny
    * post-agg — then [[PromOps.rate]] computes each le-series'
    * per-second increase over the range and
    * [[PromOps.histogramQuantile]] interpolates over the rated
    * buckets (rate of a cumulative histogram is itself cumulative in
    * le, as in Prometheus). The oracle replays increment → cumsum →
    * positive-delta increase → rate → interpolation exactly.
    */
  private def tsHistogramQuantileRate(s: SparkSession, dir: String): DataFrame = {
    val les = Seq(10.0, 25.0, 50.0, 100.0, 200.0, Double.PositiveInfinity)
    val incs = les.zipWithIndex.map { case (le, i) =>
      count(when(col("value") <= lit(le), 1)).cast("double").as(s"_inc$i")
    }
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(incs.head, incs.tail: _*)
    val counters = daily
      .select(col("event_type"), col("day"),
        explode(array(les.zipWithIndex.map { case (le, i) =>
          struct(lit(le).as("le"), col(s"_inc$i").as("inc"))
        }: _*)).as("_b"))
      .select(col("event_type"), col("day"),
        col("_b.le").as("le"), col("_b.inc").as("inc"))
      .withColumn("cnt", sum("inc").over(org.apache.spark.sql.expressions
        .Window.partitionBy("event_type", "le").orderBy("day")))
    val rated = PromOps.rate(counters, Seq("event_type", "le"),
      "day", "cnt", rangeSeconds = 2592000.0)
    PromOps.histogramQuantile(rated, Seq("event_type"), 0.9, cntCol = "rate")
      .select(col("event_type"), round(col("quantile"), 6).as("q90_rate"))
      .orderBy("event_type")
  }
  // replays tsHistogramQuantileRate: day-grain bucket increments →
  // cumulative counter → positive-delta increase → /range → the
  // same interpolation over the rated buckets
  query("ts_histogram_quantile_rate", tsHistogramQuantileRate,
    """WITH les AS (
      |  SELECT unnest([10.0, 25.0, 50.0, 100.0, 200.0,
      |                 CAST('inf' AS DOUBLE)]) AS le),
      |daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS day, le,
      |    CAST(count(CASE WHEN value <= le THEN 1 END) AS DOUBLE) AS inc
      |  FROM events CROSS JOIN les GROUP BY 1, 2, 3),
      |cum AS (
      |  SELECT event_type, day, le,
      |    sum(inc) OVER (PARTITION BY event_type, le ORDER BY day) AS cnt
      |  FROM daily),
      |lagged AS (
      |  SELECT event_type, le, cnt,
      |    lag(cnt) OVER (PARTITION BY event_type, le ORDER BY day) AS prev
      |  FROM cum),
      |rated AS (
      |  SELECT event_type, le,
      |    sum(CASE WHEN prev IS NULL THEN 0
      |             WHEN cnt >= prev THEN cnt - prev
      |             ELSE cnt END) / 2592000.0 AS r
      |  FROM lagged GROUP BY 1, 2),
      |w AS (
      |  SELECT event_type, le, r,
      |    lag(le) OVER pw AS prev_le,
      |    lag(r) OVER pw AS prev_r,
      |    max(r) OVER (PARTITION BY event_type) AS total,
      |    max(CASE WHEN le < CAST('inf' AS DOUBLE) THEN le END)
      |      OVER (PARTITION BY event_type) AS max_finite
      |  FROM rated
      |  WINDOW pw AS (PARTITION BY event_type ORDER BY le))
      |SELECT event_type,
      |  round(CASE
      |    WHEN le = CAST('inf' AS DOUBLE) THEN max_finite
      |    WHEN prev_le IS NULL AND le <= 0 THEN le
      |    WHEN r = coalesce(prev_r, 0) THEN CAST('nan' AS DOUBLE)
      |    ELSE coalesce(prev_le, 0) + (le - coalesce(prev_le, 0)) *
      |      (0.9 * total - coalesce(prev_r, 0)) / (r - coalesce(prev_r, 0))
      |  END, 6) AS q90_rate
      |FROM w
      |WHERE r >= 0.9 * total
      |  AND (prev_r IS NULL OR prev_r < 0.9 * total)
      |ORDER BY event_type""".stripMargin)

  private def tsLabelNames(s: SparkSession, dir: String): DataFrame =
    queryable(s, dir).labelNames(Matcher.Eq("event_type", "error"))
  query("ts_label_names", tsLabelNames,
    """SELECT label_name FROM (
      |  SELECT 'event_type' AS label_name, count(event_type) AS c
      |  FROM events WHERE event_type = 'error'
      |  UNION ALL
      |  SELECT 'user_id', count(user_id) FROM events WHERE event_type = 'error')
      |WHERE c > 0
      |ORDER BY label_name""".stripMargin)

  private def tsLabelValues(s: SparkSession, dir: String): DataFrame =
    queryable(s, dir).labelValues("event_type",
      Seq(Matcher.Re("event_type", ".+")), limit = 3)
  query("ts_label_values", tsLabelValues,
    """SELECT CAST(event_type AS VARCHAR) AS label_value
      |FROM (SELECT DISTINCT event_type FROM events
      |      WHERE event_type IS NOT NULL AND event_type <> '')
      |ORDER BY label_value
      |LIMIT 3""".stripMargin)

  /** Exact per-label cardinality under a matcher
    * ([[graft.tsdb.TsdbQueryable.labelCardinality]]); the HLL
    * variant is spec-pinned within 5% on the same fixture.
    */
  private def tsLabelCardinality(s: SparkSession, dir: String): DataFrame =
    queryable(s, dir).labelCardinality(
      Seq(graft.tsdb.Matcher.Nre("event_type", "err.*")))
  // negated-regex matcher replayed (RE2/Java-identical pattern),
  // one count(DISTINCT) per label column
  query("ts_label_cardinality", tsLabelCardinality,
    """WITH m AS (
      |  SELECT event_type, user_id FROM events
      |  WHERE NOT regexp_full_match(coalesce(event_type, ''), 'err.*'))
      |SELECT 'event_type' AS label_name,
      |  CAST(count(DISTINCT event_type) AS BIGINT) AS cardinality FROM m
      |UNION ALL
      |SELECT 'user_id', CAST(count(DISTINCT user_id) AS BIGINT) FROM m
      |ORDER BY label_name""".stripMargin)

  private val labelIndex: Fixture = fixture("labelidx") { (s, dir) =>
    graft.tsdb.LabelIndexStore.write(t(s, dir, "events"), labelIndex.path(dir),
      Seq("event_type", "user_id"), "ts")
  }

  /** `event_type`'s values, every label name and every label's
    * cardinality as one (kind, label_name, detail) table. */
  private def labelMetadata(q: TsdbQueryable): DataFrame = {
    val values = q.labelValues("event_type")
      .select(lit("value").as("kind"), lit("event_type").as("label_name"),
        col("label_value").as("detail"))
    val names = q.labelNames()
      .select(lit("name").as("kind"), col("label_name"),
        lit("").as("detail"))
    val card = q.labelCardinality()
      .select(lit("cardinality").as("kind"), col("label_name"),
        col("cardinality").cast("string").as("detail"))
    values.unionByName(names).unionByName(card)
      .orderBy("kind", "label_name", "detail")
  }

  /** All three label-metadata paths served from the MATERIALIZED
    * LABEL INDEX ([[tsdb.LabelIndexStore]] — the reference reads
    * LabelValues/LabelNames from parquet DICTIONARY pages without
    * touching data pages, materialize.go:320,358; Spark has no
    * dictionary-only scan, so the index materializes the same
    * information once, per time bucket). The unmatched enumeration —
    * Grafana's autocomplete shape — routes through index rows;
    * results must be IDENTICAL to the raw distinct-scans (the oracle
    * runs those raw scans), and PlanAudit asserts the compiled plan
    * reads the index only, raw events absent. At 100 TB:
    * `label_values(user_id)` reads buckets × labels × distinct
    * values index rows instead of a full column of every sample.
    */
  private def tsLabelValuesIndexed(s: SparkSession, dir: String): DataFrame = {
    val p = labelIndex(s, dir)
    labelMetadata(queryable(s, dir)
      .withLabelIndex(graft.tsdb.LabelIndexStore.read(s, p)))
  }
  // the index-served label metadata: the oracle runs the RAW
  // distinct-scans the index must reproduce exactly
  query("ts_label_values_indexed", tsLabelValuesIndexed,
    """WITH vals AS (
      |  SELECT 'value' AS kind, 'event_type' AS label_name,
      |    CAST(event_type AS VARCHAR) AS detail
      |  FROM (SELECT DISTINCT event_type FROM events
      |        WHERE event_type IS NOT NULL)),
      |names AS (
      |  SELECT 'name' AS kind, label_name, '' AS detail FROM (
      |    SELECT 'event_type' AS label_name, count(event_type) AS c
      |    FROM events
      |    UNION ALL
      |    SELECT 'user_id', count(user_id) FROM events)
      |  WHERE c > 0),
      |card AS (
      |  SELECT 'cardinality' AS kind, label_name,
      |    CAST(c AS VARCHAR) AS detail FROM (
      |    SELECT 'event_type' AS label_name,
      |      count(DISTINCT event_type) AS c FROM events
      |    UNION ALL
      |    SELECT 'user_id', count(DISTINCT user_id) FROM events))
      |SELECT * FROM vals
      |UNION ALL SELECT * FROM names
      |UNION ALL SELECT * FROM card
      |ORDER BY kind, label_name, detail""".stripMargin)

  /** RANGE-SCOPED label metadata — the reference QUERIER model
    * (queryable/parquet_queryable.go:153 constructs per-(mint, maxt)
    * queriers; LabelValues/LabelNames answer within that range):
    * [[graft.tsdb.TsdbQueryable.scopedTo]] scopes every path to
    * [Jan 5, Jan 20), and because the range aligns to whole index
    * buckets the enumeration still routes through the materialized
    * label index (bucket-pruned — at 100 TB a one-week label probe
    * reads seven buckets' index rows). The oracle runs the raw
    * distinct-scans restricted to the same range; PlanAudit asserts
    * the scoped plan reads the index only.
    */
  private def tsLabelValuesRanged(s: SparkSession, dir: String): DataFrame = {
    val p = labelIndex(s, dir)
    labelMetadata(queryable(s, dir)
      .withLabelIndex(graft.tsdb.LabelIndexStore.read(s, p))
      .scopedTo(1704412800000L, 1705708800000L)) // [Jan 5, Jan 20)
  }
  // the querier-scoped enumeration: raw distinct-scans restricted
  // to the same [Jan 5, Jan 20) range the scoped queryable holds
  query("ts_label_values_ranged", tsLabelValuesRanged,
    """WITH e AS (
      |  SELECT * FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-20'),
      |vals AS (
      |  SELECT 'value' AS kind, 'event_type' AS label_name,
      |    CAST(event_type AS VARCHAR) AS detail
      |  FROM (SELECT DISTINCT event_type FROM e
      |        WHERE event_type IS NOT NULL)),
      |names AS (
      |  SELECT 'name' AS kind, label_name, '' AS detail FROM (
      |    SELECT 'event_type' AS label_name, count(event_type) AS c
      |    FROM e
      |    UNION ALL
      |    SELECT 'user_id', count(user_id) FROM e)
      |  WHERE c > 0),
      |card AS (
      |  SELECT 'cardinality' AS kind, label_name,
      |    CAST(c AS VARCHAR) AS detail FROM (
      |    SELECT 'event_type' AS label_name,
      |      count(DISTINCT event_type) AS c FROM e
      |    UNION ALL
      |    SELECT 'user_id', count(DISTINCT user_id) FROM e))
      |SELECT * FROM vals
      |UNION ALL SELECT * FROM names
      |UNION ALL SELECT * FROM card
      |ORDER BY kind, label_name, detail""".stripMargin)

  private def tsLastPoint(s: SparkSession, dir: String): DataFrame =
    PromOps.lastPoint(t(s, dir, "events"), Seq("event_type", "user_id"),
        "ts", tieBreak = Seq("event_id"))
      .select(col("event_type"), col("user_id"), ms(col("ts")).as("ts_ms"),
        col("value"), col("event_id"))
      .orderBy("event_type", "user_id")
  query("ts_last_point", tsLastPoint,
    """SELECT event_type, user_id, epoch_ms(ts) AS ts_ms, value, event_id
      |FROM (SELECT *, row_number() OVER (PARTITION BY event_type, user_id
      |                                   ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events)
      |WHERE rn = 1
      |ORDER BY event_type, user_id""".stripMargin)

  private def tsRate(s: SparkSession, dir: String): DataFrame =
    PromOps.rate(t(s, dir, "events"), Seq("event_type", "user_id"),
        "ts", "value", rangeSeconds = 2592000.0, tieBreak = Seq("event_id"))
      .select(col("event_type"), col("user_id"),
        round(col("increase"), 4).as("increase"), col("samples"),
        round(col("rate"), 10).as("rate"))
      .orderBy("event_type", "user_id")
  query("ts_rate", tsRate,
    """WITH d AS (
      |  SELECT event_type, user_id, value,
      |    lag(value) OVER (PARTITION BY event_type, user_id
      |                     ORDER BY ts, event_id) AS prev
      |  FROM events)
      |SELECT event_type, user_id,
      |  round(CAST(sum(CASE WHEN prev IS NULL THEN 0.0
      |                      WHEN value >= prev THEN value - prev
      |                      ELSE value END) AS DOUBLE), 4) AS increase,
      |  count(*) AS samples,
      |  round(CAST(sum(CASE WHEN prev IS NULL THEN 0.0
      |                      WHEN value >= prev THEN value - prev
      |                      ELSE value END) AS DOUBLE) / 2592000.0, 10) AS rate
      |FROM d
      |GROUP BY event_type, user_id
      |ORDER BY event_type, user_id""".stripMargin)

  private def tsInstantAlign(s: SparkSession, dir: String): DataFrame =
    PromOps.alignToSteps(t(s, dir, "events"), Seq("event_type", "user_id"),
        "ts", "value", "2024-01-01", "2024-01-08",
        stepMs = 21600000L, lookbackMs = 43200000L)
      .orderBy("event_type", "user_id", "step_ms")
  query("ts_instant_align", tsInstantAlign,
    """WITH steps AS (SELECT unnest(range(0, 29)) AS i),
      |samp AS (SELECT event_type, user_id, epoch_ms(ts) AS ts_ms, value
      |         FROM events),
      |joined AS (
      |  SELECT event_type, user_id,
      |    1704067200000 + i * 21600000 AS step_ms, ts_ms, value
      |  FROM samp, steps
      |  WHERE ts_ms <= 1704067200000 + i * 21600000
      |    AND 1704067200000 + i * 21600000 < ts_ms + 43200000)
      |SELECT event_type, user_id, step_ms, ts_ms, value FROM (
      |  SELECT event_type, user_id, step_ms, ts_ms, value,
      |    row_number() OVER (PARTITION BY event_type, user_id, step_ms
      |                       ORDER BY ts_ms DESC, value DESC) AS rn
      |  FROM joined)
      |WHERE rn = 1
      |ORDER BY event_type, user_id, step_ms""".stripMargin)

  private def tsAggBy(s: SparkSession, dir: String): DataFrame =
    PromOps.aggregateBy(t(s, dir, "events"), Seq("event_type"), "ts", "value", "day")
      .select(col("event_type"), ms(col("bucket")).as("bucket_ms"),
        round(col("sum_value"), 4).as("sum_value"),
        col("min_value"), col("max_value"), col("n_series_samples"))
      .orderBy("event_type", "bucket_ms")
  query("ts_agg_by", tsAggBy,
    """SELECT event_type, epoch_ms(date_trunc('day', ts)) AS bucket_ms,
      |  round(CAST(sum(value) AS DOUBLE), 4) AS sum_value,
      |  min(value) AS min_value, max(value) AS max_value,
      |  count(*) AS n_series_samples
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY event_type, bucket_ms""".stripMargin)

  /** PromQL `quantile/avg/stddev by (event_type)` at day grain —
    * the cross-series distributional aggregators over
    * [[PromOps.aggregateDistBy]]. avg stays unrounded (exact decimal
    * sum → one double quotient, bitwise identical cross-engine). */
  private def tsAggQuantile(s: SparkSession, dir: String): DataFrame =
    PromOps.aggregateDistBy(t(s, dir, "events"), Seq("event_type"),
        "ts", "value", "day", q = 0.5)
      .select(col("event_type"), ms(col("bucket")).as("bucket_ms"),
        round(col("quantile"), 6).as("q50"), col("avg_value"),
        round(col("stddev_value"), 8).as("stddev_value"), col("n_samples"))
      .orderBy("event_type", "bucket_ms")
  // replays aggregateDistBy: quantile_cont ≡ Spark percentile,
  // exact-decimal mean, stdvarOverTime's population-variance widths
  query("ts_agg_quantile", tsAggQuantile,
    """WITH y AS (
      |  SELECT event_type, date_trunc('day', ts) AS bucket, value,
      |    CAST(value AS DECIMAL(18,8)) AS yd
      |  FROM events),
      |a AS (
      |  SELECT event_type, bucket,
      |    quantile_cont(value, 0.5) AS q50raw,
      |    CAST(count(*) AS DECIMAL(6,0)) AS n,
      |    CAST(sum(yd) AS DECIMAL(16,8)) AS sy,
      |    CAST(sum(CAST(CAST(yd AS DECIMAL(19,8)) * yd AS DECIMAL(30,16)))
      |      AS DECIMAL(31,16)) AS syy,
      |    CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS sv,
      |    count(*) AS n_samples
      |  FROM y GROUP BY 1, 2)
      |SELECT event_type, epoch_ms(bucket) AS bucket_ms,
      |  round(q50raw, 6) AS q50,
      |  sv / n_samples AS avg_value,
      |  round(sqrt(CAST(CAST(n * syy - CAST(sy AS DECIMAL(19,8)) * sy
      |               AS DECIMAL(36,16)) AS DOUBLE)
      |             / CAST(n * n AS DOUBLE)), 8) AS stddev_value,
      |  n_samples
      |FROM a
      |ORDER BY event_type, bucket_ms""".stripMargin)

  private def tsResets(s: SparkSession, dir: String): DataFrame =
    PromOps.resets(t(s, dir, "events"), Seq("event_type", "user_id"),
        "ts", "value", tieBreak = Seq("event_id"))
      .orderBy("event_type", "user_id")
  query("ts_resets", tsResets,
    """SELECT event_type, user_id,
      |  CAST(sum(CASE WHEN value < prev THEN 1 ELSE 0 END) AS BIGINT) AS resets
      |FROM (SELECT event_type, user_id, value,
      |        lag(value) OVER (PARTITION BY event_type, user_id
      |                         ORDER BY ts, event_id) AS prev
      |      FROM events)
      |GROUP BY event_type, user_id
      |ORDER BY event_type, user_id""".stripMargin)

  private def tsDelta(s: SparkSession, dir: String): DataFrame =
    PromOps.delta(t(s, dir, "events"), Seq("event_type", "user_id"),
        "ts", "value", tieBreak = Seq("event_id"))
      .select(col("event_type"), col("user_id"), round(col("delta"), 4).as("delta"))
      .orderBy("event_type", "user_id")
  query("ts_delta", tsDelta,
    """SELECT event_type, user_id, round(lastv - firstv, 4) AS delta
      |FROM (SELECT event_type, user_id,
      |        first_value(value) OVER w AS firstv,
      |        last_value(value) OVER w AS lastv,
      |        row_number() OVER w AS rn
      |      FROM events
      |      WINDOW w AS (PARTITION BY event_type, user_id
      |                   ORDER BY ts, event_id
      |                   ROWS BETWEEN UNBOUNDED PRECEDING
      |                   AND UNBOUNDED FOLLOWING))
      |WHERE rn = 1
      |ORDER BY event_type, user_id""".stripMargin)

  private def tsDownsample(s: SparkSession, dir: String): DataFrame =
    PromOps.downsample(t(s, dir, "events"), Seq("event_type", "user_id"),
        "ts", "value", "day")
      .select(col("event_type"), col("user_id"), ms(col("bucket")).as("bucket_ms"),
        col("avg_value"), col("max_value"), col("n_samples"))
      .orderBy("event_type", "user_id", "bucket_ms")
  query("ts_downsample", tsDownsample,
    """SELECT event_type, user_id,
      |  epoch_ms(date_trunc('day', ts)) AS bucket_ms,
      |  CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) / count(*) AS avg_value,
      |  max(value) AS max_value, count(*) AS n_samples
      |FROM events
      |GROUP BY 1, 2, 3
      |ORDER BY event_type, user_id, bucket_ms""".stripMargin)

  private def tsTopkSeries(s: SparkSession, dir: String): DataFrame =
    PromOps.topKSeries(t(s, dir, "events"), Seq("event_type"),
        Seq("user_id"), "value", k = 3)
      .select(col("event_type"), col("user_id"),
        round(col("sum_value"), 4).as("sum_value"), col("rank"))
      .orderBy("event_type", "rank")
  query("ts_topk_series", tsTopkSeries,
    """SELECT event_type, user_id, round(sum_value, 4) AS sum_value, "rank"
      |FROM (
      |  SELECT event_type, user_id,
      |    CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS sum_value,
      |    CAST(row_number() OVER (PARTITION BY event_type
      |      ORDER BY CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) DESC,
      |               user_id) AS BIGINT) AS "rank"
      |  FROM events
      |  GROUP BY event_type, user_id)
      |WHERE "rank" <= 3
      |ORDER BY event_type, "rank"""".stripMargin)

  private def tsCountValues(s: SparkSession, dir: String): DataFrame =
    PromOps.countValues(t(s, dir, "events"), Seq("event_type"), "value")
      .orderBy("event_type", "value")
  query("ts_count_values", tsCountValues,
    """SELECT event_type, value, count(*) AS n_samples
      |FROM events
      |GROUP BY event_type, value
      |ORDER BY event_type, value""".stripMargin)

  private def tsQuantile(s: SparkSession, dir: String): DataFrame =
    PromOps.quantileOverTime(t(s, dir, "events"),
        Seq("event_type", "user_id"), "value", 0.9)
      .select(col("event_type"), col("user_id"),
        round(col("quantile"), 6).as("q90"), col("samples"))
      .orderBy("event_type", "user_id")
  query("ts_quantile", tsQuantile,
    """SELECT event_type, user_id,
      |  round(quantile_cont(value, 0.9), 6) AS q90,
      |  count(*) AS samples
      |FROM events
      |GROUP BY event_type, user_id
      |ORDER BY event_type, user_id""".stripMargin)

  /** PromQL vector matching: `sum by (user_id) (click) / sum by
    * (user_id) (view)` — binary op between two instant vectors with
    * on(user_id) one-to-one matching; unmatched series drop.
    */
  private def tsRatioJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    def vec(et: String) = ev.filter(col("event_type") === et)
      .groupBy(col("user_id")).agg(dsum(col("value")).as("value"))
    PromOps.binaryOp(vec("click"), vec("view"), Seq("user_id"), "value",
        (l, r) => round(l / r, 6), outCol = "ratio")
      .orderBy("user_id")
  }
  query("ts_ratio_join", tsRatioJoin,
    """WITH c AS (
      |  SELECT user_id, CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS lv
      |  FROM events WHERE event_type = 'click' GROUP BY user_id),
      |v AS (
      |  SELECT user_id, CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS rv
      |  FROM events WHERE event_type = 'view' GROUP BY user_id)
      |SELECT user_id, round(lv / rv, 6) AS ratio
      |FROM c JOIN v USING (user_id)
      |ORDER BY user_id""".stripMargin)

  /** PromQL many-to-one vector matching — `sum by (event_type,
    * user_id)(v) / on(user_id) group_left(plan) user_total` — the
    * info-metric join idiom. The right vector is the per-user total
    * with a derived `plan` label carried onto every matched left
    * series; result = each series' share of its user's total. The
    * uniqueness guard runs distributed on the right side; Catalyst
    * broadcasts it (PlanAudit asserts the broadcast).
    */
  private def tsGroupLeft(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val left = ev.groupBy("event_type", "user_id")
      .agg(dsum(col("value")).as("value"))
    val right = ev.groupBy("user_id")
      .agg(dsum(col("value")).as("value"))
      .filter(col("value") > 0)
      .withColumn("plan", concat(lit("p"), pmod(col("user_id"), lit(3))))
    PromOps.binaryOpGroupLeft(left, right, Seq("user_id"), Seq("plan"),
        "value", (l, r) => round(l / r, 6), outCol = "share")
      .select(col("event_type"), col("user_id"), col("plan"), col("share"))
      .orderBy("event_type", "user_id")
  }
  // many-to-one vector matching: left keeps its full label set,
  // the right info vector's plan label rides along
  query("ts_group_left", tsGroupLeft,
    """WITH l AS (
      |  SELECT event_type, user_id,
      |    CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS lv
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT user_id,
      |    CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS rv
      |  FROM events GROUP BY 1
      |  HAVING CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) > 0)
      |SELECT event_type, user_id,
      |  concat('p', CAST(user_id % 3 AS VARCHAR)) AS plan,
      |  round(lv / rv, 6) AS share
      |FROM l JOIN r USING (user_id)
      |ORDER BY event_type, user_id""".stripMargin)

  /** PromQL `offset` modifier — `increase(v[7d]) / increase(v[7d]
    * offset 7d)`, the week-over-week comparison. An offset is a
    * shifted select range: both selects push their own time window
    * to the scan (partition/row-group pruning twice), each feeds
    * [[PromOps.increase]], and the two per-series vectors join
    * one-to-one on the series labels. Prev-week-zero series drop
    * (mirrored by the oracle) — PromQL would emit +Inf there.
    */
  private def tsOffsetWow(s: SparkSession, dir: String): DataFrame = {
    val q = queryable(s, dir)
    def weekInc(mint: String, maxt: String) =
      PromOps.increase(q.select(mint, maxt, Seq.empty[Matcher]),
        Seq("event_type", "user_id"), "ts", "value", tieBreak = Seq("value"))
    val cur = weekInc("2024-01-15", "2024-01-22")
    val prev = weekInc("2024-01-08", "2024-01-15")
      .filter(col("increase") > 0)
    PromOps.binaryOp(cur, prev, Seq("event_type", "user_id"), "increase",
        (l, r) => round(l / r, 6), outCol = "wow_ratio")
      .orderBy("event_type", "user_id")
  }
  // offset modifier: two range-filtered windows, each with its own
  // lag partition, positive-delta increase, week-over-week ratio
  query("ts_offset_wow", tsOffsetWow,
    """WITH cur AS (
      |  SELECT event_type, user_id,
      |    CAST(sum(CASE WHEN prev IS NULL THEN 0.0
      |                  WHEN value >= prev THEN value - prev
      |                  ELSE value END) AS DOUBLE) AS inc
      |  FROM (SELECT event_type, user_id, value,
      |          lag(value) OVER (PARTITION BY event_type, user_id
      |                           ORDER BY ts, value) AS prev
      |        FROM events
      |        WHERE ts >= TIMESTAMP '2024-01-15'
      |          AND ts < TIMESTAMP '2024-01-22')
      |  GROUP BY 1, 2),
      |prv AS (
      |  SELECT event_type, user_id,
      |    CAST(sum(CASE WHEN prev IS NULL THEN 0.0
      |                  WHEN value >= prev THEN value - prev
      |                  ELSE value END) AS DOUBLE) AS inc
      |  FROM (SELECT event_type, user_id, value,
      |          lag(value) OVER (PARTITION BY event_type, user_id
      |                           ORDER BY ts, value) AS prev
      |        FROM events
      |        WHERE ts >= TIMESTAMP '2024-01-08'
      |          AND ts < TIMESTAMP '2024-01-15')
      |  GROUP BY 1, 2
      |  HAVING CAST(sum(CASE WHEN prev IS NULL THEN 0.0
      |                       WHEN value >= prev THEN value - prev
      |                       ELSE value END) AS DOUBLE) > 0)
      |SELECT event_type, user_id, round(cur.inc / prv.inc, 6) AS wow_ratio
      |FROM cur JOIN prv USING (event_type, user_id)
      |ORDER BY event_type, user_id""".stripMargin)

  // ---- PromQL function surface widening (round 7): the evaluator-
  // side functions the reference's consumers run over Select
  // (queryable/parquet_queryable.go:283 feeds Thanos/Cortex PromQL).
  // deriv/predict_linear/stdvar use exact-decimal closed forms in
  // PromOps, so their results are order-independent — identical on
  // any cluster size and bit-comparable to the DuckDB oracle.

  private def tsChanges(s: SparkSession, dir: String): DataFrame =
    PromOps.changes(t(s, dir, "events"), Seq("event_type", "user_id"),
        "ts", "value", tieBreak = Seq("event_id"))
      .orderBy("event_type", "user_id")
  query("ts_changes", tsChanges,
    """SELECT event_type, user_id,
      |  CAST(sum(CASE WHEN prev IS NOT NULL AND value <> prev
      |               THEN 1 ELSE 0 END) AS BIGINT) AS changes
      |FROM (SELECT event_type, user_id, value,
      |        lag(value) OVER (PARTITION BY event_type, user_id
      |                         ORDER BY ts, event_id) AS prev
      |      FROM events)
      |GROUP BY event_type, user_id
      |ORDER BY event_type, user_id""".stripMargin)

  private def tsIrate(s: SparkSession, dir: String): DataFrame =
    PromOps.irate(t(s, dir, "events"), Seq("event_type", "user_id"),
        "ts", "value", tieBreak = Seq("event_id"))
      .select(col("event_type"), col("user_id"),
        round(col("irate"), 10).as("irate"))
      .orderBy("event_type", "user_id")
  query("ts_irate", tsIrate,
    """WITH o AS (
      |  SELECT event_type, user_id, value, epoch_ms(ts) AS ts_ms,
      |    row_number() OVER w AS rn,
      |    lead(value) OVER w AS pv,
      |    lead(epoch_ms(ts)) OVER w AS pt
      |  FROM events
      |  WINDOW w AS (PARTITION BY event_type, user_id
      |               ORDER BY ts DESC, event_id DESC))
      |SELECT event_type, user_id,
      |  round((CASE WHEN value >= pv THEN value - pv ELSE value END)
      |        / ((ts_ms - pt) / 1000.0), 10) AS irate
      |FROM o
      |WHERE rn = 1 AND pv IS NOT NULL AND ts_ms - pt > 0
      |ORDER BY event_type, user_id""".stripMargin)

  /** Prometheus's PRODUCTION `rate()`/`increase()` — boundary
    * extrapolation with the average-spacing threshold and the
    * counter-zero guard ([[PromOps.extrapolatedRate]]) — over the
    * range [2024-01-01, 2024-02-01). The oracle replays the whole
    * extrapolation ladder step for step, so the hash proves parity
    * with the exact semantics a Prometheus server returns.
    */
  private def tsRateExtrapolated(s: SparkSession, dir: String): DataFrame =
    PromOps.extrapolatedRate(
        t(s, dir, "events")
          .filter(col("ts") >= lit("2024-01-01").cast("timestamp") &&
            col("ts") < lit("2024-02-01").cast("timestamp")),
        Seq("event_type", "user_id"), "ts", "value",
        startMs = 1704067200000L, endMs = 1706745600000L,
        tieBreak = Seq("event_id"))
      .select(col("event_type"), col("user_id"),
        // explicit floor(x·10^k + 0.5)/10^k on BOTH engines instead
        // of round(): the ladder algebraically lands on exact .5
        // decimal boundaries (inc + first_v + inc/(2(n−1)) with 2dp
        // inputs), where Spark's BigDecimal HALF_UP and DuckDB's
        // multiply-then-round disagree on the same double
        (floor(col("increase") * 1e4 + 0.5) / 1e4).as("increase"),
        (floor(col("rate") * 1e10 + 0.5) / 1e10).as("rate"),
        col("samples"))
      .orderBy("event_type", "user_id")
  // replays PromOps.extrapolatedRate's full ladder: positive-delta
  // increase in exact decimal, then sampled/avg-spacing/threshold/
  // zero-guard extrapolation in the same IEEE op order
  query("ts_rate_extrapolated", tsRateExtrapolated,
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
      |  SELECT event_type, user_id, inc, n, sampled, avg_sp, to_end,
      |    avg_sp * 1.1 AS threshold,
      |    least(CASE WHEN inc > 0 AND first_v >= 0
      |               THEN sampled * (first_v / inc)
      |               ELSE to_start_raw END, to_start_raw) AS to_start
      |  FROM ext)
      |SELECT event_type, user_id,
      |  floor(inc * ((sampled
      |      + (CASE WHEN to_start < threshold THEN to_start ELSE avg_sp / 2 END)
      |      + (CASE WHEN to_end < threshold THEN to_end ELSE avg_sp / 2 END))
      |    / sampled) * 10000 + 0.5) / 10000 AS increase,
      |  floor(inc * ((sampled
      |      + (CASE WHEN to_start < threshold THEN to_start ELSE avg_sp / 2 END)
      |      + (CASE WHEN to_end < threshold THEN to_end ELSE avg_sp / 2 END))
      |    / sampled) / 2678400.0 * 10000000000 + 0.5) / 10000000000 AS rate,
      |  n AS samples
      |FROM fin
      |ORDER BY event_type, user_id""".stripMargin)

  private def tsIdelta(s: SparkSession, dir: String): DataFrame =
    PromOps.idelta(t(s, dir, "events"), Seq("event_type", "user_id"),
        "ts", "value", tieBreak = Seq("event_id"))
      .select(col("event_type"), col("user_id"),
        round(col("idelta"), 4).as("idelta"))
      .orderBy("event_type", "user_id")
  query("ts_idelta", tsIdelta,
    """WITH o AS (
      |  SELECT event_type, user_id, value,
      |    row_number() OVER w AS rn,
      |    lead(value) OVER w AS pv
      |  FROM events
      |  WINDOW w AS (PARTITION BY event_type, user_id
      |               ORDER BY ts DESC, event_id DESC))
      |SELECT event_type, user_id, round(value - pv, 4) AS idelta
      |FROM o
      |WHERE rn = 1 AND pv IS NOT NULL
      |ORDER BY event_type, user_id""".stripMargin)

  private def tsDeriv(s: SparkSession, dir: String): DataFrame =
    PromOps.deriv(t(s, dir, "events"), Seq("event_type", "user_id"),
        "ts", "value", originMs = 1704067200000L)
      .select(col("event_type"), col("user_id"),
        round(col("deriv"), 12).as("deriv"))
      .orderBy("event_type", "user_id")
  // replays PromOps.regression's exact-decimal closed form:
  // x = ms since 2024-01-01 as DECIMAL(12,0), y = DECIMAL(18,8),
  // slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) per ms, ×1000 → per sec
  query("ts_deriv", tsDeriv,
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
      |          CAST(epoch_ms(ts) - 1704067200000 AS DECIMAL(12,0)) AS x,
      |          CAST(value AS DECIMAL(18,8)) AS y
      |        FROM events)
      |  GROUP BY 1, 2),
      |d AS (
      |  SELECT event_type, user_id,
      |    CAST(n * sxy - sx * sy AS DECIMAL(36,8)) AS num,
      |    CAST(n * sxx - CAST(sx AS DECIMAL(19,0)) * sx AS DECIMAL(35,0)) AS den
      |  FROM s WHERE n >= 2)
      |SELECT event_type, user_id,
      |  round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1000.0, 12) AS deriv
      |FROM d WHERE den <> 0
      |ORDER BY event_type, user_id""".stripMargin)

  /** predict_linear(v[30d], 7d) evaluated at 2024-01-31. */
  private def tsPredictLinear(s: SparkSession, dir: String): DataFrame =
    PromOps.predictLinear(t(s, dir, "events"), Seq("event_type", "user_id"),
        "ts", "value", evalMs = 1706659200000L, horizonMs = 604800000L,
        originMs = 1704067200000L)
      .select(col("event_type"), col("user_id"),
        round(col("predicted"), 6).as("predicted"))
      .orderBy("event_type", "user_id")
  // same regression sums; intercept at x=0 (2024-01-01), prediction
  // at x = epoch_ms('2024-02-07') − origin = 3196800000
  query("ts_predict_linear", tsPredictLinear,
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
      |          CAST(epoch_ms(ts) - 1704067200000 AS DECIMAL(12,0)) AS x,
      |          CAST(value AS DECIMAL(18,8)) AS y
      |        FROM events)
      |  GROUP BY 1, 2),
      |d AS (
      |  SELECT event_type, user_id, n, sx, sy,
      |    CAST(CAST(n * sxy - sx * sy AS DECIMAL(36,8)) AS DOUBLE)
      |      / CAST(CAST(n * sxx - CAST(sx AS DECIMAL(19,0)) * sx
      |              AS DECIMAL(35,0)) AS DOUBLE) AS slope_ms
      |  FROM s
      |  WHERE n >= 2 AND CAST(n * sxx - CAST(sx AS DECIMAL(19,0)) * sx
      |                     AS DECIMAL(35,0)) <> 0)
      |SELECT event_type, user_id,
      |  round((CAST(sy AS DOUBLE) - slope_ms * CAST(sx AS DOUBLE))
      |          / CAST(n AS DOUBLE)
      |        + slope_ms * 3196800000.0, 6) AS predicted
      |FROM d
      |ORDER BY event_type, user_id""".stripMargin)

  private def tsStddevOverTime(s: SparkSession, dir: String): DataFrame =
    PromOps.stdvarOverTime(t(s, dir, "events"),
        Seq("event_type", "user_id"), "value")
      .select(col("event_type"), col("user_id"),
        round(col("stdvar"), 8).as("stdvar"),
        round(col("stddev"), 8).as("stddev"), col("samples"))
      .orderBy("event_type", "user_id")
  // replays PromOps.stdvarOverTime: population variance over exact
  // decimal sums, (nΣy² − (Σy)²)/n²
  query("ts_stddev_over_time", tsStddevOverTime,
    """WITH s AS (
      |  SELECT event_type, user_id,
      |    CAST(count(*) AS DECIMAL(6,0)) AS n,
      |    CAST(sum(y) AS DECIMAL(16,8)) AS sy,
      |    CAST(sum(CAST(CAST(y AS DECIMAL(19,8)) * y AS DECIMAL(30,16)))
      |      AS DECIMAL(31,16)) AS syy
      |  FROM (SELECT event_type, user_id,
      |          CAST(value AS DECIMAL(18,8)) AS y FROM events)
      |  GROUP BY 1, 2)
      |SELECT event_type, user_id,
      |  round(CAST(CAST(n * syy - CAST(sy AS DECIMAL(19,8)) * sy
      |          AS DECIMAL(36,16)) AS DOUBLE)
      |        / CAST(n * n AS DOUBLE), 8) AS stdvar,
      |  round(sqrt(CAST(CAST(n * syy - CAST(sy AS DECIMAL(19,8)) * sy
      |          AS DECIMAL(36,16)) AS DOUBLE)
      |        / CAST(n * n AS DOUBLE)), 8) AS stddev,
      |  CAST(n AS BIGINT) AS samples
      |FROM s
      |ORDER BY event_type, user_id""".stripMargin)

  private def tsBottomkSeries(s: SparkSession, dir: String): DataFrame =
    PromOps.bottomKSeries(t(s, dir, "events"), Seq("event_type"),
        Seq("user_id"), "value", k = 3)
      .select(col("event_type"), col("user_id"),
        round(col("sum_value"), 4).as("sum_value"), col("rank"))
      .orderBy("event_type", "rank")
  query("ts_bottomk_series", tsBottomkSeries,
    """SELECT event_type, user_id, round(sum_value, 4) AS sum_value, "rank"
      |FROM (
      |  SELECT event_type, user_id,
      |    CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS sum_value,
      |    CAST(row_number() OVER (PARTITION BY event_type
      |      ORDER BY CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) ASC,
      |               user_id) AS BIGINT) AS "rank"
      |  FROM events
      |  GROUP BY event_type, user_id)
      |WHERE "rank" <= 3
      |ORDER BY event_type, "rank"""".stripMargin)

  /** label_replace(v, "cohort", "$1", user_id, "(\d)\d*") — derive a
    * coarse cohort label from the first digit of the user id, then
    * aggregate by it (the relabel-then-aggregate pattern Prometheus
    * users run); narrow codegen'd projection, one agg shuffle.
    */
  private def tsLabelReplace(s: SparkSession, dir: String): DataFrame = {
    val withSrc = t(s, dir, "events")
      .withColumn("_uid", col("user_id").cast("string"))
    PromOps.labelReplace(withSrc, "cohort", "_uid", "(\\d)\\d*")
      .groupBy("cohort")
      .agg(count(lit(1)).as("n"), round(dsum(col("value")), 4).as("sum_value"))
      .orderBy("cohort")
  }
  query("ts_label_replace", tsLabelReplace,
    """SELECT regexp_extract(CAST(user_id AS VARCHAR),
      |         '^(?:(\d)\d*)$', 1) AS cohort,
      |  count(*) AS n,
      |  round(CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE), 4)
      |    AS sum_value
      |FROM events
      |GROUP BY 1
      |ORDER BY cohort""".stripMargin)

  /** label_join(v, "series_key", "/", event_type, user_id) then
    * aggregate by the joined key — the relabel idiom for flattening
    * a multi-label series identity into one routing key. */
  private def tsLabelJoin(s: SparkSession, dir: String): DataFrame =
    PromOps.labelJoin(t(s, dir, "events"), "series_key", "/",
        Seq("event_type", "user_id"))
      .groupBy("series_key")
      .agg(count(lit(1)).as("n"), round(dsum(col("value")), 4).as("sum_value"))
      .orderBy("series_key")
  query("ts_label_join", tsLabelJoin,
    """SELECT concat(event_type, '/', CAST(user_id AS VARCHAR))
      |    AS series_key,
      |  count(*) AS n,
      |  round(CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE), 4)
      |    AS sum_value
      |FROM events
      |GROUP BY 1
      |ORDER BY series_key""".stripMargin)

  /** absent(nonexistent_series[, range]) → the 1-row vector. */
  private def tsAbsent(s: SparkSession, dir: String): DataFrame =
    PromOps.absent(queryable(s, dir)
      .select("2024-01-01", "2024-02-01", Matcher.Eq("event_type", "no_such_type")))
  query("ts_absent", tsAbsent,
    """SELECT CAST(1.0 AS DOUBLE) AS value
      |WHERE (SELECT count(*) FROM events
      |       WHERE event_type = 'no_such_type'
      |         AND ts >= TIMESTAMP '2024-01-01'
      |         AND ts < TIMESTAMP '2024-02-01') = 0""".stripMargin)

  private def tsClamp(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(round(dsum(PromOps.clamp(col("value"), 20.0, 80.0)), 4)
        .as("sum_clamped"), count(lit(1)).as("n_samples"))
      .select(col("event_type"), ms(col("day")).as("day_ms"),
        col("sum_clamped"), col("n_samples"))
      .orderBy("event_type", "day_ms")
  query("ts_clamp", tsClamp,
    """SELECT event_type, epoch_ms(date_trunc('day', ts)) AS day_ms,
      |  round(CAST(sum(CAST(greatest(least(value, 80.0), 20.0)
      |    AS DECIMAL(30,8))) AS DOUBLE), 4) AS sum_clamped,
      |  count(*) AS n_samples
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY event_type, day_ms""".stripMargin)

  /** PromQL subquery composition `max_over_time(rate(v[1d])[30d:1d])`:
    * per-series day-grain counter increase (consecutive-sample
    * positive deltas attributed to the later sample's day, exact
    * decimal per-day sums), each day's increase divided by the 1d
    * window, then the per-series max over the 30 days. One window
    * shuffle + two partial-aggregating shuffles on shrinking grains
    * (samples → series×days → series); at 100 TB only the first
    * touches sample rows.
    */
  private def tsSubqueryRateMax(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    t(s, dir, "events")
      .withColumn("_prev", lag(col("value"), 1).over(w))
      .withColumn("_inc",
        when(col("_prev").isNull, lit(0.0))
          .when(col("value") >= col("_prev"), col("value") - col("_prev"))
          .otherwise(col("value")))
      .groupBy(col("event_type"), col("user_id"),
        date_trunc("day", col("ts")).as("_day"))
      .agg(sum(col("_inc").cast("decimal(18,8)")).cast("double").as("_dinc"))
      .groupBy("event_type", "user_id")
      .agg(max(col("_dinc") / lit(86400.0)).as("_mr"),
        count(lit(1)).as("n_days"))
      .select(col("event_type"), col("user_id"),
        round(col("_mr"), 12).as("max_daily_rate"), col("n_days"))
      .orderBy("event_type", "user_id")
  }
  query("ts_subquery_rate_max", tsSubqueryRateMax,
    """WITH d AS (
      |  SELECT event_type, user_id, date_trunc('day', ts) AS day,
      |    CASE WHEN prev IS NULL THEN 0.0
      |         WHEN value >= prev THEN value - prev
      |         ELSE value END AS inc
      |  FROM (SELECT event_type, user_id, ts, value,
      |          lag(value) OVER (PARTITION BY event_type, user_id
      |                           ORDER BY ts, event_id) AS prev
      |        FROM events)),
      |dr AS (
      |  SELECT event_type, user_id, day,
      |    CAST(sum(CAST(inc AS DECIMAL(18,8))) AS DOUBLE) / 86400.0 AS r
      |  FROM d GROUP BY 1, 2, 3)
      |SELECT event_type, user_id, round(max(r), 12) AS max_daily_rate,
      |  count(*) AS n_days
      |FROM dr GROUP BY 1, 2
      |ORDER BY event_type, user_id""".stripMargin)

  /** PromQL scalar math functions (`abs`, `ceil`, `floor`, `sgn`,
    * `sqrt`) plus a `bool`-modifier comparison (`v > bool 50`),
    * composed inside one decimal-exact day aggregation. Only
    * IEEE-exact functions (no libm transcendentals), so both engines
    * agree bitwise before rounding.
    */
  private def tsMathFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(
        round(dsum(abs(col("value") - 50.0)), 4).as("sum_abs_dev"),
        sum(ceil(col("value"))).cast("long").as("sum_ceil"),
        sum(floor(col("value"))).cast("long").as("sum_floor"),
        sum(signum(col("value") - 50.0)).cast("long").as("sign_balance"),
        round(sqrt(dsum(col("value"))), 6).as("sqrt_sum"),
        count(when(col("value") > 50.0, 1)).as("n_above"))
      .select(col("event_type"), ms(col("day")).as("day_ms"),
        col("sum_abs_dev"), col("sum_ceil"), col("sum_floor"),
        col("sign_balance"), col("sqrt_sum"), col("n_above"))
      .orderBy("event_type", "day_ms")
  // IEEE-exact scalar functions only (abs/ceil/floor/sign/sqrt):
  // no libm transcendentals, so sums agree bitwise pre-round
  query("ts_math_funcs", tsMathFuncs,
    """SELECT event_type, epoch_ms(date_trunc('day', ts)) AS day_ms,
      |  round(CAST(sum(CAST(abs(value - 50.0) AS DECIMAL(30,8)))
      |    AS DOUBLE), 4) AS sum_abs_dev,
      |  CAST(sum(CAST(ceil(value) AS BIGINT)) AS BIGINT) AS sum_ceil,
      |  CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_floor,
      |  CAST(sum(sign(value - 50.0)) AS BIGINT) AS sign_balance,
      |  round(sqrt(CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE)), 6)
      |    AS sqrt_sum,
      |  count(CASE WHEN value > 50.0 THEN 1 END) AS n_above
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY event_type, day_ms""".stripMargin)

  /** PromQL time functions `day_of_week()` / `hour()` (0=Sunday, as
    * Prometheus defines) driving a group-by — the by-time-of-day
    * traffic profile. */
  private def tsTimeGroup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy((dayofweek(col("ts")) - 1).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hod"))
      .agg(count(lit(1)).as("n_samples"),
        round(dsum(col("value")), 4).as("sum_value"))
      .orderBy("dow", "hod")
  // Prometheus day_of_week(): 0=Sunday — DuckDB's dayofweek is
  // already 0=Sunday; Spark's is 1=Sunday, shifted in the query
  query("ts_time_group", tsTimeGroup,
    """SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
      |  CAST(hour(ts) AS BIGINT) AS hod,
      |  count(*) AS n_samples,
      |  round(CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE), 4)
      |    AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY dow, hod""".stripMargin)

  /** The `*_over_time` family completed: `sum/min/last/count_over_time`
    * per series per day window (downsample covers avg/max); last =
    * lexicographic max of (ts, tiebreak, value), mirrored by the
    * oracle's descending row_number. One partial-aggregating shuffle.
    */
  private def tsOverTimeFamily(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"), col("user_id"),
        date_trunc("day", col("ts")).as("day"))
      .agg(
        round(dsum(col("value")), 4).as("sum_v"),
        min(col("value")).as("min_v"),
        max(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("last_v"),
        count(lit(1)).as("n_samples"))
      .select(col("event_type"), col("user_id"), ms(col("day")).as("day_ms"),
        col("sum_v"), col("min_v"), col("last_v"), col("n_samples"))
      .orderBy("event_type", "user_id", "day_ms")
  // last_over_time = value at the (ts, event_id)-max sample,
  // mirrored by the descending row_number
  query("ts_over_time_family", tsOverTimeFamily,
    """WITH r AS (
      |  SELECT event_type, user_id, date_trunc('day', ts) AS day, value,
      |    row_number() OVER (PARTITION BY event_type, user_id,
      |                         date_trunc('day', ts)
      |                       ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |SELECT event_type, user_id, epoch_ms(day) AS day_ms,
      |  round(CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE), 4) AS sum_v,
      |  min(value) AS min_v,
      |  max(CASE WHEN rn = 1 THEN value END) AS last_v,
      |  count(*) AS n_samples
      |FROM r
      |GROUP BY 1, 2, 3
      |ORDER BY event_type, user_id, day_ms""".stripMargin)

  /** `double_exponential_smoothing(v, 0.5, 0.25)` per series — the
    * factors are exact binary fractions so both engines parse
    * identical doubles; the oracle replays the recurrence with a
    * recursive CTE advancing every series in lockstep. */
  private def tsHoltWinters(s: SparkSession, dir: String): DataFrame =
    PromOps.doubleExponentialSmoothing(t(s, dir, "events"),
        Seq("event_type", "user_id"), "ts", "value",
        sf = 0.5, tf = 0.25, tieBreak = Seq("event_id"))
      .select(col("event_type"), col("user_id"),
        round(col("smoothed"), 6).as("smoothed"), col("samples"))
      .orderBy("event_type", "user_id")
  // replays doubleExponentialSmoothing's recurrence with a
  // recursive CTE advancing every series in lockstep: identical
  // IEEE op trees (0.5/0.25 are exact binary fractions), so the
  // fold and the recursion agree bitwise before the 6dp round
  query("ts_holt_winters", tsHoltWinters,
    """WITH RECURSIVE samp AS (
      |  SELECT event_type, user_id, value,
      |    row_number() OVER w AS rn, count(*) OVER w2 AS n
      |  FROM events
      |  WINDOW w AS (PARTITION BY event_type, user_id ORDER BY ts, event_id),
      |    w2 AS (PARTITION BY event_type, user_id)),
      |hw AS (
      |  SELECT a.event_type, a.user_id, 2 AS i, a.n,
      |    a.value AS s0,
      |    0.5 * b2.value + 0.5 * (a.value + (b2.value - a.value)) AS s1,
      |    b2.value - a.value AS b
      |  FROM samp a JOIN samp b2 ON b2.event_type = a.event_type
      |    AND b2.user_id = a.user_id AND a.rn = 1 AND b2.rn = 2
      |  UNION ALL
      |  SELECT hw.event_type, hw.user_id, hw.i + 1, hw.n,
      |    hw.s1,
      |    0.5 * sm.value
      |      + 0.5 * (hw.s1 + (0.25 * (hw.s1 - hw.s0) + 0.75 * hw.b)),
      |    0.25 * (hw.s1 - hw.s0) + 0.75 * hw.b
      |  FROM hw JOIN samp sm ON sm.event_type = hw.event_type
      |    AND sm.user_id = hw.user_id AND sm.rn = hw.i + 1)
      |SELECT event_type, user_id, round(s1, 6) AS smoothed,
      |  n AS samples
      |FROM hw WHERE i = n
      |ORDER BY event_type, user_id""".stripMargin)

  /** PromQL `count by` / `group by` aggregators
    * ([[tsdb.PromOps.aggregateBy]] family completion): `count by
    * (event_type)` counts SERIES (distinct label sets), `group`
    * emits constant 1 per group — one aggregation, partial
    * map-side distinct.
    */
  private def tsAggCountGroup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("n_series"))
      .withColumn("group_value", lit(1.0))
      .orderBy("event_type")
  // count by = distinct series per group; group = constant 1
  query("ts_agg_count_group", tsAggCountGroup,
    """SELECT event_type,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_series,
      |  CAST(1.0 AS DOUBLE) AS group_value
      |FROM events GROUP BY event_type
      |ORDER BY event_type""".stripMargin)

  /** PromQL set operators `and` / `or` / `unless` between instant
    * vectors matched `on(user_id)` ([[tsdb.PromOps.vectorAnd]]
    * family): v1 = per-user click sums, v2 = per-user purchase sums;
    * the three results union under an `op` tag. `and`/`unless` are
    * LEFT SEMI / LEFT ANTI joins (the right side's values never
    * materialize and can never fan the left out); `or` is PromQL's
    * left-biased union (v1 plus v2's unmatched series).
    */
  private def tsSetOps(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    def vec(et: String) = ev.filter(col("event_type") === et)
      .groupBy(col("user_id")).agg(dsum(col("value")).as("value"))
    val c = vec("click")
    val p = vec("purchase")
    PromOps.vectorAnd(c, p, Seq("user_id")).withColumn("op", lit("and"))
      .unionByName(PromOps.vectorUnless(c, p, Seq("user_id"))
        .withColumn("op", lit("unless")))
      .unionByName(PromOps.vectorOr(c, p, Seq("user_id"))
        .withColumn("op", lit("or")))
      .select(col("op"), col("user_id"), col("value"))
      .orderBy("op", "user_id")
  }
  // and/unless = semi/anti membership on the match labels; or =
  // left-biased union (v1 plus v2's unmatched series)
  query("ts_set_ops", tsSetOps,
    """WITH c AS (
      |  SELECT user_id, CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS value
      |  FROM events WHERE event_type = 'click' GROUP BY user_id),
      |p AS (
      |  SELECT user_id, CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS value
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id)
      |SELECT op, user_id, value FROM (
      |  SELECT 'and' AS op, user_id, value FROM c
      |  WHERE user_id IN (SELECT user_id FROM p)
      |  UNION ALL
      |  SELECT 'unless', user_id, value FROM c
      |  WHERE user_id NOT IN (SELECT user_id FROM p)
      |  UNION ALL
      |  SELECT 'or', user_id, value FROM c
      |  UNION ALL
      |  SELECT 'or', user_id, value FROM p
      |  WHERE user_id NOT IN (SELECT user_id FROM c))
      |ORDER BY op, user_id""".stripMargin)

  /** PromQL `absent_over_time` / `present_over_time` over a step
    * grid ([[tsdb.PromOps.absentOverTime]]): a sparse selection
    * (purchases of the user_id % 50 == 7 cohort), hourly steps over
    * Jan 3–10 with a 4 h range-vector window — per step the window's
    * sample count and the absent flag. Samples map to covered steps
    * with a bounded sequence explode (window/step entries each);
    * never a per-step rescan, never a range join.
    */
  private def tsAbsentOverTime(s: SparkSession, dir: String): DataFrame = {
    val sel = t(s, dir, "events")
      .filter(col("event_type") === "purchase" &&
        pmod(col("user_id"), lit(50)) === 7)
    PromOps.absentOverTime(sel, "ts",
        startSec = 1704240000L, endSec = 1704844800L,
        stepSec = 3600L, windowSec = 14400L)
      .orderBy("step_sec")
  }
  // hourly grid Jan 3–10, 4 h window: n_samples per (t-4h, t],
  // absent flag when none — the oracle allows itself the range
  // join the operator deliberately avoids
  query("ts_absent_over_time", tsAbsentOverTime,
    """WITH grid AS (
      |  SELECT CAST(range AS BIGINT) AS step_sec
      |  FROM range(1704240000, 1704844800 + 1, 3600)),
      |sel AS (
      |  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS x FROM events
      |  WHERE event_type = 'purchase' AND user_id % 50 = 7)
      |SELECT g.step_sec, count(s.x) AS n_samples,
      |  CAST(CASE WHEN count(s.x) = 0 THEN 1.0 ELSE 0.0 END
      |    AS DOUBLE) AS absent
      |FROM grid g LEFT JOIN sel s
      |  ON s.x > g.step_sec - 14400 AND s.x <= g.step_sec
      |GROUP BY g.step_sec
      |ORDER BY g.step_sec""".stripMargin)

  /** As-of join ([[operators.AsOf.asofJoin]]): each purchase event
    * enriched with the user's most recent click at or before it —
    * the temporal-join primitive, via the union+window formulation
    * (ONE user-keyed shuffle, no join, linear per key; the naive
    * range-join form expands quadratically per key group). Clicks
    * pre-collapse to one row per (user, ts) so ties are impossible
    * by construction; DuckDB's native ASOF JOIN is the oracle.
    */
  private def tsAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("value"))
    operators.AsOf.asofJoin(purchases, clicks, Seq("user_id"),
        "ts", "ts", Seq("ts", "value"))
      .select(col("event_id"), col("user_id"), ms(col("ts")).as("ts_ms"),
        col("value"), ms(col("asof_ts")).as("click_ts_ms"),
        col("asof_value").as("click_value"))
      .orderBy("event_id")
  }
  // DuckDB's native ASOF JOIN is the oracle for the union+window
  // formulation; clicks pre-collapsed to one row per (user, ts)
  query("ts_asof_join", tsAsofJoin,
    """WITH purchases AS (
      |  SELECT event_id, user_id, ts, value FROM events
      |  WHERE event_type = 'purchase'),
      |clicks AS (
      |  SELECT user_id, ts, max(value) AS value FROM events
      |  WHERE event_type = 'click' GROUP BY user_id, ts)
      |SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS ts_ms, p.value,
      |  epoch_ms(c.ts) AS click_ts_ms, c.value AS click_value
      |FROM purchases p ASOF LEFT JOIN clicks c
      |  ON p.user_id = c.user_id AND c.ts <= p.ts
      |ORDER BY p.event_id""".stripMargin)
}
