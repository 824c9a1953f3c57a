package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tsdb.{HistChunkStore, Matcher, RollupStore}

import Shared._
import BlockShardQueries.shardHist

/** Native histograms: the table-level folds, the reset-aware rate and
  * its rollup layers, the PromQL histogram functions and the
  * histogram chunk stores.
  */
private[graft] object NativeHistQueries extends QueryFamily {

  /** Deterministic native-histogram fixture: one exponential-bucket
    * histogram SAMPLE per (series, day), buckets derived with pure
    * integer arithmetic from the series key and day ordinal so the
    * oracle re-derives every count exactly. schema=0 (base-2
    * boundaries `2^i`) keeps every boundary an exact double in both
    * engines' `pow`. Includes all-empty histograms (seed % 21 == 0)
    * to pin the NaN path cross-engine.
    */
  private def nativeHistTable(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"), col("user_id"),
        floor(unix_timestamp(col("ts")) / 86400).cast("long").as("d"))
      .distinct()
      .withColumn("seed",
        col("user_id") * 31 + col("d") * 7 + length(col("event_type")))
      .withColumn("zero_count", col("seed") % 3)
      .withColumn("pos_idx", sequence(lit(-2), lit(5)))
      .withColumn("pos_counts",
        transform(col("pos_idx"), i => (col("seed") * (i + 3)) % 7))

  /** The perceptual-hash replay as a CTE list ending in
    * `ph(media_id, b0..b7)` — shared by the mm_phash and
    * mm_phash_neardup oracles. Re-derives every aHash bit from the
    * gradient generator's modular arithmetic with pure integer math
    * (the same cross-multiplied comparison the Scala decoder uses),
    * so a hash match proves the PNG encode→decode→pool→threshold
    * loop is pixel-exact.
    */
  /** Native-histogram fixture replay: `hz(event_type, user_id, d,
    * seed, zero_count)` per series-day, `hb(…, i, cnt)` per bucket —
    * the same integer arithmetic as [[nativeHistTable]].
    */
  private val nativeHistCtes: String =
    """sd AS (
      |  SELECT DISTINCT event_type, user_id,
      |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
      |  FROM events),
      |hz AS (
      |  SELECT event_type, user_id, d,
      |    user_id * 31 + d * 7 + length(event_type) AS seed,
      |    (user_id * 31 + d * 7 + length(event_type)) % 3 AS zero_count
      |  FROM sd),
      |hb AS (
      |  SELECT event_type, user_id, d, zero_count, i,
      |    (seed * (i + 3)) % 7 AS cnt
      |  FROM hz, unnest(range(-2, 6)) AS t(i))""".stripMargin

  /** PromQL `histogram_quantile(0.9, native_histogram)`
    * ([[tsdb.NativeHistogram.histogramQuantile]]) — the reference's
    * third chunk-encoding family (EncHistogram/EncFloatHistogram,
    * schema/encoder.go:118) served to PromQL: per-row exponential-
    * bucket walk with linear in-bucket interpolation, as a NARROW
    * fold (no explode, no shuffle). The oracle replays the walk with
    * an unnest + cumulative window and the identical FP op order.
    */
  private def tsNativeHistQuantile(s: SparkSession, dir: String): DataFrame =
    nativeHistTable(s, dir)
      .select(col("event_type"), col("user_id"), col("d"),
        graft.tsdb.NativeHistogram.histogramQuantile(0.9,
          col("zero_count"), col("pos_idx"), col("pos_counts")).as("phi90"))
      .orderBy("event_type", "user_id", "d")
  // native-histogram fixture CTEs: re-derive every bucket count
  // with the same integer arithmetic, then replay the quantile
  // walk (cumulative window ≡ the Spark fold) with the identical
  // FP op order; schema-0 boundaries 2^i are exact doubles in both
  // engines' pow
  query("ts_native_hist_quantile", tsNativeHistQuantile,
    s"""WITH $nativeHistCtes,
      |r AS (
      |  SELECT event_type, user_id, d, zero_count, i, cnt,
      |    sum(cnt) OVER (PARTITION BY event_type, user_id, d ORDER BY i)
      |      + zero_count AS cum,
      |    0.9 * (sum(cnt) OVER (PARTITION BY event_type, user_id, d)
      |      + zero_count) AS rank,
      |    sum(cnt) OVER (PARTITION BY event_type, user_id, d)
      |      + zero_count AS total
      |  FROM hb),
      |pick AS (
      |  SELECT event_type, user_id, d, i, cnt, cum, rank
      |  FROM r WHERE cnt > 0 AND cum >= rank
      |  QUALIFY row_number() OVER (PARTITION BY event_type, user_id, d
      |    ORDER BY i) = 1),
      |base AS (
      |  SELECT DISTINCT event_type, user_id, d, zero_count, total, rank
      |  FROM r)
      |SELECT b.event_type, b.user_id, b.d,
      |  CASE WHEN b.total = 0 THEN CAST('nan' AS DOUBLE)
      |       WHEN b.zero_count >= b.rank THEN 0.0
      |       ELSE pow(2.0, p.i - 1) +
      |         (pow(2.0, p.i) - pow(2.0, p.i - 1)) *
      |         ((b.rank - (p.cum - p.cnt)) / p.cnt) END AS phi90
      |FROM base b
      |LEFT JOIN pick p ON b.event_type = p.event_type
      |  AND b.user_id = p.user_id AND b.d = p.d
      |ORDER BY b.event_type, b.user_id, b.d""".stripMargin)

  /** PromQL `sum by (label)` over a native-histogram vector
    * ([[tsdb.NativeHistogram.sumBy]]): bucket-wise count addition
    * across series — one hash aggregation on (label, bucket idx),
    * zero bucket rides as idx NULL.
    */
  private def tsNativeHistSum(s: SparkSession, dir: String): DataFrame = {
    val h = nativeHistTable(s, dir)
    graft.tsdb.NativeHistogram.sumBy(h, Seq("event_type"),
        "zero_count", "pos_idx", "pos_counts")
      .withColumn("count", col("count").cast("long"))
      .orderBy(col("event_type"), col("idx").asc_nulls_last)
  }
  query("ts_native_hist_sum", tsNativeHistSum,
    s"""WITH $nativeHistCtes
      |SELECT event_type, idx, count FROM (
      |  SELECT event_type, CAST(i AS INT) AS idx,
      |    CAST(sum(cnt) AS BIGINT) AS count
      |  FROM hb GROUP BY 1, 2
      |  UNION ALL
      |  SELECT event_type, CAST(NULL AS INT),
      |    CAST(sum(zero_count) AS BIGINT)
      |  FROM hz GROUP BY 1)
      |ORDER BY event_type, idx ASC NULLS LAST""".stripMargin)

  /** PromQL `histogram_fraction(1, 8, native_histogram)`
    * ([[tsdb.NativeHistogram.histogramFraction]]): bounds aligned on
    * the schema-0 bucket boundaries 2^0 and 2^3, so every bucket's
    * overlap share is exactly 0 or 1 and the result is one exact
    * integer-sum division — interpolated shares are spec-pinned
    * (NativeHistogramSpec). Zero bucket excluded (0 ∉ [1, 8]).
    */
  private def tsNativeHistFraction(s: SparkSession, dir: String): DataFrame =
    nativeHistTable(s, dir)
      .select(col("event_type"), col("user_id"), col("d"),
        graft.tsdb.NativeHistogram.histogramFraction(1.0, 8.0,
          col("zero_count"), col("pos_idx"), col("pos_counts")).as("frac"))
      .orderBy("event_type", "user_id", "d")
  // buckets 1..3 are exactly (1,2],(2,4],(4,8] — overlap share 0
  // or 1 — so the fraction is an exact integer-sum division; the
  // operator's per-bucket c*share additions stay integral doubles
  query("ts_native_hist_fraction", tsNativeHistFraction,
    s"""WITH $nativeHistCtes
      |SELECT event_type, user_id, d,
      |  CASE WHEN sum(cnt) + max(zero_count) = 0
      |       THEN CAST('nan' AS DOUBLE)
      |       ELSE CAST(sum(CASE WHEN i BETWEEN 1 AND 3 THEN cnt
      |                          ELSE 0 END) AS DOUBLE) /
      |            CAST(sum(cnt) + max(zero_count) AS DOUBLE) END AS frac
      |FROM hb
      |GROUP BY event_type, user_id, d
      |ORDER BY event_type, user_id, d""".stripMargin)

  /** PromQL `histogram_count` / `histogram_sum` / `histogram_avg`
    * over the native-histogram vector
    * ([[tsdb.NativeHistogram.histogramAvg]]): the tracked sum rides
    * as a synthetic exact-quarter column (`(seed % 400) · 0.25` —
    * every value an exact double), count folds the buckets narrow,
    * avg is their single division (NaN on empty histograms, like
    * Prometheus). All map-side; no shuffle beyond the fixture's.
    */
  private def tsNativeHistStats(s: SparkSession, dir: String): DataFrame = {
    val h = nativeHistTable(s, dir)
      .withColumn("hsum", (col("seed") % 400).cast("double") * 0.25)
    h.select(col("event_type"), col("user_id"), col("d"),
        graft.tsdb.NativeHistogram.histogramCount(
          col("zero_count"), col("pos_counts")).as("h_count"),
        col("hsum").as("h_sum"),
        graft.tsdb.NativeHistogram.histogramAvg(col("hsum"),
          col("zero_count"), col("pos_counts")).as("h_avg"))
      .orderBy("event_type", "user_id", "d")
  }
  // h_sum is the synthetic exact-quarter sum column; h_avg its one
  // division by the folded count — identical operands both engines
  query("ts_native_hist_stats", tsNativeHistStats,
    s"""WITH $nativeHistCtes,
      |tot AS (
      |  SELECT event_type, user_id, d,
      |    max(zero_count) + sum(cnt) AS h_count,
      |    CAST(max(seed) % 400 AS DOUBLE) * 0.25 AS h_sum
      |  FROM (SELECT hb.*, hz.seed FROM hb
      |        JOIN hz USING (event_type, user_id, d))
      |  GROUP BY 1, 2, 3)
      |SELECT event_type, user_id, d,
      |  CAST(h_count AS BIGINT) AS h_count, h_sum,
      |  CASE WHEN h_count = 0 THEN CAST('nan' AS DOUBLE)
      |       ELSE h_sum / CAST(h_count AS DOUBLE) END AS h_avg
      |FROM tot
      |ORDER BY event_type, user_id, d""".stripMargin)

  /** PromQL `rate(native_histogram[range])`
    * ([[tsdb.NativeHistogram.rateBy]]): bucket-wise counter rate
    * between each series' first and last histogram sample — ONE
    * series-keyed aggregation picks the snapshots, the subtraction
    * is a narrow map-side `zip_with` against a first-snapshot map
    * lookup (missing first-side buckets read 0, decreases clamp).
    * The gate explodes the rated buckets only to flatten for the
    * oracle hash.
    */
  private def tsNativeHistRate(s: SparkSession, dir: String): DataFrame = {
    val rated = graft.tsdb.NativeHistogram.rateBy(
      nativeHistCounterTable(s, dir), Seq("event_type", "user_id"),
      "t_sec", "zero_count", "pos_idx", "pos_counts")
    rated.select(col("event_type"), col("user_id"), col("dt_sec"),
        col("zero_rate"),
        explode(zip_with(col("pos_idx"), col("pos_rate"),
          (i, r) => struct(i.as("idx"), r.as("rate")))).as("b"))
      .select(col("event_type"), col("user_id"), col("dt_sec"),
        col("zero_rate"), col("b.idx").as("idx"), col("b.rate").as("rate"))
      .orderBy("event_type", "user_id", "idx")
  }
  // counter fixture: cumulative count d²·k per bucket, bucket 5
  // appears from day 19740; rate = (last−first)/Δt bucket-wise
  // with missing-first → 0 — exact integers up to one division
  query("ts_native_hist_rate", tsNativeHistRate,
    """WITH days AS (
      |  SELECT DISTINCT event_type, user_id,
      |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
      |  FROM events),
      |series AS (
      |  SELECT event_type, user_id,
      |    user_id * 31 + length(event_type) AS sseed,
      |    min(d) AS df, max(d) AS dl
      |  FROM days GROUP BY 1, 2, 3 HAVING count(*) >= 2),
      |buckets AS (
      |  SELECT s.*, CAST(i AS INT) AS idx
      |  FROM series s, unnest(range(-2, 6)) AS t(i)
      |  WHERE i <= (CASE WHEN dl >= 19740 THEN 5 ELSE 4 END))
      |SELECT event_type, user_id,
      |  CAST((dl - df) * 86400 AS DOUBLE) AS dt_sec,
      |  CAST(greatest(dl*dl*(sseed % 3) - df*df*(sseed % 3), 0) AS DOUBLE)
      |    / CAST((dl - df) * 86400 AS DOUBLE) AS zero_rate,
      |  idx,
      |  CAST(greatest(dl*dl*((sseed + idx + 3) % 5) -
      |    (CASE WHEN idx <= (CASE WHEN df >= 19740 THEN 5 ELSE 4 END)
      |          THEN df*df*((sseed + idx + 3) % 5) ELSE 0 END), 0) AS DOUBLE)
      |    / CAST((dl - df) * 86400 AS DOUBLE) AS rate
      |FROM buckets
      |ORDER BY event_type, user_id, idx""".stripMargin)

  private[queries] val nhQuantileRateSql: String =
    """WITH days AS (
      |  SELECT DISTINCT event_type, user_id,
      |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
      |  FROM events),
      |series AS (
      |  SELECT event_type, user_id,
      |    user_id * 31 + length(event_type) AS sseed,
      |    min(d) AS df, max(d) AS dl
      |  FROM days GROUP BY 1, 2, 3 HAVING count(*) >= 2),
      |zr AS (
      |  SELECT event_type, user_id,
      |    CAST(greatest(dl*dl*(sseed % 3) - df*df*(sseed % 3), 0) AS DOUBLE)
      |      / CAST((dl - df) * 86400 AS DOUBLE) AS zero_rate
      |  FROM series),
      |rates AS (
      |  SELECT event_type, user_id, CAST(i AS INT) AS idx,
      |    CAST(greatest(dl*dl*((sseed + i + 3) % 5) -
      |      (CASE WHEN i <= (CASE WHEN df >= 19740 THEN 5 ELSE 4 END)
      |            THEN df*df*((sseed + i + 3) % 5) ELSE 0 END), 0) AS DOUBLE)
      |      / CAST((dl - df) * 86400 AS DOUBLE) AS r
      |  FROM series s, unnest(range(-2, 6)) AS t(i)
      |  WHERE i <= (CASE WHEN dl >= 19740 THEN 5 ELSE 4 END)),
      |tot AS (
      |  SELECT r.event_type, r.user_id,
      |    z.zero_rate + max(r.rcum) AS total, max(r.idx) AS max_idx
      |  FROM (SELECT event_type, user_id, idx, r,
      |          sum(r) OVER (PARTITION BY event_type, user_id
      |            ORDER BY idx ROWS UNBOUNDED PRECEDING) AS rcum
      |        FROM rates) r
      |  JOIN zr z USING (event_type, user_id)
      |  GROUP BY r.event_type, r.user_id, z.zero_rate),
      |walkrows AS (
      |  SELECT event_type, user_id, -100 AS idx, zero_rate AS r FROM zr
      |  UNION ALL
      |  SELECT event_type, user_id, idx, r FROM rates),
      |walk AS (
      |  SELECT event_type, user_id, idx, r,
      |    sum(r) OVER (PARTITION BY event_type, user_id
      |      ORDER BY idx ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(r) OVER (PARTITION BY event_type, user_id
      |      ORDER BY idx ROWS BETWEEN UNBOUNDED PRECEDING
      |        AND 1 PRECEDING) AS cum_prev
      |  FROM walkrows),
      |pick AS (
      |  SELECT w.event_type, w.user_id, w.idx, w.r, w.cum, w.cum_prev
      |  FROM walk w JOIN tot t USING (event_type, user_id)
      |  WHERE w.idx > -100 AND w.r > 0 AND w.cum >= 0.9 * t.total
      |  QUALIFY row_number() OVER (PARTITION BY w.event_type, w.user_id
      |    ORDER BY w.idx) = 1)
      |SELECT t.event_type, t.user_id,
      |  CASE WHEN t.total = 0 THEN CAST('nan' AS DOUBLE)
      |       WHEN z.zero_rate >= 0.9 * t.total THEN 0.0
      |       WHEN p.idx IS NULL THEN pow(2.0, t.max_idx)
      |       ELSE pow(2.0, p.idx - 1) +
      |         (pow(2.0, p.idx) - pow(2.0, p.idx - 1)) *
      |         ((0.9 * t.total - p.cum_prev) / p.r) END AS phi90
      |FROM tot t
      |JOIN zr z USING (event_type, user_id)
      |LEFT JOIN pick p USING (event_type, user_id)
      |ORDER BY t.event_type, t.user_id""".stripMargin

  /** `histogram_quantile(0.9, rate(native_histogram[range]))` — THE
    * production native-histogram query, composed from
    * [[tsdb.NativeHistogram.rateBy]] (bucket-wise counter rate, one
    * series-keyed agg) and [[tsdb.NativeHistogram.histogramQuantile]]
    * (narrow per-row walk over the RATE vector — the quantile fold
    * is weight-agnostic, so rates work exactly like counts). The
    * oracle replays rate + walk with the same left-to-right FP
    * association (the zero bucket rides as a sentinel row so the
    * running sum brackets identically).
    */
  private def tsNativeHistQuantileRate(s: SparkSession, dir: String): DataFrame = {
    val rated = graft.tsdb.NativeHistogram.rateBy(
      nativeHistCounterTable(s, dir), Seq("event_type", "user_id"),
      "t_sec", "zero_count", "pos_idx", "pos_counts")
    rated.select(col("event_type"), col("user_id"),
        graft.tsdb.NativeHistogram.histogramQuantile(0.9,
          col("zero_rate"), col("pos_idx"), col("pos_rate")).as("phi90"))
      .orderBy("event_type", "user_id")
  }
  query("ts_native_hist_quantile_rate", tsNativeHistQuantileRate, nhQuantileRateSql)

  /** [[nativeHistCounterTable]] with a COUNTER RESET at day 19740:
    * the process restarted, so cumulative counts drop to the
    * restarted counter's `(d − 19739)² · k` curve (strictly monotone
    * within each regime, a hard decrease across the boundary —
    * every series that straddles it resets exactly once). Bucket
    * sets stay fixed (`-2..4` / `-1..2`) so the reset is the ONLY
    * discontinuity the fold sees. */
  private def nativeHistResetTable(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"), col("user_id"),
        floor(unix_timestamp(col("ts")) / 86400).cast("long").as("d"))
      .distinct()
      .withColumn("sseed", col("user_id") * 31 + length(col("event_type")))
      .withColumn("t_sec", col("d") * 86400)
      .withColumn("dd",
        when(col("d") < 19740, col("d")).otherwise(col("d") - 19739))
      .withColumn("zero_count", col("dd") * col("dd") * (col("sseed") % 3))
      .withColumn("pos_idx", sequence(lit(-2), lit(4)))
      .withColumn("pos_counts",
        transform(col("pos_idx"),
          i => col("dd") * col("dd") * ((col("sseed") + i + 3) % 5)))
      .withColumn("neg_idx", sequence(lit(-1), lit(2)))
      .withColumn("neg_counts",
        transform(col("neg_idx"),
          i => col("dd") * col("dd") * ((col("sseed") + i + 7) % 4)))

  /** RESET-AWARE `increase` over native histograms
    * ([[tsdb.NativeHistogram.increaseBySignedResets]]): the
    * per-step walk detects the day-19740 counter restart (every
    * component drops) and adds the post-reset histogram whole —
    * Prometheus's counter contract, which the first/last snapshot
    * pair would silently under-count (it clamps the drop to 0 and
    * loses the pre-reset accumulation). The oracle replays the
    * closed form per regime: `(cnt(dpre) − cnt(d0)) + cnt(d1)` for
    * straddling series, plain `cnt(d1) − cnt(d0)` otherwise. Exact
    * integers end to end; both bucket sides exercised.
    */
  /** Long-format explode of a signed NH increase frame — shared by
    * the raw-walk gate and the rollup-stitched gate so both compare
    * against the identical closed-form oracle shape.
    */
  private def explodeNhIncrease(inc: DataFrame): DataFrame =
    inc.select(col("event_type"), col("user_id"), col("dt_sec"),
        col("zero_inc"),
        explode(concat(
          zip_with(col("pos_idx"), col("pos_inc"),
            (i, v) => struct(lit("p").as("side"), i.as("i"), v.as("v"))),
          zip_with(col("neg_idx"), col("neg_inc"),
            (i, v) => struct(lit("n").as("side"), i.as("i"), v.as("v")))))
          .as("b"))
      .select(col("event_type"), col("user_id"), col("dt_sec"),
        col("zero_inc"), col("b.side").as("side"), col("b.i").as("idx"),
        col("b.v").as("inc"))
      .orderBy("event_type", "user_id", "side", "idx")

  /** The reset-aware NH counter increase in closed form over raw
    * events: the oracle of every NH increase gate, raw or stitched. */
  private val nhIncreaseSql: String =
    """WITH days AS (
      |  SELECT DISTINCT event_type, user_id,
      |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
      |  FROM events),
      |series AS (
      |  SELECT event_type, user_id,
      |    user_id * 31 + length(event_type) AS sseed,
      |    min(d) AS d0, max(d) AS d1,
      |    max(CASE WHEN d < 19740 THEN d END) AS dpre
      |  FROM days GROUP BY 1, 2, 3 HAVING count(*) >= 2),
      |base AS (
      |  SELECT *,
      |    CASE WHEN d0 < 19740 AND d1 >= 19740
      |         THEN dpre*dpre - d0*d0 + (d1-19739)*(d1-19739)
      |         WHEN d1 < 19740 THEN d1*d1 - d0*d0
      |         ELSE (d1-19739)*(d1-19739) - (d0-19739)*(d0-19739)
      |    END AS b
      |  FROM series),
      |buckets AS (
      |  SELECT e.*, s.side, CAST(s.i AS INT) AS idx,
      |    CASE WHEN s.side = 'p' THEN (sseed + s.i + 3) % 5
      |         ELSE (sseed + s.i + 7) % 4 END AS k
      |  FROM base e,
      |    (SELECT 'p' AS side, i FROM unnest(range(-2, 5)) AS t(i)
      |     UNION ALL
      |     SELECT 'n' AS side, i FROM unnest(range(-1, 3)) AS t(i)) s)
      |SELECT event_type, user_id,
      |  CAST((d1 - d0) * 86400 AS DOUBLE) AS dt_sec,
      |  CAST(b * (sseed % 3) AS DOUBLE) AS zero_inc,
      |  side, idx, CAST(b * k AS DOUBLE) AS inc
      |FROM buckets
      |ORDER BY event_type, user_id, side, idx""".stripMargin

  private def tsNhResetIncrease(s: SparkSession, dir: String): DataFrame =
    explodeNhIncrease(graft.tsdb.NativeHistogram.increaseBySignedResets(
      nativeHistResetTable(s, dir), Seq("event_type", "user_id"),
      "t_sec", "zero_count", "pos_idx", "pos_counts",
      "neg_idx", "neg_counts"))
  // reset-aware increase: the closed form per regime — straddling
  // series add the pre-reset accumulation (cnt(dpre) − cnt(d0))
  // to the restarted counter's cnt(d1); single-regime series are
  // the plain monotone delta. Exact integers scaled per bucket.
  query("ts_nh_reset_increase", tsNhResetIncrease, nhIncreaseSql)

  /** The resetting NH counter fixture as a 7-day NH rollup layer. */
  private val nhRollup: Fixture = fixture("nh_rollup") { (s, dir) =>
    graft.tsdb.HistRollupStore.write(nativeHistResetTable(s, dir), nhRollup.path(dir),
      Seq("event_type", "user_id"), "t_sec", "zero_count",
      "pos_idx", "pos_counts", "neg_idx", "neg_counts",
      resolutionSec = 7L * 86400)
  }

  /** The same reset-aware NH increase REASSEMBLED from a 7-day NH
    * rollup layer ([[tsdb.HistRollupStore.stitchedIncrease]]): the
    * oracle is the identical closed form the raw-walk gate replays,
    * so a hash match proves the within-window + boundary-step
    * decomposition loses nothing — including the day-19740 restart,
    * which lands INSIDE a window for some series and ON a boundary
    * for others. At 100 TB this is the long-range NH rate path:
    * windows-in-range rows per series instead of every sample.
    */
  private def tsNhRollupIncrease(s: SparkSession, dir: String): DataFrame = {
    val path = nhRollup(s, dir)
    explodeNhIncrease(graft.tsdb.HistRollupStore.stitchedIncrease(
      s, path, Seq("event_type", "user_id"),
      mintSec = 19600L * 86400, maxtSec = 19800L * 86400))
  }
  // stitched-from-rollups NH increase: the SAME closed form —
  // the decomposition must be invisible in the values
  query("ts_nh_rollup_increase", tsNhRollupIncrease, nhIncreaseSql)

  // reads the 7-day layer, so callers build `nhRollup` first
  private val nhRollupCascade: Fixture = fixture("nh_rollup_14d") { (s, dir) =>
    graft.tsdb.HistRollupStore.writeFrom(s, nhRollup.path(dir), nhRollupCascade.path(dir),
      Seq("event_type", "user_id"),
      fineResolutionSec = 7L * 86400, resolutionSec = 14L * 86400)
  }

  /** A 14-day NH layer CASCADED from the 7-day one
    * ([[tsdb.HistRollupStore.writeFrom]] — coarser layers never
    * rescan raw), then stitched over a 14d-aligned range covering
    * every sample. The oracle is the identical closed form the raw
    * walk and the 7d-stitched gate replay, so a hash match proves
    * the cascade composes the increase maps, boundary snapshots and
    * hints losslessly — including the day-19740 restart, which the
    * 7d→14d regrouping moves from a window seam INTO a coarse
    * window for some series.
    */
  private def tsNhRollupCascade(s: SparkSession, dir: String): DataFrame = {
    val path = nhRollup(s, dir)
    val casc = nhRollupCascade(s, dir)
    explodeNhIncrease(graft.tsdb.HistRollupStore.stitchedIncrease(
      s, casc, Seq("event_type", "user_id"),
      mintSec = 19600L * 86400, maxtSec = 19796L * 86400))
  }
  // cascaded 14d-from-7d layer, stitched: the SAME closed form
  // again — the cascade must be invisible in the values
  query("ts_nh_rollup_cascade", tsNhRollupCascade, nhIncreaseSql)

  /** rate CTEs (counter fixture re-derived in SQL) + the quantile
    * walk with the zero bucket as a sentinel row — shared VERBATIM
    * by the direct-API (`ts_native_hist_quantile_rate`) and PromQL
    * front-end (`ts_promql_nh_quantile_rate`) entries: both plans
    * must land on identical FP ops.
    */
  /** Closed-form oracle for the reset-aware NH rate gates: segment
    * the counter at the day-19740 restart — straddling series add
    * the pre-reset accumulation `(cnt(dpre) − cnt(d0))` to the
    * restarted counter's `cnt(d1)` — then count-of-rate folds each
    * bucket's increase / dt in ascending-index cumulative order with
    * the consumer's ((zero + posFold) + negFold) association. Shared
    * by the value-detection gate (`ts_promql_nh_reset_rate`, direct
    * DataFrame) and the header-driven one (`ts_promql_nh_hinted_rate`,
    * block bytes + withResetHint). */
  private val nhResetRateSql: String =
    """WITH days AS (
      |  SELECT DISTINCT event_type, user_id,
      |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
      |  FROM events),
      |series AS (
      |  SELECT event_type, user_id,
      |    user_id * 31 + length(event_type) AS sseed,
      |    min(d) AS d0, max(d) AS d1,
      |    max(CASE WHEN d < 19740 THEN d END) AS dpre
      |  FROM days GROUP BY 1, 2, 3 HAVING count(*) >= 2),
      |base AS (
      |  SELECT *,
      |    CASE WHEN d0 < 19740 AND d1 >= 19740
      |         THEN dpre*dpre - d0*d0 + (d1-19739)*(d1-19739)
      |         WHEN d1 < 19740 THEN d1*d1 - d0*d0
      |         ELSE (d1-19739)*(d1-19739) - (d0-19739)*(d0-19739)
      |    END AS b,
      |    CAST((d1 - d0) * 86400 AS DOUBLE) AS dt
      |  FROM series),
      |pw AS (
      |  SELECT event_type, user_id,
      |    sum(CAST(b * ((sseed + i + 3) % 5) AS DOUBLE) / dt)
      |      OVER (PARTITION BY event_type, user_id
      |        ORDER BY i ROWS UNBOUNDED PRECEDING) AS s
      |  FROM base, unnest(range(-2, 5)) AS t(i)
      |  QUALIFY row_number() OVER (PARTITION BY event_type, user_id
      |    ORDER BY i DESC) = 1),
      |nw AS (
      |  SELECT event_type, user_id,
      |    sum(CAST(b * ((sseed + i + 7) % 4) AS DOUBLE) / dt)
      |      OVER (PARTITION BY event_type, user_id
      |        ORDER BY i ROWS UNBOUNDED PRECEDING) AS s
      |  FROM base, unnest(range(-1, 3)) AS t(i)
      |  QUALIFY row_number() OVER (PARTITION BY event_type, user_id
      |    ORDER BY i DESC) = 1)
      |SELECT b.event_type, CAST(b.user_id AS VARCHAR) AS user_id,
      |  ((CAST(b.b * (b.sseed % 3) AS DOUBLE) / b.dt + pw.s) + nw.s)
      |    AS crate
      |FROM base b
      |JOIN pw USING (event_type, user_id)
      |JOIN nw USING (event_type, user_id)
      |ORDER BY b.event_type, CAST(b.user_id AS VARCHAR)""".stripMargin

  /** `histogram_count(rate(nh_reset[40d]))` through the PromQL
    * STRING front-end over the resetting fixture: the compiled plan
    * runs the reset-aware fold ([[tsdb.promql.PromQL]]'s histRate →
    * increaseBySignedResets), so the count visibly includes each
    * straddling series' pre-reset accumulation — a first/last
    * snapshot regression would under-count and hash-mismatch. */
  private def tsPromqlNhResetRate(s: SparkSession, dir: String): DataFrame = {
    val nh = nativeHistResetTable(s, dir)
      .withColumn("ts", timestamp_seconds(col("t_sec")))
    val ctx = graft.tsdb.promql.PromQLContext(
      metrics = Map.empty,
      labelCols = Seq("event_type", "user_id"),
      evalMs = 1706745600000L, // 2024-02-01T00:00:00Z
      lookbackMs = 40L * 86400000L,
      histMetrics = Map("nh_reset" -> graft.tsdb.promql.HistTable(nh,
        negIdxCol = Some("neg_idx"), negCountsCol = Some("neg_counts"))))
    graft.tsdb.promql.PromQL.compile(
        "histogram_count(rate(nh_reset[40d]))", ctx)
      .select(col("event_type"),
        col("user_id").cast("string").as("user_id"),
        col("value").as("crate"))
      .orderBy("event_type", "user_id")
  }
  // count of the reset-aware rate: same closed form, each bucket's
  // increase / dt folded in ascending-index cumulative order with
  // the consumer's ((zero + posFold) + negFold) association
  query("ts_promql_nh_reset_rate", tsPromqlNhResetRate, nhResetRateSql)

  /** The resetting NH counter as PromQL metric `nh_reset`, with its
    * 7-day rollup layer registered for routing. */
  private def nhRollupCtx(s: SparkSession, dir: String): graft.tsdb.promql.PromQLContext = {
    val path = nhRollup(s, dir)
    val nh = nativeHistResetTable(s, dir)
      .withColumn("ts", timestamp_seconds(col("t_sec")))
    graft.tsdb.promql.PromQLContext(
      metrics = Map.empty,
      labelCols = Seq("event_type", "user_id"),
      evalMs = 1706745600000L, // 2024-02-01T00:00Z — a 7d multiple
      lookbackMs = 40L * 86400000L,
      histMetrics = Map("nh_reset" -> graft.tsdb.promql.HistTable(nh,
        negIdxCol = Some("neg_idx"), negCountsCol = Some("neg_counts"),
        rollups = Seq(graft.tsdb.RollupStore.RollupLayer(
          path, 7L * 86400000L)))))
  }

  /** The same NH counter rate served FROM A 7-DAY ROLLUP LAYER
    * through the string front-end ([[tsdb.HistRollupStore]] routing
    * via `HistTable.rollups`): the 35d range/eval align to the 7d
    * windows, so the stitched fold replaces the sample walk — and
    * the oracle is the SAME closed form as the raw-walk gate, so
    * the hash match proves routing is invisible in the values.
    */
  private def tsPromqlNhRollupRate(s: SparkSession, dir: String): DataFrame = {
    val ctx = nhRollupCtx(s, dir)
    graft.tsdb.promql.PromQL.compile(
        "histogram_count(rate(nh_reset[35d]))", ctx)
      .select(col("event_type"),
        col("user_id").cast("string").as("user_id"),
        col("value").as("crate"))
      .orderBy("event_type", "user_id")
  }
  // rollup-routed NH rate: data-determined dt makes the closed
  // form range-width-independent — shared oracle, layer invisible
  query("ts_promql_nh_rollup_rate", tsPromqlNhRollupRate, nhResetRateSql)

  /** GAUGE `delta` over native histograms served FROM THE 7-DAY NH
    * ROLLUP LAYER ([[tsdb.HistRollupStore.deltaOf]]): the layer
    * stores each window's first/last whole-sample snapshots, and the
    * earliest/latest of them ARE the range's snapshot pair, so the
    * routed unclamped union-keyed subtraction is bitwise the raw
    * [[tsdb.NativeHistogram.deltaBySigned]] answer. The fixture's
    * day-19740 counter restart makes the delta NEGATIVE for
    * straddling series — delta must NOT reset-correct, the exact
    * opposite of the routed rate gate on the same layer. Oracle is
    * the closed form dd(d1)²·K − dd(d0)²·K over both bucket sides.
    */
  private def tsPromqlNhRollupDelta(s: SparkSession, dir: String): DataFrame = {
    val ctx = nhRollupCtx(s, dir)
    graft.tsdb.promql.PromQL.compile(
        "histogram_count(delta(nh_reset[35d]))", ctx)
      .select(col("event_type"),
        col("user_id").cast("string").as("user_id"),
        col("value").as("cdelta"))
      .orderBy("event_type", "user_id")
  }
  // routed NH gauge delta: plain last − first (NO reset
  // correction — the day-19740 restart makes it NEGATIVE for
  // straddling series), count-folded over zero + both bucket
  // sides: (dd(d1)² − dd(d0)²) · K with K the per-series sum of
  // the modular bucket weights
  query("ts_promql_nh_rollup_delta", tsPromqlNhRollupDelta,
    """WITH days AS (
      |  SELECT DISTINCT event_type, user_id,
      |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
      |  FROM events),
      |rng AS (
      |  SELECT event_type, user_id,
      |    user_id * 31 + length(event_type) AS sseed,
      |    min(d) AS d0, max(d) AS d1
      |  FROM days WHERE d >= 19719 AND d < 19754
      |  GROUP BY 1, 2, 3
      |  HAVING count(*) >= 2),
      |pos AS (
      |  SELECT event_type, user_id, sum((sseed + i + 3) % 5) AS kp
      |  FROM rng, unnest(range(-2, 5)) AS t(i) GROUP BY 1, 2),
      |neg AS (
      |  SELECT event_type, user_id, sum((sseed + i + 7) % 4) AS kn
      |  FROM rng, unnest(range(-1, 3)) AS t(i) GROUP BY 1, 2)
      |SELECT r.event_type, CAST(r.user_id AS VARCHAR) AS user_id,
      |  CAST(((CASE WHEN d1 >= 19740 THEN (d1-19739)*(d1-19739)
      |              ELSE d1*d1 END)
      |      - (CASE WHEN d0 >= 19740 THEN (d0-19739)*(d0-19739)
      |              ELSE d0*d0 END))
      |    * ((sseed % 3) + pos.kp + neg.kn) AS DOUBLE) AS cdelta
      |FROM rng r
      |JOIN pos USING (event_type, user_id)
      |JOIN neg USING (event_type, user_id)
      |ORDER BY r.event_type, CAST(r.user_id AS VARCHAR)""".stripMargin)

  /** THE production NH dashboard query — `histogram_quantile(q,
    * rate(m[35d]))` — served FROM THE 7-DAY ROLLUP LAYER through the
    * string front-end: the routed stitched fold produces the rate
    * vector, and the SIGNED quantile walk consumes it unchanged.
    * q=0.1 lands in the NEGATIVE bucket region and q=0.9 in the
    * positive for the gate vector, so both walk branches pin the
    * routed composition; the oracle replays rate closed-form + the
    * AllBucketIterator walk.
    */
  private def tsPromqlNhRollupQuantile(s: SparkSession, dir: String): DataFrame = {
    val ctx = nhRollupCtx(s, dir)
    def q(qv: String, as: String): DataFrame =
      graft.tsdb.promql.PromQL.compile(
          s"histogram_quantile($qv, rate(nh_reset[35d]))", ctx)
        .select(col("event_type"),
          col("user_id").cast("string").as("user_id"),
          col("value").as(as))
    q("0.9", "phi90").join(q("0.1", "phi10"), Seq("event_type", "user_id"))
      .orderBy("event_type", "user_id")
  }
  // routed quantile-over-rate: closed-form bucket rates (b*k/dt,
  // the same b/dt as the crate oracle) walked in AllBucketIterator
  // order — negative buckets most-negative-first (ord = -i), the
  // zero bucket, then positive ascending; linear interpolation
  // within the landing bucket, both q=0.1 (negative region) and
  // q=0.9 (positive region)
  query("ts_promql_nh_rollup_quantile", tsPromqlNhRollupQuantile,
    """WITH days AS (
      |  SELECT DISTINCT event_type, user_id,
      |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
      |  FROM events),
      |series AS (
      |  SELECT event_type, user_id,
      |    user_id * 31 + length(event_type) AS sseed,
      |    min(d) AS d0, max(d) AS d1,
      |    max(CASE WHEN d < 19740 THEN d END) AS dpre
      |  FROM days GROUP BY 1, 2, 3 HAVING count(*) >= 2),
      |base AS (
      |  SELECT *,
      |    CASE WHEN d0 < 19740 AND d1 >= 19740
      |         THEN dpre*dpre - d0*d0 + (d1-19739)*(d1-19739)
      |         WHEN d1 < 19740 THEN d1*d1 - d0*d0
      |         ELSE (d1-19739)*(d1-19739) - (d0-19739)*(d0-19739)
      |    END AS b,
      |    CAST((d1 - d0) * 86400 AS DOUBLE) AS dt
      |  FROM series),
      |allb AS (
      |  SELECT event_type, user_id, 0 AS phase, -i AS ord,
      |    CAST(b * ((sseed + i + 7) % 4) AS DOUBLE) / dt AS cnt,
      |    -power(2.0, i) AS lower, -power(2.0, i - 1) AS upper
      |  FROM base, unnest(range(-1, 3)) AS t(i)
      |  UNION ALL
      |  SELECT event_type, user_id, 1 AS phase, 0 AS ord,
      |    CAST(b * (sseed % 3) AS DOUBLE) / dt AS cnt,
      |    0.0 AS lower, 0.0 AS upper
      |  FROM base
      |  UNION ALL
      |  SELECT event_type, user_id, 2 AS phase, i AS ord,
      |    CAST(b * ((sseed + i + 3) % 5) AS DOUBLE) / dt AS cnt,
      |    power(2.0, i - 1) AS lower, power(2.0, i) AS upper
      |  FROM base, unnest(range(-2, 5)) AS t(i)),
      |cum AS (
      |  SELECT *,
      |    CAST(sum(cnt) OVER (PARTITION BY event_type, user_id
      |      ORDER BY phase, ord) AS DOUBLE) AS cumc,
      |    CAST(sum(cnt) OVER (PARTITION BY event_type, user_id)
      |      AS DOUBLE) AS total,
      |    CAST(sum(CASE WHEN phase = 0 THEN cnt ELSE 0 END)
      |      OVER (PARTITION BY event_type, user_id) AS DOUBLE) AS negtot,
      |    CAST(sum(CASE WHEN phase = 1 THEN cnt ELSE 0 END)
      |      OVER (PARTITION BY event_type, user_id) AS DOUBLE) AS zerotot
      |  FROM allb),
      |scored AS (
      |  SELECT event_type, user_id, total, negtot, zerotot,
      |    min_by(lower + (upper - lower) *
      |        (((0.9 * total) - (cumc - cnt)) / cnt), ord)
      |      FILTER (WHERE phase = 0 AND cnt > 0
      |        AND cumc >= 0.9 * total) AS negres90,
      |    min_by(lower + (upper - lower) *
      |        (((0.9 * total) - (cumc - cnt)) / cnt), ord)
      |      FILTER (WHERE phase = 2 AND cnt > 0
      |        AND cumc >= 0.9 * total) AS posres90,
      |    min_by(lower + (upper - lower) *
      |        (((0.1 * total) - (cumc - cnt)) / cnt), ord)
      |      FILTER (WHERE phase = 0 AND cnt > 0
      |        AND cumc >= 0.1 * total) AS negres10,
      |    min_by(lower + (upper - lower) *
      |        (((0.1 * total) - (cumc - cnt)) / cnt), ord)
      |      FILTER (WHERE phase = 2 AND cnt > 0
      |        AND cumc >= 0.1 * total) AS posres10
      |  FROM cum GROUP BY 1, 2, 3, 4, 5)
      |SELECT event_type, CAST(user_id AS VARCHAR) AS user_id,
      |  CASE WHEN negtot > 0 AND 0.9 * total <= negtot THEN negres90
      |       WHEN negtot + zerotot >= 0.9 * total THEN 0.0
      |       ELSE posres90 END AS phi90,
      |  CASE WHEN negtot > 0 AND 0.1 * total <= negtot THEN negres10
      |       WHEN negtot + zerotot >= 0.1 * total THEN 0.0
      |       ELSE posres10 END AS phi10
      |FROM scored
      |ORDER BY event_type, CAST(user_id AS VARCHAR)""".stripMargin)

  private val resetBlock: Fixture = fixture("resetblock") { (s, dir) =>
    tools.Fs.deleteRecursively(new java.io.File(resetBlock.path(dir)))
    graft.tsdb.block.TsdbBlockStore.writeHist(
      nativeHistResetTable(s, dir)
        .withColumn("ts_ms", col("d") * 86400000L)
        .withColumn("hsum",
          (col("dd") * ((col("sseed") % 7) + 1)).cast("double") * 0.25),
      resetBlock.path(dir), Seq("event_type", "user_id"), "ts_ms",
      "zero_count", "pos_idx", "pos_counts", "hsum",
      blockDurationMs = 9L * 86400000L, samplesPerChunk = 6,
      negIdxCol = Some("neg_idx"), negCountsCol = Some("neg_counts"))
  }

  /** The Prometheus appender's chunk-cut ladder pinned at the BYTE
    * level: writing the resetting counter fixture must cut a new
    * chunk at the day-19740 restart marked `counter_reset`, cut at
    * the 6-sample cap marked `not_counter_reset`, and start every
    * (series, block) stream `unknown`
    * ([[tsdb.block.TsdbBlockStore.histChunkHeaders]] decodes the
    * headers back out of the chunk bytes). The oracle replays the
    * ladder arithmetically: segment by reset day, 6-sample chunks
    * within each segment, header by (block-first, segment-first)
    * position. */
  private def tsTsdbBlockResetCut(s: SparkSession, dir: String): DataFrame = {
    resetBlock.build(s, dir)
    graft.tsdb.block.TsdbBlockStore
      .histChunkHeaders(s, resetBlock.path(dir), Seq("event_type", "user_id"))
      .select(col("event_type"), col("user_id"), col("chunk_mint"),
        col("chunk_maxt"), col("n_samples"), col("reset_hint"))
      .orderBy("event_type", "user_id", "chunk_mint")
  }
  // the appender's chunk-cut ladder replayed arithmetically:
  // 9-day blocks, segments split at the reset day, 6-sample chunks
  // within each segment; header = unknown at block start,
  // counter_reset at a segment start, not_counter_reset at cap cuts
  query("ts_tsdb_block_reset_cut", tsTsdbBlockResetCut,
    """WITH days AS (
      |  SELECT DISTINCT event_type, user_id,
      |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
      |  FROM events),
      |s AS (
      |  SELECT event_type, user_id, d,
      |    CAST(floor(d / 9) AS BIGINT) AS blk,
      |    CASE WHEN d >= 19740 THEN 1 ELSE 0 END AS seg
      |  FROM days),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_type, user_id,
      |    blk, seg ORDER BY d) - 1 AS rn
      |  FROM s),
      |c AS (
      |  SELECT event_type, user_id, blk, seg,
      |    CAST(floor(rn / 6) AS BIGINT) AS cord,
      |    min(d) AS dmin, max(d) AS dmax, count(*) AS n
      |  FROM r GROUP BY 1, 2, 3, 4, 5)
      |SELECT event_type, CAST(user_id AS VARCHAR) AS user_id,
      |  dmin * 86400000 AS chunk_mint, dmax * 86400000 AS chunk_maxt,
      |  CAST(n AS INT) AS n_samples,
      |  CASE WHEN row_number() OVER (PARTITION BY event_type, user_id,
      |         blk ORDER BY dmin) = 1 THEN 'unknown'
      |       WHEN seg = 1 AND cord = 0 THEN 'counter_reset'
      |       ELSE 'not_counter_reset' END AS reset_hint
      |FROM c
      |ORDER BY event_type, CAST(user_id AS VARCHAR), chunk_mint"""
      .stripMargin)

  /** `histogram_count(rate(nh_reset[40d]))` evaluated off BLOCK
    * BYTES with counter-reset HEADERS driving the reset ladder: the
    * fixture block's reset cut marked its chunk `counter_reset`
    * ([[tsTsdbBlockResetCut]]), `readHistLabels(withResetHint)`
    * surfaces the header per sample (chunk-first = header, in-chunk
    * = not_counter_reset), and the fold TRUSTS it —
    * `counter_reset` forces the reset, `not_counter_reset`
    * suppresses detection. On this fixture headers and value
    * detection agree, so the same closed-form oracle pins that the
    * header path and the detection path compute the same counter
    * contract end to end (writer marking → reader surfacing →
    * hint-trusting fold). */
  private def tsPromqlNhHintedRate(s: SparkSession, dir: String): DataFrame = {
    resetBlock.build(s, dir)
    val nh = graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, resetBlock.path(dir), Seq("event_type", "user_id"),
        withResetHint = true)
      .withColumn("ts", timestamp_millis(col("ts")))
    val ctx = graft.tsdb.promql.PromQLContext(
      metrics = Map.empty,
      labelCols = Seq("event_type", "user_id"),
      evalMs = 1706745600000L,
      lookbackMs = 40L * 86400000L,
      histMetrics = Map("nh_reset" -> graft.tsdb.promql.HistTable(nh,
        negIdxCol = Some("neg_idx"), negCountsCol = Some("neg_counts"),
        resetHintCol = Some("reset_hint"))))
    graft.tsdb.promql.PromQL.compile(
        "histogram_count(rate(nh_reset[40d]))", ctx)
      .select(col("event_type"), col("user_id"), col("value").as("crate"))
      .orderBy("event_type", "user_id")
  }
  // the same counter contract driven by the chunk HEADERS instead
  // of value detection (block bytes → withResetHint → hint-
  // trusting fold): headers and detection agree on this fixture by
  // construction, so the oracle is shared
  query("ts_promql_nh_hinted_rate", tsPromqlNhHintedRate, nhResetRateSql)

  /** `resets(nh_reset[40d])` — PromQL `resets` over NATIVE
    * histograms ([[tsdb.NativeHistogram.resetsBySigned]]): the
    * histogram reset detector (any component decreased between
    * consecutive samples) counting restarts instead of correcting
    * for them. On the fixture every series that straddles day 19740
    * counts exactly 1; single-regime series count 0. */
  private def tsPromqlNhResets(s: SparkSession, dir: String): DataFrame = {
    val nh = nativeHistResetTable(s, dir)
      .withColumn("ts", timestamp_seconds(col("t_sec")))
    val ctx = graft.tsdb.promql.PromQLContext(
      metrics = Map.empty,
      labelCols = Seq("event_type", "user_id"),
      evalMs = 1706745600000L,
      lookbackMs = 40L * 86400000L,
      histMetrics = Map("nh_reset" -> graft.tsdb.promql.HistTable(nh,
        negIdxCol = Some("neg_idx"), negCountsCol = Some("neg_counts"))))
    graft.tsdb.promql.PromQL.compile("resets(nh_reset[40d])", ctx)
      .select(col("event_type"),
        col("user_id").cast("string").as("user_id"),
        col("value").as("n_resets"))
      .orderBy("event_type", "user_id")
  }
  // resets over native histograms: exactly one restart per series
  // straddling day 19740, none otherwise (single-sample series
  // included, at 0 — no <2-sample drop for resets)
  query("ts_promql_nh_resets", tsPromqlNhResets,
    """SELECT event_type, CAST(user_id AS VARCHAR) AS user_id,
      |  CAST(CASE WHEN min(d) < 19740 AND max(d) >= 19740
      |       THEN 1 ELSE 0 END AS DOUBLE) AS n_resets
      |FROM (SELECT DISTINCT event_type, user_id,
      |        CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
      |      FROM events)
      |GROUP BY event_type, user_id
      |ORDER BY event_type, CAST(user_id AS VARCHAR)""".stripMargin)

  /** NATIVE-histogram chunk roundtrip ([[tsdb.ChunkencHistCodec]]
    * through the `graft_hist_chunk_encode`/`_decode` expressions) —
    * the reference's THIRD chunk encoding family
    * (EncHistogram/EncFloatHistogram, schema/encoder.go:118-196),
    * closing the physical layer for histogram series the way
    * ts_chunk_roundtrip closed it for floats: the counter fixture
    * (cumulative bucket counts, one zero bucket in five, bucket 5
    * APPEARING mid-series → a layout cut inside the 10-sample run;
    * exact-quarter tracked sums through the XOR window) is packed per
    * series into framed cells of chunkenc chunks, then decoded back
    * in full and flattened to bucket grain. The hash match against
    * the re-derived fixture proves encode→frame→decode is
    * bit-lossless and keeps each sample's own bucket layout: every
    * timestamp, zero count, bucket (zero ones included), count, and
    * sum double.
    */
  private def tsHistChunkRoundtrip(s: SparkSession, dir: String): DataFrame =
    histChunkRoundtrip(nativeHistCounterTable(s, dir), "zero_count",
      "pos_counts", float = false)
  // rate CTEs as in ts_native_hist_rate, then the quantile walk —
  // the zero bucket rides as a sentinel idx=-100 row so the
  // running sum brackets exactly like the operator's fold
  // (((zero+r1)+r2)+…), while rank uses zero + (((r1+r2)+…)) like
  // the operator's total; cum_prev is the TRUE prefix, never a
  // subtraction
  // roundtrip = identity: the oracle is the re-derived counter
  // fixture at bucket grain (the codec must lose nothing)
  query("ts_hist_chunk_roundtrip", tsHistChunkRoundtrip,
    """WITH days AS (
      |  SELECT DISTINCT event_type, user_id,
      |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
      |  FROM events),
      |base AS (
      |  SELECT event_type, user_id, d,
      |    user_id * 31 + length(event_type) AS sseed,
      |    CAST(d * 86400000000 AS BIGINT) AS ts_us
      |  FROM days)
      |SELECT event_type, user_id, ts_us,
      |  d*d*(sseed % 3) AS zero_count,
      |  CAST(d * ((sseed % 7) + 1) AS DOUBLE) * 0.25 AS hsum,
      |  CAST(i AS INT) AS idx,
      |  d*d*((sseed + i + 3) % 5) AS cnt
      |FROM base, unnest(range(-2, 6)) AS t(i)
      |WHERE i <= (CASE WHEN d >= 19740 THEN 5 ELSE 4 END)
      |ORDER BY event_type, user_id, ts_us, idx""".stripMargin)

  /** FLOAT-histogram chunk roundtrip (`graft_float_hist_chunk_encode`
    * / `_decode`): the reference's EncFloatHistogram side of the third
    * encoding family (schema/encoder.go:118-196) — bucket counts and
    * the zero count are DOUBLES (what recording rules emit), each
    * field XOR-window encoded; bucket 5 still appears mid-series so
    * the layout cut runs on the gate. Counts are exact dyadic
    * quarters/halves of the counter fixture, so the re-derived oracle
    * is bit-equal — the hash match proves encode→frame→decode loses
    * no double (NaN and non-dyadic deltas are pinned by the float
    * chunk roundtrip spec).
    */
  private def tsFloatHistRoundtrip(s: SparkSession, dir: String): DataFrame =
    histChunkRoundtrip(nativeHistCounterTable(s, dir)
        .withColumn("zero_f",
          (col("d") * (col("sseed") % 3)).cast("double") * 0.5)
        .withColumn("cnt_f",
          transform(col("pos_counts"), c => c.cast("double") * 0.25)),
      "zero_f", "cnt_f", float = true)
  // float roundtrip = identity over the FLOAT fixture (exact
  // dyadic halves/quarters of the counter fixture) — the
  // EncFloatHistogram codec must lose no double
  query("ts_float_hist_roundtrip", tsFloatHistRoundtrip,
    """WITH days AS (
      |  SELECT DISTINCT event_type, user_id,
      |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
      |  FROM events),
      |base AS (
      |  SELECT event_type, user_id, d,
      |    user_id * 31 + length(event_type) AS sseed,
      |    CAST(d * 86400000000 AS BIGINT) AS ts_us
      |  FROM days)
      |SELECT event_type, user_id, ts_us,
      |  CAST(d * (sseed % 3) AS DOUBLE) * 0.5 AS zero_count,
      |  CAST(d * ((sseed % 7) + 1) AS DOUBLE) * 0.25 AS hsum,
      |  CAST(i AS INT) AS idx,
      |  CAST(d*d*((sseed + i + 3) % 5) AS DOUBLE) * 0.25 AS cnt
      |FROM base, unnest(range(-2, 6)) AS t(i)
      |WHERE i <= (CASE WHEN d >= 19740 THEN 5 ELSE 4 END)
      |ORDER BY event_type, user_id, ts_us, idx""".stripMargin)

  private def histChunkRoundtrip(h: DataFrame, zeroCol: String,
      cntCol: String, float: Boolean): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val sample = functions.HistChunkExpressions.sample(float,
      col("d") * 86400000000L, zeroCol, "pos_idx", cntCol,
      (col("d") * ((col("sseed") % 7) + 1)).cast("double") * 0.25,
      Nil, None, None)
    val enc = ColumnBridge.column(functions.ChunkencHistEncode(
      ColumnBridge.expression(sort_array(collect_list(sample))),
      histSchema = 0, samplesPerChunk = 10))
    val Seq(b, lo, hi) = Seq(col("blob"), lit(0L), lit(Long.MaxValue))
      .map(ColumnBridge.expression)
    val dec = ColumnBridge.column(
      if (float) functions.ChunkencFloatHistDecode(b, lo, hi)
      else functions.ChunkencHistDecode(b, lo, hi))
    h.groupBy(col("event_type"), col("user_id")).agg(enc.as("blob"))
      .select(col("event_type"), col("user_id"), explode(dec).as("s"))
      .select(col("event_type"), col("user_id"),
        col("s.ts").as("ts_us"), col("s.zero").as("zero_count"),
        col("s.sum").as("hsum"),
        explode(zip_with(col("s.idx"), col("s.cnt"),
          (i, c) => struct(i.as("i"), c.as("c")))).as("b"))
      .select(col("event_type"), col("user_id"), col("ts_us"),
        col("zero_count"), col("hsum"),
        col("b.i").as("idx"), col("b.c").as("cnt"))
      .orderBy("event_type", "user_id", "ts_us", "idx")
  }

  private val histChunks: Fixture = fixture("histchunk") { (s, dir) =>
    HistChunkStore.write(
      nativeHistCounterTable(s, dir)
        .withColumn("hsum",
          (col("d") * ((col("sseed") % 7) + 1)).cast("double") * 0.25)
        .withColumn("ts", timestamp_seconds(col("d") * 86400)),
      histChunks.path(dir), Seq("event_type", "user_id"), "ts",
      "zero_count", "pos_idx", "pos_counts", Some("hsum"),
      samplesPerChunk = 10)
  }

  /** Matcher + range select over the CHUNKED native-histogram layout
    * ([[tsdb.HistChunkStore]]): labels-file matcher pushdown →
    * broadcast ref join → bucket-dir + mint/maxt row-group pruning →
    * frame-header skip → narrow decode into the NativeHistogram row
    * model — ≡ the same filter on the raw fixture (the oracle). The
    * histogram analog of ts_chunk_select: storage → query end-to-end
    * for the reference's third encoding family.
    */
  private def tsHistChunkSelect(s: SparkSession, dir: String): DataFrame = {
    histChunks.build(s, dir)
    HistChunkStore.select(s, histChunks.path(dir),
        "2024-01-05", "2024-01-20",
        Seq(Matcher.Eq("event_type", "view")),
        Seq("event_type", "user_id"), "ts")
      .select(col("event_type"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("zero_count"),
        col("hist_sum").as("hsum"),
        explode(zip_with(col("pos_idx"), col("pos_counts"),
          (i, c) => struct(i.as("i"), c.as("c")))).as("b"))
      .select(col("event_type"), col("user_id"), col("ts_us"),
        col("zero_count"), col("hsum"),
        col("b.i").as("idx"), col("b.c").as("cnt"))
      .orderBy("event_type", "user_id", "ts_us", "idx")
  }
  // select ≡ raw fixture under the same matcher + day range: the
  // chunked hist layout must lose nothing inside the window
  query("ts_hist_chunk_select", tsHistChunkSelect,
    """WITH days AS (
      |  SELECT DISTINCT event_type, user_id,
      |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
      |  FROM events),
      |base AS (
      |  SELECT event_type, user_id, d,
      |    user_id * 31 + length(event_type) AS sseed,
      |    CAST(d * 86400000000 AS BIGINT) AS ts_us
      |  FROM days
      |  WHERE event_type = 'view'
      |    AND d >= CAST(floor(epoch(TIMESTAMP '2024-01-05 00:00:00') / 86400) AS BIGINT)
      |    AND d < CAST(floor(epoch(TIMESTAMP '2024-01-20 00:00:00') / 86400) AS BIGINT))
      |SELECT event_type, user_id, ts_us,
      |  d*d*(sseed % 3) AS zero_count,
      |  CAST(d * ((sseed % 7) + 1) AS DOUBLE) * 0.25 AS hsum,
      |  CAST(i AS INT) AS idx,
      |  d*d*((sseed + i + 3) % 5) AS cnt
      |FROM base, unnest(range(-2, 6)) AS t(i)
      |WHERE i <= (CASE WHEN d >= 19740 THEN 5 ELSE 4 END)
      |ORDER BY event_type, user_id, ts_us, idx""".stripMargin)

  private val floatHistChunks: Fixture = fixture("fhistchunk") { (s, dir) =>
    HistChunkStore.writeFloat(
      nativeHistCounterTable(s, dir)
        .withColumn("zero_f",
          (col("d") * (col("sseed") % 3)).cast("double") * 0.5)
        .withColumn("cnt_f",
          transform(col("pos_counts"), c => c.cast("double") * 0.25))
        .withColumn("hsum",
          (col("d") * ((col("sseed") % 7) + 1)).cast("double") * 0.25)
        .withColumn("ts", timestamp_seconds(col("d") * 86400)),
      floatHistChunks.path(dir), Seq("event_type", "user_id"), "ts",
      "zero_f", "pos_idx", "cnt_f", Some("hsum"), samplesPerChunk = 10)
  }

  /** Matcher + range select over the chunked FLOAT-histogram layout
    * ([[tsdb.HistChunkStore.selectFloat]], EncFloatHistogram cells):
    * the identical pushdown/broadcast/pruning plan as
    * `ts_hist_chunk_select`, decoding double zero/bucket counts —
    * ≡ the same filter on the raw float fixture (the oracle). Closes
    * storage → query end-to-end for BOTH sides of the reference's
    * third encoding family.
    */
  private def tsFloatHistSelect(s: SparkSession, dir: String): DataFrame = {
    floatHistChunks.build(s, dir)
    HistChunkStore.selectFloat(s, floatHistChunks.path(dir),
        "2024-01-05", "2024-01-20",
        Seq(Matcher.Eq("event_type", "view")),
        Seq("event_type", "user_id"), "ts")
      .select(col("event_type"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("zero_count"),
        col("hist_sum").as("hsum"),
        explode(zip_with(col("pos_idx"), col("pos_counts"),
          (i, c) => struct(i.as("i"), c.as("c")))).as("b"))
      .select(col("event_type"), col("user_id"), col("ts_us"),
        col("zero_count"), col("hsum"),
        col("b.i").as("idx"), col("b.c").as("cnt"))
      .orderBy("event_type", "user_id", "ts_us", "idx")
  }
  // float-store select ≡ raw float fixture under the same matcher
  // + day range: the chunked EncFloatHistogram layout must lose no
  // double inside the window
  query("ts_float_hist_select", tsFloatHistSelect,
    """WITH days AS (
      |  SELECT DISTINCT event_type, user_id,
      |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
      |  FROM events),
      |base AS (
      |  SELECT event_type, user_id, d,
      |    user_id * 31 + length(event_type) AS sseed,
      |    CAST(d * 86400000000 AS BIGINT) AS ts_us
      |  FROM days
      |  WHERE event_type = 'view'
      |    AND d >= CAST(floor(epoch(TIMESTAMP '2024-01-05 00:00:00') / 86400) AS BIGINT)
      |    AND d < CAST(floor(epoch(TIMESTAMP '2024-01-20 00:00:00') / 86400) AS BIGINT))
      |SELECT event_type, user_id, ts_us,
      |  CAST(d * (sseed % 3) AS DOUBLE) * 0.5 AS zero_count,
      |  CAST(d * ((sseed % 7) + 1) AS DOUBLE) * 0.25 AS hsum,
      |  CAST(i AS INT) AS idx,
      |  CAST(d*d*((sseed + i + 3) % 5) AS DOUBLE) * 0.25 AS cnt
      |FROM base, unnest(range(-2, 6)) AS t(i)
      |WHERE i <= (CASE WHEN d >= 19740 THEN 5 ELSE 4 END)
      |ORDER BY event_type, user_id, ts_us, idx""".stripMargin)

  /** p90 of the latest-day histograms summed by event_type, replayed
    * from raw events: the oracle of the chunk-store and shard gates. */
  private val nhLatestQuantileSql: String =
    """WITH days AS (
      |  SELECT DISTINCT event_type, user_id,
      |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
      |  FROM events),
      |latest AS (
      |  SELECT event_type, user_id, max(d) AS d FROM days GROUP BY 1, 2),
      |base AS (
      |  SELECT event_type, user_id, d,
      |    user_id * 31 + length(event_type) AS sseed
      |  FROM latest),
      |gz AS (
      |  SELECT event_type, sum(d*d*(sseed % 3)) AS zc
      |  FROM base GROUP BY 1),
      |gb AS (
      |  SELECT event_type, CAST(i AS INT) AS i,
      |    sum(d*d*((sseed + i + 3) % 5)) AS cnt
      |  FROM base, unnest(range(-2, 6)) AS t(i)
      |  WHERE i <= (CASE WHEN d >= 19740 THEN 5 ELSE 4 END)
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT gb.event_type, gz.zc, gb.i, gb.cnt,
      |    sum(gb.cnt) OVER (PARTITION BY gb.event_type ORDER BY gb.i)
      |      + gz.zc AS cum,
      |    0.9 * (sum(gb.cnt) OVER (PARTITION BY gb.event_type) + gz.zc)
      |      AS rank,
      |    sum(gb.cnt) OVER (PARTITION BY gb.event_type) + gz.zc AS total
      |  FROM gb JOIN gz USING (event_type)),
      |pick AS (
      |  SELECT event_type, i, cnt, cum, rank FROM r
      |  WHERE cnt > 0 AND cum >= rank
      |  QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY i) = 1),
      |base2 AS (SELECT DISTINCT event_type, zc, total, rank FROM r)
      |SELECT b.event_type,
      |  CASE WHEN b.total = 0 THEN CAST('nan' AS DOUBLE)
      |       WHEN b.zc >= b.rank THEN 0.0
      |       ELSE pow(2.0, p.i - 1) +
      |         (pow(2.0, p.i) - pow(2.0, p.i - 1)) *
      |         ((b.rank - (p.cum - p.cnt)) / p.cnt) END AS phi90
      |FROM base2 b LEFT JOIN pick p USING (event_type)
      |ORDER BY b.event_type""".stripMargin

  /** The FULL native-histogram stack in one query: the counter
    * fixture stored as a CHUNKED dual-file block
    * ([[tsdb.HistChunkStore]]), selected back through the pruned
    * decode path, registered as a PromQL `histMetrics` table, and
    * queried with the STRING
    * `histogram_quantile(0.9, sum by (event_type) (nh))` — chunk
    * bytes to quantile without leaving one declarative plan. The
    * oracle re-derives the fixture's latest-day histograms in SQL
    * and replays the bucket-wise sum + quantile walk (all counts
    * integer-exact to the final interpolation).
    */
  private def tsPromqlNhChunked(s: SparkSession, dir: String): DataFrame = {
    histChunks.build(s, dir)
    val nh = HistChunkStore.select(s, histChunks.path(dir),
      "2024-01-01", "2024-02-01", Nil, Seq("event_type", "user_id"), "ts")
    val ctx = graft.tsdb.promql.PromQLContext(
      metrics = Map.empty,
      labelCols = Seq("event_type", "user_id"),
      evalMs = 1706745600000L, // 2024-02-01T00:00:00Z
      lookbackMs = 40L * 86400000L,
      histMetrics = Map("nh" -> graft.tsdb.promql.HistTable(nh,
        zeroCountCol = "zero_count", sumCol = Some("hist_sum"))))
    graft.tsdb.promql.PromQL.compile(
        "histogram_quantile(0.9, sum by (event_type) (nh))", ctx)
      .select(col("event_type"), col("value").as("phi90"))
      .orderBy("event_type")
  }
  // full stack: chunked store → decode → PromQL string. Latest-day
  // histograms per series (instant selector over the chunk select),
  // bucket-wise sum by event_type, then the quantile walk —
  // integer-exact counts until the final interpolation
  query("ts_promql_nh_chunked", tsPromqlNhChunked, nhLatestQuantileSql)

  /** [[tsPromqlShard]] for the NATIVE-HISTOGRAM family: the
    * reference-layout shard's EncHistogram cells → [[tsdb.shard
    * .ParquetShardStore.selectHist]] → a string-compiled
    * `histogram_quantile(0.9, sum by (event_type) (nh))` — the
    * ts_promql_nh_chunked pipeline with the chunked layout swapped
    * for the physical shard format (the fixture's per-day samples
    * are second-aligned, so the shard's ms grain is exact).
    */
  private def tsPromqlShardNh(s: SparkSession, dir: String): DataFrame = {
    shardHist.build(s, dir)
    val m = graft.tsdb.shard.ParquetShardStore.meta(s, shardHist.path(dir))
    val nhShard = graft.tsdb.shard.ParquetShardStore.selectHist(
      s, shardHist.path(dir), m.mintMs, m.maxtMs + 1)
    val ctx = graft.tsdb.promql.PromQLContext(
      metrics = Map.empty,
      labelCols = Seq("event_type", "user_id"),
      evalMs = 1706745600000L, // 2024-02-01T00:00:00Z
      lookbackMs = 40L * 86400000L,
      histMetrics = Map("nh" -> graft.tsdb.promql.HistTable(nhShard,
        zeroCountCol = "zero_count", sumCol = Some("hist_sum"))))
    graft.tsdb.promql.PromQL.compile(
        "histogram_quantile(0.9, sum by (event_type) (nh))", ctx)
      .select(col("event_type"), col("value").as("phi90"))
      .orderBy("event_type")
  }
  // identical synthesis through the physical shard format's cells
  query("ts_promql_shard_nh", tsPromqlShardNh, nhLatestQuantileSql)

  /** PromQL context with NATIVE-histogram metrics registered
    * ([[graft.tsdb.promql.HistTable]]): `nh_gauge` is the
    * deterministic exponential-bucket fixture with the
    * exact-quarter tracked sum, `nh_requests` the cumulative
    * counter fixture — both with day-aligned sample timestamps so
    * the selector windows land exactly on the direct-API gates'
    * row sets. Instant T = 2024-02-01T00:00Z, lookback 40 d
    * (covers the whole fixture span).
    */
  private def promHistCtx(s: SparkSession, dir: String): graft.tsdb.promql.PromQLContext = {
    val gauge = nativeHistTable(s, dir)
      .withColumn("hsum", (col("seed") % 400).cast("double") * 0.25)
      .withColumn("ts", timestamp_seconds(col("d") * 86400))
    val counter = nativeHistCounterTable(s, dir)
      .withColumn("ts", timestamp_seconds(col("t_sec")))
    graft.tsdb.promql.PromQLContext(
      metrics = Map.empty,
      labelCols = Seq("event_type", "user_id"),
      evalMs = 1706745600000L, // 2024-02-01T00:00:00Z
      lookbackMs = 40L * 86400000L,
      histMetrics = Map(
        "nh_gauge" -> graft.tsdb.promql.HistTable(gauge, sumCol = Some("hsum")),
        "nh_requests" -> graft.tsdb.promql.HistTable(counter)))
  }

  /** `histogram_quantile(0.9, rate(nh_requests[40d]))` — THE
    * production native-histogram query, now parsed from the PromQL
    * STRING: the front-end lowers the hist selector through the
    * shared pushdown machinery, `rate` to the bucket-wise
    * [[tsdb.NativeHistogram.rateBy]] aggregation, the quantile to
    * the narrow per-row walk. Same oracle as the direct-API
    * `ts_native_hist_quantile_rate` (the compiled plan must land on
    * identical FP ops).
    */
  private def tsPromqlNhQuantileRate(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile(
        "histogram_quantile(0.9, rate(nh_requests[40d]))", promHistCtx(s, dir))
      .select(col("event_type"), col("user_id"), col("value").as("phi90"))
      .orderBy("event_type", "user_id")
  // the SAME query through the PromQL front-end must land on the
  // identical plan → identical oracle (hash-equal by construction)
  query("ts_promql_nh_quantile_rate", tsPromqlNhQuantileRate, nhQuantileRateSql)

  /** `histogram_quantile(0.9, sum by (event_type) (nh_gauge))` —
    * bucket-wise vector aggregation COMPOSED with the quantile walk,
    * parsed from the string: instant hist selector (latest sample
    * per series in lookback), sparse buckets summed at (group, idx)
    * grain and reassembled, then the per-row fold. All counts stay
    * exact integers in double until the final interpolation, so the
    * oracle (latest-day CTE + grouped walk) is bit-equal.
    */
  private def tsPromqlNhSumQuantile(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile(
        "histogram_quantile(0.9, sum by (event_type) (nh_gauge))",
        promHistCtx(s, dir))
      .select(col("event_type"), col("value").as("phi90"))
      .orderBy("event_type")
  // latest sample per series (instant selector), buckets summed at
  // (event_type, idx) grain, then the quantile walk — counts stay
  // exact integers until the final interpolation
  query("ts_promql_nh_sum_quantile", tsPromqlNhSumQuantile,
    s"""WITH $nativeHistCtes,
      |latest AS (
      |  SELECT event_type, user_id, max(d) AS d FROM sd GROUP BY 1, 2),
      |lz AS (SELECT hz.* FROM hz JOIN latest USING (event_type, user_id, d)),
      |lb AS (SELECT hb.* FROM hb JOIN latest USING (event_type, user_id, d)),
      |gz AS (SELECT event_type, sum(zero_count) AS zc FROM lz GROUP BY 1),
      |gb AS (SELECT event_type, i, sum(cnt) AS cnt FROM lb GROUP BY 1, 2),
      |r AS (
      |  SELECT gb.event_type, gz.zc, gb.i, gb.cnt,
      |    sum(gb.cnt) OVER (PARTITION BY gb.event_type ORDER BY gb.i)
      |      + gz.zc AS cum,
      |    0.9 * (sum(gb.cnt) OVER (PARTITION BY gb.event_type) + gz.zc)
      |      AS rank,
      |    sum(gb.cnt) OVER (PARTITION BY gb.event_type) + gz.zc AS total
      |  FROM gb JOIN gz USING (event_type)),
      |pick AS (
      |  SELECT event_type, i, cnt, cum, rank FROM r
      |  WHERE cnt > 0 AND cum >= rank
      |  QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY i) = 1),
      |base AS (SELECT DISTINCT event_type, zc, total, rank FROM r)
      |SELECT b.event_type,
      |  CASE WHEN b.total = 0 THEN CAST('nan' AS DOUBLE)
      |       WHEN b.zc >= b.rank THEN 0.0
      |       ELSE pow(2.0, p.i - 1) +
      |         (pow(2.0, p.i) - pow(2.0, p.i - 1)) *
      |         ((b.rank - (p.cum - p.cnt)) / p.cnt) END AS phi90
      |FROM base b LEFT JOIN pick p USING (event_type)
      |ORDER BY b.event_type""".stripMargin)

  /** `histogram_avg(nh_gauge)` — the tracked-sum statistics family
    * through the front-end (count folds the buckets narrow, avg is
    * the one division, NaN on all-empty histograms — the seed%21
    * rows pin the NaN path cross-engine).
    */
  private def tsPromqlNhAvg(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile(
        "histogram_avg(nh_gauge)", promHistCtx(s, dir))
      .select(col("event_type"), col("user_id"), col("value").as("h_avg"))
      .orderBy("event_type", "user_id")
  // latest-day rows only; h_sum is the exact-quarter synthetic
  // sum, h_avg its one division (NaN on the all-empty seed%21 rows)
  query("ts_promql_nh_avg", tsPromqlNhAvg,
    s"""WITH $nativeHistCtes,
      |latest AS (
      |  SELECT event_type, user_id, max(d) AS d FROM sd GROUP BY 1, 2),
      |lz AS (SELECT hz.* FROM hz JOIN latest USING (event_type, user_id, d)),
      |lb AS (SELECT hb.* FROM hb JOIN latest USING (event_type, user_id, d)),
      |tot AS (
      |  SELECT event_type, user_id,
      |    max(zero_count) + sum(cnt) AS h_count,
      |    CAST(max(seed) % 400 AS DOUBLE) * 0.25 AS h_sum
      |  FROM (SELECT lb.*, lz.seed FROM lb
      |        JOIN lz USING (event_type, user_id, d))
      |  GROUP BY 1, 2)
      |SELECT event_type, user_id,
      |  CASE WHEN h_count = 0 THEN CAST('nan' AS DOUBLE)
      |       ELSE h_sum / CAST(h_count AS DOUBLE) END AS h_avg
      |FROM tot
      |ORDER BY event_type, user_id""".stripMargin)

  /** `histogram_stdvar(nh_gauge)` through the front-end — the
    * bucket-middle deviation walk
    * ([[tsdb.NativeHistogram.histogramStdvar]]): mean = sum/count,
    * each bucket contributes `count·(mid − mean)²` with mid the
    * arithmetic bucket middle (exact dyadic at schema 0), zero
    * bucket deviates from 0. The oracle replays the fold
    * left-to-right in ascending idx (cumulative window), so the
    * result is bit-equal; NaN on the all-empty seed%21 rows.
    * `histogram_stddev` is its square root (spec-pinned).
    */
  private def tsPromqlNhStdvar(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile(
        "histogram_stdvar(nh_gauge)", promHistCtx(s, dir))
      .select(col("event_type"), col("user_id"), col("value").as("h_stdvar"))
      .orderBy("event_type", "user_id")
  // latest-day rows; bucket-middle deviation walk replayed
  // left-to-right in ascending idx (cumulative window ≡ the
  // operator's fold), mids exact dyadic at schema 0
  query("ts_promql_nh_stdvar", tsPromqlNhStdvar,
    s"""WITH $nativeHistCtes,
      |latest AS (
      |  SELECT event_type, user_id, max(d) AS d FROM sd GROUP BY 1, 2),
      |lz AS (SELECT hz.* FROM hz JOIN latest USING (event_type, user_id, d)),
      |lb AS (SELECT hb.* FROM hb JOIN latest USING (event_type, user_id, d)),
      |m AS (
      |  SELECT event_type, user_id, d,
      |    CAST(max(zero_count) AS DOUBLE) + sum(CAST(cnt AS DOUBLE)) AS n,
      |    max(zero_count) AS zc,
      |    CAST(max(seed) % 400 AS DOUBLE) * 0.25 AS hsum
      |  FROM (SELECT lb.*, lz.seed FROM lb
      |        JOIN lz USING (event_type, user_id, d))
      |  GROUP BY 1, 2, 3),
      |m2 AS (SELECT *, hsum / n AS mean FROM m),
      |walk AS (
      |  SELECT lb.event_type, lb.user_id,
      |    sum(CAST(lb.cnt AS DOUBLE) *
      |        ((pow(2.0, lb.i - 1) + pow(2.0, lb.i)) / 2.0 - m2.mean) *
      |        ((pow(2.0, lb.i - 1) + pow(2.0, lb.i)) / 2.0 - m2.mean))
      |      OVER (PARTITION BY lb.event_type, lb.user_id, lb.d
      |            ORDER BY lb.i ROWS UNBOUNDED PRECEDING) AS posdev
      |  FROM lb JOIN m2 USING (event_type, user_id, d)
      |  QUALIFY row_number() OVER (PARTITION BY lb.event_type, lb.user_id,
      |    lb.d ORDER BY lb.i DESC) = 1)
      |SELECT m2.event_type, m2.user_id,
      |  CASE WHEN m2.n = 0 THEN CAST('nan' AS DOUBLE)
      |       ELSE (CAST(m2.zc AS DOUBLE) * m2.mean * m2.mean + w.posdev)
      |            / m2.n END AS h_stdvar
      |FROM m2 JOIN walk w USING (event_type, user_id)
      |ORDER BY m2.event_type, m2.user_id""".stripMargin)

  /** `histogram_fraction(1, 8, nh_gauge)` through the front-end —
    * bounds on the schema-0 boundaries 2^0/2^3 so every bucket's
    * overlap share is exactly 0 or 1 (the FP-exact configuration;
    * interpolated shares are spec-pinned in NativeHistogramSpec).
    */
  private def tsPromqlNhFraction(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile(
        "histogram_fraction(1, 8, nh_gauge)", promHistCtx(s, dir))
      .select(col("event_type"), col("user_id"), col("value").as("frac"))
      .orderBy("event_type", "user_id")
  // latest-day rows; buckets 1..3 are exactly (1,2],(2,4],(4,8] —
  // overlap share 0 or 1, one exact division
  query("ts_promql_nh_fraction", tsPromqlNhFraction,
    s"""WITH $nativeHistCtes,
      |latest AS (
      |  SELECT event_type, user_id, max(d) AS d FROM sd GROUP BY 1, 2),
      |lb AS (SELECT hb.* FROM hb JOIN latest USING (event_type, user_id, d))
      |SELECT event_type, user_id,
      |  CASE WHEN sum(cnt) + max(zero_count) = 0
      |       THEN CAST('nan' AS DOUBLE)
      |       ELSE CAST(sum(CASE WHEN i BETWEEN 1 AND 3 THEN cnt
      |                          ELSE 0 END) AS DOUBLE) /
      |            CAST(sum(cnt) + max(zero_count) AS DOUBLE) END AS frac
      |FROM lb GROUP BY event_type, user_id
      |ORDER BY event_type, user_id""".stripMargin)
}
