package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PromQL operations over NATIVE (exponential-bucket) histograms —
  * the reference's third chunk encoding family
  * (schema/encoder.go:118-196 re-encodes EncHistogram /
  * EncFloatHistogram chunks; the query layer serves them to PromQL's
  * native-histogram functions).
  *
  * Row model: one histogram SAMPLE per row, as plain typed columns —
  *   - `zero_count`: observations in the zero bucket (threshold 0
  *     here: the bucket is the point 0.0),
  *   - `pos_idx`:    array<int>, ascending bucket indexes `i`, each
  *     covering `(base^(i-1), base^i]` with `base = 2^(2^-schema)`
  *     (Prometheus's exponential schema; negative indexes are
  *     fractional boundaries),
  *   - `pos_counts`: array<long> (integer histograms) or
  *     array<double> (FLOAT histograms — recording-rule output, the
  *     EncFloatHistogram family): every fold below accumulates in
  *     double, so both count types run the same analytics.
  * Span run-length plumbing is a wire-format detail of the chunk
  * encoding; the flattened (idx, count) arrays are the same
  * information the iterator yields after decoding.
  *
  * `histogramQuantile` follows promql/quantile.go's
  * `histogramQuantile(q, h)`: rank = q·count, walk buckets in
  * ascending value order (zero bucket first here — positive-only
  * histograms), pick the first bucket whose cumulative count reaches
  * the rank, linear interpolation within the bucket:
  * `lower + (upper − lower) · (rank − cumBefore) / bucketCount`.
  * Empty histogram → NaN, like Prometheus.
  *
  * Every scalar function is a NARROW per-row fold — one native loop
  * over the zipped bucket arrays ([[graft.functions.NhScalarFolds]]),
  * no explode, no shuffle: at 100 TB a range-vector of native
  * histograms evaluates entirely map-side. schema=0 makes every
  * boundary `2^i` an exact double, so a SQL oracle replaying the
  * identical walk is bit-equal (the gate pins that); other schemas
  * share the same code path via `pow(2, 2^-schema · i)`.
  */
object NativeHistogram {

  /** Bucket upper bound for index `i` at `schema`: base^i with
    * base = 2^(2^-schema). schema 0 → 2^i (FP-exact). */
  private[graft] def upperBound(i: Column, schema: Int): Column =
    pow(lit(2.0), i.cast("double") * lit(math.pow(2.0, -schema)))

  /** The q-quantile of each row's histogram (see object doc).
    * Returns a double Column; NaN for an empty histogram. */
  def histogramQuantile(q: Double, zeroCount: Column, posIdx: Column,
      posCounts: Column, schema: Int = 0): Column = {
    require(q >= 0.0 && q <= 1.0, s"q must be in [0,1], got $q")
    graft.functions.NhScalarFolds.quantile(
      q, zeroCount, posIdx, posCounts, schema)
  }

  /** [[histogramQuantile]] for histograms that also carry NEGATIVE
    * buckets (`neg_idx`/`neg_counts` — ascending mirror indexes:
    * negative bucket i covers [-base^i, -base^(i-1)), the positive
    * boundaries reflected about 0). promql/quantile.go's
    * `histogramQuantile` walks `AllBucketIterator` order — negative
    * buckets from the most negative value upward (DESCENDING index),
    * then the zero bucket, then positive ascending — with the same
    * linear interpolation in whichever bucket catches the rank.
    * Positive-only rows (empty neg arrays) reduce exactly to
    * [[histogramQuantile]]. Still one narrow per-row fold. */
  def histogramQuantileSigned(q: Double, zeroCount: Column,
      posIdx: Column, posCounts: Column, negIdx: Column,
      negCounts: Column, schema: Int = 0): Column = {
    require(q >= 0.0 && q <= 1.0, s"q must be in [0,1], got $q")
    graft.functions.NhScalarFolds.quantileSigned(
      q, zeroCount, posIdx, posCounts, negIdx, negCounts, schema)
  }

  /** [[histogramQuantile]] for CUSTOM-BUCKET histograms (NHCB,
    * schema -53): bucket index `i` covers
    * `(bounds(i-1), bounds(i)]` with the per-row `bounds` array the
    * chunk layout's custom_values list (ascending inclusive upper
    * bounds); index `bounds.length` is the +Inf overflow bucket.
    * The walk is promql/quantile.go's CLASSIC `bucketQuantile`
    * rules on the sparse non-cumulative row model: first bucket's
    * lower bound is 0 (a quantile landing there with a non-positive
    * upper bound returns the upper bound itself), a quantile landing
    * in +Inf returns the highest finite bound, linear interpolation
    * otherwise. NHCB has no zero bucket, so there is no zeroCount
    * argument. Same narrow per-row fold — map-side at any scale. */
  def histogramQuantileCustom(q: Double, posIdx: Column,
      posCounts: Column, bounds: Column): Column = {
    require(q >= 0.0 && q <= 1.0, s"q must be in [0,1], got $q")
    graft.functions.NhScalarFolds.quantileCustom(q, posIdx, posCounts, bounds)
  }

  /** PromQL `histogram_count`/`histogram_sum` are plain column
    * reads in this model; `histogram_avg` is their ratio. */
  def histogramCount(zeroCount: Column, posCounts: Column): Column =
    zeroCount + coalesce(
      graft.functions.NhScalarFolds.sumLong(posCounts), lit(0L))

  /** [[histogramCount]] with a DOUBLE accumulator: the variant that
    * also serves RATE vectors (bucket counts already divided by Δt),
    * where the long fold would fail analysis. Integer counts stay
    * exact — they are far below 2^53. */
  def histogramCountD(zeroCount: Column, posCounts: Column): Column =
    zeroCount.cast("double") + coalesce(
      graft.functions.NhScalarFolds.sumDouble(posCounts), lit(0.0))

  /** PromQL `histogram_avg(h)`: the tracked observation sum divided
    * by the count — one division, NaN for an empty histogram (like
    * Prometheus's avg over a zero-count histogram). */
  def histogramAvg(sumCol: Column, zeroCount: Column,
      posCounts: Column): Column = {
    // double fold so the same division serves rate vectors; integer
    // counts stay exact below 2^53 (identical value either way)
    val n = histogramCountD(zeroCount, posCounts)
    when(n === 0, lit(Double.NaN))
      .otherwise(sumCol.cast("double") / n)
  }

  /** [[histogramCountD]] for SIGNED histograms: the negative side's
    * observations count like any other bucket's. */
  def histogramCountSigned(zeroCount: Column, posCounts: Column,
      negCounts: Column): Column =
    histogramCountD(zeroCount, posCounts) + coalesce(
      graft.functions.NhScalarFolds.sumDouble(negCounts), lit(0.0))

  /** [[histogramAvg]] for SIGNED histograms. */
  def histogramAvgSigned(sumCol: Column, zeroCount: Column,
      posCounts: Column, negCounts: Column): Column = {
    val n = histogramCountSigned(zeroCount, posCounts, negCounts)
    when(n === 0, lit(Double.NaN))
      .otherwise(sumCol.cast("double") / n)
  }

  /** PromQL `histogram_stddev`/`histogram_stdvar` (promql/quantile.go
    * histogramStdDev): mean = sum/count; each bucket contributes
    * `count_b · (mid_b − mean)²` with `mid_b` the arithmetic middle
    * of the bucket bounds (the zero bucket's middle is 0 at
    * threshold 0); stdvar = Σ/count, stddev its square root. A
    * narrow fold like [[histogramQuantile]] — no explode, no
    * shuffle; NaN for an empty histogram.
    */
  def histogramStdvar(sumCol: Column, zeroCount: Column, posIdx: Column,
      posCounts: Column, schema: Int = 0): Column =
    graft.functions.NhScalarFolds.stdvar(
      sumCol, zeroCount, posIdx, posCounts, schema)

  /** [[histogramStdvar]] for SIGNED histograms: negative bucket i's
    * middle is the positive middle reflected about 0. Summation
    * order is ((zeroDev + posFold) + negFold), each side's fold
    * left-to-right ascending index — pinned so an oracle can replay
    * the FP association with ordered cumulative windows. */
  def histogramStdvarSigned(sumCol: Column, zeroCount: Column,
      posIdx: Column, posCounts: Column, negIdx: Column,
      negCounts: Column, schema: Int = 0): Column =
    graft.functions.NhScalarFolds.stdvarSigned(
      sumCol, zeroCount, posIdx, posCounts, negIdx, negCounts, schema)

  /** PromQL `rate(native_histogram[range])`: the bucket-wise counter
    * rate between each series' FIRST and LAST histogram sample in
    * the selected range — `(last_b − first_b) / Δt` per bucket, the
    * zero bucket alongside (what a native-histogram range vector
    * feeds `histogram_quantile(φ, rate(h[5m]))` with). Buckets may
    * APPEAR over a counter's lifetime, so missing first-side indexes
    * read as 0; per-bucket decreases (a counter reset mid-range)
    * clamp to 0 like PromQL's rate.
    *
    * Shape at scale: ONE hash aggregation on the series key picks
    * first/last snapshots via min/max over (ts, …) structs
    * (partial-aggregating map-side); the bucket subtraction is then
    * a NARROW `zip_with` against a `map_from_arrays` lookup of the
    * first snapshot — no explode, no second shuffle, no join.
    * `tsSecCol` must be epoch seconds (numeric). Series with <2
    * samples drop (no rate from one point, like PromQL).
    *
    * Returns: series cols, `dt_sec`, `zero_rate`, `pos_idx` (the
    * last snapshot's indexes), `pos_rate` (aligned rates).
    */
  def rateBy(df: DataFrame, seriesCols: Seq[String], tsSecCol: String,
      zeroCountCol: String, posIdxCol: String,
      posCountsCol: String): DataFrame = {
    val keys = seriesCols.map(col)
    // zero rides as double so the same path serves FLOAT histograms
    // (double bucket counts — recording-rule output); integer counts
    // stay exact below 2^53
    val snap = struct(col(tsSecCol).cast("long").as("t"),
      col(zeroCountCol).cast("double").as("z"),
      col(posIdxCol).as("i"), col(posCountsCol).as("c"))
    val ends = df.groupBy(keys: _*)
      .agg(min(snap).as("first"), max(snap).as("last"),
        count(lit(1)).as("_n"))
      .filter(col("_n") >= 2)
    val dt = (col("last.t") - col("first.t")).cast("double")
    val firstMap = map_from_arrays(col("first.i"), col("first.c"))
    ends.select(keys ++ Seq(
      dt.as("dt_sec"),
      (greatest(col("last.z") - col("first.z"), lit(0.0)).cast("double") / dt)
        .as("zero_rate"),
      col("last.i").as("pos_idx"),
      zip_with(col("last.i"), col("last.c"), (i, c) =>
        greatest(c - coalesce(element_at(firstMap, i), lit(0L)), lit(0L))
          .cast("double") / dt).as("pos_rate")): _*)
  }

  /** [[rateBy]] for SIGNED histograms: the negative side rides the
    * SAME first/last snapshot struct (whole-sample granularity — a
    * ts tie can never pick the positive side from one sample and the
    * negative from another) and rates bucket-wise with the identical
    * missing-first-reads-0 / decrease-clamps rules. Positive-only
    * input (empty neg arrays) produces the exact [[rateBy]] columns
    * plus empty `neg_idx`/`neg_rate`. */
  def rateBySigned(df: DataFrame, seriesCols: Seq[String], tsSecCol: String,
      zeroCountCol: String, posIdxCol: String, posCountsCol: String,
      negIdxCol: String, negCountsCol: String): DataFrame = {
    val keys = seriesCols.map(col)
    val snap = struct(col(tsSecCol).cast("long").as("t"),
      col(zeroCountCol).cast("double").as("z"),
      col(posIdxCol).as("i"), col(posCountsCol).as("c"),
      col(negIdxCol).as("ni"), col(negCountsCol).as("nc"))
    val ends = df.groupBy(keys: _*)
      .agg(min(snap).as("first"), max(snap).as("last"),
        count(lit(1)).as("_n"))
      .filter(col("_n") >= 2)
    val dt = (col("last.t") - col("first.t")).cast("double")
    val firstMap = map_from_arrays(col("first.i"), col("first.c"))
    val firstNegMap = map_from_arrays(col("first.ni"), col("first.nc"))
    ends.select(keys ++ Seq(
      dt.as("dt_sec"),
      (greatest(col("last.z") - col("first.z"), lit(0.0)).cast("double") / dt)
        .as("zero_rate"),
      col("last.i").as("pos_idx"),
      zip_with(col("last.i"), col("last.c"), (i, c) =>
        greatest(c - coalesce(element_at(firstMap, i), lit(0L)), lit(0L))
          .cast("double") / dt).as("pos_rate"),
      col("last.ni").as("neg_idx"),
      zip_with(col("last.ni"), col("last.nc"), (i, c) =>
        greatest(c - coalesce(element_at(firstNegMap, i), lit(0L)), lit(0L))
          .cast("double") / dt).as("neg_rate")): _*)
  }

  /** PromQL `delta(gauge_histogram[range])` — the GAUGE range
    * function ([[rateBy]]'s counter semantics don't apply: gauges
    * move both ways, so bucket deltas do NOT clamp and the result
    * may be negative on any component). Plain last − first like
    * graft's float `delta` (no extrapolation), missing-first buckets
    * read 0, both sides off ONE whole-sample snapshot pair. Series
    * with <2 samples drop. */
  def deltaBySigned(df: DataFrame, seriesCols: Seq[String], tsSecCol: String,
      zeroCountCol: String, posIdxCol: String, posCountsCol: String,
      negIdxCol: String, negCountsCol: String): DataFrame = {
    val keys = seriesCols.map(col)
    val snap = struct(col(tsSecCol).cast("long").as("t"),
      col(zeroCountCol).cast("double").as("z"),
      col(posIdxCol).as("i"), col(posCountsCol).as("c"),
      col(negIdxCol).as("ni"), col(negCountsCol).as("nc"))
    val ends = df.groupBy(keys: _*)
      .agg(min(snap).as("first"), max(snap).as("last"),
        count(lit(1)).as("_n"))
      .filter(col("_n") >= 2)
    deltaFromEnds(ends, keys)
  }

  /** The gauge-delta select over an `ends` frame carrying
    * `first`/`last` whole-sample snapshot structs (fields t, z, i,
    * c, ni, nc): bucket deltas over the UNION of first and last
    * bucket keys — a gauge histogram may legitimately drop a
    * populated bucket between snapshots (span relayout), and that
    * bucket's shrinkage is −first_count; iterating last's keys alone
    * would silently read it as 0 (upstream subtracts over the union:
    * model/histogram Sub walks both span sets). Shared by the raw
    * [[deltaBySigned]] and the rollup-served
    * [[HistRollupStore.deltaOf]] so routing reuses the identical
    * arithmetic.
    */
  private[tsdb] def deltaFromEnds(ends: DataFrame,
      keys: Seq[Column]): DataFrame = {
    val dt = (col("last.t") - col("first.t")).cast("double")
    def unionDelta(lastM: Column, firstM: Column): Column =
      map_zip_with(lastM, firstM, (_, l, f) =>
        (coalesce(l.cast("double"), lit(0.0)) -
          coalesce(f.cast("double"), lit(0.0))))
    val posD = unionDelta(map_from_arrays(col("last.i"), col("last.c")),
      map_from_arrays(col("first.i"), col("first.c")))
    val negD = unionDelta(map_from_arrays(col("last.ni"), col("last.nc")),
      map_from_arrays(col("first.ni"), col("first.nc")))
    ends.select(keys ++ Seq(
      dt.as("dt_sec"),
      (col("last.z") - col("first.z")).cast("double").as("zero_delta"),
      array_sort(map_keys(posD)).as("pos_idx"),
      transform(array_sort(map_keys(posD)), k => element_at(posD, k))
        .as("pos_delta"),
      array_sort(map_keys(negD)).as("neg_idx"),
      transform(array_sort(map_keys(negD)), k => element_at(negD, k))
        .as("neg_delta")): _*)
  }

  // ---- shared snapshot-walk primitives (the resets fold runs the
  // same per-step ladder as the native increase and stitch folds) ----

  private[graft] def hfAsMap(i: Column, c: Column): Column =
    map_from_arrays(i, c)
  /** A component decreased vs prev (missing cur key reads 0). */
  private[graft] def hfDecreased(prevM: Column, curM: Column): Column =
    exists(map_keys(prevM), k =>
      coalesce(element_at(curM, k), lit(0.0)) < element_at(prevM, k))
  /** The hint ladder: an explicit chunk header beats value
    * comparison; `unknown` falls back to the detector.
    */
  private[graft] def hfResetFlag(hint: Column, detected: Column): Column =
    when(hint === "counter_reset", lit(true))
      .when(hint === "not_counter_reset" || hint === "gauge", lit(false))
      .otherwise(detected)

  /** One whole-sample snapshot struct(t, z, i, c, ni, nc, h): time,
    * zero count, both bucket sides and the reset hint (`unknown`
    * without a hint column).
    */
  private[tsdb] def snapshot(tsSecCol: String, zeroCountCol: String,
      posIdxCol: String, posCountsCol: String, negIdxCol: String,
      negCountsCol: String, hintCol: Option[String]): Column =
    struct(col(tsSecCol).cast("long").as("t"),
      col(zeroCountCol).cast("double").as("z"),
      col(posIdxCol).cast("array<int>").as("i"),
      col(posCountsCol).cast("array<double>").as("c"),
      col(negIdxCol).cast("array<int>").as("ni"),
      col(negCountsCol).cast("array<double>").as("nc"),
      hintCol.map(col).getOrElse(lit("unknown")).as("h"))

  /** Each series' samples as ONE time-sorted [[snapshot]] array `_ss`
    * — the input of the increase and resets walks. One series-keyed
    * aggregation.
    */
  private[graft] def snapshotSeries(df: DataFrame, seriesCols: Seq[String],
      tsSecCol: String, zeroCountCol: String, posIdxCol: String,
      posCountsCol: String, negIdxCol: String, negCountsCol: String,
      hintCol: Option[String]): DataFrame =
    df.groupBy(seriesCols.map(col): _*)
      .agg(sort_array(collect_list(snapshot(tsSecCol, zeroCountCol,
        posIdxCol, posCountsCol, negIdxCol, negCountsCol, hintCol)))
        .as("_ss"))

  /** RESET-AWARE `increase(native_histogram[range])` — the
    * Prometheus counter contract the first/last snapshot of
    * [[rateBySigned]] approximates: walk each series' samples in
    * time order, detect a COUNTER RESET between consecutive samples
    * (the zero bucket or ANY bucket on either side decreased —
    * promql's histogram reset detection; a bucket vanishing reads 0,
    * so disappearance is a decrease too), and on reset add the
    * post-reset histogram whole (the counter restarted from it)
    * instead of the prev-relative delta. Over reset-free data the
    * per-step deltas telescope to exactly last − first, so this is
    * value-identical to the snapshot pair there (integer counts ride
    * exact in double) — the existing hash-pinned gates double as the
    * no-reset equivalence pin.
    *
    * Shape at scale: ONE series-keyed aggregation collecting the
    * range's samples (`sort_array(collect_list)` — bounded by
    * range/scrape-interval samples per series, e.g. ~20 for 5m@15s,
    * NOT corpus-sized), then ONE native loop per series over
    * sparse-map accumulators ([[graft.functions.NhIncreaseFold]]) —
    * no second shuffle, no explode, no window function. Prefer
    * [[rateBySigned]] when reset-freedom is known (downsampled
    * rollups): its min/max buffer is O(1) per series instead of
    * O(samples-in-range).
    *
    * Returns: series cols, `dt_sec`, `zero_inc`, `pos_idx`/`pos_inc`
    * (ascending union of bucket indexes seen in the range, with
    * reset-corrected increases), `neg_idx`/`neg_inc`. Series with <2
    * samples drop, like PromQL.
    *
    * `hintCol` (optional) carries a per-sample COUNTER-RESET HINT
    * string as chunkenc iterators surface it
    * ([[graft.tsdb.block.TsdbBlockStore.readHistLabels]] with
    * `withResetHint`): `counter_reset` forces a reset at that step
    * even when no component decreased (a restart that re-accumulated
    * PAST the old values between scrapes is invisible to value
    * comparison — only the header knows); `not_counter_reset` /
    * `gauge` suppress detection; `unknown` (or no hint column) falls
    * back to the component-decrease walk, Prometheus's own ladder.
    */
  def increaseBySignedResets(df: DataFrame, seriesCols: Seq[String],
      tsSecCol: String, zeroCountCol: String, posIdxCol: String,
      posCountsCol: String, negIdxCol: String,
      negCountsCol: String, hintCol: Option[String] = None): DataFrame = {
    val series = snapshotSeries(df, seriesCols, tsSecCol, zeroCountCol,
      posIdxCol, posCountsCol, negIdxCol, negCountsCol, hintCol)
      .filter(size(col("_ss")) >= 2)
    val withF = series.withColumn("_f",
      graft.functions.NhIncreaseFold.fold(col("_ss")))
    val dt = (element_at(col("_ss"), -1).getField("t") -
      element_at(col("_ss"), 1).getField("t")).cast("double")
    withF.select(seriesCols.map(col) ++
      (dt.as("dt_sec") +: increaseColumns("_f")): _*)
  }

  /** The increase columns (`zero_inc`, `pos_idx`/`pos_inc`,
    * `neg_idx`/`neg_inc`) of the increase or stitch fold's result
    * struct column `f`. */
  private[tsdb] def increaseColumns(f: String): Seq[Column] =
    Seq(col(s"$f.z").as("zero_inc"), col(s"$f.pos_idx").as("pos_idx"),
      col(s"$f.pos_inc").as("pos_inc"), col(s"$f.neg_idx").as("neg_idx"),
      col(s"$f.neg_inc").as("neg_inc"))

  /** PromQL `resets(native_histogram[range])`: count of counter
    * resets between consecutive samples, detected exactly as
    * [[increaseBySignedResets]] does (zero bucket or ANY bucket on
    * either side decreased; a vanishing bucket reads 0; an optional
    * `hintCol` header overrides detection the same way). Same
    * bounded collect + narrow fold shape; single-sample series emit
    * 0 like the float `resets`. */
  def resetsBySigned(df: DataFrame, seriesCols: Seq[String],
      tsSecCol: String, zeroCountCol: String, posIdxCol: String,
      posCountsCol: String, negIdxCol: String,
      negCountsCol: String, hintCol: Option[String] = None): DataFrame = {
    val series = snapshotSeries(df, seriesCols, tsSecCol, zeroCountCol,
      posIdxCol, posCountsCol, negIdxCol, negCountsCol, hintCol)
    val first = element_at(col("_ss"), 1)
    val init = struct(lit(0L).as("n"),
      struct(first.getField("z").as("z"),
        hfAsMap(first.getField("i"), first.getField("c")).as("p"),
        hfAsMap(first.getField("ni"), first.getField("nc")).as("n"))
        .as("prev"))
    val folded = aggregate(
      slice(col("_ss"), lit(2), size(col("_ss")) - 1), init,
      (acc, cur) => {
        val prev = acc.getField("prev")
        val curP = hfAsMap(cur.getField("i"), cur.getField("c"))
        val curN = hfAsMap(cur.getField("ni"), cur.getField("nc"))
        val detected = (cur.getField("z") < prev.getField("z")) ||
          hfDecreased(prev.getField("p"), curP) ||
          hfDecreased(prev.getField("n"), curN)
        val reset = hfResetFlag(cur.getField("h"), detected)
        struct(
          (acc.getField("n") + when(reset, lit(1L)).otherwise(lit(0L)))
            .as("n"),
          struct(cur.getField("z").as("z"), curP.as("p"), curN.as("n"))
            .as("prev"))
      })
    series.select(seriesCols.map(col) :+
      folded.getField("n").cast("double").as("resets"): _*)
  }

  /** PromQL `histogram_fraction(lower, upper, h)`: estimated
    * fraction of observations in [lower, upper] — per bucket, the
    * linear-overlap share `max(0, min(upper,bu) − max(lower,bl)) /
    * (bu − bl)` of its count (promql/quantile.go
    * histogramFraction's interpolation), plus the zero bucket's
    * point mass at 0 when the interval covers it. Same narrow fold
    * as [[histogramQuantile]]; NaN for an empty histogram. Bounds
    * aligned on bucket boundaries make every per-bucket share
    * exactly 0 or 1 — the FP-exact configuration the gate query
    * uses; interpolated shares are spec-pinned.
    */
  def histogramFraction(lower: Double, upper: Double, zeroCount: Column,
      posIdx: Column, posCounts: Column, schema: Int = 0): Column = {
    require(lower <= upper, s"lower ($lower) must be ≤ upper ($upper)")
    graft.functions.NhScalarFolds.fraction(
      lower, upper, zeroCount, posIdx, posCounts, schema)
  }

  /** [[histogramFraction]] for SIGNED histograms: negative bucket
    * i's interval is [-base^i, -base^(i-1)], the positive bounds
    * reflected; the same linear-overlap share applies. Summation
    * order ((zero + posFold) + negFold), folds ascending index. */
  def histogramFractionSigned(lower: Double, upper: Double,
      zeroCount: Column, posIdx: Column, posCounts: Column,
      negIdx: Column, negCounts: Column, schema: Int = 0): Column = {
    require(lower <= upper, s"lower ($lower) must be ≤ upper ($upper)")
    graft.functions.NhScalarFolds.fractionSigned(
      lower, upper, zeroCount, posIdx, posCounts, negIdx, negCounts, schema)
  }

  /** Bucket-wise aggregation of native histograms across series
    * (PromQL `sum by (labels)` over a native-histogram vector):
    * explode the sparse (idx, count) pairs, one hash aggregation on
    * (labels…, idx) — corpus-cardinality shuffle key, partial
    * map-side combine — and the zero bucket sums alongside.
    * Returns one row per (labels…, idx) plus idx NULL for the zero
    * bucket, counts summed.
    */
  def sumBy(df: DataFrame, labelCols: Seq[String], zeroCountCol: String,
      posIdxCol: String, posCountsCol: String): DataFrame = {
    val keys = labelCols.map(col)
    // the zero bucket rides the SAME explode as the indexed buckets
    // (idx NULL), so the whole sum is ONE scan + ONE aggregation —
    // the previous two-aggregation union re-derived the input subplan
    // twice and shuffled twice for identical output rows (long sums
    // are order-exact). A row with NULL bucket arrays still
    // contributes its zero count (the coalesce), as the separate
    // zeros aggregation did.
    val zipped = zip_with(col(posIdxCol), col(posCountsCol),
      (i, c) => struct(i.as("idx"), c.as("cnt")))
    val withZero = concat(
      array(struct(lit(null).cast("int").as("idx"),
        col(zeroCountCol).as("cnt"))),
      coalesce(zipped, array()))
    df.select(keys :+ explode(withZero).as("b"): _*)
      .groupBy(keys :+ col("b.idx").as("idx"): _*)
      .agg(sum(col("b.cnt")).as("count"))
      .select(keys :+ col("idx") :+ col("count"): _*)
  }
}
