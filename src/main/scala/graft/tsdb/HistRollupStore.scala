package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [[RollupStore]] for NATIVE-HISTOGRAM series: materialized
  * downsampled layers over the long-format histogram-sample model
  * ([[NativeHistogram]]'s row shape — zero_count, pos_idx/pos_counts,
  * neg_idx/neg_counts, optional counter-reset hint). The 100 TB
  * motivation is the same as the scalar store's — a 30-day NH
  * dashboard (`histogram_quantile(0.99, rate(m[...]))`) should read
  * windows, not samples — and the exactness story carries over
  * because the reset-aware histogram increase obeys the same
  * consecutive-pair decomposition: per-step deltas partition into
  * within-window steps plus one boundary step per window seam.
  *
  * Per (series, window) the layer stores:
  *   - `n` — sample count,
  *   - the window's FIRST and LAST whole-sample snapshots (time,
  *     zero count, both bucket sides, reset hint) — the boundary
  *     samples every stitched fold and the rate ladder need,
  *   - the within-window reset-aware INCREASE: zero_inc +
  *     (pos_idx, pos_inc) / (neg_idx, neg_inc) sparse maps, computed
  *     by the same walk as
  *     [[NativeHistogram.increaseBySignedResets]] (component
  *     decrease OR an explicit chunk header ⇒ reset ⇒ the post-reset
  *     histogram adds whole).
  *
  * [[stitchedIncrease]] reassembles the raw fold exactly for
  * INTEGRAL bucket counts (standard native histograms — every term
  * is integer arithmetic below 2^53). For FLOAT histograms the
  * stitched sum reassociates double additions across windows, so it
  * agrees with the raw fold up to FP reassociation — same caveat as
  * any distributed float aggregation, declared here rather than
  * hidden.
  *
  * Scale shape: the write is [[NativeHistogram.increaseBySignedResets]]
  * keyed (series, window) — ONE series-window aggregation whose
  * buffer is bounded by samples-per-window — joined to a min/max
  * snapshot aggregation on the same key (co-partitioned, no extra
  * shuffle stage beyond the join), then the bucketed-sorted
  * [[TsdbConverter.convert]] write. The stitch is one series-keyed
  * aggregation bounded by windows-in-range.
  */
object HistRollupStore {

  /** Materialize one NH rollup layer at `resolutionSec` windows. */
  def write(df: DataFrame, path: String, seriesCols: Seq[String],
      tsSecCol: String, zeroCol: String, posIdxCol: String,
      posCountsCol: String, negIdxCol: String, negCountsCol: String,
      resolutionSec: Long, hintCol: Option[String] = None,
      opts: ConvertOptions = ConvertOptions(Nil)): Unit = {
    require(resolutionSec > 0, s"resolution must be positive, got $resolutionSec")
    val winCol = (floor(col(tsSecCol) / resolutionSec) * resolutionSec)
      .cast("long")
    val base = df.withColumn("window_sec", winCol)
    val snap = NativeHistogram.snapshot(tsSecCol, zeroCol, posIdxCol,
      posCountsCol, negIdxCol, negCountsCol, hintCol)
    val keyCols = seriesCols :+ "window_sec"
    val bounds = base.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"), min(snap).as("_f"), max(snap).as("_l"))
    // within-window reset-aware increase; windows with <2 samples
    // drop out of this side and read as empty increases in the join
    val inc = NativeHistogram.increaseBySignedResets(base, keyCols,
        tsSecCol, zeroCol, posIdxCol, posCountsCol, negIdxCol,
        negCountsCol, hintCol)
      .drop("dt_sec")
    val rolled = bounds.join(inc, keyCols, "left")
      .select((seriesCols.map(col) :+ col("window_sec") :+ col("n") :+
        col("_f.t").as("f_t") :+ col("_f.z").as("f_z") :+
        col("_f.i").as("f_i") :+ col("_f.c").as("f_c") :+
        col("_f.ni").as("f_ni") :+ col("_f.nc").as("f_nc") :+
        col("_f.h").as("f_h") :+
        col("_l.t").as("l_t") :+ col("_l.z").as("l_z") :+
        col("_l.i").as("l_i") :+ col("_l.c").as("l_c") :+
        col("_l.ni").as("l_ni") :+ col("_l.nc").as("l_nc") :+
        coalesce(col("zero_inc"), lit(0.0)).as("zero_inc") :+
        coalesce(col("pos_idx"), array().cast("array<int>")).as("pos_idx") :+
        coalesce(col("pos_inc"), array().cast("array<double>")).as("pos_inc") :+
        coalesce(col("neg_idx"), array().cast("array<int>")).as("neg_idx") :+
        coalesce(col("neg_inc"), array().cast("array<double>")).as("neg_inc") :+
        timestamp_seconds(col("window_sec")).as("ts")): _*)
    TsdbConverter.convert(rolled, path, "ts",
      if (opts.sortBy.nonEmpty) opts else opts.copy(sortBy = seriesCols))
  }

  /** Windows fully inside `[mintSec, maxtSec)` with matcher pushdown
    * and bucket-directory pruning — the NH twin of
    * [[RollupStore.select]].
    */
  def select(spark: SparkSession, path: String, mintSec: Long, maxtSec: Long,
      matchers: Seq[Matcher] = Nil,
      bucketDuration: String = "1 day"): DataFrame = {
    require(maxtSec > mintSec, s"empty range [$mintSec, $maxtSec)")
    val width = TsdbConverter.durationSeconds(bucketDuration)
    val pred = matchers.flatMap(_.toPredicate)
      .reduceOption(_ && _).getOrElse(lit(true))
    spark.read.parquet(path)
      .filter(col("bucket").between(mintSec / width, (maxtSec - 1) / width))
      .filter(col("window_sec") >= mintSec && col("window_sec") < maxtSec)
      .filter(pred)
  }

  /** Reset-aware NH increase over the window-aligned range,
    * reassembled from the layer: per series the ordered windows fold
    * as (boundary step from the previous window's LAST snapshot to
    * this window's FIRST — the identical detect-or-hint ladder the
    * raw walk runs) ⊕ (this window's stored increase maps). Output
    * shape and semantics match
    * [[NativeHistogram.increaseBySignedResets]] exactly — series
    * with <2 samples drop, `dt_sec` spans first to last SAMPLE.
    */
  def stitchedIncrease(spark: SparkSession, path: String,
      seriesCols: Seq[String], mintSec: Long, maxtSec: Long,
      matchers: Seq[Matcher] = Nil): DataFrame =
    stitchedIncreaseOf(
      select(spark, path, mintSec, maxtSec, matchers), seriesCols)

  /** The per-window payload every stitch and cascade consumes —
    * collect with `sort_array(collect_list(winStruct))` so folds
    * walk windows in time order (window_sec leads and is unique per
    * (series, window) group).
    */
  private[graft] def winStruct: Column = struct(col("window_sec"), col("n"),
    struct(col("f_t").as("t"), col("f_z").as("z"), col("f_i").as("i"),
      col("f_c").as("c"), col("f_ni").as("ni"), col("f_nc").as("nc"),
      col("f_h").as("h")).as("f"),
    struct(col("l_t").as("t"), col("l_z").as("z"), col("l_i").as("i"),
      col("l_c").as("c"), col("l_ni").as("ni"), col("l_nc").as("nc"))
      .as("l"),
    col("zero_inc"), col("pos_idx"), col("pos_inc"),
    col("neg_idx"), col("neg_inc"))

  /** The stitched fold over a sorted [[winStruct]] array: seed with
    * window 1's stored increase maps, then per window add the
    * boundary step (previous window's LAST snapshot → this window's
    * FIRST, the identical detect-or-hint ladder the raw walk runs)
    * plus the window's stored maps — ONE native loop
    * ([[graft.functions.NhStitchFold]]). Returns struct(z, pos_idx,
    * pos_inc, neg_idx, neg_inc) with bucket keys ascending. Exact for
    * integral bucket counts; float histograms re-associate double
    * additions across windows (module-doc caveat).
    */
  private def foldWindows(warr: Column): Column =
    graft.functions.NhStitchFold.fold(warr)

  /** Build a COARSER NH rollup layer from a finer one — the layer
    * cascade ([[RollupStore.writeFrom]]'s NH twin; Thanos compact
    * never rescans raw to build 1h from 5m). All stored columns
    * compose: `n` sums, the coarse boundary snapshots are the
    * earliest/latest fine windows' snapshots (windows partition
    * time), and the increase maps reassemble as window 1's stored
    * maps ⊕ (boundary step ⊕ stored maps) per subsequent fine window
    * — exactly [[foldWindows]], the same decomposition
    * [[stitchedIncrease]] already proves against the raw walk.
    * Exact for integral bucket counts (standard native histograms);
    * float histograms re-associate double additions across fine
    * windows — the module-doc caveat, inherited unchanged.
    *
    * One narrow map + one partial-aggregating shuffle at coarse
    * (series, window) grain; the fold buffer holds fine-windows-per-
    * coarse-window structs, never corpus size.
    */
  def writeFrom(spark: SparkSession, finePath: String, path: String,
      seriesCols: Seq[String], fineResolutionSec: Long,
      resolutionSec: Long, opts: ConvertOptions = ConvertOptions(Nil)): Unit = {
    require(fineResolutionSec > 0 && resolutionSec > fineResolutionSec,
      s"coarse resolution $resolutionSec must exceed fine $fineResolutionSec")
    require(resolutionSec % fineResolutionSec == 0,
      s"coarse resolution $resolutionSec must be a multiple of " +
        s"$fineResolutionSec or fine windows would straddle coarse seams")
    val fSnap = struct(col("f_t").as("t"), col("f_z").as("z"),
      col("f_i").as("i"), col("f_c").as("c"), col("f_ni").as("ni"),
      col("f_nc").as("nc"), col("f_h").as("h"))
    val lSnap = struct(col("l_t").as("t"), col("l_z").as("z"),
      col("l_i").as("i"), col("l_c").as("c"), col("l_ni").as("ni"),
      col("l_nc").as("nc"))
    val grouped = spark.read.parquet(finePath)
      .withColumn("_cw",
        (floor(col("window_sec") / resolutionSec) * resolutionSec)
          .cast("long"))
      .groupBy((seriesCols.map(col) :+ col("_cw")): _*)
      .agg(sum(col("n")).as("n"),
        min(fSnap).as("_f"), max(lSnap).as("_l"),
        sort_array(collect_list(winStruct)).as("_w"))
      .withColumn("_f2", foldWindows(col("_w")))
    val rolled = grouped.select((seriesCols.map(col) :+
      col("_cw").as("window_sec") :+ col("n") :+
      col("_f.t").as("f_t") :+ col("_f.z").as("f_z") :+
      col("_f.i").as("f_i") :+ col("_f.c").as("f_c") :+
      col("_f.ni").as("f_ni") :+ col("_f.nc").as("f_nc") :+
      col("_f.h").as("f_h") :+
      col("_l.t").as("l_t") :+ col("_l.z").as("l_z") :+
      col("_l.i").as("l_i") :+ col("_l.c").as("l_c") :+
      col("_l.ni").as("l_ni") :+ col("_l.nc").as("l_nc")) ++
      NativeHistogram.increaseColumns("_f2") :+
      timestamp_seconds(col("_cw")).as("ts"): _*)
    TsdbConverter.convert(rolled, path, "ts",
      if (opts.sortBy.nonEmpty) opts else opts.copy(sortBy = seriesCols))
  }

  /** [[stitchedIncrease]] over an already-selected windows frame,
    * grouped by arbitrary key columns — the PromQL front-end routes
    * grid queries through this with the step key appended.
    */
  def stitchedIncreaseOf(rows: DataFrame,
      seriesCols: Seq[String]): DataFrame = {
    val series = rows.groupBy(seriesCols.map(col): _*)
      .agg(sort_array(collect_list(winStruct)).as("_w"),
        sum(col("n")).as("_n"))
      .filter(col("_n") >= 2)
    val withF = series.withColumn("_f2", foldWindows(col("_w")))
    val dt = (element_at(col("_w"), -1).getField("l").getField("t") -
      element_at(col("_w"), 1).getField("f").getField("t")).cast("double")
    withF.select(seriesCols.map(col) ++
      (dt.as("dt_sec") +: NativeHistogram.increaseColumns("_f2")): _*)
  }

  /** GAUGE `delta` served from layer rows: the range's first/last
    * whole-sample snapshots ARE stored (the earliest window's `f_*`,
    * the latest window's `l_*` — windows partition time, so the
    * min/max by snapshot time reconstruct exactly the raw
    * [[NativeHistogram.deltaBySigned]] snapshot pair), then the
    * identical union-keyed unclamped subtraction
    * ([[NativeHistogram.deltaFromEnds]]) runs on them — the routed
    * answer is the same IEEE ops on the same doubles. Series with <2
    * samples in range drop, as raw.
    */
  def deltaOf(rows: DataFrame, seriesCols: Seq[String]): DataFrame = {
    val fSnap = struct(col("f_t").as("t"), col("f_z").as("z"),
      col("f_i").as("i"), col("f_c").as("c"),
      col("f_ni").as("ni"), col("f_nc").as("nc"))
    val lSnap = struct(col("l_t").as("t"), col("l_z").as("z"),
      col("l_i").as("i"), col("l_c").as("c"),
      col("l_ni").as("ni"), col("l_nc").as("nc"))
    val ends = rows.groupBy(seriesCols.map(col): _*)
      .agg(min(fSnap).as("first"), max(lSnap).as("last"),
        sum(col("n")).as("_n"))
      .filter(col("_n") >= 2)
    NativeHistogram.deltaFromEnds(ends, seriesCols.map(col))
  }
}
