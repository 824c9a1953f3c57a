package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.tsdb.{HistRollupStore, NativeHistogram}
import graft.tsdb.NativeHistogram.{hfAsMap, hfDecreased, hfResetFlag, upperBound}

/** The HOF (`aggregate`/`zip_with`/`map_zip_with`) formulations of the
  * native-histogram folds — the executable spec each native Catalyst
  * fold replaced and is pinned against, value-identical by contract:
  * the scalar folds in NhScalarFoldsSpec, the reset-aware increase in
  * NativeHistogramSpec and the rollup stitch in HistRollupStoreSpec.
  * Each takes the arguments of the public [[NativeHistogram]] /
  * [[HistRollupStore]] function of the same name.
  */
object NhReference {

  def histogramQuantile(q: Double, zeroCount: Column, posIdx: Column,
      posCounts: Column, schema: Int): Column = {
    // double accumulator so the same walk serves integer count
    // vectors AND rate vectors (histogram_quantile over rateBy);
    // integer counts stay exact — they're < 2^53
    val total = zeroCount.cast("double") +
      coalesce(aggregate(posCounts, lit(0.0),
        (a, c) => a + c.cast("double")), lit(0.0))
    val rank = lit(q) * total
    // fold state: (cum count so far, result or null)
    val folded = aggregate(
      zip_with(posIdx, posCounts, (i, c) => struct(i.as("i"), c.as("c"))),
      struct(zeroCount.cast("double").as("cum"),
        lit(null).cast("double").as("res")),
      (acc, b) => {
        val cumNext = acc.getField("cum") + b.getField("c").cast("double")
        val lower = upperBound(b.getField("i") - 1, schema)
        val upper = upperBound(b.getField("i"), schema)
        val inBucket = lower +
          (upper - lower) *
            ((rank - acc.getField("cum")) / b.getField("c").cast("double"))
        when(acc.getField("res").isNotNull, acc)
          .when(cumNext >= rank && b.getField("c") > 0,
            struct(cumNext.as("cum"), inBucket.as("res")))
          .otherwise(struct(cumNext.as("cum"),
            lit(null).cast("double").as("res")))
      },
      acc => acc.getField("res"))
    when(total === 0, lit(Double.NaN))
      .when(zeroCount.cast("double") >= rank, lit(0.0))
      .otherwise(coalesce(folded,
        // rank beyond the last bucket (q=1 lands exactly on the last
        // cum, handled in the fold; this is pure FP-slack guard):
        // the highest populated bucket's upper bound
        upperBound(element_at(posIdx, -1), schema)))
  }

  def histogramQuantileSigned(q: Double, zeroCount: Column,
      posIdx: Column, posCounts: Column, negIdx: Column,
      negCounts: Column, schema: Int): Column = {
    val sumOf = (c: Column) => coalesce(aggregate(c, lit(0.0),
      (a, x) => a + x.cast("double")), lit(0.0))
    val negTotal = sumOf(negCounts)
    val posTotal = sumOf(posCounts)
    val zeroD = zeroCount.cast("double")
    val total = negTotal + zeroD + posTotal
    val rank = lit(q) * total
    // negative region: iterate REVERSED (highest index = most
    // negative value first); bucket i covers [-base^i, -base^(i-1))
    val negFolded = aggregate(
      reverse(zip_with(negIdx, negCounts,
        (i, c) => struct(i.as("i"), c.as("c")))),
      struct(lit(0.0).as("cum"), lit(null).cast("double").as("res")),
      (acc, b) => {
        val c = b.getField("c").cast("double")
        val cumNext = acc.getField("cum") + c
        val lower = lit(-1.0) * upperBound(b.getField("i"), schema)
        val upper = lit(-1.0) * upperBound(b.getField("i") - 1, schema)
        val inBucket = lower + (upper - lower) *
          ((rank - acc.getField("cum")) / c)
        when(acc.getField("res").isNotNull, acc)
          .when(cumNext >= rank && c > 0,
            struct(cumNext.as("cum"), inBucket.as("res")))
          .otherwise(struct(cumNext.as("cum"),
            lit(null).cast("double").as("res")))
      },
      acc => acc.getField("res"))
    // positive region: the ordinary ascending walk, cumulative seeded
    // past everything below it (neg total + zero bucket)
    val posFolded = aggregate(
      zip_with(posIdx, posCounts, (i, c) => struct(i.as("i"), c.as("c"))),
      struct((negTotal + zeroD).as("cum"),
        lit(null).cast("double").as("res")),
      (acc, b) => {
        val c = b.getField("c").cast("double")
        val cumNext = acc.getField("cum") + c
        val lower = upperBound(b.getField("i") - 1, schema)
        val upper = upperBound(b.getField("i"), schema)
        val inBucket = lower + (upper - lower) *
          ((rank - acc.getField("cum")) / c)
        when(acc.getField("res").isNotNull, acc)
          .when(cumNext >= rank && c > 0,
            struct(cumNext.as("cum"), inBucket.as("res")))
          .otherwise(struct(cumNext.as("cum"),
            lit(null).cast("double").as("res")))
      },
      acc => acc.getField("res"))
    when(total === 0, lit(Double.NaN))
      .when(negTotal > 0 && rank <= negTotal,
        // FP-slack guard mirroring the positive walk: the negative
        // region's highest value is -lowerBound(min index)
        coalesce(negFolded,
          lit(-1.0) * upperBound(element_at(negIdx, 1) - 1, schema)))
      .when(negTotal + zeroD >= rank, lit(0.0))
      .otherwise(coalesce(posFolded,
        upperBound(element_at(posIdx, -1), schema)))
  }

  def histogramQuantileCustom(q: Double, posIdx: Column,
      posCounts: Column, bounds: Column): Column = {
    val total = coalesce(aggregate(posCounts, lit(0.0),
      (a, c) => a + c.cast("double")), lit(0.0))
    val rank = lit(q) * total
    val nb = size(bounds)
    val folded = aggregate(
      zip_with(posIdx, posCounts, (i, c) => struct(i.as("i"), c.as("c"))),
      struct(lit(0.0).as("cum"), lit(null).cast("double").as("res")),
      (acc, b) => {
        val i = b.getField("i")
        val c = b.getField("c").cast("double")
        val cumNext = acc.getField("cum") + c
        val upper = element_at(bounds, i + 1) // 1-based element_at
        val lower = when(i === 0, lit(0.0))
          .otherwise(element_at(bounds, i))
        val inBucket =
          when(i >= nb, element_at(bounds, -1)) // +Inf → last finite
          .when(i === 0 && upper <= 0, upper)   // classic rule
          .otherwise(lower + (upper - lower) *
            ((rank - acc.getField("cum")) / c))
        when(acc.getField("res").isNotNull, acc)
          .when(cumNext >= rank && c > 0,
            struct(cumNext.as("cum"), inBucket.as("res")))
          .otherwise(struct(cumNext.as("cum"),
            lit(null).cast("double").as("res")))
      },
      acc => acc.getField("res"))
    when(total === 0, lit(Double.NaN))
      // FP-slack guard as in the exponential walk: rank beyond the
      // last populated bucket resolves to the highest finite bound
      .otherwise(coalesce(folded, element_at(bounds, -1)))
  }

  def histogramStdvar(sumCol: Column, zeroCount: Column, posIdx: Column,
      posCounts: Column, schema: Int): Column = {
    // double fold so the same walk serves rate vectors; integer
    // counts stay exact below 2^53
    val n = NativeHistogram.histogramCountD(zeroCount, posCounts)
    val mean = sumCol.cast("double") / n.cast("double")
    val zeroDev = zeroCount.cast("double") * mean * mean
    val posDev = aggregate(
      zip_with(posIdx, posCounts, (i, c) => struct(i.as("i"), c.as("c"))),
      lit(0.0),
      (acc, b) => {
        val mid = (upperBound(b.getField("i") - 1, schema) +
          upperBound(b.getField("i"), schema)) / 2.0
        acc + b.getField("c").cast("double") * (mid - mean) * (mid - mean)
      })
    when(n === 0, lit(Double.NaN))
      .otherwise((zeroDev + coalesce(posDev, lit(0.0))) / n.cast("double"))
  }

  def histogramStdvarSigned(sumCol: Column, zeroCount: Column,
      posIdx: Column, posCounts: Column, negIdx: Column,
      negCounts: Column, schema: Int): Column = {
    val n = NativeHistogram.histogramCountSigned(zeroCount, posCounts,
      negCounts)
    val mean = sumCol.cast("double") / n
    val zeroDev = zeroCount.cast("double") * mean * mean
    def devFold(idx: Column, counts: Column, sign: Double): Column =
      aggregate(
        zip_with(idx, counts, (i, c) => struct(i.as("i"), c.as("c"))),
        lit(0.0),
        (acc, b) => {
          val mid = lit(sign) * (upperBound(b.getField("i") - 1, schema) +
            upperBound(b.getField("i"), schema)) / 2.0
          acc + b.getField("c").cast("double") * (mid - mean) * (mid - mean)
        })
    when(n === 0, lit(Double.NaN))
      .otherwise(((zeroDev + coalesce(devFold(posIdx, posCounts, 1.0),
        lit(0.0))) + coalesce(devFold(negIdx, negCounts, -1.0), lit(0.0))) / n)
  }

  def histogramFraction(lower: Double, upper: Double, zeroCount: Column,
      posIdx: Column, posCounts: Column, schema: Int): Column = {
    // double fold (histogramCountD) so rate vectors work too;
    // integer totals stay exact below 2^53
    val total = NativeHistogram.histogramCountD(zeroCount, posCounts)
    val zeroContrib =
      if (lower <= 0.0 && 0.0 <= upper) zeroCount.cast("double") else lit(0.0)
    val inBuckets = aggregate(
      zip_with(posIdx, posCounts, (i, c) => struct(i.as("i"), c.as("c"))),
      lit(0.0),
      (acc, b) => {
        val bl = upperBound(b.getField("i") - 1, schema)
        val bu = upperBound(b.getField("i"), schema)
        val share = greatest(
          least(lit(upper), bu) - greatest(lit(lower), bl), lit(0.0)) /
          (bu - bl)
        acc + b.getField("c").cast("double") * share
      })
    when(total === 0, lit(Double.NaN))
      .otherwise((zeroContrib + coalesce(inBuckets, lit(0.0))) /
        total.cast("double"))
  }

  def histogramFractionSigned(lower: Double, upper: Double,
      zeroCount: Column, posIdx: Column, posCounts: Column,
      negIdx: Column, negCounts: Column, schema: Int): Column = {
    val total = NativeHistogram.histogramCountSigned(zeroCount, posCounts,
      negCounts)
    val zeroContrib =
      if (lower <= 0.0 && 0.0 <= upper) zeroCount.cast("double") else lit(0.0)
    def shareFold(idx: Column, counts: Column, neg: Boolean): Column =
      aggregate(
        zip_with(idx, counts, (i, c) => struct(i.as("i"), c.as("c"))),
        lit(0.0),
        (acc, b) => {
          val u1 = upperBound(b.getField("i") - 1, schema)
          val u2 = upperBound(b.getField("i"), schema)
          val bl = if (neg) lit(-1.0) * u2 else u1
          val bu = if (neg) lit(-1.0) * u1 else u2
          val share = greatest(
            least(lit(upper), bu) - greatest(lit(lower), bl), lit(0.0)) /
            (bu - bl)
          acc + b.getField("c").cast("double") * share
        })
    when(total === 0, lit(Double.NaN))
      .otherwise(((zeroContrib +
        coalesce(shareFold(posIdx, posCounts, neg = false), lit(0.0))) +
        coalesce(shareFold(negIdx, negCounts, neg = true), lit(0.0))) / total)
  }

  // ---- the sparse-map step primitives of the increase and stitch
  // walks (the resets fold shares the rest from NativeHistogram) ----

  private def hfEmptyMap: Column = map_from_arrays(
    array().cast("array<int>"), array().cast("array<double>"))
  private def hfMergeSum(a: Column, b: Column): Column =
    map_zip_with(a, b, (_, x, y) =>
      coalesce(x, lit(0.0)) + coalesce(y, lit(0.0)))
  /** One side's per-step contribution: the whole cur histogram on
    * reset, else cur − prev over the UNION of both key sets. The
    * union matters only when reset is hint-SUPPRESSED: a value-
    * detected walk already flags any vanished nonzero bucket as a
    * decrease (reset), but a `not_counter_reset`/`gauge` header
    * overrides detection, and then a populated bucket absent from
    * cur must still contribute −prev_count or the shrinkage is
    * silently dropped. On reset, prev-only keys carry a null that
    * map_filter removes, leaving exactly the cur histogram.
    */
  private def hfStepDelta(curI: Column, curC: Column, prevM: Column,
      reset: Column): Column =
    map_filter(
      map_zip_with(map_from_arrays(curI, curC), prevM, (_, c, p) =>
        when(reset, c)
          .otherwise(coalesce(c, lit(0.0)) - coalesce(p, lit(0.0)))),
      (_, v) => v.isNotNull)

  /** A fold's struct(z, p, n) as the increase columns: the sparse maps
    * become ascending (idx, inc) arrays. */
  private def increaseFromMaps(f: String): Seq[Column] = {
    val posIdx = array_sort(map_keys(col(s"$f.p")))
    val negIdx = array_sort(map_keys(col(s"$f.n")))
    Seq(col(s"$f.z").as("zero_inc"),
      posIdx.as("pos_idx"),
      transform(posIdx, k => element_at(col(s"$f.p"), k)).as("pos_inc"),
      negIdx.as("neg_idx"),
      transform(negIdx, k => element_at(col(s"$f.n"), k)).as("neg_inc"))
  }

  def increaseBySignedResets(df: DataFrame, seriesCols: Seq[String],
      tsSecCol: String, zeroCountCol: String, posIdxCol: String,
      posCountsCol: String, negIdxCol: String,
      negCountsCol: String, hintCol: Option[String]): DataFrame = {
    val series = NativeHistogram.snapshotSeries(df, seriesCols, tsSecCol,
      zeroCountCol, posIdxCol, posCountsCol, negIdxCol, negCountsCol,
      hintCol).filter(size(col("_ss")) >= 2)
    val first = element_at(col("_ss"), 1)
    val init = struct(
      lit(0.0).as("z"), hfEmptyMap.as("p"), hfEmptyMap.as("n"),
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
        val dz = when(reset, cur.getField("z"))
          .otherwise(cur.getField("z") - prev.getField("z"))
        struct(
          (acc.getField("z") + dz).as("z"),
          hfMergeSum(acc.getField("p"),
            hfStepDelta(cur.getField("i"), cur.getField("c"),
              prev.getField("p"), reset)).as("p"),
          hfMergeSum(acc.getField("n"),
            hfStepDelta(cur.getField("ni"), cur.getField("nc"),
              prev.getField("n"), reset)).as("n"),
          struct(cur.getField("z").as("z"), curP.as("p"), curN.as("n"))
            .as("prev"))
      })
    val dt = (element_at(col("_ss"), -1).getField("t") -
      element_at(col("_ss"), 1).getField("t")).cast("double")
    series.withColumn("_f", folded).select(seriesCols.map(col) ++
      (dt.as("dt_sec") +: increaseFromMaps("_f")): _*)
  }

  /** The stitch over a sorted window array: window 1's stored maps,
    * then per window the boundary step plus the stored maps. */
  private def foldWindows(warr: Column): Column = {
    val first = element_at(warr, 1)
    val init = struct(
      first.getField("zero_inc").as("z"),
      hfAsMap(first.getField("pos_idx"), first.getField("pos_inc")).as("p"),
      hfAsMap(first.getField("neg_idx"), first.getField("neg_inc")).as("n"),
      first.getField("l").as("prev"))
    aggregate(
      slice(warr, lit(2), size(warr) - 1), init,
      (acc, w) => {
        val prev = acc.getField("prev")
        val f = w.getField("f")
        val curP = hfAsMap(f.getField("i"), f.getField("c"))
        val curN = hfAsMap(f.getField("ni"), f.getField("nc"))
        val detected = (f.getField("z") < prev.getField("z")) ||
          hfDecreased(hfAsMap(prev.getField("i"), prev.getField("c")), curP) ||
          hfDecreased(hfAsMap(prev.getField("ni"), prev.getField("nc")), curN)
        val reset = hfResetFlag(f.getField("h"), detected)
        val dz = when(reset, f.getField("z"))
          .otherwise(f.getField("z") - prev.getField("z"))
        struct(
          (acc.getField("z") + dz + w.getField("zero_inc")).as("z"),
          hfMergeSum(
            hfMergeSum(acc.getField("p"),
              hfStepDelta(f.getField("i"), f.getField("c"),
                hfAsMap(prev.getField("i"), prev.getField("c")), reset)),
            hfAsMap(w.getField("pos_idx"), w.getField("pos_inc"))).as("p"),
          hfMergeSum(
            hfMergeSum(acc.getField("n"),
              hfStepDelta(f.getField("ni"), f.getField("nc"),
                hfAsMap(prev.getField("ni"), prev.getField("nc")), reset)),
            hfAsMap(w.getField("neg_idx"), w.getField("neg_inc"))).as("n"),
          w.getField("l").as("prev"))
      })
  }

  def stitchedIncreaseOf(rows: DataFrame,
      seriesCols: Seq[String]): DataFrame = {
    val series = rows.groupBy(seriesCols.map(col): _*)
      .agg(sort_array(collect_list(HistRollupStore.winStruct)).as("_w"),
        sum(col("n")).as("_n"))
      .filter(col("_n") >= 2)
    val dt = (element_at(col("_w"), -1).getField("l").getField("t") -
      element_at(col("_w"), 1).getField("f").getField("t")).cast("double")
    series.withColumn("_f", foldWindows(col("_w"))).select(
      seriesCols.map(col) ++ (dt.as("dt_sec") +: increaseFromMaps("_f")): _*)
  }
}
