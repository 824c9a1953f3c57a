package graft

import org.apache.spark.sql.functions._

import graft.tsdb.NativeHistogram

class NativeHistogramSpec extends SparkSpec {
  import spark.implicits._

  /** Scala reference: the same promql/quantile.go walk, scalar. */
  private def refQuantile(q: Double, zero: Long, idx: Seq[Int],
      counts: Seq[Long], schema: Int = 0): Double = {
    def ub(i: Int): Double = StrictMath.pow(2.0, math.pow(2.0, -schema) * i)
    val total = zero + counts.sum
    if (total == 0) return Double.NaN
    val rank = q * total
    if (zero.toDouble >= rank) return 0.0
    var cum = zero.toDouble
    idx.zip(counts).foreach { case (i, c) =>
      if (c > 0 && cum + c >= rank) {
        val lower = ub(i - 1); val upper = ub(i)
        return lower + (upper - lower) * ((rank - cum) / c)
      }
      cum += c
    }
    ub(idx.last)
  }

  private def quantileOf(q: Double, zero: Long, idx: Seq[Int],
      counts: Seq[Long], schema: Int = 0): Double =
    Seq((zero, idx, counts)).toDF("z", "i", "c")
      .select(NativeHistogram.histogramQuantile(q, col("z"),
        col("i"), col("c"), schema).as("v"))
      .head().getDouble(0)

  test("histogramQuantile matches the scalar promql walk") {
    val idx = Seq(-2, -1, 0, 1, 2, 3)
    val counts = Seq(1L, 0L, 4L, 10L, 3L, 2L)
    for (q <- Seq(0.0, 0.1, 0.5, 0.9, 0.99, 1.0)) {
      val got = quantileOf(q, 5L, idx, counts)
      val want = refQuantile(q, 5L, idx, counts)
      assert(java.lang.Double.compare(got, want) == 0,
        s"q=$q: got $got want $want")
    }
  }

  test("edge cases: empty → NaN, zero-bucket rank → 0, q=1 → top upper") {
    assert(quantileOf(0.5, 0L, Seq(0), Seq(0L)).isNaN)
    assert(quantileOf(0.1, 100L, Seq(1), Seq(1L)) == 0.0)
    // q=1 lands exactly on the last cumulative → last bucket's upper
    assert(quantileOf(1.0, 0L, Seq(1, 2), Seq(3L, 5L)) == 4.0) // 2^2
    // single bucket, q=0.5: lower + (upper-lower) * (rank/c)
    val v = quantileOf(0.5, 0L, Seq(1), Seq(4L))
    assert(v == 1.0 + (2.0 - 1.0) * (2.0 / 4.0))
  }

  test("schema > 0: fractional-power boundaries, randomized vs scalar walk") {
    val rnd = new scala.util.Random(11)
    for (_ <- 0 until 50) {
      val schema = rnd.nextInt(4) // 0..3
      val n = 1 + rnd.nextInt(6)
      val start = rnd.nextInt(9) - 4
      val idx = (start until start + n)
      val counts = idx.map(_ => rnd.nextInt(5).toLong)
      val zero = rnd.nextInt(3).toLong
      val q = rnd.nextDouble()
      val got = quantileOf(q, zero, idx, counts, schema)
      val want = refQuantile(q, zero, idx, counts, schema)
      assert(java.lang.Double.compare(got, want) == 0,
        s"schema=$schema q=$q idx=$idx counts=$counts zero=$zero: got $got want $want")
    }
  }

  test("histogramFraction matches a scalar overlap walk, incl. interpolation") {
    def refFraction(lo: Double, hi: Double, zero: Long, idx: Seq[Int],
        counts: Seq[Long], schema: Int = 0): Double = {
      def ub(i: Int): Double = StrictMath.pow(2.0, math.pow(2.0, -schema) * i)
      val total = zero + counts.sum
      if (total == 0) return Double.NaN
      var acc = 0.0
      idx.zip(counts).foreach { case (i, c) =>
        val bl = ub(i - 1); val bu = ub(i)
        val share = math.max(math.min(hi, bu) - math.max(lo, bl), 0.0) / (bu - bl)
        acc += c * share
      }
      val z = if (lo <= 0.0 && 0.0 <= hi) zero.toDouble else 0.0
      (z + acc) / total
    }
    def fractionOf(lo: Double, hi: Double, zero: Long, idx: Seq[Int],
        counts: Seq[Long], schema: Int = 0): Double =
      Seq((zero, idx, counts)).toDF("z", "i", "c")
        .select(NativeHistogram.histogramFraction(lo, hi, col("z"),
          col("i"), col("c"), schema).as("v"))
        .head().getDouble(0)
    val idx = Seq(-1, 0, 1, 2, 3)
    val counts = Seq(2L, 3L, 5L, 4L, 1L)
    // boundary-aligned (exact), straddling (interpolated), covering-zero
    for ((lo, hi) <- Seq((1.0, 8.0), (0.75, 3.0), (-1.0, 1.5), (0.0, 0.0),
        (10.0, 20.0))) {
      val got = fractionOf(lo, hi, 4L, idx, counts)
      val want = refFraction(lo, hi, 4L, idx, counts)
      assert(java.lang.Double.compare(got, want) == 0,
        s"[$lo,$hi]: got $got want $want")
    }
    assert(fractionOf(0.0, 1.0, 0L, Seq(1), Seq(0L)).isNaN)
    // sanity: full-range fraction is 1
    assert(fractionOf(0.0, 1e9, 4L, idx, counts) == 1.0)
  }

  test("sumBy aggregates buckets across series, zero bucket as idx NULL") {
    val df = Seq(
      ("a", 2L, Seq(0, 1), Seq(1L, 2L)),
      ("a", 3L, Seq(1, 2), Seq(5L, 7L)),
      ("b", 1L, Seq(0), Seq(9L))
    ).toDF("lbl", "z", "i", "c")
    val out = NativeHistogram.sumBy(df, Seq("lbl"), "z", "i", "c")
      .collect()
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) None else Some(r.getInt(1)), r.getLong(2)))
      .toSet
    assert(out == Set(
      ("a", Some(0), 1L), ("a", Some(1), 7L), ("a", Some(2), 7L),
      ("a", None, 5L),
      ("b", Some(0), 9L), ("b", None, 1L)))
  }

  test("histogramAvg divides the tracked sum by the count; NaN on empty") {
    val df = Seq(
      (10.0, 2L, Seq(1, 2), Seq(3L, 5L)), // count 10, avg 1.0
      (7.0, 0L, Seq[Int](), Seq[Long]())  // empty → NaN
    ).toDF("hsum", "z", "i", "c")
    val out = df.select(NativeHistogram.histogramAvg(
      col("hsum"), col("z"), col("c"))).collect().map(_.getDouble(0))
    assert(out(0) == 1.0)
    assert(out(1).isNaN)
  }

  test("histogramStdvar matches a scalar replay of the bucket-middle walk") {
    // schema 0: bucket i covers (2^(i-1), 2^i], middle = 3·2^(i-2)
    val z = 2L; val idx = Seq(0, 1, 3); val cnt = Seq(4L, 1L, 5L)
    val hsum = 37.5
    val n = z + cnt.sum
    val mean = hsum / n
    var acc = z * mean * mean // zero bucket middle = 0
    for ((i, c) <- idx.zip(cnt)) {
      val mid = (math.pow(2, i - 1) + math.pow(2, i)) / 2.0
      acc += c * (mid - mean) * (mid - mean)
    }
    val want = acc / n
    val got = Seq((hsum, z, idx, cnt)).toDF("hsum", "z", "i", "c")
      .select(NativeHistogram.histogramStdvar(
        col("hsum"), col("z"), col("i"), col("c")))
      .collect().head.getDouble(0)
    assert(math.abs(got - want) < 1e-12, s"got $got want $want")
    // empty histogram → NaN
    val nan = Seq((0.0, 0L, Seq[Int](), Seq[Long]()))
      .toDF("hsum", "z", "i", "c")
      .select(NativeHistogram.histogramStdvar(
        col("hsum"), col("z"), col("i"), col("c")))
      .collect().head.getDouble(0)
    assert(nan.isNaN)
  }

  test("histogramQuantile accepts double bucket weights (rate vectors)") {
    // weights 0.25/0.5/0.25 over buckets 1,2,3; zero weight 1.0
    // total 2.0, rank(0.5) = 1.0 → zero bucket holds exactly → 0.0
    val df = Seq((1.0, Seq(1, 2, 3), Seq(0.25, 0.5, 0.25)))
      .toDF("z", "i", "c")
    val q50 = df.select(NativeHistogram.histogramQuantile(0.5,
      col("z"), col("i"), col("c"))).collect().head.getDouble(0)
    assert(q50 == 0.0)
    // rank(0.9) = 1.8: cum zero→1.0, b1→1.25, b2→1.75, b3→2.0 ⇒ b3,
    // interp = 4 + (8-4)·((1.8-1.75)/0.25) = 4.8
    val q90 = df.select(NativeHistogram.histogramQuantile(0.9,
      col("z"), col("i"), col("c"))).collect().head.getDouble(0)
    assert(math.abs(q90 - 4.8) < 1e-12, s"got $q90")
  }

  test("rateBy: bucket-wise (last-first)/dt, missing-first reads 0, " +
    "resets clamp, <2-sample series drop") {
    val df = Seq(
      // series a: t=0 buckets {1:10, 2:5}, t=100 buckets {1:30, 2:3, 3:7}
      //   bucket 1: (30-10)/100=0.2; bucket 2 DECREASED (reset) → 0;
      //   bucket 3 missing at first → 7/100
      ("a", 0L, 1L, Seq(1, 2), Seq(10L, 5L)),
      ("a", 100L, 6L, Seq(1, 2, 3), Seq(30L, 3L, 7L)),
      // series b: single sample → dropped
      ("b", 0L, 0L, Seq(1), Seq(1L))
    ).toDF("s", "t", "z", "i", "c")
    val out = NativeHistogram.rateBy(df, Seq("s"), "t", "z", "i", "c")
    assert(out.count() == 1)
    val r = out.collect().head
    assert(r.getAs[Double]("dt_sec") == 100.0)
    assert(r.getAs[Double]("zero_rate") == 0.05) // (6-1)/100
    val rates = r.getAs[Seq[Int]]("pos_idx").zip(
      r.getAs[Seq[Double]]("pos_rate")).toMap
    assert(rates == Map(1 -> 0.2, 2 -> 0.0, 3 -> 0.07))
  }

  // ===== NHCB custom-bucket quantile =====

  /** Scalar reference: promql/quantile.go's CLASSIC bucketQuantile
    * rules on the sparse non-cumulative model. */
  private def refQuantileCustom(q: Double, idx: Seq[Int],
      counts: Seq[Long], bounds: Seq[Double]): Double = {
    val total = counts.sum
    if (total == 0) return Double.NaN
    val rank = q * total
    var cum = 0.0
    idx.zip(counts).foreach { case (i, c) =>
      if (c > 0 && cum + c >= rank) {
        if (i >= bounds.length) return bounds.last // +Inf bucket
        val upper = bounds(i)
        if (i == 0 && upper <= 0) return upper
        val lower = if (i == 0) 0.0 else bounds(i - 1)
        return lower + (upper - lower) * ((rank - cum) / c)
      }
      cum += c
    }
    bounds.last
  }

  private def quantileCustomOf(q: Double, idx: Seq[Int],
      counts: Seq[Long], bounds: Seq[Double]): Double =
    Seq((idx, counts, bounds)).toDF("i", "c", "b")
      .select(NativeHistogram.histogramQuantileCustom(q, col("i"),
        col("c"), col("b")).as("v"))
      .head().getDouble(0)

  test("histogramQuantileCustom matches the scalar classic walk") {
    val bounds = Seq(0.1, 0.5, 1.0, 2.5, 10.0)
    val idx = Seq(0, 1, 3, 4)
    val counts = Seq(4L, 10L, 0L, 6L)
    for (q <- Seq(0.0, 0.1, 0.5, 0.9, 0.99, 1.0)) {
      val got = quantileCustomOf(q, idx, counts, bounds)
      val want = refQuantileCustom(q, idx, counts, bounds)
      assert(java.lang.Double.compare(got, want) == 0,
        s"q=$q: got $got want $want")
    }
  }

  test("histogramQuantileCustom edges: +Inf bucket, non-positive first bound, empty") {
    val bounds = Seq(0.5, 1.0, 2.0)
    // quantile landing in the +Inf overflow (index == bounds.length)
    // returns the highest finite bound, like classic PromQL
    assert(quantileCustomOf(0.99, Seq(0, 3), Seq(1L, 9L), bounds) == 2.0)
    // a NON-POSITIVE first upper bound returns the bound itself
    assert(quantileCustomOf(0.5, Seq(0, 1), Seq(10L, 1L),
      Seq(-0.5, 1.0)) == -0.5)
    // interpolation from 0 in the first bucket
    assert(quantileCustomOf(0.5, Seq(0), Seq(10L), bounds) == 0.25)
    // empty histogram → NaN
    assert(quantileCustomOf(0.5, Seq(0, 1), Seq(0L, 0L), bounds).isNaN)
    // union-fill zero buckets never catch the rank
    assert(quantileCustomOf(1.0, Seq(0, 1, 2), Seq(5L, 0L, 5L), bounds) == 2.0)
  }

  // ===== signed (negative-bucket) quantile =====

  /** Scalar reference: promql/quantile.go's AllBucketIterator walk —
    * negative buckets from the most negative value (descending
    * index), zero bucket, positive ascending. */
  private def refQuantileSigned(q: Double, zero: Long, idx: Seq[Int],
      counts: Seq[Long], nIdx: Seq[Int], nCnt: Seq[Long],
      schema: Int = 0): Double = {
    def ub(i: Int): Double = StrictMath.pow(2.0, math.pow(2.0, -schema) * i)
    val negTotal = nCnt.sum.toDouble
    val total = negTotal + zero + counts.sum
    if (total == 0) return Double.NaN
    val rank = q * total
    if (negTotal > 0 && rank <= negTotal) {
      var cum = 0.0
      nIdx.zip(nCnt).reverse.foreach { case (i, c) =>
        if (c > 0 && cum + c >= rank) {
          val lower = -ub(i); val upper = -ub(i - 1)
          return lower + (upper - lower) * ((rank - cum) / c)
        }
        cum += c
      }
      return -ub(nIdx.head - 1)
    }
    if (negTotal + zero >= rank) return 0.0
    var cum = negTotal + zero
    idx.zip(counts).foreach { case (i, c) =>
      if (c > 0 && cum + c >= rank) {
        val lower = ub(i - 1); val upper = ub(i)
        return lower + (upper - lower) * ((rank - cum) / c)
      }
      cum += c
    }
    ub(idx.last)
  }

  private def quantileSignedOf(q: Double, zero: Long, idx: Seq[Int],
      counts: Seq[Long], nIdx: Seq[Int], nCnt: Seq[Long],
      schema: Int = 0): Double =
    Seq((zero, idx, counts, nIdx, nCnt)).toDF("z", "i", "c", "ni", "nc")
      .select(NativeHistogram.histogramQuantileSigned(q, col("z"),
        col("i"), col("c"), col("ni"), col("nc"), schema).as("v"))
      .head().getDouble(0)

  test("histogramQuantileSigned matches the scalar AllBucketIterator walk") {
    val idx = Seq(0, 1, 3)
    val counts = Seq(4L, 10L, 2L)
    val nIdx = Seq(-1, 0, 2)
    val nCnt = Seq(3L, 6L, 5L)
    for (q <- Seq(0.0, 0.1, 0.3, 0.5, 0.7, 0.9, 0.99, 1.0);
         zero <- Seq(0L, 7L)) {
      val got = quantileSignedOf(q, zero, idx, counts, nIdx, nCnt)
      val want = refQuantileSigned(q, zero, idx, counts, nIdx, nCnt)
      assert(java.lang.Double.compare(got, want) == 0,
        s"q=$q zero=$zero: got $got want $want")
    }
  }

  test("histogramQuantileSigned edges and positive-only reduction") {
    // empty → NaN
    assert(quantileSignedOf(0.5, 0L, Nil, Nil, Nil, Nil).isNaN)
    // all-negative histogram: q=1 reaches the highest negative value
    assert(quantileSignedOf(1.0, 0L, Nil, Nil, Seq(1, 2), Seq(3L, 5L))
      == -1.0) // upper of bucket 1 = -2^0
    // q=0 lands at the most negative bound
    assert(quantileSignedOf(0.0, 0L, Nil, Nil, Seq(1, 2), Seq(3L, 5L))
      == -4.0) // lower of bucket 2 = -2^2
    // rank inside the zero bucket between the sides
    assert(quantileSignedOf(0.5, 10L, Seq(1), Seq(2L), Seq(1), Seq(2L))
      == 0.0)
    // empty neg arrays reduce exactly to the positive-only walk
    val idx = Seq(-2, 0, 2)
    val cnt = Seq(1L, 5L, 3L)
    for (q <- Seq(0.0, 0.25, 0.5, 0.9, 1.0)) {
      val a = quantileSignedOf(q, 4L, idx, cnt, Nil, Nil)
      val b = quantileOf(q, 4L, idx, cnt)
      assert(java.lang.Double.compare(a, b) == 0, s"q=$q: $a vs $b")
    }
  }

  test("rateBySigned: both sides from ONE snapshot pair; pos-only reduction") {
    val df = Seq(
      // series a: both sides grow; neg bucket 2 appears at t=100
      ("a", 0L, 1L, Seq(1), Seq(10L), Seq(0), Seq(4L)),
      ("a", 100L, 3L, Seq(1), Seq(30L), Seq(0, 2), Seq(9L, 7L)),
      // series b: single sample → drops
      ("b", 0L, 0L, Seq(1), Seq(5L), Seq(0), Seq(1L))
    ).toDF("lbl", "t", "z", "i", "c", "ni", "nc")
    val out = NativeHistogram.rateBySigned(df, Seq("lbl"), "t",
      "z", "i", "c", "ni", "nc").collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getString(0) == "a" && r.getDouble(1) == 100.0)
    assert(r.getDouble(2) == 0.02) // zero: (3-1)/100
    assert(r.getSeq[Int](3) == Seq(1) &&
      r.getSeq[Double](4) == Seq(0.2)) // pos: (30-10)/100
    assert(r.getSeq[Int](5) == Seq(0, 2))
    assert(r.getSeq[Double](6) == Seq(0.05, 0.07)) // (9-4)/100, (7-0)/100
    // positive-only input ≡ rateBy, plus empty neg output
    val dfp = df.withColumn("ni", array().cast("array<int>"))
      .withColumn("nc", array().cast("array<bigint>"))
    val a = NativeHistogram.rateBySigned(dfp, Seq("lbl"), "t",
      "z", "i", "c", "ni", "nc").collect().head
    val b = NativeHistogram.rateBy(dfp, Seq("lbl"), "t", "z", "i", "c")
      .collect().head
    assert(a.getDouble(1) == b.getDouble(1) && a.getDouble(2) == b.getDouble(2))
    assert(a.getSeq[Double](4) == b.getSeq[Double](4))
    assert(a.getSeq[Int](5).isEmpty && a.getSeq[Double](6).isEmpty)
  }

  test("deltaBySigned: gauge semantics — unclamped, components go negative") {
    val df = Seq(
      // gauge moves DOWN on pos bucket 1 and zero, UP on neg bucket 0
      ("g", 0L, 5L, Seq(1), Seq(10L), Seq(0), Seq(4L)),
      ("g", 50L, 2L, Seq(1, 2), Seq(7L, 3L), Seq(0), Seq(9L))
    ).toDF("lbl", "t", "z", "i", "c", "ni", "nc")
    val r = NativeHistogram.deltaBySigned(df, Seq("lbl"), "t",
      "z", "i", "c", "ni", "nc").collect().head
    assert(r.getDouble(1) == 50.0)
    assert(r.getDouble(2) == -3.0)                 // zero: 2 - 5
    assert(r.getSeq[Double](4) == Seq(-3.0, 3.0))  // pos: 7-10, 3-0
    assert(r.getSeq[Double](6) == Seq(5.0))        // neg: 9 - 4
  }

  test("deltaBySigned: a bucket populated at first but VANISHED at last " +
      "emits -first_count (union keys, not last's keys)") {
    val df = Seq(
      // pos bucket 3 (6 obs) and neg bucket 1 (2 obs) exist only in
      // the FIRST snapshot — a gauge relayout dropped them; their
      // shrinkage must show up as negative deltas
      ("g", 0L, 1L, Seq(1, 3), Seq(5L, 6L), Seq(0, 1), Seq(4L, 2L)),
      ("g", 40L, 1L, Seq(1), Seq(8L), Seq(0), Seq(7L))
    ).toDF("lbl", "t", "z", "i", "c", "ni", "nc")
    val r = NativeHistogram.deltaBySigned(df, Seq("lbl"), "t",
      "z", "i", "c", "ni", "nc").collect().head
    assert(r.getSeq[Int](3) == Seq(1, 3))
    assert(r.getSeq[Double](4) == Seq(3.0, -6.0))  // 8-5, 0-6
    assert(r.getSeq[Int](5) == Seq(0, 1))
    assert(r.getSeq[Double](6) == Seq(3.0, -2.0))  // 7-4, 0-2
  }

  test("increaseBySignedResets: hint-suppressed reset keeps a vanished " +
      "bucket's negative delta (union step keys)") {
    // bucket 2 drops 6→gone on the second step; value detection
    // would call that a reset, but the not_counter_reset header
    // overrides it — the step must then contribute −6 for bucket 2
    // instead of silently reading it as absent
    val df = Seq(
      ("a", 0L, 1L, Seq(1, 2), Seq(4L, 6L), Seq.empty[Int],
        Seq.empty[Long], "unknown"),
      ("a", 10L, 2L, Seq(1), Seq(7L), Seq.empty[Int], Seq.empty[Long],
        "not_counter_reset")
    ).toDF("lbl", "t", "z", "i", "c", "ni", "nc", "h")
    val r = NativeHistogram.increaseBySignedResets(df, Seq("lbl"), "t",
      "z", "i", "c", "ni", "nc", hintCol = Some("h")).collect().head
    assert(r.getDouble(2) == 1.0)                  // zero: 2-1
    assert(r.getSeq[Int](3) == Seq(1, 2))
    assert(r.getSeq[Double](4) == Seq(3.0, -6.0))  // b1: 7-4; b2: 0-6
  }

  test("increaseBySignedResets: a mid-range reset adds the post-reset histogram") {
    // series with 3 samples: monotone step, then a RESET (bucket 1
    // drops 9→2 and bucket 2 VANISHES — disappearance reads 0, a
    // decrease), then the counter grows again on the last step
    val df = Seq(
      ("a", 0L, 1L, Seq(1, 2), Seq(4L, 6L), Seq(0), Seq(2L)),
      ("a", 10L, 3L, Seq(1, 2), Seq(9L, 7L), Seq(0), Seq(5L)),
      ("a", 20L, 1L, Seq(1), Seq(2L), Seq(0), Seq(1L)),   // reset
      ("a", 30L, 2L, Seq(1, 3), Seq(5L, 4L), Seq(0), Seq(6L))
    ).toDF("lbl", "t", "z", "i", "c", "ni", "nc")
    val r = NativeHistogram.increaseBySignedResets(df, Seq("lbl"), "t",
      "z", "i", "c", "ni", "nc").collect().head
    assert(r.getDouble(1) == 30.0)
    // zero: (3-1) + 1 + (2-1) = 4
    assert(r.getDouble(2) == 4.0)
    // pos b1: (9-4) + 2 + (5-2) = 10; b2: (7-6) + 0 + 0 = 1 (vanished
    // at the reset — union keys keep it); b3: appears post-reset → 4
    assert(r.getSeq[Int](3) == Seq(1, 2, 3))
    assert(r.getSeq[Double](4) == Seq(10.0, 1.0, 4.0))
    // neg b0: (5-2) + 1 + (6-1) = 9
    assert(r.getSeq[Int](5) == Seq(0))
    assert(r.getSeq[Double](6) == Seq(9.0))
  }

  test("increaseBySignedResets ≡ first/last snapshot pair on reset-free data") {
    // monotone counters incl. a mid-range bucket appearance: the
    // per-step walk must telescope to exactly rateBySigned's
    // last − first (the production gates ride this equivalence)
    val df = Seq(
      ("s1", 0L, 2L, Seq(-1, 1), Seq(3L, 8L), Seq(2), Seq(1L)),
      ("s1", 60L, 5L, Seq(-1, 1), Seq(7L, 8L), Seq(2), Seq(4L)),
      ("s1", 120L, 9L, Seq(-1, 1, 4), Seq(12L, 9L, 2L), Seq(2, 3), Seq(6L, 5L)),
      ("s2", 0L, 0L, Seq(0), Seq(5L), Seq.empty[Int], Seq.empty[Long]),
      ("s2", 30L, 1L, Seq(0), Seq(11L), Seq.empty[Int], Seq.empty[Long])
    ).toDF("lbl", "t", "z", "i", "c", "ni", "nc")
    val inc = NativeHistogram.increaseBySignedResets(df, Seq("lbl"), "t",
      "z", "i", "c", "ni", "nc")
      .collect().map(r => r.getString(0) -> r).toMap
    val rated = NativeHistogram.rateBySigned(df, Seq("lbl"), "t",
      "z", "i", "c", "ni", "nc")
      .collect().map(r => r.getString(0) -> r).toMap
    for ((k, i) <- inc) {
      val ra = rated(k)
      val dt = ra.getDouble(1)
      // compare on the rate grain (inc/dt reruns the identical IEEE
      // division rateBySigned applied to the same exact integer
      // deltas — bit-equal; inc vs rate*dt would round-trip an ulp)
      assert(i.getDouble(1) == dt)
      assert(i.getDouble(2) / dt == ra.getDouble(2))           // zero
      assert(i.getSeq[Int](3) == ra.getSeq[Int](3))            // pos idx
      assert(i.getSeq[Double](4).map(_ / dt) ==
        ra.getSeq[Double](4))                                  // pos
      assert(i.getSeq[Int](5) == ra.getSeq[Int](5))            // neg idx
      assert(i.getSeq[Double](6).map(_ / dt) == ra.getSeq[Double](6))
    }
  }

  test("signed stats: count/avg/stdvar/fraction vs scalar references") {
    def ub(i: Int, schema: Int): Double =
      StrictMath.pow(2.0, math.pow(2.0, -schema) * i)
    val rnd = new scala.util.Random(31)
    for (_ <- 0 until 25) {
      val schema = rnd.nextInt(3)
      val nIdx = (-2 to rnd.nextInt(4)).toList
      val nCnt = nIdx.map(_ => rnd.nextInt(7).toLong)
      val idx = (-1 to rnd.nextInt(5)).toList
      val cnt = idx.map(_ => rnd.nextInt(7).toLong)
      val zero = rnd.nextInt(4).toLong
      val hsum = rnd.nextDouble() * 40 - 10
      val (lo, hi) = (-1.5, 2.5) // interpolated shares, not just 0/1
      val row = Seq((zero, idx, cnt, nIdx, nCnt, hsum))
        .toDF("z", "i", "c", "ni", "nc", "s")
      val nh = NativeHistogram
      val got = row.select(
        nh.histogramCountSigned(col("z"), col("c"), col("nc")).as("n"),
        nh.histogramAvgSigned(col("s"), col("z"), col("c"), col("nc"))
          .as("avg"),
        nh.histogramStdvarSigned(col("s"), col("z"), col("i"), col("c"),
          col("ni"), col("nc"), schema).as("sv"),
        nh.histogramFractionSigned(lo, hi, col("z"), col("i"), col("c"),
          col("ni"), col("nc"), schema).as("fr")).head()
      // scalar references with the SAME summation order
      val n = (zero + cnt.sum + nCnt.sum).toDouble
      val wantAvg = if (n == 0) Double.NaN else hsum / n
      // association pinned to the column fns: each side's fold starts
      // at 0.0, then ((zeroTerm + posFold) + negFold)
      val mean = hsum / n
      var posDev = 0.0
      idx.zip(cnt).foreach { case (i, c) =>
        val mid = 1.0 * (ub(i - 1, schema) + ub(i, schema)) / 2.0
        posDev += c * (mid - mean) * (mid - mean)
      }
      var negDev = 0.0
      nIdx.zip(nCnt).foreach { case (i, c) =>
        val mid = -1.0 * (ub(i - 1, schema) + ub(i, schema)) / 2.0
        negDev += c * (mid - mean) * (mid - mean)
      }
      val wantSv = if (n == 0) Double.NaN
        else ((zero.toDouble * mean * mean + posDev) + negDev) / n
      var fr = 0.0
      idx.zip(cnt).foreach { case (i, c) =>
        val (bl, bu) = (ub(i - 1, schema), ub(i, schema))
        fr += c * (math.max(0.0,
          math.min(hi, bu) - math.max(lo, bl)) / (bu - bl))
      }
      var nfr = 0.0
      nIdx.zip(nCnt).foreach { case (i, c) =>
        val (bl, bu) = (-ub(i, schema), -ub(i - 1, schema))
        nfr += c * (math.max(0.0,
          math.min(hi, bu) - math.max(lo, bl)) / (bu - bl))
      }
      val wantFr = if (n == 0) Double.NaN
        else ((zero.toDouble + fr) + nfr) / n
      def eq(a: Double, b: Double) =
        java.lang.Double.compare(a, b) == 0 || (a.isNaN && b.isNaN)
      assert(got.getDouble(0) == n, "count")
      assert(eq(got.getDouble(1), wantAvg), s"avg: ${got.getDouble(1)} vs $wantAvg")
      assert(eq(got.getDouble(2), wantSv), s"stdvar: ${got.getDouble(2)} vs $wantSv")
      assert(eq(got.getDouble(3), wantFr), s"frac: ${got.getDouble(3)} vs $wantFr")
    }
  }

  test("histogramQuantileSigned at schema 2: randomized vs scalar walk") {
    val rnd = new scala.util.Random(23)
    for (_ <- 0 until 30) {
      val nIdx = (-3 to rnd.nextInt(4)).toSeq
      val nCnt = nIdx.map(_ => rnd.nextInt(6).toLong)
      val idx = (-2 to rnd.nextInt(5)).toSeq
      val cnt = idx.map(_ => rnd.nextInt(6).toLong)
      val zero = rnd.nextInt(5).toLong
      val q = rnd.nextDouble()
      val got = quantileSignedOf(q, zero, idx, cnt, nIdx, nCnt, 2)
      val want = refQuantileSigned(q, zero, idx, cnt, nIdx, nCnt, 2)
      assert(java.lang.Double.compare(got, want) == 0 ||
        (got.isNaN && want.isNaN),
        s"q=$q z=$zero i=$idx c=$cnt ni=$nIdx nc=$nCnt: got $got want $want")
    }
  }

  test("native increase fold ≡ the HOF aggregate formulation " +
      "(randomized: resets, hints, vanishing and negative buckets)") {
    // the production path runs graft.functions.NhIncreaseFold; the
    // HOF `aggregate` form (NhReference) is the executable spec —
    // this pin compares the two over a seeded random walk that exercises
    // every ladder branch (value-detected resets, hint-forced and
    // hint-suppressed resets, buckets appearing/vanishing mid-range,
    // negative-bucket sides, empty sides)
    val rnd = new scala.util.Random(4242)
    val hints = Seq("unknown", "counter_reset", "not_counter_reset",
      "gauge", "whatever")
    val rows = for {
      s <- 0 until 12
      t <- 0 until 8
    } yield {
      val nb = rnd.nextInt(4)
      val idx = rnd.shuffle((-2 to 4).toList).take(nb).sorted
      val cnts = idx.map(_ => rnd.nextInt(10).toDouble)
      val nnb = rnd.nextInt(3)
      val nidx = rnd.shuffle((0 to 3).toList).take(nnb).sorted
      val ncnts = nidx.map(_ => rnd.nextInt(10).toDouble)
      (s"s$s", t * 10L, rnd.nextInt(5).toDouble, idx, cnts, nidx, ncnts,
        hints(rnd.nextInt(hints.length)))
    }
    val df = rows.toDF("lbl", "t", "z", "i", "c", "ni", "nc", "h")
    def run(native: Boolean, hintCol: Option[String]) =
      (if (native) NativeHistogram.increaseBySignedResets(df, Seq("lbl"),
        "t", "z", "i", "c", "ni", "nc", hintCol)
      else NhReference.increaseBySignedResets(df, Seq("lbl"), "t", "z",
        "i", "c", "ni", "nc", hintCol)).collect().map(_.toSeq).toSet
    assert(run(true, Some("h")) == run(false, Some("h")))
    // and without a hint column (the detector-only ladder)
    assert(run(true, None) == run(false, None))
  }

  test("native folds return NULL (not a crash) on an empty array") {
    import org.apache.spark.sql.functions._
    val df = Seq(1).toDF("x").select(
      array().cast("array<struct<t:bigint,z:double,i:array<int>," +
        "c:array<double>,ni:array<int>,nc:array<double>,h:string>>")
        .as("ss"))
    val r = df.select(
      graft.functions.NhIncreaseFold.fold(col("ss")).as("f")).head()
    assert(r.isNullAt(0))
  }
}
