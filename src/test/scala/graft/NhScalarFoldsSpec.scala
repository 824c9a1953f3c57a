package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.tsdb.NativeHistogram

/** Pins the native scalar folds ([[graft.functions.NhScalarFolds]])
  * bit-identical to the HOF formulations they replace ([[NhReference]],
  * the test-side executable spec), and pins that the public functions
  * plan the native expressions, not the HOF forms.
  * Randomized histograms cover: empty sides, zero totals, sparse and
  * negative bucket indexes, float (fractional) counts, rank landing
  * in the zero bucket / first bucket / overflow, custom-bucket NHCB
  * rows, and the q ∈ {0, 1} boundaries.
  */
class NhScalarFoldsSpec extends SparkSpec {
  import spark.implicits._

  private def histFrame(seed: Int, n: Int, float: Boolean): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def cnt(): Double =
      if (float) math.rint(rnd.nextDouble() * 80) / 8.0
      else rnd.nextInt(10).toDouble
    val rows = (0 until n).map { r =>
      val nb = rnd.nextInt(5)
      val idx = rnd.shuffle((-3 to 5).toList).take(nb).sorted
      val cnts = idx.map(_ => cnt())
      val nnb = rnd.nextInt(4)
      val nidx = rnd.shuffle((-2 to 4).toList).take(nnb).sorted
      val ncnts = nidx.map(_ => cnt())
      val zero = if (r % 7 == 0) 0.0 else cnt()
      val hsum = math.rint(rnd.nextDouble() * 400) / 4.0
      (r, zero, idx, cnts, nidx, ncnts, hsum)
    }
    // row 0 forced all-empty: the NaN path
    val fixed = rows.updated(0, (0, 0.0, Seq.empty[Int], Seq.empty[Double],
      Seq.empty[Int], Seq.empty[Double], 0.0))
    fixed.toDF("id", "z", "i", "c", "ni", "nc", "hsum")
  }

  private def assertSame(df: DataFrame, native: org.apache.spark.sql.Column,
      hof: org.apache.spark.sql.Column, tag: String): Unit = {
    val rows = df.select(col("id"), native.as("n"), hof.as("h")).collect()
    rows.foreach { r =>
      val bothNull = r.isNullAt(1) && r.isNullAt(2)
      val bothSame = !r.isNullAt(1) && !r.isNullAt(2) &&
        java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(2))
      assert(bothNull || bothSame,
        s"$tag id=${r.getInt(0)}: native=${if (r.isNullAt(1)) "null"
          else r.getDouble(1)} hof=${if (r.isNullAt(2)) "null"
          else r.getDouble(2)}")
    }
  }

  test("native quantile ≡ HOF walk (randomized, int and float counts)") {
    for ((float, seed) <- Seq((false, 11), (true, 12));
        q <- Seq(0.0, 0.25, 0.5, 0.9, 1.0); schema <- Seq(0, 2)) {
      val df = histFrame(seed, 40, float)
      assertSame(df,
        NativeHistogram.histogramQuantile(q, col("z"), col("i"),
          col("c"), schema),
        NhReference.histogramQuantile(q, col("z"), col("i"),
          col("c"), schema),
        s"quantile q=$q schema=$schema float=$float")
    }
  }

  test("native signed quantile ≡ HOF AllBucketIterator walk") {
    for (q <- Seq(0.0, 0.1, 0.5, 0.9, 1.0); schema <- Seq(0, 2)) {
      val df = histFrame(13 + schema, 40, float = true)
      assertSame(df,
        NativeHistogram.histogramQuantileSigned(q, col("z"), col("i"),
          col("c"), col("ni"), col("nc"), schema),
        NhReference.histogramQuantileSigned(q, col("z"), col("i"),
          col("c"), col("ni"), col("nc"), schema),
        s"quantileSigned q=$q schema=$schema")
    }
  }

  test("native custom-bucket quantile ≡ HOF classic walk (NHCB)") {
    val rnd = new scala.util.Random(77)
    val bounds = Seq(0.5, 1.0, 2.5, 10.0)
    val rows = (0 until 40).map { r =>
      // indexes in [0, bounds.length] — bounds.length = +Inf overflow
      val nb = rnd.nextInt(4)
      val idx = rnd.shuffle((0 to bounds.length).toList).take(nb).sorted
      val cnts = idx.map(_ => rnd.nextInt(9).toDouble)
      (r, idx, cnts, bounds)
    }
    val df = rows.toDF("id", "i", "c", "b")
    for (q <- Seq(0.0, 0.3, 0.5, 0.95, 1.0))
      assertSame(df,
        NativeHistogram.histogramQuantileCustom(q, col("i"), col("c"),
          col("b")),
        NhReference.histogramQuantileCustom(q, col("i"), col("c"),
          col("b")),
        s"quantileCustom q=$q")
  }

  test("native stdvar / stdvarSigned ≡ HOF folds") {
    for (schema <- Seq(0, 2)) {
      val df = histFrame(31 + schema, 40, float = true)
      assertSame(df,
        NativeHistogram.histogramStdvar(col("hsum"), col("z"), col("i"),
          col("c"), schema),
        NhReference.histogramStdvar(col("hsum"), col("z"), col("i"),
          col("c"), schema),
        s"stdvar schema=$schema")
      assertSame(df,
        NativeHistogram.histogramStdvarSigned(col("hsum"), col("z"),
          col("i"), col("c"), col("ni"), col("nc"), schema),
        NhReference.histogramStdvarSigned(col("hsum"), col("z"),
          col("i"), col("c"), col("ni"), col("nc"), schema),
        s"stdvarSigned schema=$schema")
    }
  }

  test("native fraction / fractionSigned ≡ HOF folds " +
      "(aligned and interpolated bounds)") {
    val df = histFrame(57, 40, float = true)
    for ((lo, hi) <- Seq((1.0, 8.0), (-2.0, 2.0), (0.3, 5.7),
        (-10.0, -0.25), (0.0, 0.0))) {
      assertSame(df,
        NativeHistogram.histogramFraction(lo, hi, col("z"), col("i"),
          col("c"), 0),
        NhReference.histogramFraction(lo, hi, col("z"), col("i"),
          col("c"), 0),
        s"fraction [$lo,$hi]")
      assertSame(df,
        NativeHistogram.histogramFractionSigned(lo, hi, col("z"),
          col("i"), col("c"), col("ni"), col("nc"), 0),
        NhReference.histogramFractionSigned(lo, hi, col("z"),
          col("i"), col("c"), col("ni"), col("nc"), 0),
        s"fractionSigned [$lo,$hi]")
    }
  }

  test("public NH folds, the rollup stitch and lshBucket plan native " +
      "expressions and no HOF node") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, MapZipWith, ZipWith}
    import graft.functions._
    import graft.tsdb.HistRollupStore
    def assertNative(d: DataFrame, native: Class[_]): Unit = {
      val plan = d.queryExecution.analyzed
      val exprs = plan.flatMap(_.expressions.flatMap(_.collect { case e => e }))
      assert(exprs.exists(native.isInstance) && !exprs.exists(e =>
        e.isInstanceOf[ArrayAggregate] || e.isInstanceOf[ZipWith] ||
          e.isInstanceOf[MapZipWith]),
        s"want ${native.getSimpleName} and no HOF node in\n$plan")
    }
    val df = histFrame(5, 8, float = true)
    val (z, i, c, ni, nc, s, nh) = (col("z"), col("i"), col("c"), col("ni"),
      col("nc"), col("hsum"), NativeHistogram)
    Seq(
      nh.histogramQuantile(0.5, z, i, c) -> classOf[NhQuantile],
      nh.histogramQuantileSigned(0.5, z, i, c, ni, nc) -> classOf[NhQuantileSigned],
      nh.histogramQuantileCustom(0.5, i, c, array(lit(0.5), lit(2.0))) ->
        classOf[NhQuantileCustom],
      nh.histogramStdvar(s, z, i, c) -> classOf[NhStdvar],
      nh.histogramStdvarSigned(s, z, i, c, ni, nc) -> classOf[NhStdvar],
      nh.histogramFraction(1.0, 4.0, z, i, c) -> classOf[NhFraction],
      nh.histogramFractionSigned(-1.0, 4.0, z, i, c, ni, nc) -> classOf[NhFraction]
    ).foreach { case (e, cls) => assertNative(df.select(e), cls) }
    assertNative(nh.increaseBySignedResets(df, Seq("hsum"), "id", "z", "i", "c",
      "ni", "nc"), classOf[NhIncreaseFold])
    val path = "/tmp/graft_nh_scalar_spec_plan_rollup"
    HistRollupStore.write(df, path, Seq("hsum"), "id", "z", "i", "c", "ni",
      "nc", 10L)
    assertNative(HistRollupStore.stitchedIncreaseOf(
      HistRollupStore.select(spark, path, 0L, 100L), Seq("hsum")),
      classOf[NhStitchFold])
    assertNative(Seq(Seq(1.0, -2.0)).toDF("v")
      .select(VectorFunctions.lshBucket(col("v"), 8)), classOf[HyperplaneBucket])
  }

  test("native sums ≡ aggregate folds (null array, null element, empty)") {
    val df = Seq(
      (0, Some(Seq(1L, 2L, 3L)), Some(Seq(0.5, 1.5))),
      (1, Some(Seq.empty[Long]), Some(Seq.empty[Double])),
      (2, None, None))
      .toDF("id", "lc", "dc")
      // a null ELEMENT poisons the running sum in both forms
      .union(Seq((3, Option(Seq(1L, 2L)), Option(Seq(1.0, 2.0))))
        .toDF("id", "lc", "dc")
        .select(col("id"),
          array(lit(1L), lit(null).cast("long")).as("lc"),
          array(lit(0.5), lit(null).cast("double")).as("dc")))
    val got = df.select(col("id"),
      graft.functions.NhScalarFolds.sumLong(col("lc")).as("nl"),
      aggregate(col("lc"), lit(0L), (a, c) => a + c).as("hl"),
      graft.functions.NhScalarFolds.sumDouble(col("dc")).as("nd"),
      aggregate(col("dc"), lit(0.0), (a, c) => a + c.cast("double")).as("hd"))
      .collect()
    got.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2) &&
        (r.isNullAt(1) || r.getLong(1) == r.getLong(2)),
        s"sumLong id=${r.getInt(0)}")
      assert(r.isNullAt(3) == r.isNullAt(4) &&
        (r.isNullAt(3) ||
          java.lang.Double.doubleToLongBits(r.getDouble(3)) ==
            java.lang.Double.doubleToLongBits(r.getDouble(4))),
        s"sumDouble id=${r.getInt(0)}")
    }
  }

  test("mismatched idx/count lengths follow zip_with padding in both forms") {
    val df = Seq(1).toDF("id")
      .select(col("id"),
        lit(2.0).as("z"),
        array(lit(0), lit(1), lit(2)).as("i"),
        array(lit(3.0), lit(4.0)).as("c")) // shorter counts → padded null
    assertSame(df,
      NativeHistogram.histogramQuantile(0.9, col("z"), col("i"),
        col("c"), 0),
      NhReference.histogramQuantile(0.9, col("z"), col("i"),
        col("c"), 0),
      "padded quantile")
  }
}
