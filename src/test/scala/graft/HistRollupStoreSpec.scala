package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.tsdb.{HistRollupStore, NativeHistogram}

/** [[graft.tsdb.HistRollupStore]]: the stitched NH increase must
  * equal the raw [[NativeHistogram.increaseBySignedResets]] walk on
  * shapes the driver fixture cannot produce — a reset exactly ON a
  * window boundary, a HINT-forced reset on a boundary (strictly
  * increasing values, invisible to any value comparison), and
  * single-sample windows whose stored increase is empty.
  */
class HistRollupStoreSpec extends SparkSpec {
  import spark.implicits._

  private val W = 100L // window seconds

  // (series, t, z, i[], c[], ni[], nc[], hint)
  private type Row8 = (String, Long, Double, Seq[Int], Seq[Double],
    Seq[Int], Seq[Double], String)

  private def df(rows: Seq[Row8]): DataFrame =
    rows.toDF("series", "t_sec", "zero_count", "pos_idx", "pos_counts",
      "neg_idx", "neg_counts", "hint")

  private def raw(d: DataFrame): Set[Seq[Any]] =
    NativeHistogram.increaseBySignedResets(d, Seq("series"), "t_sec",
        "zero_count", "pos_idx", "pos_counts", "neg_idx", "neg_counts",
        hintCol = Some("hint"))
      .collect().map(_.toSeq).toSet

  private def stitched(d: DataFrame, tag: String): Set[Seq[Any]] = {
    val path = s"/tmp/graft_nh_rollup_spec_$tag"
    HistRollupStore.write(d, path, Seq("series"), "t_sec", "zero_count",
      "pos_idx", "pos_counts", "neg_idx", "neg_counts", W,
      hintCol = Some("hint"))
    HistRollupStore.stitchedIncrease(spark, path, Seq("series"), 0L, 1000L)
      .collect().map(_.toSeq).toSet
  }

  test("value-visible reset ON a window boundary stitches exactly") {
    // w0: grows 2→5 on bucket 0; w1 FIRST sample resets (bucket drops)
    val rows: Seq[Row8] = Seq(
      ("a", 10L, 1.0, Seq(0), Seq(2.0), Seq(), Seq(), "unknown"),
      ("a", 60L, 1.0, Seq(0), Seq(5.0), Seq(), Seq(), "unknown"),
      ("a", 110L, 0.0, Seq(0), Seq(1.0), Seq(), Seq(), "unknown"),
      ("a", 160L, 2.0, Seq(0, 2), Seq(4.0, 3.0), Seq(), Seq(), "unknown"))
    assert(stitched(df(rows), "boundary") == raw(df(rows)))
  }

  test("hint-forced reset on a boundary (values strictly increasing)") {
    // w1's first sample carries counter_reset though every component
    // GREW — only the header knows; a value-blind stitch under-counts
    val rows: Seq[Row8] = Seq(
      ("a", 10L, 0.0, Seq(1), Seq(4.0), Seq(), Seq(), "unknown"),
      ("a", 110L, 0.0, Seq(1), Seq(9.0), Seq(), Seq(), "counter_reset"),
      ("a", 160L, 0.0, Seq(1), Seq(11.0), Seq(), Seq(), "unknown"))
    val r = raw(df(rows))
    assert(stitched(df(rows), "hinted") == r)
    // and the hint genuinely changed the answer: 4→9 reset adds 9
    // whole, then +2 → 11 (a value-blind fold would say 7)
    // row: (series, dt_sec, zero_inc, pos_idx, pos_inc, neg_idx, neg_inc)
    val inc = r.head
    assert(inc(4).asInstanceOf[scala.collection.Seq[Double]] == Seq(11.0))
  }

  test("PromQL NH rollup routing: routed ≡ raw, misaligned falls back") {
    import graft.tsdb.promql.{HistTable, PromQL, PromQLContext}
    val rows: Seq[Row8] = Seq(
      ("a", 10L, 0.0, Seq(0), Seq(2.0), Seq(), Seq(), "unknown"),
      ("a", 110L, 0.0, Seq(0), Seq(5.0), Seq(), Seq(), "unknown"),
      ("a", 310L, 0.0, Seq(0), Seq(1.0), Seq(), Seq(), "unknown"),
      ("a", 410L, 0.0, Seq(0), Seq(4.0), Seq(), Seq(), "unknown"))
    val d = df(rows).withColumn("ts", timestamp_seconds(col("t_sec")))
    val path = "/tmp/graft_nh_rollup_spec_promql"
    HistRollupStore.write(df(rows), path, Seq("series"), "t_sec",
      "zero_count", "pos_idx", "pos_counts", "neg_idx", "neg_counts", W,
      hintCol = Some("hint"))
    def ctx(layers: Boolean) = PromQLContext(
      metrics = Map.empty, labelCols = Seq("series"),
      evalMs = 1000L * 1000L, lookbackMs = 2000000L,
      histMetrics = Map("m" -> HistTable(d,
        negIdxCol = Some("neg_idx"), negCountsCol = Some("neg_counts"),
        rollups = if (layers)
          Seq(graft.tsdb.RollupStore.RollupLayer(path, W * 1000L))
        else Nil)))
    def run(q: String, layers: Boolean) =
      PromQL.compile(q, ctx(layers)).collect().map(_.toSeq).toSet
    // eval 1000s, range 1000s: aligned to 100s windows, 5×100 ≤ 1000
    val q = "histogram_count(increase(m[1000s]))"
    assert(run(q, true) == run(q, false))
    assert(run(q, true).nonEmpty)
    // GAUGE delta routes off the stored boundary snapshots — and
    // stays unclamped (5→1 mid-range drop is NOT a reset here:
    // count delta = 4 − 2 = 2, where increase said 2+... more)
    val qd = "histogram_count(delta(m[1000s]))"
    assert(run(qd, true) == run(qd, false))
    assert(run(qd, true).nonEmpty)
    def plan(q2: String) = PromQL.compile(q2, ctx(true))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(plan(q).contains("graft_nh_rollup_spec_promql"))
    // misaligned range (150s % 100s ≠ 0) and too-short range fall back
    assert(!plan("histogram_count(increase(m[150s]))")
      .contains("graft_nh_rollup_spec_promql"))
    assert(!plan("histogram_count(increase(m[400s]))")
      .contains("graft_nh_rollup_spec_promql"))
  }

  test("cascade writeFrom ≡ direct build, incl. hint-forced seam resets") {
    // 100s fine windows → 200s coarse: the hint-forced reset at
    // t=110 lands on a COARSE-INTERIOR fine seam (inside coarse
    // window 0 if t<200), the value-visible reset at t=210 on a
    // coarse seam, and window 3 holds a lone sample
    val rows: Seq[Row8] = Seq(
      ("a", 10L, 1.0, Seq(0), Seq(2.0), Seq(-1), Seq(1.0), "unknown"),
      ("a", 110L, 1.0, Seq(0), Seq(9.0), Seq(-1), Seq(2.0), "counter_reset"),
      ("a", 160L, 2.0, Seq(0, 2), Seq(10.0, 3.0), Seq(-1), Seq(2.0), "unknown"),
      ("a", 210L, 0.0, Seq(0), Seq(1.0), Seq(), Seq(), "unknown"),
      ("a", 310L, 0.0, Seq(0), Seq(4.0), Seq(), Seq(), "unknown"),
      ("b", 350L, 0.0, Seq(1), Seq(6.0), Seq(), Seq(), "unknown"))
    val d = df(rows)
    val fine = "/tmp/graft_nh_rollup_spec_cascfine"
    HistRollupStore.write(d, fine, Seq("series"), "t_sec", "zero_count",
      "pos_idx", "pos_counts", "neg_idx", "neg_counts", W,
      hintCol = Some("hint"))
    val casc = "/tmp/graft_nh_rollup_spec_casc"
    HistRollupStore.writeFrom(spark, fine, casc, Seq("series"),
      fineResolutionSec = W, resolutionSec = 2 * W)
    val direct = "/tmp/graft_nh_rollup_spec_cascdirect"
    HistRollupStore.write(d, direct, Seq("series"), "t_sec", "zero_count",
      "pos_idx", "pos_counts", "neg_idx", "neg_counts", 2 * W,
      hintCol = Some("hint"))
    def layerRows(p: String): Set[Seq[Any]] =
      spark.read.parquet(p).drop("ts", "bucket")
        .collect().map(_.toSeq).toSet
    assert(layerRows(casc) == layerRows(direct))
    // and stitching the cascaded layer reproduces the raw walk —
    // incl. the hinted reset that no value comparison can see
    val st = HistRollupStore.stitchedIncrease(spark, casc, Seq("series"),
      0L, 1000L).collect().map(_.toSeq).toSet
    assert(st == raw(d))
    intercept[IllegalArgumentException] {
      HistRollupStore.writeFrom(spark, fine, "/tmp/never", Seq("series"),
        fineResolutionSec = W, resolutionSec = 150L)
    }
  }

  test("NHCB custom-bucket metrics route through rollup layers") {
    import graft.tsdb.promql.{HistTable, PromQL, PromQLContext}
    // schema -53 rows: indexes address the bound list, no zero
    // bucket, no negative side; counters reset at t=310 (idx-0 drop)
    val rows: Seq[Row8] = Seq(
      ("a", 10L, 0.0, Seq(0, 1), Seq(2.0, 1.0), Seq(), Seq(), "unknown"),
      ("a", 110L, 0.0, Seq(0, 1), Seq(5.0, 4.0), Seq(), Seq(), "unknown"),
      ("a", 310L, 0.0, Seq(0, 2), Seq(1.0, 2.0), Seq(), Seq(), "unknown"),
      ("a", 410L, 0.0, Seq(0, 2), Seq(4.0, 3.0), Seq(), Seq(), "unknown"))
    val d = df(rows).withColumn("ts", timestamp_seconds(col("t_sec")))
    val path = "/tmp/graft_nh_rollup_spec_nhcb"
    HistRollupStore.write(df(rows), path, Seq("series"), "t_sec",
      "zero_count", "pos_idx", "pos_counts", "neg_idx", "neg_counts", W,
      hintCol = Some("hint"))
    val bounds = Seq(0.5, 2.0, 8.0)
    def ctx(layers: Boolean) = PromQLContext(
      metrics = Map.empty, labelCols = Seq("series"),
      evalMs = 1000L * 1000L, lookbackMs = 2000000L,
      histMetrics = Map("m" -> HistTable(d, customValues = bounds,
        rollups = if (layers)
          Seq(graft.tsdb.RollupStore.RollupLayer(path, W * 1000L))
        else Nil)))
    def run(q: String, layers: Boolean) =
      PromQL.compile(q, ctx(layers)).collect().map(_.toSeq).toSet
    for (q <- Seq("histogram_count(increase(m[1000s]))",
        "histogram_quantile(0.9, increase(m[1000s]))",
        "histogram_count(delta(m[1000s]))",
        "histogram_quantile(0.9, delta(m[1000s]))")) {
      assert(run(q, true) == run(q, false), s"$q diverged")
      assert(run(q, true).nonEmpty)
    }
    // and it genuinely routed: the layer path is in the plan
    val plan = PromQL.compile(
        "histogram_count(increase(m[1000s]))", ctx(true))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("graft_nh_rollup_spec_nhcb"))
  }

  test("single-sample windows carry empty increases but real boundaries") {
    // every window holds ONE sample: all increase comes from seams
    val rows: Seq[Row8] = Seq(
      ("a", 10L, 0.0, Seq(0), Seq(3.0), Seq(-1), Seq(1.0), "unknown"),
      ("a", 110L, 0.0, Seq(0), Seq(7.0), Seq(-1), Seq(2.0), "unknown"),
      ("a", 210L, 0.0, Seq(0), Seq(2.0), Seq(-1), Seq(5.0), "unknown"))
    assert(stitched(df(rows), "sparse") == raw(df(rows)))
    // series with a lone sample overall must drop, like the raw walk
    val lone: Seq[Row8] = rows :+
      (("b", 10L, 0.0, Seq(0), Seq(1.0), Seq(), Seq(), "unknown"): Row8)
    val st = stitched(df(lone), "lone")
    assert(st == raw(df(lone)))
    assert(!st.exists(_.head == "b"))
  }

  test("native stitch fold ≡ the HOF foldWindows formulation " +
      "(randomized windows incl. hints and single-sample windows)") {
    val rnd = new scala.util.Random(777)
    val hints = Seq("unknown", "counter_reset", "not_counter_reset",
      "gauge")
    val rows: Seq[Row8] = for {
      s <- 0 until 8
      t <- 0 until 9
      if rnd.nextInt(10) > 1 // holes → some single-sample windows
    } yield {
      val nb = rnd.nextInt(4)
      val idx = rnd.shuffle((-1 to 3).toList).take(nb).sorted
      val cnts = idx.map(_ => rnd.nextInt(9).toDouble)
      val nnb = rnd.nextInt(2)
      val nidx = rnd.shuffle((0 to 2).toList).take(nnb).sorted
      val ncnts = nidx.map(_ => rnd.nextInt(9).toDouble)
      (s"s$s", t * 37L, rnd.nextInt(4).toDouble, idx, cnts, nidx, ncnts,
        hints(rnd.nextInt(hints.length)))
    }
    val path = "/tmp/graft_nh_rollup_spec_nativefold"
    HistRollupStore.write(df(rows), path, Seq("series"), "t_sec",
      "zero_count", "pos_idx", "pos_counts", "neg_idx", "neg_counts", W,
      hintCol = Some("hint"))
    val sel = HistRollupStore.select(spark, path, 0L, 1000L)
    def run(native: Boolean) =
      (if (native) HistRollupStore.stitchedIncreaseOf(sel, Seq("series"))
      else NhReference.stitchedIncreaseOf(sel, Seq("series")))
        .collect().map(_.toSeq).toSet
    assert(run(true) == run(false))
  }
}
