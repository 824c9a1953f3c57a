package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, Row}
import graft.tsdb.Matcher
import graft.tsdb.promql.{PromQL, PromQLContext}
import graft.tsdb.shard.ParquetShardStore

/** PromQL range functions over a shard select evaluate at series grain
  * ([[graft.functions.RangeWindows]] over the select's series-grain
  * twin) when the metric table is the select frame itself, and at
  * sample grain (step explode, window, (series, step) aggregate) when
  * it is a frame derived from it. Both must give the same rows with
  * bit-identical doubles, for every covered function, in range and
  * instant form, over counter resets (one on an `s_data` column
  * boundary), a series that ends mid-window, windows of 0 and 1
  * samples, NaN and ±0.0 values and duplicate timestamps.
  */
class SeriesGrainEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private val base = 1704067200000L // 2024-01-01T00:00Z
  private val hour = 3600000L
  private val minute = 60000L

  private def at(ms: Long) = new Timestamp(base + ms)

  // counter `c` and gauge `g` per (job, inst) over three 1 h columns
  private def samples: Seq[(String, String, String, Timestamp, Double)] = {
    val c = (0 until 720).flatMap { i =>
      val t = i * 15000L
      Seq(
        // resets at 1 h and 2 h, the column boundaries
        ("c", "a", "i0", at(t), (i % 240) * 1.25),
        // a reset inside the first column, fractional increments
        ("c", "a", "i1", at(t + 5000L), (i % 100) * (i % 100) * 0.013 + i * 1e-3))
    } ++ (0 until 269).map { i =>
      // ends at 1h07m03s, mid-window
      ("c", "b", "i0", at(i * 15000L + 3000L), i * 2.0)
    } ++ (0 until 360).flatMap { i =>
      // two samples at every fifth timestamp
      val t = i * 30000L + 1000L
      val v = i * 3.0 + (i % 11)
      if (i % 5 == 0) Seq(("c", "b", "i1", at(t), v), ("c", "b", "i1", at(t), v + 0.5))
      else Seq(("c", "b", "i1", at(t), v))
    }
    val g = (0 until 720).map { i =>
      val v = i % 5 match {
        case 0 => 0.0
        case 1 => -0.0
        case _ => ((i * 37) % 100 - 50) / 4.0
      }
      ("g", "a", "i0", at(i * 15000L), v)
    } ++ (0 until 26).map { i =>
      // one sample per 7 min: 5 min windows hold 0 or 1 of them
      ("g", "a", "i1", at(i * 420000L + 2000L), i * 1.5 - 10)
    } ++ (0 until 540).flatMap { i =>
      val t = i * 20000L
      i % 6 match {
        case 0 => Seq(("g", "nan", "i0", at(t), Double.NaN))
        case 1 => Seq(("g", "nan", "i0", at(t), Double.NaN), ("g", "nan", "i0", at(t), 4.0))
        case 2 => Seq(("g", "nan", "i0", at(t), -0.0), ("g", "nan", "i0", at(t), 0.0))
        case _ => Seq(("g", "nan", "i0", at(t), (i % 13) - 6.0))
      }
    } ++ (0 until 360).flatMap { i =>
      val t = i * 30000L
      val v = (i % 17) - 8.0
      Seq(("g", "b", "i0", at(t), v), ("g", "b", "i0", at(t), -v))
    }
    c ++ g
  }

  private lazy val dir = {
    val d = "/tmp/graft_pshard_series_grain"
    ParquetShardStore.write(samples.toDF("__name__", "job", "inst", "ts", "value"),
      d, Seq("__name__", "job", "inst"), "ts", "value", colDurationMs = hour, shards = 2)
    d
  }

  private val labels = Seq("job", "inst")

  /** The select a panel over [start, end] with range `r` issues. */
  private def select(d: String, metric: String, start: Long, end: Long, r: Long): DataFrame =
    ParquetShardStore.select(spark, d, start - r - 2 * minute, end,
      Seq(Matcher.Eq("__name__", metric)))

  private def ctx(table: DataFrame, metric: String, evalMs: Long) =
    PromQLContext(Map(metric -> table), labels, evalMs = evalMs)

  /** (query, metric, range ms): every covered function. */
  private val queries: Seq[(String, String, Long)] = Seq(
    ("rate(c[5m])", "c", 5 * minute),
    ("increase(c[5m])", "c", 5 * minute),
    ("rate(c[150s] offset 2m)", "c", 7 * minute),
    ("sum by (job) (increase(c[10m]))", "c", 10 * minute),
    ("sum_over_time(g{job!=\"nan\"}[5m])", "g", 5 * minute),
    ("avg_over_time(g{job!=\"nan\"}[5m] offset 1m)", "g", 6 * minute),
    ("sum_over_time(c[5m])", "c", 5 * minute),
    ("min_over_time(g[5m])", "g", 5 * minute),
    ("max_over_time(g[5m] offset 90s)", "g", 7 * minute),
    ("count_over_time(g[5m])", "g", 5 * minute),
    ("last_over_time(g[150s])", "g", 3 * minute),
    ("first_over_time(g[5m])", "g", 5 * minute))

  // three panel windows; the second crosses the 1 h column boundary
  private val windows = Seq(
    (base + 10 * minute, base + 40 * minute),
    (base + 50 * minute, base + 80 * minute),
    (base + 120 * minute, base + 170 * minute))

  private def keyed(rows: Array[Row]): Map[Seq[Any], Any] =
    rows.map(r => r.toSeq.init -> r.toSeq.last).toMap

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => if (x.isNaN) y.isNaN
      else java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    case _ => a == b
  }

  /** Asserts both grains give the same rows; returns how many. */
  private def assertSame(what: String, seriesGrain: DataFrame, sampleGrain: DataFrame): Int = {
    assert(seriesGrain.queryExecution.optimizedPlan.toString.contains("range_windows"),
      s"$what: the table's handle did not select the series grain")
    assert(!sampleGrain.queryExecution.optimizedPlan.toString.contains("range_windows"), what)
    val (got, want) = (keyed(seriesGrain.collect()), keyed(sampleGrain.collect()))
    assert(got.keySet == want.keySet, s"$what: keys ${got.keySet.diff(want.keySet)} vs " +
      s"${want.keySet.diff(got.keySet)}")
    want.foreach { case (k, w) =>
      assert(same(got(k), w), s"$what at $k: ${got(k)} vs $w")
    }
    want.size
  }

  test("range form: series grain equals sample grain at three windows, bit for bit") {
    for ((q, metric, r) <- queries; (start, end) <- windows) {
      val sel = select(dir, metric, start, end, r)
      assert(ParquetShardStore.seriesGrain(sel).isDefined)
      assert(ParquetShardStore.seriesGrain(sel.select("*")).isEmpty)
      val n = assertSame(s"$q over [$start, $end]",
        PromQL.compileRange(q, ctx(sel, metric, end), start, end, minute),
        PromQL.compileRange(q, ctx(sel.select("*"), metric, end), start, end, minute))
      assert(n > 0, s"$q over [$start, $end]: no rows")
    }
  }

  test("instant form: series grain equals sample grain at three eval times") {
    for ((q, metric, r) <- queries; (_, end) <- windows) {
      val sel = select(dir, metric, end, end, r)
      val n = assertSame(s"$q at $end", PromQL.compile(q, ctx(sel, metric, end)),
        PromQL.compile(q, ctx(sel.select("*"), metric, end)))
      assert(n > 0, s"$q at $end: no rows")
    }
  }

  test("windows of 0 and 1 samples, NaN and ±0.0 values and duplicate " +
      "timestamps reach the comparison") {
    val (start, end) = windows(1)
    val sel = select(dir, "g", start, end, 5 * minute)
    val counts = PromQL.compileRange("count_over_time(g[5m])", ctx(sel, "g", end),
      start, end, minute).collect()
    // the sparse series: 31 steps, each 5 min window holds 0 or 1 sample
    val sparse = counts.filter(_.getAs[String]("inst") == "i1").map(_.getAs[Double]("value"))
    assert(sparse.nonEmpty && sparse.length < 31 && sparse.forall(_ == 1.0), sparse.toSeq)
    val maxNan = PromQL.compileRange("max_over_time(g{job=\"nan\"}[5m])",
      ctx(sel, "g", end), start, end, minute).collect()
    assert(maxNan.nonEmpty && maxNan.forall(_.getAs[Double]("value").isNaN))
    // a NaN inside a decimal sum fails the same way at either grain
    val sumNan = "sum_over_time(g{job=\"nan\"}[5m])"
    val both = Seq(sel, sel.select("*")).map(t =>
      Try(PromQL.compileRange(sumNan, ctx(t, "g", end), start, end, minute).collect()))
    (both.head, both(1)) match {
      case (Failure(_), Failure(_)) =>
      case (Success(a), Success(b)) => assert(a.toSet == b.toSet)
      case other => fail(s"$sumNan: $other")
    }
  }

  test("a select whose phase 1 sees one label set on two rows attaches no handle") {
    val d = "/tmp/graft_pshard_series_grain_dup"
    ParquetShardStore.write(samples.filter(_._1 == "c").toDF("__name__", "job", "inst", "ts", "value"),
      d, Seq("__name__", "job", "inst"), "ts", "value", colDurationMs = hour, shards = 1)
    // shard 1: a copy of shard 0, so every label set is on two rows
    for (kind <- Seq("labels", "chunks"))
      Files.copy(Paths.get(s"$d/0.$kind.parquet"), Paths.get(s"$d/1.$kind.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val (start, end) = windows(1)
    val sel = select(d, "c", start, end, 5 * minute)
    assert(ParquetShardStore.seriesGrain(sel).isEmpty)
    val q = "sum by (job) (rate(c[5m]))"
    val got = PromQL.compileRange(q, ctx(sel, "c", end), start, end, minute)
    assert(!got.queryExecution.optimizedPlan.toString.contains("range_windows"))
    assert(got.collect().toSet ==
      PromQL.compileRange(q, ctx(sel.select("*"), "c", end), start, end, minute).collect().toSet)
  }
}
