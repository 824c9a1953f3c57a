package graft

import java.sql.Timestamp
import org.apache.spark.graft.{ExecLog, JobLog}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FilterExec, LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import graft.tsdb.Matcher
import graft.tsdb.promql.{PromQL, PromQLContext}
import graft.tsdb.shard.{ParquetShardStore, ShardRowsRDD}

/** The row-range readers ([[ShardRowsRDD]]) of a frame's plan. */
object ShardReads {
  def of(df: DataFrame): Seq[ShardRowsRDD] =
    df.queryExecution.optimizedPlan.collect { case r: LogicalRDD => r.rdd }
      .collect { case r: ShardRowsRDD => r }.distinct
}

/** The shape of a reference-layout shard select: the matchers resolve
  * to matched rows on the driver (phase 1), so the executed plan reads
  * the matched shards' chunks files by row range with no join and no
  * broadcast exchange, the reader requests only the in-range
  * `s_data_<i>` columns, a raw select's collect runs one job —
  * `series` none — and a one-split select is one partition, so the
  * aggregates over it need no exchange.
  */
class ShardSelectPlanSpec extends SparkSpec {
  import spark.implicits._

  private val base = 1704067200000L // 2024-01-01T00:00Z
  private val hour = 3600000L

  // nine services over three range-partitioned shards: svc_0..svc_2
  // land in shard 0; `env` is absent on a third of the series
  private def series(i: Int) = (s"svc_${i % 9}",
    if (i % 3 == 0) null else s"env_${i % 2}", new Timestamp(base + i * 60000L))

  private lazy val xorDir = {
    val d = "/tmp/graft_pshard_selplan_xor"
    ParquetShardStore.write((0 until 270).map { i =>
        val (svc, env, ts) = series(i); (svc, env, ts, i * 0.5)
      }.toDF("svc", "env", "ts", "value"),
      d, Seq("svc", "env"), "ts", "value", colDurationMs = hour, shards = 3)
    d
  }

  private def histDir(float: Boolean) = {
    val d = s"/tmp/graft_pshard_selplan_${if (float) "fhist" else "hist"}"
    val cols = Seq("svc", "env", "ts", "zero", "idx", "cnt", "hsum")
    if (float) ParquetShardStore.writeFloatHist((0 until 270).map { i =>
        val (svc, env, ts) = series(i)
        (svc, env, ts, 0.0, Seq(1, 3), Seq(i * 0.25, i * 1.25), i * 1.5)
      }.toDF(cols: _*), d, Seq("svc", "env"), "ts", "zero", "idx", "cnt",
      Some("hsum"), colDurationMs = hour, shards = 3)
    else ParquetShardStore.writeHist((0 until 270).map { i =>
        val (svc, env, ts) = series(i)
        (svc, env, ts, 0L, Seq(1, 3), Seq(i + 1L, i + 2L), i * 1.5)
      }.toDF(cols: _*), d, Seq("svc", "env"), "ts", "zero", "idx", "cnt",
      Some("hsum"), colDurationMs = hour, shards = 3)
    d
  }
  private lazy val hDir = histDir(float = false)
  private lazy val fhDir = histDir(float = true)

  // [1h, 3h) at 1h columns: s_data_1 and s_data_2
  private val (lo, hi) = (base + hour, base + 3 * hour)
  private val inRange = Set("s_data_1", "s_data_2")
  private val ms = Seq(Matcher.Re("svc", "svc_[0-5]"), Matcher.Neq("env", "env_1"))

  /** Every shard-select flavour over the same window and matchers. */
  private def frames: Seq[(String, DataFrame)] = {
    val q = Long.MaxValue
    val sel = ParquetShardStore.select(spark, xorDir, lo, hi, ms)
    Seq(
      "select" -> sel,
      "selectStrict" -> ParquetShardStore.selectStrict(spark, xorDir, lo, hi, ms, q),
      "selectHist" -> ParquetShardStore.selectHist(spark, hDir, lo, hi, ms),
      "selectHistStrict" -> ParquetShardStore.selectHistStrict(spark, hDir, lo, hi, ms, q),
      "selectFloatHist" -> ParquetShardStore.selectFloatHist(spark, fhDir, lo, hi, ms),
      "selectFloatHistStrict" ->
        ParquetShardStore.selectFloatHistStrict(spark, fhDir, lo, hi, ms, q),
      "promql" -> PromQL.compileRange("sum by (env) (max_over_time(x[30m]))",
        PromQLContext(Map("x" -> sel), Seq("svc", "env"), evalMs = hi),
        lo + 10 * 60000L, hi, 60000L))
  }

  test("no Join or BroadcastExchange in any executed plan of raw, hist, " +
      "strict or PromQL-over-shard frames") {
    for ((what, df) <- frames) {
      val (rows, log) = ExecLog(spark.sparkContext)(df.collect())
      assert(rows.nonEmpty, what)
      val names = log.nodes.map(_.nodeName)
      assert(names.exists(_.startsWith("Scan ExistingRDD shard rows")) &&
        !names.exists(_.startsWith("Scan parquet")), s"$what: $names")
      assert(!names.exists(n => n.contains("Join") || n.contains("BroadcastExchange")),
        s"$what: $names")
    }
  }

  test("the merges run no SQL plan: no Join, BroadcastExchange or Exchange in " +
      "mergeShards or mergeShardsHist") {
    for ((what, merge) <- Seq[(String, () => Unit)](
        "mergeShards" -> (() => ParquetShardStore.mergeShards(spark, Seq(xorDir),
          "/tmp/graft_pshard_selplan_merge_xor", colDurationMs = hour, shards = 3)),
        "mergeShardsHist" -> (() => ParquetShardStore.mergeShardsHist(spark, Seq(hDir),
          "/tmp/graft_pshard_selplan_merge_hist", colDurationMs = hour, shards = 3)))) {
      val (_, log) = ExecLog(spark.sparkContext)(merge())
      assert(log.plans.isEmpty, s"$what: ${log.nodes.map(_.nodeName)}")
      assert(log.shuffleRecordsWritten == 0, s"$what: ${log.shuffleRecordsWritten}")
    }
  }

  test("a select's plan holds no row lookup and no _metadata column; the " +
      "decode keeps the window with no Filter") {
    for ((what, df) <- frames) {
      assert(df.collect().nonEmpty, what)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("matchedrowlookup") && !plan.contains("_metadata"), s"$what: $plan")
    }
    val df = ParquetShardStore.select(spark, xorDir, lo, hi, ms)
    assert(Stages.filters(df.queryExecution.executedPlan) == 0, df.queryExecution.executedPlan)
  }

  test("the reader requests only the in-range s_data columns") {
    for ((what, df) <- frames) {
      val readers = ShardReads.of(df)
      assert(readers.size == 1, s"$what: one reader, the chunks files")
      assert(readers.head.dataCols.toSet == inRange, s"$what: ${readers.head.dataCols}")
    }
  }

  test("the scan lists only the chunks files of shards with a match") {
    def files(m: Seq[Matcher]) =
      ShardReads.of(ParquetShardStore.select(spark, xorDir, lo, hi, m)).flatMap(_.files)
    val one = files(Seq(Matcher.Eq("svc", "svc_1")))
    assert(one.size == 1 && one.head.endsWith(".chunks.parquet"), one)
    assert(files(Nil).size == 3)
    // no match: an empty local relation, nothing listed or run
    val none = ParquetShardStore.select(spark, xorDir, lo, hi,
      Seq(Matcher.Eq("svc", "nope")))
    assert(ShardReads.of(none).isEmpty && none.inputFiles.isEmpty)
    val (rows, jobs) = JobLog(spark.sparkContext)(none.collect())
    assert(rows.isEmpty && jobs.isEmpty, s"jobs: $jobs")
  }

  test("a raw select's collect runs exactly one job; series().collect() runs none") {
    xorDir
    val sc = spark.sparkContext
    val (rows, jobs) = JobLog(sc) {
      ParquetShardStore.select(spark, xorDir, lo, hi, ms).collect()
    }
    assert(rows.nonEmpty)
    assert(jobs.size == 1, s"jobs: $jobs")
    val (labels, seriesJobs) = JobLog(sc) {
      ParquetShardStore.series(spark, xorDir, ms).collect()
    }
    assert(labels.nonEmpty)
    assert(seriesJobs.isEmpty, s"jobs: $seriesJobs")
  }

  // PromQL range functions over the select evaluate per series on its
  // series-grain twin: no step explode, no window, no (series, step)
  // exchange

  private def promql(query: String, table: DataFrame): DataFrame =
    PromQL.compileRange(query, PromQLContext(Map("x" -> table), Seq("svc", "env"),
      evalMs = hi), lo + 10 * 60000L, hi, 60000L)

  private object Stages extends AdaptiveSparkPlanHelper {
    /** The shuffle exchanges of an executed plan's final stages. */
    def exchanges(p: SparkPlan): Int = collect(p) { case e: ShuffleExchangeExec => e }.size
    def filters(p: SparkPlan): Int = collect(p) { case f: FilterExec => f }.size
    def aggregates(p: SparkPlan): Int = collect(p) { case a: BaseAggregateExec => a }.size
  }

  test("max_over_time over a shard select runs one job with no Exchange, " +
      "Window or sequence explode") {
    val df = promql("max_over_time(x[5m])", ParquetShardStore.select(spark, xorDir, lo, hi, ms))
    val ((rows, log), jobs) = JobLog(spark.sparkContext)(ExecLog(spark.sparkContext)(df.collect()))
    assert(rows.nonEmpty)
    assert(jobs.size == 1, s"jobs: $jobs")
    val nodes = log.nodes
    assert(!nodes.exists(n => n.nodeName.contains("Exchange") || n.nodeName == "Window" ||
      n.simpleString.contains("sequence")), nodes.map(_.simpleString))
  }

  test("sum by (env) (rate(x[30m])) over a one-split shard select runs one job " +
      "with no Exchange") {
    val df = promql("sum by (env) (rate(x[30m]))",
      ParquetShardStore.select(spark, xorDir, lo, hi, ms))
    val (rows, jobs) = JobLog(spark.sparkContext)(df.collect())
    assert(rows.nonEmpty)
    assert(jobs.size == 1, s"jobs: $jobs")
    assert(Stages.exchanges(df.queryExecution.executedPlan) == 0,
      df.queryExecution.executedPlan)
    // the series-grain twin slices its window in the decode: no
    // higher-order `filter` keeps its projection out of codegen
    assert(!df.queryExecution.executedPlan.toString.contains("lambdafunction"),
      df.queryExecution.executedPlan)
  }

  test("a select that spans more than one split keeps its exchange and gives " +
      "the same answers") {
    val query = "sum by (env) (rate(x[30m]))"
    def run = {
      val df = promql(query, ParquetShardStore.select(spark, xorDir, lo, hi, ms))
      (df.collect().map(_.toSeq).toSet, df)
    }
    val (one, _) = run
    val conf = spark.conf
    val key = "spark.sql.files.maxPartitionBytes"
    val before = conf.getOption(key)
    conf.set(key, "64")
    val (many, df) = try run finally before.fold(conf.unset(key))(conf.set(key, _))
    val splits = ShardReads.of(df).map(_.getNumPartitions)
    assert(splits.size == 1 && splits.head > 1, splits)
    assert(Stages.exchanges(df.queryExecution.executedPlan) == 1,
      df.queryExecution.executedPlan)
    assert(many == one && one.nonEmpty)
  }

  test("an @-pinned selector and a frame derived from the select plan the sample grain") {
    val sel = ParquetShardStore.select(spark, xorDir, lo, hi, ms)
    for ((what, df) <- Seq(
        "@" -> promql(s"max_over_time(x[5m] @ ${(hi - 60000L) / 1000})", sel),
        "derived" -> promql("max_over_time(x[5m])", sel.filter("value >= 0")))) {
      assert(!df.queryExecution.optimizedPlan.toString.contains("range_windows"), what)
      assert(df.collect().nonEmpty, what)
      // the sample grain's per-(series, step) aggregate, which the
      // series grain evaluates inside its per-series pass
      assert(Stages.aggregates(df.queryExecution.executedPlan) >= 1, what)
    }
  }
}
