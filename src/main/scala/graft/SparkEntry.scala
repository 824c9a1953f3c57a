package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Ann, Dedup}
import graft.tsdb.{ChunkStore, ConvertOptions, HistChunkStore, Matcher, PromOps, QuantileSketchStore, RollupStore, TsdbConverter, TsdbQueryable}

/** Driver contract: every operator from SURVEY.md §2 registered as a
  * runnable query plus (where SQL-expressible) a DuckDB oracle.
  *
  * Determinism discipline (SURVEY §6):
  *   - every computed column aliased IDENTICALLY in Spark and SQL;
  *   - float aggregates summed in decimal then cast to double, so the
  *     result is independent of partition/accumulation order, then
  *     rounded;
  *   - timestamps emitted as epoch milliseconds (BIGINT both sides);
  *   - every top-k/rank has a total-order tiebreak;
  *   - every result has a deterministic ORDER BY on both sides.
  */
object SparkEntry {

  // ===== process-level fixture/metadata caches =====
  //
  // Some queries operate ON pre-existing storage artifacts: block
  // compaction reads already-converted block directories; a converted-
  // layout select reads an already-converted dataset. Writing those
  // inputs is setup a real deployment does once at ingest, not per
  // query — so they are built once per process here, exactly as the
  // reference's compactor consumes blocks some earlier job wrote.
  private val fixtures =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private def fixtureOnce(key: String)(build: => Unit): Unit =
    fixtures.computeIfAbsent(key, _ => { build; java.lang.Boolean.TRUE })

  // The label-name universe of a table is schema metadata the
  // reference's schema builder discovers ONCE per block at convert
  // time (schema/schema_builder.go:41), not per query — cache the
  // discovery per source directory.
  private val labelUniverse =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has varied across driver testdata generations:
      // TIMESTAMP(NANOS) (which Spark's reader rejects natively —
      // read as long and floor to micros, the same truncation
      // DuckDB's epoch_ms applies) or TIMESTAMP(MICROS) (loads as a
      // timestamp directly). Dispatch on the LOADED type and cast
      // both paths to the session-TZ timestamp so downstream code
      // sees one column type either way.
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = s.read.parquet(s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
      }
    } else s.read.parquet(s"$dir/$name.parquet")

  /** Order-insensitive float sum: accumulate exactly in decimal, then
    * one well-defined decimal→double conversion. Partition order can
    * no longer change the value, so DuckDB and Spark agree bitwise.
    */
  private def dsum(c: Column): Column = sum(c.cast("decimal(30,8)")).cast("double")

  // TPC-H date columns read as TIMESTAMP_NTZ; with a UTC session the
  // cast to TIMESTAMP is instant-preserving, and unix_millis then
  // matches DuckDB's epoch_ms.
  private def ms(c: Column): Column = unix_millis(c.cast("timestamp"))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q02_agg_pricing")(spark, "/root/testdata/sf0.001")

  // ===================== relational q01–q10 =====================

  private def q01(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("2000-01-01").cast("timestamp") &&
        col("l_quantity") < 10)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"))
      .orderBy("l_orderkey", "l_linenumber")

  private def q02(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(dsum(col("l_quantity")), 2).as("sum_qty"),
        round(dsum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
        // averages stay UNROUNDED: the decimal sum is exact and
        // order-independent, so the double quotient is bitwise
        // identical in Spark and DuckDB, whereas rounding a quotient
        // that lands on a .5 boundary diverges (Java shortest-repr
        // HALF_UP vs C-style binary rounding)
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        (dsum(col("l_discount")) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  private def q03(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .join(t(s, dir, "orders")
          .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"))
      .join(t(s, dir, "lineitem")
          .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(round(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
      .select(col("l_orderkey"), col("revenue"), ms(col("o_orderdate")).as("o_date_ms"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)

  private def q04(s: SparkSession, dir: String): DataFrame = {
    val asiaNations = t(s, dir, "nation")
      .join(t(s, dir, "region").filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
    val supAsia = t(s, dir, "supplier")
      .join(asiaNations, col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supAsia),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .groupBy("n_name")
      .agg(round(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy("n_name")
  }

  private def q05(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .orderBy("o_orderpriority", "rn")
  }

  private def q06(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select("o_orderstatus", "o_orderpriority")
      .distinct()
      .orderBy("o_orderstatus", "o_orderpriority")

  private def q07(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  private def q08(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        round(dsum(col("o_totalprice")), 2).as("total_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("n_orders"), col("total_price"))
      .orderBy("status", "priority")

  private def q09(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        (sum(col("k")).cast("double") / count(lit(1))).as("avg_k"))
      .orderBy("event_type")

  private def q10(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"),
        ms(date_trunc("hour", col("ts"))).as("bucket_ms"))
      .agg(count(lit(1)).as("n_events"),
        (dsum(col("value")) / count(lit(1))).as("avg_value"),
        max(col("value")).as("max_value"))
      .orderBy("event_type", "bucket_ms")

  // ===================== time-series surface =====================

  private def queryable(s: SparkSession, dir: String): TsdbQueryable =
    new TsdbQueryable(t(s, dir, "events"), Seq("event_type", "user_id"))

  private def withTsMs(df: DataFrame): DataFrame =
    df.withColumn("ts_ms", ms(col("ts"))).drop("ts")

  private def tsSelectEq(s: SparkSession, dir: String): DataFrame =
    withTsMs(queryable(s, dir)
      .select("2024-01-05", "2024-01-20", Matcher.Eq("event_type", "click")))
      .orderBy("ts_ms", "user_id", "value")

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

  private def tsSelectRegex(s: SparkSession, dir: String): DataFrame =
    withTsMs(queryable(s, dir)
      .select("2024-01-01", "2024-01-10", Matcher.Re("event_type", "click|view")))
      .orderBy("ts_ms", "user_id", "value")

  private def tsSelectNotRegex(s: SparkSession, dir: String): DataFrame =
    withTsMs(queryable(s, dir)
      .select("2024-01-01", "2024-01-31",
        Seq(Matcher.Nre("event_type", "c.*")), Nil, 500L))
      .orderBy("event_type", "user_id", "ts_ms")

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

  /** Series-only select — the reference's skipChunks fast path
    * (`/api/v1/series`, parquet_queryable.go:322 / materialize.go:164):
    * distinct label sets under matchers + range, sample values never
    * materialized (PlanAudit asserts `value` is absent from the
    * scan's ReadSchema).
    */
  private def tsSelectSeries(s: SparkSession, dir: String): DataFrame =
    queryable(s, dir).selectSeries("2024-01-05", "2024-01-20",
      Seq(Matcher.Re("event_type", "click|view|purchase")))

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

  private def tsLabelNames(s: SparkSession, dir: String): DataFrame =
    queryable(s, dir).labelNames(Matcher.Eq("event_type", "error"))

  private def tsLabelValues(s: SparkSession, dir: String): DataFrame =
    queryable(s, dir).labelValues("event_type",
      Seq(Matcher.Re("event_type", ".+")), limit = 3)

  /** Exact per-label cardinality under a matcher
    * ([[graft.tsdb.TsdbQueryable.labelCardinality]]); the HLL
    * variant is spec-pinned within 5% on the same fixture.
    */
  private def tsLabelCardinality(s: SparkSession, dir: String): DataFrame =
    queryable(s, dir).labelCardinality(
      Seq(graft.tsdb.Matcher.Nre("event_type", "err.*")))

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
    val p = "/tmp/graft_labelidx_" + dir.replaceAll("[^0-9a-zA-Z]", "_")
    fixtureOnce(s"labelidx:$dir") {
      graft.tsdb.LabelIndexStore.write(t(s, dir, "events"), p,
        Seq("event_type", "user_id"), "ts")
    }
    val q = queryable(s, dir)
      .withLabelIndex(graft.tsdb.LabelIndexStore.read(s, p))
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
    val p = "/tmp/graft_labelidx_" + dir.replaceAll("[^0-9a-zA-Z]", "_")
    fixtureOnce(s"labelidx:$dir") {
      graft.tsdb.LabelIndexStore.write(t(s, dir, "events"), p,
        Seq("event_type", "user_id"), "ts")
    }
    val q = queryable(s, dir)
      .withLabelIndex(graft.tsdb.LabelIndexStore.read(s, p))
      .scopedTo(1704412800000L, 1705708800000L) // [Jan 5, Jan 20)
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

  /** Approximate cardinality from the HLL SKETCH LAYER
    * ([[tsdb.LabelIndexStore.writeSketches]]): per (bucket, label)
    * DataSketches registers stored once at write time, UNIONED at
    * query time — buckets × labels fixed-size rows, never a value
    * scan, the shape that survives a billion-value `user_id` at
    * 100 TB where even the pair index is value-cardinality-sized.
    * This is a CONTRACT gate (the sketch-op convention, mechanically
    * hash-gated): the output is the per-label boolean
    * |approx − exact| ≤ 5 % · exact at lgK = 14 (RSE ≈ 0.81 %, so
    * 5 % is ≈ 6σ) and the oracle states the contract holds for every
    * label; [[LabelIndexSpec]] additionally pins the union-of-bucket
    * registers ≡ one whole-table sketch (HLL state is a function of
    * the value SET) and sparse-mode exactness on a crafted fixture.
    */
  private def tsLabelCardinalitySketch(s: SparkSession, dir: String): DataFrame = {
    val p = "/tmp/graft_labelsk_" + dir.replaceAll("[^0-9a-zA-Z]", "_")
    fixtureOnce(s"labelsk:$dir") {
      graft.tsdb.LabelIndexStore.writeSketches(t(s, dir, "events"), p,
        Seq("event_type", "user_id"), "ts")
    }
    val q = queryable(s, dir)
      .withLabelSketches(graft.tsdb.LabelIndexStore.readSketches(s, p))
    val approx = q.labelCardinality(exact = false)
      .withColumnRenamed("cardinality", "approx")
    val exactCard = q.labelCardinality()
      .withColumnRenamed("cardinality", "exact")
    approx.join(exactCard, Seq("label_name"))
      .select(col("label_name"),
        (abs(col("approx") - col("exact")) <=
          lit(0.05) * col("exact")).as("within_5pct"))
      .orderBy("label_name")
  }

  /** Approximate `quantile_over_time` from the QUANTILE SKETCH LAYER
    * ([[tsdb.QuantileSketchStore]]): per (series, day) one
    * Greenwald–Khanna summary, merged across the 20-day range, one
    * query — the 100 TB p90-dashboard shape (windows-in-range sketch
    * blobs instead of raw samples; exact quantiles are order
    * statistics no moment column can serve, which is why the rollup
    * router leaves `quantile_over_time` raw by design and this layer
    * is an EXPLICIT API). CONTRACT gate (the sketch-op convention):
    * GK guarantees the returned value's rank is within ±ε·n of q·n —
    * the output is the per-series boolean of that rank test at a 2ε
    * margin (merge order varies across partitions, so the VALUE is
    * not run-stable; the CONTRACT is), and the oracle states it
    * holds. [[QuantileSketchSpec]] pins the codec, the merge bound,
    * and NaN skipping.
    */
  private def tsQuantileSketch(s: SparkSession, dir: String): DataFrame = {
    val p = "/tmp/graft_qsketch_" + dir.replaceAll("[^0-9a-zA-Z]", "_")
    fixtureOnce(s"qsketch:$dir") {
      QuantileSketchStore.write(t(s, dir, "events"), p,
        Seq("event_type"), "ts", "value", 86400000L, relativeError = 0.01)
    }
    val q = 0.9
    val eps = 0.02 // 2× the build ε — the documented merge margin
    val mint = 1704412800000L // [Jan 5, Jan 25)
    val maxt = 1706140800000L
    val approx = QuantileSketchStore.quantileOverTime(s, p,
        Seq("event_type"), q, mint, maxt)
      .withColumnRenamed("value", "qv")
    val raw = t(s, dir, "events")
      .filter(col("ts") >= timestamp_millis(lit(mint)) &&
        col("ts") < timestamp_millis(lit(maxt)))
      .select(col("event_type"), col("value"))
    raw.join(broadcast(approx), Seq("event_type"))
      .groupBy(col("event_type"), col("qv"))
      .agg(count(lit(1)).as("_n"),
        sum(when(col("value") <= col("qv"), 1L).otherwise(0L)).as("_le"),
        sum(when(col("value") < col("qv"), 1L).otherwise(0L)).as("_lt"))
      .select(col("event_type"),
        (col("_le") >= floor((lit(q) - eps) * col("_n")) &&
          col("_lt") <= ceil((lit(q) + eps) * col("_n")))
          .as("rank_within_2pct"))
      .orderBy("event_type")
  }

  /** `quantile_over_time` THROUGH THE STRING FRONT-END over the GK
    * sketch layer — the declared-approximate OPT-IN
    * ([[graft.tsdb.promql.PromQLContext.quantileSketches]]: an empty
    * map keeps every quantile on the raw order-statistic path; the
    * raw gates are unchanged). Same CONTRACT shape as the store
    * gate, per (event_type, user_id) series over the aligned 5-day
    * window: GK returns an actual retained sample whose RANK is
    * within ±2ε·n of q·n (the raw path's interpolated quantile is a
    * different, exact number — which is why this path is opt-in and
    * gated on the rank bound, not value equality).
    */
  private def tsPromqlQuantileSketch(s: SparkSession, dir: String): DataFrame = {
    val p = "/tmp/graft_qsketchfe_" + dir.replaceAll("[^0-9a-zA-Z]", "_")
    fixtureOnce(s"qsketch_fe:$dir") {
      QuantileSketchStore.write(t(s, dir, "events"), p,
        Seq("event_type", "user_id"), "ts", "value", 86400000L,
        relativeError = 0.01)
    }
    val q = 0.9
    val eps = 0.02
    val mint = 1704412800000L // [Jan 5, Jan 25), day-aligned
    val maxt = 1706140800000L
    val ctx = promCtx(s, dir).copy(
      evalMs = maxt,
      quantileSketches = Map("events" -> Seq(
        RollupStore.RollupLayer(p, 86400000L))))
    val approx = graft.tsdb.promql.PromQL
      .compile("quantile_over_time(0.9, events[20d])", ctx)
      .select(col("event_type"), col("user_id"),
        col("value").as("qv"))
    val raw = t(s, dir, "events")
      .filter(col("ts") >= timestamp_millis(lit(mint)) &&
        col("ts") < timestamp_millis(lit(maxt)))
      .select(col("event_type"), col("user_id"), col("value"))
    raw.join(broadcast(approx), Seq("event_type", "user_id"))
      .groupBy(col("event_type"), col("user_id"), col("qv"))
      .agg(count(lit(1)).as("_n"),
        sum(when(col("value") <= col("qv"), 1L).otherwise(0L)).as("_le"),
        sum(when(col("value") < col("qv"), 1L).otherwise(0L)).as("_lt"))
      .select(col("event_type"), col("user_id"),
        (col("_le") >= floor((lit(q) - eps) * col("_n")) &&
          col("_lt") <= ceil((lit(q) + eps) * col("_n")))
          .as("rank_within_2pct"))
      .orderBy("event_type", "user_id")
  }

  private def tsLastPoint(s: SparkSession, dir: String): DataFrame =
    PromOps.lastPoint(t(s, dir, "events"), Seq("event_type", "user_id"),
        "ts", tieBreak = Seq("event_id"))
      .select(col("event_type"), col("user_id"), ms(col("ts")).as("ts_ms"),
        col("value"), col("event_id"))
      .orderBy("event_type", "user_id")

  private def tsRate(s: SparkSession, dir: String): DataFrame =
    PromOps.rate(t(s, dir, "events"), Seq("event_type", "user_id"),
        "ts", "value", rangeSeconds = 2592000.0, tieBreak = Seq("event_id"))
      .select(col("event_type"), col("user_id"),
        round(col("increase"), 4).as("increase"), col("samples"),
        round(col("rate"), 10).as("rate"))
      .orderBy("event_type", "user_id")

  private def tsInstantAlign(s: SparkSession, dir: String): DataFrame =
    PromOps.alignToSteps(t(s, dir, "events"), Seq("event_type", "user_id"),
        "ts", "value", "2024-01-01", "2024-01-08",
        stepMs = 21600000L, lookbackMs = 43200000L)
      .orderBy("event_type", "user_id", "step_ms")

  private def tsAggBy(s: SparkSession, dir: String): DataFrame =
    PromOps.aggregateBy(t(s, dir, "events"), Seq("event_type"), "ts", "value", "day")
      .select(col("event_type"), ms(col("bucket")).as("bucket_ms"),
        round(col("sum_value"), 4).as("sum_value"),
        col("min_value"), col("max_value"), col("n_series_samples"))
      .orderBy("event_type", "bucket_ms")

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

  private def tsResets(s: SparkSession, dir: String): DataFrame =
    PromOps.resets(t(s, dir, "events"), Seq("event_type", "user_id"),
        "ts", "value", tieBreak = Seq("event_id"))
      .orderBy("event_type", "user_id")

  private def tsDelta(s: SparkSession, dir: String): DataFrame =
    PromOps.delta(t(s, dir, "events"), Seq("event_type", "user_id"),
        "ts", "value", tieBreak = Seq("event_id"))
      .select(col("event_type"), col("user_id"), round(col("delta"), 4).as("delta"))
      .orderBy("event_type", "user_id")

  private def tsDownsample(s: SparkSession, dir: String): DataFrame =
    PromOps.downsample(t(s, dir, "events"), Seq("event_type", "user_id"),
        "ts", "value", "day")
      .select(col("event_type"), col("user_id"), ms(col("bucket")).as("bucket_ms"),
        col("avg_value"), col("max_value"), col("n_samples"))
      .orderBy("event_type", "user_id", "bucket_ms")

  // ---- materialized rollup layers ([[tsdb.RollupStore]]) ----

  private def rollupPath(dir: String, res: String): String =
    s"/tmp/graft_rollup_${res}_" + dir.replaceAll("[^0-9a-zA-Z]", "_")

  private def rollupFixture(s: SparkSession, dir: String): Unit =
    fixtureOnce(s"rollup_layers:$dir") {
      val ev = t(s, dir, "events")
      RollupStore.write(ev, rollupPath(dir, "1h"),
        Seq("event_type", "user_id"), "ts", "value", 3600000L)
      RollupStore.write(ev, rollupPath(dir, "1d"),
        Seq("event_type", "user_id"), "ts", "value", 86400000L)
    }

  /** Full read-back of the 1-day rollup layer: every per-(series,
    * window) column — count, decimal-exact sum, min/max, boundary
    * samples with deterministic (ts, value) tiebreaks, and the
    * reset-aware within-window counter increase. The oracle replays
    * the identical lag-delta fold over raw events, so a hash match
    * proves the materialization is EXACT, not approximate.
    */
  private def tsRollupRoundtrip(s: SparkSession, dir: String): DataFrame = {
    rollupFixture(s, dir)
    RollupStore.read(s, rollupPath(dir, "1d"))
      .select(col("event_type"), col("user_id"), col("window_ms"),
        col("n"), col("vsum").cast("double").as("sum_v"),
        col("vmin").as("min_v"), col("vmax").as("max_v"),
        col("first_ts_ms"), col("first_v"),
        col("last_ts_ms"), col("last_v"),
        col("prev_ts_ms"), col("prev_v"),
        col("vmin_ts_ms"), col("vmax_nn"), col("vmax_ts_ms"),
        col("increase").cast("double").as("inc"),
        col("resets"), col("changes"))
      .orderBy("event_type", "user_id", "window_ms")
  }

  /** Counter increase over [Jan 5, Jan 25) reassembled from 1-day
    * rollups ([[tsdb.RollupStore.stitchedIncrease]]): Σ within-window
    * increases + reset-aware boundary terms — the consecutive-pair
    * decomposition, so the result must equal (bitwise) the same fold
    * run directly over the raw samples, which is what the oracle
    * computes. At 100 TB this is the long-range-rate path: windows-
    * in-range rows per series instead of every raw sample.
    */
  private def tsRollupIncrease(s: SparkSession, dir: String): DataFrame = {
    rollupFixture(s, dir)
    RollupStore.stitchedIncrease(s, rollupPath(dir, "1d"),
        Seq("event_type", "user_id"),
        mintMs = 1704412800000L, maxtMs = 1706140800000L)
      .orderBy("event_type", "user_id")
  }

  /** Resolution routing ([[tsdb.RollupStore.route]], Thanos's
    * step/5 auto-downsampling rule): a 5-day step over [Jan 1,
    * Jan 31) routes to the COARSEST eligible layer (1 d here; the
    * 1 h layer also qualifies and — by the exact-rollup invariant —
    * would return the identical answer at 24× the bytes). The oracle
    * computes straight from raw, so the hash match proves layer
    * choice affects cost only, never results.
    */
  private def tsRollupRoute(s: SparkSession, dir: String): DataFrame = {
    rollupFixture(s, dir)
    val layers = Seq(
      RollupStore.RollupLayer(rollupPath(dir, "1h"), 3600000L),
      RollupStore.RollupLayer(rollupPath(dir, "1d"), 86400000L))
    RollupStore.downsampleAt(s, layers, Seq("event_type"),
        stepMs = 432000000L, mintMs = 1704067200000L, maxtMs = 1706659200000L)
      .orderBy("event_type", "step_ms")
  }

  /** The 1-day layer built FROM THE 1-HOUR LAYER instead of raw —
    * the layer cascade ([[tsdb.RollupStore.writeFrom]], Thanos
    * compact's 5m→1h maintenance shape: coarser layers never rescan
    * raw). The oracle is the SAME raw lag-fold replay the direct
    * roundtrip gate uses, so a hash match proves the cascade loses
    * nothing: decimal sums re-associate exactly, boundary samples
    * carry over from the seam windows, and increase/resets/changes
    * reassemble from within-fine-window terms + seam pairs — the
    * identical pair set the raw fold walks.
    */
  private def tsRollupCascade(s: SparkSession, dir: String): DataFrame = {
    rollupFixture(s, dir)
    val p = rollupPath(dir, "1d_cascade")
    fixtureOnce(s"rollup_cascade:$dir") {
      RollupStore.writeFrom(s, rollupPath(dir, "1h"), p,
        Seq("event_type", "user_id"), "ts",
        fineResolutionMs = 3600000L, resolutionMs = 86400000L)
    }
    RollupStore.read(s, p)
      .select(col("event_type"), col("user_id"), col("window_ms"),
        col("n"), col("vsum").cast("double").as("sum_v"),
        col("vmin").as("min_v"), col("vmax").as("max_v"),
        col("first_ts_ms"), col("first_v"),
        col("last_ts_ms"), col("last_v"),
        col("prev_ts_ms"), col("prev_v"),
        col("vmin_ts_ms"), col("vmax_nn"), col("vmax_ts_ms"),
        col("increase").cast("double").as("inc"),
        col("resets"), col("changes"))
      .orderBy("event_type", "user_id", "window_ms")
  }

  /** [[promCtx]] with the rollup layers registered: the PromQL
    * front-end routes aligned range arguments to the coarsest
    * eligible layer ([[graft.tsdb.promql.PromQLContext.rollups]]).
    * Existing gates keep the raw context, so routing can never mask
    * a raw-path regression.
    */
  private def promCtxRollup(s: SparkSession, dir: String): graft.tsdb.promql.PromQLContext = {
    rollupFixture(s, dir)
    promCtx(s, dir).copy(rollups = Map("events" -> Seq(
      RollupStore.RollupLayer(rollupPath(dir, "1h"), 3600000L),
      RollupStore.RollupLayer(rollupPath(dir, "1d"), 86400000L))))
  }

  /** `query_range` production `rate()` served FROM THE 1-DAY ROLLUP
    * LAYER (range/step/start all day-aligned, 1d×5 ≤ 5d → the 1d
    * layer wins routing): the ladder's inputs reconstruct exactly
    * from the layer, so the oracle — the same raw-sample DuckDB
    * extrapolation replay the un-routed gates use — must hash-match
    * while the plan reads ~1/100th the rows (PlanAudit asserts the
    * raw table is absent from the scan).
    */
  private def tsPromqlRollupRangeRate(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compileRange(
        "sum by (event_type) (round(rate(events[5d]), 0.00000001))",
        promCtxRollup(s, dir),
        startMs = 1704844800000L, // 2024-01-10T00:00Z
        endMs = 1706572800000L,   // 2024-01-30T00:00Z
        stepMs = 432000000L)      // 5d
      .select(col("event_type"), col("step_ms"), col("value").as("rate_sum"))
      .orderBy("event_type", "step_ms")

  /** `query_range` `avg_over_time` served from the 1-day layer: the
    * decimal-exact (vsum, n) pair reconstructs the average bitwise
    * (Σvsum is the same per-value-quantized decimal sum the raw scan
    * would produce), composed under a `sum by` — oracle straight
    * from raw samples.
    */
  private def tsPromqlRollupOverTime(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compileRange(
        "sum by (event_type) (avg_over_time(events[5d]))",
        promCtxRollup(s, dir),
        startMs = 1704844800000L,
        endMs = 1706572800000L,
        stepMs = 432000000L)
      .select(col("event_type"), col("step_ms"), col("value").as("avg_sum"))
      .orderBy("event_type", "step_ms")

  /** Routed `resets()`/`changes()`: the layer's stored per-window
    * pair counts plus one boundary comparison per seam reproduce the
    * raw lag fold's counts exactly — the oracle runs that raw fold.
    */
  private def tsPromqlRollupResets(s: SparkSession, dir: String): DataFrame = {
    val ctx = promCtxRollup(s, dir)
    def q(fn: String, as: String): DataFrame =
      graft.tsdb.promql.PromQL.compile(s"$fn(events[5d])", ctx)
        .select(col("event_type"), col("user_id"), col("value").as(as))
    q("resets", "resets")
      .join(q("changes", "changes"), Seq("event_type", "user_id"))
      .orderBy("event_type", "user_id")
  }

  /** Routed `stddev/stdvar_over_time`: the layer's stored Σv²
    * (decimal-exact, v quantized once at 8 dp) re-runs the identical
    * (n·Σv² − (Σv)²)/n² closed form [[tsdb.PromOps.stdvarOverTime]]
    * computes over raw samples — the oracle IS that raw closed form
    * over the same 5-day window.
    */
  private def tsPromqlRollupStddev(s: SparkSession, dir: String): DataFrame = {
    val ctx = promCtxRollup(s, dir)
    def q(fn: String, as: String): DataFrame =
      graft.tsdb.promql.PromQL.compile(s"$fn(events[5d])", ctx)
        .select(col("event_type"), col("user_id"),
          round(col("value"), 8).as(as))
    q("stdvar_over_time", "stdvar")
      .join(q("stddev_over_time", "stddev"), Seq("event_type", "user_id"))
      .orderBy("event_type", "user_id")
  }

  /** Routed `deriv`/`predict_linear`: the layer's window-relative
    * regression sums shift exactly to the query origin (Σ(x+δ) =
    * Σx + nδ etc), rebuilding [[tsdb.PromOps]]'s per-series sums
    * bitwise; the oracle replays the same decimal closed form over
    * raw samples in the window.
    */
  private def tsPromqlRollupDeriv(s: SparkSession, dir: String): DataFrame = {
    val ctx = promCtxRollup(s, dir)
    val d = graft.tsdb.promql.PromQL.compile("deriv(events[5d])", ctx)
      .select(col("event_type"), col("user_id"),
        round(col("value"), 12).as("deriv"))
    val p = graft.tsdb.promql.PromQL.compile(
        "predict_linear(events[5d], 3600)", ctx)
      .select(col("event_type"), col("user_id"),
        round(col("value"), 6).as("predicted"))
    d.join(p, Seq("event_type", "user_id"))
      .orderBy("event_type", "user_id")
  }

  /** Routed `delta()` — graft's no-extrapolation gauge delta
    * (last − first, [[tsdb.PromOps.delta]]) served from the 1-day
    * layer's BOUNDARY SAMPLES: the min/max window-struct picks
    * reconstruct the range's first/last raw samples exactly, so the
    * subtraction is the identical IEEE op on the identical doubles —
    * the oracle replays the raw (ts, value)-ordered first/last over
    * the same 5-day window. A long-range dashboard `delta(gauge[30d])`
    * reads windows-in-range rows instead of every raw sample.
    */
  private def tsPromqlRollupDelta(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile("delta(events[5d])",
        promCtxRollup(s, dir))
      .select(col("event_type"), col("user_id"),
        round(col("value"), 8).as("delta"))
      .orderBy("event_type", "user_id")

  /** Routed `irate()` — the instantaneous rate from the range's LAST
    * TWO samples ([[tsdb.PromOps.irate]]) served from the 1-day
    * layer's boundary + PENULTIMATE samples (`prev_ts_ms`/`prev_v`):
    * the last two samples of a window-aligned range are the last
    * window's (last, prev) pair when it holds ≥2 samples, else its
    * last plus the previous window's last — both stored, so the
    * reconstruction is exact and the division runs on the identical
    * IEEE doubles. The oracle replays the raw last-two-samples pick
    * over the same 5-day window; at 100 TB `irate(counter[30d])`
    * reads windows-in-range rows instead of every raw sample.
    */
  private def tsPromqlRollupIrate(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile("irate(events[5d])",
        promCtxRollup(s, dir))
      .select(col("event_type"), col("user_id"),
        round(col("value"), 10).as("irate"))
      .orderBy("event_type", "user_id")

  /** Routed `ts_of_min/max_over_time` — the ARGMIN/ARGMAX timestamps
    * served from the layer's stored per-window extremum pairs
    * (`vmin_ts_ms`, `vmax_nn`/`vmax_ts_ms`): extremum-of-struct is
    * associative, so folding the pairs across windows under the raw
    * tie keys (value, then LATEST ts; max demotes NaN below every
    * real value) is the identical struct fold the raw path runs over
    * samples. The oracle replays the raw argmin/argmax pick over the
    * same 5-day window.
    */
  private def tsPromqlRollupTsOf(s: SparkSession, dir: String): DataFrame = {
    val ctx = promCtxRollup(s, dir)
    val mn = graft.tsdb.promql.PromQL
      .compile("ts_of_min_over_time(events[5d])", ctx)
      .select(col("event_type"), col("user_id"),
        col("value").as("ts_of_min"))
    val mx = graft.tsdb.promql.PromQL
      .compile("ts_of_max_over_time(events[5d])", ctx)
      .select(col("event_type"), col("user_id"),
        col("value").as("ts_of_max"))
    mn.join(mx, Seq("event_type", "user_id"))
      .orderBy("event_type", "user_id")
  }

  /** Routed `idelta()` — gauge difference of the range's last two
    * samples, same layer-served reconstruction as the irate gate
    * minus the counter-reset test and the time division.
    */
  private def tsPromqlRollupIdelta(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile("idelta(events[5d])",
        promCtxRollup(s, dir))
      .select(col("event_type"), col("user_id"),
        round(col("value"), 8).as("idelta"))
      .orderBy("event_type", "user_id")

  // ---- classic le-bucket histogram served from SCALAR rollup layers ----

  private val classicLes = Seq("10.0", "25.0", "50.0", "100.0", "200.0",
    "Infinity")

  /** A classic (le-labelled) histogram as a LONG series table derived
    * deterministically from events: per (event_type, le) a daily
    * CUMULATIVE counter of observations ≤ le — the storage shape a
    * Prometheus classic histogram has after convert (one plain
    * counter series per bucket, reference schema/schema.go le label).
    */
  private def classicBucketTable(s: SparkSession, dir: String): DataFrame = {
    val incs = classicLes.zipWithIndex.map { case (le, i) =>
      count(when(col("value") <= lit(le.toDouble), 1))
        .cast("double").as(s"_inc$i")
    }
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("ts"))
      .agg(incs.head, incs.tail: _*)
    daily
      .select(col("event_type"), col("ts"),
        explode(array(classicLes.zipWithIndex.map { case (le, i) =>
          struct(lit(le).as("le"), col(s"_inc$i").as("inc"))
        }: _*)).as("_b"))
      .select(col("event_type"), col("_b.le").as("le"), col("ts"),
        col("_b.inc").as("inc"))
      .withColumn("value", sum("inc").over(org.apache.spark.sql.expressions
        .Window.partitionBy("event_type", "le").orderBy("ts")))
      .drop("inc")
  }

  private def classicRollupPath(dir: String): String =
    "/tmp/graft_clrollup_1d_" + dir.replaceAll("[^0-9a-zA-Z]", "_")

  /** The Grafana dashboard idiom `histogram_quantile(0.9,
    * rate(bucket[5d]))` served FROM SCALAR ROLLUP LAYERS: classic
    * le-buckets are plain counters, so each le-series' `rate` routes
    * through the 1-day layer exactly like any float counter (the
    * stitched-increase fold + production extrapolation ladder,
    * bitwise the raw answer), and the quantile walk consumes the
    * routed rate vector unchanged. At 100 TB this is THE most-run
    * long-range query shape — the layer reads windows-in-range per
    * bucket series instead of every raw sample. The oracle replays
    * the raw ladder per le-series + the classic interpolation walk;
    * PlanAudit asserts the compiled plan reads the layer only.
    */
  private def tsPromqlRollupClassicQuantile(s: SparkSession, dir: String): DataFrame = {
    val p = classicRollupPath(dir)
    fixtureOnce(s"classic_rollup:$dir") {
      RollupStore.write(classicBucketTable(s, dir), p,
        Seq("event_type", "le"), "ts", "value", 86400000L)
    }
    val ctx = graft.tsdb.promql.PromQLContext(
      metrics = Map("req_bucket" -> classicBucketTable(s, dir)),
      labelCols = Seq("event_type", "le"),
      evalMs = 1706745600000L, // 2024-02-01T00:00:00Z
      lookbackMs = 86400000L,
      rollups = Map("req_bucket" -> Seq(
        RollupStore.RollupLayer(p, 86400000L))))
    graft.tsdb.promql.PromQL.compile(
        "histogram_quantile(0.9, round(rate(req_bucket[5d]), 0.00000001))",
        ctx)
      .select(col("event_type"), round(col("value"), 6).as("q90"))
      .orderBy("event_type")
  }

  private def tsTopkSeries(s: SparkSession, dir: String): DataFrame =
    PromOps.topKSeries(t(s, dir, "events"), Seq("event_type"),
        Seq("user_id"), "value", k = 3)
      .select(col("event_type"), col("user_id"),
        round(col("sum_value"), 4).as("sum_value"), col("rank"))
      .orderBy("event_type", "rank")

  private def tsCountValues(s: SparkSession, dir: String): DataFrame =
    PromOps.countValues(t(s, dir, "events"), Seq("event_type"), "value")
      .orderBy("event_type", "value")

  private def tsQuantile(s: SparkSession, dir: String): DataFrame =
    PromOps.quantileOverTime(t(s, dir, "events"),
        Seq("event_type", "user_id"), "value", 0.9)
      .select(col("event_type"), col("user_id"),
        round(col("quantile"), 6).as("q90"), col("samples"))
      .orderBy("event_type", "user_id")

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

  private def tsIrate(s: SparkSession, dir: String): DataFrame =
    PromOps.irate(t(s, dir, "events"), Seq("event_type", "user_id"),
        "ts", "value", tieBreak = Seq("event_id"))
      .select(col("event_type"), col("user_id"),
        round(col("irate"), 10).as("irate"))
      .orderBy("event_type", "user_id")

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

  private def tsIdelta(s: SparkSession, dir: String): DataFrame =
    PromOps.idelta(t(s, dir, "events"), Seq("event_type", "user_id"),
        "ts", "value", tieBreak = Seq("event_id"))
      .select(col("event_type"), col("user_id"),
        round(col("idelta"), 4).as("idelta"))
      .orderBy("event_type", "user_id")

  private def tsDeriv(s: SparkSession, dir: String): DataFrame =
    PromOps.deriv(t(s, dir, "events"), Seq("event_type", "user_id"),
        "ts", "value", originMs = 1704067200000L)
      .select(col("event_type"), col("user_id"),
        round(col("deriv"), 12).as("deriv"))
      .orderBy("event_type", "user_id")

  /** predict_linear(v[30d], 7d) evaluated at 2024-01-31. */
  private def tsPredictLinear(s: SparkSession, dir: String): DataFrame =
    PromOps.predictLinear(t(s, dir, "events"), Seq("event_type", "user_id"),
        "ts", "value", evalMs = 1706659200000L, horizonMs = 604800000L,
        originMs = 1704067200000L)
      .select(col("event_type"), col("user_id"),
        round(col("predicted"), 6).as("predicted"))
      .orderBy("event_type", "user_id")

  private def tsStddevOverTime(s: SparkSession, dir: String): DataFrame =
    PromOps.stdvarOverTime(t(s, dir, "events"),
        Seq("event_type", "user_id"), "value")
      .select(col("event_type"), col("user_id"),
        round(col("stdvar"), 8).as("stdvar"),
        round(col("stddev"), 8).as("stddev"), col("samples"))
      .orderBy("event_type", "user_id")

  private def tsBottomkSeries(s: SparkSession, dir: String): DataFrame =
    PromOps.bottomKSeries(t(s, dir, "events"), Seq("event_type"),
        Seq("user_id"), "value", k = 3)
      .select(col("event_type"), col("user_id"),
        round(col("sum_value"), 4).as("sum_value"), col("rank"))
      .orderBy("event_type", "rank")

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

  /** label_join(v, "series_key", "/", event_type, user_id) then
    * aggregate by the joined key — the relabel idiom for flattening
    * a multi-label series identity into one routing key. */
  private def tsLabelJoin(s: SparkSession, dir: String): DataFrame =
    PromOps.labelJoin(t(s, dir, "events"), "series_key", "/",
        Seq("event_type", "user_id"))
      .groupBy("series_key")
      .agg(count(lit(1)).as("n"), round(dsum(col("value")), 4).as("sum_value"))
      .orderBy("series_key")

  /** absent(nonexistent_series[, range]) → the 1-row vector. */
  private def tsAbsent(s: SparkSession, dir: String): DataFrame =
    PromOps.absent(queryable(s, dir)
      .select("2024-01-01", "2024-02-01", Matcher.Eq("event_type", "no_such_type")))

  private def tsClamp(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(round(dsum(PromOps.clamp(col("value"), 20.0, 80.0)), 4)
        .as("sum_clamped"), count(lit(1)).as("n_samples"))
      .select(col("event_type"), ms(col("day")).as("day_ms"),
        col("sum_clamped"), col("n_samples"))
      .orderBy("event_type", "day_ms")

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

  /** Open-label-set round trip: map labels → l_* physical columns
    * (schema builder analog) → back to a map → aggregate. Exercises
    * LabelSchema.spread/gather end-to-end against a plain oracle.
    */
  private def tsSchemaRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val withMap = t(s, dir, "events").select(
      map(lit("event_type"), col("event_type"),
        lit("user_id"), col("user_id").cast("string")).as("labels"),
      col("ts"), col("value"))
    val names = labelUniverse.computeIfAbsent(s"events:$dir",
      _ => graft.tsdb.LabelSchema.labelNames(withMap, "labels"))
    val wide = graft.tsdb.LabelSchema.spread(withMap, "labels", names)
    val back = graft.tsdb.LabelSchema.gather(wide, "labels")
    back.select(col("labels").getItem("event_type").as("event_type"))
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  /** Wide-sparse-label schema path — the reference's schema builder
    * exists for ~dozens of sparse label columns per block
    * (schema/schema_builder.go:41-171), not the 2-label toy shape
    * ts_schema_roundtrip covers. 48 sparse labels (each present on
    * 1/3..1/7 of rows, deterministic modular synthesis) go through
    * map → labelNames discovery → spread into 48 `l_*` physical
    * columns, then ONE single-pass conditional aggregation reads all
    * 48 columns at once (presence + matcher-hit count per label, all
    * partial-aggregating map-side) and the 1-row result unpivots at
    * metadata grain. At 100 TB: one scan, 96 conditional counters,
    * no row amplification, nulls stored free in Parquet.
    */
  private val wideDimCount = 48
  /** The deterministic sparse wide-label synthesis shared by
    * ts_schema_wide, ts_wide_select and their oracles: label dim_i is
    * present iff (user_id + i) % (3 + i%5) == 0, with value
    * 'v' || ((user_id + i) % 4) — each label present on 1/3..1/7 of
    * rows, cardinality 4.
    */
  private def wideLabelMapCol: Column = {
    val entries = (0 until wideDimCount).flatMap { i =>
      val present = pmod(col("user_id") + lit(i), lit(3 + i % 5)) === 0
      Seq(lit(f"dim_$i%02d"),
        when(present, concat(lit("v"), pmod(col("user_id") + lit(i), lit(4)))))
    }
    map_filter(map(entries: _*), (_, v) => v.isNotNull)
  }

  private def tsSchemaWide(s: SparkSession, dir: String): DataFrame = {
    import graft.tsdb.LabelSchema
    val ev = t(s, dir, "events")
    val withMap = ev.select(wideLabelMapCol.as("labels"),
      col("user_id"), col("value"))
    val names = labelUniverse.computeIfAbsent(s"events_wide:$dir",
      _ => LabelSchema.labelNames(withMap, "labels"))
    val wide = LabelSchema.spread(withMap, "labels", names)
    val aggs = names.zipWithIndex.flatMap { case (n, i) =>
      val c = col(LabelSchema.prefix + n)
      Seq(count(c).as(s"_p$i"), count(when(c === "v1", 1)).as(s"_m$i"))
    }
    wide.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(names.zipWithIndex.map { case (n, i) =>
        struct(lit(n).as("label"), col(s"_p$i").as("present"),
          col(s"_m$i").as("v1_hits"))
      }: _*)).as("_e"))
      .select(col("_e.label").as("label"), col("_e.present").as("present"),
        col("_e.v1_hits").as("v1_hits"))
      .orderBy("label")
  }

  /** The reference's wide layout END TO END at realistic label
    * cardinality: the 48-sparse-label corpus goes through
    * [[TsdbConverter.convertWithLabels]] — schema discovery → spread
    * to 48 `l_*` physical parquet columns → label-sorted, time-
    * bucketed write with bloom filters on the two matcher labels
    * (schema/schema_builder.go:41-171 + convert.go:81
    * buildBloomfilterColumns analog) — then a matcher SELECT over the
    * converted dataset: equality on l_dim_00 (pushed to the scan,
    * where the sorted row groups + bloom filter prune) AND a negated
    * regex on the SPARSE l_dim_07 — the Prometheus absent==""
    * convention under test where it actually bites: rows where
    * dim_07 is absent must be KEPT by `!~"v0"` (null behaves as ""),
    * rows where it is present (its value is v0 throughout the
    * residue class the equality pins) must be DROPPED. Projected to
    * 3 of the 48 label columns. PlanAudit asserts the equality
    * reaches PushedFilters and ReadSchema holds 5 of the 50 stored
    * columns. The oracle replays the modular synthesis + both
    * matcher semantics on the raw long table.
    */
  private def tsWideSelect(s: SparkSession, dir: String): DataFrame = {
    val path = "/tmp/graft_widesel_" + dir.replaceAll("[^0-9a-zA-Z]", "_")
    // ingest wrote the wide block once; the operator under test is
    // the select over the stored layout
    fixtureOnce(s"widesel:$dir") {
      TsdbConverter.convertWithLabels(
        t(s, dir, "events").select(wideLabelMapCol.as("labels"),
          col("ts"), col("value")),
        "labels", path, "ts",
        ConvertOptions(sortBy = Seq("l_dim_00", "l_dim_07"),
          colDuration = "1 day",
          bloomFilterLabels = Seq("l_dim_00", "l_dim_07"), shards = 4))
    }
    val wide = s.read.parquet(path)
    val labelCols = wide.columns.filter(_.startsWith("l_")).sorted.toSeq
    val q = new TsdbQueryable(wide, labelCols)
    withTsMs(q.select("2024-01-05", "2024-01-20",
        Seq(Matcher.Eq("l_dim_00", "v1"), Matcher.Nre("l_dim_07", "v0")),
        projection = Seq("l_dim_00", "l_dim_04", "l_dim_07")))
      .orderBy("ts_ms", "value", "l_dim_04")
  }

  private def tsMergeShards(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val shardA = ev.filter(col("user_id") % 2 === 0)
    val shardB = ev.filter(col("user_id") % 2 === 1 || col("value") > 100)
    TsdbConverter.mergeShards(Seq(shardA, shardB),
        Seq("event_type", "user_id"), "ts", "value")
      .select(col("event_type"), col("user_id"), ms(col("ts")).as("ts_ms"),
        col("value"))
      .orderBy("event_type", "user_id", "ts_ms", "value")
  }

  /** Block-compaction workflow: two overlapping converted block
    * directories (block B is a "newer" revision — values × 1.5 on
    * [Jan 10, ∞)) are k-way merged last-writer-wins and rewritten as
    * one sorted bucketed block, then read back. The oracle replays
    * the same union + arg_max in DuckDB.
    */
  private def tsMergeBlocks(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val tag = dir.replaceAll("[^0-9a-zA-Z]", "_")
    val dirA = s"/tmp/graft_block_a_$tag"
    val dirB = s"/tmp/graft_block_b_$tag"
    val out = s"/tmp/graft_block_merged_$tag"
    val opts = ConvertOptions(sortBy = Seq("event_type", "user_id"),
      colDuration = "1 day", shards = 4)
    // the two INPUT blocks are fixtures an earlier ingest wrote — a
    // compactor never re-creates its inputs per run. The operator
    // under test is the k-way merge + sorted bucketed write + readback.
    fixtureOnce(s"merge_blocks_inputs:$dir") {
      TsdbConverter.convert(
        ev.filter(col("ts") < lit("2024-01-20").cast("timestamp")), dirA, "ts", opts)
      TsdbConverter.convert(
        ev.filter(col("ts") >= lit("2024-01-10").cast("timestamp"))
          .withColumn("value", col("value") * 1.5), dirB, "ts", opts)
    }
    TsdbConverter.mergeBlockDirs(s, Seq(dirA, dirB), out,
      Seq("event_type", "user_id"), "ts", "value", opts)
    s.read.parquet(out)
      .select(col("event_type"), col("user_id"), ms(col("ts")).as("ts_ms"),
        col("value"))
      .orderBy("event_type", "user_id", "ts_ms", "value")
  }

  /** End-to-end storage→query check: select over the CONVERTED
    * bucketed layout (with a time filter that prunes partition
    * directories and an equality matcher that prunes row groups)
    * must answer exactly what the same select answers on the raw
    * table — the oracle runs on raw `events`.
    */
  private def tsConvertedSelect(s: SparkSession, dir: String): DataFrame = {
    val path = "/tmp/graft_convsel_" + dir.replaceAll("[^0-9a-zA-Z]", "_")
    // the converted layout is the stored artifact being queried;
    // ingest wrote it once. The operator under test is the SELECT
    // (partition pruning + row-group pruning + matcher pushdown).
    fixtureOnce(s"convsel:$dir") {
      TsdbConverter.convert(t(s, dir, "events"), path, "ts",
        ConvertOptions(sortBy = Seq("event_type", "user_id"),
          colDuration = "1 day", bloomFilterLabels = Seq("event_type"),
          shards = 4))
    }
    val q = new TsdbQueryable(s.read.parquet(path), Seq("event_type", "user_id"))
      .withBucketCol("bucket") // literal partition pruning from the range
    withTsMs(q.select("2024-01-05", "2024-01-20", Matcher.Eq("event_type", "view")))
      .orderBy("ts_ms", "user_id", "value")
  }

  /** Salted fact-dim join (Zipfian-key guard, SURVEY §5): result
    * must be IDENTICAL to the plain join — the oracle is the plain
    * SQL join, so the salt/replicate/drop plumbing is provably
    * transparent.
    */
  private def q11SkewJoin(s: SparkSession, dir: String): DataFrame = {
    val fact = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val dim = t(s, dir, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    graft.operators.Skew.saltedJoin(fact, dim, "o_custkey", "o_orderkey", 8)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        round(dsum(col("o_totalprice")), 2).as("total_price"))
      .orderBy("c_mktsegment")
  }

  private def tsConvertRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = "/tmp/graft_roundtrip_" + dir.replaceAll("[^0-9a-zA-Z]", "_")
    TsdbConverter.convert(t(s, dir, "events"), path, "ts",
      ConvertOptions(sortBy = Seq("event_type", "user_id"),
        colDuration = "1 day", bloomFilterLabels = Seq("event_type"),
        shards = 4))
    s.read.parquet(path)
      .groupBy(col("bucket").cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"), round(dsum(col("value")), 2).as("sum_value"))
      .orderBy("bucket")
  }

  /** XOR-chunk storage roundtrip ([[tsdb.ChunkStore]] +
    * [[tsdb.ChunkCodec]]): events encoded per series×day into framed
    * Gorilla/XOR chunk blobs (the reference's physical format,
    * schema/encoder.go:55), then decoded back in full. The output is
    * EVERY sample with µs timestamps and raw doubles, so the hash
    * match against the raw table proves the whole
    * encode→frame→store→prune→decode loop is bit-lossless.
    */
  private def tsChunkRoundtrip(s: SparkSession, dir: String): DataFrame = {
    chunkBlockFixture(s, dir)
    ChunkStore.select(s, chunkBlockPath(dir),
        "2024-01-01", "2024-02-01", Nil,
        Seq("event_type", "user_id"), "ts", "value")
      .withColumn("ts_us", unix_micros(col("ts"))).drop("ts")
      .orderBy("event_type", "user_id", "ts_us", "value")
  }

  /** Matcher + range select over the chunked dual-file layout:
    * label pushdown on the labels file, bucket-directory + row-group
    * (mint/maxt) pruning on the chunks file, frame-header skip
    * inside each blob ([[functions.ChunkDecode]]) — and the answer
    * must equal the same select on the raw table (the oracle).
    */
  private def tsChunkSelect(s: SparkSession, dir: String): DataFrame = {
    chunkBlockFixture(s, dir)
    ChunkStore.select(s, chunkBlockPath(dir),
        "2024-01-05", "2024-01-20",
        Seq(Matcher.Eq("event_type", "view")),
        Seq("event_type", "user_id"), "ts", "value")
      .withColumn("ts_us", unix_micros(col("ts"))).drop("ts")
      .orderBy("ts_us", "user_id", "value")
  }

  /** Reference physical-layout interop
    * ([[tsdb.shard.ParquetShardStore]]): events written into
    * parquet-common's EXACT wide shard schema — dual row-aligned
    * labels/chunks files, `l_*` label columns, `s_col_indexes`,
    * `s_series_hash`, per-8h `s_data_<i>` XOR chunk frames, footer
    * minT/maxT/duration metadata (schema/schema_builder.go:41-171,
    * storage/parquet_shard.go) — then matcher+range selected back
    * out. The hash match pins the whole byte path: per-window chunk
    * re-encode, frame decode, row-index broadcast join, at the
    * reference's native ms grain.
    */
  private def tsShardInterop(s: SparkSession, dir: String): DataFrame = {
    shardInteropFixture(s, dir)
    graft.tsdb.shard.ParquetShardStore.select(s, shardInteropPath(dir),
        java.time.Instant.parse("2024-01-05T00:00:00Z").toEpochMilli,
        java.time.Instant.parse("2024-01-20T00:00:00Z").toEpochMilli,
        Seq(Matcher.Eq("event_type", "view")))
      .withColumn("ts_ms", unix_millis(col("ts"))).drop("ts")
      .orderBy("ts_ms", "user_id", "value")
  }

  /** [[tsShardInterop]] for the NATIVE-HISTOGRAM family: the same
    * reference-layout shard carrying EncHistogram (enc=2) frames
    * whose BODIES are real Prometheus chunkenc histogram chunks
    * ([[tsdb.ChunkencHistCodec]] — the bytes the reference's
    * `chunkenc.FromData` decodes) — the synthesized per-day histogram
    * counters of ts_hist_chunk_select written through
    * [[tsdb.shard.ParquetShardStore.writeHist]] and matcher+range
    * selected back; the hash match pins the chunkenc byte path
    * through the reference's physical schema at ms grain.
    * Zero-count buckets (structural AND the union-layout zeros
    * chunkenc's recode inserts when bucket 5 appears mid-chunk at
    * day 19740) drop on both sides — the sparse nonzero content is
    * the semantic payload, the ts_tsdb_block_nh_roundtrip
    * convention.
    */
  private def tsShardHistInterop(s: SparkSession, dir: String): DataFrame = {
    shardHistFixture(s, dir)
    graft.tsdb.shard.ParquetShardStore.selectHist(s, shardHistPath(dir),
        java.time.Instant.parse("2024-01-05T00:00:00Z").toEpochMilli,
        java.time.Instant.parse("2024-01-20T00:00:00Z").toEpochMilli,
        Seq(Matcher.Eq("event_type", "view")))
      .select(col("event_type"), col("user_id"),
        unix_millis(col("ts")).as("ts_ms"), col("zero_count"),
        col("hist_sum").as("hsum"),
        explode(zip_with(col("pos_idx"), col("pos_counts"),
          (i, c) => struct(i.as("i"), c.as("c")))).as("b"))
      .select(col("event_type"), col("user_id"), col("ts_ms"),
        col("zero_count"), col("hsum"),
        col("b.i").as("idx"), col("b.c").as("cnt"))
      .filter(col("cnt") =!= 0)
      .orderBy("event_type", "user_id", "ts_ms", "idx")
  }

  /** PromQL over the reference-layout shard — the capstone the block
    * and chunked layouts already have, closing the symmetry: shard
    * bytes ([[tsdb.shard.ParquetShardStore]]) → matcher select →
    * string-compiled PromQL in ONE plan. sum_over_time is
    * order-independent and ignores sub-range timestamps, so the
    * shard's ms grain is invisible to it and the oracle computes
    * straight from raw events.
    */
  private def tsPromqlShard(s: SparkSession, dir: String): DataFrame = {
    shardInteropFixture(s, dir)
    val st = graft.tsdb.shard.ParquetShardStore
    val m = st.meta(s, shardInteropPath(dir))
    val events = st.select(s, shardInteropPath(dir), m.mintMs, m.maxtMs + 1)
    val ctx = graft.tsdb.promql.PromQLContext(
      metrics = Map("events" -> events),
      labelCols = Seq("event_type", "user_id"),
      evalMs = 1706745600000L, // 2024-02-01T00:00:00Z
      lookbackMs = 86400000L)
    graft.tsdb.promql.PromQL.compile(
        """sum by (user_id) (sum_over_time(events{event_type="click"}[31d]))
          | / on(user_id)
          |sum by (user_id) (sum_over_time(events{event_type="view"}[31d]))"""
          .stripMargin, ctx)
      .select(col("user_id"), col("value").as("ratio"))
      .orderBy("user_id")
  }

  /** [[tsPromqlShard]] for the NATIVE-HISTOGRAM family: the
    * reference-layout shard's EncHistogram cells → [[tsdb.shard
    * .ParquetShardStore.selectHist]] → a string-compiled
    * `histogram_quantile(0.9, sum by (event_type) (nh))` — the
    * ts_promql_nh_chunked pipeline with the chunked layout swapped
    * for the physical shard format (the fixture's per-day samples
    * are second-aligned, so the shard's ms grain is exact).
    */
  private def tsPromqlShardNh(s: SparkSession, dir: String): DataFrame = {
    shardHistFixture(s, dir)
    val m = graft.tsdb.shard.ParquetShardStore.meta(s, shardHistPath(dir))
    val nhShard = graft.tsdb.shard.ParquetShardStore.selectHist(
      s, shardHistPath(dir), m.mintMs, m.maxtMs + 1)
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

  /** NHCB (custom-bucket, schema -53) through the reference-layout
    * shard: the quarter-step-bound fixture written via
    * [[tsdb.shard.ParquetShardStore.writeHist]] with `customValues`
    * — the bound list rides INSIDE each chunkenc frame body, where
    * the reference's `chunkenc.FromData` finds it — then
    * matcher+range selected back with every bucket's inclusive upper
    * bound re-resolved from the DECODED custom_values, so the hash
    * pins schema, bounds and counts through the shard byte path
    * (the custom-bucket mirror of ts_shard_hist_interop; mid-chunk
    * appearance of index 5 exercises the union-layout fill, dropped
    * on both sides).
    */
  private def tsShardNhcbInterop(s: SparkSession, dir: String): DataFrame = {
    shardNhcbFixture(s, dir)
    graft.tsdb.shard.ParquetShardStore.selectHist(s, shardNhcbPath(dir),
        java.time.Instant.parse("2024-01-05T00:00:00Z").toEpochMilli,
        java.time.Instant.parse("2024-01-20T00:00:00Z").toEpochMilli,
        Seq(Matcher.Eq("event_type", "view")))
      .select(col("event_type"), col("user_id"),
        unix_millis(col("ts")).as("ts_ms"),
        col("schema").as("hschema"), col("hist_sum").as("hsum"),
        explode(zip_with(col("pos_idx"), col("pos_counts"),
          (i, c) => struct(i.as("i"), c.as("c")))).as("b"),
        col("custom_values"))
      .select(col("event_type"), col("user_id"), col("ts_ms"),
        col("hschema"), col("hsum"), col("b.i").as("idx"),
        col("b.c").as("cnt"),
        element_at(col("custom_values"), col("b.i") + 1).as("bound"))
      .filter(col("cnt") =!= 0)
      .orderBy("event_type", "user_id", "ts_ms", "idx")
  }

  /** SIGNED (negative-bucket) native histograms through the
    * reference-layout shard: the signed counter fixture of
    * ts_tsdb_block_neg_roundtrip written via [[tsdb.shard
    * .ParquetShardStore.writeHist]] with `negIdxCol`/`negCountsCol`
    * — both bucket sides travel the chunkenc frame bodies the
    * reference's `chunkenc.FromData` decodes (negative spans/delta
    * streams interleaved per chunks.md) — then matcher+range
    * selected back with both sides exploded under a side marker;
    * union-fill zeros drop on both sides (bucket 3 appears on the
    * NEGATIVE layout mid-chunk at day 19735).
    */
  private def tsShardNegInterop(s: SparkSession, dir: String): DataFrame = {
    shardNegFixture(s, dir)
    graft.tsdb.shard.ParquetShardStore.selectHist(s, shardNegPath(dir),
        java.time.Instant.parse("2024-01-05T00:00:00Z").toEpochMilli,
        java.time.Instant.parse("2024-01-20T00:00:00Z").toEpochMilli,
        Seq(Matcher.Eq("event_type", "view")))
      .select(col("event_type"), col("user_id"),
        unix_millis(col("ts")).as("ts_ms"), col("zero_count"),
        col("hist_sum").as("hsum"),
        explode(concat(
          zip_with(col("pos_idx"), col("pos_counts"),
            (i, c) => struct(lit("p").as("side"), i.as("i"), c.as("c"))),
          zip_with(col("neg_idx"), col("neg_counts"),
            (i, c) => struct(lit("n").as("side"), i.as("i"), c.as("c")))))
          .as("b"))
      .select(col("event_type"), col("user_id"), col("ts_ms"),
        col("zero_count"), col("hsum"), col("b.side").as("side"),
        col("b.i").as("idx"), col("b.c").as("cnt"))
      .filter(col("cnt") =!= 0)
      .orderBy("event_type", "user_id", "ts_ms", "side", "idx")
  }

  /** The reference's skipChunks select over the shard layout
    * ([[tsdb.shard.ParquetShardStore.series]] —
    * queryable/parquet_queryable.go:414 `Query` with
    * `skipChunks=true`, the Prometheus `series()` API): matcher-
    * filtered label sets straight from the labels file; the chunks
    * file never enters the plan (PlanAudit forbids it), so the query
    * is metadata-sized regardless of sample volume.
    */
  private def tsShardSeries(s: SparkSession, dir: String): DataFrame = {
    shardInteropFixture(s, dir)
    graft.tsdb.shard.ParquetShardStore.series(s, shardInteropPath(dir),
        Seq(Matcher.Re("event_type", "v.*|c.*"),
          Matcher.Neq("user_id", "7")))
      .orderBy("event_type", "user_id")
  }

  /** Chunked-block compaction ([[tsdb.ChunkStore.mergeBlocks]]):
    * two overlapping CHUNKED blocks (B is the newer revision —
    * values × 1.5 on [Jan 10, ∞)) decode → k-way LWW merge →
    * re-encode into one chunked block, read back in full. Same
    * split and the same arg_max oracle as ts_merge_blocks, but the
    * samples cross the XOR codec twice more (encode at write,
    * decode at readback), so the hash match pins compaction over
    * encoded chunks, not rows.
    */
  private def tsChunkMerge(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val tag = dir.replaceAll("[^0-9a-zA-Z]", "_")
    val dirA = s"/tmp/graft_chunkblk_a_$tag"
    val dirB = s"/tmp/graft_chunkblk_b_$tag"
    val out = s"/tmp/graft_chunkblk_merged_$tag"
    val series = Seq("event_type", "user_id")
    fixtureOnce(s"chunk_merge_inputs:$dir") {
      ChunkStore.write(
        ev.filter(col("ts") < lit("2024-01-20").cast("timestamp")),
        dirA, series, "ts", "value")
      ChunkStore.write(
        ev.filter(col("ts") >= lit("2024-01-10").cast("timestamp"))
          .withColumn("value", col("value") * 1.5),
        dirB, series, "ts", "value")
    }
    ChunkStore.mergeBlocks(s, Seq(dirA, dirB), out, series, "ts", "value")
    ChunkStore.select(s, out, "2024-01-01", "2024-02-01", Nil,
        series, "ts", "value")
      .select(col("event_type"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .orderBy("event_type", "user_id", "ts_us", "value")
  }

  /** Deterministic stratified sampling for training-mix
    * construction ([[operators.Pipeline.sampleMix]]): language-ID
    * the corpus, then keep per-language fractions decided by
    * `substr(sha256(doc_id:salt),1,8) < threshold(lang)` — no RNG,
    * partition-count-independent, and the oracle replays the exact
    * hash selection (thresholds come from the same shared helper).
    */
  private def pipeSampleMix(s: SparkSession, dir: String): DataFrame =
    operators.Pipeline.sampleMix(
        t(s, dir, "documents").select(col("doc_id"),
          TextFunctions.langId(col("text")).as("lang")),
        "doc_id", "lang", sampleMixRates, defaultRate = 0.0, salt = "mix")
      .orderBy("doc_id")

  private val sampleMixRates: Map[String, Double] =
    Map("en" -> 0.5, "de" -> 1.0, "fr" -> 0.25, "es" -> 0.1)

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

  /** Deterministic COUNTER native-histogram fixture for the rate
    * path: cumulative bucket counts `d² · k_bucket` — strictly
    * monotone per bucket, exact integers — with bucket index 5
    * APPEARING only from day 19740 (so the first/last snapshots can
    * have different bucket sets and the missing-first-index → 0 path
    * is exercised on the gate, not just in specs).
    */
  private def nativeHistCounterTable(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"), col("user_id"),
        floor(unix_timestamp(col("ts")) / 86400).cast("long").as("d"))
      .distinct()
      .withColumn("sseed", col("user_id") * 31 + length(col("event_type")))
      .withColumn("t_sec", col("d") * 86400)
      .withColumn("zero_count", col("d") * col("d") * (col("sseed") % 3))
      .withColumn("pos_idx",
        sequence(lit(-2), when(col("d") >= 19740, lit(5)).otherwise(lit(4))))
      .withColumn("pos_counts",
        transform(col("pos_idx"),
          i => col("d") * col("d") * ((col("sseed") + i + 3) % 5)))

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

  private def tsNhResetIncrease(s: SparkSession, dir: String): DataFrame =
    explodeNhIncrease(graft.tsdb.NativeHistogram.increaseBySignedResets(
      nativeHistResetTable(s, dir), Seq("event_type", "user_id"),
      "t_sec", "zero_count", "pos_idx", "pos_counts",
      "neg_idx", "neg_counts"))

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
    val path = "/tmp/graft_nh_rollup_" + dir.replaceAll("[^0-9a-zA-Z]", "_")
    fixtureOnce(s"nh_rollup:$dir") {
      graft.tsdb.HistRollupStore.write(nativeHistResetTable(s, dir), path,
        Seq("event_type", "user_id"), "t_sec", "zero_count",
        "pos_idx", "pos_counts", "neg_idx", "neg_counts",
        resolutionSec = 7L * 86400)
    }
    explodeNhIncrease(graft.tsdb.HistRollupStore.stitchedIncrease(
      s, path, Seq("event_type", "user_id"),
      mintSec = 19600L * 86400, maxtSec = 19800L * 86400))
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
    val path = "/tmp/graft_nh_rollup_" + dir.replaceAll("[^0-9a-zA-Z]", "_")
    fixtureOnce(s"nh_rollup:$dir") {
      graft.tsdb.HistRollupStore.write(nativeHistResetTable(s, dir), path,
        Seq("event_type", "user_id"), "t_sec", "zero_count",
        "pos_idx", "pos_counts", "neg_idx", "neg_counts",
        resolutionSec = 7L * 86400)
    }
    val casc = path + "_14d"
    fixtureOnce(s"nh_rollup_cascade:$dir") {
      graft.tsdb.HistRollupStore.writeFrom(s, path, casc,
        Seq("event_type", "user_id"),
        fineResolutionSec = 7L * 86400, resolutionSec = 14L * 86400)
    }
    explodeNhIncrease(graft.tsdb.HistRollupStore.stitchedIncrease(
      s, casc, Seq("event_type", "user_id"),
      mintSec = 19600L * 86400, maxtSec = 19796L * 86400))
  }

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

  /** The same NH counter rate served FROM A 7-DAY ROLLUP LAYER
    * through the string front-end ([[tsdb.HistRollupStore]] routing
    * via `HistTable.rollups`): the 35d range/eval align to the 7d
    * windows, so the stitched fold replaces the sample walk — and
    * the oracle is the SAME closed form as the raw-walk gate, so
    * the hash match proves routing is invisible in the values.
    */
  private def tsPromqlNhRollupRate(s: SparkSession, dir: String): DataFrame = {
    val path = "/tmp/graft_nh_rollup_" + dir.replaceAll("[^0-9a-zA-Z]", "_")
    fixtureOnce(s"nh_rollup:$dir") {
      graft.tsdb.HistRollupStore.write(nativeHistResetTable(s, dir), path,
        Seq("event_type", "user_id"), "t_sec", "zero_count",
        "pos_idx", "pos_counts", "neg_idx", "neg_counts",
        resolutionSec = 7L * 86400)
    }
    val nh = nativeHistResetTable(s, dir)
      .withColumn("ts", timestamp_seconds(col("t_sec")))
    val ctx = graft.tsdb.promql.PromQLContext(
      metrics = Map.empty,
      labelCols = Seq("event_type", "user_id"),
      evalMs = 1706745600000L, // 2024-02-01T00:00Z — a 7d multiple
      lookbackMs = 40L * 86400000L,
      histMetrics = Map("nh_reset" -> graft.tsdb.promql.HistTable(nh,
        negIdxCol = Some("neg_idx"), negCountsCol = Some("neg_counts"),
        rollups = Seq(graft.tsdb.RollupStore.RollupLayer(
          path, 7L * 86400000L)))))
    graft.tsdb.promql.PromQL.compile(
        "histogram_count(rate(nh_reset[35d]))", ctx)
      .select(col("event_type"),
        col("user_id").cast("string").as("user_id"),
        col("value").as("crate"))
      .orderBy("event_type", "user_id")
  }

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
    val path = "/tmp/graft_nh_rollup_" + dir.replaceAll("[^0-9a-zA-Z]", "_")
    fixtureOnce(s"nh_rollup:$dir") {
      graft.tsdb.HistRollupStore.write(nativeHistResetTable(s, dir), path,
        Seq("event_type", "user_id"), "t_sec", "zero_count",
        "pos_idx", "pos_counts", "neg_idx", "neg_counts",
        resolutionSec = 7L * 86400)
    }
    val nh = nativeHistResetTable(s, dir)
      .withColumn("ts", timestamp_seconds(col("t_sec")))
    val ctx = graft.tsdb.promql.PromQLContext(
      metrics = Map.empty,
      labelCols = Seq("event_type", "user_id"),
      evalMs = 1706745600000L, // 2024-02-01T00:00Z — a 7d multiple
      lookbackMs = 40L * 86400000L,
      histMetrics = Map("nh_reset" -> graft.tsdb.promql.HistTable(nh,
        negIdxCol = Some("neg_idx"), negCountsCol = Some("neg_counts"),
        rollups = Seq(graft.tsdb.RollupStore.RollupLayer(
          path, 7L * 86400000L)))))
    graft.tsdb.promql.PromQL.compile(
        "histogram_count(delta(nh_reset[35d]))", ctx)
      .select(col("event_type"),
        col("user_id").cast("string").as("user_id"),
        col("value").as("cdelta"))
      .orderBy("event_type", "user_id")
  }

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
    val path = "/tmp/graft_nh_rollup_" + dir.replaceAll("[^0-9a-zA-Z]", "_")
    fixtureOnce(s"nh_rollup:$dir") {
      graft.tsdb.HistRollupStore.write(nativeHistResetTable(s, dir), path,
        Seq("event_type", "user_id"), "t_sec", "zero_count",
        "pos_idx", "pos_counts", "neg_idx", "neg_counts",
        resolutionSec = 7L * 86400)
    }
    val nh = nativeHistResetTable(s, dir)
      .withColumn("ts", timestamp_seconds(col("t_sec")))
    val ctx = graft.tsdb.promql.PromQLContext(
      metrics = Map.empty,
      labelCols = Seq("event_type", "user_id"),
      evalMs = 1706745600000L, // 2024-02-01T00:00Z — a 7d multiple
      lookbackMs = 40L * 86400000L,
      histMetrics = Map("nh_reset" -> graft.tsdb.promql.HistTable(nh,
        negIdxCol = Some("neg_idx"), negCountsCol = Some("neg_counts"),
        rollups = Seq(graft.tsdb.RollupStore.RollupLayer(
          path, 7L * 86400000L)))))
    def q(qv: String, as: String): DataFrame =
      graft.tsdb.promql.PromQL.compile(
          s"histogram_quantile($qv, rate(nh_reset[35d]))", ctx)
        .select(col("event_type"),
          col("user_id").cast("string").as("user_id"),
          col("value").as(as))
    q("0.9", "phi90").join(q("0.1", "phi10"), Seq("event_type", "user_id"))
      .orderBy("event_type", "user_id")
  }

  private def resetBlockPath(dir: String): String =
    "/tmp/graft_resetblock_" + dir.replaceAll("[^0-9a-zA-Z]", "_")

  private def resetBlockFixture(s: SparkSession, dir: String): Unit =
    fixtureOnce(s"resetblock:$dir") {
      val root = new java.io.File(resetBlockPath(dir))
      if (root.exists()) rmRec(root)
      graft.tsdb.block.TsdbBlockStore.writeHist(
        nativeHistResetTable(s, dir)
          .withColumn("ts_ms", col("d") * 86400000L)
          .withColumn("hsum",
            (col("dd") * ((col("sseed") % 7) + 1)).cast("double") * 0.25),
        resetBlockPath(dir), Seq("event_type", "user_id"), "ts_ms",
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
    resetBlockFixture(s, dir)
    graft.tsdb.block.TsdbBlockStore
      .histChunkHeaders(s, resetBlockPath(dir), Seq("event_type", "user_id"))
      .select(col("event_type"), col("user_id"), col("chunk_mint"),
        col("chunk_maxt"), col("n_samples"), col("reset_hint"))
      .orderBy("event_type", "user_id", "chunk_mint")
  }

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
    resetBlockFixture(s, dir)
    val nh = graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, resetBlockPath(dir), Seq("event_type", "user_id"),
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

  // ===================== PromQL front-end =====================
  //
  // The reference's Queryable exists to serve Prometheus's PromQL
  // engine (queryable/parquet_queryable.go:153 implements
  // storage.Queryable for exactly that caller); graft.tsdb.promql
  // closes the loop Spark-side: the SAME query STRING a Prometheus
  // user runs compiles onto the PromOps operators. These gates prove
  // the parse→compile→execute path end-to-end against oracles that
  // replay the PromQL semantics in SQL.

  /** Shared evaluation context: events as the metric, instant T =
    * 2024-02-01T00:00Z (just past the fixture's last sample).
    */
  private def promCtx(s: SparkSession, dir: String): graft.tsdb.promql.PromQLContext =
    graft.tsdb.promql.PromQLContext(
      metrics = Map("events" -> t(s, dir, "events")),
      labelCols = Seq("event_type", "user_id"),
      evalMs = 1706745600000L, // 2024-02-01T00:00:00Z
      lookbackMs = 86400000L,
      tieBreak = Seq("event_id"))

  /** `sum by (event_type) (rate(events[31d]))` — the canonical
    * PromQL shape (aggregated counter rate), parsed from the string.
    * `rate` lowers to [[PromOps.extrapolatedRate]] (production
    * extrapolation semantics, same ladder as `ts_rate_extrapolated`);
    * the `sum by` accumulates the per-series rates in exact decimal.
    */
  private def tsPromqlRateSum(s: SparkSession, dir: String): DataFrame =
    // round(., 1e-8) before the sum: see tsPromqlRangeRate — exact
    // half-boundary rates round differently at the decimal cast in
    // Spark vs DuckDB; the PromQL round() resolves them identically
    graft.tsdb.promql.PromQL.compile(
        "sum by (event_type) (round(rate(events[31d]), 0.00000001))", promCtx(s, dir))
      .select(col("event_type"), col("value").as("rate_sum"))
      .orderBy("event_type")

  /** `A / on(user_id) B` — one-to-one vector matching parsed from
    * the string, with the distributed uniqueness guard on both sides.
    */
  private def tsPromqlRatio(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile(
        """sum by (user_id) (sum_over_time(events{event_type="click"}[31d]))
          | / on(user_id)
          |sum by (user_id) (sum_over_time(events{event_type="view"}[31d]))"""
          .stripMargin, promCtx(s, dir))
      .select(col("user_id"), col("value").as("ratio"))
      .orderBy("user_id")

  /** The full user story in one plan: a PromQL STRING evaluated
    * directly against a Prometheus DATA DIRECTORY — block bytes →
    * [[tsdb.block.TsdbBlockStore.readLabels]] → PromQL front-end
    * (sum_over_time ratio with on() matching, an order-insensitive
    * query: block bytes do not preserve intra-timestamp sample
    * order). What a migrating user runs on day one, hash-pinned.
    */
  private def tsPromqlTsdbBlocks(s: SparkSession, dir: String): DataFrame = {
    tsdbBlockFixture(s, dir)
    val events = graft.tsdb.block.TsdbBlockStore
      .readLabels(s, tsdbBlockPath(dir), Seq("event_type", "user_id"))
      .withColumn("ts", timestamp_millis(col("ts")))
    val ctx = graft.tsdb.promql.PromQLContext(
      metrics = Map("events" -> events),
      labelCols = Seq("event_type", "user_id"),
      evalMs = 1706745600000L, // 2024-02-01T00:00:00Z
      lookbackMs = 86400000L)
    graft.tsdb.promql.PromQL.compile(
        """sum by (user_id) (sum_over_time(events{event_type="click"}[31d]))
          | / on(user_id)
          |sum by (user_id) (sum_over_time(events{event_type="view"}[31d]))"""
          .stripMargin, ctx)
      .select(col("user_id"), col("value").as("ratio"))
      .orderBy("user_id")
  }

  /** The full production serving pipeline in ONE plan: a Prometheus
    * DATA DIRECTORY (byte-level blocks) → `readLabels` → an EXACT
    * 1-day rollup layer ([[tsdb.RollupStore.write]], the compact
    * maintenance step) → a day-aligned `query_range` routed ENTIRELY
    * to that layer by the string front-end. The oracle computes
    * straight from the raw events table — so the hash match pins the
    * byte decode, the layer build and the routed reconstruction
    * together. avg_over_time's (Σvsum, Σn) pair is order-independent
    * and ms-exact, so the block layout's ms timestamp grain is
    * invisible to it.
    */
  private def tsPromqlTsdbRollup(s: SparkSession, dir: String): DataFrame = {
    tsdbBlockFixture(s, dir)
    val events = graft.tsdb.block.TsdbBlockStore
      .readLabels(s, tsdbBlockPath(dir), Seq("event_type", "user_id"))
      .withColumn("ts", timestamp_millis(col("ts")))
    val p = "/tmp/graft_rollup_blocks_" + dir.replaceAll("[^0-9a-zA-Z]", "_")
    fixtureOnce(s"rollup_blocks:$dir") {
      RollupStore.write(events, p, Seq("event_type", "user_id"),
        "ts", "value", 86400000L)
    }
    val ctx = graft.tsdb.promql.PromQLContext(
      metrics = Map("events" -> events),
      labelCols = Seq("event_type", "user_id"),
      evalMs = 1706745600000L, // 2024-02-01T00:00:00Z
      lookbackMs = 86400000L,
      rollups = Map("events" -> Seq(
        RollupStore.RollupLayer(p, 86400000L))))
    graft.tsdb.promql.PromQL.compileRange(
        "sum by (event_type) (avg_over_time(events[5d]))", ctx,
        startMs = 1704844800000L, // 2024-01-10T00:00Z
        endMs = 1706572800000L,   // 2024-01-30T00:00Z
        stepMs = 432000000L)      // 5d
      .select(col("event_type"), col("step_ms"), col("value").as("avg_sum"))
      .orderBy("event_type", "step_ms")
  }

  /** The experimental `info()` function parsed from the string: a
    * derived `target_info` metric (one series per user with a
    * deterministic `tier` data label) enriches an aggregated vector
    * on the identifying label, through the `{tier=~".+"}` data-label
    * selector. The info side aggregates + broadcasts; the vector
    * side never shuffles for the join.
    */
  private def tsPromqlInfo(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val evL = ev.withColumn("tier", lit(null).cast("string"))
    val tinfo = ev.select(col("user_id")).distinct()
      .withColumn("event_type", lit(null).cast("string"))
      .withColumn("tier",
        concat(lit("t"), (col("user_id") % 3).cast("string")))
      .withColumn("ts", lit("2024-01-31 23:00:00").cast("timestamp"))
      .withColumn("value", lit(1.0))
    val ctx = graft.tsdb.promql.PromQLContext(
      metrics = Map("events" -> evL, "target_info" -> tinfo),
      labelCols = Seq("event_type", "user_id", "tier"),
      evalMs = 1706745600000L, // 2024-02-01T00:00:00Z
      lookbackMs = 86400000L,
      infoIdentifying = Seq("user_id"))
    graft.tsdb.promql.PromQL.compile(
        """info(sum by (event_type, user_id) (sum_over_time(events[31d])),
          |     {tier=~".+"})""".stripMargin, ctx)
      .select(col("event_type"), col("user_id"), col("tier"),
        col("value").as("sum_value"))
      .orderBy("event_type", "user_id")
  }

  /** `topk(5, ...)` over an `offset` range — selector offset
    * arithmetic plus the full-label topk with the documented
    * label-order tiebreak.
    */
  private def tsPromqlTopkOffset(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile(
        "topk(5, sum by (event_type, user_id) (sum_over_time(events[24d] offset 7d)))",
        promCtx(s, dir))
      .select(col("event_type"), col("user_id"), col("value").as("total"))
      .orderBy("event_type", "user_id")

  /** Comparison filters on both vectors + `and on(user_id)` set
    * matching: the alerting idiom ("users with >650 of clicks that
    * also spent >650 on purchases"), parsed from the string.
    */
  private def tsPromqlFilterAnd(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile(
        """(sum by (user_id) (sum_over_time(events{event_type="click"}[31d])) > 650)
          | and on(user_id)
          |(sum by (user_id) (sum_over_time(events{event_type="purchase"}[31d])) > 650)"""
          .stripMargin, promCtx(s, dir))
      .select(col("user_id"), col("value").as("click_total"))
      .orderBy("user_id")

  /** `query_range` over an aggregated window sum — the dashboard
    * workhorse shape. Steps 2024-01-08..2024-01-30 every 2d, window
    * 3d (overlapping: each sample serves up to 2 steps via the
    * bounded explode). ONE scan of events for the whole grid.
    */
  private def tsPromqlRangeSum(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compileRange(
        "sum by (event_type) (sum_over_time(events[3d]))", promCtx(s, dir),
        startMs = 1704672000000L, // 2024-01-08T00:00Z
        endMs = 1706572800000L,   // 2024-01-30T00:00Z
        stepMs = 172800000L)      // 2d
      .select(col("event_type"), col("step_ms"), col("value").as("total"))
      .orderBy("event_type", "step_ms")

  /** `query_range` of the canonical alert expression — per-step
    * production `rate()` with the full extrapolation ladder, each
    * step's window bounds its own (PromOps.extrapolatedRateAt).
    */
  private def tsPromqlRangeRate(s: SparkSession, dir: String): DataFrame =
    // round(. , 1e-8): per-series rates can land ALGEBRAICALLY on
    // exact x.xxxxxxxx5 boundaries (2-decimal inputs, even ms spans),
    // where Spark's BigDecimal(shortest-string) HALF_UP and DuckDB's
    // binary-value rounding disagree at the decimal(30,8) sum cast.
    // PromQL round() is floor(v/to + 0.5)·to — identical IEEE ops in
    // both engines — so the boundary is resolved identically BEFORE
    // the exact-decimal accumulation (the ts_rate_extrapolated fix,
    // expressed in the query language itself).
    graft.tsdb.promql.PromQL.compileRange(
        "sum by (event_type) (round(rate(events[4d]), 0.00000001))", promCtx(s, dir),
        startMs = 1704844800000L, // 2024-01-10T00:00Z
        endMs = 1706572800000L,   // 2024-01-30T00:00Z
        stepMs = 432000000L)      // 5d
      .select(col("event_type"), col("step_ms"), col("value").as("rate_sum"))
      .orderBy("event_type", "step_ms")

  /** `query_range` of a raw selector: per-step latest sample within
    * the lookback — the "graph this metric" query every dashboard
    * panel issues.
    */
  private def tsPromqlRangeInstant(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compileRange(
        """events{event_type="click"}""", promCtx(s, dir),
        startMs = 1704412800000L, // 2024-01-05T00:00Z
        endMs = 1704758400000L,   // 2024-01-09T00:00Z
        stepMs = 86400000L)       // 1d
      .select(col("event_type"), col("user_id"), col("step_ms"), col("value"))
      .orderBy("user_id", "step_ms")

  /** Subquery: `max_over_time(<daily sum>[7d:1d])` — the peak daily
    * total over the trailing week, one plan: inner grid (7 aligned
    * day steps) feeds the outer max as synthetic samples.
    */
  private def tsPromqlSubquery(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile(
        "max_over_time(sum by (event_type) (sum_over_time(events[1d]))[7d:1d])",
        promCtx(s, dir))
      .select(col("event_type"), col("value").as("max_daily"))
      .orderBy("event_type")

  /** `@` modifier: this week's totals against a PINNED baseline week
    * (`sum_over_time(v[7d] @ 1704672000)` = the week ending
    * 2024-01-08) — the "compare now to a fixed point" idiom.
    */
  private def tsPromqlAtPinned(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile(
        """sum by (event_type) (sum_over_time(events[7d]))
          | / on(event_type)
          |sum by (event_type) (sum_over_time(events[7d] @ 1704672000))"""
          .stripMargin, promCtx(s, dir))
      .select(col("event_type"), col("value").as("wow_ratio"))
      .orderBy("event_type")

  /** Time-gated range query — `and on() (day_of_week() != 0)` drops
    * the Sunday steps: `day_of_week()` is a per-step column
    * expression (one codegen'd projection over the step grid), and
    * the gate semi-joins on the hidden step key.
    */
  private def tsPromqlBusinessDays(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compileRange(
        """sum by (event_type) (sum_over_time(events[1d])) and on() (day_of_week() != 0)""",
        promCtx(s, dir),
        startMs = 1704672000000L, // 2024-01-08T00:00Z (Monday)
        endMs = 1705795200000L,   // 2024-01-21T00:00Z (Sunday)
        stepMs = 86400000L)
      .select(col("event_type"), col("step_ms"), col("value").as("total"))
      .orderBy("event_type", "step_ms")

  /** `absent_over_time` over a step grid: 1.0 at exactly the steps
    * whose trailing window holds no matching sample — the alert-on-
    * missing-data primitive, per-step via one grid anti-join.
    */
  private def tsPromqlAbsentRange(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compileRange(
        """absent_over_time(events{event_type="click", user_id="7"}[6h])""",
        promCtx(s, dir),
        startMs = 1704844800000L, // 2024-01-10T00:00Z
        endMs = 1705017600000L,   // 2024-01-12T00:00Z
        stepMs = 21600000L)       // 6h
      .select(col("step_ms"), col("value").as("absent"))
      .orderBy("step_ms")

  /** `X / scalar(sum(X))` — share-of-total, the classic scalar()
    * idiom. The scalar compiles to a one-row aggregate broadcast
    * back onto the vector (Sc carrier): fully distributed, no
    * driver-side demotion; the oracle replays the exact decimal
    * sums and the one double division.
    */
  private def tsPromqlScalar(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile(
        """sum by (event_type) (sum_over_time(events[31d]))
          | / scalar(sum(sum_over_time(events[31d])))""".stripMargin,
        promCtx(s, dir))
      .select(col("event_type"), col("value").as("share"))
      .orderBy("event_type")

  /** `limitk(3, ...) by (event_type)` — the experimental limitk
    * aggregator with graft's documented deterministic pick (first k
    * in label order), full labels kept, WindowGroupLimit shape.
    */
  private def tsPromqlLimitk(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile(
        "limitk(3, sum by (event_type, user_id) (sum_over_time(events[31d]))) by (event_type)",
        promCtx(s, dir))
      .select(col("event_type"), col("user_id"), col("value").as("total"))
      .orderBy("event_type", "user_id")

  /** `limit_ratio(0.25, ...)` — deterministic label-hash sampling of
    * a vector (the experimental limit_ratio aggregator), decided by
    * the same sha256-threshold selection as pipe_sample_mix so the
    * oracle replays the identical keep set. Pure narrow filter.
    */
  private def tsPromqlLimitRatio(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile(
        "limit_ratio(0.25, sum by (event_type, user_id) (sum_over_time(events[31d])))",
        promCtx(s, dir))
      .select(col("event_type"), col("user_id"), col("value").as("total"))
      .orderBy("event_type", "user_id")

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

  private def histChunkBlockPath(dir: String): String =
    "/tmp/graft_histchunk_" + dir.replaceAll("[^0-9a-zA-Z]", "_")

  private def histChunkFixture(s: SparkSession, dir: String): Unit =
    fixtureOnce(s"histchunk:$dir") {
      HistChunkStore.write(
        nativeHistCounterTable(s, dir)
          .withColumn("hsum",
            (col("d") * ((col("sseed") % 7) + 1)).cast("double") * 0.25)
          .withColumn("ts", timestamp_seconds(col("d") * 86400)),
        histChunkBlockPath(dir), Seq("event_type", "user_id"), "ts",
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
    histChunkFixture(s, dir)
    HistChunkStore.select(s, histChunkBlockPath(dir),
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

  private def floatHistChunkBlockPath(dir: String): String =
    "/tmp/graft_fhistchunk_" + dir.replaceAll("[^0-9a-zA-Z]", "_")

  private def floatHistChunkFixture(s: SparkSession, dir: String): Unit =
    fixtureOnce(s"fhistchunk:$dir") {
      HistChunkStore.writeFloat(
        nativeHistCounterTable(s, dir)
          .withColumn("zero_f",
            (col("d") * (col("sseed") % 3)).cast("double") * 0.5)
          .withColumn("cnt_f",
            transform(col("pos_counts"), c => c.cast("double") * 0.25))
          .withColumn("hsum",
            (col("d") * ((col("sseed") % 7) + 1)).cast("double") * 0.25)
          .withColumn("ts", timestamp_seconds(col("d") * 86400)),
        floatHistChunkBlockPath(dir), Seq("event_type", "user_id"), "ts",
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
    floatHistChunkFixture(s, dir)
    HistChunkStore.selectFloat(s, floatHistChunkBlockPath(dir),
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
    histChunkFixture(s, dir)
    val nh = HistChunkStore.select(s, histChunkBlockPath(dir),
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

  /** `mad_over_time(events{event_type="click"}[31d])` — the
    * experimental median-absolute-deviation range function: window
    * median per series, then the median of absolute deviations —
    * two hash aggregations + one join all on the SAME element key
    * (co-partitioned after the first shuffle), exact interpolated
    * quantiles on both engines (Spark `percentile` ≡ DuckDB
    * `quantile_cont`, the ts_quantile precedent).
    */
  private def tsPromqlMad(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile(
        """mad_over_time(events{event_type="click"}[31d])""", promCtx(s, dir))
      .select(col("event_type"), col("user_id"), col("value").as("mad"))
      .orderBy("event_type", "user_id")

  /** The experimental `ts_of_min/max/last_over_time` family
    * (Prometheus 3.x): WHEN each series hit its window extreme /
    * last sample, in epoch seconds. Ties on the extreme resolve to
    * the LATEST sample (upstream's non-strict <=/>= walk keeps the
    * last occurrence), made partitioning-independent by the struct
    * aggregates — the oracle replays the same
    * max-ts-among-tied-values rule. One groupBy per function, no
    * windows, partial aggregation map-side.
    */
  private def tsPromqlTsOf(s: SparkSession, dir: String): DataFrame = {
    val ctx = promCtx(s, dir)
    def q(fn: String, as: String): DataFrame =
      graft.tsdb.promql.PromQL.compile(s"$fn(events[31d])", ctx)
        .select(col("event_type"), col("user_id"), col("value").as(as))
    q("ts_of_min_over_time", "ts_of_min")
      .join(q("ts_of_max_over_time", "ts_of_max"), Seq("event_type", "user_id"))
      .join(q("ts_of_last_over_time", "ts_of_last"), Seq("event_type", "user_id"))
      .orderBy("event_type", "user_id")
  }

  /** Experimental `first_over_time`/`ts_of_first_over_time`
    * (Prometheus 3.6, promql/functions.go funcFirstOverTime): the
    * earliest sample's value and epoch-seconds timestamp in the
    * range — the symmetric closer of the `last_over_time`/`ts_of_*`
    * family. Both lower to one min-struct / min-ts aggregation at
    * series grain.
    */
  private def tsPromqlFirstOverTime(s: SparkSession, dir: String): DataFrame = {
    val ctx = promCtx(s, dir)
    def q(fn: String, as: String): DataFrame =
      graft.tsdb.promql.PromQL.compile(s"$fn(events[31d])", ctx)
        .select(col("event_type"), col("user_id"), col("value").as(as))
    q("first_over_time", "first_v")
      .join(q("ts_of_first_over_time", "ts_of_first"), Seq("event_type", "user_id"))
      .orderBy("event_type", "user_id")
  }

  /** `group_right` many-to-one vector matching parsed from the
    * string: the RIGHT side keeps its full label set, each right
    * element divided by the single left element sharing its
    * `on(user_id)` key — `user_total / per-(type,user) total`. The
    * mirror image of `ts_group_left` (the compiler swaps operands
    * and reuses the group_left plan — the ONE side broadcasts, the
    * many side never shuffles for the join).
    */
  private def tsPromqlGroupRight(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile(
        """sum by (user_id) (sum_over_time(events[31d]))
          | / on(user_id) group_right
          |sum by (event_type, user_id) (sum_over_time(events[31d]))"""
          .stripMargin, promCtx(s, dir))
      .select(col("event_type"), col("user_id"), col("value").as("inv_share"))
      .orderBy("event_type", "user_id")

  /** PromQL `sort_desc(sum by (event_type) (sum_over_time(...)))` —
    * the presentation ordering IS the checked output here (the gate
    * adds NO orderBy of its own): rows must arrive value-descending
    * from the compiled plan. Value ties cannot occur (continuous
    * decimal-exact sums per event type), so the order is total.
    */
  private def tsPromqlSort(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile(
        "sort_desc(sum by (event_type) (sum_over_time(events[31d])))",
        promCtx(s, dir))
      .select(col("event_type"), col("value"))

  /** PromQL `sort_by_label(v, "event_type")` — label-value ordering
    * through the parser, again with the function's ordering as the
    * checked output (unique string label values ⇒ total order).
    */
  private def tsPromqlSortByLabel(s: SparkSession, dir: String): DataFrame =
    graft.tsdb.promql.PromQL.compile(
        """sort_by_label(sum by (event_type) (sum_over_time(events[31d])),
          | "event_type")""".stripMargin, promCtx(s, dir))
      .select(col("event_type"), col("value"))

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

  private def chunkBlockPath(dir: String): String =
    "/tmp/graft_chunkblock_" + dir.replaceAll("[^0-9a-zA-Z]", "_")

  private def chunkBlockFixture(s: SparkSession, dir: String): Unit =
    fixtureOnce(s"chunkblock:$dir") {
      ChunkStore.write(t(s, dir, "events"), chunkBlockPath(dir),
        Seq("event_type", "user_id"), "ts", "value",
        colDuration = "1 day", samplesPerChunk = 120)
    }

  private def shardInteropPath(dir: String): String =
    "/tmp/graft_pshard_" + dir.replaceAll("[^0-9a-zA-Z]", "_")

  private def shardInteropFixture(s: SparkSession, dir: String): Unit =
    fixtureOnce(s"pshard:$dir") {
      graft.tsdb.shard.ParquetShardStore.write(
        t(s, dir, "events"), shardInteropPath(dir),
        Seq("event_type", "user_id"), "ts", "value",
        colDurationMs = graft.tsdb.shard.ParquetShardStore.DefaultColDurationMs,
        samplesPerChunk = 120, shards = 2)
    }

  private def shardHistPath(dir: String): String =
    "/tmp/graft_pshard_hist_" + dir.replaceAll("[^0-9a-zA-Z]", "_")

  private def shardHistFixture(s: SparkSession, dir: String): Unit =
    fixtureOnce(s"pshardhist:$dir") {
      graft.tsdb.shard.ParquetShardStore.writeHist(
        nativeHistCounterTable(s, dir)
          .withColumn("hsum",
            (col("d") * ((col("sseed") % 7) + 1)).cast("double") * 0.25)
          .withColumn("ts", timestamp_seconds(col("d") * 86400)),
        shardHistPath(dir), Seq("event_type", "user_id"), "ts",
        "zero_count", "pos_idx", "pos_counts", Some("hsum"),
        samplesPerChunk = 10, shards = 2)
    }

  private def shardNegPath(dir: String): String =
    "/tmp/graft_pshard_neg_" + dir.replaceAll("[^0-9a-zA-Z]", "_")

  private def shardNegFixture(s: SparkSession, dir: String): Unit =
    fixtureOnce(s"pshardneg:$dir") {
      graft.tsdb.shard.ParquetShardStore.writeHist(
        negBlockInput(s, dir)
          .withColumn("ts", timestamp_millis(col("ts_ms"))),
        shardNegPath(dir), Seq("event_type", "user_id"), "ts",
        "zero_count", "pos_idx", "pos_counts", Some("hsum"),
        samplesPerChunk = 10, shards = 2,
        negIdxCol = Some("neg_idx"), negCountsCol = Some("neg_counts"))
    }

  private def shardNhcbPath(dir: String): String =
    "/tmp/graft_pshard_nhcb_" + dir.replaceAll("[^0-9a-zA-Z]", "_")

  private def shardNhcbFixture(s: SparkSession, dir: String): Unit =
    fixtureOnce(s"pshardnhcb:$dir") {
      graft.tsdb.shard.ParquetShardStore.writeHist(
        t(s, dir, "events")
          .select(col("event_type"), col("user_id"),
            floor(unix_timestamp(col("ts")) / 86400).cast("long").as("d"))
          .distinct()
          .withColumn("sseed", col("user_id") * 31 + length(col("event_type")))
          .withColumn("zero_count", lit(0L))
          .withColumn("pos_idx",
            sequence(lit(0), when(col("d") >= 19740, lit(5)).otherwise(lit(4))))
          .withColumn("pos_counts",
            transform(col("pos_idx"),
              i => col("d") * col("d") * ((col("sseed") + i + 3) % 5)))
          .withColumn("hsum",
            (col("d") * ((col("sseed") % 7) + 1)).cast("double") * 0.25)
          .withColumn("ts", timestamp_seconds(col("d") * 86400)),
        shardNhcbPath(dir), Seq("event_type", "user_id"), "ts",
        "zero_count", "pos_idx", "pos_counts", Some("hsum"),
        histSchema = graft.tsdb.block.ChunkencHistogram.CustomBucketsSchema,
        customValues = NhcbBounds, samplesPerChunk = 10, shards = 2)
    }

  private def tsdbBlockPath(dir: String): String =
    "/tmp/graft_tsdbblock_" + dir.replaceAll("[^0-9a-zA-Z]", "_")

  private def tsdbBlockFixture(s: SparkSession, dir: String): Unit =
    fixtureOnce(s"tsdbblock:$dir") {
      // wipe any stale root first: write() skips ULIDs that already
      // exist, so leftovers from an older fixture generation would
      // otherwise sit next to the fresh blocks and double-count
      val root = new java.io.File(tsdbBlockPath(dir))
      if (root.exists()) tools.Fs.deleteRecursively(root)
      graft.tsdb.block.TsdbBlockStore.write(
        t(s, dir, "events").withColumn("ts_ms", unix_millis(col("ts"))),
        tsdbBlockPath(dir), Seq("event_type", "user_id"), "ts_ms", "value",
        blockDurationMs = 86400000L)
    }

  /** Byte-level TSDB block roundtrip
    * ([[tsdb.block.TsdbBlockStore]]): the events table written as
    * real Prometheus-format blocks — CRC32C'd index v2 (symbols,
    * 16-aligned series, postings, TOC), chunkenc-layout XOR chunk
    * segments, meta.json, one block per day — then read back
    * distributed (one narrow task per block) and flattened to label
    * columns. The hash match against the raw table proves the whole
    * byte path (varbit timestamps, Gorilla value XOR, index refs)
    * is lossless — the ingestion seam the reference reaches through
    * tsdb.OpenBlock (convert/convert.go:348).
    */
  private def tsTsdbBlockRoundtrip(s: SparkSession, dir: String): DataFrame = {
    tsdbBlockFixture(s, dir)
    graft.tsdb.block.TsdbBlockStore
      .readLabels(s, tsdbBlockPath(dir), Seq("event_type", "user_id"))
      .withColumnRenamed("ts", "ts_ms")
      .orderBy("event_type", "user_id", "ts_ms", "value")
  }

  /** The full migration path in one plan — what replaces the
    * reference's `ConvertTSDBBlock`: byte-level block read
    * ([[tsdb.block.TsdbBlockStore.readLabels]]) → distributed
    * sorted/bucketed conversion ([[tsdb.TsdbConverter.convert]]) →
    * matcher select over the CONVERTED layout (partition pruning +
    * pushdown). The oracle runs on the raw table, so the hash pins
    * every stage: chunkenc decode, long-format bridge, convert
    * write, converted-layout select.
    */
  private def tsTsdbBlockConvert(s: SparkSession, dir: String): DataFrame = {
    tsdbBlockFixture(s, dir)
    val path = "/tmp/graft_tsdbconv_" + dir.replaceAll("[^0-9a-zA-Z]", "_")
    fixtureOnce(s"tsdbconv:$dir") {
      val longDf = graft.tsdb.block.TsdbBlockStore
        .readLabels(s, tsdbBlockPath(dir), Seq("event_type", "user_id"))
        .withColumn("ts", timestamp_millis(col("ts")))
      TsdbConverter.convert(longDf, path, "ts",
        ConvertOptions(sortBy = Seq("event_type", "user_id"),
          colDuration = "1 day", bloomFilterLabels = Seq("event_type"),
          shards = 2))
    }
    val q = new TsdbQueryable(s.read.parquet(path),
      Seq("event_type", "user_id"))
      .withBucketCol("bucket") // literal partition pruning from the range
    withTsMs(q.select("2024-01-05", "2024-01-20",
        Matcher.Eq("event_type", "view")))
      .orderBy("ts_ms", "user_id", "value")
  }

  /** Matcher + range select over real TSDB block bytes: meta.json
    * prunes whole blocks, the postings index resolves the equality
    * and regex matchers BEFORE any chunk byte is read, chunk frame
    * [mint, maxt] prunes inside the survivors, and the sharded read
    * (4 shards per block) must agree with the raw-table filter. */
  private def tsTsdbBlockSelect(s: SparkSession, dir: String): DataFrame = {
    tsdbBlockFixture(s, dir)
    graft.tsdb.block.TsdbBlockStore
      .readLabels(s, tsdbBlockPath(dir), Seq("event_type", "user_id"),
        mint = 1704412800000L, // 2024-01-05T00:00:00Z
        maxt = 1705708799999L, // 2024-01-19T23:59:59.999Z
        matchers = Seq(Matcher.Eq("event_type", "view"),
          Matcher.Re("user_id", "1.*|2.*")),
        shardsPerBlock = 4)
      .withColumnRenamed("ts", "ts_ms")
      .orderBy("ts_ms", "user_id", "value")
  }

  // ----- native-histogram TSDB blocks (chunkenc encodings 2/3) -----

  private def nhBlockPath(dir: String): String =
    "/tmp/graft_nhblock_" + dir.replaceAll("[^0-9a-zA-Z]", "_")

  private def fhBlockPath(dir: String): String =
    "/tmp/graft_fhblock_" + dir.replaceAll("[^0-9a-zA-Z]", "_")

  private def rmRec(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmRec)
    f.delete()
  }

  /** The counter NH fixture with millisecond timestamps and the
    * exact-quarter tracked sum — the [[tsdb.block.TsdbBlockStore
    * .writeHist]] input shape. */
  private def nhBlockInput(s: SparkSession, dir: String): DataFrame =
    nativeHistCounterTable(s, dir)
      .withColumn("hsum",
        (col("d") * ((col("sseed") % 7) + 1)).cast("double") * 0.25)
      .withColumn("ts_ms", col("d") * 86400000L)

  private def nhBlockFixture(s: SparkSession, dir: String): Unit =
    fixtureOnce(s"nhblock:$dir") {
      val root = new java.io.File(nhBlockPath(dir))
      if (root.exists()) rmRec(root) // stale ULIDs would double-count
      graft.tsdb.block.TsdbBlockStore.writeHist(
        nhBlockInput(s, dir), nhBlockPath(dir),
        Seq("event_type", "user_id"), "ts_ms", "zero_count",
        "pos_idx", "pos_counts", "hsum",
        // 9-day blocks + 6-sample chunks: bucket 5's appearance at
        // day 19740 lands MID-chunk (19740 % 9 ≠ 0), so the gate
        // exercises the union-layout zero-fill, not just clean cuts
        blockDurationMs = 9L * 86400000L, samplesPerChunk = 6)
    }

  /** Byte-level NATIVE-HISTOGRAM TSDB block roundtrip: the counter
    * NH fixture written as real chunkenc `EncHistogram` (encoding 2)
    * chunks inside spec-shaped block dirs
    * ([[tsdb.block.ChunkencHistogram]] — varbit buckets, span
    * layout, per-field delta/XOR streams), read back distributed
    * and flattened per bucket. The reference ingests these chunks
    * through `chunkenc.Iterator` (convert/convert.go:348,
    * schema/encoder.go:160-196); this closes the r8 gap where
    * non-XOR chunks hard-failed. Zero-count buckets (structural
    * ones AND the union-layout zeros chunkenc's recode inserts when
    * buckets appear mid-chunk) are dropped on both sides — the
    * sparse nonzero content is the semantic payload.
    */
  private def tsTsdbBlockNhRoundtrip(s: SparkSession, dir: String): DataFrame = {
    nhBlockFixture(s, dir)
    graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, nhBlockPath(dir), Seq("event_type", "user_id"))
      .select(col("event_type"), col("user_id"), col("ts").as("ts_ms"),
        col("zero_count"), col("hist_sum").as("hsum"),
        explode(zip_with(col("pos_idx"), col("pos_counts"),
          (i, c) => struct(i.as("i"), c.as("c")))).as("b"))
      .select(col("event_type"), col("user_id"), col("ts_ms"),
        col("zero_count"), col("hsum"),
        col("b.i").as("idx"), col("b.c").as("cnt"))
      .filter(col("cnt") =!= 0)
      .orderBy("event_type", "user_id", "ts_ms", "idx")
  }

  /** Matcher + range select over NATIVE-HISTOGRAM block bytes: the
    * same postings-index pruning, exact re-verification, chunk
    * frame time pruning and sharding as `ts_tsdb_block_select`,
    * dispatching into the encoding-2 decoder — ≡ the filtered raw
    * fixture. */
  private def tsTsdbBlockNhSelect(s: SparkSession, dir: String): DataFrame = {
    nhBlockFixture(s, dir)
    graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, nhBlockPath(dir), Seq("event_type", "user_id"),
        mint = 1704412800000L, // 2024-01-05T00:00:00Z
        maxt = 1705708799999L, // 2024-01-19T23:59:59.999Z
        matchers = Seq(Matcher.Eq("event_type", "view"),
          Matcher.Re("user_id", "1.*|2.*")),
        shardsPerBlock = 3)
      .select(col("event_type"), col("user_id"), col("ts").as("ts_ms"),
        col("zero_count"), col("hist_sum").as("hsum"),
        explode(zip_with(col("pos_idx"), col("pos_counts"),
          (i, c) => struct(i.as("i"), c.as("c")))).as("b"))
      .select(col("event_type"), col("user_id"), col("ts_ms"),
        col("zero_count"), col("hsum"),
        col("b.i").as("idx"), col("b.c").as("cnt"))
      .filter(col("cnt") =!= 0)
      .orderBy("event_type", "user_id", "ts_ms", "idx")
  }

  private def fhBlockFixture(s: SparkSession, dir: String): Unit =
    fixtureOnce(s"fhblock:$dir") {
      val root = new java.io.File(fhBlockPath(dir))
      if (root.exists()) rmRec(root)
      graft.tsdb.block.TsdbBlockStore.writeFloatHist(
        nativeHistCounterTable(s, dir)
          .withColumn("zero_f",
            (col("d") * (col("sseed") % 3)).cast("double") * 0.5)
          .withColumn("cnt_f",
            transform(col("pos_counts"), c => c.cast("double") * 0.25))
          .withColumn("hsum",
            (col("d") * ((col("sseed") % 7) + 1)).cast("double") * 0.25)
          .withColumn("ts_ms", col("d") * 86400000L),
        fhBlockPath(dir), Seq("event_type", "user_id"), "ts_ms",
        "zero_f", "pos_idx", "cnt_f", "hsum",
        blockDurationMs = 9L * 86400000L, samplesPerChunk = 6)
    }

  /** FLOAT-histogram TSDB block roundtrip (chunkenc
    * `EncFloatHistogram`, encoding 3 — recording-rule output): the
    * per-field Gorilla-window XOR streams must return every double
    * bit-exactly (the fixture's exact halves/quarters make the
    * DuckDB oracle hash-equal). Completes all THREE chunkenc
    * families through the block ingestion seam. */
  private def tsTsdbBlockFhRoundtrip(s: SparkSession, dir: String): DataFrame = {
    fhBlockFixture(s, dir)
    graft.tsdb.block.TsdbBlockStore
      .readFloatHistLabels(s, fhBlockPath(dir), Seq("event_type", "user_id"))
      .select(col("event_type"), col("user_id"), col("ts").as("ts_ms"),
        col("zero_count"), col("hist_sum").as("hsum"),
        explode(zip_with(col("pos_idx"), col("pos_counts"),
          (i, c) => struct(i.as("i"), c.as("c")))).as("b"))
      .select(col("event_type"), col("user_id"), col("ts_ms"),
        col("zero_count"), col("hsum"),
        col("b.i").as("idx"), col("b.c").as("cnt"))
      .filter(col("cnt") =!= 0.0)
      .orderBy("event_type", "user_id", "ts_ms", "idx")
  }

  /** The NH migration path in one plan — what replaces the
    * reference's `ConvertTSDBBlock` for histogram series: block
    * bytes (encoding-2 chunks) → [[tsdb.block.TsdbBlockStore
    * .readHistLabels]] → [[tsdb.HistChunkStore]] converted layout →
    * matcher + day-range select over the converted store. The
    * oracle runs on the re-derived raw fixture, so the hash pins
    * chunkenc decode, the NH bridge, the converted write and the
    * pruned select together (the histogram mirror of
    * `ts_tsdb_block_convert`). */
  private def tsTsdbBlockNhConvert(s: SparkSession, dir: String): DataFrame = {
    nhBlockFixture(s, dir)
    val path = "/tmp/graft_nhconv_" + dir.replaceAll("[^0-9a-zA-Z]", "_")
    fixtureOnce(s"nhconv:$dir") {
      val nh = graft.tsdb.block.TsdbBlockStore
        .readHistLabels(s, nhBlockPath(dir), Seq("event_type", "user_id"))
        .withColumn("ts", timestamp_millis(col("ts")))
      HistChunkStore.write(nh, path, Seq("event_type", "user_id"), "ts",
        "zero_count", "pos_idx", "pos_counts", Some("hist_sum"),
        samplesPerChunk = 10)
    }
    HistChunkStore.select(s, path, "2024-01-05", "2024-01-20",
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
      .filter(col("cnt") =!= 0)
      .orderBy("event_type", "user_id", "ts_us", "idx")
  }

  // ----- NHCB custom-bucket blocks (schema -53) -----

  private def nhcbBlockPath(dir: String): String =
    "/tmp/graft_nhcbblock_" + dir.replaceAll("[^0-9a-zA-Z]", "_")

  /** The NHCB bound list: quarter-step inclusive upper bounds —
    * exact doubles whose ·1000 form is integral, so every bound
    * takes the compact varbit form AND the DuckDB oracle re-derives
    * them exactly as `(i+1)·0.25`. */
  private val NhcbBounds: Seq[Double] = (1 to 6).map(_ * 0.25)

  /** Custom-bucket variant of the counter fixture: the same
    * `d²`-cumulative counts, but indexes 0..4/5 addressing
    * [[NhcbBounds]] and NO zero bucket (zero_count 0, threshold 0)
    * — what Prometheus 3.x's classic-to-NHCB conversion persists. */
  private def nhcbBlockFixture(s: SparkSession, dir: String): Unit =
    fixtureOnce(s"nhcbblock:$dir") {
      val root = new java.io.File(nhcbBlockPath(dir))
      if (root.exists()) rmRec(root) // stale ULIDs would double-count
      val in = t(s, dir, "events")
        .select(col("event_type"), col("user_id"),
          floor(unix_timestamp(col("ts")) / 86400).cast("long").as("d"))
        .distinct()
        .withColumn("sseed", col("user_id") * 31 + length(col("event_type")))
        .withColumn("zero_count", lit(0L))
        .withColumn("pos_idx",
          sequence(lit(0), when(col("d") >= 19740, lit(5)).otherwise(lit(4))))
        .withColumn("pos_counts",
          transform(col("pos_idx"),
            i => col("d") * col("d") * ((col("sseed") + i + 3) % 5)))
        .withColumn("hsum",
          (col("d") * ((col("sseed") % 7) + 1)).cast("double") * 0.25)
        .withColumn("ts_ms", col("d") * 86400000L)
      graft.tsdb.block.TsdbBlockStore.writeHist(
        in, nhcbBlockPath(dir), Seq("event_type", "user_id"), "ts_ms",
        "zero_count", "pos_idx", "pos_counts", "hsum",
        schema = graft.tsdb.block.ChunkencHistogram.CustomBucketsSchema,
        customValues = NhcbBounds,
        blockDurationMs = 9L * 86400000L, samplesPerChunk = 6)
    }

  /** NHCB (custom-bucket, schema -53) TSDB block roundtrip — the
    * last chunkenc layout family: the bound list rides the chunk
    * layout (compact varbit form), decodes bit-exactly, and every
    * bucket row resolves its inclusive upper `bound` through the
    * decoded `custom_values` — so the oracle hash pins schema,
    * bounds AND counts through the byte path. Mid-chunk appearance
    * of index 5 exercises the union-layout fill exactly like the
    * exponential gate. */
  private def tsTsdbBlockNhcbRoundtrip(s: SparkSession, dir: String): DataFrame = {
    nhcbBlockFixture(s, dir)
    graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, nhcbBlockPath(dir), Seq("event_type", "user_id"))
      .select(col("event_type"), col("user_id"), col("ts").as("ts_ms"),
        col("schema").as("hschema"), col("hist_sum").as("hsum"),
        explode(zip_with(col("pos_idx"), col("pos_counts"),
          (i, c) => struct(i.as("i"), c.as("c")))).as("b"),
        col("custom_values"))
      .select(col("event_type"), col("user_id"), col("ts_ms"),
        col("hschema"), col("hsum"), col("b.i").as("idx"),
        col("b.c").as("cnt"),
        element_at(col("custom_values"), col("b.i") + 1).as("bound"))
      .filter(col("cnt") =!= 0)
      .orderBy("event_type", "user_id", "ts_ms", "idx")
  }

  /** Matcher + range select over NHCB block bytes: postings-index
    * pruning and chunk-frame time pruning dispatching into the
    * schema -53 decode (sharded ×3) ≡ the filtered fixture. */
  private def tsTsdbBlockNhcbSelect(s: SparkSession, dir: String): DataFrame = {
    nhcbBlockFixture(s, dir)
    graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, nhcbBlockPath(dir), Seq("event_type", "user_id"),
        mint = 1704412800000L, // 2024-01-05T00:00:00Z
        maxt = 1705708799999L, // 2024-01-19T23:59:59.999Z
        matchers = Seq(Matcher.Eq("event_type", "view"),
          Matcher.Re("user_id", "1.*|2.*")),
        shardsPerBlock = 3)
      .select(col("event_type"), col("user_id"), col("ts").as("ts_ms"),
        col("schema").as("hschema"), col("hist_sum").as("hsum"),
        explode(zip_with(col("pos_idx"), col("pos_counts"),
          (i, c) => struct(i.as("i"), c.as("c")))).as("b"),
        col("custom_values"))
      .select(col("event_type"), col("user_id"), col("ts_ms"),
        col("hschema"), col("hsum"), col("b.i").as("idx"),
        col("b.c").as("cnt"),
        element_at(col("custom_values"), col("b.i") + 1).as("bound"))
      .filter(col("cnt") =!= 0)
      .orderBy("event_type", "user_id", "ts_ms", "idx")
  }

  /** The NHCB migration path in one plan — block bytes (schema -53
    * chunks) → [[tsdb.block.TsdbBlockStore.readHistLabels]] →
    * [[tsdb.HistChunkStore]] converted layout (the bound list rides
    * the LABELS file as per-series metadata and each chunk's
    * layout, as chunkenc requires) →
    * matcher + day-range select. Each returned bucket re-resolves
    * its upper bound through the custom_values that crossed BOTH
    * storage seams, so the oracle hash pins chunkenc decode, the
    * bridge, the converted write and the pruned select together —
    * the custom-bucket mirror of `ts_tsdb_block_nh_convert`. */
  private def tsTsdbBlockNhcbConvert(s: SparkSession, dir: String): DataFrame = {
    nhcbBlockFixture(s, dir)
    val path = "/tmp/graft_nhcbconv_" + dir.replaceAll("[^0-9a-zA-Z]", "_")
    fixtureOnce(s"nhcbconv:$dir") {
      val nh = graft.tsdb.block.TsdbBlockStore
        .readHistLabels(s, nhcbBlockPath(dir), Seq("event_type", "user_id"))
        .withColumn("ts", timestamp_millis(col("ts")))
      HistChunkStore.write(nh, path, Seq("event_type", "user_id"), "ts",
        "zero_count", "pos_idx", "pos_counts", Some("hist_sum"),
        histSchema = graft.tsdb.block.ChunkencHistogram.CustomBucketsSchema,
        customValues = NhcbBounds, samplesPerChunk = 10)
    }
    HistChunkStore.select(s, path, "2024-01-05", "2024-01-20",
        Seq(Matcher.Eq("event_type", "view")),
        Seq("event_type", "user_id"), "ts")
      .select(col("event_type"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("hist_sum").as("hsum"),
        explode(zip_with(col("pos_idx"), col("pos_counts"),
          (i, c) => struct(i.as("i"), c.as("c")))).as("b"),
        col("custom_values"))
      .select(col("event_type"), col("user_id"), col("ts_us"),
        col("hsum"), col("b.i").as("idx"), col("b.c").as("cnt"),
        element_at(col("custom_values"), col("b.i") + 1).as("bound"))
      .filter(col("cnt") =!= 0)
      .orderBy("event_type", "user_id", "ts_us", "idx")
  }

  /** `histogram_quantile(0.9, h)` over CUSTOM-BUCKET histograms
    * decoded from block bytes
    * ([[tsdb.NativeHistogram.histogramQuantileCustom]]): the classic
    * bucketQuantile walk (first-bucket lower bound 0, linear
    * interpolation against the custom bound list, +Inf → highest
    * finite bound) as a narrow per-row fold — map-side at any scale,
    * union-fill zero buckets never catch the rank. The oracle
    * replays the walk with the same FP association. */
  private def tsNhcbQuantile(s: SparkSession, dir: String): DataFrame = {
    nhcbBlockFixture(s, dir)
    graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, nhcbBlockPath(dir), Seq("event_type", "user_id"))
      .select(col("event_type"), col("user_id"), col("ts").as("ts_ms"),
        graft.tsdb.NativeHistogram.histogramQuantileCustom(0.9,
          col("pos_idx"), col("pos_counts"), col("custom_values"))
          .as("phi90"))
      .orderBy("event_type", "user_id", "ts_ms")
  }

  /** NHCB through the PromQL STRING front-end:
    * `histogram_quantile(0.9, sum by (event_type) (nhcb_req))` — a
    * custom-bucket (schema −53) metric registered with its literal
    * bound list ([[tsdb.promql.HistTable]] `customValues`; constant
    * per metric, so it rides the plan instead of every row). The
    * compiled plan runs the instant selector, the bucket-wise sparse
    * SUM over custom indexes, and the CLASSIC-bucket quantile walk
    * ([[tsdb.NativeHistogram.histogramQuantileCustom]]) — closing
    * the front-end gap where a Prometheus 3.x NHCB user could
    * ingest but not query from the string. */
  private def tsPromqlNhcbQuantile(s: SparkSession, dir: String): DataFrame = {
    nhcbBlockFixture(s, dir)
    val nh = graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, nhcbBlockPath(dir), Seq("event_type", "user_id"))
      .withColumn("ts", timestamp_millis(col("ts")))
    val ctx = graft.tsdb.promql.PromQLContext(
      metrics = Map.empty,
      labelCols = Seq("event_type", "user_id"),
      evalMs = 1706745600000L,
      lookbackMs = 40L * 86400000L,
      histMetrics = Map("nhcb_req" -> graft.tsdb.promql.HistTable(nh,
        sumCol = Some("hist_sum"),
        schema = graft.tsdb.block.ChunkencHistogram.CustomBucketsSchema,
        customValues = NhcbBounds)))
    graft.tsdb.promql.PromQL.compile(
        "histogram_quantile(0.9, sum by (event_type) (nhcb_req))", ctx)
      .select(col("event_type"), col("value").as("phi90"))
      .orderBy("event_type")
  }

  /** `histogram_count(increase(nhcb_req[40d]))` — the COUNTER path
    * over NHCB from the string: the reset-aware fold runs index-wise
    * (custom bucket indexes are positions, so nothing changes), the
    * count consumer is bound-agnostic, and the mid-range appearance
    * of index 5 exercises missing-first-reads-0 on the custom
    * layout. Exact integers end to end. */
  private def tsPromqlNhcbCountIncrease(s: SparkSession, dir: String): DataFrame = {
    nhcbBlockFixture(s, dir)
    val nh = graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, nhcbBlockPath(dir), Seq("event_type", "user_id"))
      .withColumn("ts", timestamp_millis(col("ts")))
    val ctx = graft.tsdb.promql.PromQLContext(
      metrics = Map.empty,
      labelCols = Seq("event_type", "user_id"),
      evalMs = 1706745600000L,
      lookbackMs = 40L * 86400000L,
      histMetrics = Map("nhcb_req" -> graft.tsdb.promql.HistTable(nh,
        schema = graft.tsdb.block.ChunkencHistogram.CustomBucketsSchema,
        customValues = NhcbBounds)))
    graft.tsdb.promql.PromQL.compile(
        "histogram_count(increase(nhcb_req[40d]))", ctx)
      .select(col("event_type"), col("user_id"), col("value").as("cinc"))
      .orderBy("event_type", "user_id")
  }

  // ----- negative-bucket (signed) native histograms -----

  private def negBlockPath(dir: String): String =
    "/tmp/graft_negblock_" + dir.replaceAll("[^0-9a-zA-Z]", "_")

  /** The counter NH fixture extended with a NEGATIVE bucket side
    * (a distribution observing negative values — e.g. a gauge of
    * temperature deltas): mirror indexes `-1..2`, gaining bucket 3
    * from day 19735 so the union-layout fill is exercised on the
    * NEGATIVE layout mid-chunk as well (19735 % 9 ≠ 0). Counts stay
    * exact integers. */
  private def negBlockInput(s: SparkSession, dir: String): DataFrame =
    nhBlockInput(s, dir)
      .withColumn("neg_idx",
        sequence(lit(-1), when(col("d") >= 19735, lit(3)).otherwise(lit(2))))
      .withColumn("neg_counts",
        transform(col("neg_idx"),
          i => col("d") * col("d") * ((col("sseed") + i + 7) % 4)))

  private def negBlockFixture(s: SparkSession, dir: String): Unit =
    fixtureOnce(s"negblock:$dir") {
      val root = new java.io.File(negBlockPath(dir))
      if (root.exists()) rmRec(root)
      graft.tsdb.block.TsdbBlockStore.writeHist(
        negBlockInput(s, dir), negBlockPath(dir),
        Seq("event_type", "user_id"), "ts_ms", "zero_count",
        "pos_idx", "pos_counts", "hsum",
        blockDurationMs = 9L * 86400000L, samplesPerChunk = 6,
        negIdxCol = Some("neg_idx"), negCountsCol = Some("neg_counts"))
    }

  /** Signed (negative-bucket) NH block roundtrip: both bucket sides
    * travel the chunkenc encoding-2 byte loop — the negative spans/
    * delta streams the format interleaves with the positive ones
    * (chunks.md layout; the r9 reader rejected these chunks, closing
    * the last row-model limit). Both sides explode with a side
    * marker; zero-count union-fill positions drop on both sides. */
  private def tsTsdbBlockNegRoundtrip(s: SparkSession, dir: String): DataFrame = {
    negBlockFixture(s, dir)
    graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, negBlockPath(dir), Seq("event_type", "user_id"))
      .select(col("event_type"), col("user_id"), col("ts").as("ts_ms"),
        col("zero_count"), col("hist_sum").as("hsum"),
        explode(concat(
          zip_with(col("pos_idx"), col("pos_counts"),
            (i, c) => struct(lit("p").as("side"), i.as("i"), c.as("c"))),
          zip_with(col("neg_idx"), col("neg_counts"),
            (i, c) => struct(lit("n").as("side"), i.as("i"), c.as("c")))))
          .as("b"))
      .select(col("event_type"), col("user_id"), col("ts_ms"),
        col("zero_count"), col("hsum"), col("b.side").as("side"),
        col("b.i").as("idx"), col("b.c").as("cnt"))
      .filter(col("cnt") =!= 0)
      .orderBy("event_type", "user_id", "ts_ms", "side", "idx")
  }

  /** `histogram_quantile(0.9, h)` over SIGNED histograms decoded
    * from block bytes ([[tsdb.NativeHistogram
    * .histogramQuantileSigned]]): promql's AllBucketIterator walk —
    * negative buckets from the most negative value upward, the zero
    * bucket, then positive — with linear interpolation in whichever
    * bucket catches the rank. The oracle replays the walk over a
    * phase-ordered union with identical FP association. */
  private def tsNhNegQuantile(s: SparkSession, dir: String): DataFrame = {
    negBlockFixture(s, dir)
    graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, negBlockPath(dir), Seq("event_type", "user_id"))
      .select(col("event_type"), col("user_id"), col("ts").as("ts_ms"),
        graft.tsdb.NativeHistogram.histogramQuantileSigned(0.1,
          col("zero_count"), col("pos_idx"), col("pos_counts"),
          col("neg_idx"), col("neg_counts")).as("phi10"),
        graft.tsdb.NativeHistogram.histogramQuantileSigned(0.9,
          col("zero_count"), col("pos_idx"), col("pos_counts"),
          col("neg_idx"), col("neg_counts")).as("phi90"))
      .orderBy("event_type", "user_id", "ts_ms")
  }

  /** SIGNED histograms through the PromQL STRING front-end:
    * `histogram_quantile(0.1, neg_requests)` — a [[tsdb.promql
    * .HistTable]] registered with `negIdxCol`/`negCountsCol` from
    * block bytes; q=0.1 lands in the NEGATIVE region on the gate
    * vector, so the compiled plan's signed AllBucketIterator walk is
    * what hash-pins. Instant semantics: latest sample per series in
    * the lookback. */
  private def tsPromqlNegQuantile(s: SparkSession, dir: String): DataFrame = {
    negBlockFixture(s, dir)
    val nh = graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, negBlockPath(dir), Seq("event_type", "user_id"))
      .withColumn("ts", timestamp_millis(col("ts")))
    val ctx = graft.tsdb.promql.PromQLContext(
      metrics = Map.empty,
      labelCols = Seq("event_type", "user_id"),
      evalMs = 1706745600000L, // 2024-02-01T00:00:00Z
      lookbackMs = 40L * 86400000L,
      histMetrics = Map("neg_requests" -> graft.tsdb.promql.HistTable(nh,
        negIdxCol = Some("neg_idx"), negCountsCol = Some("neg_counts"))))
    graft.tsdb.promql.PromQL.compile(
        "histogram_quantile(0.1, neg_requests)", ctx)
      .select(col("event_type"), col("user_id"), col("value").as("phi10"))
      .orderBy("event_type", "user_id")
  }

  /** `histogram_count(rate(neg_requests[40d]))` from the string:
    * [[tsdb.NativeHistogram.rateBySigned]] rates BOTH bucket sides
    * off one whole-sample first/last snapshot pair, and the count
    * consumer folds them back together — the negative side visibly
    * changes the answer, so the hash pins the signed rate path
    * end-to-end. */
  private def tsPromqlNegCountRate(s: SparkSession, dir: String): DataFrame = {
    negBlockFixture(s, dir)
    val nh = graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, negBlockPath(dir), Seq("event_type", "user_id"))
      .withColumn("ts", timestamp_millis(col("ts")))
    val ctx = graft.tsdb.promql.PromQLContext(
      metrics = Map.empty,
      labelCols = Seq("event_type", "user_id"),
      evalMs = 1706745600000L,
      lookbackMs = 40L * 86400000L,
      histMetrics = Map("neg_requests" -> graft.tsdb.promql.HistTable(nh,
        negIdxCol = Some("neg_idx"), negCountsCol = Some("neg_counts"))))
    graft.tsdb.promql.PromQL.compile(
        "histogram_count(rate(neg_requests[40d]))", ctx)
      .select(col("event_type"), col("user_id"), col("value").as("crate"))
      .orderBy("event_type", "user_id")
  }

  /** `histogram_count(delta(neg_requests[40d]))` — the GAUGE range
    * function over native histograms: bucket-wise last − first with
    * NO clamp on either side ([[tsdb.NativeHistogram
    * .deltaBySigned]]), no extrapolation, count folding both sides
    * back together. Exact integer deltas, so the hash is
    * order-free. */
  private def tsPromqlNegDelta(s: SparkSession, dir: String): DataFrame = {
    negBlockFixture(s, dir)
    val nh = graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, negBlockPath(dir), Seq("event_type", "user_id"))
      .withColumn("ts", timestamp_millis(col("ts")))
    val ctx = graft.tsdb.promql.PromQLContext(
      metrics = Map.empty,
      labelCols = Seq("event_type", "user_id"),
      evalMs = 1706745600000L,
      lookbackMs = 40L * 86400000L,
      histMetrics = Map("neg_requests" -> graft.tsdb.promql.HistTable(nh,
        negIdxCol = Some("neg_idx"), negCountsCol = Some("neg_counts"))))
    graft.tsdb.promql.PromQL.compile(
        "histogram_count(delta(neg_requests[40d]))", ctx)
      .select(col("event_type"), col("user_id"), col("value").as("cdelta"))
      .orderBy("event_type", "user_id")
  }

  /** The PromQL histogram STATS consumers over SIGNED histograms
    * from block bytes: `histogram_count` (both sides count),
    * `histogram_avg` (tracked sum over the signed count),
    * `histogram_stdvar` (bucket-middle deviations with negative
    * middles reflected about 0, summation order
    * ((zero + posFold) + negFold) pinned for the oracle replay) and
    * `histogram_fraction(-2, 2)` (bounds on bucket boundaries →
    * every per-bucket overlap share exactly 0 or 1 — FP-exact on
    * both engines). All narrow per-row folds. */
  private def tsNhNegStats(s: SparkSession, dir: String): DataFrame = {
    negBlockFixture(s, dir)
    val nh = graft.tsdb.NativeHistogram
    graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, negBlockPath(dir), Seq("event_type", "user_id"))
      .select(col("event_type"), col("user_id"), col("ts").as("ts_ms"),
        nh.histogramCountSigned(col("zero_count"), col("pos_counts"),
          col("neg_counts")).as("h_count"),
        nh.histogramAvgSigned(col("hist_sum"), col("zero_count"),
          col("pos_counts"), col("neg_counts")).as("h_avg"),
        nh.histogramStdvarSigned(col("hist_sum"), col("zero_count"),
          col("pos_idx"), col("pos_counts"), col("neg_idx"),
          col("neg_counts")).as("h_stdvar"),
        nh.histogramFractionSigned(-2.0, 2.0, col("zero_count"),
          col("pos_idx"), col("pos_counts"), col("neg_idx"),
          col("neg_counts")).as("frac"))
      .orderBy("event_type", "user_id", "ts_ms")
  }

  /** The SIGNED migration path — block bytes (negative spans
    * included) → [[tsdb.block.TsdbBlockStore.readHistLabels]] →
    * [[tsdb.HistChunkStore]] converted layout (the negative side in
    * each chunk's own negative spans) → matcher + day-range select.
    * Both sides explode with a side marker, so the oracle hash pins
    * the block decode, the converted write and the select of both
    * sides together. */
  private def tsTsdbBlockNegConvert(s: SparkSession, dir: String): DataFrame = {
    negBlockFixture(s, dir)
    val path = "/tmp/graft_negconv_" + dir.replaceAll("[^0-9a-zA-Z]", "_")
    fixtureOnce(s"negconv:$dir") {
      val nh = graft.tsdb.block.TsdbBlockStore
        .readHistLabels(s, negBlockPath(dir), Seq("event_type", "user_id"))
        .withColumn("ts", timestamp_millis(col("ts")))
      HistChunkStore.write(nh, path, Seq("event_type", "user_id"), "ts",
        "zero_count", "pos_idx", "pos_counts", Some("hist_sum"),
        samplesPerChunk = 10,
        negIdxCol = Some("neg_idx"), negCountsCol = Some("neg_counts"))
    }
    HistChunkStore.select(s, path, "2024-01-05", "2024-01-20",
        Seq(Matcher.Eq("event_type", "view")),
        Seq("event_type", "user_id"), "ts")
      .select(col("event_type"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("zero_count"),
        col("hist_sum").as("hsum"),
        explode(concat(
          zip_with(col("pos_idx"), col("pos_counts"),
            (i, c) => struct(lit("p").as("side"), i.as("i"), c.as("c"))),
          zip_with(col("neg_idx"), col("neg_counts"),
            (i, c) => struct(lit("n").as("side"), i.as("i"), c.as("c")))))
          .as("b"))
      .select(col("event_type"), col("user_id"), col("ts_us"),
        col("zero_count"), col("hsum"), col("b.side").as("side"),
        col("b.i").as("idx"), col("b.c").as("cnt"))
      .filter(col("cnt") =!= 0)
      .orderBy("event_type", "user_id", "ts_us", "side", "idx")
  }

  /** `histogram_quantile(0.9, rate(nh_requests[40d]))` evaluated
    * FROM BLOCK BYTES: [[tsdb.block.TsdbBlockStore.readHistLabels]]
    * registers the decoded encoding-2 chunks as a PromQL
    * `histMetrics` table and the string front-end runs THE
    * production native-histogram query on it — the NH analog of
    * `ts_promql_tsdb_blocks`. Union-padded zero buckets rate to 0
    * and never displace the quantile walk, so the oracle is the
    * same replay as `ts_promql_nh_quantile_rate` (labels become
    * strings through block bytes). */
  private def tsPromqlNhBlocks(s: SparkSession, dir: String): DataFrame = {
    nhBlockFixture(s, dir)
    val nh = graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, nhBlockPath(dir), Seq("event_type", "user_id"))
      .withColumn("ts", timestamp_millis(col("ts")))
    val ctx = graft.tsdb.promql.PromQLContext(
      metrics = Map.empty,
      labelCols = Seq("event_type", "user_id"),
      evalMs = 1706745600000L, // 2024-02-01T00:00:00Z
      lookbackMs = 40L * 86400000L,
      histMetrics =
        Map("nh_requests" -> graft.tsdb.promql.HistTable(nh)))
    graft.tsdb.promql.PromQL.compile(
        "histogram_quantile(0.9, rate(nh_requests[40d]))", ctx)
      .select(col("event_type"), col("user_id"), col("value").as("phi90"))
      .orderBy("event_type", "user_id")
  }

  // ===================== LLM-data-pipeline =====================

  private def ddExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(s, dir, "documents"), "text", "doc_id")
      .withColumn("dup_rank", col("dup_rank").cast("long"))
      .orderBy("doc_id")

  private def ddNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccard(t(s, dir, "documents"), "text", "doc_id",
        n = 4, threshold = 0.8, dfCap = 100)
      .orderBy("id_a", "id_b")

  /** The cluster-id output contract: connected components over the
    * verified ngram-Jaccard near-dup pairs — one row per member doc,
    * labelled with its component's smallest doc id. The oracle
    * replays the same components with a recursive CTE over the same
    * pair SQL, so the hash check proves the distributed large-star/
    * small-star iteration computes exactly transitive closure.
    */
  private def ddClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.clusters(Dedup.ngramJaccard(t(s, dir, "documents"), "text",
        "doc_id", n = 4, threshold = 0.8, dfCap = 100))
      .orderBy("doc_id")

  /** End-to-end corpus cleaning ([[operators.Pipeline.corpusClean]]):
    * annotate → lang+quality gate → exact dedup → near-dup cluster
    * collapse. The oracle replays every stage with the SAME SQL
    * formulas that hash-match individually (txt_lang_id,
    * txt_quality, dd_exact, dd_clusters), composed.
    */
  private def pipeCorpusClean(s: SparkSession, dir: String): DataFrame =
    operators.Pipeline.corpusClean(t(s, dir, "documents"), "text", "doc_id",
        lang = "en", minQuality = 0.5, n = 4, threshold = 0.8, dfCap = 100)
      .orderBy("doc_id")

  /** The 100 TB configuration of the same pipeline: near-dup stage
    * swapped to banded MinHash → estimate filter → exact verify
    * ([[operators.Dedup.minHashNearDup]]). Verification uses the
    * SAME exact Jaccard at the same threshold, so wherever banding
    * recall holds (1.0 on this corpus — SketchRecallSpec) the
    * surviving manifest is identical and the oracle is shared.
    */
  private def pipeCorpusCleanMinhash(s: SparkSession, dir: String): DataFrame =
    operators.Pipeline.corpusClean(t(s, dir, "documents"), "text", "doc_id",
        lang = "en", minQuality = 0.5, n = 4, threshold = 0.8,
        nearDupMethod = "minhash")
      .orderBy("doc_id")

  private def ddMinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashLsh(t(s, dir, "documents"), "text", "doc_id",
        n = 4, k = 32, bands = 8)
      .orderBy("id_a", "id_b")

  private def ddMinhashNearDup(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashNearDup(t(s, dir, "documents"), "text", "doc_id",
        n = 4, k = 32, bands = 8, threshold = 0.8)
      .orderBy("id_a", "id_b")

  private def ddSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashNearDup(t(s, dir, "documents"), "text", "doc_id",
        maxHamming = 8, nBands = 4)
      .orderBy("id_a", "id_b")

  /** Substring-span dedup ([[operators.Dedup.substringDedup]]):
    * every duplicated token 8-gram span excised corpus-wide, first
    * occurrence kept — the corpus-REWRITING dedup that catches
    * boilerplate inside otherwise distinct documents. The oracle
    * replays canonical-occurrence resolution and the span-union
    * rewrite exactly (window rank per gram, covered-index set,
    * list-filtered rebuild).
    */
  private def ddSubstring(s: SparkSession, dir: String): DataFrame =
    Dedup.substringDedup(t(s, dir, "documents"), "text", "doc_id", k = 8)
      .orderBy("doc_id")

  private def ddEmbedNearDup(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDup(t(s, dir, "embeddings"), "embedding", "vec_id",
        threshold = 0.45)
      .orderBy("id_a", "id_b")

  private def ddEmbedNearDupLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupLsh(t(s, dir, "embeddings"), "embedding", "vec_id",
        threshold = 0.3, nPlanes = 4)
      .orderBy("id_a", "id_b")

  private def annBruteForce(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.bruteForce(emb, emb.filter(col("vec_id") < 5), "embedding", "vec_id", k = 10)
      .orderBy("qid", "rank")
  }

  private def annLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.lshTopK(emb, emb.filter(col("vec_id") < 5), "embedding", "vec_id",
        k = 10, nPlanes = 4, multiProbe = true)
      .orderBy("qid", "rank")
  }

  private def annIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.ivfTopK(emb, emb.filter(col("vec_id") < 5), "embedding", "vec_id",
        k = 10, nCentroids = 16, nProbe = 8, trainFraction = 0.25)
      .orderBy("qid", "rank")
  }

  /** IVF-PQ ([[Ann.ivfPqTopK]]): the index row the ADC scan reads is
    * cell + 16 codes (≈17 B) instead of 64 floats — the memory-scale
    * ANN configuration; exact rerank restores true cosine order on
    * the surviving candidates. Rows-only by design (approximate);
    * pinned by AnnSpec's ≥0.85 recall gate at these settings.
    */
  private def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.ivfPqTopK(emb, emb.filter(col("vec_id") < 5), "embedding", "vec_id",
        k = 10, nCentroids = 16, nProbe = 8, nSub = 16, codebookSize = 16,
        trainFraction = 0.25)
      .orderBy("qid", "rank")
  }

  private def txtTokenCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      .orderBy("doc_id")

  private def txtQuality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  private def txtLangId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id")

  /** Deterministic 256-bucket weight table shared with the oracle:
    * w(b) = ((b * 2654435761) % 1000) / 1000.0 - 0.5 (Knuth's
    * multiplicative constant — pseudo-random-looking but pure
    * integer arithmetic any engine replays exactly). A real
    * pipeline would load trained weights; the OPERATOR is identical
    * either way.
    */
  private def modelWeights: Seq[Double] =
    (0 until 256).map(b => ((b * 2654435761L) % 1000L) / 1000.0 - 0.5)

  /** Hashed-feature linear model scoring over every document
    * ([[TextFunctions.modelScore]]) — one narrow codegen'd map, the
    * weight table a baked literal; decimal-accumulated so the score
    * is partitioning-independent.
    */
  private def txtQualityModel(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.modelScore(col("text"), modelWeights, bias = 0.1)
          .as("model_score"))
      .orderBy("doc_id")

  /** Gopher-style repetition quality signals per document
    * ([[operators.TextStats.repetition]]). */
  private def txtRepetition(s: SparkSession, dir: String): DataFrame =
    operators.TextStats.repetition(t(s, dir, "documents"), "text", "doc_id")
      .orderBy("doc_id")

  /** Cross-document duplicated-n-gram coverage
    * ([[operators.TextStats.dupNgramCoverage]]): per document, the
    * fraction of its distinct word 5-grams that occur in ≥1 other
    * document — the MassiveText/RefinedWeb inter-document
    * boilerplate signal that whole-document dedup misses. One
    * gram-keyed aggregation + one gram-keyed join, both at corpus
    * cardinality.
    */
  private def txtDupNgrams(s: SparkSession, dir: String): DataFrame =
    operators.TextStats.dupNgramCoverage(
        t(s, dir, "documents"), "text", "doc_id", n = 5)
      .orderBy("doc_id")

  /** Training-sequence chunking ([[operators.Pipeline.tokenChunks]]):
    * every document cut into 16-token windows sharing 4 tokens of
    * overlap — the sequence-prep step after cleaning/sampling. Pure
    * narrow map: split + bounded explode, no shuffle at any scale.
    */
  private def pipeTokenChunks(s: SparkSession, dir: String): DataFrame =
    operators.Pipeline.tokenChunks(
        t(s, dir, "documents"), "doc_id", "text", maxLen = 16, overlap = 4)
      .orderBy("doc_id", "chunk_idx")

  /** Concat-and-chunk sequence packing
    * ([[operators.Pipeline.packSequences]]): per-shard running
    * token offsets + bounded explode into fixed 400-token training
    * sequences; the oracle replays the window and the span
    * arithmetic exactly.
    */
  private def pipePackSequences(s: SparkSession, dir: String): DataFrame =
    operators.Pipeline.packSequences(
        t(s, dir, "documents"), "doc_id", "text", maxLen = 400, nShards = 8)
      .orderBy("shard", "seq_id", "doc_id")

  /** Benchmark decontamination ([[Dedup.decontaminate]]): the
    * documents table split into a small "benchmark" slice
    * (doc_id % 97 = 0) and the training remainder; training docs
    * sharing any 24-char shingle with the benchmark are flagged
    * with their distinct-shared-shingle count. The benchmark
    * shingle set broadcasts — the training side never shuffles for
    * the probe.
    */
  private def ddDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.decontaminate(
        docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(97)) === 0),
        "text", "doc_id", n = 24)
      .orderBy("doc_id")
  }

  /** PII scrubbing over documents salted with synthetic contact
    * lines (the corpus itself is PII-free): every doc gains a
    * deterministic email + phone, the scrubber must redact exactly
    * those, and the oracle replays salt + scrub + counts byte for
    * byte. Patterns are Java/RE2-identical by construction.
    */
  private def txtPiiScrub(s: SparkSession, dir: String): DataFrame = {
    val salted = t(s, dir, "documents").withColumn("_t",
      concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com or "),
        lpad(pmod(col("doc_id"), lit(1000)), 3, "0"), lit("-555-"),
        lpad(pmod(col("doc_id") * 7, lit(10000)), 4, "0")))
    salted.select(col("doc_id"),
        TextFunctions.piiEmailCount(col("_t")).cast("long").as("n_emails"),
        TextFunctions.piiPhoneCount(col("_t")).cast("long").as("n_phones"),
        TextFunctions.scrubPii(col("_t")).as("scrubbed"))
      .orderBy("doc_id")
  }

  private def txtFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  private def mmFrames(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.sampleFrames(
        graft.multimodal.Multimodal.asMediaTable(
          t(s, dir, "documents"), "doc_id", "text"),
        frameBytes = 64, everyNth = 2)
      .select(col("media_id"), col("frame_idx"),
        length(col("frame")).cast("long").as("frame_bytes"))
      .orderBy("media_id", "frame_idx")

  /** The media table is a stored artifact: real PNG payloads written
    * once per process as a parquet binary column (media payloads live
    * in storage; a pipeline decodes them, it doesn't synthesize them
    * per query). The generator runs on executors; the fixture read
    * back is the production shape — binary column straight off
    * parquet.
    */
  private def imageTable(s: SparkSession, dir: String): DataFrame = {
    val path = "/tmp/graft_images_" + dir.replaceAll("[^0-9a-zA-Z]", "_")
    fixtureOnce(s"images:$dir") {
      // hash-spread the id column BEFORE the per-row PNG encode and
      // the write: the documents scan is one split at bench scale, so
      // an unpartitioned fixture would serialize every imageio
      // encode AND pin every later decode pass to one task. Core-count
      // file layout is the §6 "sensible output partitioning" floor —
      // deterministic (hash of doc_id), content-identical.
      graft.multimodal.Multimodal.syntheticImageTable(
          t(s, dir, "documents")
            .repartition(s.sparkContext.defaultParallelism, col("doc_id")),
          "doc_id")
        .write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path)
  }

  /** REAL image decode: one synthetic two-band PNG per document row
    * (encoded on executors), decoded back with javax.imageio; output
    * is the decoded dimensions + whole-image channel means + 2×2
    * grid-pooled luminances. The oracle predicts every value from
    * the generator's modular arithmetic — so a hash match proves the
    * PNG encode→decode→pool loop is pixel-exact.
    */
  private def mmFeatures(s: SparkSession, dir: String): DataFrame = {
    // feature cells emitted as scalar columns (sortable, as the
    // driver's row-check harness requires)
    graft.multimodal.Multimodal.decodeImageFeatures(
        imageTable(s, dir), gridRows = 2, gridCols = 2)
      .select(col("media_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        round(col("mean_r"), 4).as("mean_r"),
        round(col("mean_g"), 4).as("mean_g"),
        round(col("mean_b"), 4).as("mean_b"),
        round(element_at(col("features"), 1), 4).as("f0"),
        round(element_at(col("features"), 2), 4).as("f1"),
        round(element_at(col("features"), 3), 4).as("f2"),
        round(element_at(col("features"), 4), 4).as("f3"))
      .orderBy("media_id")
  }

  /** Gradient-PNG fixture for the perceptual-hash operators —
    * written once per process like [[imageTable]]. */
  private def gradientTable(s: SparkSession, dir: String): DataFrame = {
    val path = "/tmp/graft_gradimg_" + dir.replaceAll("[^0-9a-zA-Z]", "_")
    fixtureOnce(s"gradimages:$dir") {
      // same core-count hash layout as [[imageTable]] — parallel
      // encode at build, parallel decode on every read
      graft.multimodal.Multimodal.gradientImageTable(
          t(s, dir, "documents")
            .repartition(s.sparkContext.defaultParallelism, col("doc_id")),
          "doc_id")
        .write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path)
  }

  /** REAL perceptual hash: gradient PNGs decoded with javax.imageio,
    * 8×8 integer-exact aHash ([[graft.multimodal.Multimodal
    * .perceptualHash]]); the oracle re-derives every bit from the
    * generator's modular arithmetic, so a hash match proves the
    * decode→pool→threshold loop is pixel-exact.
    */
  private def mmPhash(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.perceptualHash(gradientTable(s, dir))
      .orderBy("media_id")

  /** Image near-dup by perceptual-hash hamming distance, banded with
    * the pigeonhole guarantee (maxHamming < nBands) — so the oracle
    * can verify the BANDED plan against a brute-force SQL hamming
    * join over the replayed hashes: banding provably loses nothing.
    */
  private def mmPhashNearDup(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.phashNearDup(gradientTable(s, dir),
        maxHamming = 3, nBands = 4)
      .orderBy("id_a", "id_b")

  /** Image near-dup CLUSTERS ([[graft.multimodal.Multimodal.phashClusters]]):
    * the M-rows-per-cluster output contract at image-corpus scale,
    * mirroring dd_clusters — components run over REPRESENTATIVE
    * (distinct-hash) pairs, members inherit, and the pair expansion
    * is never materialized. The oracle replays transitive closure
    * over the brute-force member-pair SQL, so the hash match proves
    * the rep-level shortcut computes exactly the member-level
    * components.
    */
  private def mmPhashClusters(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.phashClusters(gradientTable(s, dir),
        maxHamming = 3, nBands = 4)
      .orderBy("media_id")

  /** REAL resize: bilinear-resample every synthetic PNG so its
    * longest edge fits 16px, re-encode, then DECODE THE RESIZED
    * PAYLOAD — the reported dimensions come from parsing the
    * re-encoded PNG, so the oracle's ceil(dim·scale) prediction
    * verifies the whole decode→resample→encode→decode loop.
    */
  private def mmResize(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.decodeImageFeatures(
        graft.multimodal.Multimodal.resizeImages(imageTable(s, dir), maxDim = 16))
      .select(col("media_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"))
      .orderBy("media_id")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_filter_project" -> (q01 _),
    "q02_agg_pricing" -> (q02 _),
    "q03_join_topk" -> (q03 _),
    "q04_multi_join" -> (q04 _),
    "q05_window_topk" -> (q05 _),
    "q06_distinct" -> (q06 _),
    "q07_anti_join" -> (q07 _),
    "q08_rollup" -> (q08 _),
    "q09_json_extract" -> (q09 _),
    "q10_time_bucket" -> (q10 _),
    "q11_skew_join" -> (q11SkewJoin _),
    "ts_select_eq" -> (tsSelectEq _),
    "ts_select_cached" -> (tsSelectCached _),
    "ts_select_regex" -> (tsSelectRegex _),
    "ts_select_not_regex" -> (tsSelectNotRegex _),
    "ts_select_projected" -> (tsSelectProjected _),
    "ts_select_series" -> (tsSelectSeries _),
    "ts_histogram_quantile" -> (tsHistogramQuantile _),
    "ts_histogram_quantile_rate" -> (tsHistogramQuantileRate _),
    "ts_label_names" -> (tsLabelNames _),
    "ts_label_values" -> (tsLabelValues _),
    "ts_label_cardinality" -> (tsLabelCardinality _),
    "ts_label_values_indexed" -> (tsLabelValuesIndexed _),
    "ts_label_cardinality_sketch" -> (tsLabelCardinalitySketch _),
    "ts_label_values_ranged" -> (tsLabelValuesRanged _),
    "ts_quantile_sketch" -> (tsQuantileSketch _),
    "ts_promql_quantile_sketch" -> (tsPromqlQuantileSketch _),
    "ts_last_point" -> (tsLastPoint _),
    "ts_rate" -> (tsRate _),
    "ts_instant_align" -> (tsInstantAlign _),
    "ts_agg_by" -> (tsAggBy _),
    "ts_agg_quantile" -> (tsAggQuantile _),
    "ts_resets" -> (tsResets _),
    "ts_delta" -> (tsDelta _),
    "ts_downsample" -> (tsDownsample _),
    "ts_rollup_roundtrip" -> (tsRollupRoundtrip _),
    "ts_rollup_increase" -> (tsRollupIncrease _),
    "ts_rollup_route" -> (tsRollupRoute _),
    "ts_rollup_cascade" -> (tsRollupCascade _),
    "ts_promql_rollup_range_rate" -> (tsPromqlRollupRangeRate _),
    "ts_promql_rollup_over_time" -> (tsPromqlRollupOverTime _),
    "ts_promql_rollup_resets" -> (tsPromqlRollupResets _),
    "ts_promql_rollup_stddev" -> (tsPromqlRollupStddev _),
    "ts_promql_rollup_deriv" -> (tsPromqlRollupDeriv _),
    "ts_promql_rollup_delta" -> (tsPromqlRollupDelta _),
    "ts_promql_rollup_irate" -> (tsPromqlRollupIrate _),
    "ts_promql_rollup_idelta" -> (tsPromqlRollupIdelta _),
    "ts_promql_rollup_ts_of" -> (tsPromqlRollupTsOf _),
    "ts_promql_rollup_classic_quantile" -> (tsPromqlRollupClassicQuantile _),
    "ts_topk_series" -> (tsTopkSeries _),
    "ts_count_values" -> (tsCountValues _),
    "ts_quantile" -> (tsQuantile _),
    "ts_ratio_join" -> (tsRatioJoin _),
    "ts_group_left" -> (tsGroupLeft _),
    "ts_offset_wow" -> (tsOffsetWow _),
    "ts_changes" -> (tsChanges _),
    "ts_irate" -> (tsIrate _),
    "ts_idelta" -> (tsIdelta _),
    "ts_rate_extrapolated" -> (tsRateExtrapolated _),
    "ts_deriv" -> (tsDeriv _),
    "ts_predict_linear" -> (tsPredictLinear _),
    "ts_stddev_over_time" -> (tsStddevOverTime _),
    "ts_bottomk_series" -> (tsBottomkSeries _),
    "ts_label_replace" -> (tsLabelReplace _),
    "ts_label_join" -> (tsLabelJoin _),
    "ts_absent" -> (tsAbsent _),
    "ts_clamp" -> (tsClamp _),
    "ts_subquery_rate_max" -> (tsSubqueryRateMax _),
    "ts_holt_winters" -> (tsHoltWinters _),
    "ts_math_funcs" -> (tsMathFuncs _),
    "ts_time_group" -> (tsTimeGroup _),
    "ts_over_time_family" -> (tsOverTimeFamily _),
    "ts_schema_roundtrip" -> (tsSchemaRoundtrip _),
    "ts_schema_wide" -> (tsSchemaWide _),
    "ts_wide_select" -> (tsWideSelect _),
    "ts_merge_shards" -> (tsMergeShards _),
    "ts_merge_blocks" -> (tsMergeBlocks _),
    "ts_convert_roundtrip" -> (tsConvertRoundtrip _),
    "ts_converted_select" -> (tsConvertedSelect _),
    "ts_chunk_roundtrip" -> (tsChunkRoundtrip _),
    "ts_chunk_select" -> (tsChunkSelect _),
    "ts_shard_interop" -> (tsShardInterop _),
    "ts_shard_hist_interop" -> (tsShardHistInterop _),
    "ts_shard_nhcb_interop" -> (tsShardNhcbInterop _),
    "ts_shard_neg_interop" -> (tsShardNegInterop _),
    "ts_shard_series" -> (tsShardSeries _),
    "ts_promql_shard" -> (tsPromqlShard _),
    "ts_promql_shard_nh" -> (tsPromqlShardNh _),
    "ts_chunk_merge" -> (tsChunkMerge _),
    "ts_native_hist_quantile" -> (tsNativeHistQuantile _),
    "ts_native_hist_sum" -> (tsNativeHistSum _),
    "ts_native_hist_fraction" -> (tsNativeHistFraction _),
    "ts_native_hist_stats" -> (tsNativeHistStats _),
    "ts_native_hist_rate" -> (tsNativeHistRate _),
    "ts_native_hist_quantile_rate" -> (tsNativeHistQuantileRate _),
    "ts_nh_reset_increase" -> (tsNhResetIncrease _),
    "ts_nh_rollup_increase" -> (tsNhRollupIncrease _),
    "ts_nh_rollup_cascade" -> (tsNhRollupCascade _),
    "ts_promql_nh_rollup_quantile" -> (tsPromqlNhRollupQuantile _),
    "ts_promql_nh_reset_rate" -> (tsPromqlNhResetRate _),
    "ts_promql_nh_rollup_rate" -> (tsPromqlNhRollupRate _),
    "ts_promql_nh_rollup_delta" -> (tsPromqlNhRollupDelta _),
    "ts_promql_nh_resets" -> (tsPromqlNhResets _),
    "ts_tsdb_block_reset_cut" -> (tsTsdbBlockResetCut _),
    "ts_promql_nh_hinted_rate" -> (tsPromqlNhHintedRate _),
    "ts_agg_count_group" -> (tsAggCountGroup _),
    "ts_set_ops" -> (tsSetOps _),
    "ts_absent_over_time" -> (tsAbsentOverTime _),
    "ts_asof_join" -> (tsAsofJoin _),
    "ts_promql_rate_sum" -> (tsPromqlRateSum _),
    "ts_promql_ratio" -> (tsPromqlRatio _),
    "ts_promql_topk_offset" -> (tsPromqlTopkOffset _),
    "ts_promql_filter_and" -> (tsPromqlFilterAnd _),
    "ts_promql_range_sum" -> (tsPromqlRangeSum _),
    "ts_promql_range_rate" -> (tsPromqlRangeRate _),
    "ts_promql_range_instant" -> (tsPromqlRangeInstant _),
    "ts_promql_subquery" -> (tsPromqlSubquery _),
    "ts_promql_at_pinned" -> (tsPromqlAtPinned _),
    "ts_promql_business_days" -> (tsPromqlBusinessDays _),
    "ts_promql_absent_range" -> (tsPromqlAbsentRange _),
    "ts_promql_scalar" -> (tsPromqlScalar _),
    "ts_promql_limitk" -> (tsPromqlLimitk _),
    "ts_promql_limit_ratio" -> (tsPromqlLimitRatio _),
    "ts_promql_mad" -> (tsPromqlMad _),
    "ts_promql_ts_of" -> (tsPromqlTsOf _),
    "ts_promql_first_over_time" -> (tsPromqlFirstOverTime _),
    "ts_promql_group_right" -> (tsPromqlGroupRight _),
    "ts_promql_sort" -> (tsPromqlSort _),
    "ts_promql_sort_by_label" -> (tsPromqlSortByLabel _),
    "ts_hist_chunk_roundtrip" -> (tsHistChunkRoundtrip _),
    "ts_float_hist_roundtrip" -> (tsFloatHistRoundtrip _),
    "ts_hist_chunk_select" -> (tsHistChunkSelect _),
    "ts_float_hist_select" -> (tsFloatHistSelect _),
    "ts_tsdb_block_roundtrip" -> (tsTsdbBlockRoundtrip _),
    "ts_tsdb_block_select" -> (tsTsdbBlockSelect _),
    "ts_tsdb_block_convert" -> (tsTsdbBlockConvert _),
    "ts_tsdb_block_nh_roundtrip" -> (tsTsdbBlockNhRoundtrip _),
    "ts_tsdb_block_nh_select" -> (tsTsdbBlockNhSelect _),
    "ts_tsdb_block_fh_roundtrip" -> (tsTsdbBlockFhRoundtrip _),
    "ts_tsdb_block_nh_convert" -> (tsTsdbBlockNhConvert _),
    "ts_tsdb_block_nhcb_roundtrip" -> (tsTsdbBlockNhcbRoundtrip _),
    "ts_tsdb_block_nhcb_select" -> (tsTsdbBlockNhcbSelect _),
    "ts_tsdb_block_nhcb_convert" -> (tsTsdbBlockNhcbConvert _),
    "ts_nhcb_quantile" -> (tsNhcbQuantile _),
    "ts_promql_nhcb_quantile" -> (tsPromqlNhcbQuantile _),
    "ts_promql_nhcb_count_increase" -> (tsPromqlNhcbCountIncrease _),
    "ts_tsdb_block_neg_roundtrip" -> (tsTsdbBlockNegRoundtrip _),
    "ts_nh_neg_quantile" -> (tsNhNegQuantile _),
    "ts_tsdb_block_neg_convert" -> (tsTsdbBlockNegConvert _),
    "ts_nh_neg_stats" -> (tsNhNegStats _),
    "ts_promql_neg_quantile" -> (tsPromqlNegQuantile _),
    "ts_promql_neg_count_rate" -> (tsPromqlNegCountRate _),
    "ts_promql_neg_delta" -> (tsPromqlNegDelta _),
    "ts_promql_tsdb_blocks" -> (tsPromqlTsdbBlocks _),
    "ts_promql_tsdb_rollup" -> (tsPromqlTsdbRollup _),
    "ts_promql_nh_blocks" -> (tsPromqlNhBlocks _),
    "ts_promql_info" -> (tsPromqlInfo _),
    "ts_promql_nh_chunked" -> (tsPromqlNhChunked _),
    "ts_promql_nh_quantile_rate" -> (tsPromqlNhQuantileRate _),
    "ts_promql_nh_sum_quantile" -> (tsPromqlNhSumQuantile _),
    "ts_promql_nh_avg" -> (tsPromqlNhAvg _),
    "ts_promql_nh_stdvar" -> (tsPromqlNhStdvar _),
    "ts_promql_nh_fraction" -> (tsPromqlNhFraction _),
    "dd_exact" -> (ddExact _),
    "dd_ngram_jaccard" -> (ddNgramJaccard _),
    "dd_clusters" -> (ddClusters _),
    "pipe_corpus_clean" -> (pipeCorpusClean _),
    "pipe_corpus_clean_minhash" -> (pipeCorpusCleanMinhash _),
    "pipe_sample_mix" -> (pipeSampleMix _),
    "dd_minhash_lsh" -> (ddMinhashLsh _),
    "dd_minhash_neardup" -> (ddMinhashNearDup _),
    "dd_simhash" -> (ddSimhash _),
    "dd_substring" -> (ddSubstring _),
    "dd_embed_neardup" -> (ddEmbedNearDup _),
    "dd_embed_neardup_lsh" -> (ddEmbedNearDupLsh _),
    "ann_bruteforce" -> (annBruteForce _),
    "ann_lsh" -> (annLsh _),
    "ann_ivf" -> (annIvf _),
    "ann_ivf_pq" -> (annIvfPq _),
    "txt_token_count" -> (txtTokenCount _),
    "txt_quality" -> (txtQuality _),
    "txt_lang_id" -> (txtLangId _),
    "txt_fingerprint" -> (txtFingerprint _),
    "txt_quality_model" -> (txtQualityModel _),
    "txt_repetition" -> (txtRepetition _),
    "txt_dup_ngrams" -> (txtDupNgrams _),
    "pipe_token_chunks" -> (pipeTokenChunks _),
    "pipe_pack_sequences" -> (pipePackSequences _),
    "txt_pii_scrub" -> (txtPiiScrub _),
    "dd_decontaminate" -> (ddDecontaminate _),
    "mm_features" -> (mmFeatures _),
    "mm_frames" -> (mmFrames _),
    "mm_resize" -> (mmResize _),
    "mm_phash" -> (mmPhash _),
    "mm_phash_neardup" -> (mmPhashNearDup _),
    "mm_phash_clusters" -> (mmPhashClusters _),
  )

  /** DuckDB oracle SQL per query (omitted → driver does a rows-only
    * check). Each mirrors the Spark plan's arithmetic EXACTLY: same
    * aliases, same decimal-accumulate-then-double pattern, same
    * rounding, same order of floating-point operations.
    */
  /** The ngram-Jaccard pair pipeline as a CTE list, shared between
    * the dd_ngram_jaccard oracle and the dd_clusters oracle (which
    * runs transitive closure over the same `expanded` pair set).
    */
  private def ngramPairCtes(src: String = "documents"): String =
    s"""keyed AS (SELECT doc_id, text, sha256(text) AS ck FROM $src),
      |grp AS (SELECT ck, min(doc_id) AS rid, min(text) AS text
      |        FROM keyed GROUP BY ck),
      |members AS (SELECT ck, doc_id AS mid FROM keyed),
      |pos AS (
      |  SELECT rid AS doc_id, text,
      |    unnest(range(1, greatest(length(text) - 3, 1) + 1)) AS i
      |  FROM grp),
      |sh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 4) AS shingle FROM pos),
      |capped AS (
      |  SELECT doc_id, shingle FROM (
      |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df FROM sh)
      |  WHERE df <= 100),
      |sizes AS (SELECT doc_id, count(*) AS n_sh FROM capped GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS rid_a, b.doc_id AS rid_b, count(*) AS inter
      |  FROM capped a JOIN capped b USING (shingle)
      |  WHERE a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |reppairs AS (
      |  SELECT rid_a, rid_b, jaccard FROM (
      |    SELECT rid_a, rid_b,
      |      round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 4) AS jaccard
      |    FROM inter
      |    JOIN sizes sa ON sa.doc_id = rid_a
      |    JOIN sizes sb ON sb.doc_id = rid_b)
      |  WHERE jaccard >= 0.8),
      |expanded AS (
      |  SELECT least(ma.mid, mb.mid) AS id_a,
      |    greatest(ma.mid, mb.mid) AS id_b, jaccard
      |  FROM reppairs
      |  JOIN grp ga ON ga.rid = rid_a
      |  JOIN members ma ON ma.ck = ga.ck
      |  JOIN grp gb ON gb.rid = rid_b
      |  JOIN members mb ON mb.ck = gb.ck
      |  UNION ALL
      |  SELECT m1.mid, m2.mid, 1.0
      |  FROM members m1 JOIN members m2
      |    ON m1.ck = m2.ck AND m1.mid < m2.mid)""".stripMargin

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

  private val nhQuantileRateSql: String =
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

  /** [[nhQuantileRateSql]] for the BLOCK-backed variant
    * (`ts_promql_nh_blocks`): labels travel through block bytes as
    * strings, so user_id casts to VARCHAR and orders
    * lexicographically. The rate/walk arithmetic is identical —
    * union-padded zero buckets rate to 0 and never displace the
    * walk. */
  private val nhQuantileRateBlockSql: String = {
    val s = nhQuantileRateSql
      .replace("SELECT t.event_type, t.user_id,",
        "SELECT t.event_type, CAST(t.user_id AS VARCHAR) AS user_id,")
      .replace("ORDER BY t.event_type, t.user_id",
        "ORDER BY t.event_type, CAST(t.user_id AS VARCHAR)")
    require(s != nhQuantileRateSql, "oracle rewrite did not apply")
    s
  }

  private val phashCtes: String =
    """px AS (
      |  SELECT doc_id AS media_id,
      |    (doc_id % 37) + 12 AS w, 2 * ((doc_id % 12) + 5) AS h,
      |    2 + doc_id % 5 AS a, 3 + doc_id % 7 AS b, doc_id % 256 AS base
      |  FROM documents),
      |ys AS (SELECT media_id, w, h, a, b, base,
      |         CAST(unnest(range(0, h)) AS INT) AS y FROM px),
      |pts AS (SELECT media_id, w, h, a, b, base, y,
      |          CAST(unnest(range(0, w)) AS INT) AS x FROM ys),
      |cl AS (
      |  SELECT media_id,
      |    least(CAST((y * 8) // h AS INT), 7) AS gy,
      |    least(CAST((x * 8) // w AS INT), 7) AS gx,
      |    w * h AS n,
      |    3 * ((x * a + y * b + base) % 256) AS lum
      |  FROM pts),
      |cells AS (
      |  SELECT media_id, gy, gx,
      |    sum(lum) AS cellsum, count(*) AS celln, max(n) AS n
      |  FROM cl GROUP BY 1, 2, 3),
      |tot AS (SELECT media_id, sum(cellsum) AS total FROM cells GROUP BY 1),
      |bits AS (
      |  SELECT media_id, gy,
      |    CAST(sum(CASE WHEN cellsum * n > total * celln
      |         THEN (CAST(1 AS BIGINT) << gx) ELSE 0 END) AS BIGINT) AS bv
      |  FROM cells JOIN tot USING (media_id)
      |  GROUP BY 1, 2),
      |ph AS (
      |  SELECT media_id,
      |    max(CASE WHEN gy = 0 THEN bv END) AS b0,
      |    max(CASE WHEN gy = 1 THEN bv END) AS b1,
      |    max(CASE WHEN gy = 2 THEN bv END) AS b2,
      |    max(CASE WHEN gy = 3 THEN bv END) AS b3,
      |    max(CASE WHEN gy = 4 THEN bv END) AS b4,
      |    max(CASE WHEN gy = 5 THEN bv END) AS b5,
      |    max(CASE WHEN gy = 6 THEN bv END) AS b6,
      |    max(CASE WHEN gy = 7 THEN bv END) AS b7
      |  FROM bits GROUP BY 1)""".stripMargin

  /** Transitive closure over `expanded`'s pair set (recursive CTE):
    * `reach` maps every node in an edge to everything reachable from
    * it. Shared by the dd_clusters oracle (min-reachable labelling)
    * and the pipe_corpus_clean oracle (drop members with a smaller
    * reachable id).
    */
  private val closureCtes: String =
    """edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM expanded
      |  UNION
      |  SELECT id_b, id_a FROM expanded),
      |reach AS (
      |  SELECT src AS node, dst AS r FROM edges
      |  UNION
      |  SELECT rr.node, e.dst FROM reach rr JOIN edges e ON rr.r = e.src)""".stripMargin

  /** Stopword-score CTE + language-CASE CTE — the txt_lang_id
    * formulas, shared verbatim with pipe_corpus_clean. Plain literal
    * + replace so the `\b` word boundaries survive (an s-interpolator
    * would eat them as escapes).
    */
  private def langCtes(src: String): String =
    """ls AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|to|and|in|is)\b')) AS INT) AS s_en,
      |    CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|nicht|ein)\b')) AS INT) AS s_de,
      |    CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|et|des|une)\b')) AS INT) AS s_fr,
      |    CAST(len(regexp_extract_all(lower(text), '\b(el|los|las|y|que|una)\b')) AS INT) AS s_es,
      |    CAST(len(regexp_extract_all(lower(text), '\b(de|shi|bu|le|wo|zai)\b')) AS INT) AS s_zh
      |  FROM __SRC__),
      |lang_pred AS (
      |  SELECT doc_id,
      |    CASE WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
      |         WHEN s_de = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
      |         WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
      |         WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
      |         ELSE 'zh' END AS lang_pred
      |  FROM ls)""".stripMargin.replace("__SRC__", src)

  /** The quality-score SQL expression over a `text` column — the
    * txt_quality formula, shared verbatim with pipe_corpus_clean.
    */
  private val qualitySqlExpr: String =
    """round(
      |    least(CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS DOUBLE) / 100.0, 1.0) * 0.5
      |    + (1.0 - least((CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
      |                    / CAST(greatest(length(text), 1) AS DOUBLE)) * 10.0, 1.0)) * 0.25
      |    + least((CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|to|and|in|is)\b')) AS DOUBLE)
      |             / greatest(CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS DOUBLE), 1.0)) * 5.0, 1.0) * 0.25,
      |  4)""".stripMargin

  /** Composed oracle for both corpusClean variants: every stage
    * replayed with the SAME SQL formulas that hash-match
    * individually (txt_lang_id, txt_quality, dd_exact, dd_clusters).
    */
  private lazy val corpusCleanOracle: String =
    s"""WITH RECURSIVE ${langCtes("documents")},
      |scored AS (
      |  SELECT doc_id, text, lang_pred AS lang,
      |    $qualitySqlExpr AS quality,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
      |  FROM documents JOIN lang_pred USING (doc_id)),
      |gated AS (SELECT * FROM scored WHERE lang = 'en' AND quality >= 0.5),
      |uniq AS (
      |  SELECT doc_id, text, lang, quality, n_tokens FROM (
      |    SELECT *, row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
      |    FROM gated)
      |  WHERE rn = 1),
      |${ngramPairCtes("uniq")},
      |$closureCtes,
      |bad AS (SELECT node FROM reach GROUP BY node HAVING min(r) < node)
      |SELECT doc_id, lang, quality, n_tokens FROM uniq
      |WHERE doc_id NOT IN (SELECT node FROM bad)
      |ORDER BY doc_id""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '2000-01-01' AND l_quantity < 10
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q02_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE), 2) AS sum_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE), 2) AS sum_base_price,
        |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,8))) AS DOUBLE), 2) AS sum_disc_price,
        |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(30,8))) AS DOUBLE), 2) AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) / count(*) AS avg_price,
        |  CAST(sum(CAST(l_discount AS DECIMAL(30,8))) AS DOUBLE) / count(*) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q03_join_topk" ->
      """SELECT l_orderkey,
        |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,8))) AS DOUBLE), 2) AS revenue,
        |  epoch_ms(o_orderdate) AS o_date_ms
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q04_multi_join" ->
      """SELECT n_name,
        |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,8))) AS DOUBLE), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "q05_window_topk" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_orderpriority, rn""".stripMargin,
    "q06_distinct" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "q07_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q08_rollup" ->
      """SELECT coalesce(o_orderstatus, '(all)') AS status,
        |  coalesce(o_orderpriority, '(all)') AS priority,
        |  count(*) AS n_orders,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE), 2) AS total_price
        |FROM orders
        |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "q09_json_extract" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) / count(*) AS avg_k
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q10_time_bucket" ->
      """SELECT event_type, epoch_ms(date_trunc('hour', ts)) AS bucket_ms,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) / count(*) AS avg_value,
        |  max(value) AS max_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY event_type, bucket_ms""".stripMargin,
    "q11_skew_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE), 2) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "ts_select_eq" ->
      """SELECT event_type, user_id, value, epoch_ms(ts) AS ts_ms
        |FROM events
        |WHERE event_type = 'click'
        |  AND ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-20'
        |ORDER BY ts_ms, user_id, value""".stripMargin,
    "ts_select_cached" ->
      """SELECT event_type, user_id, value, epoch_ms(ts) AS ts_ms
        |FROM events
        |WHERE event_type = 'view'
        |  AND ts >= TIMESTAMP '2024-01-03' AND ts < TIMESTAMP '2024-01-25'
        |ORDER BY ts_ms, user_id, value""".stripMargin,
    "ts_converted_select" ->
      """SELECT event_type, user_id, value, epoch_ms(ts) AS ts_ms
        |FROM events
        |WHERE event_type = 'view'
        |  AND ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-20'
        |ORDER BY ts_ms, user_id, value""".stripMargin,
    "ts_select_regex" ->
      """SELECT event_type, user_id, value, epoch_ms(ts) AS ts_ms
        |FROM events
        |WHERE event_type IN ('click', 'view')
        |  AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-10'
        |ORDER BY ts_ms, user_id, value""".stripMargin,
    "ts_select_not_regex" ->
      """SELECT event_type, user_id, value, epoch_ms(ts) AS ts_ms
        |FROM (
        |  SELECT * FROM events
        |  WHERE NOT regexp_full_match(coalesce(event_type, ''), 'c.*')
        |    AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-31'
        |  ORDER BY event_type, user_id, ts, value
        |  LIMIT 500)
        |ORDER BY event_type, user_id, ts_ms""".stripMargin,
    "ts_select_projected" ->
      """SELECT event_type, value, epoch_ms(ts) AS ts_ms
        |FROM (
        |  SELECT event_type, ts, value FROM events
        |  WHERE event_type = 'purchase'
        |    AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-31'
        |  ORDER BY event_type, ts, value
        |  LIMIT 200)
        |ORDER BY event_type, ts_ms, value""".stripMargin,
    "ts_select_series" ->
      """SELECT event_type, user_id FROM (
        |  SELECT DISTINCT event_type, user_id FROM events
        |  WHERE event_type IN ('click', 'view', 'purchase')
        |    AND ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-20')
        |ORDER BY event_type, user_id""".stripMargin,
    "ts_histogram_quantile" ->
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
        |ORDER BY event_type""".stripMargin,
    // replays tsHistogramQuantileRate: day-grain bucket increments →
    // cumulative counter → positive-delta increase → /range → the
    // same interpolation over the rated buckets
    "ts_histogram_quantile_rate" ->
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
        |ORDER BY event_type""".stripMargin,
    "ts_label_names" ->
      """SELECT label_name FROM (
        |  SELECT 'event_type' AS label_name, count(event_type) AS c
        |  FROM events WHERE event_type = 'error'
        |  UNION ALL
        |  SELECT 'user_id', count(user_id) FROM events WHERE event_type = 'error')
        |WHERE c > 0
        |ORDER BY label_name""".stripMargin,
    "ts_label_values" ->
      """SELECT CAST(event_type AS VARCHAR) AS label_value
        |FROM (SELECT DISTINCT event_type FROM events
        |      WHERE event_type IS NOT NULL AND event_type <> '')
        |ORDER BY label_value
        |LIMIT 3""".stripMargin,
    // negated-regex matcher replayed (RE2/Java-identical pattern),
    // one count(DISTINCT) per label column
    "ts_label_cardinality" ->
      """WITH m AS (
        |  SELECT event_type, user_id FROM events
        |  WHERE NOT regexp_full_match(coalesce(event_type, ''), 'err.*'))
        |SELECT 'event_type' AS label_name,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS cardinality FROM m
        |UNION ALL
        |SELECT 'user_id', CAST(count(DISTINCT user_id) AS BIGINT) FROM m
        |ORDER BY label_name""".stripMargin,
    // the index-served label metadata: the oracle runs the RAW
    // distinct-scans the index must reproduce exactly
    "ts_label_values_indexed" ->
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
        |ORDER BY kind, label_name, detail""".stripMargin,
    // CONTRACT gate (sketch-op convention): the engine output is the
    // per-label boolean |approx − exact| ≤ 5%·exact from the HLL
    // sketch layer at lgK=14 (≈6σ); the oracle states the contract —
    // a hash mismatch means a sketch regression past the bound
    "ts_label_cardinality_sketch" ->
      """SELECT label_name, TRUE AS within_5pct FROM (
        |  SELECT 'event_type' AS label_name
        |  UNION ALL SELECT 'user_id')
        |ORDER BY label_name""".stripMargin,
    // the querier-scoped enumeration: raw distinct-scans restricted
    // to the same [Jan 5, Jan 20) range the scoped queryable holds
    "ts_label_values_ranged" ->
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
        |ORDER BY kind, label_name, detail""".stripMargin,
    // CONTRACT gate (sketch-op convention): the engine output is the
    // per-series boolean that the GK-sketch p90's RANK lies within
    // ±2ε·n of 0.9·n over the same 20-day range; the oracle states
    // the contract — a mismatch means the sketch bound broke
    "ts_quantile_sketch" ->
      """SELECT DISTINCT event_type, TRUE AS rank_within_2pct
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-25'
        |ORDER BY event_type""".stripMargin,
    // the front-end twin at full series grain — same contract, the
    // oracle states it holds for every series with samples in range
    "ts_promql_quantile_sketch" ->
      """SELECT DISTINCT event_type, user_id, TRUE AS rank_within_2pct
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-25'
        |ORDER BY event_type, user_id""".stripMargin,
    "ts_last_point" ->
      """SELECT event_type, user_id, epoch_ms(ts) AS ts_ms, value, event_id
        |FROM (SELECT *, row_number() OVER (PARTITION BY event_type, user_id
        |                                   ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1
        |ORDER BY event_type, user_id""".stripMargin,
    "ts_rate" ->
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
        |ORDER BY event_type, user_id""".stripMargin,
    "ts_instant_align" ->
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
        |ORDER BY event_type, user_id, step_ms""".stripMargin,
    "ts_agg_by" ->
      """SELECT event_type, epoch_ms(date_trunc('day', ts)) AS bucket_ms,
        |  round(CAST(sum(value) AS DOUBLE), 4) AS sum_value,
        |  min(value) AS min_value, max(value) AS max_value,
        |  count(*) AS n_series_samples
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY event_type, bucket_ms""".stripMargin,
    // replays aggregateDistBy: quantile_cont ≡ Spark percentile,
    // exact-decimal mean, stdvarOverTime's population-variance widths
    "ts_agg_quantile" ->
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
        |ORDER BY event_type, bucket_ms""".stripMargin,
    "ts_resets" ->
      """SELECT event_type, user_id,
        |  CAST(sum(CASE WHEN value < prev THEN 1 ELSE 0 END) AS BIGINT) AS resets
        |FROM (SELECT event_type, user_id, value,
        |        lag(value) OVER (PARTITION BY event_type, user_id
        |                         ORDER BY ts, event_id) AS prev
        |      FROM events)
        |GROUP BY event_type, user_id
        |ORDER BY event_type, user_id""".stripMargin,
    "ts_delta" ->
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
        |ORDER BY event_type, user_id""".stripMargin,
    "ts_downsample" ->
      """SELECT event_type, user_id,
        |  epoch_ms(date_trunc('day', ts)) AS bucket_ms,
        |  CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) / count(*) AS avg_value,
        |  max(value) AS max_value, count(*) AS n_samples
        |FROM events
        |GROUP BY 1, 2, 3
        |ORDER BY event_type, user_id, bucket_ms""".stripMargin,
    // rollup roundtrip: the identical per-(series, day) fold over raw
    // — lag deltas under reset semantics ordered (ts, value), decimal
    // -exact sums, boundary samples by the same (ts, value) tiebreak
    "ts_rollup_roundtrip" ->
      """WITH w AS (
        |  SELECT event_type, user_id, ts, value,
        |    (epoch_ms(ts) // 86400000) * 86400000 AS window_ms
        |  FROM events),
        |d AS (
        |  SELECT *, lag(value) OVER (
        |    PARTITION BY event_type, user_id, window_ms
        |    ORDER BY ts, value) AS pv,
        |    row_number() OVER (
        |    PARTITION BY event_type, user_id, window_ms
        |    ORDER BY ts DESC, value DESC) AS rnd
        |  FROM w),
        |m AS (
        |  SELECT event_type, user_id, window_ms,
        |    min(ts) AS mnts, max(ts) AS mxts,
        |    min(value) AS mnv,
        |    coalesce(max(value) FILTER (WHERE NOT isnan(value)),
        |             'NaN'::DOUBLE) AS mxnn
        |  FROM w GROUP BY 1, 2, 3)
        |SELECT d.event_type, d.user_id, d.window_ms,
        |  count(*) AS n,
        |  CAST(sum(CAST(d.value AS DECIMAL(30,8))) AS DOUBLE) AS sum_v,
        |  min(d.value) AS min_v, max(d.value) AS max_v,
        |  epoch_ms(m.mnts) AS first_ts_ms,
        |  min(CASE WHEN d.ts = m.mnts THEN d.value END) AS first_v,
        |  epoch_ms(m.mxts) AS last_ts_ms,
        |  max(CASE WHEN d.ts = m.mxts THEN d.value END) AS last_v,
        |  max(CASE WHEN d.rnd = 2 THEN epoch_ms(d.ts) END) AS prev_ts_ms,
        |  max(CASE WHEN d.rnd = 2 THEN d.value END) AS prev_v,
        |  max(CASE WHEN d.value = m.mnv THEN epoch_ms(d.ts) END)
        |    AS vmin_ts_ms,
        |  m.mxnn AS vmax_nn,
        |  max(CASE WHEN d.value = m.mxnn THEN epoch_ms(d.ts) END)
        |    AS vmax_ts_ms,
        |  CAST(sum(CAST(CASE WHEN d.pv IS NULL THEN 0
        |    WHEN d.value >= d.pv THEN d.value - d.pv
        |    ELSE d.value END AS DECIMAL(30,8))) AS DOUBLE) AS inc,
        |  CAST(sum(CASE WHEN d.pv IS NOT NULL AND d.value < d.pv
        |    THEN 1 ELSE 0 END) AS BIGINT) AS resets,
        |  CAST(sum(CASE WHEN d.pv IS NOT NULL AND d.value <> d.pv
        |    THEN 1 ELSE 0 END) AS BIGINT) AS changes
        |FROM d JOIN m USING (event_type, user_id, window_ms)
        |GROUP BY d.event_type, d.user_id, d.window_ms, m.mnts, m.mxts, m.mnv, m.mxnn
        |ORDER BY d.event_type, d.user_id, d.window_ms""".stripMargin,
    // the CASCADED 1d layer (built from the 1h layer, raw never
    // rescanned) must replay the identical raw lag fold — same SQL
    // as the direct roundtrip gate by design
    "ts_rollup_cascade" ->
      """WITH w AS (
        |  SELECT event_type, user_id, ts, value,
        |    (epoch_ms(ts) // 86400000) * 86400000 AS window_ms
        |  FROM events),
        |d AS (
        |  SELECT *, lag(value) OVER (
        |    PARTITION BY event_type, user_id, window_ms
        |    ORDER BY ts, value) AS pv,
        |    row_number() OVER (
        |    PARTITION BY event_type, user_id, window_ms
        |    ORDER BY ts DESC, value DESC) AS rnd
        |  FROM w),
        |m AS (
        |  SELECT event_type, user_id, window_ms,
        |    min(ts) AS mnts, max(ts) AS mxts,
        |    min(value) AS mnv,
        |    coalesce(max(value) FILTER (WHERE NOT isnan(value)),
        |             'NaN'::DOUBLE) AS mxnn
        |  FROM w GROUP BY 1, 2, 3)
        |SELECT d.event_type, d.user_id, d.window_ms,
        |  count(*) AS n,
        |  CAST(sum(CAST(d.value AS DECIMAL(30,8))) AS DOUBLE) AS sum_v,
        |  min(d.value) AS min_v, max(d.value) AS max_v,
        |  epoch_ms(m.mnts) AS first_ts_ms,
        |  min(CASE WHEN d.ts = m.mnts THEN d.value END) AS first_v,
        |  epoch_ms(m.mxts) AS last_ts_ms,
        |  max(CASE WHEN d.ts = m.mxts THEN d.value END) AS last_v,
        |  max(CASE WHEN d.rnd = 2 THEN epoch_ms(d.ts) END) AS prev_ts_ms,
        |  max(CASE WHEN d.rnd = 2 THEN d.value END) AS prev_v,
        |  max(CASE WHEN d.value = m.mnv THEN epoch_ms(d.ts) END)
        |    AS vmin_ts_ms,
        |  m.mxnn AS vmax_nn,
        |  max(CASE WHEN d.value = m.mxnn THEN epoch_ms(d.ts) END)
        |    AS vmax_ts_ms,
        |  CAST(sum(CAST(CASE WHEN d.pv IS NULL THEN 0
        |    WHEN d.value >= d.pv THEN d.value - d.pv
        |    ELSE d.value END AS DECIMAL(30,8))) AS DOUBLE) AS inc,
        |  CAST(sum(CASE WHEN d.pv IS NOT NULL AND d.value < d.pv
        |    THEN 1 ELSE 0 END) AS BIGINT) AS resets,
        |  CAST(sum(CASE WHEN d.pv IS NOT NULL AND d.value <> d.pv
        |    THEN 1 ELSE 0 END) AS BIGINT) AS changes
        |FROM d JOIN m USING (event_type, user_id, window_ms)
        |GROUP BY d.event_type, d.user_id, d.window_ms, m.mnts, m.mxts, m.mnv, m.mxnn
        |ORDER BY d.event_type, d.user_id, d.window_ms""".stripMargin,
    // stitched increase ≡ the same reset-aware lag fold over the raw
    // range (consecutive pairs = within-window + boundary pairs);
    // windows = distinct days with samples
    "ts_rollup_increase" ->
      """WITH w AS (
        |  SELECT event_type, user_id, ts, value
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-25'),
        |d AS (
        |  SELECT *, lag(value) OVER (
        |    PARTITION BY event_type, user_id ORDER BY ts, value) AS pv
        |  FROM w)
        |SELECT event_type, user_id,
        |  CAST(sum(CAST(CASE WHEN pv IS NULL THEN 0
        |    WHEN value >= pv THEN value - pv
        |    ELSE value END AS DECIMAL(30,8))) AS DOUBLE) AS increase,
        |  count(DISTINCT (epoch_ms(ts) // 86400000)) AS windows
        |FROM d GROUP BY 1, 2
        |ORDER BY event_type, user_id""".stripMargin,
    // rollup-SERVED range rate: the oracle replays the raw-sample
    // extrapolation ladder (same replay the un-routed range_rate
    // gate uses, 5d windows) — the routed plan must reproduce it
    // from the 1-day layer alone
    "ts_promql_rollup_range_rate" ->
      """WITH steps AS (
        |  SELECT range AS step_ms
        |  FROM range(1704844800000, 1706572800001, 432000000)),
        |d AS (
        |  SELECT s.step_ms, e.event_type, e.user_id, e.value,
        |    epoch_ms(e.ts) AS ts_ms,
        |    lag(e.value) OVER w AS prev,
        |    row_number() OVER w AS rn
        |  FROM steps s JOIN events e
        |    ON e.ts >= epoch_ms(s.step_ms - 432000000)
        |   AND e.ts < epoch_ms(s.step_ms)
        |  WINDOW w AS (PARTITION BY s.step_ms, e.event_type, e.user_id
        |               ORDER BY e.ts, e.event_id)),
        |agg AS (
        |  SELECT step_ms, event_type, user_id,
        |    CAST(sum(CAST(CASE WHEN prev IS NULL THEN 0.0
        |                       WHEN value >= prev THEN value - prev
        |                       ELSE value END AS DECIMAL(30,8))) AS DOUBLE) AS inc,
        |    min(ts_ms) AS first_ms, max(ts_ms) AS last_ms,
        |    max(CASE WHEN rn = 1 THEN value END) AS first_v,
        |    count(*) AS n
        |  FROM d GROUP BY step_ms, event_type, user_id
        |  HAVING count(*) >= 2 AND max(ts_ms) > min(ts_ms)),
        |ext AS (
        |  SELECT step_ms, event_type, inc, n, first_v,
        |    CAST(last_ms - first_ms AS DOUBLE) AS sampled,
        |    CAST(last_ms - first_ms AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS avg_sp,
        |    CAST(first_ms - (step_ms - 432000000) AS DOUBLE) AS to_start_raw,
        |    CAST(step_ms - last_ms AS DOUBLE) AS to_end
        |  FROM agg),
        |fin AS (
        |  SELECT step_ms, event_type, inc, sampled, avg_sp, to_end,
        |    avg_sp * 1.1 AS threshold,
        |    least(CASE WHEN inc > 0 AND first_v >= 0
        |               THEN sampled * (first_v / inc)
        |               ELSE to_start_raw END, to_start_raw) AS to_start
        |  FROM ext),
        |rates AS (
        |  SELECT step_ms, event_type,
        |    floor((inc * ((sampled
        |        + (CASE WHEN to_start < threshold THEN to_start ELSE avg_sp / 2 END)
        |        + (CASE WHEN to_end < threshold THEN to_end ELSE avg_sp / 2 END))
        |      / sampled) / 432000.0) / 0.00000001 + 0.5) * 0.00000001 AS rate
        |  FROM fin)
        |SELECT event_type, step_ms,
        |  CAST(sum(CAST(rate AS DECIMAL(30,8))) AS DOUBLE) AS rate_sum
        |FROM rates GROUP BY event_type, step_ms
        |ORDER BY event_type, step_ms""".stripMargin,
    // rollup-served avg_over_time under sum by: straight from raw
    "ts_promql_rollup_over_time" ->
      """WITH steps AS (
        |  SELECT range AS step_ms
        |  FROM range(1704844800000, 1706572800001, 432000000)),
        |p AS (
        |  SELECT s.step_ms, e.event_type, e.user_id,
        |    CAST(sum(CAST(e.value AS DECIMAL(30,8))) AS DOUBLE) / count(*) AS avg_v
        |  FROM steps s JOIN events e
        |    ON e.ts >= epoch_ms(s.step_ms - 432000000)
        |   AND e.ts < epoch_ms(s.step_ms)
        |  GROUP BY 1, 2, 3)
        |SELECT event_type, step_ms,
        |  CAST(sum(CAST(avg_v AS DECIMAL(30,8))) AS DOUBLE) AS avg_sum
        |FROM p GROUP BY 1, 2
        |ORDER BY event_type, step_ms""".stripMargin,
    // blocks -> layer -> routed grid: byte decode + layer build +
    // routed reconstruction must together replay the raw answer —
    // the SAME oracle as the raw-layer routed gate by design
    "ts_promql_tsdb_rollup" ->
      """WITH steps AS (
        |  SELECT range AS step_ms
        |  FROM range(1704844800000, 1706572800001, 432000000)),
        |p AS (
        |  SELECT s.step_ms, e.event_type, e.user_id,
        |    CAST(sum(CAST(e.value AS DECIMAL(30,8))) AS DOUBLE) / count(*) AS avg_v
        |  FROM steps s JOIN events e
        |    ON e.ts >= epoch_ms(s.step_ms - 432000000)
        |   AND e.ts < epoch_ms(s.step_ms)
        |  GROUP BY 1, 2, 3)
        |SELECT event_type, step_ms,
        |  CAST(sum(CAST(avg_v AS DECIMAL(30,8))) AS DOUBLE) AS avg_sum
        |FROM p GROUP BY 1, 2
        |ORDER BY event_type, step_ms""".stripMargin,
    // routed resets/changes: the raw lag-fold counts over the same
    // range the rollup path serves from stored pair counts + seams
    "ts_promql_rollup_resets" ->
      """WITH w AS (
        |  SELECT event_type, user_id, ts, value
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-27' AND ts < TIMESTAMP '2024-02-01'),
        |d AS (
        |  SELECT *, lag(value) OVER (
        |    PARTITION BY event_type, user_id ORDER BY ts, value) AS pv
        |  FROM w)
        |SELECT event_type, user_id,
        |  CAST(sum(CASE WHEN pv IS NOT NULL AND value < pv
        |    THEN 1 ELSE 0 END) AS DOUBLE) AS resets,
        |  CAST(sum(CASE WHEN pv IS NOT NULL AND value <> pv
        |    THEN 1 ELSE 0 END) AS DOUBLE) AS changes
        |FROM d GROUP BY 1, 2
        |ORDER BY event_type, user_id""".stripMargin,
    // routed stdvar/stddev: raw closed form over the same 5d window
    "ts_promql_rollup_stddev" ->
      """WITH s AS (
        |  SELECT event_type, user_id,
        |    CAST(count(*) AS DECIMAL(6,0)) AS n,
        |    CAST(sum(y) AS DECIMAL(16,8)) AS sy,
        |    CAST(sum(CAST(CAST(y AS DECIMAL(19,8)) * y AS DECIMAL(30,16)))
        |      AS DECIMAL(31,16)) AS syy
        |  FROM (SELECT event_type, user_id,
        |          CAST(value AS DECIMAL(18,8)) AS y FROM events
        |        WHERE ts >= TIMESTAMP '2024-01-27'
        |          AND ts < TIMESTAMP '2024-02-01')
        |  GROUP BY 1, 2)
        |SELECT event_type, user_id,
        |  round(CAST(CAST(n * syy - CAST(sy AS DECIMAL(19,8)) * sy
        |          AS DECIMAL(36,16)) AS DOUBLE)
        |        / CAST(n * n AS DOUBLE), 8) AS stdvar,
        |  round(sqrt(CAST(CAST(n * syy - CAST(sy AS DECIMAL(19,8)) * sy
        |          AS DECIMAL(36,16)) AS DOUBLE)
        |        / CAST(n * n AS DOUBLE)), 8) AS stddev
        |FROM s
        |ORDER BY event_type, user_id""".stripMargin,
    // routed deriv + predict_linear: the raw decimal regression
    // closed form, origin = the window start (eval - 5d), horizon
    // 3600 s; predicted replays the identical double op order
    // (intercept, then slope * (eval + h - origin))
    "ts_promql_rollup_deriv" ->
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
        |          CAST(epoch_ms(ts) - 1706313600000 AS DECIMAL(12,0)) AS x,
        |          CAST(value AS DECIMAL(18,8)) AS y
        |        FROM events
        |        WHERE ts >= TIMESTAMP '2024-01-27'
        |          AND ts < TIMESTAMP '2024-02-01')
        |  GROUP BY 1, 2),
        |d AS (
        |  SELECT event_type, user_id, n, sx, sy,
        |    CAST(n * sxy - sx * sy AS DECIMAL(36,8)) AS num,
        |    CAST(n * sxx - CAST(sx AS DECIMAL(19,0)) * sx AS DECIMAL(35,0)) AS den
        |  FROM s WHERE n >= 2),
        |r AS (
        |  SELECT event_type, user_id, n, sx, sy,
        |    CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS slope_ms
        |  FROM d WHERE den <> 0)
        |SELECT event_type, user_id,
        |  round(slope_ms * 1000.0, 12) AS deriv,
        |  round((CAST(sy AS DOUBLE) - slope_ms * CAST(sx AS DOUBLE))
        |          / CAST(n AS DOUBLE)
        |        + slope_ms * 435600000.0, 6) AS predicted
        |FROM r
        |ORDER BY event_type, user_id""".stripMargin,
    // routed delta: the raw (ts, value)-ordered first/last pick over
    // the same 5d window — the layer's boundary samples must
    // reproduce it exactly
    "ts_promql_rollup_delta" ->
      """WITH w AS (
        |  SELECT event_type, user_id, ts, value
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-27' AND ts < TIMESTAMP '2024-02-01')
        |SELECT event_type, user_id,
        |  round(last(value ORDER BY ts, value)
        |    - first(value ORDER BY ts, value), 8) AS delta
        |FROM w GROUP BY 1, 2
        |ORDER BY event_type, user_id""".stripMargin,
    // routed irate/idelta: the raw last-two-samples pick over the
    // same 5d window under the layer's (ts, value) order — the
    // layer's boundary + penultimate samples must reproduce it
    "ts_promql_rollup_irate" ->
      """WITH w AS (
        |  SELECT event_type, user_id, value, epoch_ms(ts) AS ts_ms,
        |    row_number() OVER sw AS rn,
        |    lead(value) OVER sw AS pv,
        |    lead(epoch_ms(ts)) OVER sw AS pt
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-27' AND ts < TIMESTAMP '2024-02-01'
        |  WINDOW sw AS (PARTITION BY event_type, user_id
        |                ORDER BY ts DESC, value DESC))
        |SELECT event_type, user_id,
        |  round((CASE WHEN value >= pv THEN value - pv ELSE value END)
        |        / ((ts_ms - pt) / 1000.0), 10) AS irate
        |FROM w
        |WHERE rn = 1 AND pv IS NOT NULL AND ts_ms - pt > 0
        |ORDER BY event_type, user_id""".stripMargin,
    // routed ts_of_min/max: the raw argmin/argmax pick (latest ts
    // among tied extrema; max demotes NaN) over the same 5d window
    "ts_promql_rollup_ts_of" ->
      """WITH w AS (
        |  SELECT event_type, user_id, ts, value
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-27' AND ts < TIMESTAMP '2024-02-01'),
        |m AS (
        |  SELECT event_type, user_id, min(value) AS mnv,
        |    coalesce(max(value) FILTER (WHERE NOT isnan(value)),
        |             'NaN'::DOUBLE) AS mxnn
        |  FROM w GROUP BY 1, 2)
        |SELECT w.event_type, w.user_id,
        |  max(CASE WHEN w.value = m.mnv THEN epoch_ms(w.ts) END) / 1000.0
        |    AS ts_of_min,
        |  max(CASE WHEN w.value = m.mxnn THEN epoch_ms(w.ts) END) / 1000.0
        |    AS ts_of_max
        |FROM w JOIN m USING (event_type, user_id)
        |GROUP BY 1, 2
        |ORDER BY event_type, user_id""".stripMargin,
    "ts_promql_rollup_idelta" ->
      """WITH w AS (
        |  SELECT event_type, user_id, value,
        |    row_number() OVER sw AS rn,
        |    lead(value) OVER sw AS pv
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-27' AND ts < TIMESTAMP '2024-02-01'
        |  WINDOW sw AS (PARTITION BY event_type, user_id
        |                ORDER BY ts DESC, value DESC))
        |SELECT event_type, user_id, round(value - pv, 8) AS idelta
        |FROM w
        |WHERE rn = 1 AND pv IS NOT NULL
        |ORDER BY event_type, user_id""".stripMargin,
    // routed classic-bucket quantile-over-rate: rebuild the bucket
    // counters from raw events, replay the production extrapolation
    // ladder per le-series over the same 5d window (round 1e-8,
    // mirroring the PromQL round), then the classic interpolation
    // walk — the layer-served composition must reproduce it exactly
    "ts_promql_rollup_classic_quantile" ->
      """WITH les AS (
        |  SELECT unnest(['10.0', '25.0', '50.0', '100.0', '200.0',
        |                 'Infinity']) AS le),
        |daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day, le,
        |    CAST(count(CASE WHEN value <= CAST(le AS DOUBLE) THEN 1 END)
        |      AS DOUBLE) AS inc
        |  FROM events CROSS JOIN les GROUP BY 1, 2, 3),
        |cum AS (
        |  SELECT event_type, le, day,
        |    sum(inc) OVER (PARTITION BY event_type, le ORDER BY day) AS cnt
        |  FROM daily),
        |w AS (
        |  SELECT event_type, le, cnt, epoch_ms(day) AS ts_ms,
        |    lag(cnt) OVER sw AS prev,
        |    row_number() OVER sw AS rn
        |  FROM cum
        |  WHERE day >= TIMESTAMP '2024-01-27' AND day < TIMESTAMP '2024-02-01'
        |  WINDOW sw AS (PARTITION BY event_type, le ORDER BY day)),
        |agg AS (
        |  SELECT event_type, le,
        |    CAST(sum(CAST(CASE WHEN prev IS NULL THEN 0.0
        |                       WHEN cnt >= prev THEN cnt - prev
        |                       ELSE cnt END AS DECIMAL(30,8))) AS DOUBLE) AS inc,
        |    min(ts_ms) AS first_ms, max(ts_ms) AS last_ms,
        |    max(CASE WHEN rn = 1 THEN cnt END) AS first_v,
        |    count(*) AS n
        |  FROM w GROUP BY 1, 2
        |  HAVING count(*) >= 2 AND max(ts_ms) > min(ts_ms)),
        |ext AS (
        |  SELECT event_type, le, inc, n, first_v,
        |    CAST(last_ms - first_ms AS DOUBLE) AS sampled,
        |    CAST(last_ms - first_ms AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS avg_sp,
        |    CAST(first_ms - 1706313600000 AS DOUBLE) AS to_start_raw,
        |    CAST(1706745600000 - last_ms AS DOUBLE) AS to_end
        |  FROM agg),
        |fin AS (
        |  SELECT event_type, le, inc, sampled, avg_sp, to_end,
        |    avg_sp * 1.1 AS threshold,
        |    least(CASE WHEN inc > 0 AND first_v >= 0
        |               THEN sampled * (first_v / inc)
        |               ELSE to_start_raw END, to_start_raw) AS to_start
        |  FROM ext),
        |rated AS (
        |  SELECT event_type, le,
        |    floor((inc * ((sampled
        |        + (CASE WHEN to_start < threshold THEN to_start ELSE avg_sp / 2 END)
        |        + (CASE WHEN to_end < threshold THEN to_end ELSE avg_sp / 2 END))
        |      / sampled) / 432000.0) / 0.00000001 + 0.5) * 0.00000001 AS r
        |  FROM fin),
        |q AS (
        |  SELECT event_type, CAST(le AS DOUBLE) AS led, r,
        |    lag(CAST(le AS DOUBLE)) OVER pw AS prev_le,
        |    lag(r) OVER pw AS prev_r,
        |    max(r) OVER (PARTITION BY event_type) AS total,
        |    max(CASE WHEN CAST(le AS DOUBLE) < CAST('inf' AS DOUBLE)
        |        THEN CAST(le AS DOUBLE) END)
        |      OVER (PARTITION BY event_type) AS max_finite
        |  FROM rated
        |  WINDOW pw AS (PARTITION BY event_type ORDER BY CAST(le AS DOUBLE)))
        |SELECT event_type,
        |  round(CASE
        |    WHEN led = CAST('inf' AS DOUBLE) THEN max_finite
        |    WHEN prev_le IS NULL AND led <= 0 THEN led
        |    WHEN r = coalesce(prev_r, 0) THEN CAST('nan' AS DOUBLE)
        |    ELSE coalesce(prev_le, 0) + (led - coalesce(prev_le, 0)) *
        |      (0.9 * total - coalesce(prev_r, 0)) / (r - coalesce(prev_r, 0))
        |  END, 6) AS q90
        |FROM q
        |WHERE r >= 0.9 * total
        |  AND (prev_r IS NULL OR prev_r < 0.9 * total)
        |ORDER BY event_type""".stripMargin,
    // routed downsample: straight from raw — the layer choice (1d
    // here) must be invisible in the values, only in bytes read
    "ts_rollup_route" ->
      """SELECT event_type,
        |  (epoch_ms(ts) // 432000000) * 432000000 AS step_ms,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) / count(*) AS avg_v,
        |  min(value) AS min_v, max(value) AS max_v
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-31'
        |GROUP BY 1, 2
        |ORDER BY event_type, step_ms""".stripMargin,
    "ts_topk_series" ->
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
        |ORDER BY event_type, "rank"""".stripMargin,
    "ts_count_values" ->
      """SELECT event_type, value, count(*) AS n_samples
        |FROM events
        |GROUP BY event_type, value
        |ORDER BY event_type, value""".stripMargin,
    "ts_quantile" ->
      """SELECT event_type, user_id,
        |  round(quantile_cont(value, 0.9), 6) AS q90,
        |  count(*) AS samples
        |FROM events
        |GROUP BY event_type, user_id
        |ORDER BY event_type, user_id""".stripMargin,
    "ts_ratio_join" ->
      """WITH c AS (
        |  SELECT user_id, CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS lv
        |  FROM events WHERE event_type = 'click' GROUP BY user_id),
        |v AS (
        |  SELECT user_id, CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS rv
        |  FROM events WHERE event_type = 'view' GROUP BY user_id)
        |SELECT user_id, round(lv / rv, 6) AS ratio
        |FROM c JOIN v USING (user_id)
        |ORDER BY user_id""".stripMargin,
    // many-to-one vector matching: left keeps its full label set,
    // the right info vector's plan label rides along
    "ts_group_left" ->
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
        |ORDER BY event_type, user_id""".stripMargin,
    // offset modifier: two range-filtered windows, each with its own
    // lag partition, positive-delta increase, week-over-week ratio
    "ts_offset_wow" ->
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
        |ORDER BY event_type, user_id""".stripMargin,
    "ts_changes" ->
      """SELECT event_type, user_id,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND value <> prev
        |               THEN 1 ELSE 0 END) AS BIGINT) AS changes
        |FROM (SELECT event_type, user_id, value,
        |        lag(value) OVER (PARTITION BY event_type, user_id
        |                         ORDER BY ts, event_id) AS prev
        |      FROM events)
        |GROUP BY event_type, user_id
        |ORDER BY event_type, user_id""".stripMargin,
    "ts_irate" ->
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
        |ORDER BY event_type, user_id""".stripMargin,
    "ts_idelta" ->
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
        |ORDER BY event_type, user_id""".stripMargin,
    // replays PromOps.extrapolatedRate's full ladder: positive-delta
    // increase in exact decimal, then sampled/avg-spacing/threshold/
    // zero-guard extrapolation in the same IEEE op order
    "ts_rate_extrapolated" ->
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
        |ORDER BY event_type, user_id""".stripMargin,
    // replays PromOps.regression's exact-decimal closed form:
    // x = ms since 2024-01-01 as DECIMAL(12,0), y = DECIMAL(18,8),
    // slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) per ms, ×1000 → per sec
    "ts_deriv" ->
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
        |ORDER BY event_type, user_id""".stripMargin,
    // same regression sums; intercept at x=0 (2024-01-01), prediction
    // at x = epoch_ms('2024-02-07') − origin = 3196800000
    "ts_predict_linear" ->
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
        |ORDER BY event_type, user_id""".stripMargin,
    // replays PromOps.stdvarOverTime: population variance over exact
    // decimal sums, (nΣy² − (Σy)²)/n²
    "ts_stddev_over_time" ->
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
        |ORDER BY event_type, user_id""".stripMargin,
    "ts_bottomk_series" ->
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
        |ORDER BY event_type, "rank"""".stripMargin,
    "ts_label_replace" ->
      """SELECT regexp_extract(CAST(user_id AS VARCHAR),
        |         '^(?:(\d)\d*)$', 1) AS cohort,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE), 4)
        |    AS sum_value
        |FROM events
        |GROUP BY 1
        |ORDER BY cohort""".stripMargin,
    "ts_label_join" ->
      """SELECT concat(event_type, '/', CAST(user_id AS VARCHAR))
        |    AS series_key,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE), 4)
        |    AS sum_value
        |FROM events
        |GROUP BY 1
        |ORDER BY series_key""".stripMargin,
    "ts_absent" ->
      """SELECT CAST(1.0 AS DOUBLE) AS value
        |WHERE (SELECT count(*) FROM events
        |       WHERE event_type = 'no_such_type'
        |         AND ts >= TIMESTAMP '2024-01-01'
        |         AND ts < TIMESTAMP '2024-02-01') = 0""".stripMargin,
    "ts_clamp" ->
      """SELECT event_type, epoch_ms(date_trunc('day', ts)) AS day_ms,
        |  round(CAST(sum(CAST(greatest(least(value, 80.0), 20.0)
        |    AS DECIMAL(30,8))) AS DOUBLE), 4) AS sum_clamped,
        |  count(*) AS n_samples
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY event_type, day_ms""".stripMargin,
    "ts_subquery_rate_max" ->
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
        |ORDER BY event_type, user_id""".stripMargin,
    // IEEE-exact scalar functions only (abs/ceil/floor/sign/sqrt):
    // no libm transcendentals, so sums agree bitwise pre-round
    "ts_math_funcs" ->
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
        |ORDER BY event_type, day_ms""".stripMargin,
    // Prometheus day_of_week(): 0=Sunday — DuckDB's dayofweek is
    // already 0=Sunday; Spark's is 1=Sunday, shifted in the query
    "ts_time_group" ->
      """SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
        |  CAST(hour(ts) AS BIGINT) AS hod,
        |  count(*) AS n_samples,
        |  round(CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE), 4)
        |    AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY dow, hod""".stripMargin,
    // last_over_time = value at the (ts, event_id)-max sample,
    // mirrored by the descending row_number
    "ts_over_time_family" ->
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
        |ORDER BY event_type, user_id, day_ms""".stripMargin,
    // replays doubleExponentialSmoothing's recurrence with a
    // recursive CTE advancing every series in lockstep: identical
    // IEEE op trees (0.5/0.25 are exact binary fractions), so the
    // fold and the recursion agree bitwise before the 6dp round
    "ts_holt_winters" ->
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
        |ORDER BY event_type, user_id""".stripMargin,
    "ts_schema_roundtrip" ->
      """SELECT event_type, count(*) AS n FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // replays tsSchemaWide's modular label synthesis: dim_i present
    // iff (user_id+i) % (3+i%5) = 0, value 'v' || (user_id+i) % 4
    "ts_schema_wide" -> (0 until wideDimCount).map { i =>
      val m = 3 + i % 5
      f"SELECT 'dim_$i%02d' AS label, " +
        s"count(CASE WHEN (user_id + $i) % $m = 0 THEN 1 END) AS present, " +
        s"count(CASE WHEN (user_id + $i) % $m = 0 AND " +
        s"'v' || CAST((user_id + $i) % 4 AS VARCHAR) = 'v1' THEN 1 END) AS v1_hits " +
        "FROM events"
    }.mkString("SELECT label, present, v1_hits FROM (\n",
      "\nUNION ALL\n", "\n) ORDER BY label"),
    // replays tsWideSelect on the raw long table: the same modular
    // label synthesis (dim_i present iff (user_id+i) % (3+i%5) = 0,
    // value 'v' || (user_id+i) % 4), the Eq('l_dim_00','v1') matcher
    // and the null-safe Nre('l_dim_07','v0') matcher (absent label
    // behaves as "", so absent rows are KEPT and present-v0 rows are
    // DROPPED), and the 3-label projection
    "ts_wide_select" ->
      """SELECT
        |  CASE WHEN user_id % 3 = 0
        |       THEN 'v' || CAST(user_id % 4 AS VARCHAR) END AS l_dim_00,
        |  CASE WHEN (user_id + 4) % 7 = 0
        |       THEN 'v' || CAST((user_id + 4) % 4 AS VARCHAR) END AS l_dim_04,
        |  CASE WHEN (user_id + 7) % 5 = 0
        |       THEN 'v' || CAST((user_id + 7) % 4 AS VARCHAR) END AS l_dim_07,
        |  value, epoch_ms(ts) AS ts_ms
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-20'
        |  AND user_id % 3 = 0
        |  AND 'v' || CAST(user_id % 4 AS VARCHAR) = 'v1'
        |  AND NOT ((user_id + 7) % 5 = 0 AND
        |           'v' || CAST((user_id + 7) % 4 AS VARCHAR) = 'v0')
        |ORDER BY ts_ms, value, l_dim_04""".stripMargin,
    "ts_convert_roundtrip" ->
      """SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS bucket,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE), 2) AS sum_value
        |FROM events
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin,
    // every sample back out of the XOR-chunk layout, µs-exact —
    // a hash match proves the codec is bit-lossless end to end
    "ts_chunk_roundtrip" ->
      """SELECT event_type, user_id, epoch_us(ts) AS ts_us, value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
        |ORDER BY event_type, user_id, ts_us, value""".stripMargin,
    "ts_chunk_select" ->
      """SELECT event_type, user_id, epoch_us(ts) AS ts_us, value
        |FROM events
        |WHERE event_type = 'view'
        |  AND ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-20'
        |ORDER BY ts_us, user_id, value""".stripMargin,
    // the reference-layout shard is a LABEL store: every label is a
    // string (user_id casts at write), and its native time unit is
    // milliseconds — the oracle mirrors both
    "ts_shard_interop" ->
      """SELECT event_type, CAST(user_id AS VARCHAR) AS user_id,
        |  epoch_ms(ts) AS ts_ms, value
        |FROM events
        |WHERE event_type = 'view'
        |  AND ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-20'
        |ORDER BY ts_ms, user_id, value""".stripMargin,
    // the ts_hist_chunk_select synthesis at the shard format's ms
    // grain, labels as strings (the Prometheus label model);
    // zero-count buckets drop on both sides — the chunkenc union
    // layout inserts absolute-0 fills when bucket 5 appears
    // mid-chunk, the ts_tsdb_block_nh_roundtrip convention
    "ts_shard_hist_interop" ->
      """WITH days AS (
        |  SELECT DISTINCT event_type, user_id,
        |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
        |  FROM events),
        |base AS (
        |  SELECT event_type, user_id, d,
        |    user_id * 31 + length(event_type) AS sseed,
        |    CAST(d * 86400000 AS BIGINT) AS ts_ms
        |  FROM days
        |  WHERE event_type = 'view'
        |    AND d >= CAST(floor(epoch(TIMESTAMP '2024-01-05 00:00:00') / 86400) AS BIGINT)
        |    AND d < CAST(floor(epoch(TIMESTAMP '2024-01-20 00:00:00') / 86400) AS BIGINT))
        |SELECT event_type, CAST(user_id AS VARCHAR) AS user_id, ts_ms,
        |  d*d*(sseed % 3) AS zero_count,
        |  CAST(d * ((sseed % 7) + 1) AS DOUBLE) * 0.25 AS hsum,
        |  CAST(i AS INT) AS idx,
        |  d*d*((sseed + i + 3) % 5) AS cnt
        |FROM base, unnest(range(-2, 6)) AS t(i)
        |WHERE i <= (CASE WHEN d >= 19740 THEN 5 ELSE 4 END)
        |  AND d*d*((sseed + i + 3) % 5) <> 0
        |ORDER BY event_type, user_id, ts_ms, idx""".stripMargin,
    // the NHCB fixture through the shard byte path: bounds re-derive
    // as (i+1)·0.25, schema pinned to -53, zero-count buckets dropped
    // on both sides (chunkenc union-layout convention)
    "ts_shard_nhcb_interop" ->
      """WITH days AS (
        |  SELECT DISTINCT event_type, user_id,
        |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
        |  FROM events),
        |base AS (
        |  SELECT event_type, user_id, d,
        |    user_id * 31 + length(event_type) AS sseed,
        |    CAST(d * 86400000 AS BIGINT) AS ts_ms
        |  FROM days
        |  WHERE event_type = 'view'
        |    AND d >= CAST(floor(epoch(TIMESTAMP '2024-01-05 00:00:00') / 86400) AS BIGINT)
        |    AND d < CAST(floor(epoch(TIMESTAMP '2024-01-20 00:00:00') / 86400) AS BIGINT))
        |SELECT event_type, CAST(user_id AS VARCHAR) AS user_id, ts_ms,
        |  -53 AS hschema,
        |  CAST(d * ((sseed % 7) + 1) AS DOUBLE) * 0.25 AS hsum,
        |  CAST(i AS INT) AS idx,
        |  d*d*((sseed + i + 3) % 5) AS cnt,
        |  CAST(i + 1 AS DOUBLE) * 0.25 AS bound
        |FROM base, unnest(range(0, 6)) AS t(i)
        |WHERE i <= (CASE WHEN d >= 19740 THEN 5 ELSE 4 END)
        |  AND d*d*((sseed + i + 3) % 5) <> 0
        |ORDER BY event_type, user_id, ts_ms, idx""".stripMargin,
    // skipChunks series(): distinct label sets under the matchers,
    // labels as strings (the shard label model)
    "ts_shard_series" ->
      """SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS user_id
        |FROM events
        |WHERE regexp_full_match(event_type, 'v.*|c.*')
        |  AND CAST(user_id AS VARCHAR) <> '7'
        |ORDER BY event_type, user_id""".stripMargin,
    // the signed fixture through the shard byte path, both sides
    // under a side marker — the ts_tsdb_block_neg_roundtrip replay
    // restricted to the gate's matcher + range
    "ts_shard_neg_interop" ->
      """WITH days AS (
        |  SELECT DISTINCT event_type, user_id,
        |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
        |  FROM events),
        |base AS (
        |  SELECT event_type, user_id, d,
        |    user_id * 31 + length(event_type) AS sseed,
        |    CAST(d * 86400000 AS BIGINT) AS ts_ms
        |  FROM days
        |  WHERE event_type = 'view'
        |    AND d >= CAST(floor(epoch(TIMESTAMP '2024-01-05 00:00:00') / 86400) AS BIGINT)
        |    AND d < CAST(floor(epoch(TIMESTAMP '2024-01-20 00:00:00') / 86400) AS BIGINT)),
        |pos AS (
        |  SELECT event_type, user_id, ts_ms, d, sseed, 'p' AS side, i,
        |    d*d*((sseed + i + 3) % 5) AS cnt
        |  FROM base, unnest(range(-2, 6)) AS t(i)
        |  WHERE i <= (CASE WHEN d >= 19740 THEN 5 ELSE 4 END)),
        |neg AS (
        |  SELECT event_type, user_id, ts_ms, d, sseed, 'n' AS side, i,
        |    d*d*((sseed + i + 7) % 4) AS cnt
        |  FROM base, unnest(range(-1, 4)) AS t(i)
        |  WHERE i <= (CASE WHEN d >= 19735 THEN 3 ELSE 2 END))
        |SELECT event_type, CAST(user_id AS VARCHAR) AS user_id, ts_ms,
        |  d*d*(sseed % 3) AS zero_count,
        |  CAST(d * ((sseed % 7) + 1) AS DOUBLE) * 0.25 AS hsum,
        |  side, CAST(i AS INT) AS idx, cnt
        |FROM (SELECT * FROM pos UNION ALL SELECT * FROM neg)
        |WHERE cnt != 0
        |ORDER BY event_type, user_id, ts_ms, side, idx""".stripMargin,
    // identical to ts_promql_tsdb_blocks' oracle: sum_over_time is
    // order-independent and the shard's ms grain cannot move a
    // sample across these whole-day range bounds
    "ts_promql_shard" ->
      """WITH l AS (
        |  SELECT CAST(user_id AS VARCHAR) AS user_id,
        |    CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS v
        |  FROM events WHERE event_type = 'click'
        |    AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
        |  GROUP BY 1),
        |r AS (
        |  SELECT CAST(user_id AS VARCHAR) AS user_id,
        |    CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS v
        |  FROM events WHERE event_type = 'view'
        |    AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
        |  GROUP BY 1)
        |SELECT l.user_id, l.v / r.v AS ratio
        |FROM l JOIN r USING (user_id)
        |ORDER BY user_id""".stripMargin,
    // native-histogram fixture CTEs: re-derive every bucket count
    // with the same integer arithmetic, then replay the quantile
    // walk (cumulative window ≡ the Spark fold) with the identical
    // FP op order; schema-0 boundaries 2^i are exact doubles in both
    // engines' pow
    "ts_native_hist_quantile" ->
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
        |ORDER BY b.event_type, b.user_id, b.d""".stripMargin,
    // buckets 1..3 are exactly (1,2],(2,4],(4,8] — overlap share 0
    // or 1 — so the fraction is an exact integer-sum division; the
    // operator's per-bucket c*share additions stay integral doubles
    "ts_native_hist_fraction" ->
      s"""WITH $nativeHistCtes
        |SELECT event_type, user_id, d,
        |  CASE WHEN sum(cnt) + max(zero_count) = 0
        |       THEN CAST('nan' AS DOUBLE)
        |       ELSE CAST(sum(CASE WHEN i BETWEEN 1 AND 3 THEN cnt
        |                          ELSE 0 END) AS DOUBLE) /
        |            CAST(sum(cnt) + max(zero_count) AS DOUBLE) END AS frac
        |FROM hb
        |GROUP BY event_type, user_id, d
        |ORDER BY event_type, user_id, d""".stripMargin,
    "ts_native_hist_sum" ->
      s"""WITH $nativeHistCtes
        |SELECT event_type, idx, count FROM (
        |  SELECT event_type, CAST(i AS INT) AS idx,
        |    CAST(sum(cnt) AS BIGINT) AS count
        |  FROM hb GROUP BY 1, 2
        |  UNION ALL
        |  SELECT event_type, CAST(NULL AS INT),
        |    CAST(sum(zero_count) AS BIGINT)
        |  FROM hz GROUP BY 1)
        |ORDER BY event_type, idx ASC NULLS LAST""".stripMargin,
    // h_sum is the synthetic exact-quarter sum column; h_avg its one
    // division by the folded count — identical operands both engines
    "ts_native_hist_stats" ->
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
        |ORDER BY event_type, user_id, d""".stripMargin,
    // counter fixture: cumulative count d²·k per bucket, bucket 5
    // appears from day 19740; rate = (last−first)/Δt bucket-wise
    // with missing-first → 0 — exact integers up to one division
    "ts_native_hist_rate" ->
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
        |ORDER BY event_type, user_id, idx""".stripMargin,
    // rate CTEs as in ts_native_hist_rate, then the quantile walk —
    // the zero bucket rides as a sentinel idx=-100 row so the
    // running sum brackets exactly like the operator's fold
    // (((zero+r1)+r2)+…), while rank uses zero + (((r1+r2)+…)) like
    // the operator's total; cum_prev is the TRUE prefix, never a
    // subtraction
    // roundtrip = identity: the oracle is the re-derived counter
    // fixture at bucket grain (the codec must lose nothing)
    "ts_hist_chunk_roundtrip" ->
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
        |ORDER BY event_type, user_id, ts_us, idx""".stripMargin,
    // float roundtrip = identity over the FLOAT fixture (exact
    // dyadic halves/quarters of the counter fixture) — the
    // EncFloatHistogram codec must lose no double
    "ts_float_hist_roundtrip" ->
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
        |ORDER BY event_type, user_id, ts_us, idx""".stripMargin,
    // float-store select ≡ raw float fixture under the same matcher
    // + day range: the chunked EncFloatHistogram layout must lose no
    // double inside the window
    "ts_float_hist_select" ->
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
        |ORDER BY event_type, user_id, ts_us, idx""".stripMargin,
    // every sample back out of real Prometheus-format block bytes
    // (index v2 + chunkenc XOR segments) — labels are strings in a
    // TSDB block, hence the VARCHAR cast; ms-exact, value bit-exact
    "ts_tsdb_block_roundtrip" ->
      """SELECT event_type, CAST(user_id AS VARCHAR) AS user_id,
        |  epoch_ms(ts) AS ts_ms, value
        |FROM events
        |ORDER BY event_type, user_id, ts_ms, value""".stripMargin,
    // matcher + range select resolved through the postings index and
    // block/chunk time pruning; regexes are RE2-anchored like the
    // engine's, replayed with regexp_full_match
    "ts_tsdb_block_select" ->
      """SELECT event_type, CAST(user_id AS VARCHAR) AS user_id,
        |  epoch_ms(ts) AS ts_ms, value
        |FROM events
        |WHERE event_type = 'view'
        |  AND regexp_full_match(CAST(user_id AS VARCHAR), '1.*|2.*')
        |  AND epoch_ms(ts) BETWEEN 1704412800000 AND 1705708799999
        |ORDER BY ts_ms, user_id, value""".stripMargin,
    // the whole migration path (block bytes → convert → converted
    // select) must answer exactly what the raw-table filter answers;
    // labels become strings when they pass through block bytes
    "ts_tsdb_block_convert" ->
      """SELECT event_type, CAST(user_id AS VARCHAR) AS user_id, value,
        |  epoch_ms(ts) AS ts_ms
        |FROM events
        |WHERE event_type = 'view'
        |  AND ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-20'
        |ORDER BY ts_ms, user_id, value""".stripMargin,
    // full stack: chunked store → decode → PromQL string. Latest-day
    // histograms per series (instant selector over the chunk select),
    // bucket-wise sum by event_type, then the quantile walk —
    // integer-exact counts until the final interpolation
    "ts_promql_nh_chunked" ->
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
        |ORDER BY b.event_type""".stripMargin,
    // identical synthesis through the physical shard format's cells
    "ts_promql_shard_nh" ->
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
        |ORDER BY b.event_type""".stripMargin,
    // select ≡ raw fixture under the same matcher + day range: the
    // chunked hist layout must lose nothing inside the window
    "ts_hist_chunk_select" ->
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
        |ORDER BY event_type, user_id, ts_us, idx""".stripMargin,
    // window median per series, then median absolute deviation —
    // quantile_cont ≡ Spark's exact interpolated percentile
    "ts_promql_mad" ->
      """WITH sel AS (
        |  SELECT event_type, user_id, value FROM events
        |  WHERE event_type = 'click'
        |    AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'),
        |med AS (
        |  SELECT event_type, user_id, quantile_cont(value, 0.5) AS m
        |  FROM sel GROUP BY 1, 2)
        |SELECT s.event_type, s.user_id,
        |  quantile_cont(abs(s.value - med.m), 0.5) AS mad
        |FROM sel s JOIN med USING (event_type, user_id)
        |GROUP BY s.event_type, s.user_id
        |ORDER BY s.event_type, s.user_id""".stripMargin,
    // ts_of_min/max: MAX ts among rows tied at the window extreme —
    // upstream's non-strict (<=/>=) walk keeps the last occurrence;
    // ts_of_last = the window's max ts. Epoch SECONDS = ms / 1000.0,
    // the same IEEE division on both engines.
    "ts_promql_ts_of" ->
      """WITH w AS (
        |  SELECT event_type, user_id, value, epoch_ms(ts) AS ms
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'),
        |m AS (
        |  SELECT event_type, user_id, min(value) AS mnv, max(value) AS mxv
        |  FROM w GROUP BY 1, 2)
        |SELECT w.event_type, w.user_id,
        |  max(CASE WHEN w.value = m.mnv THEN w.ms END) / 1000.0 AS ts_of_min,
        |  max(CASE WHEN w.value = m.mxv THEN w.ms END) / 1000.0 AS ts_of_max,
        |  max(w.ms) / 1000.0 AS ts_of_last
        |FROM w JOIN m USING (event_type, user_id)
        |GROUP BY w.event_type, w.user_id
        |ORDER BY w.event_type, w.user_id""".stripMargin,
    // first_over_time: the value at the series' min ts in range
    // (min value among ts ties, matching the min-struct tiebreak);
    // ts_of_first = min ts. Epoch SECONDS = ms / 1000.0.
    "ts_promql_first_over_time" ->
      """WITH w AS (
        |  SELECT event_type, user_id, value, epoch_ms(ts) AS ms
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'),
        |m AS (
        |  SELECT event_type, user_id, min(ms) AS mn
        |  FROM w GROUP BY 1, 2)
        |SELECT w.event_type, w.user_id,
        |  min(CASE WHEN w.ms = m.mn THEN w.value END) AS first_v,
        |  m.mn / 1000.0 AS ts_of_first
        |FROM w JOIN m USING (event_type, user_id)
        |GROUP BY w.event_type, w.user_id, m.mn
        |ORDER BY w.event_type, w.user_id""".stripMargin,
    // group_right: result at the many (right) side's label grain,
    // the op keeping its written orientation — user total divided
    // by that user's per-type total
    "ts_promql_group_right" ->
      """WITH s AS (
        |  SELECT event_type, user_id,
        |    CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS v
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
        |  GROUP BY 1, 2),
        |u AS (
        |  SELECT user_id, CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS v
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
        |  GROUP BY 1)
        |SELECT s.event_type, s.user_id, u.v / s.v AS inv_share
        |FROM s JOIN u USING (user_id)
        |ORDER BY s.event_type, s.user_id""".stripMargin,
    // sort/sort_by_label: the FUNCTION's ordering is the compared
    // output — the oracle's ORDER BY replays it (no gate-side sort)
    "ts_promql_sort" ->
      """SELECT event_type,
        |  CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
        |GROUP BY 1
        |ORDER BY value DESC""".stripMargin,
    "ts_promql_sort_by_label" ->
      """SELECT event_type,
        |  CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
        |GROUP BY 1
        |ORDER BY event_type""".stripMargin,
    "ts_native_hist_quantile_rate" -> nhQuantileRateSql,
    // reset-aware increase: the closed form per regime — straddling
    // series add the pre-reset accumulation (cnt(dpre) − cnt(d0))
    // to the restarted counter's cnt(d1); single-regime series are
    // the plain monotone delta. Exact integers scaled per bucket.
    "ts_nh_reset_increase" ->
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
        |ORDER BY event_type, user_id, side, idx""".stripMargin,
    // stitched-from-rollups NH increase: the SAME closed form —
    // the decomposition must be invisible in the values
    "ts_nh_rollup_increase" ->
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
        |ORDER BY event_type, user_id, side, idx""".stripMargin,
    // cascaded 14d-from-7d layer, stitched: the SAME closed form
    // again — the cascade must be invisible in the values
    "ts_nh_rollup_cascade" ->
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
        |ORDER BY event_type, user_id, side, idx""".stripMargin,
    // the appender's chunk-cut ladder replayed arithmetically:
    // 9-day blocks, segments split at the reset day, 6-sample chunks
    // within each segment; header = unknown at block start,
    // counter_reset at a segment start, not_counter_reset at cap cuts
    "ts_tsdb_block_reset_cut" ->
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
        .stripMargin,
    // resets over native histograms: exactly one restart per series
    // straddling day 19740, none otherwise (single-sample series
    // included, at 0 — no <2-sample drop for resets)
    "ts_promql_nh_resets" ->
      """SELECT event_type, CAST(user_id AS VARCHAR) AS user_id,
        |  CAST(CASE WHEN min(d) < 19740 AND max(d) >= 19740
        |       THEN 1 ELSE 0 END AS DOUBLE) AS n_resets
        |FROM (SELECT DISTINCT event_type, user_id,
        |        CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
        |      FROM events)
        |GROUP BY event_type, user_id
        |ORDER BY event_type, CAST(user_id AS VARCHAR)""".stripMargin,
    // count of the reset-aware rate: same closed form, each bucket's
    // increase / dt folded in ascending-index cumulative order with
    // the consumer's ((zero + posFold) + negFold) association
    "ts_promql_nh_reset_rate" -> nhResetRateSql,
    // rollup-routed NH rate: data-determined dt makes the closed
    // form range-width-independent — shared oracle, layer invisible
    "ts_promql_nh_rollup_rate" -> nhResetRateSql,
    // routed NH gauge delta: plain last − first (NO reset
    // correction — the day-19740 restart makes it NEGATIVE for
    // straddling series), count-folded over zero + both bucket
    // sides: (dd(d1)² − dd(d0)²) · K with K the per-series sum of
    // the modular bucket weights
    "ts_promql_nh_rollup_delta" ->
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
        |ORDER BY r.event_type, CAST(r.user_id AS VARCHAR)""".stripMargin,
    // routed quantile-over-rate: closed-form bucket rates (b*k/dt,
    // the same b/dt as the crate oracle) walked in AllBucketIterator
    // order — negative buckets most-negative-first (ord = -i), the
    // zero bucket, then positive ascending; linear interpolation
    // within the landing bucket, both q=0.1 (negative region) and
    // q=0.9 (positive region)
    "ts_promql_nh_rollup_quantile" ->
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
        |ORDER BY event_type, CAST(user_id AS VARCHAR)""".stripMargin,
    // the same counter contract driven by the chunk HEADERS instead
    // of value detection (block bytes → withResetHint → hint-
    // trusting fold): headers and detection agree on this fixture by
    // construction, so the oracle is shared
    "ts_promql_nh_hinted_rate" -> nhResetRateSql,
    // the SAME query through the PromQL front-end must land on the
    // identical plan → identical oracle (hash-equal by construction)
    "ts_promql_nh_quantile_rate" -> nhQuantileRateSql,
    // latest sample per series (instant selector), buckets summed at
    // (event_type, idx) grain, then the quantile walk — counts stay
    // exact integers until the final interpolation
    "ts_promql_nh_sum_quantile" ->
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
        |ORDER BY b.event_type""".stripMargin,
    // latest-day rows only; h_sum is the exact-quarter synthetic
    // sum, h_avg its one division (NaN on the all-empty seed%21 rows)
    "ts_promql_nh_avg" ->
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
        |ORDER BY event_type, user_id""".stripMargin,
    // latest-day rows; bucket-middle deviation walk replayed
    // left-to-right in ascending idx (cumulative window ≡ the
    // operator's fold), mids exact dyadic at schema 0
    "ts_promql_nh_stdvar" ->
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
        |ORDER BY m2.event_type, m2.user_id""".stripMargin,
    // latest-day rows; buckets 1..3 are exactly (1,2],(2,4],(4,8] —
    // overlap share 0 or 1, one exact division
    "ts_promql_nh_fraction" ->
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
        |ORDER BY event_type, user_id""".stripMargin,
    // count by = distinct series per group; group = constant 1
    "ts_agg_count_group" ->
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_series,
        |  CAST(1.0 AS DOUBLE) AS group_value
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // and/unless = semi/anti membership on the match labels; or =
    // left-biased union (v1 plus v2's unmatched series)
    "ts_set_ops" ->
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
        |ORDER BY op, user_id""".stripMargin,
    // hourly grid Jan 3–10, 4 h window: n_samples per (t-4h, t],
    // absent flag when none — the oracle allows itself the range
    // join the operator deliberately avoids
    "ts_absent_over_time" ->
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
        |ORDER BY g.step_sec""".stripMargin,
    // DuckDB's native ASOF JOIN is the oracle for the union+window
    // formulation; clicks pre-collapsed to one row per (user, ts)
    "ts_asof_join" ->
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
        |ORDER BY p.event_id""".stripMargin,
    // PromQL front-end oracles: each replays the semantics of the
    // COMPILED plan — the extrapolatedRate ladder for rate(), exact
    // decimal accumulation for sum/sum_over_time — so a hash match
    // proves parse→compile→execute end-to-end
    "ts_promql_rate_sum" ->
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
        |  SELECT event_type, inc, sampled, avg_sp, to_end,
        |    avg_sp * 1.1 AS threshold,
        |    least(CASE WHEN inc > 0 AND first_v >= 0
        |               THEN sampled * (first_v / inc)
        |               ELSE to_start_raw END, to_start_raw) AS to_start
        |  FROM ext),
        |rates AS (
        |  SELECT event_type,
        |    floor((inc * ((sampled
        |        + (CASE WHEN to_start < threshold THEN to_start ELSE avg_sp / 2 END)
        |        + (CASE WHEN to_end < threshold THEN to_end ELSE avg_sp / 2 END))
        |      / sampled) / 2678400.0) / 0.00000001 + 0.5) * 0.00000001 AS rate
        |  FROM fin)
        |SELECT event_type,
        |  CAST(sum(CAST(rate AS DECIMAL(30,8))) AS DOUBLE) AS rate_sum
        |FROM rates GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "ts_promql_ratio" ->
      """WITH l AS (
        |  SELECT user_id, CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS v
        |  FROM events WHERE event_type = 'click'
        |    AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
        |  GROUP BY user_id),
        |r AS (
        |  SELECT user_id, CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS v
        |  FROM events WHERE event_type = 'view'
        |    AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
        |  GROUP BY user_id)
        |SELECT l.user_id, l.v / r.v AS ratio
        |FROM l JOIN r USING (user_id)
        |ORDER BY user_id""".stripMargin,
    // the same ratio query, but the engine's input was a Prometheus
    // DATA DIRECTORY (block bytes), so user_id is a block label —
    // a string
    "ts_promql_tsdb_blocks" ->
      """WITH l AS (
        |  SELECT CAST(user_id AS VARCHAR) AS user_id,
        |    CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS v
        |  FROM events WHERE event_type = 'click'
        |    AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
        |  GROUP BY 1),
        |r AS (
        |  SELECT CAST(user_id AS VARCHAR) AS user_id,
        |    CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS v
        |  FROM events WHERE event_type = 'view'
        |    AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
        |  GROUP BY 1)
        |SELECT l.user_id, l.v / r.v AS ratio
        |FROM l JOIN r USING (user_id)
        |ORDER BY user_id""".stripMargin,
    // NH block roundtrip ≡ the re-derived counter fixture: every
    // NONZERO bucket must survive the chunkenc encoding-2 byte path
    // (zero-count buckets — structural and union-layout fills — are
    // dropped on both sides; labels become strings in block bytes)
    "ts_tsdb_block_nh_roundtrip" ->
      """WITH days AS (
        |  SELECT DISTINCT event_type, user_id,
        |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
        |  FROM events),
        |base AS (
        |  SELECT event_type, user_id, d,
        |    user_id * 31 + length(event_type) AS sseed,
        |    d * 86400000 AS ts_ms
        |  FROM days)
        |SELECT event_type, CAST(user_id AS VARCHAR) AS user_id, ts_ms,
        |  d*d*(sseed % 3) AS zero_count,
        |  CAST(d * ((sseed % 7) + 1) AS DOUBLE) * 0.25 AS hsum,
        |  CAST(i AS INT) AS idx,
        |  d*d*((sseed + i + 3) % 5) AS cnt
        |FROM base, unnest(range(-2, 6)) AS t(i)
        |WHERE i <= (CASE WHEN d >= 19740 THEN 5 ELSE 4 END)
        |  AND d*d*((sseed + i + 3) % 5) != 0
        |ORDER BY event_type, CAST(user_id AS VARCHAR), ts_ms, idx"""
        .stripMargin,
    // NH matcher + range select through the postings index and the
    // encoding-2 decode — same filter replayed on the fixture
    "ts_tsdb_block_nh_select" ->
      """WITH days AS (
        |  SELECT DISTINCT event_type, user_id,
        |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
        |  FROM events),
        |base AS (
        |  SELECT event_type, user_id, d,
        |    user_id * 31 + length(event_type) AS sseed,
        |    d * 86400000 AS ts_ms
        |  FROM days
        |  WHERE event_type = 'view'
        |    AND regexp_full_match(CAST(user_id AS VARCHAR), '1.*|2.*')
        |    AND d * 86400000 BETWEEN 1704412800000 AND 1705708799999)
        |SELECT event_type, CAST(user_id AS VARCHAR) AS user_id, ts_ms,
        |  d*d*(sseed % 3) AS zero_count,
        |  CAST(d * ((sseed % 7) + 1) AS DOUBLE) * 0.25 AS hsum,
        |  CAST(i AS INT) AS idx,
        |  d*d*((sseed + i + 3) % 5) AS cnt
        |FROM base, unnest(range(-2, 6)) AS t(i)
        |WHERE i <= (CASE WHEN d >= 19740 THEN 5 ELSE 4 END)
        |  AND d*d*((sseed + i + 3) % 5) != 0
        |ORDER BY event_type, CAST(user_id AS VARCHAR), ts_ms, idx"""
        .stripMargin,
    // FLOAT-histogram block roundtrip: the per-field XOR windows
    // must return the exact halves/quarters bit-for-bit
    "ts_tsdb_block_fh_roundtrip" ->
      """WITH days AS (
        |  SELECT DISTINCT event_type, user_id,
        |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
        |  FROM events),
        |base AS (
        |  SELECT event_type, user_id, d,
        |    user_id * 31 + length(event_type) AS sseed,
        |    d * 86400000 AS ts_ms
        |  FROM days)
        |SELECT event_type, CAST(user_id AS VARCHAR) AS user_id, ts_ms,
        |  CAST(d * (sseed % 3) AS DOUBLE) * 0.5 AS zero_count,
        |  CAST(d * ((sseed % 7) + 1) AS DOUBLE) * 0.25 AS hsum,
        |  CAST(i AS INT) AS idx,
        |  CAST(d*d*((sseed + i + 3) % 5) AS DOUBLE) * 0.25 AS cnt
        |FROM base, unnest(range(-2, 6)) AS t(i)
        |WHERE i <= (CASE WHEN d >= 19740 THEN 5 ELSE 4 END)
        |  AND d*d*((sseed + i + 3) % 5) != 0
        |ORDER BY event_type, CAST(user_id AS VARCHAR), ts_ms, idx"""
        .stripMargin,
    // the NH migration path (block bytes → convert → converted
    // select) must answer exactly what the fixture filter answers;
    // ts returns as µs through the converted store's timestamp col
    "ts_tsdb_block_nh_convert" ->
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
        |    AND d >= 19727 AND d < 19742)
        |SELECT event_type, CAST(user_id AS VARCHAR) AS user_id, ts_us,
        |  d*d*(sseed % 3) AS zero_count,
        |  CAST(d * ((sseed % 7) + 1) AS DOUBLE) * 0.25 AS hsum,
        |  CAST(i AS INT) AS idx,
        |  d*d*((sseed + i + 3) % 5) AS cnt
        |FROM base, unnest(range(-2, 6)) AS t(i)
        |WHERE i <= (CASE WHEN d >= 19740 THEN 5 ELSE 4 END)
        |  AND d*d*((sseed + i + 3) % 5) != 0
        |ORDER BY event_type, CAST(user_id AS VARCHAR), ts_us, idx"""
        .stripMargin,
    // NHCB (custom-bucket, schema -53) block roundtrip: the bound
    // list re-derived as (i+1)·0.25 — bit-exact through the compact
    // varbit bound form — plus the constant schema and the nonzero
    // counts, all through real chunkenc bytes
    "ts_tsdb_block_nhcb_roundtrip" ->
      """WITH days AS (
        |  SELECT DISTINCT event_type, user_id,
        |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
        |  FROM events),
        |base AS (
        |  SELECT event_type, user_id, d,
        |    user_id * 31 + length(event_type) AS sseed,
        |    d * 86400000 AS ts_ms
        |  FROM days)
        |SELECT event_type, CAST(user_id AS VARCHAR) AS user_id, ts_ms,
        |  -53 AS hschema,
        |  CAST(d * ((sseed % 7) + 1) AS DOUBLE) * 0.25 AS hsum,
        |  CAST(i AS INT) AS idx,
        |  d*d*((sseed + i + 3) % 5) AS cnt,
        |  CAST(i + 1 AS DOUBLE) * 0.25 AS bound
        |FROM base, unnest(range(0, 6)) AS t(i)
        |WHERE i <= (CASE WHEN d >= 19740 THEN 5 ELSE 4 END)
        |  AND d*d*((sseed + i + 3) % 5) != 0
        |ORDER BY event_type, CAST(user_id AS VARCHAR), ts_ms, idx"""
        .stripMargin,
    // NHCB matcher + range select through the postings index and the
    // schema -53 decode — same filter replayed on the fixture
    "ts_tsdb_block_nhcb_select" ->
      """WITH days AS (
        |  SELECT DISTINCT event_type, user_id,
        |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
        |  FROM events),
        |base AS (
        |  SELECT event_type, user_id, d,
        |    user_id * 31 + length(event_type) AS sseed,
        |    d * 86400000 AS ts_ms
        |  FROM days
        |  WHERE event_type = 'view'
        |    AND regexp_full_match(CAST(user_id AS VARCHAR), '1.*|2.*')
        |    AND d * 86400000 BETWEEN 1704412800000 AND 1705708799999)
        |SELECT event_type, CAST(user_id AS VARCHAR) AS user_id, ts_ms,
        |  -53 AS hschema,
        |  CAST(d * ((sseed % 7) + 1) AS DOUBLE) * 0.25 AS hsum,
        |  CAST(i AS INT) AS idx,
        |  d*d*((sseed + i + 3) % 5) AS cnt,
        |  CAST(i + 1 AS DOUBLE) * 0.25 AS bound
        |FROM base, unnest(range(0, 6)) AS t(i)
        |WHERE i <= (CASE WHEN d >= 19740 THEN 5 ELSE 4 END)
        |  AND d*d*((sseed + i + 3) % 5) != 0
        |ORDER BY event_type, CAST(user_id AS VARCHAR), ts_ms, idx"""
        .stripMargin,
    // the NHCB migration path (block bytes → converted layout with
    // the bound list in the labels file → pruned select) must answer
    // exactly what the fixture filter answers, bounds included
    "ts_tsdb_block_nhcb_convert" ->
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
        |    AND d >= 19727 AND d < 19742)
        |SELECT event_type, CAST(user_id AS VARCHAR) AS user_id, ts_us,
        |  CAST(d * ((sseed % 7) + 1) AS DOUBLE) * 0.25 AS hsum,
        |  CAST(i AS INT) AS idx,
        |  d*d*((sseed + i + 3) % 5) AS cnt,
        |  CAST(i + 1 AS DOUBLE) * 0.25 AS bound
        |FROM base, unnest(range(0, 6)) AS t(i)
        |WHERE i <= (CASE WHEN d >= 19740 THEN 5 ELSE 4 END)
        |  AND d*d*((sseed + i + 3) % 5) != 0
        |ORDER BY event_type, CAST(user_id AS VARCHAR), ts_us, idx"""
        .stripMargin,
    // the classic bucketQuantile walk over custom bounds, replayed
    // with the same FP association: cum/total exact integers in
    // double, phi = 0.25·i + 0.25·((rank − cumBefore)/cnt)
    "ts_nhcb_quantile" ->
      """WITH days AS (
        |  SELECT DISTINCT event_type, user_id,
        |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
        |  FROM events),
        |base AS (
        |  SELECT event_type, user_id, d,
        |    user_id * 31 + length(event_type) AS sseed,
        |    d * 86400000 AS ts_ms
        |  FROM days),
        |buckets AS (
        |  SELECT event_type, user_id, ts_ms, i,
        |    d*d*((sseed + i + 3) % 5) AS cnt
        |  FROM base, unnest(range(0, 6)) AS t(i)
        |  WHERE i <= (CASE WHEN d >= 19740 THEN 5 ELSE 4 END)),
        |cum AS (
        |  SELECT *, CAST(sum(cnt) OVER (PARTITION BY event_type, user_id,
        |      ts_ms ORDER BY i) AS DOUBLE) AS cumc,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type, user_id,
        |      ts_ms) AS DOUBLE) AS total
        |  FROM buckets),
        |hit AS (
        |  SELECT * FROM cum WHERE cnt > 0 AND cumc >= 0.9 * total)
        |SELECT event_type, CAST(user_id AS VARCHAR) AS user_id, ts_ms,
        |  min_by(0.25 * i + 0.25 * (((0.9 * total) - (cumc - cnt)) / cnt),
        |    i) AS phi90
        |FROM hit GROUP BY 1, 2, 3
        |ORDER BY event_type, CAST(user_id AS VARCHAR), ts_ms"""
        .stripMargin,
    // NHCB from the string: latest day per series, bucket counts
    // sparse-summed at (event_type, i) grain, then the classic walk
    // with the (i+1)·0.25 bound list — same cumulative-window
    // association as the direct gate
    "ts_promql_nhcb_quantile" ->
      """WITH days AS (
        |  SELECT DISTINCT event_type, user_id,
        |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
        |  FROM events),
        |latest AS (
        |  SELECT event_type, user_id, max(d) AS d
        |  FROM days GROUP BY 1, 2),
        |base AS (
        |  SELECT event_type, user_id, d,
        |    user_id * 31 + length(event_type) AS sseed
        |  FROM latest),
        |buckets AS (
        |  SELECT event_type, i,
        |    sum(d*d*((sseed + i + 3) % 5)) AS cnt
        |  FROM base, unnest(range(0, 6)) AS t(i)
        |  WHERE i <= (CASE WHEN d >= 19740 THEN 5 ELSE 4 END)
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT *, CAST(sum(cnt) OVER (PARTITION BY event_type
        |      ORDER BY i) AS DOUBLE) AS cumc,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS DOUBLE)
        |      AS total
        |  FROM buckets),
        |hit AS (
        |  SELECT * FROM cum WHERE cnt > 0 AND cumc >= 0.9 * total)
        |SELECT event_type,
        |  min_by(0.25 * i + 0.25 * (((0.9 * total) - (cumc - cnt)) / cnt),
        |    i) AS phi90
        |FROM hit GROUP BY 1
        |ORDER BY event_type""".stripMargin,
    // counter increase over NHCB: monotone fixture, so the fold
    // telescopes to last − first (missing-first index 5 reads 0);
    // exact integers, zero bucket structurally 0
    "ts_promql_nhcb_count_increase" ->
      """WITH days AS (
        |  SELECT DISTINCT event_type, user_id,
        |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
        |  FROM events),
        |rng AS (
        |  SELECT event_type, user_id,
        |    user_id * 31 + length(event_type) AS sseed,
        |    min(d) AS d0, max(d) AS d1
        |  FROM days GROUP BY 1, 2, 3 HAVING count(*) >= 2)
        |SELECT event_type, CAST(user_id AS VARCHAR) AS user_id,
        |  CAST(sum(d1*d1*((sseed + i + 3) % 5)
        |    - (CASE WHEN i <= (CASE WHEN d0 >= 19740 THEN 5 ELSE 4 END)
        |       THEN d0*d0*((sseed + i + 3) % 5) ELSE 0 END)) AS DOUBLE)
        |    AS cinc
        |FROM rng, unnest(range(0, 6)) AS t(i)
        |WHERE i <= (CASE WHEN d1 >= 19740 THEN 5 ELSE 4 END)
        |GROUP BY 1, 2
        |ORDER BY event_type, CAST(user_id AS VARCHAR)""".stripMargin,
    // both bucket sides re-derived with a side marker; the union-fill
    // zeros drop on both engines
    "ts_tsdb_block_neg_roundtrip" ->
      """WITH days AS (
        |  SELECT DISTINCT event_type, user_id,
        |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
        |  FROM events),
        |base AS (
        |  SELECT event_type, user_id, d,
        |    user_id * 31 + length(event_type) AS sseed,
        |    d * 86400000 AS ts_ms
        |  FROM days),
        |pos AS (
        |  SELECT event_type, user_id, ts_ms, d, sseed, 'p' AS side, i,
        |    d*d*((sseed + i + 3) % 5) AS cnt
        |  FROM base, unnest(range(-2, 6)) AS t(i)
        |  WHERE i <= (CASE WHEN d >= 19740 THEN 5 ELSE 4 END)),
        |neg AS (
        |  SELECT event_type, user_id, ts_ms, d, sseed, 'n' AS side, i,
        |    d*d*((sseed + i + 7) % 4) AS cnt
        |  FROM base, unnest(range(-1, 4)) AS t(i)
        |  WHERE i <= (CASE WHEN d >= 19735 THEN 3 ELSE 2 END))
        |SELECT event_type, CAST(user_id AS VARCHAR) AS user_id, ts_ms,
        |  d*d*(sseed % 3) AS zero_count,
        |  CAST(d * ((sseed % 7) + 1) AS DOUBLE) * 0.25 AS hsum,
        |  side, CAST(i AS INT) AS idx, cnt
        |FROM (SELECT * FROM pos UNION ALL SELECT * FROM neg)
        |WHERE cnt != 0
        |ORDER BY event_type, CAST(user_id AS VARCHAR), ts_ms, side, idx"""
        .stripMargin,
    // the signed walk through the STRING front-end at instant
    // semantics: latest day per series, q=0.1 in the negative region
    "ts_promql_neg_quantile" ->
      """WITH days0 AS (
        |  SELECT DISTINCT event_type, user_id,
        |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
        |  FROM events),
        |days AS (
        |  SELECT event_type, user_id, max(d) AS d
        |  FROM days0 GROUP BY 1, 2),
        |base AS (
        |  SELECT event_type, user_id, d,
        |    user_id * 31 + length(event_type) AS sseed
        |  FROM days),
        |allb AS (
        |  SELECT event_type, user_id, 0 AS phase, -i AS ord,
        |    d*d*((sseed + i + 7) % 4) AS cnt,
        |    -power(2.0, i) AS lower, -power(2.0, i - 1) AS upper
        |  FROM base, unnest(range(-1, 4)) AS t(i)
        |  WHERE i <= (CASE WHEN d >= 19735 THEN 3 ELSE 2 END)
        |  UNION ALL
        |  SELECT event_type, user_id, 1 AS phase, 0 AS ord,
        |    d*d*(sseed % 3) AS cnt, 0.0 AS lower, 0.0 AS upper
        |  FROM base
        |  UNION ALL
        |  SELECT event_type, user_id, 2 AS phase, i AS ord,
        |    d*d*((sseed + i + 3) % 5) AS cnt,
        |    power(2.0, i - 1) AS lower, power(2.0, i) AS upper
        |  FROM base, unnest(range(-2, 6)) AS t(i)
        |  WHERE i <= (CASE WHEN d >= 19740 THEN 5 ELSE 4 END)),
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
        |        (((0.1 * total) - (cumc - cnt)) / cnt), ord)
        |      FILTER (WHERE phase = 0 AND cnt > 0
        |        AND cumc >= 0.1 * total) AS negres,
        |    min_by(lower + (upper - lower) *
        |        (((0.1 * total) - (cumc - cnt)) / cnt), ord)
        |      FILTER (WHERE phase = 2 AND cnt > 0
        |        AND cumc >= 0.1 * total) AS posres
        |  FROM cum GROUP BY 1, 2, 3, 4, 5)
        |SELECT event_type, CAST(user_id AS VARCHAR) AS user_id,
        |  CASE WHEN negtot > 0 AND 0.1 * total <= negtot THEN negres
        |       WHEN negtot + zerotot >= 0.1 * total THEN 0.0
        |       ELSE posres END AS phi10
        |FROM scored
        |ORDER BY event_type, CAST(user_id AS VARCHAR)"""
        .stripMargin,
    // signed rate through the front-end: whole-sample first/last per
    // series (min/max day), clamped bucket deltas over dt seconds,
    // count = ((zero_rate + posFold) + negFold) replayed with
    // ordered cumulative windows
    "ts_promql_neg_count_rate" ->
      """WITH days0 AS (
        |  SELECT DISTINCT event_type, user_id,
        |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
        |  FROM events),
        |rng AS (
        |  SELECT event_type, user_id,
        |    user_id * 31 + length(event_type) AS sseed,
        |    min(d) AS d0, max(d) AS d1
        |  FROM days0 GROUP BY 1, 2, 3
        |  HAVING count(*) >= 2),
        |pos AS (
        |  SELECT event_type, user_id, i,
        |    CAST(d1*d1*((sseed + i + 3) % 5)
        |      - (CASE WHEN i <= (CASE WHEN d0 >= 19740 THEN 5 ELSE 4 END)
        |         THEN d0*d0*((sseed + i + 3) % 5) ELSE 0 END) AS DOUBLE)
        |      / CAST((d1 - d0) * 86400 AS DOUBLE) AS r
        |  FROM rng, unnest(range(-2, 6)) AS t(i)
        |  WHERE i <= (CASE WHEN d1 >= 19740 THEN 5 ELSE 4 END)),
        |neg AS (
        |  SELECT event_type, user_id, i,
        |    CAST(d1*d1*((sseed + i + 7) % 4)
        |      - (CASE WHEN i <= (CASE WHEN d0 >= 19735 THEN 3 ELSE 2 END)
        |         THEN d0*d0*((sseed + i + 7) % 4) ELSE 0 END) AS DOUBLE)
        |      / CAST((d1 - d0) * 86400 AS DOUBLE) AS r
        |  FROM rng, unnest(range(-1, 4)) AS t(i)
        |  WHERE i <= (CASE WHEN d1 >= 19735 THEN 3 ELSE 2 END)),
        |pw AS (
        |  SELECT event_type, user_id,
        |    sum(r) OVER (PARTITION BY event_type, user_id
        |      ORDER BY i ROWS UNBOUNDED PRECEDING) AS s
        |  FROM pos
        |  QUALIFY row_number() OVER (PARTITION BY event_type, user_id
        |    ORDER BY i DESC) = 1),
        |nw AS (
        |  SELECT event_type, user_id,
        |    sum(r) OVER (PARTITION BY event_type, user_id
        |      ORDER BY i ROWS UNBOUNDED PRECEDING) AS s
        |  FROM neg
        |  QUALIFY row_number() OVER (PARTITION BY event_type, user_id
        |    ORDER BY i DESC) = 1)
        |SELECT r.event_type, CAST(r.user_id AS VARCHAR) AS user_id,
        |  ((CAST(greatest(d1*d1*(sseed % 3) - d0*d0*(sseed % 3), 0)
        |      AS DOUBLE) / CAST((d1 - d0) * 86400 AS DOUBLE)
        |    + pw.s) + nw.s) AS crate
        |FROM rng r
        |JOIN pw USING (event_type, user_id)
        |JOIN nw USING (event_type, user_id)
        |ORDER BY r.event_type, CAST(r.user_id AS VARCHAR)"""
        .stripMargin,
    // gauge delta over a signed histogram: unclamped last - first on
    // every component, exact integer arithmetic end to end
    "ts_promql_neg_delta" ->
      """WITH days0 AS (
        |  SELECT DISTINCT event_type, user_id,
        |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
        |  FROM events),
        |rng AS (
        |  SELECT event_type, user_id,
        |    user_id * 31 + length(event_type) AS sseed,
        |    min(d) AS d0, max(d) AS d1
        |  FROM days0 GROUP BY 1, 2, 3
        |  HAVING count(*) >= 2),
        |pos AS (
        |  SELECT event_type, user_id,
        |    sum(d1*d1*((sseed + i + 3) % 5)
        |      - (CASE WHEN i <= (CASE WHEN d0 >= 19740 THEN 5 ELSE 4 END)
        |         THEN d0*d0*((sseed + i + 3) % 5) ELSE 0 END)) AS s
        |  FROM rng, unnest(range(-2, 6)) AS t(i)
        |  WHERE i <= (CASE WHEN d1 >= 19740 THEN 5 ELSE 4 END)
        |  GROUP BY 1, 2),
        |neg AS (
        |  SELECT event_type, user_id,
        |    sum(d1*d1*((sseed + i + 7) % 4)
        |      - (CASE WHEN i <= (CASE WHEN d0 >= 19735 THEN 3 ELSE 2 END)
        |         THEN d0*d0*((sseed + i + 7) % 4) ELSE 0 END)) AS s
        |  FROM rng, unnest(range(-1, 4)) AS t(i)
        |  WHERE i <= (CASE WHEN d1 >= 19735 THEN 3 ELSE 2 END)
        |  GROUP BY 1, 2)
        |SELECT r.event_type, CAST(r.user_id AS VARCHAR) AS user_id,
        |  CAST((d1*d1 - d0*d0) * (sseed % 3) + pos.s + neg.s AS DOUBLE)
        |    AS cdelta
        |FROM rng r
        |JOIN pos USING (event_type, user_id)
        |JOIN neg USING (event_type, user_id)
        |ORDER BY r.event_type, CAST(r.user_id AS VARCHAR)"""
        .stripMargin,
    // the signed migration path: both sides re-derived under the
    // same matcher + day-range restriction as the NH convert gate
    "ts_tsdb_block_neg_convert" ->
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
        |    AND d >= 19727 AND d < 19742),
        |pos AS (
        |  SELECT event_type, user_id, ts_us, d, sseed, 'p' AS side, i,
        |    d*d*((sseed + i + 3) % 5) AS cnt
        |  FROM base, unnest(range(-2, 6)) AS t(i)
        |  WHERE i <= (CASE WHEN d >= 19740 THEN 5 ELSE 4 END)),
        |neg AS (
        |  SELECT event_type, user_id, ts_us, d, sseed, 'n' AS side, i,
        |    d*d*((sseed + i + 7) % 4) AS cnt
        |  FROM base, unnest(range(-1, 4)) AS t(i)
        |  WHERE i <= (CASE WHEN d >= 19735 THEN 3 ELSE 2 END))
        |SELECT event_type, CAST(user_id AS VARCHAR) AS user_id, ts_us,
        |  d*d*(sseed % 3) AS zero_count,
        |  CAST(d * ((sseed % 7) + 1) AS DOUBLE) * 0.25 AS hsum,
        |  side, CAST(i AS INT) AS idx, cnt
        |FROM (SELECT * FROM pos UNION ALL SELECT * FROM neg)
        |WHERE cnt != 0
        |ORDER BY event_type, CAST(user_id AS VARCHAR), ts_us, side, idx"""
        .stripMargin,
    // signed stats: count/avg exact-integer arithmetic; stdvar
    // replays the ((zero + posFold) + negFold) association with two
    // ordered cumulative windows; fraction bounds sit on bucket
    // boundaries so every share is exactly 0 or 1
    "ts_nh_neg_stats" ->
      """WITH days AS (
        |  SELECT DISTINCT event_type, user_id,
        |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
        |  FROM events),
        |base AS (
        |  SELECT event_type, user_id, d,
        |    user_id * 31 + length(event_type) AS sseed,
        |    d * 86400000 AS ts_ms
        |  FROM days),
        |pos AS (
        |  SELECT event_type, user_id, ts_ms, i,
        |    d*d*((sseed + i + 3) % 5) AS cnt
        |  FROM base, unnest(range(-2, 6)) AS t(i)
        |  WHERE i <= (CASE WHEN d >= 19740 THEN 5 ELSE 4 END)),
        |neg AS (
        |  SELECT event_type, user_id, ts_ms, i,
        |    d*d*((sseed + i + 7) % 4) AS cnt
        |  FROM base, unnest(range(-1, 4)) AS t(i)
        |  WHERE i <= (CASE WHEN d >= 19735 THEN 3 ELSE 2 END)),
        |pt AS (
        |  SELECT event_type, user_id, ts_ms, sum(cnt) AS psum,
        |    sum(CASE WHEN i <= 1 THEN cnt ELSE 0 END) AS pin
        |  FROM pos GROUP BY 1, 2, 3),
        |nt AS (
        |  SELECT event_type, user_id, ts_ms, sum(cnt) AS nsum,
        |    sum(CASE WHEN i <= 1 THEN cnt ELSE 0 END) AS nin
        |  FROM neg GROUP BY 1, 2, 3),
        |m AS (
        |  SELECT b.event_type, b.user_id, b.ts_ms,
        |    d*d*(sseed % 3) AS zc,
        |    CAST(d * ((sseed % 7) + 1) AS DOUBLE) * 0.25 AS hsum,
        |    pt.pin, nt.nin,
        |    CAST(d*d*(sseed % 3) + pt.psum + nt.nsum AS DOUBLE) AS n
        |  FROM base b
        |  JOIN pt USING (event_type, user_id, ts_ms)
        |  JOIN nt USING (event_type, user_id, ts_ms)),
        |m2 AS (SELECT *, hsum / n AS mean FROM m),
        |pw AS (
        |  SELECT p.event_type, p.user_id, p.ts_ms,
        |    sum(CAST(p.cnt AS DOUBLE) *
        |        ((pow(2.0, p.i - 1) + pow(2.0, p.i)) / 2.0 - m2.mean) *
        |        ((pow(2.0, p.i - 1) + pow(2.0, p.i)) / 2.0 - m2.mean))
        |      OVER (PARTITION BY p.event_type, p.user_id, p.ts_ms
        |            ORDER BY p.i ROWS UNBOUNDED PRECEDING) AS posdev
        |  FROM pos p JOIN m2 USING (event_type, user_id, ts_ms)
        |  QUALIFY row_number() OVER (PARTITION BY p.event_type,
        |    p.user_id, p.ts_ms ORDER BY p.i DESC) = 1),
        |nw AS (
        |  SELECT g.event_type, g.user_id, g.ts_ms,
        |    sum(CAST(g.cnt AS DOUBLE) *
        |        (-((pow(2.0, g.i - 1) + pow(2.0, g.i)) / 2.0) - m2.mean) *
        |        (-((pow(2.0, g.i - 1) + pow(2.0, g.i)) / 2.0) - m2.mean))
        |      OVER (PARTITION BY g.event_type, g.user_id, g.ts_ms
        |            ORDER BY g.i ROWS UNBOUNDED PRECEDING) AS negdev
        |  FROM neg g JOIN m2 USING (event_type, user_id, ts_ms)
        |  QUALIFY row_number() OVER (PARTITION BY g.event_type,
        |    g.user_id, g.ts_ms ORDER BY g.i DESC) = 1)
        |SELECT m2.event_type, CAST(m2.user_id AS VARCHAR) AS user_id,
        |  m2.ts_ms, m2.n AS h_count,
        |  CASE WHEN m2.n = 0 THEN CAST('nan' AS DOUBLE)
        |       ELSE m2.hsum / m2.n END AS h_avg,
        |  CASE WHEN m2.n = 0 THEN CAST('nan' AS DOUBLE)
        |       ELSE ((CAST(m2.zc AS DOUBLE) * m2.mean * m2.mean
        |              + pw.posdev) + nw.negdev) / m2.n END AS h_stdvar,
        |  CASE WHEN m2.n = 0 THEN CAST('nan' AS DOUBLE)
        |       ELSE CAST(m2.zc + m2.pin + m2.nin AS DOUBLE) / m2.n
        |       END AS frac
        |FROM m2
        |JOIN pw USING (event_type, user_id, ts_ms)
        |JOIN nw USING (event_type, user_id, ts_ms)
        |ORDER BY m2.event_type, CAST(m2.user_id AS VARCHAR), m2.ts_ms"""
        .stripMargin,
    // the AllBucketIterator walk replayed over a phase-ordered union
    // (0 = negative side descending index, 1 = zero bucket, 2 =
    // positive ascending) with the same FP association: cum/total
    // exact integers in double, linear interpolation
    // lower + (upper-lower)·((rank − cumBefore)/cnt)
    "ts_nh_neg_quantile" ->
      """WITH days AS (
        |  SELECT DISTINCT event_type, user_id,
        |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
        |  FROM events),
        |base AS (
        |  SELECT event_type, user_id, d,
        |    user_id * 31 + length(event_type) AS sseed,
        |    d * 86400000 AS ts_ms
        |  FROM days),
        |allb AS (
        |  SELECT event_type, user_id, ts_ms, 0 AS phase, -i AS ord,
        |    d*d*((sseed + i + 7) % 4) AS cnt,
        |    -power(2.0, i) AS lower, -power(2.0, i - 1) AS upper
        |  FROM base, unnest(range(-1, 4)) AS t(i)
        |  WHERE i <= (CASE WHEN d >= 19735 THEN 3 ELSE 2 END)
        |  UNION ALL
        |  SELECT event_type, user_id, ts_ms, 1 AS phase, 0 AS ord,
        |    d*d*(sseed % 3) AS cnt, 0.0 AS lower, 0.0 AS upper
        |  FROM base
        |  UNION ALL
        |  SELECT event_type, user_id, ts_ms, 2 AS phase, i AS ord,
        |    d*d*((sseed + i + 3) % 5) AS cnt,
        |    power(2.0, i - 1) AS lower, power(2.0, i) AS upper
        |  FROM base, unnest(range(-2, 6)) AS t(i)
        |  WHERE i <= (CASE WHEN d >= 19740 THEN 5 ELSE 4 END)),
        |cum AS (
        |  SELECT *,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type, user_id, ts_ms
        |      ORDER BY phase, ord) AS DOUBLE) AS cumc,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type, user_id,
        |      ts_ms) AS DOUBLE) AS total,
        |    CAST(sum(CASE WHEN phase = 0 THEN cnt ELSE 0 END)
        |      OVER (PARTITION BY event_type, user_id, ts_ms)
        |      AS DOUBLE) AS negtot,
        |    CAST(sum(CASE WHEN phase = 1 THEN cnt ELSE 0 END)
        |      OVER (PARTITION BY event_type, user_id, ts_ms)
        |      AS DOUBLE) AS zerotot
        |  FROM allb),
        |scored AS (
        |  SELECT event_type, user_id, ts_ms, total, negtot, zerotot,
        |    min_by(lower + (upper - lower) *
        |        (((0.1 * total) - (cumc - cnt)) / cnt), ord)
        |      FILTER (WHERE phase = 0 AND cnt > 0
        |        AND cumc >= 0.1 * total) AS negres10,
        |    min_by(lower + (upper - lower) *
        |        (((0.1 * total) - (cumc - cnt)) / cnt), ord)
        |      FILTER (WHERE phase = 2 AND cnt > 0
        |        AND cumc >= 0.1 * total) AS posres10,
        |    min_by(lower + (upper - lower) *
        |        (((0.9 * total) - (cumc - cnt)) / cnt), ord)
        |      FILTER (WHERE phase = 0 AND cnt > 0
        |        AND cumc >= 0.9 * total) AS negres90,
        |    min_by(lower + (upper - lower) *
        |        (((0.9 * total) - (cumc - cnt)) / cnt), ord)
        |      FILTER (WHERE phase = 2 AND cnt > 0
        |        AND cumc >= 0.9 * total) AS posres90
        |  FROM cum
        |  GROUP BY 1, 2, 3, 4, 5, 6)
        |SELECT event_type, CAST(user_id AS VARCHAR) AS user_id, ts_ms,
        |  CASE WHEN negtot > 0 AND 0.1 * total <= negtot THEN negres10
        |       WHEN negtot + zerotot >= 0.1 * total THEN 0.0
        |       ELSE posres10 END AS phi10,
        |  CASE WHEN negtot > 0 AND 0.9 * total <= negtot THEN negres90
        |       WHEN negtot + zerotot >= 0.9 * total THEN 0.0
        |       ELSE posres90 END AS phi90
        |FROM scored
        |ORDER BY event_type, CAST(user_id AS VARCHAR), ts_ms"""
        .stripMargin,
    "ts_promql_nh_blocks" -> nhQuantileRateBlockSql,
    // info(): the derived target_info tier label re-derived with the
    // same integer arithmetic, joined on the identifying label
    "ts_promql_info" ->
      """SELECT event_type, user_id,
        |  't' || CAST(user_id % 3 AS VARCHAR) AS tier,
        |  CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
        |GROUP BY 1, 2
        |ORDER BY event_type, user_id""".stripMargin,
    "ts_promql_topk_offset" ->
      """WITH s AS (
        |  SELECT event_type, user_id,
        |    CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS total
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-25'
        |  GROUP BY event_type, user_id),
        |rk AS (
        |  SELECT *, row_number()
        |    OVER (ORDER BY total DESC, event_type, user_id) AS rk FROM s)
        |SELECT event_type, user_id, total FROM rk WHERE rk <= 5
        |ORDER BY event_type, user_id""".stripMargin,
    "ts_promql_filter_and" ->
      """WITH c AS (
        |  SELECT user_id, CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS v
        |  FROM events WHERE event_type = 'click'
        |    AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
        |  GROUP BY user_id),
        |p AS (
        |  SELECT user_id, CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS v
        |  FROM events WHERE event_type = 'purchase'
        |    AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
        |  GROUP BY user_id)
        |SELECT c.user_id, c.v AS click_total
        |FROM c JOIN p USING (user_id)
        |WHERE c.v > 650 AND p.v > 650
        |ORDER BY c.user_id""".stripMargin,
    // range-query oracles: a steps CTE (DuckDB range()) replays the
    // grid; each step's window is the half-open [step - range, step)
    "ts_promql_range_sum" ->
      """WITH steps AS (
        |  SELECT range AS step_ms
        |  FROM range(1704672000000, 1706572800001, 172800000)),
        |j AS (
        |  SELECT s.step_ms, e.event_type, e.value
        |  FROM steps s JOIN events e
        |    ON e.ts >= epoch_ms(s.step_ms - 259200000)
        |   AND e.ts < epoch_ms(s.step_ms))
        |SELECT event_type, step_ms,
        |  CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS total
        |FROM j GROUP BY event_type, step_ms
        |ORDER BY event_type, step_ms""".stripMargin,
    "ts_promql_range_rate" ->
      """WITH steps AS (
        |  SELECT range AS step_ms
        |  FROM range(1704844800000, 1706572800001, 432000000)),
        |d AS (
        |  SELECT s.step_ms, e.event_type, e.user_id, e.value,
        |    epoch_ms(e.ts) AS ts_ms,
        |    lag(e.value) OVER w AS prev,
        |    row_number() OVER w AS rn
        |  FROM steps s JOIN events e
        |    ON e.ts >= epoch_ms(s.step_ms - 345600000)
        |   AND e.ts < epoch_ms(s.step_ms)
        |  WINDOW w AS (PARTITION BY s.step_ms, e.event_type, e.user_id
        |               ORDER BY e.ts, e.event_id)),
        |agg AS (
        |  SELECT step_ms, event_type, user_id,
        |    CAST(sum(CAST(CASE WHEN prev IS NULL THEN 0.0
        |                       WHEN value >= prev THEN value - prev
        |                       ELSE value END AS DECIMAL(30,8))) AS DOUBLE) AS inc,
        |    min(ts_ms) AS first_ms, max(ts_ms) AS last_ms,
        |    max(CASE WHEN rn = 1 THEN value END) AS first_v,
        |    count(*) AS n
        |  FROM d GROUP BY step_ms, event_type, user_id
        |  HAVING count(*) >= 2 AND max(ts_ms) > min(ts_ms)),
        |ext AS (
        |  SELECT step_ms, event_type, inc, n, first_v,
        |    CAST(last_ms - first_ms AS DOUBLE) AS sampled,
        |    CAST(last_ms - first_ms AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS avg_sp,
        |    CAST(first_ms - (step_ms - 345600000) AS DOUBLE) AS to_start_raw,
        |    CAST(step_ms - last_ms AS DOUBLE) AS to_end
        |  FROM agg),
        |fin AS (
        |  SELECT step_ms, event_type, inc, sampled, avg_sp, to_end,
        |    avg_sp * 1.1 AS threshold,
        |    least(CASE WHEN inc > 0 AND first_v >= 0
        |               THEN sampled * (first_v / inc)
        |               ELSE to_start_raw END, to_start_raw) AS to_start
        |  FROM ext),
        |rates AS (
        |  SELECT step_ms, event_type,
        |    floor((inc * ((sampled
        |        + (CASE WHEN to_start < threshold THEN to_start ELSE avg_sp / 2 END)
        |        + (CASE WHEN to_end < threshold THEN to_end ELSE avg_sp / 2 END))
        |      / sampled) / 345600.0) / 0.00000001 + 0.5) * 0.00000001 AS rate
        |  FROM fin)
        |SELECT event_type, step_ms,
        |  CAST(sum(CAST(rate AS DECIMAL(30,8))) AS DOUBLE) AS rate_sum
        |FROM rates GROUP BY event_type, step_ms
        |ORDER BY event_type, step_ms""".stripMargin,
    // per-step instant selector: latest sample in the lookback
    // window, ms-grain ties broken by value (the max(struct) order)
    "ts_promql_range_instant" ->
      """WITH steps AS (
        |  SELECT range AS step_ms
        |  FROM range(1704412800000, 1704758400001, 86400000)),
        |cand AS (
        |  SELECT s.step_ms, e.event_type, e.user_id, e.value,
        |    row_number() OVER (PARTITION BY s.step_ms, e.user_id
        |                       ORDER BY epoch_ms(e.ts) DESC, e.value DESC) AS rn
        |  FROM steps s JOIN events e
        |    ON e.ts >= epoch_ms(s.step_ms - 86400000)
        |   AND e.ts < epoch_ms(s.step_ms)
        |  WHERE e.event_type = 'click')
        |SELECT event_type, user_id, step_ms, value
        |FROM cand WHERE rn = 1
        |ORDER BY user_id, step_ms""".stripMargin,
    // subquery: 7 aligned daily inner steps, outer max per group
    "ts_promql_subquery" ->
      """WITH steps AS (
        |  SELECT range AS step_ms
        |  FROM range(1706140800000, 1706745600000, 86400000)),
        |daily AS (
        |  SELECT s.step_ms, e.event_type,
        |    CAST(sum(CAST(e.value AS DECIMAL(30,8))) AS DOUBLE) AS v
        |  FROM steps s JOIN events e
        |    ON e.ts >= epoch_ms(s.step_ms - 86400000)
        |   AND e.ts < epoch_ms(s.step_ms)
        |  GROUP BY s.step_ms, e.event_type)
        |SELECT event_type, max(v) AS max_daily
        |FROM daily GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // @-pinned baseline week vs the current week
    "ts_promql_at_pinned" ->
      """WITH cur AS (
        |  SELECT event_type,
        |    CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS v
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-25' AND ts < TIMESTAMP '2024-02-01'
        |  GROUP BY event_type),
        |base AS (
        |  SELECT event_type,
        |    CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS v
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-08'
        |  GROUP BY event_type)
        |SELECT cur.event_type, cur.v / base.v AS wow_ratio
        |FROM cur JOIN base USING (event_type)
        |ORDER BY cur.event_type""".stripMargin,
    // Sunday steps dropped by the day_of_week gate (DuckDB dayofweek:
    // Sunday = 0, the Prometheus convention)
    "ts_promql_business_days" ->
      """WITH steps AS (
        |  SELECT range AS step_ms
        |  FROM range(1704672000000, 1705795200001, 86400000)
        |  WHERE dayofweek(epoch_ms(range)) != 0),
        |j AS (
        |  SELECT s.step_ms, e.event_type, e.value
        |  FROM steps s JOIN events e
        |    ON e.ts >= epoch_ms(s.step_ms - 86400000)
        |   AND e.ts < epoch_ms(s.step_ms))
        |SELECT event_type, step_ms,
        |  CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS total
        |FROM j GROUP BY event_type, step_ms
        |ORDER BY event_type, step_ms""".stripMargin,
    // steps whose 6h trailing window holds no click from user 7
    "ts_promql_absent_range" ->
      """WITH steps AS (
        |  SELECT range AS step_ms
        |  FROM range(1704844800000, 1705017600001, 21600000)),
        |covered AS (
        |  SELECT DISTINCT s.step_ms
        |  FROM steps s JOIN events e
        |    ON e.ts >= epoch_ms(s.step_ms - 21600000)
        |   AND e.ts < epoch_ms(s.step_ms)
        |  WHERE e.event_type = 'click' AND e.user_id = 7)
        |SELECT s.step_ms, CAST(1.0 AS DOUBLE) AS absent
        |FROM steps s
        |WHERE s.step_ms NOT IN (SELECT step_ms FROM covered)
        |ORDER BY s.step_ms""".stripMargin,
    "ts_promql_scalar" ->
      """WITH per_series AS (
        |  SELECT event_type, user_id,
        |    CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS v
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
        |  GROUP BY event_type, user_id),
        |bytype AS (
        |  SELECT event_type, CAST(sum(CAST(v AS DECIMAL(30,8))) AS DOUBLE) AS v
        |  FROM per_series GROUP BY event_type),
        |tot AS (
        |  SELECT CAST(sum(CAST(v AS DECIMAL(30,8))) AS DOUBLE) AS t
        |  FROM per_series)
        |SELECT event_type, v / (SELECT t FROM tot) AS share
        |FROM bytype ORDER BY event_type""".stripMargin,
    "ts_promql_limitk" ->
      """WITH s AS (
        |  SELECT event_type, user_id,
        |    CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS total
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
        |  GROUP BY event_type, user_id),
        |rk AS (
        |  SELECT *, row_number()
        |    OVER (PARTITION BY event_type ORDER BY user_id) AS rk FROM s)
        |SELECT event_type, user_id, total FROM rk WHERE rk <= 3
        |ORDER BY event_type, user_id""".stripMargin,
    // the keep set replays graft's deterministic label-hash pick:
    // substr(sha256(labels ++ ':limit_ratio'), 1, 8) < 0.25 * 16^8
    "ts_promql_limit_ratio" ->
      """WITH s AS (
        |  SELECT event_type, user_id,
        |    CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS total
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
        |  GROUP BY event_type, user_id)
        |SELECT event_type, user_id, total FROM s
        |WHERE substr(sha256(event_type || chr(1) ||
        |    CAST(user_id AS VARCHAR) || ':limit_ratio'), 1, 8) < '40000000'
        |ORDER BY event_type, user_id""".stripMargin,
    // same compaction oracle as ts_merge_blocks, µs precision —
    // the samples additionally roundtrip the XOR codec twice
    "ts_chunk_merge" ->
      """SELECT event_type, user_id, epoch_us(ts) AS ts_us,
        |  arg_max(value, sidx) AS value
        |FROM (
        |  SELECT event_type, user_id, ts, value, 0 AS sidx FROM events
        |  WHERE ts < TIMESTAMP '2024-01-20'
        |  UNION ALL
        |  SELECT event_type, user_id, ts, value * 1.5, 1 FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-10')
        |GROUP BY event_type, user_id, ts
        |ORDER BY event_type, user_id, ts_us, value""".stripMargin,
    "mm_frames" ->
      """WITH f AS (
        |  SELECT doc_id AS media_id, octet_length(encode(text)) AS nb
        |  FROM documents),
        |idx AS (
        |  SELECT media_id, nb,
        |    unnest(range(0, greatest(CAST(ceil(nb / 64.0) AS BIGINT), 1))) AS frame_idx
        |  FROM f WHERE nb > 0)
        |SELECT media_id, frame_idx,
        |  CAST(least(64, nb - frame_idx * 64) AS BIGINT) AS frame_bytes
        |FROM idx
        |WHERE frame_idx % 2 = 0
        |ORDER BY media_id, frame_idx""".stripMargin,
    // the mm image oracles replay the synthetic-image generator's
    // modular arithmetic (Multimodal.imgW/imgH/bandA/bandB): a hash
    // match means the imageio PNG encode→decode→pixel-pool loop
    // reproduced every predicted value exactly
    "mm_features" ->
      """WITH p AS (
        |  SELECT doc_id AS media_id,
        |    (doc_id % 37) + 12 AS w,
        |    2 * ((doc_id % 12) + 5) AS h,
        |    (doc_id * 5) % 256 AS ar, (doc_id * 7) % 256 AS ag,
        |    (doc_id * 11) % 256 AS ab,
        |    (doc_id * 13) % 256 AS br, (doc_id * 17) % 256 AS bg,
        |    (doc_id * 19) % 256 AS bb
        |  FROM documents)
        |SELECT media_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  round((ar + br) / 2.0, 4) AS mean_r,
        |  round((ag + bg) / 2.0, 4) AS mean_g,
        |  round((ab + bb) / 2.0, 4) AS mean_b,
        |  round((ar + ag + ab) / 3.0, 4) AS f0,
        |  round((ar + ag + ab) / 3.0, 4) AS f1,
        |  round((br + bg + bb) / 3.0, 4) AS f2,
        |  round((br + bg + bb) / 3.0, 4) AS f3
        |FROM p ORDER BY media_id""".stripMargin,
    "mm_resize" ->
      """WITH p AS (
        |  SELECT doc_id AS media_id,
        |    (doc_id % 37) + 12 AS w,
        |    2 * ((doc_id % 12) + 5) AS h
        |  FROM documents)
        |SELECT media_id,
        |  CAST(CASE WHEN greatest(w, h) <= 16 THEN w
        |       ELSE CAST(ceil(w * (16.0 / greatest(w, h))) AS BIGINT) END
        |    AS BIGINT) AS width,
        |  CAST(CASE WHEN greatest(w, h) <= 16 THEN h
        |       ELSE CAST(ceil(h * (16.0 / greatest(w, h))) AS BIGINT) END
        |    AS BIGINT) AS height
        |FROM p ORDER BY media_id""".stripMargin,
    "ts_merge_shards" ->
      """SELECT event_type, user_id, epoch_ms(ts) AS ts_ms,
        |  arg_max(value, sidx) AS value
        |FROM (
        |  SELECT event_type, user_id, ts, value, 0 AS sidx FROM events
        |  WHERE user_id % 2 = 0
        |  UNION ALL
        |  SELECT event_type, user_id, ts, value, 1 FROM events
        |  WHERE user_id % 2 = 1 OR value > 100)
        |GROUP BY event_type, user_id, ts
        |ORDER BY event_type, user_id, ts_ms, value""".stripMargin,
    "ts_merge_blocks" ->
      """SELECT event_type, user_id, epoch_ms(ts) AS ts_ms,
        |  arg_max(value, sidx) AS value
        |FROM (
        |  SELECT event_type, user_id, ts, value, 0 AS sidx FROM events
        |  WHERE ts < TIMESTAMP '2024-01-20'
        |  UNION ALL
        |  SELECT event_type, user_id, ts, value * 1.5, 1 FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-10')
        |GROUP BY event_type, user_id, ts
        |ORDER BY event_type, user_id, ts_ms, value""".stripMargin,
    "dd_exact" ->
      """SELECT doc_id, sha256(text) AS content_hash,
        |  CAST(row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS BIGINT) AS dup_rank
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "dd_ngram_jaccard" ->
      s"""WITH ${ngramPairCtes()}
        |SELECT id_a, id_b, jaccard FROM expanded
        |ORDER BY id_a, id_b""".stripMargin,
    // substring-span dedup: canonical occurrence per duplicated token
    // 8-gram via window rank, covered = union of [pos, pos+8) over
    // non-canonical starts, rebuild from uncovered token indexes
    "dd_substring" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |starts AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |    array_to_string(ws[CAST(i AS INT):CAST(i + 7 AS INT)], ' ')
        |      AS gram
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 6)) AS i
        |        FROM w WHERE len(ws) >= 8)),
        |occ AS (
        |  SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos)
        |      AS rn,
        |    count(*) OVER (PARTITION BY gram) AS c
        |  FROM starts),
        |cov AS (
        |  SELECT doc_id,
        |    list_distinct(flatten(list(range(pos, pos + 8)))) AS covered
        |  FROM occ WHERE c >= 2 AND rn >= 2 GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens,
        |  CAST(coalesce(len(c.covered), 0) AS INT) AS n_removed,
        |  CASE WHEN c.covered IS NULL THEN d.text
        |    -- coalesce: DuckDB's array_to_string is NULL on the
        |    -- empty list (fully-removed doc); Spark's concat_ws is ''
        |    ELSE coalesce(array_to_string(list_transform(
        |      list_filter(range(0, len(string_split(d.text, ' '))),
        |        i -> NOT list_contains(c.covered, i)),
        |      i -> string_split(d.text, ' ')[CAST(i + 1 AS INT)]), ' '), '')
        |  END AS cleaned_text
        |FROM documents d LEFT JOIN cov c USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // transitive closure over the SAME pair set the ngram oracle
    // emits: min-reachable-node labelling via a recursive CTE
    "dd_clusters" ->
      s"""WITH RECURSIVE ${ngramPairCtes()},
        |$closureCtes
        |SELECT node AS doc_id, least(node, min(r)) AS cluster_id
        |FROM reach
        |GROUP BY node
        |ORDER BY doc_id""".stripMargin,
    "dd_embed_neardup" ->
      """SELECT id_a, id_b, cos_sim FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
        |      / (sqrt(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
        |         * sqrt(list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 4) AS cos_sim
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |WHERE cos_sim >= 0.45
        |ORDER BY id_a, id_b""".stripMargin,
    "ann_bruteforce" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings),
        |s AS (SELECT qid, nid,
        |        list_inner_product(qv, nv)
        |          / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(nv, nv))) AS sim
        |      FROM c CROSS JOIN q WHERE qid <> nid),
        |r AS (SELECT qid, nid, sim,
        |        CAST(row_number() OVER (PARTITION BY qid
        |          ORDER BY round(sim, 6) DESC, nid) AS BIGINT) AS "rank"
        |      FROM s)
        |SELECT qid, nid, round(sim, 4) AS sim, "rank" FROM r
        |WHERE "rank" <= 10
        |ORDER BY qid, "rank"""".stripMargin,
    "txt_token_count" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "txt_quality" ->
      s"""SELECT doc_id, $qualitySqlExpr AS quality
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "txt_lang_id" ->
      s"""WITH ${langCtes("documents")}
        |SELECT doc_id, lang_pred FROM lang_pred
        |ORDER BY doc_id""".stripMargin,
    // the same sha256 hex-threshold selection, thresholds baked
    // from the SAME Scala helper the operator uses
    "pipe_sample_mix" ->
      s"""WITH ${langCtes("documents")}
        |SELECT doc_id, lang_pred AS lang FROM lang_pred
        |WHERE substr(sha256(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8) <
        |  CASE lang_pred
        |    WHEN 'en' THEN '${operators.Pipeline.sampleThreshold(0.5)}'
        |    WHEN 'de' THEN '${operators.Pipeline.sampleThreshold(1.0)}'
        |    WHEN 'fr' THEN '${operators.Pipeline.sampleThreshold(0.25)}'
        |    WHEN 'es' THEN '${operators.Pipeline.sampleThreshold(0.1)}'
        |    ELSE '${operators.Pipeline.sampleThreshold(0.0)}' END
        |ORDER BY doc_id""".stripMargin,
    "pipe_corpus_clean" -> corpusCleanOracle,
    // the minhash variant verifies candidates with the SAME exact
    // Jaccard at the same threshold; banding recall is 1.0 on this
    // corpus (SketchRecallSpec), so the manifest — and the oracle —
    // are identical to the ngram path's
    "pipe_corpus_clean_minhash" -> corpusCleanOracle,
    "txt_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |    (acc, x) -> (acc * 31 + x) % 2147483647) AS fp
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    // per token: the SAME polynomial hash as txt_fingerprint mod 256
    // picks the bucket, the weight formula replays graft's literal
    // table, contributions accumulate in decimal(30,8) (order-free)
    "txt_quality_model" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        |  FROM documents),
        |tw AS (
        |  SELECT doc_id,
        |    ((list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(split(tok, ''), c -> CAST(ascii(c) AS BIGINT))),
        |        (acc, x) -> (acc * 31 + x) % 2147483647) % 256)
        |      * 2654435761) % 1000 / 1000.0 - 0.5 AS wt
        |  FROM toks),
        |agg AS (
        |  SELECT doc_id, CAST(sum(CAST(wt AS DECIMAL(30,8))) AS DOUBLE) AS wsum,
        |    count(*) AS nt
        |  FROM tw GROUP BY doc_id)
        |SELECT d.doc_id,
        |  round(0.1 + COALESCE(a.wsum, 0.0) / greatest(COALESCE(a.nt, 0), 1), 6)
        |    AS model_score
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "mm_phash" ->
      s"""WITH $phashCtes
        |SELECT media_id, b0, b1, b2, b3, b4, b5, b6, b7
        |FROM ph ORDER BY media_id""".stripMargin,
    // brute-force hamming join over the replayed hashes — verifies
    // the BANDED Spark plan loses nothing (pigeonhole: maxHamming 3
    // < 4 bands)
    "mm_phash_neardup" ->
      s"""WITH $phashCtes
        |SELECT id_a, id_b, hamming FROM (
        |  SELECT p.media_id AS id_a, q.media_id AS id_b,
        |    CAST(bit_count(xor(p.b0, q.b0)) + bit_count(xor(p.b1, q.b1))
        |       + bit_count(xor(p.b2, q.b2)) + bit_count(xor(p.b3, q.b3))
        |       + bit_count(xor(p.b4, q.b4)) + bit_count(xor(p.b5, q.b5))
        |       + bit_count(xor(p.b6, q.b6)) + bit_count(xor(p.b7, q.b7))
        |      AS BIGINT) AS hamming
        |  FROM ph p JOIN ph q ON p.media_id < q.media_id)
        |WHERE hamming <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    // transitive closure over the same brute-force pair SQL —
    // verifies the rep-level components + member inheritance
    "mm_phash_clusters" ->
      s"""WITH RECURSIVE $phashCtes,
        |expanded AS (
        |  SELECT p.media_id AS id_a, q.media_id AS id_b
        |  FROM ph p JOIN ph q ON p.media_id < q.media_id
        |  WHERE bit_count(xor(p.b0, q.b0)) + bit_count(xor(p.b1, q.b1))
        |      + bit_count(xor(p.b2, q.b2)) + bit_count(xor(p.b3, q.b3))
        |      + bit_count(xor(p.b4, q.b4)) + bit_count(xor(p.b5, q.b5))
        |      + bit_count(xor(p.b6, q.b6)) + bit_count(xor(p.b7, q.b7)) <= 3),
        |$closureCtes
        |SELECT node AS media_id, least(node, min(r)) AS cluster_id
        |FROM reach GROUP BY node ORDER BY media_id""".stripMargin,
    // replays TextStats.repetition: whitespace words, per-row
    // distinct for the dup fraction, bigram frequency for the top
    // fraction (single-word docs → 0.0)
    "txt_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |base AS (
        |  SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words,
        |    round(CAST(len(words) - len(list_distinct(words)) AS DOUBLE)
        |          / len(words), 4) AS dup_word_frac
        |  FROM w),
        |bg AS (
        |  SELECT doc_id,
        |    concat(words[CAST(i AS INT)], ' ', words[CAST(i AS INT) + 1])
        |      AS bigram
        |  FROM (SELECT doc_id, words, unnest(range(1, len(words))) AS i
        |        FROM w WHERE len(words) >= 2)),
        |cnt AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
        |top AS (
        |  SELECT doc_id,
        |    round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top_bigram_frac
        |  FROM cnt GROUP BY 1)
        |SELECT doc_id, n_words, dup_word_frac,
        |  coalesce(top_bigram_frac, 0.0) AS top_bigram_frac
        |FROM base LEFT JOIN top USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // distinct word 5-grams per doc, corpus df, per-doc duplicated
    // coverage; docs with <5 words report 0
    "txt_dup_ngrams" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(ws[CAST(i AS INT):CAST(i + 4 AS INT)], ' ')
        |      AS gram
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 3)) AS i
        |        FROM w WHERE len(ws) >= 5)),
        |dfreq AS (SELECT gram, count(*) AS df FROM grams GROUP BY gram),
        |per AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_dup
        |  FROM grams JOIN dfreq USING (gram) GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(p.n_grams, 0) AS n_grams,
        |  coalesce(p.n_dup, 0) AS n_dup,
        |  coalesce(round(CAST(p.n_dup AS DOUBLE) / p.n_grams, 4), 0.0)
        |    AS dup_ngram_frac
        |FROM documents d LEFT JOIN per p USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // 16-token windows every 12 tokens (4-token overlap); the last
    // chunk may be short, every token lands in >= 1 chunk
    "pipe_token_chunks" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |k AS (
        |  SELECT doc_id, ws,
        |    unnest(range(0, (len(ws) - 1) // 12 + 1)) AS chunk_idx
        |  FROM w WHERE len(ws) >= 1)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(chunk_idx * 12 AS BIGINT) AS start_tok,
        |  CAST(least(16, len(ws) - chunk_idx * 12) AS BIGINT) AS n_tok,
        |  array_to_string(ws[CAST(chunk_idx * 12 + 1 AS INT):
        |    CAST(chunk_idx * 12 + 16 AS INT)], ' ') AS chunk_text
        |FROM k ORDER BY doc_id, chunk_idx""".stripMargin,
    // per-shard running token offsets in doc-id order, then each
    // doc's span per overlapped 400-token sequence; floor(x/400.0)
    // is the same double division Spark's floor(col/lit) runs
    "pipe_pack_sequences" ->
      """WITH base AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
        |      AS n
        |  FROM documents
        |  WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) > 0),
        |off AS (
        |  SELECT doc_id, shard, n,
        |    sum(n) OVER (PARTITION BY shard ORDER BY doc_id) AS e,
        |    sum(n) OVER (PARTITION BY shard ORDER BY doc_id) - n AS s
        |  FROM base),
        |x AS (
        |  SELECT shard, doc_id, s, e,
        |    unnest(range(CAST(floor(s / 400.0) AS BIGINT),
        |      CAST(floor((e - 1) / 400.0) AS BIGINT) + 1)) AS seq_id
        |  FROM off)
        |SELECT shard, seq_id, doc_id,
        |  CAST(greatest(s, seq_id * 400) - s AS BIGINT) AS tok_from,
        |  CAST(least(e, (seq_id + 1) * 400) - s AS BIGINT) AS tok_to
        |FROM x
        |ORDER BY shard, seq_id, doc_id""".stripMargin,
    // replays salt + scrub + counts; patterns are Java/RE2-identical
    "txt_pii_scrub" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    concat(text, ' contact user', CAST(doc_id AS VARCHAR),
        |      '@example.com or ',
        |      lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'), '-555-',
        |      lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(t,
        |    '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
        |  regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS scrubbed
        |FROM s
        |ORDER BY doc_id""".stripMargin,
    // replays Dedup.decontaminate: distinct 24-char shingles per
    // side, inner join on the shared shingle, per-doc distinct count
    "dd_decontaminate" ->
      """WITH b AS (
        |  SELECT DISTINCT substr(text, CAST(i AS INT), 24) AS shingle
        |  FROM (SELECT text,
        |          unnest(range(1, greatest(length(text) - 23, 1) + 1)) AS i
        |        FROM documents WHERE doc_id % 97 = 0)),
        |tr AS (
        |  SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 24) AS shingle
        |  FROM (SELECT doc_id, text,
        |          unnest(range(1, greatest(length(text) - 23, 1) + 1)) AS i
        |        FROM documents WHERE doc_id % 97 <> 0))
        |SELECT doc_id, count(*) AS n_hits
        |FROM tr JOIN b USING (shingle)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
  )
}
