package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.tsdb.TsdbQueryable
import graft.tsdb.Matcher

/** Plan audit (SURVEY §5 / VERDICT item 9): prints `explain formatted`
  * for the scan-heaviest registered queries and greps the physical
  * plan for the properties that matter at 100 TB — predicates reaching
  * the parquet scan (PushedFilters), pruned ReadSchema, broadcast
  * joins on dims, partition pruning on the converter's bucket column.
  * Exits non-zero if an expected property is missing.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    var failures = List.empty[String]

    def audit(name: String, df: DataFrame, expect: Map[String, String],
        forbid: Map[String, String] = Map.empty): Unit = {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(s"\n===== $name =====")
      println(plan.linesIterator.filter(l =>
        l.contains("PushedFilters") || l.contains("ReadSchema") ||
          l.contains("PartitionFilters") || l.contains("Batched") ||
          l.contains("BroadcastHashJoin") || l.contains("Join") ||
          l.contains("(1) Scan")).mkString("\n"))
      expect.foreach { case (what, needle) =>
        val ok = plan.contains(needle)
        println(s"[audit] $name :: $what -> ${if (ok) "OK" else "MISSING ('" + needle + "')"}")
        if (!ok) failures ::= s"$name: $what"
      }
      forbid.foreach { case (what, needle) =>
        val ok = !plan.contains(needle)
        println(s"[audit] $name :: $what -> ${if (ok) "OK" else "PRESENT ('" + needle + "')"}")
        if (!ok) failures ::= s"$name: $what"
      }
    }

    audit("q01_filter_project",
      SparkEntry.queries("q01_filter_project")(spark, dir),
      Map(
        "quantity filter pushed to scan" -> "LessThan(l_quantity,10.0)",
        "shipdate filter pushed to scan" -> "GreaterThanOrEqual(l_shipdate,",
        // 6 of 11 lineitem cols: the 5 projected + the filter column
        "pruned ReadSchema" ->
          "struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double,l_returnflag:string,l_shipdate:timestamp_ntz>"))

    audit("q03_join_topk",
      SparkEntry.queries("q03_join_topk")(spark, dir),
      Map("segment filter pushed" -> "EqualTo(c_mktsegment,BUILDING)"))

    audit("q04_multi_join",
      SparkEntry.queries("q04_multi_join")(spark, dir),
      Map(
        "region filter pushed" -> "EqualTo(r_name,ASIA)",
        "dims broadcast" -> "BroadcastHashJoin"))

    audit("q05_window_topk",
      SparkEntry.queries("q05_window_topk")(spark, dir),
      Map("rank pushdown (WindowGroupLimit)" -> "WindowGroupLimit"))

    audit("ts_select_eq",
      SparkEntry.queries("ts_select_eq")(spark, dir),
      Map("matcher equality pushed" -> "EqualTo(event_type,click)"))

    // Series-only select (skipChunks analog): the scan must read the
    // label columns + the ts predicate column ONLY — the sample
    // `value` column never materializes for /api/v1/series.
    audit("ts_select_series",
      SparkEntry.queries("ts_select_series")(spark, dir),
      Map(
        "matcher IN-list pushed" -> "In(event_type, [click,purchase,view]",
        // µs-testdata bonus: the literal time range pushes on the
        // RAW events scan too (not just the converted layout)
        "time range pushed on raw events" -> "GreaterThanOrEqual(ts,",
        "scan pruned to labels + ts (no value)" ->
          "struct<ts:timestamp_ntz,user_id:bigint,event_type:string>"))

    // Wide-label layout select (48 sparse l_* columns written by
    // convertWithLabels with blooms): the equality matcher must reach
    // the scan — that is what the label-sorted row groups and the
    // l_dim_00 bloom filter prune on — and ReadSchema must hold only
    // the 3 projected labels + ts + value out of the 50 stored
    // columns (the projection-hints analog on the wide layout).
    audit("ts_wide_select",
      SparkEntry.queries("ts_wide_select")(spark, dir),
      Map(
        "wide-label equality matcher pushed" -> "EqualTo(l_dim_00,v1)",
        "scan pruned to projected labels + ts + value" ->
          "struct<ts:timestamp,value:double,l_dim_00:string,l_dim_04:string,l_dim_07:string>"))

    // group_left vector matching: the small right "info" vector must
    // broadcast so the big left vector never shuffles for the join.
    audit("ts_group_left",
      SparkEntry.queries("ts_group_left")(spark, dir),
      Map("info vector broadcast" -> "BroadcastHashJoin"))

    // Decontamination: the benchmark shingle set must broadcast so
    // the (100 TB) training side never shuffles for the probe join.
    audit("dd_decontaminate",
      SparkEntry.queries("dd_decontaminate")(spark, dir),
      Map("benchmark shingles broadcast" -> "BroadcastHashJoin"))

    // The offset-modifier composition: both selects' scans must prune
    // to the 4 used columns (props never read — the range filter
    // itself sits post-scan on raw `events` because ts arrives as
    // nanos-long; range PUSHDOWN is the converted layout's job,
    // audited via bucket_partition_pruning), and the two per-series
    // vectors must meet in a hash join, not a nested loop.
    audit("ts_offset_wow",
      SparkEntry.queries("ts_offset_wow")(spark, dir),
      Map(
        "scan pruned to 4 of 6 event columns" ->
          "struct<ts:timestamp_ntz,user_id:bigint,event_type:string,value:double>",
        "vector join is a hash join" -> "BroadcastHashJoin"),
      forbid = Map("no nested-loop join" -> "BroadcastNestedLoopJoin"))

    // The banded phash hamming join must stay an equi-join on
    // (band, band-value) — never an all-pairs product over images.
    audit("mm_phash_neardup",
      SparkEntry.queries("mm_phash_neardup")(spark, dir),
      Map.empty,
      forbid = Map(
        "no cartesian product" -> "CartesianProduct",
        "no nested-loop self-join" -> "BroadcastNestedLoopJoin"))

    // The banded dedup joins must stay equi-joins on bucket keys —
    // never a cartesian/broadcast-nested-loop over the corpus — and
    // the documents scan must read only (doc_id, text).
    audit("dd_minhash_lsh",
      SparkEntry.queries("dd_minhash_lsh")(spark, dir),
      Map("documents scan pruned" -> "struct<doc_id:bigint,text:string>"),
      Map("no cartesian product" -> "CartesianProduct",
        "no nested-loop self-join" -> "BroadcastNestedLoopJoin"))

    audit("dd_simhash",
      SparkEntry.queries("dd_simhash")(spark, dir),
      Map.empty,
      Map("no cartesian product" -> "CartesianProduct",
        "no nested-loop self-join" -> "BroadcastNestedLoopJoin"))

    // Substring-span dedup: the canonical-occurrence resolution must
    // be a gram-keyed hash aggregation with a map-side partial (the
    // one corpus-cardinality shuffle), the duplicate-start join stays
    // gram-keyed (equi-join — never a pair expansion or cartesian),
    // and the documents scan reads only (doc_id, text).
    audit("dd_substring",
      SparkEntry.queries("dd_substring")(spark, dir),
      Map(
        "documents scan pruned" -> "struct<doc_id:bigint,text:string>",
        "gram agg has map-side partial" -> "partial_min",
        // duplicated grams are RARE by construction, so AQE
        // broadcasts that side (BroadcastHashJoin); at petabyte dup
        // density it degrades gracefully to a shuffled hash join —
        // either way a hash EQUI-join, never a pair expansion
        "gram-keyed hash equi-join" -> "HashJoin"),
      Map("no cartesian product" -> "CartesianProduct",
        "no nested-loop join" -> "BroadcastNestedLoopJoin"))

    // IVF-PQ: the ADC scan joins the corpus codes against the
    // BROADCAST probe list (cell keys) and the exact rerank joins
    // the broadcast candidate ids back — the corpus side never
    // shuffles for either join, and nothing degenerates to a
    // cartesian/nested-loop product.
    audit("ann_ivf_pq",
      SparkEntry.queries("ann_ivf_pq")(spark, dir),
      Map(
        "probes/candidates broadcast" -> "BroadcastHashJoin",
        "embeddings scan pruned" -> "struct<vec_id:bigint,embedding:array<float>>"),
      forbid = Map(
        "no cartesian product" -> "CartesianProduct",
        "no nested-loop join" -> "BroadcastNestedLoopJoin"))

    // Hashed-feature model scoring is ONE narrow map fused into the
    // scan: no join anywhere in the plan, documents pruned to
    // (doc_id, text).
    audit("txt_quality_model",
      SparkEntry.queries("txt_quality_model")(spark, dir),
      Map("documents scan pruned" -> "struct<doc_id:bigint,text:string>"),
      forbid = Map("no join of any kind" -> "Join"))

    // Sequence packing: exactly one data-movement step — the
    // per-shard window's hash partitioning — and no joins.
    audit("pipe_pack_sequences",
      SparkEntry.queries("pipe_pack_sequences")(spark, dir),
      Map("per-shard window partitioning" -> "hashpartitioning(shard"),
      forbid = Map("no join of any kind" -> "Join"))

    // Connected-components rounds are equi-joins on node ids; the
    // final labelling must never degrade to a cartesian.
    audit("dd_clusters",
      SparkEntry.queries("dd_clusters")(spark, dir),
      Map.empty,
      Map("no cartesian product" -> "CartesianProduct",
        "no nested-loop join" -> "BroadcastNestedLoopJoin"))

    // The composed cleaning pipeline: its semi/anti joins and the
    // cluster collapse must all stay keyed — a mis-keyed manifest
    // join would degrade to a nested-loop over the corpus.
    audit("pipe_corpus_clean",
      SparkEntry.queries("pipe_corpus_clean")(spark, dir),
      Map.empty,
      Map("no cartesian product" -> "CartesianProduct",
        "no nested-loop join" -> "BroadcastNestedLoopJoin"))

    // Matcher IN fast-path must reach the scan as an In() filter.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val evRaw = spark.read.parquet(s"$dir/events.parquet")
    // nanos-as-long (older testdata) vs native micros — match
    // SparkEntry.t's dispatch
    val ev = evRaw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        evRaw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => evRaw.withColumn("ts", col("ts").cast("timestamp"))
    }
    audit("matcher_set_in_pushdown",
      new TsdbQueryable(ev, Seq("event_type", "user_id"))
        .select("2024-01-01", "2024-01-31", Matcher.Re("event_type", "click|view")),
      Map("IN-list pushed" -> "In(event_type, [click,view])"))

    // Bucket partition pruning on the converter's layout.
    val rtPath = "/tmp/graft_audit_roundtrip"
    graft.tsdb.TsdbConverter.convert(ev, rtPath, "ts",
      graft.tsdb.ConvertOptions(sortBy = Seq("event_type", "user_id")))
    audit("bucket_partition_pruning",
      spark.read.parquet(rtPath).filter(col("bucket") === 19725L),
      Map("partition filter present" -> "PartitionFilters: [isnotnull(bucket"))

    // labelValues under matchers on OTHER labels (materialize.go:320
    // MaterializeLabelValues analog): the matcher must reach
    // PushedFilters so the converted layout's sorted row groups +
    // bloom filters prune the scan, and the scan must read ONLY the
    // matcher column + the target label (no ts/value
    // materialization for a label-index query).
    audit("label_values_under_matchers_pushdown",
      new TsdbQueryable(spark.read.parquet(rtPath),
          Seq("event_type", "user_id"))
        .labelValues("user_id", Seq(Matcher.Eq("event_type", "click"))),
      Map(
        "matcher pushed to scan" -> "EqualTo(event_type,click)",
        "scan pruned to the two label columns" ->
          "struct<user_id:bigint,event_type:string>"))

    // Chunked dual-file select (ChunkStore): the labels side must
    // broadcast (the chunks side — the 100 TB side — never
    // shuffles), the matcher must push into the labels-file scan,
    // the chunks scan must prune bucket partition directories from
    // the time range, and the frame-metadata filter must reach the
    // chunks scan so row groups prune on mint/maxt stats.
    val csPath = "/tmp/graft_audit_chunkstore"
    graft.tsdb.ChunkStore.write(ev, csPath, Seq("event_type", "user_id"),
      "ts", "value")
    audit("ts_chunk_select",
      graft.tsdb.ChunkStore.select(spark, csPath,
        "2024-01-05", "2024-01-20",
        Seq(Matcher.Eq("event_type", "view")),
        Seq("event_type", "user_id"), "ts", "value"),
      Map(
        "labels side broadcasts" -> "BroadcastHashJoin",
        "matcher pushed to labels scan" -> "EqualTo(event_type,view)",
        "bucket partition pruning" -> "PartitionFilters: [",
        "mint/maxt metadata filter pushed" -> "GreaterThanOrEqual(maxt"),
      forbid = Map(
        "no shuffle of the chunks side" -> "Exchange hashpartitioning",
        "no nested-loop join" -> "BroadcastNestedLoopJoin"))

    // The reference-layout shard selects (ts_shard_interop,
    // ts_shard_series, ts_shard_neg_interop) resolve their matchers on
    // the driver and scan the chunks with no join; ShardSelectPlanSpec
    // asserts that shape in the test suite.

    // Chunked NATIVE-HISTOGRAM select (HistChunkStore): same plan
    // contract as ts_chunk_select — labels side broadcasts, matcher
    // pushes into the labels scan, bucket partitions prune, mint/maxt
    // row-group stats prune, chunks side never shuffles.
    audit("ts_hist_chunk_select",
      SparkEntry.queries("ts_hist_chunk_select")(spark, dir),
      Map(
        "labels side broadcasts" -> "BroadcastHashJoin",
        "matcher pushed to labels scan" -> "EqualTo(event_type,view)",
        "bucket partition pruning" -> "PartitionFilters: [",
        "mint/maxt metadata filter pushed" -> "GreaterThanOrEqual(maxt"),
      forbid = Map(
        "no shuffle of the chunks side" -> "Exchange hashpartitioning",
        "no nested-loop join" -> "BroadcastNestedLoopJoin"))

    // PromQL front-end over the raw events table: a parsed query must
    // compile to the SAME pushdown-friendly plan the direct API
    // builds — the selector's matcher reaches PushedFilters and the
    // one-to-one matching guard must not degrade the join to a
    // nested loop. Since the 2026-08-13 testdata generation events.ts
    // is native TIMESTAMP(MICROS), so the selector's literal time
    // range NOW pushes on the raw table too (Catalyst unwraps the
    // loader's session-TZ cast against a literal) — asserted here in
    // addition to the converted layout below.
    audit("ts_promql_ratio",
      SparkEntry.queries("ts_promql_ratio")(spark, dir),
      Map(
        "parsed matcher pushed to scan" -> "EqualTo(event_type,click)",
        "parsed time range pushed on raw events" -> "GreaterThanOrEqual(ts,"),
      forbid = Map(
        "no nested-loop join" -> "BroadcastNestedLoopJoin",
        "no cartesian product" -> "CartesianProduct"))

    // FLOAT-histogram chunked select: the same plan contract as
    // ts_hist_chunk_select over EncFloatHistogram cells.
    audit("ts_float_hist_select",
      SparkEntry.queries("ts_float_hist_select")(spark, dir),
      Map(
        "labels side broadcasts" -> "BroadcastHashJoin",
        "matcher pushed to labels scan" -> "EqualTo(event_type,view)",
        "bucket partition pruning" -> "PartitionFilters: [",
        "mint/maxt metadata filter pushed" -> "GreaterThanOrEqual(maxt"),
      forbid = Map(
        "no shuffle of the chunks side" -> "Exchange hashpartitioning",
        "no nested-loop join" -> "BroadcastNestedLoopJoin"))

    // GLOBAL topk (no `by`): must plan TakeOrderedAndProject — each
    // task keeps its partial top-k and only k rows move — and no
    // window of any kind may appear (the old shape was a
    // single-partition WindowExec over the whole aggregated vector).
    audit("ts_promql_topk_offset",
      SparkEntry.queries("ts_promql_topk_offset")(spark, dir),
      Map("global top-k is TakeOrderedAndProject" -> "TakeOrderedAndProject"),
      forbid = Map("no window operator at all" -> "Window"))

    // limitk BY a label: the row_number-≤-k shape must give Spark 4's
    // rank pushdown (WindowGroupLimit) so each task emits at most k
    // rows per group before the window exchange.
    audit("ts_promql_limitk",
      SparkEntry.queries("ts_promql_limitk")(spark, dir),
      Map("rank pushdown (WindowGroupLimit)" -> "WindowGroupLimit"),
      forbid = Map("no cartesian product" -> "CartesianProduct",
        "no nested-loop join" -> "BroadcastNestedLoopJoin"))

    // limit_ratio: the selection itself is a pure narrow sha256
    // filter — the plan's ONLY hash exchange is the inner
    // aggregation's (the display orderBy adds a range exchange), and
    // there is no join anywhere.
    {
      val lrDf = SparkEntry.queries("ts_promql_limit_ratio")(spark, dir)
      val lrPlan = lrDf.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val nHash = "Arguments: hashpartitioning".r.findAllIn(lrPlan).size
      val ok = nHash <= 1 && !lrPlan.contains("Join")
      println(s"[audit] ts_promql_limit_ratio :: narrow filter adds no exchange/join (hash exchanges=$nHash) -> ${if (ok) "OK" else "FAIL"}")
      if (!ok) failures ::= "ts_promql_limit_ratio: narrow filter"
    }

    // mad_over_time: median then MAD-about-median — two hash aggs
    // and one equi-join on the SAME series key; never a
    // cartesian/nested-loop pairing of the two aggregates.
    audit("ts_promql_mad",
      SparkEntry.queries("ts_promql_mad")(spark, dir),
      Map.empty,
      forbid = Map("no cartesian product" -> "CartesianProduct",
        "no nested-loop join" -> "BroadcastNestedLoopJoin"))

    // Native-histogram metrics through the front-end: the hist
    // selector shares scanFiltered, so over a PARQUET-backed hist
    // table the matcher AND the instant-lookback time range reach
    // PushedFilters, and the scan reads only the histogram component
    // columns the query needs (no stray fixture columns).
    val nhPath = "/tmp/graft_audit_nh"
    locally {
      import org.apache.spark.sql.functions.{col, floor, length, lit, sequence, transform, unix_timestamp, timestamp_seconds}
      ev.select(col("event_type"), col("user_id"),
          floor(unix_timestamp(col("ts")) / 86400).cast("long").as("d"))
        .distinct()
        .withColumn("seed",
          col("user_id") * 31 + col("d") * 7 + length(col("event_type")))
        .withColumn("zero_count", col("seed") % 3)
        .withColumn("pos_idx", sequence(lit(-2), lit(5)))
        .withColumn("pos_counts",
          transform(col("pos_idx"), i => (col("seed") * (i + 3)) % 7))
        .withColumn("ts", timestamp_seconds(col("d") * 86400))
        .write.mode("overwrite").parquet(nhPath)
    }
    audit("ts_promql_native_hist_pushdown",
      graft.tsdb.promql.PromQL.compile(
        """histogram_quantile(0.9, nh{event_type="click"})""",
        graft.tsdb.promql.PromQLContext(
          metrics = Map.empty,
          labelCols = Seq("event_type", "user_id"),
          evalMs = 1706745600000L,
          lookbackMs = 40L * 86400000L,
          histMetrics = Map("nh" ->
            graft.tsdb.promql.HistTable(spark.read.parquet(nhPath))))),
      Map(
        "hist matcher pushed to scan" -> "EqualTo(event_type,click)",
        "hist lookback range pushed" -> "GreaterThanOrEqual(ts,"),
      forbid = Map(
        // column pruning: the fixture's derivation columns must not
        // be read — only labels + ts + the histogram components
        "scan does not read the seed column" -> "seed:",
        "scan does not read the day column" -> ",d:bigint"))

    // Native-hist bucket-wise sum (HistSumAgg): ONE aggregation pass
    // — the built-in composition (explode + reassemble + scalar
    // branch join) read the instant-vector subtree twice with no
    // possible exchange reuse (differently-pruned scans). The
    // TypedImperativeAggregate plan must scan the metric table once.
    {
      val sumDf = SparkEntry.queries("ts_promql_nh_sum_quantile")(spark, dir)
      val nScans = """\(\d+\) Scan parquet""".r.findAllIn(
        sumDf.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)).size
      val one = nScans == 1
      println(s"[audit] ts_promql_nh_sum_one_scan :: hist sum-quantile reads the table once (scans=$nScans) -> ${if (one) "OK" else "FAIL"}")
      if (!one) failures ::= "ts_promql_nh_sum_one_scan: single scan"
    }

    // PromQL over the CONVERTED block layout — the production shape:
    // the parsed selector's time range pushes as a real ts predicate
    // AND prunes bucket partition directories via the context's
    // literal bucket range; the matcher still reaches PushedFilters.
    audit("ts_promql_converted_pushdown",
      graft.tsdb.promql.PromQL.compile(
        """sum by (user_id) (sum_over_time(events{event_type="view"}[15d] offset 11d))""",
        graft.tsdb.promql.PromQLContext(
          metrics = Map("events" -> spark.read.parquet(rtPath)),
          labelCols = Seq("event_type", "user_id"),
          evalMs = 1706745600000L,
          bucketCol = Some("bucket"))),
      Map(
        "parsed matcher pushed to scan" -> "EqualTo(event_type,view)",
        "parsed time range pushed" -> "GreaterThanOrEqual(ts,",
        "bucket partition pruning from the range" ->
          "PartitionFilters: [isnotnull(bucket"))

    // PromQL RANGE query (query_range): the whole 23-step grid must
    // be ONE scan of the metric table — a per-step rescan would be
    // the 100 TB killer — with the grid's literal time span pushed
    // and bucket partitions pruned on the converted layout.
    {
      val rangeDf = graft.tsdb.promql.PromQL.compileRange(
        """sum by (user_id) (rate(events{event_type="view"}[2d]))""",
        graft.tsdb.promql.PromQLContext(
          metrics = Map("events" -> spark.read.parquet(rtPath)),
          labelCols = Seq("event_type", "user_id"),
          evalMs = 1706745600000L,
          bucketCol = Some("bucket")),
        startMs = 1704672000000L, endMs = 1706572800000L, stepMs = 86400000L)
      audit("ts_promql_range_one_scan", rangeDf,
        Map(
          "parsed matcher pushed to scan" -> "EqualTo(event_type,view)",
          "grid time span pushed" -> "GreaterThanOrEqual(ts,",
          "bucket partition pruning from the span" ->
            "PartitionFilters: [isnotnull(bucket"))
      // formatted explain shows each node twice (tree + detail
      // section); count the detail form "(n) Scan parquet" only
      val nScans = """\(\d+\) Scan parquet""".r.findAllIn(
        rangeDf.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)).size
      val oneScan = nScans == 1
      println(s"[audit] ts_promql_range_one_scan :: 23-step grid reads the table once (scans=$nScans) -> ${if (oneScan) "OK" else "FAIL"}")
      if (!oneScan) failures ::= "ts_promql_range_one_scan: single scan"
    }

    // TSDB-block migration path: the SELECT stage over the layout
    // converted FROM block bytes must keep the same pushdown and
    // partition-pruning contract as a native convert — the byte
    // bridge cannot cost the converted layout its plan properties.
    // (The block READ itself is a narrow per-(block,shard) RDD scan
    // with index-level pruning, asserted by TsdbBlockSpec, not a
    // Catalyst plan.)
    audit("ts_tsdb_block_convert",
      SparkEntry.queries("ts_tsdb_block_convert")(spark, dir),
      Map(
        "matcher pushed to the converted scan" -> "EqualTo(event_type,view)",
        "time range pushed" -> "GreaterThanOrEqual(ts,",
        "bucket partition pruning" -> "PartitionFilters: [isnotnull(bucket"))

    // NH migration path: the chunked-layout select stage AFTER the
    // encoding-2 block bridge must keep the ts_hist_chunk_select
    // plan contract — labels-file pushdown, broadcast ref join, no
    // chunk-side shuffle.
    audit("ts_tsdb_block_nh_convert",
      SparkEntry.queries("ts_tsdb_block_nh_convert")(spark, dir),
      Map(
        "labels side broadcasts" -> "BroadcastHashJoin",
        "matcher pushed to labels scan" -> "EqualTo(event_type,view)",
        "bucket partition pruning" -> "PartitionFilters: [",
        "mint/maxt metadata filter pushed" -> "GreaterThanOrEqual(maxt"),
      forbid = Map(
        "no shuffle of the chunks side" -> "Exchange hashpartitioning",
        "no nested-loop join" -> "BroadcastNestedLoopJoin"))

    // SIGNED migration path: the negative side decodes with the
    // chunk, so the converted select must keep the identical plan
    // contract — no shuffle, no degraded broadcast.
    audit("ts_tsdb_block_neg_convert",
      SparkEntry.queries("ts_tsdb_block_neg_convert")(spark, dir),
      Map(
        "labels side broadcasts" -> "BroadcastHashJoin",
        "matcher pushed to labels scan" -> "EqualTo(event_type,view)",
        "bucket partition pruning" -> "PartitionFilters: [",
        "mint/maxt metadata filter pushed" -> "GreaterThanOrEqual(maxt"),
      forbid = Map(
        "no shuffle of the chunks side" -> "Exchange hashpartitioning",
        "no nested-loop join" -> "BroadcastNestedLoopJoin"))

    // Signed quantile from block bytes: one narrow per-row fold over
    // the per-(block, shard) RDD scan — the ONLY exchange allowed is
    // the output sort.
    locally {
      val df = SparkEntry.queries("ts_nh_neg_quantile")(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val nEx = "Exchange ".r.findAllIn(plan).size
      val rddScan = plan.contains("Scan ExistingRDD")
      val ok = rddScan && nEx <= 1
      println(s"[audit] ts_nh_neg_quantile :: narrow block read + ≤1 " +
        s"exchange (output sort): scansRDD=$rddScan " +
        s"exchanges=$nEx -> ${if (ok) "OK" else "FAIL"}")
      if (!ok) failures ::= "ts_nh_neg_quantile: read-path shape"
    }

    // PromQL from NH block bytes: the block read is a narrow
    // per-(block, shard) RDD scan (no Catalyst exchange can appear
    // for it); the whole quantile-over-rate plan may shuffle ONLY
    // for the series-keyed rate aggregation and the output sort.
    locally {
      val df = SparkEntry.queries("ts_promql_nh_blocks")(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val nEx = "Exchange ".r.findAllIn(plan).size
      val rddScan = plan.contains("Scan ExistingRDD")
      val ok = rddScan && nEx <= 2
      println(s"[audit] ts_promql_nh_blocks :: narrow block read + ≤2 " +
        s"exchanges (rate agg + output sort): scansRDD=$rddScan " +
        s"exchanges=$nEx -> ${if (ok) "OK" else "FAIL"}")
      if (!ok) failures ::= "ts_promql_nh_blocks: read-path shape"
    }

    // Reset-aware NH rate: the per-step fold must stay ONE
    // series-keyed aggregation (collect_list buffer, bounded by
    // samples-in-range) — no window function (which would add a
    // sort-heavy per-row pass), no join, ≤3 exchanges total (the
    // fixture's own distinct + the series agg + the output sort).
    locally {
      val df = SparkEntry.queries("ts_promql_nh_reset_rate")(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val nEx = "Exchange ".r.findAllIn(plan).size
      val noWin = !plan.contains("Window")
      val noJoin = !plan.contains("Join")
      val ok = noWin && noJoin && nEx <= 3
      println(s"[audit] ts_promql_nh_reset_rate :: one fold agg, no " +
        s"window/join, ≤3 exchanges (fixture distinct + agg + sort): " +
        s"window=${!noWin} join=${!noJoin} " +
        s"exchanges=$nEx -> ${if (ok) "OK" else "FAIL"}")
      if (!ok) failures ::= "ts_promql_nh_reset_rate: fold shape"
    }

    // Rollup-layer routing: the 5-day-step query must scan ONLY the
    // routed 1-day layer — the 1-hour layer (also correct, 24× the
    // bytes) must be absent from the plan — with the window range
    // pruned at the bucket partition level before any file opens.
    locally {
      val df = SparkEntry.queries("ts_rollup_route")(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val on1d = plan.contains("graft_rollup_1d_")
      val no1h = !plan.contains("graft_rollup_1h_")
      val pruned = plan.contains("PartitionFilters: [")
      val ok = on1d && no1h && pruned
      println(s"[audit] ts_rollup_route :: routed to the 1d layer only, " +
        s"bucket-pruned: 1d=$on1d 1h_absent=$no1h pruned=$pruned " +
        s"-> ${if (ok) "OK" else "FAIL"}")
      if (!ok) failures ::= "ts_rollup_route: layer routing"
    }

    // Stitched increase: read-side must be ONE series-keyed
    // aggregation over windows-in-range (collect_list buffer bounded
    // by range/resolution) — no window function, no join, ≤2
    // exchanges (series agg + output sort) — and the range must
    // prune at the bucket partition level.
    locally {
      val df = SparkEntry.queries("ts_rollup_increase")(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val nEx = "Exchange ".r.findAllIn(plan).size
      val noWin = !plan.contains("Window")
      val noJoin = !plan.contains("Join")
      val pruned = plan.contains("PartitionFilters: [")
      val ok = noWin && noJoin && nEx <= 2 && pruned
      println(s"[audit] ts_rollup_increase :: one stitch agg, no " +
        s"window/join, ≤2 exchanges, bucket-pruned: window=${!noWin} " +
        s"join=${!noJoin} exchanges=$nEx pruned=$pruned " +
        s"-> ${if (ok) "OK" else "FAIL"}")
      if (!ok) failures ::= "ts_rollup_increase: stitch shape"
    }

    // PromQL rollup routing: the day-aligned query_range rate must be
    // served ENTIRELY from the 1-day layer — the raw events table
    // must not appear in the plan at all (the whole point: ~1/100th
    // the rows at identical answers), the 1-hour layer loses the
    // coarsest-eligible contest, and no window function sneaks in
    // (the stitch is an aggregation fold, not a per-row sort pass).
    locally {
      val df = SparkEntry.queries("ts_promql_rollup_range_rate")(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val on1d = plan.contains("graft_rollup_1d_")
      val noRaw = !plan.contains("events.parquet")
      val no1h = !plan.contains("graft_rollup_1h_")
      val noWin = !plan.contains("Window")
      val ok = on1d && noRaw && no1h && noWin
      println(s"[audit] ts_promql_rollup_range_rate :: rate served from " +
        s"the 1d layer only: 1d=$on1d raw_absent=$noRaw 1h_absent=$no1h " +
        s"window=${!noWin} -> ${if (ok) "OK" else "FAIL"}")
      if (!ok) failures ::= "ts_promql_rollup_range_rate: routing"
    }

    {
      // the blocks→layer→routed pipeline: the grid query must read
      // ONLY the block-derived rollup layer — the block reader's
      // ExistingRDD scan (the raw sample path) absent from the plan,
      // no window operator
      val df = SparkEntry.queries("ts_promql_tsdb_rollup")(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val onLayer = plan.contains("graft_rollup_blocks_")
      val noBlocks = !plan.contains("ExistingRDD")
      val noWin = !plan.contains("Window")
      val ok = onLayer && noBlocks && noWin
      println(s"[audit] ts_promql_tsdb_rollup :: blocks->layer->routed " +
        s"grid reads the layer only: layer=$onLayer " +
        s"block_scan_absent=$noBlocks window=${!noWin} " +
        s"-> ${if (ok) "OK" else "FAIL"}")
      if (!ok) failures ::= "ts_promql_tsdb_rollup: routing"
    }

    for (q <- Seq("ts_promql_rollup_stddev", "ts_promql_rollup_deriv",
        "ts_promql_rollup_delta", "ts_promql_rollup_irate",
        "ts_promql_rollup_idelta", "ts_promql_rollup_ts_of")) {
      // the moment-sum/boundary-sample routed functions (irate/idelta
      // ride the stored penultimate samples): every compiled vector
      // must read the 1d layer only (raw table absent) and stay
      // windowless — one partial-aggregating shuffle per vector
      val df = SparkEntry.queries(q)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val on1d = plan.contains("graft_rollup_1d_")
      val noRaw = !plan.contains("events.parquet")
      val noWin = !plan.contains("Window")
      val ok = on1d && noRaw && noWin
      println(s"[audit] $q :: moment-sum routing: 1d=$on1d " +
        s"raw_absent=$noRaw window=${!noWin} -> ${if (ok) "OK" else "FAIL"}")
      if (!ok) failures ::= s"$q: routing"
    }

    locally {
      // the classic le-bucket Grafana idiom histogram_quantile(0.9,
      // rate(bucket[5d])): every le-series' rate must be served from
      // the classic 1d SCALAR layer (the derived bucket table — and
      // with it the raw events scan and its cum-sum Window — absent
      // from the compiled plan)
      val df = SparkEntry.queries("ts_promql_rollup_classic_quantile")(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val onLayer = plan.contains("graft_clrollup_1d_")
      val noRaw = !plan.contains("events.parquet")
      // Windows ARE expected here — the classic interpolation walk
      // lags over le within each 6-row rate group — and with the raw
      // events scan asserted absent, every remaining window
      // necessarily runs over layer/bucket-cardinality rows (the
      // walk), never over samples; no windowless assertion applies
      val ok = onLayer && noRaw
      println(s"[audit] ts_promql_rollup_classic_quantile :: quantile-over-" +
        s"rate served from the classic layer only: layer=$onLayer " +
        s"raw_absent=$noRaw -> ${if (ok) "OK" else "FAIL"}")
      if (!ok) failures ::= "ts_promql_rollup_classic_quantile: routing"
    }

    locally {
      // label metadata served from the materialized label index: the
      // unioned values/names/cardinality plan must read the index
      // parquet only — the raw events scan (a full label column at
      // 100 TB) absent, the reference's dictionary-page capability
      val df = SparkEntry.queries("ts_label_values_indexed")(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val onIdx = plan.contains("graft_labelidx_")
      val noRaw = !plan.contains("events.parquet")
      val ok = onIdx && noRaw
      println(s"[audit] ts_label_values_indexed :: label metadata from the " +
        s"index only: index=$onIdx raw_absent=$noRaw " +
        s"-> ${if (ok) "OK" else "FAIL"}")
      if (!ok) failures ::= "ts_label_values_indexed: routing"
    }

    locally {
      // SAME-LABEL matcher routing (the autocomplete-with-prefix
      // idiom): label_values(event_type, event_type=~"v.*") is a
      // predicate on the value being enumerated, so it must STILL
      // serve at index grain — index parquet in the plan, raw events
      // absent. (The ts_label_values_indexed block above already
      // built the index fixture.)
      val p = "/tmp/graft_labelidx_" + dir.replaceAll("[^0-9a-zA-Z]", "_")
      val q = new TsdbQueryable(ev, Seq("event_type", "user_id"))
        .withLabelIndex(graft.tsdb.LabelIndexStore.read(spark, p))
      val df = q.labelValues("event_type",
        Seq(Matcher.Re("event_type", "v.*")))
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val onIdx = plan.contains("graft_labelidx_")
      val noRaw = !plan.contains("events.parquet")
      val ok = onIdx && noRaw
      println(s"[audit] label_values_same_label_matcher :: prefix-" +
        s"constrained enumeration from the index only: index=$onIdx " +
        s"raw_absent=$noRaw -> ${if (ok) "OK" else "FAIL"}")
      if (!ok) failures ::= "label_values_same_label_matcher: routing"
    }

    locally {
      // the querier-scoped (range-limited) enumeration must STILL
      // route through the index when the range aligns to whole
      // buckets — bucket-pruned index rows, raw events absent
      val df = SparkEntry.queries("ts_label_values_ranged")(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val onIdx = plan.contains("graft_labelidx_")
      val noRaw = !plan.contains("events.parquet")
      val ok = onIdx && noRaw
      println(s"[audit] ts_label_values_ranged :: scoped metadata from the " +
        s"bucket-pruned index only: index=$onIdx raw_absent=$noRaw " +
        s"-> ${if (ok) "OK" else "FAIL"}")
      if (!ok) failures ::= "ts_label_values_ranged: routing"
    }

    locally {
      // the GK quantile-sketch layer: the contract gate's APPROX side
      // must read the stored per-window sketches (the layer parquet
      // in the plan) and attach the one-row-per-series answer to the
      // raw ground-truth side by BROADCAST, never a shuffle join
      val df = SparkEntry.queries("ts_quantile_sketch")(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val onSk = plan.contains("graft_qsketch_")
      val bcast = plan.contains("BroadcastHashJoin")
      val noSmj = !plan.contains("SortMergeJoin")
      val ok = onSk && bcast && noSmj
      println(s"[audit] ts_quantile_sketch :: approx side from the sketch " +
        s"layer, broadcast-attached: sketches=$onSk broadcast=$bcast " +
        s"no_smj=$noSmj -> ${if (ok) "OK" else "FAIL"}")
      if (!ok) failures ::= "ts_quantile_sketch: plan shape"
    }

    locally {
      // the PromQL opt-in twin: the compiled quantile_over_time must
      // read the series-grain sketch layer (raw appears only on the
      // contract's ground-truth side, broadcast-joined)
      val df = SparkEntry.queries("ts_promql_quantile_sketch")(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val onSk = plan.contains("graft_qsketchfe_")
      val bcast = plan.contains("BroadcastHashJoin")
      val ok = onSk && bcast
      println(s"[audit] ts_promql_quantile_sketch :: opt-in front-end " +
        s"quantile from the sketch layer: sketches=$onSk " +
        s"broadcast=$bcast -> ${if (ok) "OK" else "FAIL"}")
      if (!ok) failures ::= "ts_promql_quantile_sketch: plan shape"
    }

    locally {
      // the HLL sketch layer: the contract gate's APPROX side must be
      // served from the stored per-bucket registers (the sketch
      // parquet in the plan). The gate's EXACT side deliberately runs
      // the raw count-distinct scan — it is the ground truth the
      // contract compares against — so events.parquet legitimately
      // appears; the spec (LabelIndexSpec) pins the raw table absent
      // from a pure sketch-served cardinality plan.
      val df = SparkEntry.queries("ts_label_cardinality_sketch")(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val onSk = plan.contains("graft_labelsk_")
      println(s"[audit] ts_label_cardinality_sketch :: approx side from " +
        s"the sketch layer: sketches=$onSk " +
        s"-> ${if (onSk) "OK" else "FAIL"}")
      if (!onSk) failures ::= "ts_label_cardinality_sketch: routing"
    }

    // NH rollup routing: the aligned 35d NH rate must read the 7d NH
    // rollup layer, never the raw events-derived sample table, and
    // the stitch must stay a windowless aggregation fold.
    locally {
      val df = SparkEntry.queries("ts_promql_nh_rollup_rate")(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val onLayer = plan.contains("graft_nh_rollup_")
      val noRaw = !plan.contains("events.parquet")
      val noWin = !plan.contains("Window")
      val ok = onLayer && noRaw && noWin
      println(s"[audit] ts_promql_nh_rollup_rate :: NH rate served from " +
        s"the 7d layer only: layer=$onLayer raw_absent=$noRaw " +
        s"window=${!noWin} -> ${if (ok) "OK" else "FAIL"}")
      if (!ok) failures ::= "ts_promql_nh_rollup_rate: routing"
    }

    locally {
      // routed NH gauge delta: the snapshot-pair reconstruction must
      // read the 7d NH layer only — raw sample table absent, no
      // window operator (one groupBy min/max per element)
      val df = SparkEntry.queries("ts_promql_nh_rollup_delta")(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val onLayer = plan.contains("graft_nh_rollup_")
      val noRaw = !plan.contains("events.parquet")
      val noWin = !plan.contains("Window")
      val ok = onLayer && noRaw && noWin
      println(s"[audit] ts_promql_nh_rollup_delta :: NH delta served from " +
        s"the 7d layer only: layer=$onLayer raw_absent=$noRaw " +
        s"window=${!noWin} -> ${if (ok) "OK" else "FAIL"}")
      if (!ok) failures ::= "ts_promql_nh_rollup_delta: routing"
    }

    {
      // the routed quantile-over-rate composition: both compiled
      // quantile vectors must read the 7d layer (raw sample table
      // absent), and the signed walk stays a narrow fold — no
      // window operator anywhere in the joined two-quantile plan
      val df = SparkEntry.queries("ts_promql_nh_rollup_quantile")(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val onLayer = plan.contains("graft_nh_rollup_")
      val noRaw = !plan.contains("events.parquet")
      val noWin = !plan.contains("Window")
      val ok = onLayer && noRaw && noWin
      println(s"[audit] ts_promql_nh_rollup_quantile :: routed quantile " +
        s"composition: layer=$onLayer raw_absent=$noRaw " +
        s"window=${!noWin} -> ${if (ok) "OK" else "FAIL"}")
      if (!ok) failures ::= "ts_promql_nh_rollup_quantile: routing"
    }

    if (failures.nonEmpty) {
      println(s"\n[audit] FAILURES: ${failures.mkString("; ")}")
      sys.exit(1)
    }
    println("\n[audit] all plan properties present")
    spark.stop()
  }
}
