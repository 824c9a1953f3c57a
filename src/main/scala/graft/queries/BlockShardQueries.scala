package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tsdb.{ChunkStore, ConvertOptions, HistChunkStore, Matcher, TsdbConverter, TsdbQueryable}

import Shared._
import NativeHistQueries.nhQuantileRateSql

/** Storage layouts: the open label schema, the converted layout, the
  * XOR chunk store, parquet shard interop and TSDB blocks of every
  * chunk family (float, native, float and custom-bucket histograms).
  */
private[graft] object BlockShardQueries extends QueryFamily {

  // The label-name universe of a table is schema metadata the
  // reference's schema builder discovers ONCE per block at convert
  // time (schema/schema_builder.go:41), not per query — cache the
  // discovery per source directory.
  private val labelUniverse =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

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
  query("ts_schema_roundtrip", tsSchemaRoundtrip,
    """SELECT event_type, count(*) AS n FROM events
      |GROUP BY event_type ORDER BY event_type""".stripMargin)

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
  // replays tsSchemaWide's modular label synthesis: dim_i present
  // iff (user_id+i) % (3+i%5) = 0, value 'v' || (user_id+i) % 4
  query("ts_schema_wide", tsSchemaWide, (0 until wideDimCount).map { i =>
    val m = 3 + i % 5
    f"SELECT 'dim_$i%02d' AS label, " +
      s"count(CASE WHEN (user_id + $i) % $m = 0 THEN 1 END) AS present, " +
      s"count(CASE WHEN (user_id + $i) % $m = 0 AND " +
      s"'v' || CAST((user_id + $i) % 4 AS VARCHAR) = 'v1' THEN 1 END) AS v1_hits " +
      "FROM events"
  }.mkString("SELECT label, present, v1_hits FROM (\n",
    "\nUNION ALL\n", "\n) ORDER BY label"))

  private val wideBlock: Fixture = fixture("widesel") { (s, dir) =>
    TsdbConverter.convertWithLabels(
      t(s, dir, "events").select(wideLabelMapCol.as("labels"),
        col("ts"), col("value")),
      "labels", wideBlock.path(dir), "ts",
      ConvertOptions(sortBy = Seq("l_dim_00", "l_dim_07"),
        colDuration = "1 day",
        bloomFilterLabels = Seq("l_dim_00", "l_dim_07"), shards = 4))
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
    // ingest wrote the wide block once; the operator under test is
    // the select over the stored layout
    val path = wideBlock(s, dir)
    val wide = s.read.parquet(path)
    val labelCols = wide.columns.filter(_.startsWith("l_")).sorted.toSeq
    val q = new TsdbQueryable(wide, labelCols)
    withTsMs(q.select("2024-01-05", "2024-01-20",
        Seq(Matcher.Eq("l_dim_00", "v1"), Matcher.Nre("l_dim_07", "v0")),
        projection = Seq("l_dim_00", "l_dim_04", "l_dim_07")))
      .orderBy("ts_ms", "value", "l_dim_04")
  }
  // replays tsWideSelect on the raw long table: the same modular
  // label synthesis (dim_i present iff (user_id+i) % (3+i%5) = 0,
  // value 'v' || (user_id+i) % 4), the Eq('l_dim_00','v1') matcher
  // and the null-safe Nre('l_dim_07','v0') matcher (absent label
  // behaves as "", so absent rows are KEPT and present-v0 rows are
  // DROPPED), and the 3-label projection
  query("ts_wide_select", tsWideSelect,
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
      |ORDER BY ts_ms, value, l_dim_04""".stripMargin)

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
  query("ts_merge_shards", tsMergeShards,
    """SELECT event_type, user_id, epoch_ms(ts) AS ts_ms,
      |  arg_max(value, sidx) AS value
      |FROM (
      |  SELECT event_type, user_id, ts, value, 0 AS sidx FROM events
      |  WHERE user_id % 2 = 0
      |  UNION ALL
      |  SELECT event_type, user_id, ts, value, 1 FROM events
      |  WHERE user_id % 2 = 1 OR value > 100)
      |GROUP BY event_type, user_id, ts
      |ORDER BY event_type, user_id, ts_ms, value""".stripMargin)

  private val mergeOpts = ConvertOptions(sortBy = Seq("event_type", "user_id"),
    colDuration = "1 day", shards = 4)

  private val mergeInputs: Fixture = fixture("block", "a", "b") { (s, dir) =>
    val ev = t(s, dir, "events")
    TsdbConverter.convert(
      ev.filter(col("ts") < lit("2024-01-20").cast("timestamp")),
      mergeInputs.path(dir, "a"), "ts", mergeOpts)
    TsdbConverter.convert(
      ev.filter(col("ts") >= lit("2024-01-10").cast("timestamp"))
        .withColumn("value", col("value") * 1.5),
      mergeInputs.path(dir, "b"), "ts", mergeOpts)
  }

  /** Block-compaction workflow: two overlapping converted block
    * directories (block B is a "newer" revision — values × 1.5 on
    * [Jan 10, ∞)) are k-way merged last-writer-wins and rewritten as
    * one sorted bucketed block, then read back. The oracle replays
    * the same union + arg_max in DuckDB.
    */
  private def tsMergeBlocks(s: SparkSession, dir: String): DataFrame = {
    // the two INPUT blocks are fixtures an earlier ingest wrote — a
    // compactor never re-creates its inputs per run. The operator
    // under test is the k-way merge + sorted bucketed write + readback.
    mergeInputs.build(s, dir)
    val out = tmpPath("block_merged", dir)
    TsdbConverter.mergeBlockDirs(s,
      Seq(mergeInputs.path(dir, "a"), mergeInputs.path(dir, "b")), out,
      Seq("event_type", "user_id"), "ts", "value", mergeOpts)
    s.read.parquet(out)
      .select(col("event_type"), col("user_id"), ms(col("ts")).as("ts_ms"),
        col("value"))
      .orderBy("event_type", "user_id", "ts_ms", "value")
  }
  query("ts_merge_blocks", tsMergeBlocks,
    """SELECT event_type, user_id, epoch_ms(ts) AS ts_ms,
      |  arg_max(value, sidx) AS value
      |FROM (
      |  SELECT event_type, user_id, ts, value, 0 AS sidx FROM events
      |  WHERE ts < TIMESTAMP '2024-01-20'
      |  UNION ALL
      |  SELECT event_type, user_id, ts, value * 1.5, 1 FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-10')
      |GROUP BY event_type, user_id, ts
      |ORDER BY event_type, user_id, ts_ms, value""".stripMargin)

  private val convertedEvents: Fixture = fixture("convsel") { (s, dir) =>
    TsdbConverter.convert(t(s, dir, "events"), convertedEvents.path(dir), "ts",
      ConvertOptions(sortBy = Seq("event_type", "user_id"),
        colDuration = "1 day", bloomFilterLabels = Seq("event_type"),
        shards = 4))
  }

  /** End-to-end storage→query check: select over the CONVERTED
    * bucketed layout (with a time filter that prunes partition
    * directories and an equality matcher that prunes row groups)
    * must answer exactly what the same select answers on the raw
    * table — the oracle runs on raw `events`.
    */
  private def tsConvertedSelect(s: SparkSession, dir: String): DataFrame = {
    // the converted layout is the stored artifact being queried;
    // ingest wrote it once. The operator under test is the SELECT
    // (partition pruning + row-group pruning + matcher pushdown).
    val path = convertedEvents(s, dir)
    val q = new TsdbQueryable(s.read.parquet(path), Seq("event_type", "user_id"))
      .withBucketCol("bucket") // literal partition pruning from the range
    withTsMs(q.select("2024-01-05", "2024-01-20", Matcher.Eq("event_type", "view")))
      .orderBy("ts_ms", "user_id", "value")
  }
  query("ts_converted_select", tsConvertedSelect,
    """SELECT event_type, user_id, value, epoch_ms(ts) AS ts_ms
      |FROM events
      |WHERE event_type = 'view'
      |  AND ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-20'
      |ORDER BY ts_ms, user_id, value""".stripMargin)

  private def tsConvertRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = tmpPath("roundtrip", dir)
    TsdbConverter.convert(t(s, dir, "events"), path, "ts",
      ConvertOptions(sortBy = Seq("event_type", "user_id"),
        colDuration = "1 day", bloomFilterLabels = Seq("event_type"),
        shards = 4))
    s.read.parquet(path)
      .groupBy(col("bucket").cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"), round(dsum(col("value")), 2).as("sum_value"))
      .orderBy("bucket")
  }
  query("ts_convert_roundtrip", tsConvertRoundtrip,
    """SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS bucket,
      |  count(*) AS n,
      |  round(CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE), 2) AS sum_value
      |FROM events
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin)

  /** XOR-chunk storage roundtrip ([[tsdb.ChunkStore]] +
    * [[tsdb.ChunkCodec]]): events encoded per series×day into framed
    * Gorilla/XOR chunk blobs (the reference's physical format,
    * schema/encoder.go:55), then decoded back in full. The output is
    * EVERY sample with µs timestamps and raw doubles, so the hash
    * match against the raw table proves the whole
    * encode→frame→store→prune→decode loop is bit-lossless.
    */
  private def tsChunkRoundtrip(s: SparkSession, dir: String): DataFrame = {
    chunkBlock.build(s, dir)
    ChunkStore.select(s, chunkBlock.path(dir),
        "2024-01-01", "2024-02-01", Nil,
        Seq("event_type", "user_id"), "ts", "value")
      .withColumn("ts_us", unix_micros(col("ts"))).drop("ts")
      .orderBy("event_type", "user_id", "ts_us", "value")
  }
  // every sample back out of the XOR-chunk layout, µs-exact —
  // a hash match proves the codec is bit-lossless end to end
  query("ts_chunk_roundtrip", tsChunkRoundtrip,
    """SELECT event_type, user_id, epoch_us(ts) AS ts_us, value
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
      |ORDER BY event_type, user_id, ts_us, value""".stripMargin)

  /** Matcher + range select over the chunked dual-file layout:
    * label pushdown on the labels file, bucket-directory + row-group
    * (mint/maxt) pruning on the chunks file, frame-header skip
    * inside each blob ([[functions.ChunkDecode]]) — and the answer
    * must equal the same select on the raw table (the oracle).
    */
  private def tsChunkSelect(s: SparkSession, dir: String): DataFrame = {
    chunkBlock.build(s, dir)
    ChunkStore.select(s, chunkBlock.path(dir),
        "2024-01-05", "2024-01-20",
        Seq(Matcher.Eq("event_type", "view")),
        Seq("event_type", "user_id"), "ts", "value")
      .withColumn("ts_us", unix_micros(col("ts"))).drop("ts")
      .orderBy("ts_us", "user_id", "value")
  }
  query("ts_chunk_select", tsChunkSelect,
    """SELECT event_type, user_id, epoch_us(ts) AS ts_us, value
      |FROM events
      |WHERE event_type = 'view'
      |  AND ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-20'
      |ORDER BY ts_us, user_id, value""".stripMargin)

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
    shardInterop.build(s, dir)
    graft.tsdb.shard.ParquetShardStore.select(s, shardInterop.path(dir),
        java.time.Instant.parse("2024-01-05T00:00:00Z").toEpochMilli,
        java.time.Instant.parse("2024-01-20T00:00:00Z").toEpochMilli,
        Seq(Matcher.Eq("event_type", "view")))
      .withColumn("ts_ms", unix_millis(col("ts"))).drop("ts")
      .orderBy("ts_ms", "user_id", "value")
  }
  // the reference-layout shard is a LABEL store: every label is a
  // string (user_id casts at write), and its native time unit is
  // milliseconds — the oracle mirrors both
  query("ts_shard_interop", tsShardInterop,
    """SELECT event_type, CAST(user_id AS VARCHAR) AS user_id,
      |  epoch_ms(ts) AS ts_ms, value
      |FROM events
      |WHERE event_type = 'view'
      |  AND ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-20'
      |ORDER BY ts_ms, user_id, value""".stripMargin)

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
    shardHist.build(s, dir)
    graft.tsdb.shard.ParquetShardStore.selectHist(s, shardHist.path(dir),
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
  // the ts_hist_chunk_select synthesis at the shard format's ms
  // grain, labels as strings (the Prometheus label model);
  // zero-count buckets drop on both sides — the chunkenc union
  // layout inserts absolute-0 fills when bucket 5 appears
  // mid-chunk, the ts_tsdb_block_nh_roundtrip convention
  query("ts_shard_hist_interop", tsShardHistInterop,
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
      |ORDER BY event_type, user_id, ts_ms, idx""".stripMargin)

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
    shardNhcb.build(s, dir)
    graft.tsdb.shard.ParquetShardStore.selectHist(s, shardNhcb.path(dir),
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
  // the NHCB fixture through the shard byte path: bounds re-derive
  // as (i+1)·0.25, schema pinned to -53, zero-count buckets dropped
  // on both sides (chunkenc union-layout convention)
  query("ts_shard_nhcb_interop", tsShardNhcbInterop,
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
      |ORDER BY event_type, user_id, ts_ms, idx""".stripMargin)

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
    shardNeg.build(s, dir)
    graft.tsdb.shard.ParquetShardStore.selectHist(s, shardNeg.path(dir),
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
  // the signed fixture through the shard byte path, both sides
  // under a side marker — the ts_tsdb_block_neg_roundtrip replay
  // restricted to the gate's matcher + range
  query("ts_shard_neg_interop", tsShardNegInterop,
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
      |ORDER BY event_type, user_id, ts_ms, side, idx""".stripMargin)

  /** The reference's skipChunks select over the shard layout
    * ([[tsdb.shard.ParquetShardStore.series]] —
    * queryable/parquet_queryable.go:414 `Query` with
    * `skipChunks=true`, the Prometheus `series()` API): matcher-
    * filtered label sets straight from the labels file; the chunks
    * file never enters the plan (PlanAudit forbids it), so the query
    * is metadata-sized regardless of sample volume.
    */
  private def tsShardSeries(s: SparkSession, dir: String): DataFrame = {
    shardInterop.build(s, dir)
    graft.tsdb.shard.ParquetShardStore.series(s, shardInterop.path(dir),
        Seq(Matcher.Re("event_type", "v.*|c.*"),
          Matcher.Neq("user_id", "7")))
      .orderBy("event_type", "user_id")
  }
  // skipChunks series(): distinct label sets under the matchers,
  // labels as strings (the shard label model)
  query("ts_shard_series", tsShardSeries,
    """SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS user_id
      |FROM events
      |WHERE regexp_full_match(event_type, 'v.*|c.*')
      |  AND CAST(user_id AS VARCHAR) <> '7'
      |ORDER BY event_type, user_id""".stripMargin)

  private val chunkMergeInputs: Fixture = fixture("chunkblk", "a", "b") { (s, dir) =>
    val ev = t(s, dir, "events")
    val series = Seq("event_type", "user_id")
    ChunkStore.write(
      ev.filter(col("ts") < lit("2024-01-20").cast("timestamp")),
      chunkMergeInputs.path(dir, "a"), series, "ts", "value")
    ChunkStore.write(
      ev.filter(col("ts") >= lit("2024-01-10").cast("timestamp"))
        .withColumn("value", col("value") * 1.5),
      chunkMergeInputs.path(dir, "b"), series, "ts", "value")
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
    chunkMergeInputs.build(s, dir)
    val out = tmpPath("chunkblk_merged", dir)
    val series = Seq("event_type", "user_id")
    ChunkStore.mergeBlocks(s,
      Seq(chunkMergeInputs.path(dir, "a"), chunkMergeInputs.path(dir, "b")),
      out, series, "ts", "value")
    ChunkStore.select(s, out, "2024-01-01", "2024-02-01", Nil,
        series, "ts", "value")
      .select(col("event_type"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .orderBy("event_type", "user_id", "ts_us", "value")
  }
  // same compaction oracle as ts_merge_blocks, µs precision —
  // the samples additionally roundtrip the XOR codec twice
  query("ts_chunk_merge", tsChunkMerge,
    """SELECT event_type, user_id, epoch_us(ts) AS ts_us,
      |  arg_max(value, sidx) AS value
      |FROM (
      |  SELECT event_type, user_id, ts, value, 0 AS sidx FROM events
      |  WHERE ts < TIMESTAMP '2024-01-20'
      |  UNION ALL
      |  SELECT event_type, user_id, ts, value * 1.5, 1 FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-10')
      |GROUP BY event_type, user_id, ts
      |ORDER BY event_type, user_id, ts_us, value""".stripMargin)

  private val chunkBlock: Fixture = fixture("chunkblock") { (s, dir) =>
    ChunkStore.write(t(s, dir, "events"), chunkBlock.path(dir),
      Seq("event_type", "user_id"), "ts", "value",
      colDuration = "1 day", samplesPerChunk = 120)
  }

  private[queries] val shardInterop: Fixture = fixture("pshard") { (s, dir) =>
    graft.tsdb.shard.ParquetShardStore.write(
      t(s, dir, "events"), shardInterop.path(dir),
      Seq("event_type", "user_id"), "ts", "value",
      colDurationMs = graft.tsdb.shard.ParquetShardStore.DefaultColDurationMs,
      samplesPerChunk = 120, shards = 2)
  }

  private[queries] val shardHist: Fixture = fixture("pshard_hist") { (s, dir) =>
    graft.tsdb.shard.ParquetShardStore.writeHist(
      nativeHistCounterTable(s, dir)
        .withColumn("hsum",
          (col("d") * ((col("sseed") % 7) + 1)).cast("double") * 0.25)
        .withColumn("ts", timestamp_seconds(col("d") * 86400)),
      shardHist.path(dir), Seq("event_type", "user_id"), "ts",
      "zero_count", "pos_idx", "pos_counts", Some("hsum"),
      samplesPerChunk = 10, shards = 2)
  }

  private val shardNeg: Fixture = fixture("pshard_neg") { (s, dir) =>
    graft.tsdb.shard.ParquetShardStore.writeHist(
      negBlockInput(s, dir)
        .withColumn("ts", timestamp_millis(col("ts_ms"))),
      shardNeg.path(dir), Seq("event_type", "user_id"), "ts",
      "zero_count", "pos_idx", "pos_counts", Some("hsum"),
      samplesPerChunk = 10, shards = 2,
      negIdxCol = Some("neg_idx"), negCountsCol = Some("neg_counts"))
  }

  private val shardNhcb: Fixture = fixture("pshard_nhcb") { (s, dir) =>
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
      shardNhcb.path(dir), Seq("event_type", "user_id"), "ts",
      "zero_count", "pos_idx", "pos_counts", Some("hsum"),
      histSchema = graft.tsdb.block.ChunkencHistogram.CustomBucketsSchema,
      customValues = NhcbBounds, samplesPerChunk = 10, shards = 2)
  }

  private[queries] val tsdbBlock: Fixture = fixture("tsdbblock") { (s, dir) =>
    // wipe any stale root first: write() skips ULIDs that already
    // exist, so leftovers from an older fixture generation would
    // otherwise sit next to the fresh blocks and double-count
    tools.Fs.deleteRecursively(new java.io.File(tsdbBlock.path(dir)))
    graft.tsdb.block.TsdbBlockStore.write(
      t(s, dir, "events").withColumn("ts_ms", unix_millis(col("ts"))),
      tsdbBlock.path(dir), Seq("event_type", "user_id"), "ts_ms", "value",
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
    tsdbBlock.build(s, dir)
    graft.tsdb.block.TsdbBlockStore
      .readLabels(s, tsdbBlock.path(dir), Seq("event_type", "user_id"))
      .withColumnRenamed("ts", "ts_ms")
      .orderBy("event_type", "user_id", "ts_ms", "value")
  }
  // every sample back out of real Prometheus-format block bytes
  // (index v2 + chunkenc XOR segments) — labels are strings in a
  // TSDB block, hence the VARCHAR cast; ms-exact, value bit-exact
  query("ts_tsdb_block_roundtrip", tsTsdbBlockRoundtrip,
    """SELECT event_type, CAST(user_id AS VARCHAR) AS user_id,
      |  epoch_ms(ts) AS ts_ms, value
      |FROM events
      |ORDER BY event_type, user_id, ts_ms, value""".stripMargin)

  // reads `tsdbBlock`, so callers build it first
  private val tsdbConverted: Fixture = fixture("tsdbconv") { (s, dir) =>
    val longDf = graft.tsdb.block.TsdbBlockStore
      .readLabels(s, tsdbBlock.path(dir), Seq("event_type", "user_id"))
      .withColumn("ts", timestamp_millis(col("ts")))
    TsdbConverter.convert(longDf, tsdbConverted.path(dir), "ts",
      ConvertOptions(sortBy = Seq("event_type", "user_id"),
        colDuration = "1 day", bloomFilterLabels = Seq("event_type"),
        shards = 2))
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
    tsdbBlock.build(s, dir)
    val path = tsdbConverted(s, dir)
    val q = new TsdbQueryable(s.read.parquet(path),
      Seq("event_type", "user_id"))
      .withBucketCol("bucket") // literal partition pruning from the range
    withTsMs(q.select("2024-01-05", "2024-01-20",
        Matcher.Eq("event_type", "view")))
      .orderBy("ts_ms", "user_id", "value")
  }
  // the whole migration path (block bytes → convert → converted
  // select) must answer exactly what the raw-table filter answers;
  // labels become strings when they pass through block bytes
  query("ts_tsdb_block_convert", tsTsdbBlockConvert,
    """SELECT event_type, CAST(user_id AS VARCHAR) AS user_id, value,
      |  epoch_ms(ts) AS ts_ms
      |FROM events
      |WHERE event_type = 'view'
      |  AND ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-20'
      |ORDER BY ts_ms, user_id, value""".stripMargin)

  /** Matcher + range select over real TSDB block bytes: meta.json
    * prunes whole blocks, the postings index resolves the equality
    * and regex matchers BEFORE any chunk byte is read, chunk frame
    * [mint, maxt] prunes inside the survivors, and the sharded read
    * (4 shards per block) must agree with the raw-table filter. */
  private def tsTsdbBlockSelect(s: SparkSession, dir: String): DataFrame = {
    tsdbBlock.build(s, dir)
    graft.tsdb.block.TsdbBlockStore
      .readLabels(s, tsdbBlock.path(dir), Seq("event_type", "user_id"),
        mint = 1704412800000L, // 2024-01-05T00:00:00Z
        maxt = 1705708799999L, // 2024-01-19T23:59:59.999Z
        matchers = Seq(Matcher.Eq("event_type", "view"),
          Matcher.Re("user_id", "1.*|2.*")),
        shardsPerBlock = 4)
      .withColumnRenamed("ts", "ts_ms")
      .orderBy("ts_ms", "user_id", "value")
  }
  // matcher + range select resolved through the postings index and
  // block/chunk time pruning; regexes are RE2-anchored like the
  // engine's, replayed with regexp_full_match
  query("ts_tsdb_block_select", tsTsdbBlockSelect,
    """SELECT event_type, CAST(user_id AS VARCHAR) AS user_id,
      |  epoch_ms(ts) AS ts_ms, value
      |FROM events
      |WHERE event_type = 'view'
      |  AND regexp_full_match(CAST(user_id AS VARCHAR), '1.*|2.*')
      |  AND epoch_ms(ts) BETWEEN 1704412800000 AND 1705708799999
      |ORDER BY ts_ms, user_id, value""".stripMargin)

  // ----- native-histogram TSDB blocks (chunkenc encodings 2/3) -----

  /** The counter NH fixture with millisecond timestamps and the
    * exact-quarter tracked sum — the [[tsdb.block.TsdbBlockStore
    * .writeHist]] input shape. */
  private def nhBlockInput(s: SparkSession, dir: String): DataFrame =
    nativeHistCounterTable(s, dir)
      .withColumn("hsum",
        (col("d") * ((col("sseed") % 7) + 1)).cast("double") * 0.25)
      .withColumn("ts_ms", col("d") * 86400000L)

  private val nhBlock: Fixture = fixture("nhblock") { (s, dir) =>
    // stale ULIDs would double-count
    tools.Fs.deleteRecursively(new java.io.File(nhBlock.path(dir)))
    graft.tsdb.block.TsdbBlockStore.writeHist(
      nhBlockInput(s, dir), nhBlock.path(dir),
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
    nhBlock.build(s, dir)
    graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, nhBlock.path(dir), Seq("event_type", "user_id"))
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
  // NH block roundtrip ≡ the re-derived counter fixture: every
  // NONZERO bucket must survive the chunkenc encoding-2 byte path
  // (zero-count buckets — structural and union-layout fills — are
  // dropped on both sides; labels become strings in block bytes)
  query("ts_tsdb_block_nh_roundtrip", tsTsdbBlockNhRoundtrip,
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
      .stripMargin)

  /** Matcher + range select over NATIVE-HISTOGRAM block bytes: the
    * same postings-index pruning, exact re-verification, chunk
    * frame time pruning and sharding as `ts_tsdb_block_select`,
    * dispatching into the encoding-2 decoder — ≡ the filtered raw
    * fixture. */
  private def tsTsdbBlockNhSelect(s: SparkSession, dir: String): DataFrame = {
    nhBlock.build(s, dir)
    graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, nhBlock.path(dir), Seq("event_type", "user_id"),
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
  // NH matcher + range select through the postings index and the
  // encoding-2 decode — same filter replayed on the fixture
  query("ts_tsdb_block_nh_select", tsTsdbBlockNhSelect,
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
      .stripMargin)

  private val fhBlock: Fixture = fixture("fhblock") { (s, dir) =>
    tools.Fs.deleteRecursively(new java.io.File(fhBlock.path(dir)))
    graft.tsdb.block.TsdbBlockStore.writeFloatHist(
      nativeHistCounterTable(s, dir)
        .withColumn("zero_f",
          (col("d") * (col("sseed") % 3)).cast("double") * 0.5)
        .withColumn("cnt_f",
          transform(col("pos_counts"), c => c.cast("double") * 0.25))
        .withColumn("hsum",
          (col("d") * ((col("sseed") % 7) + 1)).cast("double") * 0.25)
        .withColumn("ts_ms", col("d") * 86400000L),
      fhBlock.path(dir), Seq("event_type", "user_id"), "ts_ms",
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
    fhBlock.build(s, dir)
    graft.tsdb.block.TsdbBlockStore
      .readFloatHistLabels(s, fhBlock.path(dir), Seq("event_type", "user_id"))
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
  // FLOAT-histogram block roundtrip: the per-field XOR windows
  // must return the exact halves/quarters bit-for-bit
  query("ts_tsdb_block_fh_roundtrip", tsTsdbBlockFhRoundtrip,
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
      .stripMargin)

  // reads `nhBlock`, so callers build it first
  private val nhConverted: Fixture = fixture("nhconv") { (s, dir) =>
    val nh = graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, nhBlock.path(dir), Seq("event_type", "user_id"))
      .withColumn("ts", timestamp_millis(col("ts")))
    HistChunkStore.write(nh, nhConverted.path(dir), Seq("event_type", "user_id"), "ts",
      "zero_count", "pos_idx", "pos_counts", Some("hist_sum"),
      samplesPerChunk = 10)
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
    nhBlock.build(s, dir)
    val path = nhConverted(s, dir)
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
  // the NH migration path (block bytes → convert → converted
  // select) must answer exactly what the fixture filter answers;
  // ts returns as µs through the converted store's timestamp col
  query("ts_tsdb_block_nh_convert", tsTsdbBlockNhConvert,
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
      .stripMargin)

  // ----- NHCB custom-bucket blocks (schema -53) -----

  /** The NHCB bound list: quarter-step inclusive upper bounds —
    * exact doubles whose ·1000 form is integral, so every bound
    * takes the compact varbit form AND the DuckDB oracle re-derives
    * them exactly as `(i+1)·0.25`. */
  private val NhcbBounds: Seq[Double] = (1 to 6).map(_ * 0.25)

  /** Custom-bucket variant of the counter fixture: the same
    * `d²`-cumulative counts, but indexes 0..4/5 addressing
    * [[NhcbBounds]] and NO zero bucket (zero_count 0, threshold 0)
    * — what Prometheus 3.x's classic-to-NHCB conversion persists. */
  private val nhcbBlock: Fixture = fixture("nhcbblock") { (s, dir) =>
    // stale ULIDs would double-count
    tools.Fs.deleteRecursively(new java.io.File(nhcbBlock.path(dir)))
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
      in, nhcbBlock.path(dir), Seq("event_type", "user_id"), "ts_ms",
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
    nhcbBlock.build(s, dir)
    graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, nhcbBlock.path(dir), Seq("event_type", "user_id"))
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
  // NHCB (custom-bucket, schema -53) block roundtrip: the bound
  // list re-derived as (i+1)·0.25 — bit-exact through the compact
  // varbit bound form — plus the constant schema and the nonzero
  // counts, all through real chunkenc bytes
  query("ts_tsdb_block_nhcb_roundtrip", tsTsdbBlockNhcbRoundtrip,
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
      .stripMargin)

  /** Matcher + range select over NHCB block bytes: postings-index
    * pruning and chunk-frame time pruning dispatching into the
    * schema -53 decode (sharded ×3) ≡ the filtered fixture. */
  private def tsTsdbBlockNhcbSelect(s: SparkSession, dir: String): DataFrame = {
    nhcbBlock.build(s, dir)
    graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, nhcbBlock.path(dir), Seq("event_type", "user_id"),
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
  // NHCB matcher + range select through the postings index and the
  // schema -53 decode — same filter replayed on the fixture
  query("ts_tsdb_block_nhcb_select", tsTsdbBlockNhcbSelect,
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
      .stripMargin)

  // reads `nhcbBlock`, so callers build it first
  private val nhcbConverted: Fixture = fixture("nhcbconv") { (s, dir) =>
    val nh = graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, nhcbBlock.path(dir), Seq("event_type", "user_id"))
      .withColumn("ts", timestamp_millis(col("ts")))
    HistChunkStore.write(nh, nhcbConverted.path(dir), Seq("event_type", "user_id"), "ts",
      "zero_count", "pos_idx", "pos_counts", Some("hist_sum"),
      histSchema = graft.tsdb.block.ChunkencHistogram.CustomBucketsSchema,
      customValues = NhcbBounds, samplesPerChunk = 10)
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
    nhcbBlock.build(s, dir)
    val path = nhcbConverted(s, dir)
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
  // the NHCB migration path (block bytes → converted layout with
  // the bound list in the labels file → pruned select) must answer
  // exactly what the fixture filter answers, bounds included
  query("ts_tsdb_block_nhcb_convert", tsTsdbBlockNhcbConvert,
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
      .stripMargin)

  /** `histogram_quantile(0.9, h)` over CUSTOM-BUCKET histograms
    * decoded from block bytes
    * ([[tsdb.NativeHistogram.histogramQuantileCustom]]): the classic
    * bucketQuantile walk (first-bucket lower bound 0, linear
    * interpolation against the custom bound list, +Inf → highest
    * finite bound) as a narrow per-row fold — map-side at any scale,
    * union-fill zero buckets never catch the rank. The oracle
    * replays the walk with the same FP association. */
  private def tsNhcbQuantile(s: SparkSession, dir: String): DataFrame = {
    nhcbBlock.build(s, dir)
    graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, nhcbBlock.path(dir), Seq("event_type", "user_id"))
      .select(col("event_type"), col("user_id"), col("ts").as("ts_ms"),
        graft.tsdb.NativeHistogram.histogramQuantileCustom(0.9,
          col("pos_idx"), col("pos_counts"), col("custom_values"))
          .as("phi90"))
      .orderBy("event_type", "user_id", "ts_ms")
  }
  // the classic bucketQuantile walk over custom bounds, replayed
  // with the same FP association: cum/total exact integers in
  // double, phi = 0.25·i + 0.25·((rank − cumBefore)/cnt)
  query("ts_nhcb_quantile", tsNhcbQuantile,
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
      .stripMargin)

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
    nhcbBlock.build(s, dir)
    val nh = graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, nhcbBlock.path(dir), Seq("event_type", "user_id"))
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
  // NHCB from the string: latest day per series, bucket counts
  // sparse-summed at (event_type, i) grain, then the classic walk
  // with the (i+1)·0.25 bound list — same cumulative-window
  // association as the direct gate
  query("ts_promql_nhcb_quantile", tsPromqlNhcbQuantile,
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
      |ORDER BY event_type""".stripMargin)

  /** `histogram_count(increase(nhcb_req[40d]))` — the COUNTER path
    * over NHCB from the string: the reset-aware fold runs index-wise
    * (custom bucket indexes are positions, so nothing changes), the
    * count consumer is bound-agnostic, and the mid-range appearance
    * of index 5 exercises missing-first-reads-0 on the custom
    * layout. Exact integers end to end. */
  private def tsPromqlNhcbCountIncrease(s: SparkSession, dir: String): DataFrame = {
    nhcbBlock.build(s, dir)
    val nh = graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, nhcbBlock.path(dir), Seq("event_type", "user_id"))
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
  // counter increase over NHCB: monotone fixture, so the fold
  // telescopes to last − first (missing-first index 5 reads 0);
  // exact integers, zero bucket structurally 0
  query("ts_promql_nhcb_count_increase", tsPromqlNhcbCountIncrease,
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
      |ORDER BY event_type, CAST(user_id AS VARCHAR)""".stripMargin)

  // ----- negative-bucket (signed) native histograms -----

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

  private val negBlock: Fixture = fixture("negblock") { (s, dir) =>
    tools.Fs.deleteRecursively(new java.io.File(negBlock.path(dir)))
    graft.tsdb.block.TsdbBlockStore.writeHist(
      negBlockInput(s, dir), negBlock.path(dir),
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
    negBlock.build(s, dir)
    graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, negBlock.path(dir), Seq("event_type", "user_id"))
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
  // both bucket sides re-derived with a side marker; the union-fill
  // zeros drop on both engines
  query("ts_tsdb_block_neg_roundtrip", tsTsdbBlockNegRoundtrip,
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
      .stripMargin)

  /** `histogram_quantile(0.9, h)` over SIGNED histograms decoded
    * from block bytes ([[tsdb.NativeHistogram
    * .histogramQuantileSigned]]): promql's AllBucketIterator walk —
    * negative buckets from the most negative value upward, the zero
    * bucket, then positive — with linear interpolation in whichever
    * bucket catches the rank. The oracle replays the walk over a
    * phase-ordered union with identical FP association. */
  private def tsNhNegQuantile(s: SparkSession, dir: String): DataFrame = {
    negBlock.build(s, dir)
    graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, negBlock.path(dir), Seq("event_type", "user_id"))
      .select(col("event_type"), col("user_id"), col("ts").as("ts_ms"),
        graft.tsdb.NativeHistogram.histogramQuantileSigned(0.1,
          col("zero_count"), col("pos_idx"), col("pos_counts"),
          col("neg_idx"), col("neg_counts")).as("phi10"),
        graft.tsdb.NativeHistogram.histogramQuantileSigned(0.9,
          col("zero_count"), col("pos_idx"), col("pos_counts"),
          col("neg_idx"), col("neg_counts")).as("phi90"))
      .orderBy("event_type", "user_id", "ts_ms")
  }
  // the AllBucketIterator walk replayed over a phase-ordered union
  // (0 = negative side descending index, 1 = zero bucket, 2 =
  // positive ascending) with the same FP association: cum/total
  // exact integers in double, linear interpolation
  // lower + (upper-lower)·((rank − cumBefore)/cnt)
  query("ts_nh_neg_quantile", tsNhNegQuantile,
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
      .stripMargin)

  /** SIGNED histograms through the PromQL STRING front-end:
    * `histogram_quantile(0.1, neg_requests)` — a [[tsdb.promql
    * .HistTable]] registered with `negIdxCol`/`negCountsCol` from
    * block bytes; q=0.1 lands in the NEGATIVE region on the gate
    * vector, so the compiled plan's signed AllBucketIterator walk is
    * what hash-pins. Instant semantics: latest sample per series in
    * the lookback. */
  private def tsPromqlNegQuantile(s: SparkSession, dir: String): DataFrame = {
    negBlock.build(s, dir)
    val nh = graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, negBlock.path(dir), Seq("event_type", "user_id"))
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
  // the signed walk through the STRING front-end at instant
  // semantics: latest day per series, q=0.1 in the negative region
  query("ts_promql_neg_quantile", tsPromqlNegQuantile,
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
      .stripMargin)

  /** `histogram_count(rate(neg_requests[40d]))` from the string:
    * [[tsdb.NativeHistogram.rateBySigned]] rates BOTH bucket sides
    * off one whole-sample first/last snapshot pair, and the count
    * consumer folds them back together — the negative side visibly
    * changes the answer, so the hash pins the signed rate path
    * end-to-end. */
  private def tsPromqlNegCountRate(s: SparkSession, dir: String): DataFrame = {
    negBlock.build(s, dir)
    val nh = graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, negBlock.path(dir), Seq("event_type", "user_id"))
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
  // signed rate through the front-end: whole-sample first/last per
  // series (min/max day), clamped bucket deltas over dt seconds,
  // count = ((zero_rate + posFold) + negFold) replayed with
  // ordered cumulative windows
  query("ts_promql_neg_count_rate", tsPromqlNegCountRate,
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
      .stripMargin)

  /** `histogram_count(delta(neg_requests[40d]))` — the GAUGE range
    * function over native histograms: bucket-wise last − first with
    * NO clamp on either side ([[tsdb.NativeHistogram
    * .deltaBySigned]]), no extrapolation, count folding both sides
    * back together. Exact integer deltas, so the hash is
    * order-free. */
  private def tsPromqlNegDelta(s: SparkSession, dir: String): DataFrame = {
    negBlock.build(s, dir)
    val nh = graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, negBlock.path(dir), Seq("event_type", "user_id"))
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
  // gauge delta over a signed histogram: unclamped last - first on
  // every component, exact integer arithmetic end to end
  query("ts_promql_neg_delta", tsPromqlNegDelta,
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
      .stripMargin)

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
    negBlock.build(s, dir)
    val nh = graft.tsdb.NativeHistogram
    graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, negBlock.path(dir), Seq("event_type", "user_id"))
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
  // signed stats: count/avg exact-integer arithmetic; stdvar
  // replays the ((zero + posFold) + negFold) association with two
  // ordered cumulative windows; fraction bounds sit on bucket
  // boundaries so every share is exactly 0 or 1
  query("ts_nh_neg_stats", tsNhNegStats,
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
      .stripMargin)

  // reads `negBlock`, so callers build it first
  private val negConverted: Fixture = fixture("negconv") { (s, dir) =>
    val nh = graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, negBlock.path(dir), Seq("event_type", "user_id"))
      .withColumn("ts", timestamp_millis(col("ts")))
    HistChunkStore.write(nh, negConverted.path(dir), Seq("event_type", "user_id"), "ts",
      "zero_count", "pos_idx", "pos_counts", Some("hist_sum"),
      samplesPerChunk = 10,
      negIdxCol = Some("neg_idx"), negCountsCol = Some("neg_counts"))
  }

  /** The SIGNED migration path — block bytes (negative spans
    * included) → [[tsdb.block.TsdbBlockStore.readHistLabels]] →
    * [[tsdb.HistChunkStore]] converted layout (the negative side in
    * each chunk's own negative spans) → matcher + day-range select.
    * Both sides explode with a side marker, so the oracle hash pins
    * the block decode, the converted write and the select of both
    * sides together. */
  private def tsTsdbBlockNegConvert(s: SparkSession, dir: String): DataFrame = {
    negBlock.build(s, dir)
    val path = negConverted(s, dir)
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
  // the signed migration path: both sides re-derived under the
  // same matcher + day-range restriction as the NH convert gate
  query("ts_tsdb_block_neg_convert", tsTsdbBlockNegConvert,
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
      .stripMargin)

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
    nhBlock.build(s, dir)
    val nh = graft.tsdb.block.TsdbBlockStore
      .readHistLabels(s, nhBlock.path(dir), Seq("event_type", "user_id"))
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
  query("ts_promql_nh_blocks", tsPromqlNhBlocks, nhQuantileRateBlockSql)
}
