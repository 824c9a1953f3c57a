package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.TimestampType

import graft.functions.{ChunkDecode, ChunkEncode, MergeSampleRuns, QueryConst}

/** The reference's dual-file chunked storage model, Spark-native —
  * a converted block is a LABELS file (one row per series: label
  * columns + a stable series ref) and a CHUNKS file (one row per
  * series × time bucket: framed XOR chunk blob + mint/maxt/count
  * metadata), the analog of the reference's labels and chunks
  * parquet files with row-aligned series (convert/convert.go:80
  * `labelsFileIdx`/`chunksFileIdx`, schema/schema.go DataColsIndexes,
  * chunk cells re-encoded by schema/encoder.go:55).
  *
  * Query path (mirrors search/materialize.go: constraint search on
  * label columns → ranged chunk-bytes fetch → decode):
  *   1. matcher predicates run on the SMALL labels file (pushed to
  *      its parquet scan),
  *   2. the matching refs broadcast-join against the chunks file —
  *      the 100 TB side, whose scan prunes by `bucket` partition
  *      directories (time-range → directory pruning) and by
  *      mint/maxt row-group stats,
  *   3. only surviving blobs are decoded ([[ChunkDecode]] skips
  *      non-overlapping chunks inside a blob by frame header — the
  *      page-ranged-IO analog), then the exact per-sample range
  *      predicate applies.
  *
  * The chunks side never shuffles: partition-dir pruning + broadcast
  * ref join + narrow decode. A write's one wide exchange is the
  * groupBy that assembles each series × bucket's samples — the
  * converter's sort, paid once at ingest; a compaction's is one
  * exchange of ENCODED chunk rows ([[mergeBlocks]]). The read front
  * half, write tail and compaction core are shared with
  * [[HistChunkStore]].
  */
object ChunkStore {

  /** Stable series ref: TWO independent xxhash64s over the label
    * VALUES in caller column order (the second seeded by a leading
    * literal), joined together — 128 bits total. One 64-bit key has
    * ~3% birthday-collision odds at 10⁹ series (a collision silently
    * MERGES two series' chunks); at 128 bits the odds are ~10⁻²⁰.
    * The reference gets this for free from per-file row alignment
    * (labels row i ↔ chunks row i); a distributed layout needs the
    * join key to carry the identity.
    */
  private[tsdb] val refCols = Seq("series_ref", "series_ref2")

  private[tsdb] def withSeriesRef(df: DataFrame, seriesCols: Seq[String]): DataFrame =
    df.withColumn("series_ref", xxhash64(seriesCols.map(col): _*))
      .withColumn("series_ref2", xxhash64(lit(1) +: seriesCols.map(col): _*))

  /** Write `df` as a chunked dual-file block at `path`:
    * `path/labels` (series_ref + label columns, sorted) and
    * `path/chunks` (series_ref, mint, maxt, n_samples, data blob;
    * partitioned by time bucket, sorted by series_ref within).
    */
  def write(df: DataFrame, path: String, seriesCols: Seq[String],
      tsCol: String, valueCol: String, colDuration: String = "1 day",
      samplesPerChunk: Int = 120, compression: String = "zstd",
      labelsCompression: Option[String] = None,
      chunksCompression: Option[String] = None): Unit =
    // the reference compresses the two files independently
    // (WithLabelsCompression / WithChunksCompression,
    // convert/convert.go:306,322): label strings compress well under
    // zstd, while chunk blobs are already XOR-compressed bits where a
    // cheap codec (or none) can beat recompression CPU at scan time
    writeSamples(df, path, seriesCols, tsCol, colDuration,
      ts => struct(ts.as("ts"), col(valueCol).cast("double").as("value")),
      xorEncode(samplesPerChunk), extraLabels = Nil,
      labelsCompression.getOrElse(compression),
      chunksCompression.getOrElse(compression))

  private def xorEncode(samplesPerChunk: Int)(samples: Column): Column =
    ColumnBridge.column(ChunkEncode(ColumnBridge.expression(samples),
      samplesPerChunk))

  /** Every chunked write: ONE sample-scale pass groups `df` by
    * (series ref, bucket) into a sorted array of `sample(ts µs)`
    * structs, carrying the labels through, for [[writeChunkRows]]. */
  private[tsdb] def writeSamples(df: DataFrame, path: String,
      seriesCols: Seq[String], tsCol: String, colDuration: String,
      sample: Column => Column, encode: Column => Column,
      extraLabels: Seq[Column], labelsComp: String,
      chunksComp: String): Unit = {
    require(seriesCols.nonEmpty, "need at least one series label column")
    val aggCols = seriesCols.map(c => first(col(c)).as(c)) :+
      sort_array(collect_list(sample(unix_micros(col(tsCol))))).as("_samples")
    val grouped = withSeriesRef(df, seriesCols)
      .groupBy(refCols.map(col) :+
        TsdbConverter.bucketCol(tsCol, colDuration).as("bucket"): _*)
      .agg(aggCols.head, aggCols.tail: _*)
    writeChunkRows(grouped, path, seriesCols, encode, extraLabels,
      labelsComp, chunksComp)
  }

  /** The shared write tail: `rows` (labels, refs, `bucket` and a
    * non-empty `_samples` array sorted by field 0, the ts in µs)
    * become chunk rows, checkpointed once since BOTH files derive from
    * them: the labels file (plus the per-series `extraLabels`;
    * range-partitioned, never one file) and the chunks file. */
  private[tsdb] def writeChunkRows(rows: DataFrame, path: String,
      seriesCols: Seq[String], encode: Column => Column,
      extraLabels: Seq[Column], labelsComp: String,
      chunksComp: String): Unit = {
    val s = col("_samples")
    val chunkRows = rows
      .select(rows.columns.filter(_ != "_samples").map(col) ++ Seq(
        s(0)("ts").as("mint"),
        element_at(s, -1)("ts").as("maxt"),
        size(s).cast("long").as("n_samples"),
        encode(s).as("data")): _*)
      // eager temp-table cut between the encode and the two file
      // writes (same convention as the candidate-set checkpoints)
      .localCheckpoint()

    chunkRows.select((seriesCols ++ refCols).map(col) ++ extraLabels: _*)
      .distinct()
      .repartitionByRange(seriesCols.map(col): _*)
      .sortWithinPartitions(seriesCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).option("compression", labelsComp)
      .parquet(s"$path/labels")

    chunkRows
      .select(col("series_ref"), col("series_ref2"), col("bucket"),
        col("mint"), col("maxt"), col("n_samples"), col("data"))
      .sortWithinPartitions(col("bucket"), col("series_ref"))
      .write.mode(SaveMode.Overwrite).option("compression", chunksComp)
      .partitionBy("bucket")
      .parquet(s"$path/chunks")
  }

  /** The front half of every read: the chunk rows at `path` joined
    * to the `labels` rows matching `matchers` (pushed down, broadcast
    * ref join) and, for a `window` [mint, maxt), pruned by bucket
    * directory (width `colDuration`) and mint/maxt row-group stats.
    * No blob has been decoded yet. */
  private[tsdb] def chunkRows(spark: SparkSession, path: String,
      labels: DataFrame, matchers: Seq[Matcher],
      window: Option[(String, String)], colDuration: String): DataFrame = {
    val matched = Matcher.compile(matchers).map(labels.filter).getOrElse(labels)
    val chunks = spark.read.parquet(s"$path/chunks")
    window.fold(chunks) { case (mint, maxt) =>
      val qmint = unix_micros(lit(mint).cast("timestamp"))
      val qmaxt = unix_micros(lit(maxt).cast("timestamp"))
      // bucket pruning: partition values are floor(epoch_sec/width),
      // so the directory range covering [mint, maxt) is a static
      // predicate the scan prunes on (maxt side exclusive)
      val width = TsdbConverter.durationSeconds(colDuration)
      val loBucket = floor(unix_timestamp(lit(mint).cast("timestamp")) / width)
      val hiBucket = floor((unix_timestamp(lit(maxt).cast("timestamp")) - 1) / width)
      chunks
        .filter(col("bucket") >= loBucket && col("bucket") <= hiBucket)
        // frame-level metadata filter → parquet row-group stats prune
        // before any blob is even read
        .filter(col("maxt") >= qmint && col("mint") < qmaxt)
    }.join(broadcast(matched), refCols)
  }

  private def labelsOf(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/labels")

  /** Epoch µs of the timestamp string `ts` under the session time
    * zone — what `unix_micros(lit(ts).cast("timestamp"))` folds to —
    * as a bound constant ([[QueryConst]]) for the decoded-sample
    * side of a select. The chunk metadata and bucket filters keep
    * their literals: those reach the scan. */
  private[tsdb] def decodedBoundMicros(spark: SparkSession, ts: String): Column =
    Option(Cast(Literal(ts), TimestampType,
        Some(spark.sessionState.conf.sessionLocalTimeZone)).eval()) match {
      case Some(us: Long) => QueryConst.long(us)
      case _ => throw new IllegalArgumentException(s"not a timestamp: '$ts'")
    }

  private def xorDecode(data: Column, qmint: Column, qmaxt: Column): Column =
    ColumnBridge.column(ChunkDecode(ColumnBridge.expression(data),
      ColumnBridge.expression(qmint), ColumnBridge.expression(qmaxt)))

  private def decodeSamples(chunks: DataFrame, mint: String, maxt: String,
      seriesCols: Seq[String], tsCol: String, valueCol: String): DataFrame = {
    val spark = chunks.sparkSession
    val qmint = decodedBoundMicros(spark, mint)
    val qmaxt = decodedBoundMicros(spark, maxt)
    // ChunkDecode's header filter is inclusive (reference
    // semantics); the exact [mint, maxt) bound re-applies below
    val decoded = xorDecode(col("data"), qmint, qmaxt)
    chunks
      .select((seriesCols.map(col) :+ explode(decoded).as("_s")): _*)
      .filter(col("_s.ts") >= qmint && col("_s.ts") < qmaxt)
      .select((seriesCols.map(col) :+
        QueryConst.decodedTs(timestamp_micros(col("_s.ts")), tsCol) :+
        col("_s.value").as(valueCol)): _*)
  }

  /** Select samples of series matching `matchers` within
    * [mint, maxt) — same bound convention as
    * [[TsdbQueryable.select]] — from a chunked block written by
    * [[write]]. Output: label columns + `tsCol` (timestamp) +
    * `valueCol` (double), exactly a raw-table select's schema.
    */
  def select(spark: SparkSession, path: String, mint: String, maxt: String,
      matchers: Seq[Matcher], seriesCols: Seq[String], tsCol: String,
      valueCol: String, colDuration: String = "1 day"): DataFrame =
    decodeSamples(chunkRows(spark, path, labelsOf(spark, path), matchers,
      Some((mint, maxt)), colDuration), mint, maxt, seriesCols, tsCol, valueCol)

  /** [[select]] with the reference's strict chunk-byte quota
    * (search/limits.go:44 NewQuota / materialize.go chunk-bytes
    * accounting) — and unlike the row-model estimate in
    * [[TsdbQueryable.selectStrict]], the bytes here are the REAL
    * encoded chunk sizes: the sum of `length(data)` over exactly the
    * blobs the pruned scan would fetch. The quota check is one
    * metadata-only aggregation (blob lengths, no decode); on pass,
    * the select proceeds.
    */
  @throws[QuotaExceededException]
  def selectStrict(spark: SparkSession, path: String, mint: String,
      maxt: String, matchers: Seq[Matcher], seriesCols: Seq[String],
      tsCol: String, valueCol: String, chunkBytesQuota: Long,
      colDuration: String = "1 day"): DataFrame = {
    val chunks = chunkRows(spark, path, labelsOf(spark, path), matchers,
      Some((mint, maxt)), colDuration)
    if (chunkBytesQuota > 0L) {
      val bytes = chunks.agg(coalesce(sum(length(col("data"))), lit(0L)))
        .head().getLong(0)
      if (bytes > chunkBytesQuota)
        throw new QuotaExceededException(
          s"select would fetch $bytes encoded chunk bytes (quota $chunkBytesQuota)")
    }
    decodeSamples(chunks, mint, maxt, seriesCols, tsCol, valueCol)
  }

  /** Compact N chunked blocks that may overlap in series/time into
    * ONE — the reference's vertical compaction (convert/merge.go
    * NewMergeChunkSeriesSet) at series grain: chunk rows cross one
    * exchange still encoded ([[chunkRuns]]); each (series, output
    * bucket) decodes and k-way merges its runs ([[mergedRows]]) for
    * the [[writeChunkRows]] tail. One sample per (series, ts) is
    * kept, whatever its time: the LATER dir in `dirs` wins; within
    * one input, its last sample at that ts in stored order.
    */
  def mergeBlocks(spark: SparkSession, dirs: Seq[String], outPath: String,
      seriesCols: Seq[String], tsCol: String, valueCol: String,
      colDuration: String = "1 day", samplesPerChunk: Int = 120): Unit = {
    val runs = chunkRuns(spark, dirs, labelsOf(spark, _), seriesCols,
      colDuration)
    writeChunkRows(
      mergedRows(runs, seriesCols,
        r => xorDecode(r("data"), lit(Long.MinValue), lit(Long.MaxValue))),
      outPath, seriesCols, xorEncode(samplesPerChunk), extraLabels = Nil,
      "zstd", "zstd")
  }

  /** Every chunked compaction's input: per (series labels, output
    * bucket), `_runs` holds its chunk rows as `struct(pri, data,
    * carry...)`, `pri` = (position in `dirs`, input bucket). A row's
    * output bucket is [[TsdbConverter.bucketCol]] of its `mint`; one
    * whose `maxt` lies in another (an input written at a coarser
    * `colDuration`) fails the job. The ONE exchange hash-partitions
    * by the labels, so a per-series window adds none. */
  private[tsdb] def chunkRuns(spark: SparkSession, dirs: Seq[String],
      labelsOf: String => DataFrame, seriesCols: Seq[String],
      colDuration: String, carry: Seq[String] = Nil): DataFrame = {
    require(dirs.nonEmpty, "need at least one block directory")
    val bucketOf = TsdbConverter.bucketCol(_: String, colDuration)
    val runs = dirs.zipWithIndex.map { case (d, i) =>
      chunkRows(spark, d, labelsOf(d), Nil, None, colDuration)
        .withColumn("_lo", timestamp_micros(col("mint")))
        .withColumn("_hi", timestamp_micros(col("maxt")))
        .select(seriesCols.map(col) ++ Seq(
          when(bucketOf("_hi") =!= bucketOf("_lo"), raise_error(lit(
            s"block $d holds a chunk row that spans several " +
              s"$colDuration buckets: it was written at a coarser " +
              "colDuration than the merge's")))
            .otherwise(bucketOf("_lo")).as("bucket"),
          struct(struct(lit(i).as("dir"), col("bucket").cast("long")
              .as("bucket")).as("pri") +: col("data") +:
            carry.map(col): _*).as("_run")): _*)
    }
    runs.reduce(_ union _)
      .repartition(seriesCols.map(col): _*)
      .groupBy(seriesCols.map(col) :+ col("bucket"): _*)
      .agg(collect_list(col("_run")).as("_runs"))
  }

  /** [[chunkRuns]] rows for [[writeChunkRows]]: labels, `bucket`,
    * `keep`, refs and the [[MergeSampleRuns]] merge of each run's
    * decoded, ts-sorted `samples(run)`. */
  private[tsdb] def mergedRows(runs: DataFrame, seriesCols: Seq[String],
      samples: Column => Column, keep: Seq[Column] = Nil): DataFrame = {
    val decoded = transform(col("_runs"), r => struct(r("pri"), samples(r)))
    withSeriesRef(runs.select(seriesCols.map(col) ++ (col("bucket") +: keep) :+
      ColumnBridge.column(MergeSampleRuns(ColumnBridge.expression(decoded)))
        .as("_samples"): _*), seriesCols)
  }
}
