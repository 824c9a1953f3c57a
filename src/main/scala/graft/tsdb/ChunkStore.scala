package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.TimestampType

import graft.functions.{ChunkDecode, ChunkEncode, QueryConst}

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
  * ref join + narrow decode. The only wide exchange in the whole
  * lifecycle is the write-side groupBy that assembles each series×
  * bucket's samples — the converter's sort, paid once at ingest.
  */
object ChunkStore {

  private def tsUs(tsCol: String): Column = unix_micros(col(tsCol))

  /** Stable series ref: TWO independent xxhash64s over the label
    * VALUES in caller column order (the second seeded by a leading
    * literal), joined together — 128 bits total. One 64-bit key has
    * ~3% birthday-collision odds at 10⁹ series (a collision silently
    * MERGES two series' chunks); at 128 bits the odds are ~10⁻²⁰.
    * The reference gets this for free from per-file row alignment
    * (labels row i ↔ chunks row i); a distributed layout needs the
    * join key to carry the identity.
    */
  private val refCols = Seq("series_ref", "series_ref2")

  private def withSeriesRef(df: DataFrame, seriesCols: Seq[String]): DataFrame =
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
      chunksCompression: Option[String] = None): Unit = {
    require(seriesCols.nonEmpty, "need at least one series label column")
    // the reference compresses the two files independently
    // (WithLabelsCompression / WithChunksCompression,
    // convert/convert.go:306,322): label strings compress well under
    // zstd, while chunk blobs are already XOR-compressed bits where a
    // cheap codec (or none) can beat recompression CPU at scan time
    val labelsComp = labelsCompression.getOrElse(compression)
    val chunksComp = chunksCompression.getOrElse(compression)
    val withKey = withSeriesRef(df, seriesCols)
      .withColumn("bucket", TsdbConverter.bucketCol(tsCol, colDuration))
      .withColumn("_ts_us", tsUs(tsCol))

    // ONE sample-scale pass: the chunk aggregation carries the label
    // columns through (first() per group — constant within a 128-bit
    // ref group), and BOTH files derive from its materialized output.
    // The old structure derived the raw input four times — labels
    // distinct twice (the range partitioner's sampling pass re-runs
    // its whole subplan) plus the chunks aggregation — so an ingest
    // (or a compaction feeding this writer) re-ran its upstream per
    // derivation. The labels distinct and its range sampling now run
    // over series×bucket rows, not samples.
    val enc = ColumnBridge.column(ChunkEncode(
      ColumnBridge.expression(
        sort_array(collect_list(struct(col("_ts_us").as("ts"),
          col(valueCol).cast("double").as("value"))))),
      samplesPerChunk))
    val aggCols = seriesCols.map(c => first(col(c)).as(c)) ++ Seq(
      min(col("_ts_us")).as("mint"),
      max(col("_ts_us")).as("maxt"),
      count(lit(1)).as("n_samples"),
      enc.as("data"))
    val aggregated = withKey.groupBy(refCols.map(col) :+ col("bucket"): _*)
      .agg(aggCols.head, aggCols.tail: _*)
      // eager temp-table cut between the aggregation and the two file
      // writes (same convention as the candidate-set checkpoints)
      .localCheckpoint()

    // labels side is series-cardinality (can be millions at 100 TB):
    // range-partition + sort, never a single-file coalesce
    aggregated.select((seriesCols ++ refCols).map(col): _*)
      .distinct()
      .repartitionByRange(seriesCols.map(col): _*)
      .sortWithinPartitions(seriesCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).option("compression", labelsComp)
      .parquet(s"$path/labels")

    aggregated
      .select(col("series_ref"), col("series_ref2"), col("bucket"),
        col("mint"), col("maxt"), col("n_samples"), col("data"))
      .sortWithinPartitions(col("bucket"), col("series_ref"))
      .write.mode(SaveMode.Overwrite).option("compression", chunksComp)
      .partitionBy("bucket")
      .parquet(s"$path/chunks")
  }

  /** The pruned, labels-joined chunk rows for a select — the shared
    * front half of [[select]]/[[selectStrict]]: matcher pushdown on
    * the labels file, broadcast ref join, bucket-directory pruning,
    * and the frame-metadata (mint/maxt) filter that prunes row
    * groups. No blob has been decoded yet.
    */
  private def prunedChunks(spark: SparkSession, path: String,
      mint: String, maxt: String, matchers: Seq[Matcher],
      colDuration: String): DataFrame = {
    val labels = spark.read.parquet(s"$path/labels")
    val matched = Matcher.compile(matchers).map(labels.filter).getOrElse(labels)

    val qmint = unix_micros(lit(mint).cast("timestamp"))
    val qmaxt = unix_micros(lit(maxt).cast("timestamp"))
    // bucket pruning: partition values are floor(epoch_sec/width),
    // so the directory range covering [mint, maxt) is a static
    // predicate the scan prunes on (maxt side exclusive)
    val secs = Seq("second" -> 1L, "minute" -> 60L, "hour" -> 3600L,
      "day" -> 86400L).toMap
    val width = colDuration.trim.split("\\s+") match {
      case Array(n, u) => n.toLong * secs(u.toLowerCase.stripSuffix("s"))
      case _ => throw new IllegalArgumentException(s"bad duration $colDuration")
    }
    val loBucket = floor(unix_timestamp(lit(mint).cast("timestamp")) / width)
    val hiBucket = floor((unix_timestamp(lit(maxt).cast("timestamp")) - 1) / width)

    spark.read.parquet(s"$path/chunks")
      .filter(col("bucket") >= loBucket && col("bucket") <= hiBucket)
      // frame-level metadata filter → parquet row-group stats prune
      // before any blob is even read
      .filter(col("maxt") >= qmint && col("mint") < qmaxt)
      .join(broadcast(matched), refCols)
  }

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

  private def decodeSamples(chunks: DataFrame, mint: String, maxt: String,
      seriesCols: Seq[String], tsCol: String, valueCol: String): DataFrame = {
    val spark = chunks.sparkSession
    val qmint = decodedBoundMicros(spark, mint)
    val qmaxt = decodedBoundMicros(spark, maxt)
    val decoded = ColumnBridge.column(ChunkDecode(
      ColumnBridge.expression(col("data")),
      ColumnBridge.expression(qmint),
      // ChunkDecode's header filter is inclusive (reference
      // semantics); the exact [mint, maxt) bound re-applies below
      ColumnBridge.expression(qmaxt)))
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
    decodeSamples(
      prunedChunks(spark, path, mint, maxt, matchers, colDuration),
      mint, maxt, seriesCols, tsCol, valueCol)

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
    val chunks = prunedChunks(spark, path, mint, maxt, matchers, colDuration)
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
    * ONE chunked block — the reference's vertical compaction over
    * chunk files (convert/merge.go NewMergeChunkSeriesSet driven by
    * convert.go:348), Spark-native — decode every block's chunks
    * (one narrow pass each), k-way merge with last-writer-wins per
    * (series, ts) — later directory in `dirs` wins, the newer-block
    * convention [[TsdbConverter.mergeShards]] already implements —
    * then re-encode through [[write]]. One distributed plan: N
    * scans → union → one merge shuffle → one encode shuffle →
    * bucketed write; no driver-side iteration at any scale.
    */
  def mergeBlocks(spark: SparkSession, dirs: Seq[String], outPath: String,
      seriesCols: Seq[String], tsCol: String, valueCol: String,
      colDuration: String = "1 day", samplesPerChunk: Int = 120): Unit = {
    require(dirs.nonEmpty, "need at least one block directory")
    val full = ("1970-01-01 00:00:00", "2200-01-01 00:00:00")
    // [[write]] consumes its input exactly once (its chunk aggregation
    // is the materialization point), so the N-block decode + LWW merge
    // streams straight into the encode shuffle — no extra temp table.
    val merged = TsdbConverter.mergeShards(
      dirs.map(d => select(spark, d, full._1, full._2, Nil,
        seriesCols, tsCol, valueCol, colDuration)),
      seriesCols, tsCol, valueCol)
    write(merged, outPath, seriesCols, tsCol, valueCol,
      colDuration, samplesPerChunk)
  }
}
