package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.MetadataBuilder

import graft.functions.{ChunkencFloatHistDecode, ChunkencHistDecode, ChunkencHistEncode, HistChunkExpressions, QueryConst}

/** [[ChunkStore]]'s dual-file layout for NATIVE-histogram series —
  * the reference's chunked storage applied to its third encoding
  * family (EncHistogram cells, schema/encoder.go:118): a LABELS file
  * (series + 128-bit ref) and a CHUNKS file (one framed
  * [[ChunkencHistCodec]] cell per series × time bucket with mint/maxt
  * metadata, partitioned by bucket). The frame bodies are real
  * Prometheus chunkenc histogram chunks, the bodies the
  * reference-layout shards hold; each chunk keeps one bucket layout,
  * so every sample reads back with exactly the buckets it was
  * written with, explicit zero buckets included. SIGNED histograms
  * store their negative side in the chunk's negative spans.
  *
  * The query path is the [[ChunkStore]] shape exactly: matchers push
  * into the small labels scan, matching refs broadcast-join against
  * the chunks file (the 100 TB side — bucket-directory pruning +
  * mint/maxt row-group stats, never shuffled), surviving cells decode
  * narrowly with frame-header skip, and the exact per-sample range
  * filter applies on top. The decoded rows land in the
  * [[NativeHistogram]] column model (`zero_count`, `pos_idx`,
  * `pos_counts`, optional sum), so `histogramQuantile`/`rateBy`/
  * `sumBy` run directly on the select's output — chunked storage to
  * PromQL answer without ever leaving one declarative plan. The read
  * front half, write tail and compaction core are [[ChunkStore]]'s;
  * this object adds the histogram cells and the labels file's
  * `custom_values` column. That column's metadata (in the labels
  * files' footers) marks the store: its chunk family (integer or
  * float) and whether it carries sums. A dir without the marker — a
  * store in graft's older body layout, or no histogram store at all
  * — fails with a [[GraftFormatException]], as does a select of the
  * other family.
  */
object HistChunkStore {

  private val BodyKey = "graft.hist_chunk_enc"
  private val SumKey = "graft.hist_chunk_sums"

  private def family(float: Boolean): Long =
    if (float) ChunkCodec.EncFloatHistogram else ChunkCodec.EncHistogram

  /** Write a native-histogram table (`tsCol` timestamp; `zeroCol`
    * long; `idxCol` array<int> ascending; `cntCol` array<long>;
    * `sumCol` optional double) as a chunked dual-file block. With a
    * `sumCol` every sample needs a sum: a null one fails the write
    * (a store either carries sums or reads back null `hist_sum`). For
    * CUSTOM-BUCKET histograms (NHCB, `histSchema` -53) pass
    * `customValues` — the block's shared ascending bound list; the
    * labels file holds it too, and [[select]] surfaces it as a
    * `custom_values` column. SIGNED histograms pass
    * `negIdxCol`/`negCountsCol` (ascending mirror-bucket indexes +
    * counts).
    */
  def write(df: DataFrame, path: String, seriesCols: Seq[String],
      tsCol: String, zeroCol: String, idxCol: String, cntCol: String,
      sumCol: Option[String] = None, histSchema: Int = 0,
      colDuration: String = "1 day", samplesPerChunk: Int = 120,
      compression: String = "zstd",
      customValues: Seq[Double] = Nil,
      negIdxCol: Option[String] = None,
      negCountsCol: Option[String] = None): Unit =
    writeImpl(df, path, seriesCols, tsCol, zeroCol, idxCol, cntCol,
      sumCol, histSchema, colDuration, samplesPerChunk, compression,
      float = false, customValues, negIdxCol, negCountsCol)

  /** [[write]] for FLOAT histograms (`zeroCol` double; `cntCol`
    * array<double> — recording-rule output): same dual-file layout,
    * EncFloatHistogram chunk cells. */
  def writeFloat(df: DataFrame, path: String, seriesCols: Seq[String],
      tsCol: String, zeroCol: String, idxCol: String, cntCol: String,
      sumCol: Option[String] = None, histSchema: Int = 0,
      colDuration: String = "1 day", samplesPerChunk: Int = 120,
      compression: String = "zstd",
      customValues: Seq[Double] = Nil,
      negIdxCol: Option[String] = None,
      negCountsCol: Option[String] = None): Unit =
    writeImpl(df, path, seriesCols, tsCol, zeroCol, idxCol, cntCol,
      sumCol, histSchema, colDuration, samplesPerChunk, compression,
      float = true, customValues, negIdxCol, negCountsCol)

  private def writeImpl(df: DataFrame, path: String, seriesCols: Seq[String],
      tsCol: String, zeroCol: String, idxCol: String, cntCol: String,
      sumCol: Option[String], histSchema: Int, colDuration: String,
      samplesPerChunk: Int, compression: String, float: Boolean,
      customValues: Seq[Double], negIdxCol: Option[String],
      negCountsCol: Option[String]): Unit = {
    requireBounds(histSchema, customValues)
    val sum = sumCol.fold(lit(null)) { c =>
      coalesce(col(c).cast("double"), raise_error(lit(s"null $c on a " +
        s"histogram sample of a write with sumCol $c: a store either " +
        "carries every sum or none")).cast("double"))
    }
    val sample = HistChunkExpressions.sample(float, _: Column, zeroCol,
      idxCol, cntCol, sum, customValues, negIdxCol, negCountsCol)
    ChunkStore.writeSamples(df, path, seriesCols, tsCol, colDuration,
      sample, encoder(histSchema, samplesPerChunk, customValues),
      labelColumns(float, customValues, sumCol.isDefined), compression,
      compression)
  }

  private def requireBounds(histSchema: Int, customValues: Seq[Double]): Unit =
    require((histSchema == block.ChunkencHistogram.CustomBucketsSchema) ==
      customValues.nonEmpty,
      "customValues required iff histSchema is the custom-bucket schema (-53)")

  private def encoder(histSchema: Int, samplesPerChunk: Int,
      customValues: Seq[Double])(samples: Column): Column =
    ColumnBridge.column(ChunkencHistEncode(ColumnBridge.expression(samples),
      histSchema, samplesPerChunk, customValues))

  /** The labels file's histogram column: the block's NHCB bound list,
    * its metadata the store's marker. */
  private def labelColumns(float: Boolean, customValues: Seq[Double],
      hasSum: Boolean): Seq[Column] =
    Seq(array(customValues.map(lit): _*).cast("array<double>")
      .as("custom_values", new MetadataBuilder()
        .putLong(BodyKey, family(float)).putBoolean(SumKey, hasSum).build()))

  private def decoder(float: Boolean, data: Column, qmint: Column,
      qmaxt: Column): Column = {
    val Seq(b, lo, hi) = Seq(data, qmint, qmaxt).map(ColumnBridge.expression)
    ColumnBridge.column(
      if (float) ChunkencFloatHistDecode(b, lo, hi) else ChunkencHistDecode(b, lo, hi))
  }

  /** A store's labels file and whether it carries sums, after its
    * marker says it holds `float` (or integer) chunkenc cells. */
  private def labelsOf(spark: SparkSession, path: String,
      float: Boolean): (DataFrame, Boolean) = {
    val labels = spark.read.parquet(s"$path/labels")
    val marker = labels.schema.find(_.name == "custom_values")
      .map(_.metadata).filter(_.contains(BodyKey))
      .getOrElse(throw new GraftFormatException(path, "not a chunkenc " +
        "histogram chunk store (its labels carry no body marker); a " +
        "store in graft's older histogram body layout must be rewritten"))
    val kind = Map(ChunkCodec.EncHistogram -> "integer",
      ChunkCodec.EncFloatHistogram -> "float")
    if (marker.getLong(BodyKey) != family(float))
      throw new GraftFormatException(path, s"holds " +
        s"${kind.getOrElse(marker.getLong(BodyKey), "unknown")} histogram " +
        s"chunks, not ${kind(family(float))} ones")
    (labels, marker.getBoolean(SumKey))
  }

  /** Select histogram samples of series matching `matchers` within
    * [mint, maxt) from a block written by [[write]]. Output: label
    * columns + `tsCol` (timestamp) + `zero_count`/`pos_idx`/
    * `pos_counts` + `hist_sum` (null when the block carries no sums)
    * + `custom_values` + `neg_idx`/`neg_counts` — the
    * [[NativeHistogram]] row model.
    */
  def select(spark: SparkSession, path: String, mint: String, maxt: String,
      matchers: Seq[Matcher], seriesCols: Seq[String], tsCol: String,
      colDuration: String = "1 day"): DataFrame =
    selectImpl(spark, path, mint, maxt, matchers, seriesCols, tsCol,
      colDuration, float = false)

  /** [[select]] over a block written by [[writeFloat]]: identical
    * plan contract (labels pushdown, broadcast ref join, bucket +
    * mint/maxt pruning, frame-header skip); `zero_count`/`pos_counts`
    * come back as doubles — the [[NativeHistogram]] analytics fold in
    * double, so quantile/fraction/stats/rate run on this output
    * unchanged. */
  def selectFloat(spark: SparkSession, path: String, mint: String,
      maxt: String, matchers: Seq[Matcher], seriesCols: Seq[String],
      tsCol: String, colDuration: String = "1 day"): DataFrame =
    selectImpl(spark, path, mint, maxt, matchers, seriesCols, tsCol,
      colDuration, float = true)

  private def selectImpl(spark: SparkSession, path: String, mint: String,
      maxt: String, matchers: Seq[Matcher], seriesCols: Seq[String],
      tsCol: String, colDuration: String, float: Boolean): DataFrame = {
    val (labels, hasSum) = labelsOf(spark, path, float)
    val chunks = ChunkStore.chunkRows(spark, path, labels, matchers,
      Some((mint, maxt)), colDuration)

    // the decoded-sample side binds its bounds; the filters above
    // reach the scan and keep their literals
    val (dmint, dmaxt) = (ChunkStore.decodedBoundMicros(spark, mint),
      ChunkStore.decodedBoundMicros(spark, maxt))
    val decoded = decoder(float, col("data"), dmint, dmaxt)
    chunks
      .select((seriesCols.map(col) :+ col("custom_values") :+
        explode(decoded).as("_s")): _*)
      .filter(col("_s.ts") >= dmint && col("_s.ts") < dmaxt)
      .select((seriesCols.map(col) :+
        QueryConst.decodedTs(timestamp_micros(col("_s.ts")), tsCol) :+
        col("_s.zero").as("zero_count") :+
        col("_s.idx").as("pos_idx") :+
        col("_s.cnt").as("pos_counts") :+
        (if (hasSum) col("_s.sum") else lit(null).cast("double")).as("hist_sum") :+
        col("custom_values") :+
        col("_s.nidx").as("neg_idx") :+
        col("_s.ncnt").as("neg_counts")): _*)
  }

  /** Compact N overlapping hist-chunk blocks into one:
    * [[ChunkStore.mergeBlocks]]'s plan and duplicate rule on WHOLE
    * histogram samples. The inputs must all carry sums or all carry
    * none: a merged series would otherwise mix stored and null sums.
    */
  def mergeBlocks(spark: SparkSession, dirs: Seq[String], outPath: String,
      seriesCols: Seq[String], tsCol: String, histSchema: Int = 0,
      colDuration: String = "1 day", samplesPerChunk: Int = 120,
      customValues: Seq[Double] = Nil): Unit =
    mergeImpl(spark, dirs, outPath, seriesCols, histSchema,
      colDuration, samplesPerChunk, float = false, customValues)

  /** [[mergeBlocks]] over [[writeFloat]] blocks. */
  def mergeFloatBlocks(spark: SparkSession, dirs: Seq[String],
      outPath: String, seriesCols: Seq[String], tsCol: String,
      histSchema: Int = 0, colDuration: String = "1 day",
      samplesPerChunk: Int = 120, customValues: Seq[Double] = Nil): Unit =
    mergeImpl(spark, dirs, outPath, seriesCols, histSchema,
      colDuration, samplesPerChunk, float = true, customValues)

  private def mergeImpl(spark: SparkSession, dirs: Seq[String],
      outPath: String, seriesCols: Seq[String], histSchema: Int,
      colDuration: String, samplesPerChunk: Int, float: Boolean,
      customValues: Seq[Double]): Unit = {
    requireBounds(histSchema, customValues)
    val inputs = dirs.map(d => d -> labelsOf(spark, d, float)).toMap
    val (withSums, without) = dirs.partition(inputs(_)._2)
    require(withSums.isEmpty || without.isEmpty, "cannot merge stores " +
      s"with sums (${withSums.mkString(", ")}) and without " +
      s"(${without.mkString(", ")}): a merged series would mix stored " +
      "and null sums")
    val runs = ChunkStore.chunkRuns(spark, dirs, inputs(_)._1, seriesCols,
      colDuration)
    val fields = HistChunkExpressions.sampleType(float).fieldNames
    def samples(run: Column): Column =
      transform(decoder(float, run("data"), lit(Long.MinValue), lit(Long.MaxValue)),
        s => struct(fields.map(f => s(f)): _*))
    ChunkStore.writeChunkRows(ChunkStore.mergedRows(runs, seriesCols, samples),
      outPath, seriesCols, encoder(histSchema, samplesPerChunk, customValues),
      labelColumns(float, customValues, withSums.nonEmpty), "zstd", "zstd")
  }
}
