package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.{FloatHistChunkDecode, FloatHistChunkEncode, HistChunkDecode, HistChunkEncode, QueryConst}

/** [[ChunkStore]]'s dual-file layout for NATIVE-histogram series —
  * the reference's chunked storage applied to its third encoding
  * family (EncHistogram cells, schema/encoder.go:118): a LABELS file
  * (series + 128-bit ref) and a CHUNKS file (one framed
  * [[HistChunkCodec]] blob per series × time bucket with mint/maxt
  * metadata, partitioned by bucket).
  *
  * The query path is the [[ChunkStore]] shape exactly: matchers push
  * into the small labels scan, matching refs broadcast-join against
  * the chunks file (the 100 TB side — bucket-directory pruning +
  * mint/maxt row-group stats, never shuffled), surviving blobs decode
  * narrowly with frame-header skip, and the exact per-sample range
  * filter applies on top. The decoded rows land in the
  * [[NativeHistogram]] column model (`zero_count`, `pos_idx`,
  * `pos_counts`, optional sum), so `histogramQuantile`/`rateBy`/
  * `sumBy` run directly on the select's output — chunked storage to
  * PromQL answer without ever leaving one declarative plan. The read
  * front half, write tail and compaction core are [[ChunkStore]]'s;
  * this object adds the histogram codecs, the signed even/odd
  * interleave and the `custom_values`/`signed` label columns.
  */
object HistChunkStore {

  /** Write a native-histogram table (`tsCol` timestamp; `zeroCol`
    * long; `idxCol` array<int> ascending; `cntCol` array<long>;
    * `sumCol` optional double) as a chunked dual-file block. For
    * CUSTOM-BUCKET histograms (NHCB, `histSchema` -53) pass
    * `customValues` — the block's shared ascending bound list; it is
    * per-series METADATA, not per-sample data, so it lives in the
    * (tiny) labels file and [[select]] surfaces it as a
    * `custom_values` column without a byte of per-chunk overhead.
    * SIGNED histograms pass `negIdxCol`/`negCountsCol`: the two
    * sides store as one EVEN/ODD-interleaved index stream (pos i →
    * 2i, neg i → 2i+1 — still ascending, still layout-reused, delta
    * compression intact; the chunk codec treats indexes as opaque
    * ints) plus a `signed` flag in the labels file; [[select]]
    * splits them back by parity. Zero codec or frame changes.
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
      float = false, customValues = customValues,
      negIdxCol = negIdxCol, negCountsCol = negCountsCol)

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
      float = true, customValues = customValues,
      negIdxCol = negIdxCol, negCountsCol = negCountsCol)

  private def writeImpl(df: DataFrame, path: String, seriesCols: Seq[String],
      tsCol: String, zeroCol: String, idxCol: String, cntCol: String,
      sumCol: Option[String], histSchema: Int, colDuration: String,
      samplesPerChunk: Int, compression: String, float: Boolean,
      customValues: Seq[Double] = Nil,
      negIdxCol: Option[String] = None,
      negCountsCol: Option[String] = None): Unit = {
    requireBounds(histSchema, customValues)
    require(negIdxCol.isDefined == negCountsCol.isDefined,
      "negIdxCol and negCountsCol must be passed together")
    require(negIdxCol.isEmpty || customValues.isEmpty,
      "custom-bucket (NHCB) histograms cannot carry negative buckets")
    val signed = negIdxCol.isDefined
    val cntType = if (float) "array<double>" else "array<bigint>"
    // the signed merge: ascending even/odd interleave of both sides
    val dfEff =
      if (!signed) df
        .withColumn("_eff_idx", col(idxCol).cast("array<int>"))
        .withColumn("_eff_cnt", col(cntCol).cast(cntType))
      else {
        val merged = array_sort(concat(
          zip_with(col(idxCol).cast("array<int>"),
            col(cntCol).cast(cntType),
            (i, c) => struct((i * 2).as("k"), c.as("c"))),
          zip_with(col(negIdxCol.get).cast("array<int>"),
            col(negCountsCol.get).cast(cntType),
            (i, c) => struct((i * 2 + 1).as("k"), c.as("c")))))
        df.withColumn("_m", merged)
          .withColumn("_eff_idx", transform(col("_m"), b => b.getField("k")))
          .withColumn("_eff_cnt", transform(col("_m"), b => b.getField("c")))
          .drop("_m")
      }
    val sample = (ts: Column) => struct(
      ts.as("ts"),
      col(zeroCol).cast(if (float) "double" else "long").as("zero"),
      col("_eff_idx").as("idx"),
      col("_eff_cnt").as("cnt"),
      sumCol.map(c => col(c).cast("double"))
        .getOrElse(lit(null).cast("double")).as("sum"))
    ChunkStore.writeSamples(dfEff, path, seriesCols, tsCol, colDuration,
      sample, encoder(float, histSchema, samplesPerChunk),
      labelColumns(customValues, lit(signed)), compression, compression)
  }

  private def requireBounds(histSchema: Int, customValues: Seq[Double]): Unit =
    require((histSchema == block.ChunkencHistogram.CustomBucketsSchema) ==
      customValues.nonEmpty,
      "customValues required iff histSchema is the custom-bucket schema (-53)")

  private def encoder(float: Boolean, histSchema: Int,
      samplesPerChunk: Int)(samples: Column): Column = {
    val s = ColumnBridge.expression(samples)
    ColumnBridge.column(
      if (float) FloatHistChunkEncode(s, histSchema, samplesPerChunk)
      else HistChunkEncode(s, histSchema, samplesPerChunk))
  }

  /** The histogram-specific labels-file columns: the block's NHCB
    * bound list and the series' signed flag. */
  private def labelColumns(customValues: Seq[Double], signed: Column): Seq[Column] =
    Seq(array(customValues.map(lit): _*).cast("array<double>").as("custom_values"),
      signed.as("signed"))

  private def decoder(float: Boolean, data: Column, qmint: Column,
      qmaxt: Column): Column = {
    val Seq(b, lo, hi) = Seq(data, qmint, qmaxt).map(ColumnBridge.expression)
    ColumnBridge.column(
      if (float) FloatHistChunkDecode(b, lo, hi) else HistChunkDecode(b, lo, hi))
  }

  /** A block's labels file; blocks written before the NHCB / signed
    * columns existed read as empty bound lists / unsigned — schema
    * evolution without a rewrite. */
  private def labelsOf(spark: SparkSession, path: String): DataFrame =
    Seq("custom_values" -> array().cast("array<double>"), "signed" -> lit(false))
      .foldLeft(spark.read.parquet(s"$path/labels")) { case (l, (c, default)) =>
        if (l.columns.contains(c)) l else l.withColumn(c, default)
      }

  /** Select histogram samples of series matching `matchers` within
    * [mint, maxt) from a block written by [[write]]. Output: label
    * columns + `tsCol` (timestamp) + `zero_count`/`pos_idx`/
    * `pos_counts` (+ `hist_sum` when the block carries sums) — the
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
    val chunks = ChunkStore.chunkRows(spark, path, labelsOf(spark, path),
      matchers, Some((mint, maxt)), colDuration)

    // the decoded-sample side binds its bounds; the filters above
    // reach the scan and keep their literals
    val (dmint, dmaxt) = (ChunkStore.decodedBoundMicros(spark, mint),
      ChunkStore.decodedBoundMicros(spark, maxt))
    val decoded = decoder(float, col("data"), dmint, dmaxt)
    // signed blocks split the even/odd-interleaved stream back into
    // the two sides (narrow per-row transforms; the unsigned branch
    // passes the arrays through untouched)
    val zipped = zip_with(col("_s.idx"), col("_s.cnt"),
      (k, c) => struct(k.as("k"), c.as("c")))
    val posPairs = filter(zipped, b => b.getField("k") % 2 === 0)
    val negPairs = filter(zipped, b => b.getField("k") % 2 =!= 0)
    val cntType = if (float) "array<double>" else "array<bigint>"
    chunks
      .select((seriesCols.map(col) :+ col("custom_values") :+
        col("signed") :+ explode(decoded).as("_s")): _*)
      .filter(col("_s.ts") >= dmint && col("_s.ts") < dmaxt)
      .select((seriesCols.map(col) :+
        QueryConst.decodedTs(timestamp_micros(col("_s.ts")), tsCol) :+
        col("_s.zero").as("zero_count") :+
        when(col("signed"), transform(posPairs,
            b => (b.getField("k") / 2).cast("int")))
          .otherwise(col("_s.idx")).as("pos_idx") :+
        when(col("signed"), transform(posPairs, b => b.getField("c")))
          .otherwise(col("_s.cnt")).as("pos_counts") :+
        col("_s.sum").as("hist_sum") :+
        col("custom_values") :+
        when(col("signed"), transform(negPairs,
            b => ((b.getField("k") - 1) / 2).cast("int")))
          .otherwise(array().cast("array<int>")).as("neg_idx") :+
        when(col("signed"), transform(negPairs, b => b.getField("c")))
          .otherwise(array().cast(cntType)).as("neg_counts")): _*)
  }

  /** Compact N overlapping hist-chunk blocks into one:
    * [[ChunkStore.mergeBlocks]]'s plan and duplicate rule on WHOLE
    * histogram samples. A series signed in any input comes out
    * signed, decided from its runs (no probe job): its unsigned runs'
    * indexes map i → 2i, the interleave's positive side.
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
    val runs = ChunkStore.chunkRuns(spark, dirs, labelsOf(spark, _),
        seriesCols, colDuration, carry = Seq("signed"))
      .withColumn("_signed", max(exists(col("_runs"), _("signed")))
        .over(Window.partitionBy(seriesCols.map(col): _*)))
    def samples(run: Column): Column = {
      val s = decoder(float, run("data"), lit(Long.MinValue), lit(Long.MaxValue))
      when(col("_signed") && !run("signed"), transform(s,
        x => x.withField("idx", transform(x("idx"), _ * 2)))).otherwise(s)
    }
    ChunkStore.writeChunkRows(
      ChunkStore.mergedRows(runs, seriesCols, samples, keep = Seq(col("_signed"))),
      outPath, seriesCols, encoder(float, histSchema, samplesPerChunk),
      labelColumns(customValues, col("_signed")), "zstd", "zstd")
  }
}
