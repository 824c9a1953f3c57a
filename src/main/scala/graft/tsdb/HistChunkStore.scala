package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
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
  * PromQL answer without ever leaving one declarative plan.
  */
object HistChunkStore {

  private val refCols = Seq("series_ref", "series_ref2")

  private def withSeriesRef(df: DataFrame, seriesCols: Seq[String]): DataFrame =
    df.withColumn("series_ref", xxhash64(seriesCols.map(col): _*))
      .withColumn("series_ref2", xxhash64(lit(1) +: seriesCols.map(col): _*))

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
    require(seriesCols.nonEmpty, "need at least one series label column")
    require((histSchema ==
        graft.tsdb.block.ChunkencHistogram.CustomBucketsSchema) ==
      customValues.nonEmpty,
      "customValues required iff histSchema is the custom-bucket " +
        "schema (-53)")
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
    val withKey = withSeriesRef(dfEff, seriesCols)
      .withColumn("bucket", TsdbConverter.bucketCol(tsCol, colDuration))
      .withColumn("_ts_us", unix_micros(col(tsCol)))

    // ONE sample-scale pass ([[ChunkStore.write]]'s structure): the
    // chunk aggregation carries the label columns through (first()
    // per group — constant within a 128-bit ref group) and both files
    // derive from its materialized output, so the labels distinct and
    // its range-partitioner sampling run over series×bucket rows
    // instead of re-deriving the raw input (a compaction's N-block
    // decode + LWW merge) once per pass.
    val sample = struct(
      col("_ts_us").as("ts"),
      col(zeroCol).cast(if (float) "double" else "long").as("zero"),
      col("_eff_idx").as("idx"),
      col("_eff_cnt").as("cnt"),
      sumCol.map(c => col(c).cast("double"))
        .getOrElse(lit(null).cast("double")).as("sum"))
    val sorted = ColumnBridge.expression(sort_array(collect_list(sample)))
    val enc = ColumnBridge.column(
      if (float) FloatHistChunkEncode(sorted, histSchema, samplesPerChunk)
      else HistChunkEncode(sorted, histSchema, samplesPerChunk))
    val aggCols = seriesCols.map(c => first(col(c)).as(c)) ++ Seq(
      min(col("_ts_us")).as("mint"),
      max(col("_ts_us")).as("maxt"),
      count(lit(1)).as("n_samples"),
      enc.as("data"))
    val aggregated = withKey.groupBy(refCols.map(col) :+ col("bucket"): _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .localCheckpoint()

    aggregated.select((seriesCols ++ refCols).map(col): _*)
      .distinct()
      .withColumn("custom_values",
        array(customValues.map(lit): _*).cast("array<double>"))
      .withColumn("signed", lit(signed))
      .repartitionByRange(seriesCols.map(col): _*)
      .sortWithinPartitions(seriesCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).option("compression", compression)
      .parquet(s"$path/labels")

    aggregated
      .select(col("series_ref"), col("series_ref2"), col("bucket"),
        col("mint"), col("maxt"), col("n_samples"), col("data"))
      .sortWithinPartitions(col("bucket"), col("series_ref"))
      .write.mode(SaveMode.Overwrite).option("compression", compression)
      .partitionBy("bucket")
      .parquet(s"$path/chunks")
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
    val labels0 = spark.read.parquet(s"$path/labels")
    // blocks written before the NHCB / signed columns existed read
    // as empty bound lists / unsigned — schema evolution without a
    // rewrite
    val labels1 = if (labels0.columns.contains("custom_values")) labels0
      else labels0.withColumn("custom_values", array().cast("array<double>"))
    val labels = if (labels1.columns.contains("signed")) labels1
      else labels1.withColumn("signed", lit(false))
    val matched = Matcher.compile(matchers).map(labels.filter).getOrElse(labels)

    val qmint = unix_micros(lit(mint).cast("timestamp"))
    val qmaxt = unix_micros(lit(maxt).cast("timestamp"))
    val secs = Seq("second" -> 1L, "minute" -> 60L, "hour" -> 3600L,
      "day" -> 86400L).toMap
    val width = colDuration.trim.split("\\s+") match {
      case Array(n, u) => n.toLong * secs(u.toLowerCase.stripSuffix("s"))
      case _ => throw new IllegalArgumentException(s"bad duration $colDuration")
    }
    val loBucket = floor(unix_timestamp(lit(mint).cast("timestamp")) / width)
    val hiBucket = floor((unix_timestamp(lit(maxt).cast("timestamp")) - 1) / width)

    val chunks = spark.read.parquet(s"$path/chunks")
      .filter(col("bucket") >= loBucket && col("bucket") <= hiBucket)
      .filter(col("maxt") >= qmint && col("mint") < qmaxt)
      .join(broadcast(matched), refCols)

    // the decoded-sample side binds its bounds; the filters above
    // reach the scan and keep their literals
    val (dmint, dmaxt) = (ChunkStore.decodedBoundMicros(spark, mint),
      ChunkStore.decodedBoundMicros(spark, maxt))
    val decoded = ColumnBridge.column(
      if (float) FloatHistChunkDecode(
        ColumnBridge.expression(col("data")),
        ColumnBridge.expression(dmint),
        ColumnBridge.expression(dmaxt))
      else HistChunkDecode(
        ColumnBridge.expression(col("data")),
        ColumnBridge.expression(dmint),
        ColumnBridge.expression(dmaxt)))
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

  /** Compact N overlapping hist-chunk blocks into one: decode every
    * block (narrow passes), last-writer-wins per (series, ts) on the
    * WHOLE histogram sample — later directory in `dirs` wins, the
    * [[ChunkStore.mergeBlocks]] convention — then re-encode through
    * [[write]]. One plan, no driver iteration.
    */
  def mergeBlocks(spark: SparkSession, dirs: Seq[String], outPath: String,
      seriesCols: Seq[String], tsCol: String, histSchema: Int = 0,
      colDuration: String = "1 day", samplesPerChunk: Int = 120,
      customValues: Seq[Double] = Nil): Unit =
    mergeImpl(spark, dirs, outPath, seriesCols, tsCol, histSchema,
      colDuration, samplesPerChunk, float = false, customValues)

  /** [[mergeBlocks]] over [[writeFloat]] blocks. */
  def mergeFloatBlocks(spark: SparkSession, dirs: Seq[String],
      outPath: String, seriesCols: Seq[String], tsCol: String,
      histSchema: Int = 0, colDuration: String = "1 day",
      samplesPerChunk: Int = 120, customValues: Seq[Double] = Nil): Unit =
    mergeImpl(spark, dirs, outPath, seriesCols, tsCol, histSchema,
      colDuration, samplesPerChunk, float = true, customValues)

  private def mergeImpl(spark: SparkSession, dirs: Seq[String],
      outPath: String, seriesCols: Seq[String], tsCol: String,
      histSchema: Int, colDuration: String, samplesPerChunk: Int,
      float: Boolean, customValues: Seq[Double] = Nil): Unit = {
    require(dirs.nonEmpty, "need at least one block directory")
    // driver-sized metadata probe: any signed input dir makes the
    // merged block signed (unsigned rows carry empty neg arrays and
    // interleave losslessly)
    val anySigned = dirs.exists { d =>
      val l = spark.read.parquet(s"$d/labels")
      l.columns.contains("signed") &&
        l.filter(col("signed")).limit(1).count() > 0
    }
    val full = ("1970-01-01 00:00:00", "2200-01-01 00:00:00")
    val tagged = dirs.zipWithIndex.map { case (d, i) =>
      selectImpl(spark, d, full._1, full._2, Nil, seriesCols, tsCol,
          colDuration, float)
        .withColumn("_block", lit(i))
    }
    // the whole sample — both bucket sides — travels in one LWW
    // struct, so pos and neg can never mix across colliding samples
    val merged = tagged.reduce(_ unionByName _)
      .groupBy((seriesCols.map(col) :+ col(tsCol)): _*)
      .agg(max(struct(col("_block"), col("zero_count"), col("pos_idx"),
        col("pos_counts"), col("hist_sum"), col("neg_idx"),
        col("neg_counts"))).as("_top"))
      .select((seriesCols.map(col) :+ col(tsCol) :+
        col("_top.zero_count").as("zero_count") :+
        col("_top.pos_idx").as("pos_idx") :+
        col("_top.pos_counts").as("pos_counts") :+
        col("_top.hist_sum").as("hist_sum") :+
        col("_top.neg_idx").as("neg_idx") :+
        col("_top.neg_counts").as("neg_counts")): _*)
    writeImpl(merged, outPath, seriesCols, tsCol, "zero_count", "pos_idx",
      "pos_counts", Some("hist_sum"), histSchema, colDuration,
      samplesPerChunk, "zstd", float, customValues,
      negIdxCol = if (anySigned) Some("neg_idx") else None,
      negCountsCol = if (anySigned) Some("neg_counts") else None)
  }
}
