package graft.tsdb.shard

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.{CompressionCodecName, FileMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Type, Types}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge, SqlBridge}
import org.apache.spark.sql.types.{ArrayType, BinaryType, StringType, StructField, StructType}

import graft.functions.{ChunkDecode, HistChunkExpressions, QueryConst}
import graft.tsdb.{ChunkCodec, ChunkencHistCodec, Matcher}
import ParquetShardSchema._

/** Write and query shards in the reference's EXACT physical layout
  * (see [[ParquetShardSchema]]) — the interop half of the chunked
  * storage story: [[graft.tsdb.ChunkStore]] is the same semantics in
  * graft's own distributed layout; this store produces/consumes the
  * bytes a parquet-common reader (search/materialize.go) opens
  * directly, so data converted by either side is queryable by both.
  *
  * WRITE is a sample-grain front half feeding one per-shard tail
  * ([[writeShard]]), shared by every write and every merge. The front
  * half of [[write]]/[[writeHist]]/[[writeFloatHist]] is one wide
  * shuffle (the converter's sort, convert/convert.go:366 — paid once
  * at ingest): groupBy(labels) → per-series sorted samples →
  * range-repartition into `shards` by the sort labels, with the footer
  * bounds (minT, maxT) from one action over the arranged series, whose
  * shuffle outputs the write reuses, so the input is read and decoded
  * once. [[mergeShards]]/[[mergeShardsHist]] have no SQL front half:
  * the driver plans every output shard from the inputs' phase 1 and
  * footers, and one Spark job reads each shard's input rows by row
  * range and merges them per series ([[ShardMerge]]). Each shard task
  * re-encodes its series' samples into per-window chunk frames, each
  * window straight from the series' sample array
  * ([[graft.tsdb.ChunkCodec]], the same codec the chunk gates pin
  * bit-exactly, or the chunkenc histogram codecs), and streams TWO
  * row-aligned parquet files through parquet-java. Imperative per-shard
  * IO is justified the same way as the TSDB block writer: the
  * dual-file row-alignment contract and footer key-value metadata are
  * file-format mechanics no Catalyst operator expresses.
  *
  * READ keeps the reference's two-phase IO shape
  * (search/constraint.go → rowrange.go → materialize.go):
  *   0. planning is footer reads, not Spark jobs: shard 0's labels footer
  *      gives the [[ShardMeta]] and the labels schema, and building
  *      any read frame (`meta`, `labelNames`, `series`, every
  *      `select*`) starts zero Spark jobs. File listing is one
  *      listing of the dir on the driver;
  *   1. on the driver, the matchers become each shard's matched rows
  *      ([[ShardRowMatch]]): parquet-java reads only the label columns
  *      the matchers name, skipping the row groups and pages the
  *      `=`/set matchers rule out, re-checks every surviving row with
  *      the exact `Matcher.compile` predicate, then reads the output
  *      label columns of the matched rows only. The labels and chunks
  *      footers of each matched shard must agree on the row count;
  *   2. graft tasks read the matched rows by row range
  *      ([[ShardRowScan]], the reference's materialize step): the
  *      driver sizes the read from each matched shard's chunks footer
  *      and packs the row groups holding matches into splits of
  *      Spark's own split size; each task opens its chunks files,
  *      throws if one changed since phase 1 listed it, reads ONLY its
  *      rows' `s_data_<i>` cells whose window overlaps the query range
  *      (the pages that hold them, schema.go DataColumIdx) and attaches
  *      the labels — no Spark file scan, no join, no broadcast job. A
  *      read that fits one split plans as one partition, so the
  *      aggregates and joins over it need no exchange. `series` is
  *      phase 1 alone, a local relation;
  *   3. [[ChunkDecode]] skips non-overlapping frames inside each cell
  *      by header and keeps exactly the samples in `[mint, maxt)`. The
  *      decode bounds are [[graft.functions.QueryConst]]s and the
  *      output ts carries the decoded-sample mark, so a moved window
  *      reuses the compiled code of the last one.
  * A [[select]] (or [[selectStrict]]) frame also carries, as a tag on
  * its own logical plan, a handle to its SERIES-GRAIN TWIN
  * ([[seriesGrain]]): one row per matched series, the label columns
  * plus `_samples`, the series' decoded in-range samples as one array
  * in stored order — the reference's materialized series (labels +
  * chunks, search/materialize.go) — built from the same phase-1 rows
  * and row-range read. PromQL evaluates its range functions on it per
  * series. Frames derived from the select (a filter, a projection, a
  * union) carry no handle, and neither does a select whose phase 1
  * sees one label set on two rows, since a consumer of the twin would
  * take them for two series.
  * The merges read their inputs' labels through the same phase 1, with
  * no matchers, and their chunks by row range in their own tasks, so a
  * merge makes the same row-count and "changed after" checks as a
  * select, with no SQL plan at all.
  */
object ParquetShardStore {

  /** Footer metadata of a shard dir (read from shard 0's labels
    * footer — the reference's FromLabelsFile, schema_builder.go:58).
    */
  final case class ShardMeta(mintMs: Long, maxtMs: Long, colDurationMs: Long,
      familyMask: Option[Int] = None) {
    def numCols: Int = numDataCols(mintMs, maxtMs, colDurationMs)
  }

  /** 8h — the reference's default colDuration (convert/convert.go:44). */
  val DefaultColDurationMs: Long = 8L * 3600 * 1000

  // ---------------------------------------------------------------
  // write
  // ---------------------------------------------------------------

  /** Convert `df` (label columns + timestamp + double value) into
    * reference-layout shards under `dir`:
    * `<shard>.labels.parquet` + `<shard>.chunks.parquet`,
    * `0 until shards` files each, rows sorted by `labelCols` within
    * a shard and range-partitioned across shards.
    */
  def write(df: DataFrame, dir: String, labelCols: Seq[String],
      tsCol: String, valueCol: String,
      colDurationMs: Long = DefaultColDurationMs,
      samplesPerChunk: Int = 120, shards: Int = 1,
      rowGroupSize: Long = 1L << 20,
      bloomFilterLabels: Seq[String] = Nil): Unit =
    writeImpl(df, dir, labelCols, tsCol,
      ts => struct(ts.as("ts"), col(valueCol).cast("double").as("value")),
      colDurationMs, shards, rowGroupSize, bloomFilterLabels,
      xorEncoder(samplesPerChunk), XorFamily)

  private[shard] val XorFamily = 1 << ChunkCodec.EncXor.toInt
  private[shard] val HistFamily = 1 << ChunkCodec.EncHistogram.toInt

  /** Encodes the samples `[from, until)` of a series' sample array,
    * read in place, as one `s_data_<i>` cell. */
  private[shard] type SliceEncoder = (ArrayData, Int, Int) => Array[Byte]

  private[shard] def xorEncoder(samplesPerChunk: Int): SliceEncoder =
    (samples, from, until) =>
      ChunkCodec.encodeArrayData(samples, from, until, samplesPerChunk)

  private[shard] def histEncoder(float: Boolean, histSchema: Int,
      samplesPerChunk: Int, customValues: Seq[Double],
      gauge: Boolean): SliceEncoder = {
    val cv = customValues.toArray
    (samples, from, until) => ChunkencHistCodec.encodeArrayData(samples, from,
      until, histSchema, samplesPerChunk, cv, gauge, exactLayout = false, float)
  }

  /** [[write]] for NATIVE-HISTOGRAM series (`zeroCol` long; `idxCol`
    * array<int> ascending; `cntCol` array<long>; optional `sumCol`
    * double) — the reference encoder's EncHistogram family
    * (schema/encoder.go:118): the same shard files, each `s_data_<i>`
    * cell holding enc=2 frames whose BODIES are real Prometheus
    * chunkenc histogram chunks ([[graft.tsdb.ChunkencHistCodec]] →
    * [[graft.tsdb.block.ChunkencHistogram]]) — the byte contract the
    * reference's `chunkenc.FromData` decode depends on. Counter
    * resets cut chunks with the appender's header ladder; `gauge`
    * marks every chunk GaugeType and disables reset cuts. NHCB
    * custom-bucket histograms (schema -53 — classic histograms in
    * native representation) pass `customValues` (ascending inclusive
    * upper bounds) and an all-zero `zeroCol`, exactly like
    * [[graft.tsdb.block.TsdbBlockStore.writeHist]]. SIGNED series
    * (observing negative values) pass `negIdxCol`/`negCountsCol`
    * (ascending mirror-bucket indexes + counts); omitted →
    * positive-only chunks. A NULL sum persists as NaN (chunkenc
    * always carries a sum).
    */
  def writeHist(df: DataFrame, dir: String, labelCols: Seq[String],
      tsCol: String, zeroCol: String, idxCol: String, cntCol: String,
      sumCol: Option[String] = None, histSchema: Int = 0,
      colDurationMs: Long = DefaultColDurationMs,
      samplesPerChunk: Int = 120, shards: Int = 1,
      rowGroupSize: Long = 1L << 20,
      bloomFilterLabels: Seq[String] = Nil,
      customValues: Seq[Double] = Nil, gauge: Boolean = false,
      negIdxCol: Option[String] = None,
      negCountsCol: Option[String] = None): Unit =
    writeImpl(df, dir, labelCols, tsCol, histSample(float = false, zeroCol,
        idxCol, cntCol, sumCol, customValues, negIdxCol, negCountsCol),
      colDurationMs, shards, rowGroupSize, bloomFilterLabels,
      histEncoder(float = false, histSchema, samplesPerChunk, customValues,
        gauge), HistFamily)

  /** [[writeHist]] for FLOAT histograms (`zeroCol` double; `cntCol`
    * array<double>) — the EncFloatHistogram (enc=3) family, bodies
    * real chunkenc float-histogram chunks. */
  def writeFloatHist(df: DataFrame, dir: String, labelCols: Seq[String],
      tsCol: String, zeroCol: String, idxCol: String, cntCol: String,
      sumCol: Option[String] = None, histSchema: Int = 0,
      colDurationMs: Long = DefaultColDurationMs,
      samplesPerChunk: Int = 120, shards: Int = 1,
      rowGroupSize: Long = 1L << 20,
      bloomFilterLabels: Seq[String] = Nil,
      customValues: Seq[Double] = Nil, gauge: Boolean = false,
      negIdxCol: Option[String] = None,
      negCountsCol: Option[String] = None): Unit =
    writeImpl(df, dir, labelCols, tsCol, histSample(float = true, zeroCol,
        idxCol, cntCol, sumCol, customValues, negIdxCol, negCountsCol),
      colDurationMs, shards, rowGroupSize, bloomFilterLabels,
      histEncoder(float = true, histSchema, samplesPerChunk, customValues, gauge),
      1 << ChunkCodec.EncFloatHistogram.toInt)

  /** [[writeHist]]'s sample struct over the ms timestamp; a null sum
    * persists as NaN. */
  private def histSample(float: Boolean, zeroCol: String, idxCol: String,
      cntCol: String, sumCol: Option[String], customValues: Seq[Double],
      negIdxCol: Option[String], negCountsCol: Option[String]): Column => Column =
    HistChunkExpressions.sample(float, _, zeroCol, idxCol, cntCol,
      sumCol.fold(lit(null))(col), customValues, negIdxCol, negCountsCol)

  /** The sample-grain front half of every write: one series-grain
    * shuffle (groupBy labels → each series' samples as ONE sorted
    * array of sample structs, field 0 the ms timestamp), arranged into
    * shards (range-partitioned, then sorted by the labels within each), with
    * the footer bounds read off the arranged series ([[sampleBounds]])
    * — then [[writeSeries]], which reuses that action's shuffle
    * outputs.
    *
    * SCOPE: a shard conversion is per-BLOCK, like the reference's
    * `ConvertTSDBBlock` — the input df covers one bounded time range
    * (a day, a week), so a task holds one series' samples FOR THAT
    * BLOCK, exactly the reference RowReader's working set
    * (convert/reader.go encodes one series' chunks at a time). Feed
    * years of a hot series through ONE call and that invariant
    * breaks — convert per block and [[mergeShards]] as needed, the
    * reference's own lifecycle. Every histogram content a reference
    * shard's cells can hold is writable: exponential, SIGNED
    * (`negIdxCol`/`negCountsCol`), NHCB custom-bucket
    * (`customValues`), gauge — all as real chunkenc frame bodies.
    */
  private def writeImpl(df: DataFrame, dir: String, labelCols: Seq[String],
      tsCol: String, sample: Column => Column, colDurationMs: Long,
      shards: Int, rowGroupSize: Long, bloomFilterLabels: Seq[String],
      encodeSlice: SliceEncoder, familyMask: Int): Unit = {
    require(labelCols.nonEmpty, "need at least one label column")
    require(shards > 0, s"shards must be positive, got $shards")
    val series = df
      .groupBy(labelCols.map(c => col(c).cast("string").as(c)): _*)
      .agg(sort_array(collect_list(
        sample(unix_millis(col(tsCol).cast("timestamp"))))).as("_samples"))
    // the converter's shard layout (convert/convert.go:366): range-
    // partition into `shards` by the sort labels, so partition i is
    // shard file i
    val arranged = series.repartitionByRange(shards, labelCols.map(col): _*)
      .sortWithinPartitions(labelCols.map(col): _*)
    // the bounds action and the write run as ONE SQL execution of the
    // arranged plan, so their jobs group under one query and the plan
    // is posted like any action's
    SqlBridge.withExecution(arranged, "write shards") {
      val (mintMs, maxtMs) = sampleBounds(arranged)
      writeSeries(arranged, dir, ShardLayout(labelCols, mintMs, maxtMs,
        colDurationMs, rowGroupSize, bloomFilterLabels, encodeSlice, familyMask,
        fieldsOf(arranged)))
    }
  }

  /** (mint, maxt) of an arranged series frame: its arrays' first and
    * last timestamps (a null timestamp counts for neither, as in a
    * min/max). One action over `series.queryExecution.toRdd`, the RDD
    * [[writeSeries]] then writes, so the write reuses this action's
    * shuffle outputs instead of reading and decoding the input again.
    * Refuses a frame with no sample. */
  private def sampleBounds(series: DataFrame): (Long, Long) = {
    val at = series.schema.length - 1
    val fields = fieldsOf(series)
    val bounds = series.queryExecution.toRdd.mapPartitions { rows =>
      var (lo, hi) = (Long.MaxValue, Long.MinValue)
      rows.foreach { row =>
        val samples = row.getArray(at)
        var (i, j) = (0, samples.numElements() - 1)
        while (i <= j && samples.getStruct(i, fields).isNullAt(0)) i += 1
        while (j >= i && samples.getStruct(j, fields).isNullAt(0)) j -= 1
        if (i <= j) {
          lo = math.min(lo, samples.getStruct(i, fields).getLong(0))
          hi = math.max(hi, samples.getStruct(j, fields).getLong(0))
        }
      }
      if (lo <= hi) Iterator.single((lo, hi)) else Iterator.empty
    }.collect().reduceOption((a, b) => (math.min(a._1, b._1), math.max(a._2, b._2)))
    require(bounds.nonEmpty, "cannot write an empty shard set")
    bounds.get
  }

  /** Fields of the sample structs in a series frame's `_samples`, its
    * last column. */
  private def fieldsOf(series: DataFrame): Int =
    series.schema.last.dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType].length

  /** What every output shard of one write or merge shares: the label
    * columns (their values strings, null = absent label); the exact
    * sample bounds `mintMs`/`maxtMs`, which size the `s_data_<i>` grid
    * and go into the footers; the row-group size and bloom-filtered
    * labels; the family's slice encoder and footer mask; and the field
    * count of its sample structs, field 0 the ms timestamp. */
  private[shard] final case class ShardLayout(labelCols: Seq[String],
      mintMs: Long, maxtMs: Long, colDurationMs: Long, rowGroupSize: Long,
      bloomFilterLabels: Seq[String], encodeSlice: SliceEncoder,
      familyMask: Int, sampleFields: Int) {
    require(bloomFilterLabels.forall(labelCols.contains),
      s"bloomFilterLabels must be a subset of labelCols")
    require(mintMs >= 0,
      "pre-epoch samples are unrepresentable in the reference's " +
        "uvarint frame headers (schema/encoder.go Encode)")
    val nCols: Int = numDataCols(mintMs, maxtMs, colDurationMs)
  }

  /** The series-grain back half of every write: `series` is exactly
    * the layout's label columns + `_samples`, one row per series, its
    * samples sorted by the ms timestamp in field 0; it is already
    * arranged: partition i holds shard i's series, sorted by the
    * labels. Each partition is one [[writeShard]]. */
  private def writeSeries(series: DataFrame, dir: String, layout: ShardLayout): Unit = {
    require(series.columns.toSeq == layout.labelCols :+ "_samples",
      s"series columns ${series.columns.mkString(", ")} are not the labels + _samples")
    val spark = series.sparkSession
    clearShards(spark, dir)
    val nLabels = layout.labelCols.length
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    series.queryExecution.toRdd.mapPartitionsWithIndex { (shard, rows) =>
      writeShard(dir, shard, layout, conf.value, rows.map(row =>
        (Array.tabulate[String](nLabels)(i =>
          if (row.isNullAt(i)) null else row.getUTF8String(i).toString),
          row.getArray(nLabels))))
      Iterator.single(shard)
    }.count() // force the write
  }

  /** Removes the previous generation's shard files from `dir` (or makes
    * `dir`): a rewrite with fewer shards would otherwise leave stale
    * k.labels/chunks files that a read of the dir silently unions with
    * the new data. Hadoop FS, not java.nio: the dir may be hdfs://-style
    * at scale. */
  private[shard] def clearShards(spark: SparkSession, dir: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root))
      fs.listStatus(root).foreach { st =>
        val n = st.getPath.getName
        if (n.matches("\\.?\\d+\\.(labels|chunks)\\.parquet(\\.crc)?"))
          fs.delete(st.getPath, false)
      }
    else fs.mkdirs(root)
  }

  /** The per-shard tail shared by every write and every merge: streams
    * `series` — (label values in `layout.labelCols` order, null =
    * absent; samples sorted by ts), in the shard's sort order — into
    * the two row-aligned files of shard `shard` under `dir`. Each
    * series' samples split into per-window slices, each encoded in
    * place with the family's codec. */
  private[shard] def writeShard(dir: String, shard: Int, layout: ShardLayout,
      conf: Configuration, series: Iterator[(Array[String], ArrayData)]): Unit = {
    import layout._
    val labelNamesSorted = labelCols.sorted
    val colIdxByLabel = labelColumnIndexes(labelNamesSorted)
    val meta: Map[String, String] = Map(
      DataColSizeMd -> colDurationMs.toString,
      MinTMd -> mintMs.toString,
      MaxTMd -> maxtMs.toString,
      FamilyMaskMd -> familyMask.toString)
    val labelsFileCols = labelsFileColumns(labelNamesSorted)
    val chunksFileCols = chunksFileColumns(nCols)
    // the series hash and the chunk cells are all but unique: a
    // dictionary would hash every value only to fall back to plain
    val labelsWriter = new ShardFileWriter(
      s"$dir/$shard.labels.parquet", labelsSchema(labelNamesSorted),
      meta, conf, rowGroupSize, bloomFilterLabels.map(labelToColumn),
      plainCols = Seq(SeriesHashColumn))
    val chunksWriter = new ShardFileWriter(
      s"$dir/$shard.chunks.parquet", chunksSchema(nCols),
      meta, conf, rowGroupSize, plainCols = chunksFileCols)
    // per-shard constants, hoisted out of the per-series loop
    val chunkColBlobIdx = chunksFileCols
      .map(_.substring(DataColumnPrefix.length).toInt).toArray
    val labelOfFileCol: Array[String] = labelsFileCols.map { c =>
      if (c == ColIndexesColumn || c == SeriesHashColumn) null
      else extractLabelFromColumn(c).get
    }.toArray
    try {
      series.foreach { case (labels, samples) =>
        // labels present on this series (nulls are absent labels)
        val pairs = labelCols.indices.collect {
          case i if labels(i) != null => labelCols(i) -> labels(i)
        }
        val byName = pairs.toMap
        // split the sorted samples into per-window framed blobs
        val n = samples.numElements()
        val blobs = new Array[Array[Byte]](nCols)
        def tsAt(i: Int): Long = samples.getStruct(i, sampleFields).getLong(0)
        var start = 0
        while (start < n) {
          val ci = dataColumnIdx(tsAt(start), mintMs, colDurationMs)
          var end = start + 1
          while (end < n &&
              dataColumnIdx(tsAt(end), mintMs, colDurationMs) == ci) end += 1
          blobs(ci) = encodeSlice(samples, start, end)
          start = end
        }
        // labels row, in physical (alphabetical) column order
        val colIdxBytes = encodeIntSlice(
          pairs.map(p => colIdxByLabel(p._1)))
        val hashBytes = seriesHashBytes(pairs)
        labelsWriter.write(labelsFileCols.indices.map { i =>
          labelOfFileCol(i) match {
            case null => if (labelsFileCols(i) == ColIndexesColumn)
              colIdxBytes else hashBytes
            case l => byName.get(l).map(_.getBytes("UTF-8")).orNull
          }
        }.toArray)
        // chunks row: required columns, empty bytes where no data
        chunksWriter.write(chunkColBlobIdx.map { ci =>
          if (blobs(ci) == null) Array.emptyByteArray else blobs(ci)
        })
      }
    } finally {
      labelsWriter.close()
      chunksWriter.close()
    }
  }

  private def labelsSchema(labelNamesSorted: Seq[String]): MessageType = {
    val fields = labelsFileColumns(labelNamesSorted).map { c =>
      if (c == ColIndexesColumn || c == SeriesHashColumn)
        Types.required(PrimitiveType.PrimitiveTypeName.BINARY).named(c)
      else
        Types.optional(PrimitiveType.PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(c)
    }
    new MessageType("labels-projection", fields: _*)
  }

  private def chunksSchema(nCols: Int): MessageType = {
    val fields = chunksFileColumns(nCols).map(c =>
      Types.required(PrimitiveType.PrimitiveTypeName.BINARY).named(c))
    new MessageType("chunk-projection", fields: _*)
  }

  /** parquet-java writer for rows of pre-serialized binary cells
    * (aligned to the schema's field order; null skips an optional
    * field). All shard columns are physically BINARY, so one write
    * support covers both files. `plainCols` are written with no
    * dictionary.
    */
  private class ShardFileWriter(path: String, schema: MessageType,
      meta: Map[String, String], conf: Configuration, rowGroupSize: Long,
      bloomCols: Seq[String] = Nil, plainCols: Seq[String] = Nil) {
    private val support = new WriteSupport[Array[Array[Byte]]] {
      private var rc: RecordConsumer = _
      private val fields = schema.getFields
      override def init(c: Configuration): WriteSupport.WriteContext = {
        val m = new java.util.HashMap[String, String]()
        meta.foreach { case (k, v) => m.put(k, v) }
        new WriteSupport.WriteContext(schema, m)
      }
      override def prepareForWrite(c: RecordConsumer): Unit = rc = c
      override def write(row: Array[Array[Byte]]): Unit = {
        rc.startMessage()
        var i = 0
        while (i < row.length) {
          if (row(i) != null) {
            val name = fields.get(i).getName
            rc.startField(name, i)
            rc.addBinary(Binary.fromConstantByteArray(row(i)))
            rc.endField(name, i)
          }
          i += 1
        }
        rc.endMessage()
      }
    }
    private class B(out: org.apache.parquet.io.OutputFile)
        extends ParquetWriter.Builder[Array[Array[Byte]], B](out) {
      override def self(): B = this
      override def getWriteSupport(c: Configuration) = support
    }
    private val writer = plainCols.foldLeft(bloomCols.foldLeft(
      new B(HadoopOutputFile.fromPath(
          new org.apache.hadoop.fs.Path(path), conf))
        .withConf(conf)
        .withCompressionCodec(CompressionCodecName.ZSTD)
        .withRowGroupSize(rowGroupSize))(
        // the reference's WithBloomFilterLabels (convert.go:118):
        // row groups of a non-matching shard prune on the filter
        // before any page IO
        (b, c) => b.withBloomFilterEnabled(c, true)))(
        (b, c) => b.withDictionaryEncoding(c, false))
      // a shard REWRITE (fixture rebuild, re-ingest) replaces the
      // files — parquet-java's default CREATE mode would fail on the
      // leftovers of a previous generation
      .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
      .build()
    def write(row: Array[Array[Byte]]): Unit = writer.write(row)
    def close(): Unit = writer.close()
  }

  // ---------------------------------------------------------------
  // read
  // ---------------------------------------------------------------

  /** Shard 0's footers, read without a Spark job (FromLabelsFile,
    * schema_builder.go:58-76): the labels footer gives the
    * [[ShardMeta]] and the labels schema, the chunks footer — opened
    * only when asked for — the chunks schema.
    * Shard 0 is the file Spark's own inference would open: the first
    * of the sorted glob.
    */
  private[graft] final class ShardFooters(val spark: SparkSession, val dir: String) {
    private val labelsFooter = footer(spark, s"$dir/0.labels.parquet")
    lazy val meta: ShardMeta = {
      val kv = labelsFooter.getKeyValueMetaData
      ShardMeta(kv.get(MinTMd).toLong, kv.get(MaxTMd).toLong,
        kv.get(DataColSizeMd).toLong,
        Option(kv.get(FamilyMaskMd)).map(_.toInt))
    }
    lazy val labelsSchema: StructType = sparkSchema(spark, labelsFooter)
    /** Label names recovered from the self-describing `l_*` columns. */
    lazy val labelNames: Seq[String] =
      labelsSchema.fieldNames.toSeq.flatMap(extractLabelFromColumn).sorted
    lazy val chunksSchema: StructType =
      sparkSchema(spark, footer(spark, s"$dir/0.chunks.parquet"))
  }

  /** One file's footer, row-group metadata skipped. */
  private def footer(spark: SparkSession, path: String): FileMetaData = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(path), conf),
      HadoopReadOptions.builder(conf)
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
    try reader.getFooter.getFileMetaData finally reader.close()
  }

  /** The schema Spark's parquet inference derives from a footer: the
    * same converter under the session conf, every field nullable as
    * the file source makes it. */
  private def sparkSchema(spark: SparkSession, md: FileMetaData): StructType =
    StructType(new ParquetToSparkSchemaConverter(spark.sessionState.conf)
      .convert(md.getSchema).fields.map(_.copy(nullable = true)))

  /** Footer metadata — one footer read, metadata-sized
    * (FromLabelsFile, schema_builder.go:58-76). */
  def meta(spark: SparkSession, dir: String): ShardMeta =
    new ShardFooters(spark, dir).meta

  /** Label names recovered from the labels file's self-describing
    * schema — how FromLabelsFile rebuilds the label universe. */
  def labelNames(spark: SparkSession, dir: String): Seq[String] =
    new ShardFooters(spark, dir).labelNames

  /** Samples of series matching `matchers` in `[mintMs, maxtMs)` —
    * output: one column per label (nulls where the series lacks it) +
    * `tsCol` (timestamp) + `valueCol` (double), a raw-table select's
    * schema. Milliseconds, the reference's native unit.
    */
  def select(spark: SparkSession, dir: String, mintMs: Long, maxtMs: Long,
      matchers: Seq[Matcher] = Nil, tsCol: String = "ts",
      valueCol: String = "value"): DataFrame =
    selectImpl(spark, dir, mintMs, maxtMs, matchers, chunkBytesQuota = 0L,
      xorDecode(mintMs, maxtMs), Seq(col("_s.value").as(valueCol)), tsCol,
      twinValueCol = Some(valueCol))

  /** The series-grain twin of a [[select]]: one row per matched
    * series, its label columns plus `_samples`, the series' samples
    * in `[mintMs, maxtMs)` as array<struct<ts: long ms, value:
    * double>> — the concat of its decoded in-range `s_data` cells, in
    * stored order. It is built from the select's own phase-1 rows and
    * row-range read, so the row-count and "changed after the select"
    * checks hold for it too. A consumer that evaluates per series
    * (PromQL's range functions) reads it instead of exploding and
    * regrouping the select's samples.
    */
  final class SeriesGrain private[shard] (twin: => DataFrame,
      val labelNames: Seq[String], val tsCol: String, val valueCol: String,
      matched: Option[MatchedSeries]) {
    lazy val series: DataFrame = twin
    /** Whether no two matched series share their values of `cols`. */
    def uniqueOn(cols: Seq[String]): Boolean =
      cols.forall(labelNames.contains) &&
        matched.forall(_.uniqueOn(cols.map(labelNames.indexOf)))
  }

  private val SeriesGrainTag = TreeNodeTag[SeriesGrain]("graft.shard.series_grain")

  /** The series-grain twin of `df` when `df` is a [[select]] or
    * [[selectStrict]] frame itself — not a frame derived from one (a
    * filter, a projection, a union) — and no two of its matched rows
    * carry one label set. */
  def seriesGrain(df: DataFrame): Option[SeriesGrain] =
    df.queryExecution.logical.getTagValue(SeriesGrainTag)
      .filter(h => h.uniqueOn(h.labelNames))

  private def xorDecode(mintMs: Long, maxtMs: Long)
      : org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    c => ColumnBridge.column(ChunkDecode(
      ColumnBridge.expression(c),
      ColumnBridge.expression(QueryConst.long(mintMs)),
      // inclusive bounds: exactly the samples in [mint, maxt)
      ColumnBridge.expression(QueryConst.long(maxtMs - 1)), exact = true))

  /** [[select]] over a [[writeHist]] shard: output is the
    * NativeHistogram row model (`zero_count`/`pos_idx`/`pos_counts`
    * + `hist_sum`), so the histogram analytics and PromQL consumers
    * run directly on it — same names as
    * [[graft.tsdb.HistChunkStore.select]]. Buckets come back on each
    * chunk's UNION layout (chunkenc's recode fills absent buckets
    * with absolute 0 when a bucket appears mid-chunk) — filter
    * `cnt != 0` for the sparse view. Foreign-family frames in a
    * mixed cell (a series that changed sample type) are skipped by
    * header, the reference's per-encoding reader behavior. */
  def selectHist(spark: SparkSession, dir: String, mintMs: Long,
      maxtMs: Long, matchers: Seq[Matcher] = Nil,
      tsCol: String = "ts"): DataFrame =
    selectImpl(spark, dir, mintMs, maxtMs, matchers, chunkBytesQuota = 0L,
      histDecode(mintMs, maxtMs), histOutput, tsCol)

  private def histDecode(mintMs: Long, maxtMs: Long)
      : org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    c => ColumnBridge.column(graft.functions.ChunkencHistDecode(
      ColumnBridge.expression(c),
      ColumnBridge.expression(QueryConst.long(mintMs)),
      ColumnBridge.expression(QueryConst.long(maxtMs - 1)), exact = true))

  /** [[selectHist]] over a [[writeFloatHist]] shard (enc=3 cells);
    * zero/counts come back as doubles. */
  def selectFloatHist(spark: SparkSession, dir: String, mintMs: Long,
      maxtMs: Long, matchers: Seq[Matcher] = Nil,
      tsCol: String = "ts"): DataFrame =
    selectImpl(spark, dir, mintMs, maxtMs, matchers, chunkBytesQuota = 0L,
      floatHistDecode(mintMs, maxtMs), histOutput, tsCol)

  private def floatHistDecode(mintMs: Long, maxtMs: Long)
      : org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    c => ColumnBridge.column(graft.functions.ChunkencFloatHistDecode(
      ColumnBridge.expression(c),
      ColumnBridge.expression(QueryConst.long(mintMs)),
      ColumnBridge.expression(QueryConst.long(maxtMs - 1)), exact = true))

  private def histOutput: Seq[org.apache.spark.sql.Column] = Seq(
    col("_s.zero").as("zero_count"),
    col("_s.idx").as("pos_idx"),
    col("_s.cnt").as("pos_counts"),
    col("_s.sum").as("hist_sum"),
    col("_s.schema").as("schema"),
    col("_s.cv").as("custom_values"),
    col("_s.nidx").as("neg_idx"),
    col("_s.ncnt").as("neg_counts"))

  /** Label sets of the series matching `matchers` — the reference's
    * skipChunks select (queryable/parquet_queryable.go:414 `Query`
    * with `skipChunks=true`, serving Prometheus's `series()` API):
    * the select's phase 1 alone, which reads only the labels files on
    * the driver — the chunks files are never opened, no join, no
    * decode, no Spark job. The answer is a local relation: one row
    * per matching series, one column per label (nulls where the
    * series lacks it).
    */
  def series(spark: SparkSession, dir: String,
      matchers: Seq[Matcher] = Nil): DataFrame = {
    val names = new ShardFooters(spark, dir).labelNames
    val matched = ShardRowMatch.resolve(spark, dir, names, matchers,
      ShardRowMatch.compile(spark, names, matchers))
    spark.createDataFrame(matched.labelRows.asJava,
      StructType(names.map(StructField(_, StringType))))
  }

  /** Compact N shard dirs that may overlap in series/time into ONE
    * shard dir — the reference's vertical compaction applied to its
    * own layout (convert/merge.go's k-way merge of label-sorted series
    * sets feeding a fresh conversion), at SERIES grain end to end and
    * as ONE Spark job ([[ShardMerge]]): the driver reads each input's
    * labels through the select's phase 1 (every row), sorts the union
    * of the input series in the output's label order and cuts it into
    * `shards` ranges whose series counts differ by at most 1; each
    * output shard's task reads exactly its rows' `s_data_<i>` cells by
    * row range, decodes them, merges each series' runs with the
    * [[graft.functions.SampleRuns]] rule and writes through the shared
    * [[writeShard]] tail, so the cells are the ones a fresh write of
    * the merged samples makes. Exactly one output sample per (series,
    * ts): the LATER dir in `dirs` wins (the newer-block convention
    * every graft merge uses); an input holding several samples of a
    * series at one ts (a [[write]] of duplicate rows keeps them all)
    * contributes its LAST one in stored order. The output's footer
    * bounds are the inputs' when graft wrote them all; only inputs
    * without graft's writer key add one pre-pass job (their exact
    * bounds and chunk families). Every refusal is thrown on the driver
    * before any file of `outDir` is touched.
    */
  def mergeShards(spark: SparkSession, dirs: Seq[String], outDir: String,
      colDurationMs: Long = DefaultColDurationMs,
      samplesPerChunk: Int = 120, shards: Int = 1,
      bloomFilterLabels: Seq[String] = Nil): Unit =
    ShardMerge.plan(spark, dirs, shards, ShardMerge.Xor(samplesPerChunk))
      .write(outDir, colDurationMs, bloomFilterLabels)

  /** [[mergeShards]] for HISTOGRAM shard dirs: the same plan, duplicate
    * rule and footer bounds, with [[writeHist]]'s encoder. The chunk
    * schema and NHCB bound list must agree across every chunk of every
    * input (one metric family per merge, the same constraint the
    * chunked layout's compaction enforces): a pre-pass job over the
    * same tasks reads the chunk headers before the write. `gauge`
    * re-marks the headers, since the sample row model carries no gauge
    * flag.
    */
  def mergeShardsHist(spark: SparkSession, dirs: Seq[String],
      outDir: String, colDurationMs: Long = DefaultColDurationMs,
      samplesPerChunk: Int = 120, shards: Int = 1,
      bloomFilterLabels: Seq[String] = Nil,
      gauge: Boolean = false): Unit =
    ShardMerge.plan(spark, dirs, shards, ShardMerge.Hist(samplesPerChunk, gauge))
      .write(outDir, colDurationMs, bloomFilterLabels)

  /** [[select]] with the reference's strict chunk-byte quota
    * (search/limits.go NewQuota): the quota check is one
    * metadata-only aggregation over EXACTLY the in-range `s_data`
    * cells of the matched series — real encoded bytes, no decode —
    * and throws before any sample materializes. Same contract as
    * [[graft.tsdb.ChunkStore.selectStrict]], on the reference's own
    * layout. The aggregation reads the select's own matched rows, so
    * phase 1 runs once; it is the only Spark work before the caller's
    * action.
    */
  @throws[graft.tsdb.QuotaExceededException]
  def selectStrict(spark: SparkSession, dir: String, mintMs: Long,
      maxtMs: Long, matchers: Seq[Matcher], chunkBytesQuota: Long,
      tsCol: String = "ts", valueCol: String = "value"): DataFrame =
    selectImpl(spark, dir, mintMs, maxtMs, matchers, chunkBytesQuota,
      xorDecode(mintMs, maxtMs), Seq(col("_s.value").as(valueCol)), tsCol,
      twinValueCol = Some(valueCol))

  /** [[selectHist]] under the same strict chunk-byte quota — the
    * quota aggregation counts encoded `s_data` bytes and never
    * decodes, so it is family-agnostic. */
  @throws[graft.tsdb.QuotaExceededException]
  def selectHistStrict(spark: SparkSession, dir: String, mintMs: Long,
      maxtMs: Long, matchers: Seq[Matcher], chunkBytesQuota: Long,
      tsCol: String = "ts"): DataFrame =
    selectImpl(spark, dir, mintMs, maxtMs, matchers, chunkBytesQuota,
      histDecode(mintMs, maxtMs), histOutput, tsCol)

  /** [[selectFloatHist]] under the strict chunk-byte quota. */
  @throws[graft.tsdb.QuotaExceededException]
  def selectFloatHistStrict(spark: SparkSession, dir: String, mintMs: Long,
      maxtMs: Long, matchers: Seq[Matcher], chunkBytesQuota: Long,
      tsCol: String = "ts"): DataFrame =
    selectImpl(spark, dir, mintMs, maxtMs, matchers, chunkBytesQuota,
      floatHistDecode(mintMs, maxtMs), histOutput, tsCol)

  /** The shard front half of every read, in two phases (the
    * reference's constraint → row ranges → materialize):
    *   1. on the driver, [[ShardRowMatch.resolve]] turns the matchers
    *      into each shard's matched rows and their label values;
    *   2. graft tasks read exactly those rows' in-range `s_data_<i>`
    *      cells by row range and attach the labels ([[ShardRowScan]]):
    *      no Spark file scan and no join. A read that fits one split
    *      is a single-partition plan, so the aggregates over it need
    *      no exchange.
    * Output: the labels as one struct column `_l` and the data
    * columns, nothing decoded; and the data column names and phase 1's
    * answer. A window that misses the footer range or matches nothing
    * gives an empty local relation, and nothing is read.
    */
  private def matchedRows(f: ShardFooters, mintMs: Long, maxtMs: Long,
      matchers: Seq[Matcher])
      : (DataFrame, Seq[String], Option[MatchedSeries]) = {
    require(maxtMs > mintMs, s"empty range [$mintMs, $maxtMs)")
    val (spark, dir) = (f.spark, f.dir)
    val m = f.meta
    val names = f.labelNames
    val predicate = ShardRowMatch.compile(spark, names, matchers)

    // data columns overlapping the query range (the columnar analog of
    // the reference reading only in-range data columns). Clamp in LONG
    // before narrowing: an open-ended bound like Long.MaxValue would
    // wrap dataColumnIdx's Int and silently empty the select.
    def colIdxClamped(t: Long): Int =
      if (t < m.mintMs) 0
      else math.min((t - m.mintMs) / m.colDurationMs,
        (m.numCols - 1).toLong).toInt
    val lo = colIdxClamped(mintMs)
    val hi = colIdxClamped(maxtMs - 1)
    val overlaps = mintMs <= m.maxtMs && maxtMs > m.mintMs && lo <= hi
    val dataCols = if (overlaps) (lo to hi).map(dataColumn) else Seq(dataColumn(0))
    val labelsType = StructType(names.map(StructField(_, StringType)))

    val matched = if (!overlaps) None
      else Some(ShardRowMatch.resolve(spark, dir, names, matchers, predicate))
        .filterNot(_.isEmpty)
    val rows = matched match {
      case None => spark.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType(StructField("_l", labelsType) +: dataCols.map(StructField(_, BinaryType))))
      case Some(series) => ShardRowScan.frame(spark, dir, series, labelsType, dataCols)
    }
    (rows, dataCols, matched)
  }

  /** The row-alignment check, from the footers: shard `shard` of
    * `dir` has a chunks file (`chunks`, as listed) with as many rows
    * as its labels file (`labelsRows`). Returns the chunks footer,
    * whose row groups size a read. */
  private[shard] def alignedChunks(conf: Configuration, dir: String, shard: Int,
      labelsRows: Long, chunks: org.apache.hadoop.fs.FileStatus): ParquetMetadata = {
    if (chunks == null)
      throw new IllegalStateException(s"$dir: shard $shard has a " +
        "labels file and no chunks file")
    // read options from the session's conf: without them parquet-java
    // builds a fresh Hadoop Configuration per open, which cost more
    // than the rest of a select's planning
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(chunks, conf),
      HadoopReadOptions.builder(conf).build())
    try {
      val n = reader.getRecordCount
      if (n != labelsRows)
        throw new IllegalStateException(s"$dir: shard $shard's labels " +
          s"file has $labelsRows rows and its chunks file $n - the two " +
          "files are not row-aligned")
      reader.getFooter
    } finally reader.close()
  }

  private def selectImpl(spark: SparkSession, dir: String, mintMs: Long,
      maxtMs: Long, matchers: Seq[Matcher], chunkBytesQuota: Long,
      decode: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      sampleOutput: Seq[org.apache.spark.sql.Column],
      tsCol: String, twinValueCol: Option[String] = None): DataFrame = {
    val f = new ShardFooters(spark, dir)
    val names = f.labelNames
    val (rows, dataCols, matched) = matchedRows(f, mintMs, maxtMs, matchers)
    if (chunkBytesQuota > 0L) {
      // an empty match is a local relation: no chunk bytes to count
      val bytes = if (rows.isLocal) 0L
        else rows.agg(coalesce(sum(dataCols
            .map(c => length(col(c)).cast("long")).reduce(_ + _)), lit(0L)))
          .head().getLong(0)
      if (bytes > chunkBytesQuota)
        throw new graft.tsdb.QuotaExceededException(
          s"select would fetch $bytes encoded chunk bytes " +
            s"(quota $chunkBytesQuota)")
    }
    // the decode keeps exactly the samples in [mintMs, maxtMs)
    val decoded = dataCols.map(c => decode(col(c)))
    val allSamples = if (decoded.size == 1) decoded.head else concat(decoded: _*)
    val labels = names.map(n => col("_l")(n).as(n))
    val out = rows
      .select(labels :+ explode(allSamples).as("_s"): _*)
      .select((names.map(col) :+ QueryConst.decodedTs(
        timestamp_millis(col("_s.ts")), tsCol)) ++ sampleOutput: _*)
    twinValueCol.foreach { valueCol =>
      def twin = rows.select(labels :+ allSamples.as("_samples"): _*)
      out.queryExecution.logical.setTagValue(SeriesGrainTag,
        new SeriesGrain(twin, names, tsCol, valueCol, matched))
    }
    out
  }
}
