package graft.tsdb.shard

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.{CompressionCodecName, FileMetaData}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Type, Types}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.StructType

import graft.functions.ChunkDecode
import graft.tsdb.{ChunkCodec, Matcher}
import ParquetShardSchema._

/** Write and query shards in the reference's EXACT physical layout
  * (see [[ParquetShardSchema]]) — the interop half of the chunked
  * storage story: [[graft.tsdb.ChunkStore]] is the same semantics in
  * graft's own distributed layout; this store produces/consumes the
  * bytes a parquet-common reader (search/materialize.go) opens
  * directly, so data converted by either side is queryable by both.
  *
  * WRITE is one wide shuffle at series grain (the converter's sort,
  * convert/convert.go:366 — paid once at ingest): groupBy(labels) →
  * per-series sorted samples → range-repartition into `shards` by
  * the sort labels → each task re-encodes its series' samples into
  * per-window XOR chunk frames ([[graft.tsdb.ChunkCodec]], the same
  * codec the chunk gates pin bit-exactly) and streams TWO row-aligned
  * parquet files through parquet-java. Imperative per-partition IO is
  * justified the same way as the TSDB block writer: the dual-file
  * row-alignment contract and footer key-value metadata are file-
  * format mechanics no Catalyst operator expresses.
  *
  * READ is Spark-declarative end to end and keeps the reference's IO
  * shape at 100 TB:
  *   0. planning is footer reads, not Spark jobs: shard 0's labels footer
  *      gives the [[ShardMeta]] and the labels schema, its chunks
  *      footer the chunks schema, and the glob reads take those
  *      schemas instead of inferring them — building any read frame
  *      (`meta`, `labelNames`, `series`, every `select*`) starts zero
  *      Spark jobs. File listing starts no job either, up to Spark's
  *      parallel-listing threshold
  *      (`spark.sql.sources.parallelPartitionDiscovery.threshold`,
  *      32 paths by default);
  *   1. matchers filter the SMALL labels file — predicates push into
  *      its parquet scan (`PushedFilters` on `l_*` columns);
  *   2. survivors broadcast-join the chunks scan on (shard,
  *      row_index) — Spark's `_metadata.row_index` IS the row
  *      alignment the reference gets from its RowRange machinery, so
  *      the big side never shuffles;
  *   3. the chunks scan reads ONLY the `s_data_<i>` columns whose
  *      window overlaps the query range (`ReadSchema` pruning — the
  *      columnar analog of the reference reading only in-range data
  *      columns, schema.go DataColumIdx), and [[ChunkDecode]] skips
  *      non-overlapping frames inside each cell by header.
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
      Seq(col(valueCol).cast("double").as("value")),
      sampleFields = 2, colDurationMs, shards, rowGroupSize,
      bloomFilterLabels,
      (slice: org.apache.spark.sql.catalyst.util.ArrayData) =>
        ChunkCodec.encodeArrayData(slice, samplesPerChunk),
      familyMask = 1 << ChunkCodec.EncXor.toInt)

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
      negCountsCol: Option[String] = None): Unit = {
    require(negIdxCol.isDefined == negCountsCol.isDefined,
      "negIdxCol and negCountsCol must be passed together")
    require(negIdxCol.isEmpty || customValues.isEmpty,
      "custom-bucket (NHCB) histograms cannot carry negative buckets")
    val cv = customValues.toArray
    writeImpl(df, dir, labelCols, tsCol,
      Seq(col(zeroCol).cast("long").as("zero"),
        col(idxCol).cast("array<int>").as("idx"),
        col(cntCol).cast("array<bigint>").as("cnt"),
        sumCol.map(c => col(c).cast("double"))
          .getOrElse(lit(null).cast("double")).as("sum"),
        negIdxCol.map(c => col(c).cast("array<int>"))
          .getOrElse(typedLit(Seq.empty[Int])).as("nidx"),
        negCountsCol.map(c => col(c).cast("array<bigint>"))
          .getOrElse(typedLit(Seq.empty[Long])).as("ncnt")),
      sampleFields = 7, colDurationMs, shards, rowGroupSize,
      bloomFilterLabels,
      (slice: org.apache.spark.sql.catalyst.util.ArrayData) =>
        graft.tsdb.ChunkencHistCodec.encodeArrayData(
          slice, histSchema, samplesPerChunk, cv, gauge),
      familyMask = 1 << graft.tsdb.HistChunkCodec.EncHistogram.toInt)
  }

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
      negCountsCol: Option[String] = None): Unit = {
    require(negIdxCol.isDefined == negCountsCol.isDefined,
      "negIdxCol and negCountsCol must be passed together")
    require(negIdxCol.isEmpty || customValues.isEmpty,
      "custom-bucket (NHCB) histograms cannot carry negative buckets")
    val cv = customValues.toArray
    writeImpl(df, dir, labelCols, tsCol,
      Seq(col(zeroCol).cast("double").as("zero"),
        col(idxCol).cast("array<int>").as("idx"),
        col(cntCol).cast("array<double>").as("cnt"),
        sumCol.map(c => col(c).cast("double"))
          .getOrElse(lit(null).cast("double")).as("sum"),
        negIdxCol.map(c => col(c).cast("array<int>"))
          .getOrElse(typedLit(Seq.empty[Int])).as("nidx"),
        negCountsCol.map(c => col(c).cast("array<double>"))
          .getOrElse(typedLit(Seq.empty[Double])).as("ncnt")),
      sampleFields = 7, colDurationMs, shards, rowGroupSize,
      bloomFilterLabels,
      (slice: org.apache.spark.sql.catalyst.util.ArrayData) =>
        graft.tsdb.ChunkencHistCodec.encodeFloatArrayData(
          slice, histSchema, samplesPerChunk, cv, gauge),
      familyMask = 1 << graft.tsdb.HistChunkCodec.EncFloatHistogram.toInt)
  }

  /** Shared write scaffolding: one series-grain shuffle, then each
    * shard task splits the sorted sample structs (field 0 is always
    * the ms timestamp) into per-window slices, encodes each with the
    * family's codec, and streams the two row-aligned files.
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
      tsCol: String, sampleCols: Seq[org.apache.spark.sql.Column],
      sampleFields: Int, colDurationMs: Long, shards: Int,
      rowGroupSize: Long, bloomFilterLabels: Seq[String],
      encodeSlice: org.apache.spark.sql.catalyst.util.ArrayData => Array[Byte],
      familyMask: Int): Unit = {
    require(bloomFilterLabels.forall(labelCols.contains),
      s"bloomFilterLabels must be a subset of labelCols")
    require(labelCols.nonEmpty, "need at least one label column")
    require(shards > 0, s"shards must be positive, got $shards")
    val spark = df.sparkSession
    val tsMs = unix_millis(col(tsCol).cast("timestamp"))
    val Array(bounds) = df.agg(
      min(tsMs).as("mint"), max(tsMs).as("maxt")).collect()
    require(!bounds.isNullAt(0), "cannot write an empty shard set")
    val mintMs = bounds.getLong(0)
    val maxtMs = bounds.getLong(1)
    require(mintMs >= 0,
      "pre-epoch samples are unrepresentable in the reference's " +
        "uvarint frame headers (schema/encoder.go Encode)")
    val nCols = numDataCols(mintMs, maxtMs, colDurationMs)
    val labelNamesSorted = labelCols.sorted
    val colIdxByLabel = labelColumnIndexes(labelNamesSorted)
    val meta: Map[String, String] = Map(
      DataColSizeMd -> colDurationMs.toString,
      MinTMd -> mintMs.toString,
      MaxTMd -> maxtMs.toString,
      FamilyMaskMd -> familyMask.toString)

    // one shuffle: series assembly + the converter's label sort
    val grouped = df
      .withColumn("_ts_ms", tsMs)
      .groupBy(labelCols.map(c => col(c).cast("string").as(c)): _*)
      .agg(sort_array(collect_list(struct(
        (col("_ts_ms").as("ts") +: sampleCols): _*))).as("_samples"))
      .repartitionByRange(shards, labelCols.map(col): _*)
      .sortWithinPartitions(labelCols.map(col): _*)
      .select((labelCols.map(col) :+ col("_samples")): _*)

    // Hadoop FS, not java.nio: the dir may be hdfs://-style at scale.
    // Clean the PREVIOUS generation's shard files first — a rewrite
    // with fewer shards would otherwise leave stale k.labels/chunks
    // files that the glob reads silently union with the new data.
    locally {
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
    val nLabels = labelCols.length
    val labelOrder = labelCols.toIndexedSeq // field positions in `grouped`
    val serializableConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    grouped.queryExecution.toRdd.mapPartitionsWithIndex { (shard, rows) =>
      val conf = serializableConf.value
      val labelsWriter = new ShardFileWriter(
        s"$dir/$shard.labels.parquet", labelsSchema(labelNamesSorted),
        meta, conf, rowGroupSize,
        bloomFilterLabels.map(labelToColumn))
      val chunksWriter = new ShardFileWriter(
        s"$dir/$shard.chunks.parquet", chunksSchema(nCols),
        meta, conf, rowGroupSize)
      val labelsFileCols = labelsFileColumns(labelNamesSorted)
      val chunksFileCols = chunksFileColumns(nCols)
      // per-partition constants, hoisted out of the per-series loop
      val chunkColBlobIdx = chunksFileCols
        .map(_.substring(DataColumnPrefix.length).toInt).toArray
      val labelOfFileCol: Array[String] = labelsFileCols.map { c =>
        if (c == ColIndexesColumn || c == SeriesHashColumn) null
        else extractLabelFromColumn(c).get
      }.toArray
      try {
        rows.foreach { row =>
          // labels present on this series (nulls are absent labels)
          val pairs = (0 until nLabels).flatMap { i =>
            if (row.isNullAt(i)) None
            else Some(labelOrder(i) -> row.getUTF8String(i).toString)
          }
          val byName = pairs.toMap
          // split the sorted samples into per-window framed blobs
          val samples = row.getArray(nLabels)
          val n = samples.numElements()
          val blobs = new Array[Array[Byte]](nCols)
          def tsAt(i: Int): Long = samples.getStruct(i, sampleFields).getLong(0)
          var start = 0
          while (start < n) {
            val ci = dataColumnIdx(tsAt(start), mintMs, colDurationMs)
            var end = start + 1
            while (end < n &&
                dataColumnIdx(tsAt(end), mintMs, colDurationMs) == ci) end += 1
            val slice = new org.apache.spark.sql.catalyst.util.GenericArrayData(
              (start until end).map(i =>
                samples.getStruct(i, sampleFields).copy()).toArray[Any])
            blobs(ci) = encodeSlice(slice)
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
      Iterator.single(shard)
    }.count() // force the write
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
    * support covers both files.
    */
  private class ShardFileWriter(path: String, schema: MessageType,
      meta: Map[String, String], conf: Configuration, rowGroupSize: Long,
      bloomCols: Seq[String] = Nil) {
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
    private val writer = bloomCols.foldLeft(
      new B(HadoopOutputFile.fromPath(
          new org.apache.hadoop.fs.Path(path), conf))
        .withConf(conf)
        .withCompressionCodec(CompressionCodecName.ZSTD)
        .withRowGroupSize(rowGroupSize))(
        // the reference's WithBloomFilterLabels (convert.go:118):
        // row groups of a non-matching shard prune on the filter
        // before any page IO
        (b, c) => b.withBloomFilterEnabled(c, true))
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
    * only when a plan reads the chunks files — the chunks schema.
    * Shard 0 is the file Spark's own inference would open: the first
    * of the sorted glob.
    */
  private[graft] final class ShardFooters(spark: SparkSession, val dir: String) {
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

    def labels: DataFrame = scan("labels", labelsSchema)
    def chunks: DataFrame = scan("chunks", chunksSchema)
    private def scan(kind: String, schema: StructType): DataFrame =
      spark.read.schema(schema).parquet(s"$dir/*.$kind.parquet")
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

  /** `_shard` (the number in the file name) and `_row` (the row
    * index in that file): the key that aligns the dual files. */
  private def shardRow(kind: String): Seq[org.apache.spark.sql.Column] = Seq(
    regexp_extract(col("_metadata.file_name"),
      s"^(\\d+)\\.$kind\\.parquet$$", 1).cast("int").as("_shard"),
    col("_metadata.row_index").as("_row"))

  /** Samples of series matching `matchers` in `[mintMs, maxtMs)` —
    * output: one column per label (nulls where the series lacks it) +
    * `tsCol` (timestamp) + `valueCol` (double), a raw-table select's
    * schema. Milliseconds, the reference's native unit.
    */
  def select(spark: SparkSession, dir: String, mintMs: Long, maxtMs: Long,
      matchers: Seq[Matcher] = Nil, tsCol: String = "ts",
      valueCol: String = "value"): DataFrame =
    selectImpl(new ShardFooters(spark, dir), mintMs, maxtMs, matchers,
      xorDecode(mintMs, maxtMs), Seq(col("_s.value").as(valueCol)), tsCol)

  private def xorDecode(mintMs: Long, maxtMs: Long)
      : org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    c => ColumnBridge.column(ChunkDecode(
      ColumnBridge.expression(c),
      ColumnBridge.expression(lit(mintMs)),
      // frame-header filter is inclusive (reference semantics);
      // the exact [mint, maxt) bound re-applies per sample after
      ColumnBridge.expression(lit(maxtMs - 1))))

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
    selectImpl(new ShardFooters(spark, dir), mintMs, maxtMs, matchers,
      histDecode(mintMs, maxtMs), histOutput, tsCol)

  private def histDecode(mintMs: Long, maxtMs: Long)
      : org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    c => ColumnBridge.column(graft.functions.ChunkencHistDecode(
      ColumnBridge.expression(c),
      ColumnBridge.expression(lit(mintMs)),
      ColumnBridge.expression(lit(maxtMs - 1))))

  /** [[selectHist]] over a [[writeFloatHist]] shard (enc=3 cells);
    * zero/counts come back as doubles. */
  def selectFloatHist(spark: SparkSession, dir: String, mintMs: Long,
      maxtMs: Long, matchers: Seq[Matcher] = Nil,
      tsCol: String = "ts"): DataFrame =
    selectImpl(new ShardFooters(spark, dir), mintMs, maxtMs, matchers,
      floatHistDecode(mintMs, maxtMs), histOutput, tsCol)

  private def floatHistDecode(mintMs: Long, maxtMs: Long)
      : org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    c => ColumnBridge.column(graft.functions.ChunkencFloatHistDecode(
      ColumnBridge.expression(c),
      ColumnBridge.expression(lit(mintMs)),
      ColumnBridge.expression(lit(maxtMs - 1))))

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
    * the plan reads ONLY the tiny labels file, the chunks file never
    * appears, no join, no decode — metadata-sized IO at any scale.
    * One row per matching series, one column per label (nulls where
    * the series lacks it).
    */
  def series(spark: SparkSession, dir: String,
      matchers: Seq[Matcher] = Nil): DataFrame = {
    val f = new ShardFooters(spark, dir)
    val labels = f.labels
      .select(f.labelNames.map(n => col(labelToColumn(n)).as(n)): _*)
    Matcher.compile(matchers).map(labels.filter).getOrElse(labels)
  }

  /** Compact N shard dirs that may overlap in series/time into ONE
    * shard dir — the reference's vertical compaction applied to its
    * own layout (convert/merge.go's NewMergeChunkSeriesSet feeding a
    * fresh conversion): decode every input in full (one narrow pass
    * each), k-way merge with last-writer-wins per (series, ts) —
    * later dir in `dirs` wins, the newer-block convention every
    * graft merge uses — then re-encode through [[write]]. One
    * distributed plan end to end.
    */
  def mergeShards(spark: SparkSession, dirs: Seq[String], outDir: String,
      colDurationMs: Long = DefaultColDurationMs,
      samplesPerChunk: Int = 120, shards: Int = 1,
      bloomFilterLabels: Seq[String] = Nil): Unit = {
    val inputs = shardInputs(spark, dirs)
    inputs.foreach(assertSingleFamily(_,
      1 << graft.tsdb.ChunkCodec.EncXor.toInt, "XOR (float-sample)"))
    val names = inputs.head.labelNames
    val scans = inputs.map { f =>
      val (lo, hi) = fullRange(f)
      selectImpl(f, lo, hi, Nil, xorDecode(lo, hi),
        Seq(col("_s.value").as("value")), "ts")
    }
    // materialize the merge ONCE: write() consumes its input for the
    // bounds aggregation, the labels pass and the chunk encode — each
    // would otherwise re-run the N-dir decode + merge shuffle (the
    // same cut mergeShardsHist takes with cache() below, and
    // ChunkStore.mergeBlocks with its checkpoint)
    val merged = graft.tsdb.TsdbConverter.mergeShards(
      scans, names, "ts", "value")
      .localCheckpoint()
    write(merged, outDir, names, "ts", "value", colDurationMs,
      samplesPerChunk, shards, bloomFilterLabels = bloomFilterLabels)
  }

  /** One footer read per input dir of a merge, shared by the label-
    * universe check, the family guard and the scan plans. */
  private def shardInputs(spark: SparkSession, dirs: Seq[String])
      : Seq[ShardFooters] = {
    require(dirs.nonEmpty, "need at least one shard directory")
    val inputs = dirs.map(new ShardFooters(spark, _))
    val names = inputs.head.labelNames
    require(inputs.forall(_.labelNames == names),
      "all inputs must share one label universe (the reference merges " +
        "blocks of one tenant/schema)")
    inputs
  }

  /** A dir's whole footer range as a half-open select window. */
  private def fullRange(f: ShardFooters): (Long, Long) =
    (f.meta.mintMs, f.meta.maxtMs + 1)

  /** Loud-refusal guard for the family-specific compactors: a
    * reference-written cell may MIX chunkenc families (a series that
    * changed sample type — one appender per family per column,
    * schema/encoder.go:75). The family-specific decode SKIPS foreign
    * frames by header, which is right for a select but silent DATA
    * LOSS for a compaction that rewrites the shard: refuse instead,
    * telling the operator to merge one family at a time. One
    * header-walk aggregation over the in-range cells (bodies never
    * parsed).
    */
  private def assertSingleFamily(f: ShardFooters,
      allowedMask: Int, what: String): Unit = {
    // graft-written shards record the writer's family bitmask in the
    // footer — the guard is then one metadata read. The data walk
    // below only runs for shards WITHOUT the key (reference-written,
    // or pre-mask graft shards), whose cells may genuinely mix
    // families.
    val got = f.meta.familyMask.getOrElse {
      val (lo, hi) = fullRange(f)
      val (joined, dataCols, _, _) = pruned(f, lo, hi, Nil)
      if (dataCols.isEmpty) return
      import graft.functions.ChunkFamilies.families
      val maskCol = dataCols
        .map(c => coalesce(families(col(c)), lit(0)))
        .reduce(_.bitwiseOR(_))
      joined.select(maskCol.as("_m"))
        .agg(coalesce(expr("bit_or(_m)"), lit(0)))
        .head().getInt(0)
    }
    if ((got & ~allowedMask) != 0)
      throw new IllegalArgumentException(
        s"shard dir ${f.dir} holds chunkenc families beyond the $what " +
          s"merge's (family bitmask $got, allowed $allowedMask): a " +
          "family-specific merge would silently drop the foreign " +
          "frames - merge one chunkenc family at a time")
  }

  /** [[mergeShards]] for HISTOGRAM shard dirs: decode every input in
    * full, k-way LWW merge per (series, ts) — later dir in `dirs`
    * wins, the newer-block convention — then re-encode through
    * [[writeHist]]. The chunk schema and NHCB bound list come from
    * the decoded rows and must agree across every input (one metric
    * family per merge, the same constraint the chunked layout's
    * compaction enforces); `gauge` re-marks the headers, since the
    * sample row model carries no gauge flag. One distributed plan
    * plus one metadata-sized uniformity check.
    */
  def mergeShardsHist(spark: SparkSession, dirs: Seq[String],
      outDir: String, colDurationMs: Long = DefaultColDurationMs,
      samplesPerChunk: Int = 120, shards: Int = 1,
      bloomFilterLabels: Seq[String] = Nil,
      gauge: Boolean = false): Unit = {
    val inputs = shardInputs(spark, dirs)
    inputs.foreach(assertSingleFamily(_,
      1 << graft.tsdb.HistChunkCodec.EncHistogram.toInt,
      "integer-histogram"))
    val names = inputs.head.labelNames
    val scans = inputs.zipWithIndex.map { case (f, pri) =>
      val (lo, hi) = fullRange(f)
      selectImpl(f, lo, hi, Nil, histDecode(lo, hi), histOutput, "ts")
        .withColumn("_pri", lit(pri))
    }
    val valueCols = Seq("zero_count", "pos_idx", "pos_counts",
      "hist_sum", "schema", "custom_values", "neg_idx", "neg_counts")
    val merged = scans.reduce(_ unionByName _)
      .groupBy((names.map(col) :+ col("ts")): _*)
      .agg(max_by(struct(valueCols.map(col): _*), col("_pri")).as("_v"))
      .select((names.map(col) :+ col("ts")) ++
        valueCols.map(c => col(s"_v.$c").as(c)): _*)
      .cache()
    try {
      val fams = merged.select("schema", "custom_values").distinct()
        .collect()
      require(fams.nonEmpty, "cannot merge empty shard inputs")
      require(fams.length == 1,
        s"inputs mix ${fams.length} (schema, bounds) families — merge " +
          "one metric family at a time")
      val schema = fams.head.getInt(0)
      val cv = fams.head.getSeq[Double](1)
      // NHCB chunks structurally carry no negative side (their neg
      // columns decode as empty arrays), so don't re-offer the
      // columns — writeHist's NHCB-xor-neg guard is per-CALL
      val nhcb = schema ==
        graft.tsdb.block.ChunkencHistogram.CustomBucketsSchema
      writeHist(merged, outDir, names, "ts",
        "zero_count", "pos_idx", "pos_counts", Some("hist_sum"),
        histSchema = schema, colDurationMs = colDurationMs,
        samplesPerChunk = samplesPerChunk, shards = shards,
        bloomFilterLabels = bloomFilterLabels,
        customValues = cv, gauge = gauge,
        negIdxCol = if (nhcb) None else Some("neg_idx"),
        negCountsCol = if (nhcb) None else Some("neg_counts"))
    } finally merged.unpersist()
  }

  /** [[select]] with the reference's strict chunk-byte quota
    * (search/limits.go NewQuota): the quota check is one
    * metadata-only aggregation over EXACTLY the in-range `s_data`
    * cells of the matched series — real encoded bytes, no decode —
    * and throws before any sample materializes. Same contract as
    * [[graft.tsdb.ChunkStore.selectStrict]], on the reference's own
    * layout.
    */
  @throws[graft.tsdb.QuotaExceededException]
  def selectStrict(spark: SparkSession, dir: String, mintMs: Long,
      maxtMs: Long, matchers: Seq[Matcher], chunkBytesQuota: Long,
      tsCol: String = "ts", valueCol: String = "value"): DataFrame = {
    // ONE pruned frame serves the quota aggregation AND the select:
    // pruned() costs two footer reads and the matcher
    // compile - paying it twice doubled the metadata IO of every
    // strict select (ChunkStore.selectStrict, the declared
    // same-contract sibling, already shared it). The quota
    // aggregation is the only Spark work before the caller's action.
    val pr = pruned(new ShardFooters(spark, dir), mintMs, maxtMs, matchers)
    enforceChunkBytesQuotaOn(pr, chunkBytesQuota)
    selectImplFrom(pr, mintMs, maxtMs,
      xorDecode(mintMs, maxtMs), Seq(col("_s.value").as(valueCol)), tsCol)
  }

  /** [[selectHist]] under the same strict chunk-byte quota — the
    * quota aggregation counts encoded `s_data` bytes and never
    * decodes, so it is family-agnostic. */
  @throws[graft.tsdb.QuotaExceededException]
  def selectHistStrict(spark: SparkSession, dir: String, mintMs: Long,
      maxtMs: Long, matchers: Seq[Matcher], chunkBytesQuota: Long,
      tsCol: String = "ts"): DataFrame = {
    val pr = pruned(new ShardFooters(spark, dir), mintMs, maxtMs, matchers)
    enforceChunkBytesQuotaOn(pr, chunkBytesQuota)
    selectImplFrom(pr, mintMs, maxtMs,
      histDecode(mintMs, maxtMs), histOutput, tsCol)
  }

  /** [[selectFloatHist]] under the strict chunk-byte quota. */
  @throws[graft.tsdb.QuotaExceededException]
  def selectFloatHistStrict(spark: SparkSession, dir: String, mintMs: Long,
      maxtMs: Long, matchers: Seq[Matcher], chunkBytesQuota: Long,
      tsCol: String = "ts"): DataFrame = {
    val pr = pruned(new ShardFooters(spark, dir), mintMs, maxtMs, matchers)
    enforceChunkBytesQuotaOn(pr, chunkBytesQuota)
    selectImplFrom(pr, mintMs, maxtMs,
      floatHistDecode(mintMs, maxtMs), histOutput, tsCol)
  }

  private def enforceChunkBytesQuotaOn(
      pr: (DataFrame, Seq[String], Seq[String], Boolean),
      chunkBytesQuota: Long): Unit =
    if (chunkBytesQuota > 0L) {
      val (joined, dataCols, _, overlaps) = pr
      val bytes = if (!overlaps) 0L
        else joined.agg(coalesce(sum(dataCols
            .map(c => length(col(c)).cast("long")).reduce(_ + _)), lit(0L)))
          .head().getLong(0)
      if (bytes > chunkBytesQuota)
        throw new graft.tsdb.QuotaExceededException(
          s"select would fetch $bytes encoded chunk bytes " +
            s"(quota $chunkBytesQuota)")
    }

  /** The shared front half: matcher pushdown on the labels file,
    * window → data-column pruning, and the row-index broadcast join.
    * Nothing is decoded yet.
    */
  private def pruned(f: ShardFooters, mintMs: Long,
      maxtMs: Long, matchers: Seq[Matcher])
      : (DataFrame, Seq[String], Seq[String], Boolean) = {
    require(maxtMs > mintMs, s"empty range [$mintMs, $maxtMs)")
    val m = f.meta
    val names = f.labelNames

    val labels = f.labels.select(
      (names.map(n => col(labelToColumn(n)).as(n)) ++ shardRow("labels")): _*)
    val matched = Matcher.compile(matchers)
      .map(labels.filter).getOrElse(labels)

    // data columns overlapping the query range (ReadSchema pruning).
    // Clamp in LONG before narrowing: an open-ended bound like
    // Long.MaxValue would wrap dataColumnIdx's Int and silently
    // empty the select.
    def colIdxClamped(t: Long): Int =
      if (t < m.mintMs) 0
      else math.min((t - m.mintMs) / m.colDurationMs,
        (m.numCols - 1).toLong).toInt
    val lo = colIdxClamped(mintMs)
    val hi = colIdxClamped(maxtMs - 1)
    val overlaps = mintMs <= m.maxtMs && maxtMs > m.mintMs && lo <= hi
    val dataCols = if (overlaps) (lo to hi).map(dataColumn) else Seq(dataColumn(0))

    val chunks = f.chunks
      .select((dataCols.map(col) ++ shardRow("chunks")): _*)

    (chunks.join(broadcast(matched), Seq("_shard", "_row"))
      .filter(lit(overlaps)), dataCols, names, overlaps)
  }

  private def selectImpl(f: ShardFooters, mintMs: Long,
      maxtMs: Long, matchers: Seq[Matcher],
      decode: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      sampleOutput: Seq[org.apache.spark.sql.Column],
      tsCol: String): DataFrame =
    selectImplFrom(pruned(f, mintMs, maxtMs, matchers),
      mintMs, maxtMs, decode, sampleOutput, tsCol)

  private def selectImplFrom(
      pr: (DataFrame, Seq[String], Seq[String], Boolean),
      mintMs: Long, maxtMs: Long,
      decode: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      sampleOutput: Seq[org.apache.spark.sql.Column],
      tsCol: String): DataFrame = {
    val (joined, dataCols, names, _) = pr
    val decoded = dataCols.map(c => decode(col(c)))
    val allSamples = if (decoded.size == 1) decoded.head else concat(decoded: _*)
    joined
      .select((names.map(col) :+ explode(allSamples).as("_s")): _*)
      .filter(col("_s.ts") >= mintMs && col("_s.ts") < maxtMs)
      .select((names.map(col) :+
        timestamp_millis(col("_s.ts")).as(tsCol)) ++ sampleOutput: _*)
  }
}
