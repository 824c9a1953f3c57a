package graft.tsdb

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.InputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** MAINTENANCE-FREE label enumeration from parquet DICTIONARY pages —
  * the reference's `MaterializeAllLabelValues`
  * (search/materialize.go:358): a label column in a converted layout
  * is dictionary-encoded, so its distinct values already sit in one
  * tiny page per column chunk; reading ONLY footers + dictionary
  * pages answers `label_values` on COLD data — any shard as-written,
  * no [[LabelIndexStore]] layer to maintain. The maintained index
  * stays the hot-path shape (one row read per distinct pair, time-
  * bucket pruning); this is the zero-upkeep complement for data
  * nobody indexed.
  *
  * One metadata-sized pass on the driver, as shard reads plan from
  * footers: each file is opened once, its footer classifies it
  * (dictionary-complete vs needs-data-scan) from its EncodingStats,
  * and a dictionary-complete file's dictionary pages are read in that
  * same open. The driver dedupes and sorts the values into a local
  * relation — the whole answer for a dictionary-complete dir, with no
  * Spark job; the rest are data-scanned lazily by the answer frame.
  * Per good file the IO is footer + one dictionary page per row group,
  * asserted ≪ column size by [[dictionaryScanBytes]] and its spec.
  *
  * EXACTNESS: a dictionary is only the complete value set while
  * every data page of the chunk is dictionary-encoded; parquet
  * writers FALL BACK to plain encoding when a dictionary overflows.
  * Fallback files (or pages predating encoding stats) are detected
  * from the footer and routed to a normal Spark distinct-scan —
  * results never change, only bytes do (the same silent-fallback
  * convention as every other routing layer here). Columns whose
  * LOGICAL type is not string/plain-numeric (DATE, TIMESTAMP,
  * DECIMAL, unsigned ints…) also fall back: the raw path's
  * cast-to-string formats them, while a dictionary decode would
  * surface physical representations (days-since-epoch, unscaled
  * ints) — silently different strings.
  */
object DictionaryLabelScan {

  /** Distinct values of `column` across every parquet file under
    * `dir` (recursive), as sorted strings — ≡
    * `TsdbQueryable.labelValues(column)` on the same data.
    */
  def labelValues(spark: SparkSession, dir: String, column: String,
      limit: Int = 0): DataFrame = {
    val (dictValues, fallbackFiles) = planScan(spark, dir, column)
    // dictionaries are metadata-sized: the driver dedupes and sorts
    // them (UTF-8 byte order, as Spark sorts strings) into a local
    // relation
    val sorted = dictValues.distinct.map(UTF8String.fromString).toArray
    java.util.Arrays.sort(sorted.asInstanceOf[Array[AnyRef]])
    def local(vs: Seq[UTF8String]): DataFrame = spark.createDataFrame(
      vs.map(v => Row(v.toString)).asJava,
      StructType(Seq(StructField("label_value", StringType))))
    if (fallbackFiles.isEmpty) local(if (limit > 0) sorted.take(limit) else sorted)
    else {
      val base = local(sorted).unionByName(
        spark.read.parquet(fallbackFiles.toIndexedSeq: _*)
          .select(col(column).cast("string").as("label_value"))
          .filter(col("label_value").isNotNull))
        .distinct().orderBy("label_value")
      if (limit > 0) base.limit(limit) else base
    }
  }

  /** Label NAMES with at least one value, from footers alone — the
    * reference's `MaterializeAllLabelNames` shape applied cold: a
    * column exists in a file's self-describing schema, and its
    * chunks' statistics say whether any value is non-null, so no
    * page is ever read. Columns map through `nameOf` (identity for a
    * raw layout; strip the `l_` prefix for wide/shard layouts via
    * [[graft.tsdb.shard.ParquetShardSchema.extractLabelFromColumn]]).
    * One distributed footer pass; the name set is metadata-sized.
    */
  def labelNames(spark: SparkSession, dir: String,
      nameOf: String => Option[String] = Some(_)): Seq[String] = {
    val files = listParquetFiles(spark, dir)
    if (files.isEmpty) return Nil
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    // per (file, column): PROVEN present (some chunk's stats show a
    // non-null value), proven absent (every chunk all-null), or
    // UNKNOWN (stats missing/unset in some chunk and not proven
    // elsewhere). Unknown columns fall back to a bounded data probe —
    // the same silent-fallback convention as [[labelValues]]; stats-
    // less foreign files must not report all-null labels the raw
    // scan would exclude.
    val statuses = spark.sparkContext
      .parallelize(files, tasksFor(spark, files.size))
      .mapPartitions { paths =>
        paths.flatMap { p =>
          val r = open(HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(p), conf.value), conf.value)
          try {
            val footer = r.getFooter
            footer.getFileMetaData.getSchema.getFields.asScala.toList
              .map(_.getName).map { c =>
                val chunks = footer.getBlocks.asScala
                  .flatMap(_.getColumns.asScala)
                  .filter(_.getPath.toDotString == c)
                val proven = chunks.exists(cc =>
                  cc.getStatistics != null &&
                    cc.getStatistics.isNumNullsSet &&
                    cc.getStatistics.getNumNulls < cc.getValueCount)
                val unknown = !proven && chunks.exists(cc =>
                  cc.getStatistics == null ||
                    !cc.getStatistics.isNumNullsSet)
                (c, if (proven) 2 else if (unknown) 1 else 0, p)
              }
          } finally r.close()
        }
      }.collect().toSeq
    val proven = statuses.collect { case (c, 2, _) => c }.toSet
    val unknownByFile = statuses
      .collect { case (c, 1, p) if !proven(c) => (p, c) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    // only stats-less foreign files reach here (graft's writer always
    // records null counts). ONE batched job over all of them
    // (mergeSchema unions their schemas): a column is present iff any
    // such file holds a non-null value — per-file scoping added
    // nothing (a file where the column is absent, or proven all-null
    // by stats, contributes zero to the count) and cost O(files)
    // sequential driver-blocking Spark jobs.
    val probed: Set[String] = if (unknownByFile.isEmpty) Set.empty else {
      val paths = unknownByFile.keys.toSeq
      val cols = unknownByFile.values.flatten.toSeq.distinct
      val row = spark.read.option("mergeSchema", "true").parquet(paths: _*)
        .agg(count(lit(1)),
          cols.map(c => count(col(s"`$c`")).as(c)): _*)
        .head()
      cols.zipWithIndex.collect {
        case (c, i) if row.getLong(i + 1) > 0 => c
      }.toSet
    }
    (proven ++ probed).toSeq.flatMap(nameOf(_)).distinct.sorted
  }

  /** The IO attestation for the spec: run the same dictionary
    * extraction over every file with a byte-counting stream, and
    * return (bytesRead, totalColumnChunkBytes, fileBytes) — the
    * dictionary path must cost a small fraction of the column.
    */
  def dictionaryScanBytes(spark: SparkSession, dir: String,
      column: String): (Long, Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    var read = 0L
    var columnBytes = 0L
    var fileBytes = 0L
    listParquetFiles(spark, dir).foreach { p =>
      val hif = HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p), conf)
      val counting = new CountingInputFile(hif)
      fileDictionaryValues(counting, column, conf)
      read += counting.bytesRead
      fileBytes += hif.getLength
      val r = open(hif, conf)
      try {
        r.getFooter.getBlocks.asScala.foreach { b =>
          b.getColumns.asScala
            .filter(_.getPath.toDotString == column)
            .foreach(c => columnBytes += c.getTotalSize)
        }
      } finally r.close()
    }
    (read, columnBytes, fileBytes)
  }

  /** The planning pass, on the driver as shard reads plan: one open
    * per file reads its footer and, when the footer shows the
    * dictionary pages are the complete value set, those pages.
    * Returns (the dictionary values, the files that need a data scan).
    * Files without the column, or with only nulls in it, contribute
    * nothing.
    */
  private def planScan(spark: SparkSession, dir: String,
      column: String): (Seq[String], Seq[String]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val classified = listParquetFiles(spark, dir).map { p =>
      val r = open(HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p), conf), conf)
      try (p, dictionaryValues(r, column)) finally r.close()
    }
    (classified.flatMap(_._2.getOrElse(Nil)), classified.collect { case (p, None) => p })
  }

  /** Opens `input` with read options from `conf`: without them
    * parquet-java builds a fresh Hadoop `Configuration` per open,
    * which costs far more than reading a footer. */
  private def open(input: InputFile, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(input, HadoopReadOptions.builder(conf).build())

  private def tasksFor(spark: SparkSession, n: Int): Int =
    math.max(1, math.min(n, spark.sparkContext.defaultParallelism))

  /** The row groups whose `column` chunk holds values, when the
    * dictionary pages ARE the complete value set of `column` in the
    * file `footer` describes; None when a data scan is needed: a type
    * with no faithful dictionary decode, a row group without the
    * column, or a chunk with non-dictionary (plain fallback) pages or
    * no encoding stats. A file without the column gives Some(Nil).
    */
  private def dictionaryBlocks(footer: ParquetMetadata,
      column: String): Option[Seq[BlockMetaData]] = {
    val schema = footer.getFileMetaData.getSchema
    if (!schema.getFields.asScala.exists(_.getName == column)) return Some(Nil)
    if (!decodableLogicalType(schema.getColumnDescription(Array(column)).getPrimitiveType))
      return None
    val blocks = footer.getBlocks.asScala.toSeq
    val chunks = blocks.map(_.getColumns.asScala.find(_.getPath.toDotString == column))
    if (chunks.exists(_.isEmpty)) return None
    val withValues = blocks.zip(chunks.flatten).filterNot { case (_, cc) =>
      cc.getStatistics != null && cc.getStatistics.isNumNullsSet &&
        cc.getStatistics.getNumNulls == cc.getValueCount
    }
    if (withValues.exists { case (_, cc) =>
        cc.getEncodingStats == null || cc.getEncodingStats.hasNonDictionaryEncodedPages })
      None
    else Some(withValues.map(_._1))
  }

  /** Only types whose dictionary decode prints the SAME string the
    * raw path's cast-to-string would: plain strings and plain signed
    * numerics. DATE/TIMESTAMP/DECIMAL/enum/unsigned carry logical
    * types the cast FORMATS — those files data-scan instead.
    */
  private def decodableLogicalType(
      t: org.apache.parquet.schema.PrimitiveType): Boolean = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val ann = t.getLogicalTypeAnnotation
    t.getPrimitiveTypeName match {
      case BINARY =>
        ann == null ||
          ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
      case INT32 | INT64 =>
        ann == null || (ann match {
          case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
          case _ => false
        })
      case DOUBLE | FLOAT => ann == null
      case _ => false // BOOLEAN/INT96/FLBA: no faithful dictionary path
    }
  }

  private def listParquetFiles(spark: SparkSession,
      dir: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (name.endsWith(".parquet") && !name.startsWith("_") &&
          !name.startsWith("."))
        out += f.getPath.toString
    }
    out.toSeq.sorted
  }

  /** Dictionary entries of `column` in one file, decoded to strings —
    * None when the planning predicate ([[dictionaryBlocks]]) does not
    * hold for this file. A file without the column (or with only-null
    * chunks) contributes no values.
    */
  private def fileDictionaryValues(input: InputFile,
      column: String, conf: Configuration): Option[Seq[String]] = {
    val reader = open(input, conf)
    try dictionaryValues(reader, column) finally reader.close()
  }

  /** [[fileDictionaryValues]] of the file `reader` has open; None also
    * when a row group's chunk has no dictionary page. */
  private def dictionaryValues(reader: ParquetFileReader,
      column: String): Option[Seq[String]] =
    dictionaryBlocks(reader.getFooter, column).flatMap { blocks =>
      lazy val desc = reader.getFooter.getFileMetaData.getSchema
        .getColumnDescription(Array(column))
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      blocks.foreach { block =>
        // widen to the public interface: parquet-java's concrete
        // DictionaryPageReader class is package-private
        val store: org.apache.parquet.column.page.DictionaryPageReadStore =
          reader.getDictionaryReader(block)
        val page = store.readDictionaryPage(desc)
        if (page == null) return None
        val dict = page.getEncoding.initDictionary(desc, page)
        import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
        var i = 0
        while (i <= dict.getMaxId) {
          out += (desc.getPrimitiveType.getPrimitiveTypeName match {
            case BINARY => dict.decodeToBinary(i).toStringUsingUTF8
            case INT64 => dict.decodeToLong(i).toString
            case INT32 => dict.decodeToInt(i).toString
            case DOUBLE => dict.decodeToDouble(i).toString
            case FLOAT => dict.decodeToFloat(i).toString
            case _ => return None
          })
          i += 1
        }
      }
      Some(out.toSeq)
    }
}
