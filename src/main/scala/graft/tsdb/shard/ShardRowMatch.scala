package graft.tsdb.shard

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.column.page.PageReadStore
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate, Operators}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.internal.column.columnindex.OffsetIndex
import org.apache.parquet.internal.filter2.columnindex.ColumnIndexStore.MissingOffsetIndexException
import org.apache.parquet.internal.filter2.columnindex.RowRanges
import org.apache.parquet.io.InputFile
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeSeq, BasePredicate, BindReferences, GenericInternalRow, Predicate}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.tsdb.{GraftFormatException, Matcher}
import ParquetShardSchema.{labelToColumn, DataColSizeMd, FamilyMaskMd, MaxTMd, MinTMd}

/** Phase 1 of a shard select, on the driver with no Spark job: the
  * matchers become the matched rows of each shard's labels file, with
  * their label values (search/constraint.go → rowrange.go).
  *
  * Each labels file is opened with parquet-java and read twice, each
  * time only the columns needed:
  *   1. the columns the matchers name, of the row groups and pages
  *      that survive the `=`/set matchers as a parquet
  *      `FilterPredicate` (statistics, dictionaries, bloom filters,
  *      column index). Every surviving row is re-checked with the
  *      exact predicate `Matcher.compile` builds, resolved against the
  *      label columns and evaluated as an interpreted Catalyst
  *      predicate, so the semantics are the ones every other select
  *      path applies;
  *   2. the output label columns, of the matched rows only.
  */
private[shard] object ShardRowMatch {

  /** The matchers' exact predicate, bound to the file columns it
    * reads (`cols`, in that order). */
  final case class Compiled(cols: Seq[String], predicate: BasePredicate)

  /** Resolves `Matcher.compile(matchers)` against the label columns
    * `names`; None when every row matches. Throws as a select always
    * has on a bad regex or an unknown label. */
  def compile(spark: SparkSession, names: Seq[String],
      matchers: Seq[Matcher]): Option[Compiled] =
    Matcher.compile(matchers).map { c =>
      val labels = spark.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType(names.map(StructField(_, StringType))))
      val cond = labels.filter(c).queryExecution.analyzed
        .collectFirst { case Filter(e, _) => e }.get
      val refs = cond.references.toSeq.sortBy(_.name)
      val p = Predicate.createInterpreted(
        BindReferences.bindReference(cond, AttributeSeq(refs)))
      p.initialize(0)
      Compiled(refs.map(a => labelToColumn(a.name)), p)
    }

  private val ShardFile = "^(\\d+)\\.(labels|chunks)\\.parquet$".r

  /** The shard files of `dir`, keyed by (shard, "labels" | "chunks"). */
  private def listShards(conf: Configuration, dir: String): Map[(Int, String), FileStatus] = {
    val root = new Path(dir)
    root.getFileSystem(conf).listStatus(root).toSeq.flatMap { st =>
      st.getPath.getName match {
        case ShardFile(n, kind) => Some((n.toInt, kind) -> st)
        case _ => None
      }
    }.toMap
  }

  /** Footer keys every labels file of a dir shares with shard 0's:
    * a dir's bounds, grid and writer are read from shard 0 alone. */
  private val SharedFooterKeys = Seq(MinTMd, MaxTMd, DataColSizeMd, FamilyMaskMd)

  /** The rows of the shard dir `dir` that `predicate` matches, with
    * the values of the label columns `names`. `matchers` only prune:
    * the `=`/set ones become the parquet filter. A chunks file with no
    * labels file beside it fails every read of the dir, and so does a
    * labels file whose footer minT, maxT, column duration or writer
    * key differs from shard 0's. */
  def resolve(spark: SparkSession, dir: String, names: Seq[String],
      matchers: Seq[Matcher], predicate: Option[Compiled]): MatchedSeries = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = listShards(conf, dir)
    files.keys.collect { case (s, "chunks") if !files.contains((s, "labels")) => s }
      .minOption.foreach(s => throw new IllegalStateException(
        s"$dir: shard $s has a chunks file and no labels file"))
    val filter = predicate.flatMap(_ => pushable(matchers, names.toSet))
    val dicts = names.map(_ => new java.util.HashMap[String, Integer]())
    var shard0: (String, Seq[String]) = null
    val shards = files.keys.collect { case (s, "labels") => s }.toSeq.sorted
      .flatMap { s =>
        val labels = files((s, "labels"))
        val (rows, values, nRows, kv) = readLabels(conf, labels, filter, predicate,
          names.map(labelToColumn))
        val shared = SharedFooterKeys.map(kv.get)
        def show(vs: Seq[String]) =
          SharedFooterKeys.zip(vs).map { case (k, v) => s"$k=$v" }.mkString(", ")
        if (shard0 == null) shard0 = (labels.getPath.getName, shared)
        else if (shared != shard0._2)
          throw new GraftFormatException(labels.getPath.toString,
            s"footer (${show(shared)}) differs from ${shard0._1}'s " +
              s"(${show(shard0._2)}): the shards of one dir share one time " +
              "range, column duration and writer")
        if (rows.isEmpty) None
        else Some(new MatchedShard(s, nRows, files.get((s, "chunks")).orNull, rows,
          values.zip(dicts).map { case (vs, d) =>
            vs.map(v => if (v == null) -1 else d.computeIfAbsent(v, _ => d.size)) }))
      }
    new MatchedSeries(
      dicts.map { d =>
        val a = new Array[String](d.size)
        d.forEach((v, i) => a(i) = v)
        a
      }.toArray,
      shards.toArray)
  }

  /** Row-group and page pruning from the `=` and set matchers on label
    * columns the files hold; the exact predicate re-checks every row
    * that survives it. An absent label reads as "", so "" also admits
    * nulls. */
  private def pushable(matchers: Seq[Matcher],
      names: Set[String]): Option[FilterPredicate] = {
    def oneOf(label: String, values: Seq[String]): FilterPredicate = {
      val c = FilterApi.binaryColumn(labelToColumn(label))
      def eq(v: Binary): FilterPredicate =
        FilterApi.eq[Binary, Operators.BinaryColumn](c, v)
      values.distinct.map(v =>
        if (v.isEmpty) FilterApi.or(eq(null), eq(Binary.fromString("")))
        else eq(Binary.fromString(v))).reduce(FilterApi.or)
    }
    matchers.collect {
      case Matcher.Eq(l, v) if names(l) => Some(oneOf(l, Seq(v)))
      case Matcher.Re(l, p) if names(l) => Matcher.literalSet(p).map(oneOf(l, _))
    }.flatten.reduceOption(FilterApi.and)
  }

  /** One labels file: its matched rows (ascending), the values of
    * `outCols` on those rows (null = absent), its row count and its
    * footer's key-value metadata. */
  private def readLabels(conf: Configuration, labels: FileStatus,
      filter: Option[FilterPredicate], predicate: Option[Compiled],
      outCols: Seq[String])
      : (Array[Long], Seq[Array[String]], Long, java.util.Map[String, String]) = {
    val file = HadoopInputFile.fromStatus(labels, conf)
    // pass 1: (first row of the row group, its matching rows) per row
    // group the filter's statistics, dictionaries and bloom filters kept
    val (footer, hits) = {
      val reader = ParquetFileReader.open(file, HadoopReadOptions.builder(conf)
        .withRecordFilter(filter.fold(FilterCompat.NOOP)(FilterCompat.get)).build())
      try {
        val md = reader.getFooter.getFileMetaData
        (reader.getFooter, reader.getRowGroups.asScala.toSeq.zipWithIndex.map {
          case (block, b) =>
            def every = Array.range(0, block.getRowCount.toInt).map(_.toLong)
            block.getRowIndexOffset -> (predicate match {
              case None => every
              case Some(Compiled(Seq(), p)) =>
                if (p.eval(InternalRow.empty)) every else Array.emptyLongArray
              case Some(Compiled(cols, p)) =>
                reader.setRequestedSchema(project(md.getSchema, cols))
                Option(reader.readFilteredRowGroup(b)).fold(Array.emptyLongArray) { pages =>
                  val (idx, vals) = readColumns(pages, project(md.getSchema, cols),
                    md.getCreatedBy, v => UTF8String.fromBytes(v.getBytes))
                  val row = new GenericInternalRow(cols.length)
                  idx.indices.filter { i =>
                    cols.indices.foreach(j => row.update(j, vals(j)(i)))
                    p.eval(row)
                  }.map(idx).toArray
                }
            })
        }.filter(_._2.nonEmpty))
      } finally reader.close()
    }
    val md = footer.getFileMetaData
    val present = outCols.filter(md.getSchema.containsField)
    val matched = hits.flatMap { case (first, rows) => rows.map(_ + first) }.toArray
    // pass 2: the output columns of the matched rows. A reader of its
    // own, unfiltered: parquet-java caches a row group's page index for
    // the columns of its first filtered read.
    val values = if (matched.isEmpty || present.isEmpty) present.map(_ => Array.empty[String])
      else {
        val reader = ParquetFileReader.open(file, footer,
          HadoopReadOptions.builder(conf).build(), file.newStream())
        try readRows(reader, present, matched, _.toStringUsingUTF8) finally reader.close()
      }
    val byCol = present.zip(values).toMap
    (matched, outCols.map(c => byCol.getOrElse(c, new Array[String](matched.length))),
      footer.getBlocks.asScala.map(_.getRowCount).sum, md.getKeyValueMetaData)
  }

  /** The values of the flat binary columns `cols` on `rows` (ascending
    * row numbers of the file `reader` reads, unfiltered), one array
    * per column in `rows` order, null where undefined. Only the pages
    * holding `rows` are read: each row group's rows become row ranges,
    * and a row group with no offset index is read whole. */
  def readRows[T: ClassTag](reader: ParquetFileReader, cols: Seq[String],
      rows: Array[Long], value: Binary => T): Seq[Array[T]] = {
    val md = reader.getFooter.getFileMetaData
    val schema = project(md.getSchema, cols)
    reader.setRequestedSchema(schema)
    val out = cols.map(_ => new Array[T](rows.length))
    var next = 0
    reader.getRowGroups.asScala.zipWithIndex.foreach { case (block, b) =>
      val (first, n) = (block.getRowIndexOffset, block.getRowCount)
      val from = next
      while (next < rows.length && rows(next) < first + n) next += 1
      if (next > from) {
        val inGroup = rows.slice(from, next).map(_ - first)
        val pages =
          if (inGroup.length == n) reader.readRowGroup(b)
          else try reader.readFilteredRowGroup(b, exactly(inGroup, n))
          catch { case _: MissingOffsetIndexException => reader.readRowGroup(b) }
        val (idx, vals) = readColumns(pages, schema, md.getCreatedBy, value)
        // a whole-row-group read (no offset index) holds every row
        val keep = if (idx.length == inGroup.length) idx.indices.toArray
          else { val at = idx.zipWithIndex.toMap; inGroup.map(at) }
        vals.zip(out).foreach { case (v, o) =>
          var i = 0
          while (i < keep.length) { o(from + i) = v(keep(i)); i += 1 }
        }
      }
    }
    out
  }

  private def project(schema: MessageType, cols: Seq[String]): MessageType =
    new MessageType(schema.getName, cols.map(c => schema.getFields.get(schema.getFieldIndex(c))): _*)

  /** Row ranges holding exactly `rows` (ascending, within a row group
    * of `rowCount` rows). Parquet builds row ranges from page row
    * spans, so each run of consecutive rows is posed as one span. */
  private def exactly(rows: Array[Long], rowCount: Long): RowRanges = {
    val runs = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    rows.foreach { r =>
      if (runs.nonEmpty && runs.last._2 + 1 == r) runs(runs.size - 1) = (runs.last._1, r)
      else runs += ((r, r))
    }
    val spans = new OffsetIndex {
      def getPageCount: Int = runs.size
      def getOffset(i: Int): Long = 0L
      def getCompressedPageSize(i: Int): Int = 0
      def getFirstRowIndex(i: Int): Long = runs(i)._1
      override def getLastRowIndex(i: Int, n: Long): Long = runs(i)._2
    }
    RowRanges.create(rowCount, java.util.stream.IntStream.range(0, runs.size).iterator(), spans)
  }

  /** The columns of `schema` (flat, binary) in one row group's pages:
    * the row indexes within the row group the pages hold, and one
    * array of values per column (null where undefined). */
  private def readColumns[T: ClassTag](pages: PageReadStore, schema: MessageType,
      createdBy: String, value: Binary => T): (Array[Long], Seq[Array[T]]) = {
    val store = new ColumnReadStoreImpl(pages, NoConversion, schema, createdBy)
    val n = pages.getRowCount.toInt
    val vals = schema.getColumns.asScala.toSeq.map { d =>
      val r = store.getColumnReader(d)
      val out = new Array[T](n)
      var i = 0
      while (i < n) {
        if (r.getCurrentDefinitionLevel == d.getMaxDefinitionLevel) out(i) = value(r.getBinary)
        r.consume()
        i += 1
      }
      out
    }
    val idx = pages.getRowIndexes.map[Array[Long]](it => Array.fill(n)(it.nextLong()))
      .orElseGet(() => Array.range(0, n).map(_.toLong))
    (idx, vals)
  }

  /** The column readers deliver values through `getBinary`; the
    * converters they are built with see none. */
  private object NoConversion extends GroupConverter {
    private val none = new PrimitiveConverter {}
    def getConverter(i: Int): Converter = none
    def start(): Unit = ()
    def end(): Unit = ()
  }
}

/** Phase 1's answer for one shard: its labels file's row count, its
  * chunks file as listed, and its matched rows with their label
  * values as codes into [[MatchedSeries.dicts]]. */
private[shard] final class MatchedShard(val shard: Int, val rowCount: Long,
    @transient val chunksStatus: FileStatus,
    val rows: Array[Long], val codes: Seq[Array[Int]]) extends Serializable {
  val listed: ListedChunks = ListedChunks(
    Option(chunksStatus).map(_.getPath.toString).orNull,
    Option(chunksStatus).fold(-1L)(_.getModificationTime),
    Option(chunksStatus).fold(-1L)(_.getLen), rowCount)
  /** The chunks file as phase 1 listed it; null when it is missing. */
  def chunks: String = listed.path
}

/** A chunks file as phase 1 listed it: its path, mtime and size, and
  * the row count of the labels file beside it. */
private[shard] final case class ListedChunks(path: String, mtimeMs: Long,
    size: Long, rows: Long) {

  /** Opens the file with parquet-java (through `wrap`) and throws unless
    * it is the one listed — same mtime, size and row count: one
    * generation's labels are never attached to another generation's
    * chunks. `op` names the read ("select", "merge") and `since` what
    * it did with the listing. */
  def open(conf: Configuration, op: String, since: String,
      wrap: InputFile => InputFile = identity): ParquetFileReader = {
    val file = new Path(path)
    val now = file.getFileSystem(conf).getFileStatus(file)
    val reader = ParquetFileReader.open(wrap(HadoopInputFile.fromStatus(now, conf)),
      HadoopReadOptions.builder(conf).build())
    val n = reader.getRecordCount
    if (now.getModificationTime != mtimeMs || now.getLen != size || n != rows) {
      reader.close()
      throw new IllegalStateException(s"$path changed after the $op $since " +
        s"(listed: mtime $mtimeMs ms, $size B, $rows rows; now: mtime " +
        s"${now.getModificationTime} ms, ${now.getLen} B, $n rows): its rows " +
        s"may no longer align with the labels read - run the $op again")
    }
    reader
  }
}

/** Phase 1's answer: the matched rows of every shard with at least
  * one, and the label values, dictionary-coded per label. It reaches
  * phase 2's tasks ([[ShardRowScan]]) as a broadcast value, so a task
  * carries only its handle. */
private[shard] final class MatchedSeries(val dicts: Array[Array[String]],
    val shards: Array[MatchedShard]) extends Serializable {
  def isEmpty: Boolean = shards.isEmpty

  /** Whether no two matched rows share their values of the labels at
    * positions `labels`. */
  def uniqueOn(labels: Seq[Int]): Boolean = {
    val seen = scala.collection.mutable.HashSet.empty[Seq[Int]]
    shards.forall(s => s.rows.indices.forall(i => seen.add(labels.map(s.codes(_)(i)))))
  }

  /** One row per matched series, one string per label. */
  def labelRows: Seq[Row] = shards.toSeq.flatMap { s =>
    s.rows.indices.map(i => Row.fromSeq(dicts.indices.map { j =>
      val c = s.codes(j)(i)
      if (c < 0) null else dicts(j)(c)
    }))
  }
}
