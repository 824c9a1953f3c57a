package graft.tsdb.shard

import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.graft.{SqlBridge, TaskHadoopConf, TaskInputMetrics}
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.tsdb.CountingInputFile

/** Phase 2 of a shard select: the matched rows phase 1 listed, read by
  * row range in graft's own tasks (search/rowrange.go →
  * materialize.go), as the merges read their inputs ([[ShardMerge]]).
  *
  * The driver sizes the read from each matched shard's chunks footer:
  * the matched rows of one row group are one piece, costed at the
  * bytes of that row group's in-range `s_data_<i>` column chunks. The
  * pieces are packed in file order into splits of Spark's own split
  * size (`FilePartition.maxSplitBytes` over the bytes the select
  * reads: `spark.sql.files.maxPartitionBytes`, `openCostInBytes`, the
  * default parallelism). Spark charges the open cost again per file
  * when it packs whole files; a piece is a row range the driver has
  * already resolved, so the pieces pack by their bytes alone and a
  * small select, even one across shards, is one split.
  *
  * Each task opens the chunks files of its split one at a time, each
  * checked against phase 1's listing (the select's "changed after"
  * error), reads exactly its rows' in-range cells
  * ([[ShardRowMatch.readRows]]: the pages that hold them, or a row
  * group without an offset index whole), and adds the bytes
  * parquet-java asked for and the rows to the task's input metrics.
  */
private[shard] object ShardRowScan {

  /** The matched rows `[from, until)` of `MatchedSeries.shards(shard)`,
    * all in one row group of its chunks file; `bytes` are that row
    * group's in-range data column chunks. */
  final case class Piece(shard: Int, from: Int, until: Int, bytes: Long)

  /** The rows of `matched` as a frame: `_l` (the labels, a struct of
    * `labelsType`) and the cells of `dataCols`, undecoded. One split
    * gives a single-partition plan; the plan's size estimate is the
    * bytes the select reads. Opens each matched shard's chunks footer
    * once ([[ParquetShardStore.alignedChunks]]) and starts no job. */
  def frame(spark: SparkSession, dir: String, matched: MatchedSeries,
      labelsType: StructType, dataCols: Seq[String]): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val inRange = dataCols.toSet
    val pieces = matched.shards.indices.flatMap { k =>
      val s = matched.shards(k)
      val footer = ParquetShardStore.alignedChunks(conf, dir, s.shard, s.rowCount,
        s.chunksStatus)
      var next = 0
      footer.getBlocks.asScala.flatMap { block =>
        val from = next
        val end = block.getRowIndexOffset + block.getRowCount
        while (next < s.rows.length && s.rows(next) < end) next += 1
        if (next == from) None
        else Some(Piece(k, from, next, block.getColumns.asScala
          .filter(c => inRange(c.getPath.toDotString)).map(_.getTotalSize).sum))
      }
    }
    val bytes = pieces.map(_.bytes).sum
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val total: Long = bytes + openCost * matched.shards.length
    val maxSplit = FilePartition.maxSplitBytes(spark, total)
    val rdd = new ShardRowsRDD(spark.sparkContext, spark.sparkContext.broadcast(matched),
      matched.shards.map(_.chunks).toSeq, dataCols, pack(pieces, maxSplit))
    val schema = StructType(StructField("_l", labelsType) +:
      dataCols.map(StructField(_, BinaryType)))
    SqlBridge.dataFrame(spark, rdd, schema, sizeInBytes = math.max(1L, bytes))
  }

  /** `pieces` in order, cut into splits of at most `maxSplit` bytes (a
    * larger piece is a split of its own). */
  private def pack(pieces: Seq[Piece], maxSplit: Long): Array[Array[Piece]] = {
    val splits = Array.newBuilder[Array[Piece]]
    val cur = Array.newBuilder[Piece]
    var (size, n) = (0L, 0)
    pieces.foreach { p =>
      if (n > 0 && size + p.bytes > maxSplit) {
        splits += cur.result(); cur.clear(); size = 0L; n = 0
      }
      cur += p; size += p.bytes; n += 1
    }
    if (n > 0) splits += cur.result()
    splits.result()
  }

  private[shard] final class Split(val index: Int, val pieces: Array[Piece]) extends Partition
}

/** The rows of a shard select's splits ([[ShardRowScan]]). `files` are
  * the chunks files the select reads and `dataCols` the columns it
  * requests, both in the RDD's name, so the plan says what it reads. */
private[graft] final class ShardRowsRDD private[shard] (sc: SparkContext,
    matched: Broadcast[MatchedSeries], val files: Seq[String], val dataCols: Seq[String],
    splits: Array[Array[ShardRowScan.Piece]]) extends RDD[InternalRow](sc, Nil) {
  import ShardRowScan._

  setName({
    val names = files.map(new Path(_).getName)
    val shown = if (names.size <= 8) names else names.take(8) :+ s"... ${names.size} files"
    s"shard rows of ${new Path(files.head).getParent} ${shown.mkString("[", ", ", "]")}" +
      s" ${dataCols.mkString("[", ", ", "]")}"
  })

  override protected def getPartitions: Array[Partition] =
    splits.zipWithIndex.map { case (ps, i) => new Split(i, ps) }

  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
    val m = matched.value
    val pieces = split.asInstanceOf[Split].pieces
    val conf = TaskHadoopConf.conf
    // a split's pieces are in file order: one file is open at a time,
    // checked against phase 1's listing before any of its rows is read
    val read = new AtomicLong
    var (shard, reader) = (-1, null: ParquetFileReader)
    context.addTaskCompletionListener[Unit](_ => if (reader != null) reader.close())
    // label values as UTF8String, each converted once per task
    val values = m.dicts.map(d => new Array[UTF8String](d.length))
    def label(j: Int, code: Int): UTF8String =
      if (code < 0) null
      else {
        if (values(j)(code) == null) values(j)(code) = UTF8String.fromString(m.dicts(j)(code))
        values(j)(code)
      }
    pieces.iterator.flatMap { p =>
      val s = m.shards(p.shard)
      if (p.shard != shard) {
        if (reader != null) { reader.close(); reader = null }
        reader = s.listed.open(conf, "select", "resolved its matchers",
          new CountingInputFile(_, read))
        shard = p.shard
      }
      val rows = java.util.Arrays.copyOfRange(s.rows, p.from, p.until)
      val cells = ShardRowMatch.readRows(reader, dataCols, rows, _.getBytes)
      TaskInputMetrics.add(read.getAndSet(0L), rows.length)
      rows.indices.iterator.map { i =>
        val out = new Array[Any](1 + dataCols.length)
        out(0) = new GenericInternalRow(Array.tabulate[Any](m.dicts.length)(j =>
          label(j, s.codes(j)(p.from + i))))
        var c = 0
        while (c < dataCols.length) { out(1 + c) = cells(c)(i); c += 1 }
        new GenericInternalRow(out)
      }
    }
  }
}
