package graft.tsdb.shard

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.functions.SampleRuns
import graft.tsdb.{ChunkCodec, ChunkencHistCodec}
import ParquetShardSchema.dataColumn
import ParquetShardStore.{ShardFooters, ShardLayout, SliceEncoder}

/** A shard merge ([[ParquetShardStore.mergeShards]],
  * [[ParquetShardStore.mergeShardsHist]]) planned on the driver and run
  * as one Spark job — the reference's k-way merge of label-sorted
  * series sets (convert/merge.go), reading rows by row range
  * (search/rowrange.go → materialize.go):
  *   1. on the driver ([[ShardMerge.plan]]), each input's phase 1
  *      ([[ShardRowMatch.resolve]], no matchers) lists every series
  *      row with its labels, and each shard's chunks footer must agree
  *      on the row count. The union of those rows is sorted in the
  *      output order — the label names' order, an absent label first,
  *      values in UTF-8 byte order, what a Spark sort of the label
  *      columns gives — and the rows of one label set become one
  *      output series, its input rows in priority order (input
  *      position, shard, row). The series are cut into `shards`
  *      contiguous ranges whose series counts differ by at most 1;
  *   2. one task per output shard ([[write]]) checks each input chunks
  *      file it reads against phase 1's listing, reads exactly its
  *      rows' `s_data_<i>` cells with parquet-java row ranges
  *      ([[ShardRowMatch.readRows]]), decodes them, merges each
  *      series' runs by the [[SampleRuns]] rule (the later input wins;
  *      within an input, its last sample at a ts) and writes the shard
  *      through the write tail ([[ParquetShardStore.writeShard]]).
  * A merge of graft-written inputs runs no SQL plan, no shuffle and no
  * checkpoint: their footers give the bounds. A pre-pass job over the
  * same tasks runs only for inputs without graft's writer key (their
  * exact bounds and chunk families) and for a histogram merge (the
  * chunks' schema and bound list, from the chunk headers). Every
  * refusal is thrown on the driver before any file of the output dir
  * is touched.
  */
private[graft] final class ShardMerge private (spark: SparkSession,
    dirs: Seq[String], names: Seq[String], keyed: Seq[Boolean],
    footerBounds: Option[(Long, Long)], tasks: Seq[ShardMerge.Task],
    family: ShardMerge.Family) {
  import ShardMerge._

  /** Runs the pre-pass if one is needed, refuses inputs whose families
    * or schemas do not match, then writes `outDir`'s shards in one job. */
  def write(outDir: String, colDurationMs: Long, bloomFilterLabels: Seq[String]): Unit = {
    val sc = spark.sparkContext
    val conf = new SerializableConfiguration(sc.hadoopConfiguration)
    val (fam, inputs) = (family, dirs.size)
    val needBounds = footerBounds.isEmpty
    val pre = if (!needBounds && !fam.checksSchemas) PrePass.empty(inputs)
      else sc.parallelize(tasks, tasks.size)
        .map(t => prePass(t, fam, conf.value, needBounds, inputs))
        .collect().foldLeft(PrePass.empty(inputs))(_ merge _)
    dirs.indices.filterNot(keyed).foreach(i => requireFamily(dirs(i), pre.masks(i), fam))
    val schema = if (!fam.checksSchemas) None else {
      require(pre.schemas.nonEmpty, "cannot merge empty shard inputs")
      require(pre.schemas.size == 1,
        s"inputs mix ${pre.schemas.size} (schema, bounds) families — merge " +
          "one metric family at a time")
      pre.schemas.headOption
    }
    val (mintMs, maxtMs) = footerBounds.getOrElse {
      require(pre.lo <= pre.hi, "cannot write an empty shard set")
      (pre.lo, pre.hi)
    }
    val layout = ShardLayout(names, mintMs, maxtMs, colDurationMs,
      rowGroupSize = 1L << 20, bloomFilterLabels, fam.encoder(schema), fam.mask,
      fam.sampleFields)
    ParquetShardStore.clearShards(spark, outDir)
    sc.parallelize(tasks, tasks.size).foreach { t =>
      withInputs(t, conf.value) { readers =>
        ParquetShardStore.writeShard(outDir, t.shard, layout, conf.value,
          mergedSeries(t, readers, fam))
      }
    }
  }
}

private[graft] object ShardMerge {

  /** What a merge may hold and how it decodes and re-encodes it. */
  sealed abstract class Family(val mask: Int, val what: String,
      val decodedFields: Int, val sampleFields: Int) extends Serializable {
    /** Every sample of the family in one cell, structs of
      * `decodedFields` fields, field 0 the ms ts. */
    def decode(cell: Array[Byte]): ArrayData
    /** Merged samples as the encoder takes them. */
    def toWrite(samples: ArrayData): ArrayData = samples
    /** Whether every chunk's (schema, bound list) must agree. */
    def checksSchemas: Boolean = false
    def encoder(schema: Option[(Int, Seq[Double])]): SliceEncoder
  }

  final case class Xor(samplesPerChunk: Int)
      extends Family(ParquetShardStore.XorFamily, "XOR (float-sample)", 2, 2) {
    def decode(cell: Array[Byte]): ArrayData =
      ChunkCodec.decodeToArrayData(cell, Long.MinValue, Long.MaxValue)
    def encoder(schema: Option[(Int, Seq[Double])]): SliceEncoder =
      ParquetShardStore.xorEncoder(samplesPerChunk)
  }

  final case class Hist(samplesPerChunk: Int, gauge: Boolean)
      extends Family(ParquetShardStore.HistFamily, "integer-histogram", 9, 7) {
    def decode(cell: Array[Byte]): ArrayData =
      ChunkencHistCodec.decodeToArrayData(cell, Long.MinValue, Long.MaxValue)
    /** Drops the decoded `schema` and `cv` fields. NHCB chunks carry
      * no negative side: their nidx/ncnt decode empty. */
    override def toWrite(samples: ArrayData): ArrayData =
      new GenericArrayData(Array.tabulate[Any](samples.numElements()) { i =>
        val s = samples.getStruct(i, 9)
        InternalRow(s.getLong(0), s.getLong(1), s.getArray(2), s.getArray(3),
          if (s.isNullAt(4)) null else s.getDouble(4), s.getArray(7), s.getArray(8))
      })
    override def checksSchemas: Boolean = true
    def encoder(schema: Option[(Int, Seq[Double])]): SliceEncoder = {
      val (histSchema, customValues) = schema.get
      ParquetShardStore.histEncoder(float = false, histSchema, samplesPerChunk,
        customValues, gauge)
    }
  }

  /** One input chunks file a task reads: its input's position, phase
    * 1's listing of it, and its data columns in window order. */
  final class TaskFile(val input: Int, val listed: ListedChunks,
      val dataCols: Array[String]) extends Serializable

  /** One output shard: the input chunks files it reads, and its series
    * in output order, each its label values (null = absent) and its
    * input rows in priority order, as `files` positions (`runFiles`)
    * and row numbers in those files (`runRows`). */
  final class Task(val shard: Int, val files: Array[TaskFile],
      val labels: Array[Array[String]], val runFiles: Array[Array[Int]],
      val runRows: Array[Array[Long]]) extends Serializable

  /** Input rows a task reads at a time: it holds the cells of one batch
    * of whole series, not of its whole shard. */
  private val BatchRows = 4096

  /** Plans the merge of `dirs` into `shards` output shards on the
    * driver: phase 1 of every input, the family check of every keyed
    * input, the output order, and the tasks. Starts no Spark job. */
  def plan(spark: SparkSession, dirs: Seq[String], shards: Int,
      family: Family): ShardMerge = {
    require(dirs.nonEmpty, "need at least one shard directory")
    require(shards > 0, s"shards must be positive, got $shards")
    val footers = dirs.map(new ShardFooters(spark, _))
    val names = footers.head.labelNames
    require(footers.forall(_.labelNames == names),
      "all inputs must share one label universe (the reference merges " +
        "blocks of one tenant/schema)")
    require(names.nonEmpty, "need at least one label column")
    val conf = spark.sparkContext.hadoopConfiguration
    val inputs = footers.map { f =>
      val matched = ShardRowMatch.resolve(spark, f.dir, names, Nil, None)
      matched.shards.foreach(s =>
        ParquetShardStore.alignedChunks(conf, f.dir, s.shard, s.rowCount, s.chunksStatus))
      // a graft writer records its family bitmask in the footer; the
      // cells of an input without it may mix families (the pre-pass)
      f.meta.familyMask.foreach(requireFamily(f.dir, _, family))
      matched
    }
    val metas = footers.map(_.meta)
    // a graft writer's footer bounds are its exact sample bounds, and
    // the merge keeps the union of the inputs' timestamps; a reference
    // or pre-key footer may be wider than its samples
    val bounds = if (!metas.forall(_.familyMask.isDefined)) None
      else Some((metas.map(_.mintMs).min, metas.map(_.maxtMs).max))

    // every label value of every input, ranked in UTF-8 byte order
    val values: Array[Array[String]] = names.indices.map { j =>
      val vs = inputs.flatMap(_.dicts(j)).distinct.map(UTF8String.fromString).toArray
      java.util.Arrays.sort(vs.asInstanceOf[Array[AnyRef]])
      vs.map(_.toString)
    }.toArray
    val rankOf = values.map(vs => vs.zipWithIndex.toMap)
    // input rows in priority order: (input, shard index, row)
    final case class InputRow(input: Int, shard: Int, row: Long, key: Array[Int])
    val rows = inputs.zipWithIndex.flatMap { case (m, i) =>
      val toRank = m.dicts.zip(rankOf).map { case (d, r) => d.map(r) }
      m.shards.indices.flatMap { s =>
        val sh = m.shards(s)
        sh.rows.indices.map(k => InputRow(i, s, sh.rows(k), Array.tabulate(names.size) { j =>
          val c = sh.codes(j)(k)
          if (c < 0) -1 else toRank(j)(c) // absent sorts first
        }))
      }
    }.toArray
    // stable: rows of one label set stay in priority order
    val sorted = rows.sortWith((a, b) => java.util.Arrays.compare(a.key, b.key) < 0)
    val series = groupRuns(sorted)(_.key)
    val dataCols = metas.map(m => Array.tabulate(m.numCols)(dataColumn))
    val tasks = cut(series.length, shards).zipWithIndex.map { case ((from, until), shard) =>
      val mine = series.slice(from, until)
      val files = mine.flatten.map(r => (r.input, r.shard)).distinct.sorted
      val fileAt = files.zipWithIndex.toMap
      new Task(shard,
        files.map { case (i, s) => new TaskFile(i, inputs(i).shards(s).listed, dataCols(i)) }
          .toArray,
        mine.map(rs => rs.head.key.zipWithIndex.map { case (r, j) =>
          if (r < 0) null else values(j)(r) }).toArray,
        mine.map(_.map(r => fileAt((r.input, r.shard))).toArray).toArray,
        mine.map(_.map(_.row).toArray).toArray)
    }
    new ShardMerge(spark, dirs, names, metas.map(_.familyMask.isDefined), bounds,
      tasks, family)
  }

  /** Consecutive elements of `xs` with equal keys, grouped in order. */
  private def groupRuns[T](xs: Array[T])(key: T => Array[Int]): IndexedSeq[IndexedSeq[T]] = {
    val out = IndexedSeq.newBuilder[IndexedSeq[T]]
    var start = 0
    while (start < xs.length) {
      var end = start + 1
      while (end < xs.length && java.util.Arrays.equals(key(xs(end)), key(xs(start)))) end += 1
      out += xs.slice(start, end).toIndexedSeq
      start = end
    }
    out.result()
  }

  /** `n` items cut into `parts` contiguous [from, until) ranges whose
    * sizes differ by at most 1. */
  private def cut(n: Int, parts: Int): Seq[(Int, Int)] = {
    def at(k: Int) = (k.toLong * n / parts).toInt
    (0 until parts).map(k => (at(k), at(k + 1)))
  }

  /** Loud-refusal guard for the family-specific merges: a reference-
    * written cell may MIX chunkenc families (a series that changed
    * sample type — one appender per family per column,
    * schema/encoder.go:75). The family's decode SKIPS foreign frames
    * by header, which is right for a select but silent DATA LOSS for a
    * merge that rewrites the shard: refuse instead, telling the
    * operator to merge one family at a time. */
  private def requireFamily(dir: String, got: Int, family: Family): Unit =
    if ((got & ~family.mask) != 0)
      throw new IllegalArgumentException(
        s"shard dir $dir holds chunkenc families beyond the ${family.what} " +
          s"merge's (family bitmask $got, allowed ${family.mask}): a " +
          "family-specific merge would silently drop the foreign " +
          "frames - merge one chunkenc family at a time")

  /** Runs `body` over a reader of each of the task's input chunks
    * files, each checked against phase 1's listing. */
  private def withInputs[T](task: Task, conf: Configuration)(
      body: Array[ParquetFileReader] => T): T = {
    val readers = new Array[ParquetFileReader](task.files.length)
    try {
      task.files.indices.foreach { k =>
        readers(k) = task.files(k).listed.open(conf, "merge", "listed its inputs")
      }
      body(readers)
    } finally readers.filter(_ != null).foreach(_.close())
  }

  /** Each series' input rows as their cells (the file's data columns in
    * window order, null = undefined), series by series. The rows are
    * read by row range in batches of whole series of at most
    * [[BatchRows]] rows (a larger series is a batch of its own). */
  private def seriesCells(task: Task, readers: Array[ParquetFileReader])
      : Iterator[Array[Array[Array[Byte]]]] = {
    val n = task.labels.length
    var next = 0
    Iterator.continually {
      val from = next
      var rows = 0
      while (next < n && (next == from || rows + task.runRows(next).length <= BatchRows)) {
        rows += task.runRows(next).length
        next += 1
      }
      (from, next)
    }.takeWhile { case (from, until) => from < until }.flatMap { case (from, until) =>
      // each file's rows in the batch, ascending, and their cells
      val byFile = (from until until).flatMap(i =>
          task.runFiles(i).indices.map(j => task.runFiles(i)(j) -> task.runRows(i)(j)))
        .groupBy(_._1).map { case (f, frs) =>
          val rows = frs.map(_._2).toArray.sorted
          val cols = ShardRowMatch.readRows(readers(f), task.files(f).dataCols.toSeq, rows,
            _.getBytes)
          f -> (rows, cols)
        }
      (from until until).iterator.map(i => task.runFiles(i).indices.map { j =>
        val (rows, cols) = byFile(task.runFiles(i)(j))
        val k = java.util.Arrays.binarySearch(rows, task.runRows(i)(j))
        cols.map(_(k)).toArray
      }.toArray)
    }
  }

  /** One input row's samples: its cells decoded, in window order. */
  private def decodeRow(cells: Array[Array[Byte]], family: Family): Array[InternalRow] = {
    val out = Array.newBuilder[InternalRow]
    cells.foreach { c =>
      if (c != null) {
        val a = family.decode(c)
        var k = 0
        while (k < a.numElements()) { out += a.getStruct(k, family.decodedFields); k += 1 }
      }
    }
    out.result()
  }

  /** A task's series, merged, in output order; a series with no sample
    * is dropped. */
  private def mergedSeries(task: Task, readers: Array[ParquetFileReader],
      family: Family): Iterator[(Array[String], ArrayData)] =
    seriesCells(task, readers).zipWithIndex.flatMap { case (cells, i) =>
      val merged = SampleRuns.mergeSorted(cells.map(decodeRow(_, family)))
      if (merged.numElements() == 0) None
      else Some((task.labels(i), family.toWrite(merged)))
    }

  /** What a merge must know before its write that footers cannot tell:
    * each input's chunk families, the samples' exact bounds (`lo` >
    * `hi` when there is none), and the histogram chunks' (schema,
    * bound list) set. */
  final case class PrePass(masks: Array[Int], lo: Long, hi: Long,
      schemas: Set[(Int, Seq[Double])]) {
    def merge(o: PrePass): PrePass = PrePass(masks.zip(o.masks).map { case (a, b) => a | b },
      math.min(lo, o.lo), math.max(hi, o.hi), schemas ++ o.schemas)
  }

  object PrePass {
    def empty(inputs: Int): PrePass =
      PrePass(new Array[Int](inputs), Long.MaxValue, Long.MinValue, Set.empty)
  }

  /** One task's [[PrePass]]: frame headers always, the samples only
    * when the bounds are asked for. */
  private def prePass(task: Task, family: Family, conf: Configuration,
      bounds: Boolean, inputs: Int): PrePass = withInputs(task, conf) { readers =>
    val masks = new Array[Int](inputs)
    var (lo, hi) = (Long.MaxValue, Long.MinValue)
    val schemas = Set.newBuilder[(Int, Seq[Double])]
    seriesCells(task, readers).zipWithIndex.foreach { case (runs, i) =>
      runs.indices.foreach { j =>
        val input = task.files(task.runFiles(i)(j)).input
        runs(j).filter(_ != null).foreach { c =>
          masks(input) |= ChunkCodec.frameFamilyMask(c)
          if (family.checksSchemas) schemas ++= ChunkencHistCodec.chunkSchemas(c)
          if (bounds) {
            val a = family.decode(c)
            var k = 0
            while (k < a.numElements()) {
              val t = a.getStruct(k, family.decodedFields).getLong(0)
              lo = math.min(lo, t); hi = math.max(hi, t)
              k += 1
            }
          }
        }
      }
    }
    PrePass(masks, lo, hi, schemas.result())
  }
}
