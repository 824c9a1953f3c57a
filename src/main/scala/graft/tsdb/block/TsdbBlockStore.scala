package graft.tsdb.block

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.SqlBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.tsdb.{ChunkCodec, Matcher}
import TsdbBlockFormat._

/** One decoded block sample: full label set, timestamp (ms), value. */
final case class TsdbSample(labels: Map[String, String], ts: Long,
    value: Double)

/** Distributed reader/writer for byte-level Prometheus TSDB blocks
  * ([[TsdbBlockFormat]]) — the ingestion seam the reference reaches
  * through `tsdb.OpenBlock` + `NewBlockChunkSeriesSet`
  * (convert/convert.go:348,500): a user migrating from the
  * reference points [[read]] / [[readHistLabels]] at a Prometheus
  * data directory and gets the same DataFrame shapes every graft
  * converter accepts. All three chunkenc families decode: XOR
  * floats (encoding 1, [[graft.tsdb.ChunkCodec.decodeChunk]]) and
  * integer/float native histograms (encodings 2/3,
  * [[ChunkencHistogram]]) — the same triple the reference's
  * converter iterates (schema/encoder.go:75-196).
  *
  * Scale design (the 100 TB story):
  *   - The BLOCK is the parallel unit — a Prometheus data dir at
  *     scale is thousands of 2h/24h blocks, far more than executor
  *     slots, so one task per (block, shard) saturates a cluster
  *     without any shuffle: reading is a pure narrow scan.
  *   - Within a block, `shardsPerBlock` splits the sorted postings
  *     list round-robin so a giant block parallelizes too; each
  *     shard re-reads only the (small) index, never another shard's
  *     chunk bytes — chunk segments are read lazily per referenced
  *     segment.
  *   - Matchers prune at the INDEX level before any chunk I/O:
  *     equality → its postings list, regex → the label-value list
  *     filtered then union'd, intersected across matchers
  *     (mirroring the reference's PostingsForMatchers path), then
  *     re-verified against the decoded labels so negations and
  *     regex subtleties stay exact.
  *   - Writing streams: rows arrive sorted by (block, labels, ts),
  *     chunks flush every `samplesPerChunk` samples, and only the
  *     index metadata (series entries + postings) is held in memory
  *     per block — the Prometheus compactor's own memory profile.
  *     Blocks build under a hidden temp name and RENAME into place,
  *     so a concurrent reader never sees a partial block.
  *
  * I/O goes through java.nio against the block path visible on the
  * task's host — local disks under local[*]; at cluster scale the
  * same paths point at a shared/POSIX mount (the deployment the
  * reference documents for its own converter input).
  */
object TsdbBlockStore {

  /** Prometheus tsdb.DefaultSamplesPerChunk. */
  final val DefaultSamplesPerChunk = 120

  // ---------------------------------------------------------------
  // write
  // ---------------------------------------------------------------

  /** Per-partition chunk buffer: extracts its columns from the
    * sorted InternalRow stream, buffers one open chunk, encodes on
    * flush. One instance per task, reused across series/blocks. */
  private trait SampleBuf {
    def encoding: Int
    def ts(r: InternalRow): Long
    /** 64-bit fold of the sample's VALUE content for the block's
      * deterministic ULID hash (timestamps are mixed by the
      * builder). */
    def digest(r: InternalRow): Long
    def add(r: InternalRow): Unit
    def size: Int
    /** Encode the buffered samples, reset; (data, mint, maxt). */
    def flush(): (Array[Byte], Long, Long)
    /** True when `r` must open a new chunk: by default when the open
      * one holds `samplesPerChunk` samples. */
    def cutBefore(r: InternalRow, samplesPerChunk: Int): Boolean =
      size == samplesPerChunk
    /** Forget cross-chunk state at a series (or block) boundary. */
    def resetSeriesState(): Unit = {}
  }

  /** XOR float chunks (chunkenc encoding 1). */
  private final class XorSampleBuf(tsIdx: Int, vIdx: Int,
      cap: Int) extends SampleBuf {
    private val tsBuf = new Array[Long](cap)
    private val vBuf = new Array[Double](cap)
    private var n = 0
    def encoding: Int = EncXOR
    def ts(r: InternalRow): Long = r.getLong(tsIdx)
    def digest(r: InternalRow): Long =
      java.lang.Double.doubleToRawLongBits(r.getDouble(vIdx))
    def add(r: InternalRow): Unit = {
      tsBuf(n) = r.getLong(tsIdx)
      vBuf(n) = r.getDouble(vIdx)
      n += 1
    }
    def size: Int = n
    def flush(): (Array[Byte], Long, Long) = {
      val data = ChunkCodec.encodeChunk(java.util.Arrays.copyOf(tsBuf, n),
        java.util.Arrays.copyOf(vBuf, n))
      val res = (data, tsBuf(0), tsBuf(n - 1))
      n = 0
      res
    }
  }

  /** Native-histogram chunks of either family (chunkenc encoding 2 or
    * 3): reads each sample's columns and runs the shared
    * [[HistAppender]], its cut ladder included. `hintIdx` is the
    * optional per-sample reset-hint column: an explicit hint
    * (compaction re-writing hinted reads) beats value comparison — the
    * same ladder the query fold runs, so header-only resets survive a
    * rewrite. A null hint reads as `unknown`, what
    * `readHistLabels(withResetHint = true)` gives a chunk with no
    * header. */
  private final class HistSampleBuf[A <: AnyRef](family: HistFamily[A],
      tsIdx: Int, zeroIdx: Int, idxIdx: Int, cntIdx: Int, sumIdx: Int,
      schema: Int, zeroThreshold: Double, gauge: Boolean, cap: Int,
      customValues: Array[Double], negIdxIdx: Int, negCntIdx: Int,
      hintIdx: Int) extends SampleBuf {
    private val app = new HistAppender(family, schema, zeroThreshold,
      customValues, gauge, cap, exactLayout = false)
    private val hasNeg = negIdxIdx >= 0
    private def negIdx(r: InternalRow): Array[Int] =
      if (hasNeg) r.getArray(negIdxIdx).toIntArray() else NoIndexes
    private def negCnt(r: InternalRow): A =
      if (hasNeg) family.counts(r.getArray(negCntIdx)) else family.noCounts
    private def hint(r: InternalRow): Int =
      if (hintIdx < 0 || r.isNullAt(hintIdx)) ChunkencHistogram.UnknownCounterReset
      else r.getUTF8String(hintIdx).toString match {
        case "counter_reset" => ChunkencHistogram.CounterReset
        case "not_counter_reset" => ChunkencHistogram.NotCounterReset
        case "gauge" => ChunkencHistogram.GaugeType
        case _ => ChunkencHistogram.UnknownCounterReset
      }
    override def cutBefore(r: InternalRow, samplesPerChunk: Int): Boolean =
      app.cutBefore(family.zeroCount(r, zeroIdx), r.getArray(idxIdx).toIntArray(),
        family.counts(r.getArray(cntIdx)), negIdx(r), negCnt(r), hint(r))
    override def resetSeriesState(): Unit = app.resetSeries()
    def encoding: Int = family.encoding
    def ts(r: InternalRow): Long = r.getLong(tsIdx)
    def digest(r: InternalRow): Long = {
      var h = family.zeroCount(r, zeroIdx)
      h = h * 31 + java.lang.Double.doubleToRawLongBits(r.getDouble(sumIdx))
      h = family.digest(h, r.getArray(idxIdx), r.getArray(cntIdx))
      if (hasNeg) family.digest(h, r.getArray(negIdxIdx), r.getArray(negCntIdx))
      else h
    }
    def add(r: InternalRow): Unit =
      app.add(r.getLong(tsIdx), family.zeroCount(r, zeroIdx), r.getDouble(sumIdx),
        r.getArray(idxIdx).toIntArray(), family.counts(r.getArray(cntIdx)),
        negIdx(r), negCnt(r))
    def size: Int = app.size
    def flush(): (Array[Byte], Long, Long) = app.flush()
  }

  private val NoIndexes = Array.empty[Int]

  /** Write `df` (label columns + a millisecond timestamp column + a
    * double value column) as TSDB blocks of `blockDurationMs` under
    * `root`, one block per time window, XOR chunks. Returns the
    * created block dir names (ULIDs), sorted.
    */
  def write(df: DataFrame, root: String, labelCols: Seq[String],
      tsCol: String, valueCol: String,
      blockDurationMs: Long = 2 * 3600 * 1000L,
      samplesPerChunk: Int = DefaultSamplesPerChunk,
      segmentBytes: Long = DefaultSegmentBytes): Seq[String] = {
    val prepared = df
      .select((labelCols.map(c => col(c).cast("string").as(c)) :+
        col(tsCol).cast("long").as("_ts") :+
        col(valueCol).cast("double").as("_v")): _*)
    // _v closes the sort to a total order: without it, samples tied
    // on (series, ts) arrive in shuffle-fetch order, the content
    // hash folds them in that order, and a redelivered batch could
    // mint a DIFFERENT ULID for identical data — breaking the
    // idempotency the streaming sink relies on
    writeRows(prepared, root, labelCols, blockDurationMs,
      Seq(col("_v")), sch => new XorSampleBuf(
        sch.fieldIndex("_ts"), sch.fieldIndex("_v"), samplesPerChunk),
      samplesPerChunk, segmentBytes)
  }

  /** Write an integer NATIVE-HISTOGRAM table (label columns, ms
    * timestamp, `zero_count` long, ascending sparse `pos_idx`
    * array&lt;int&gt; with aligned `pos_counts` array&lt;long&gt;, and the
    * tracked observation `sum` double — chunkenc histograms always
    * carry one) as TSDB blocks with chunkenc EncHistogram chunks.
    * `gauge` sets the counter-reset hint to GaugeType. The `count`
    * field is derived as zero_count + Σ buckets (every observation
    * lands in a bucket at this seam). Series observing NEGATIVE
    * values pass `negIdxCol`/`negCountsCol` (ascending mirror-bucket
    * indexes: negative bucket i covers [-base^i, -base^(i-1)), the
    * positive boundaries reflected about 0); omitted → positive-only
    * chunks, byte-identical to before. For CUSTOM-BUCKET histograms
    * (NHCB,
    * schema -53 — classic histograms converted to the native
    * representation) pass `customValues` (the ascending inclusive
    * upper bounds; bucket index i addresses customValues(i), index
    * customValues.length the +Inf overflow) and a zero `zeroCountCol`
    * — NHCB has no zero bucket.
    */
  def writeHist(df: DataFrame, root: String, labelCols: Seq[String],
      tsCol: String, zeroCountCol: String, posIdxCol: String,
      posCountsCol: String, sumCol: String, schema: Int = 0,
      zeroThreshold: Double = 0.0, gauge: Boolean = false,
      blockDurationMs: Long = 2 * 3600 * 1000L,
      samplesPerChunk: Int = DefaultSamplesPerChunk,
      segmentBytes: Long = DefaultSegmentBytes,
      customValues: Seq[Double] = Nil,
      negIdxCol: Option[String] = None,
      negCountsCol: Option[String] = None,
      resetHintCol: Option[String] = None): Seq[String] =
    writeHistFamily(HistFamily.Ints, df, root, labelCols, tsCol, zeroCountCol,
      posIdxCol, posCountsCol, sumCol, schema, zeroThreshold, gauge,
      blockDurationMs, samplesPerChunk, segmentBytes, customValues, negIdxCol,
      negCountsCol, resetHintCol)

  /** [[writeHist]] for FLOAT histograms (double zero/bucket counts,
    * chunkenc EncFloatHistogram chunks) — what recording rules
    * emit. */
  def writeFloatHist(df: DataFrame, root: String, labelCols: Seq[String],
      tsCol: String, zeroCountCol: String, posIdxCol: String,
      posCountsCol: String, sumCol: String, schema: Int = 0,
      zeroThreshold: Double = 0.0, gauge: Boolean = false,
      blockDurationMs: Long = 2 * 3600 * 1000L,
      samplesPerChunk: Int = DefaultSamplesPerChunk,
      segmentBytes: Long = DefaultSegmentBytes,
      customValues: Seq[Double] = Nil,
      negIdxCol: Option[String] = None,
      negCountsCol: Option[String] = None,
      resetHintCol: Option[String] = None): Seq[String] =
    writeHistFamily(HistFamily.Floats, df, root, labelCols, tsCol, zeroCountCol,
      posIdxCol, posCountsCol, sumCol, schema, zeroThreshold, gauge,
      blockDurationMs, samplesPerChunk, segmentBytes, customValues, negIdxCol,
      negCountsCol, resetHintCol)

  private def writeHistFamily(family: HistFamily[_ <: AnyRef], df: DataFrame,
      root: String, labelCols: Seq[String], tsCol: String, zeroCountCol: String,
      posIdxCol: String, posCountsCol: String, sumCol: String, schema: Int,
      zeroThreshold: Double, gauge: Boolean, blockDurationMs: Long,
      samplesPerChunk: Int, segmentBytes: Long, customValues: Seq[Double],
      negIdxCol: Option[String], negCountsCol: Option[String],
      resetHintCol: Option[String]): Seq[String] = {
    require(negIdxCol.isDefined == negCountsCol.isDefined,
      "negIdxCol and negCountsCol must be passed together")
    require(negIdxCol.isEmpty || customValues.isEmpty,
      "custom-bucket (NHCB) histograms cannot carry negative buckets")
    val counts = ArrayType(family.countType)
    val negCols = negIdxCol.map(c =>
      Seq(col(c).cast("array<int>").as("_nidx"),
        col(negCountsCol.get).cast(counts).as("_ncnt")))
      .getOrElse(Nil)
    val hintCols = resetHintCol.map(c =>
      Seq(col(c).cast("string").as("_hint"))).getOrElse(Nil)
    val prepared = df
      .select((labelCols.map(c => col(c).cast("string").as(c)) :+
        col(tsCol).cast("long").as("_ts") :+
        col(zeroCountCol).cast(family.countType).as("_zero") :+
        col(posIdxCol).cast("array<int>").as("_idx") :+
        col(posCountsCol).cast(counts).as("_cnt") :+
        col(sumCol).cast("double").as("_sum")) ++ negCols ++ hintCols: _*)
    val cv = customValues.toArray
    val hasNeg = negIdxCol.isDefined
    val hasHint = resetHintCol.isDefined
    // _idx/_cnt (and the negative side when present) join the
    // tiebreak: two samples tied on (series, ts, zero, sum) but with
    // different buckets must sort deterministically or the content
    // hash — which folds bucket arrays — and hence the ULID would
    // depend on shuffle-fetch order. _hint joins for the same
    // reason: it drives chunk cuts.
    writeRows(prepared, root, labelCols, blockDurationMs,
      Seq(col("_zero"), col("_sum"), col("_idx"), col("_cnt")) ++
        (if (hasNeg) Seq(col("_nidx"), col("_ncnt")) else Nil) ++
        (if (hintCols.nonEmpty) Seq(col("_hint")) else Nil),
      sch => new HistSampleBuf(family,
        sch.fieldIndex("_ts"), sch.fieldIndex("_zero"),
        sch.fieldIndex("_idx"), sch.fieldIndex("_cnt"),
        sch.fieldIndex("_sum"), schema, zeroThreshold, gauge,
        samplesPerChunk, cv,
        if (hasNeg) sch.fieldIndex("_nidx") else -1,
        if (hasNeg) sch.fieldIndex("_ncnt") else -1,
        if (hasHint) sch.fieldIndex("_hint") else -1),
      samplesPerChunk, segmentBytes)
  }

  /** The shared streaming write pass: window the prepared frame by
    * `_blk`, shuffle once on it, sort each partition to (block,
    * series, ts, tiebreaks) and run the per-partition block builder
    * over InternalRows. `prepared` must carry the casted label
    * columns plus `_ts`; `tiebreak` closes the sort to a total
    * order for ULID determinism. */
  private def writeRows(prepared0: DataFrame, root: String,
      labelCols: Seq[String], blockDurationMs: Long,
      tiebreak: Seq[org.apache.spark.sql.Column],
      mkBuf: StructType => SampleBuf, samplesPerChunk: Int,
      segmentBytes: Long): Seq[String] = {
    require(labelCols.nonEmpty, "at least one label column required")
    require(blockDurationMs > 0, "blockDurationMs must be positive")
    require(samplesPerChunk > 0, "samplesPerChunk must be positive")
    // Prometheus orders series lexicographically by label NAME then
    // value; with one shared name set, sorting rows by the
    // name-sorted columns yields exactly that order
    val sortedLabels = labelCols.sorted
    val prepared = prepared0
      .withColumn("_blk", floor(col("_ts") / blockDurationMs))
      .repartition(col("_blk"))
      .sortWithinPartitions(
        (col("_blk") +: sortedLabels.map(col) :+ col("_ts")) ++
          tiebreak: _*)
    val labelArr = sortedLabels.toArray
    // resolve ordinals OUTSIDE the closure: capturing `prepared`
    // itself would serialize the whole plan into every task
    val schema = prepared.schema
    val labelIdx = labelArr.map(schema.fieldIndex)
    val blkIdx = schema.fieldIndex("_blk")
    val dirs = prepared.queryExecution.toRdd.mapPartitions { rows =>
      import org.apache.spark.unsafe.types.UTF8String
      // operate on InternalRow, and materialize label Strings only
      // when the series CHANGES (rows arrive series-sorted, so a new
      // allocation every ~chunk, not every sample): the cached
      // UTF8Strings are cloned because unsafe rows reuse buffers.
      // Passing the SAME String array while the series is unchanged
      // also lets BlockBuilder's Arrays.equals short-circuit on
      // reference equality.
      val out = Seq.newBuilder[String]
      val b = new BlockBuilder(root, labelArr, blockDurationMs,
        mkBuf(schema), samplesPerChunk, segmentBytes)
      val n = labelIdx.length
      var curU: Array[UTF8String] = null
      var curS: Array[String] = null
      rows.foreach { r =>
        var same = curU != null
        var i = 0
        while (same && i < n) {
          val u = if (r.isNullAt(labelIdx(i))) null
            else r.getUTF8String(labelIdx(i))
          val c = curU(i)
          same = if (u == null) c == null else c != null && u.equals(c)
          i += 1
        }
        if (!same) {
          curU = new Array[UTF8String](n)
          curS = new Array[String](n)
          var j = 0
          while (j < n) {
            val u = if (r.isNullAt(labelIdx(j))) null
              else r.getUTF8String(labelIdx(j))
            curU(j) = if (u == null) null else u.clone()
            curS(j) = if (u == null) "" else u.toString
            j += 1
          }
        }
        b.add(r.getLong(blkIdx), curS, r).foreach(out += _)
      }
      b.finish().foreach(out += _)
      out.result().iterator
    }.collect().toSeq.sorted
    dirs
  }

  /** Streaming per-partition block builder: rows must arrive sorted
    * by (block, labels, ts). Holds one open chunk buffer plus the
    * current block's index metadata. */
  private final class BlockBuilder(root: String, labelNames: Array[String],
      blockDurationMs: Long, buf: SampleBuf, samplesPerChunk: Int,
      segmentBytes: Long) {
    private var curBlk = Long.MinValue
    private var tmpDir: java.io.File = null
    private var segs: ChunkSegmentWriter = null
    private val series = Seq.newBuilder[SeriesEntry]
    private var nSeries = 0L
    private var nSamples = 0L
    private var nChunks = 0L
    private var contentHash = 0xcbf29ce484222325L

    private var curLabels: Array[String] = null
    private val chunkMetas = Seq.newBuilder[ChunkMeta]

    private def mix(x: Long): Unit = {
      contentHash ^= x
      contentHash *= 0x100000001b3L
    }

    private def flushChunk(): Unit = if (buf.size > 0) {
      val (data, mint, maxt) = buf.flush()
      val ref = segs.append(data, buf.encoding)
      chunkMetas += ChunkMeta(mint, maxt, ref)
      nChunks += 1
    }

    private def flushSeries(): Unit = if (curLabels != null) {
      flushChunk()
      buf.resetSeriesState()
      series += SeriesEntry(
        labelNames.zip(curLabels).toSeq.filter(_._2.nonEmpty),
        chunkMetas.result())
      chunkMetas.clear()
      nSeries += 1
      curLabels = null
    }

    private def flushBlock(): Option[String] = {
      if (tmpDir == null) return None
      flushSeries()
      segs.close()
      val entries = series.result()
      series.clear()
      val mint = curBlk * blockDurationMs
      val maxt = (curBlk + 1) * blockDurationMs
      val ulid = deterministicUlid(maxt, contentHash)
      java.nio.file.Files.write(
        new java.io.File(tmpDir, "index").toPath, encodeIndex(entries))
      writeMeta(tmpDir, ulid, mint, maxt, nSeries, nSamples, nChunks)
      writeEmptyTombstones(tmpDir)
      val target = new java.io.File(root, ulid)
      val created =
        if (target.exists()) {
          // same ULID = same maxt + same 64-bit content hash. Treat
          // as an idempotent redelivery ONLY if the existing block's
          // meta stats agree; a hash collision between DIFFERENT
          // datasets must fail loudly, never silently drop a block
          val (se, sa, ch) = readMetaStats(target)
          require(se == nSeries && sa == nSamples && ch == nChunks,
            s"ULID $ulid already exists with different stats " +
              s"(existing series/samples/chunks $se/$sa/$ch vs " +
              s"$nSeries/$nSamples/$nChunks): content-hash collision")
          deleteRecursively(tmpDir)
          false
        } else tmpDir.renameTo(target)
      tmpDir = null
      nSeries = 0; nSamples = 0; nChunks = 0
      contentHash = 0xcbf29ce484222325L
      if (created) Some(ulid) else None
    }

    /** Add one sample; returns a completed block's ULID when this
      * sample rolls into a new block. */
    def add(blk: Long, labels: Array[String],
        r: InternalRow): Option[String] = {
      var done: Option[String] = None
      if (blk != curBlk) {
        done = flushBlock()
        curBlk = blk
        // createDirectories is race-safe: 32 concurrent tasks all
        // materializing the store root must not trip each other up
        // (File.mkdirs returns false when another task wins the race).
        java.nio.file.Files.createDirectories(
          new java.io.File(root).toPath)
        val pid = org.apache.spark.TaskContext.getPartitionId()
        tmpDir = new java.io.File(root, s".building-p$pid-$blk")
        if (tmpDir.exists()) deleteRecursively(tmpDir)
        require(tmpDir.mkdirs(), s"cannot create $tmpDir")
        segs = new ChunkSegmentWriter(
          new java.io.File(tmpDir, "chunks"), segmentBytes)
      } else if (curLabels != null &&
          !java.util.Arrays.equals(
            curLabels.asInstanceOf[Array[AnyRef]],
            labels.asInstanceOf[Array[AnyRef]])) {
        flushSeries()
      }
      if (curLabels == null) {
        curLabels = labels
        labels.foreach(s => mix(s.hashCode.toLong))
      }
      if (buf.cutBefore(r, samplesPerChunk)) flushChunk()
      buf.add(r)
      nSamples += 1
      mix(buf.ts(r))
      mix(buf.digest(r))
      done
    }

    def finish(): Option[String] = flushBlock()
  }

  private def deleteRecursively(f: java.io.File): Unit =
    graft.tools.Fs.deleteRecursively(f)

  // ---------------------------------------------------------------
  // read
  // ---------------------------------------------------------------

  /** Past this many blocks the meta.json overlap filter runs as a
    * Spark job instead of a sequential driver loop. */
  private final val DriverMetaScanCap = 256

  /** All block dirs under `root` whose [minTime, maxTime) overlaps
    * [mint, maxt] — pruned on meta.json alone, before any index or
    * chunk byte is read. The directory listing itself is one driver
    * syscall; the per-block meta READS distribute once the data dir
    * is large (a year of 2h blocks is ~4 400 dirs — a sequential
    * driver loop over shared storage would dominate query setup). */
  private def overlappingBlocks(spark: SparkSession, root: String,
      mint: Long, maxt: Long): Seq[String] = {
    val rootDir = new java.io.File(root)
    // '.'-prefixed names are in-flight '.building-*' temp dirs (or a
    // crashed writer's leftovers): never readable blocks — a partial
    // dir can carry a valid meta.json before its rename
    val dirs = Option(rootDir.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && !d.getName.startsWith(".") &&
        new java.io.File(d, "meta.json").isFile)
      .map(_.getName).sorted.toSeq
    def overlaps(name: String): Boolean = {
      val (bMin, bMax) = readMetaTimes(new java.io.File(root, name))
      bMin <= maxt && bMax > mint
    }
    if (dirs.size <= DriverMetaScanCap) dirs.filter(overlaps)
    else spark.sparkContext
      .parallelize(dirs, math.max(1, dirs.size / 64))
      .filter(overlaps).collect().sorted.toSeq
  }

  /** Read every FLOAT sample matching `matchers` in [mint, maxt]
    * from the TSDB blocks under `root`, as a Dataset of
    * [[TsdbSample]]. One narrow task per (block, shard); no
    * shuffle. Native-histogram chunks (encodings 2/3) are NOT float
    * samples and are skipped here — [[readHistLabels]] /
    * [[readFloatHistLabels]] serve them, mirroring the reference's
    * per-family data columns (schema/encoder.go:75). */
  def read(spark: SparkSession, root: String,
      mint: Long = Long.MinValue, maxt: Long = Long.MaxValue,
      matchers: Seq[Matcher] = Nil,
      shardsPerBlock: Int = 1): Dataset[TsdbSample] = {
    import spark.implicits._
    val rdd = taskRdd(spark, root, mint, maxt, shardsPerBlock,
      matchers) { case (dir, shard, nShards, ms) =>
      readBlockSeriesWith(dir, mint, maxt, ms, shard, nShards,
        xorDecoder(mint, maxt))
        .flatMap { case (labelMap, samples) =>
          samples.map { case (ts, v) => TsdbSample(labelMap, ts, v) }
        }
    }
    spark.createDataset(rdd)
  }

  /** [[read]] flattened to one string column per label in
    * `labelCols` (absent label → ""), ready for the converters.
    * Projection happens INSIDE the block reader: one string array
    * per series (not a Map per row through the encoder), because at
    * 100 TB per-sample Map construction + Map serialization is pure
    * allocation overhead the flattened schema never needed. */
  def readLabels(spark: SparkSession, root: String,
      labelCols: Seq[String], mint: Long = Long.MinValue,
      maxt: Long = Long.MaxValue, matchers: Seq[Matcher] = Nil,
      shardsPerBlock: Int = 1): DataFrame =
    sampleFrame(spark, root, labelCols, mint, maxt, matchers,
      shardsPerBlock, xorFields(mint, maxt), XorTail)

  private val XorTail = Seq(
    StructField("ts", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false))

  private def xorFields(mint: Long, maxt: Long): ChunkDecoder[Array[Any]] = {
    val decode = xorDecoder(mint, maxt)
    (enc, data, deleted) =>
      decode(enc, data, deleted).map { case (ts, v) => Array[Any](ts, v) }
  }

  /** Read every INTEGER native-histogram sample matching `matchers`
    * in [mint, maxt], flattened to graft's row model:
    * label columns, `ts` (ms), `schema`, `zero_count`, ascending
    * `pos_idx`/`pos_counts`, `hist_sum`, `custom_values` (the
    * NHCB bound list — empty for exponential schemas), and the
    * NEGATIVE side `neg_idx`/`neg_counts` (ascending mirror-bucket
    * indexes — empty for positive-only series, which is every
    * counter histogram a client library emits; observed-negative
    * distributions and gauge histograms carry them). Bucket
    * positions chunkenc's
    * recode filled with absolute 0 decode as explicit 0-count
    * buckets, exactly as Prometheus's own iterator yields them.
    * Same narrow one-task-per-(block, shard) plan as [[read]]. */
  def readHistLabels(spark: SparkSession, root: String,
      labelCols: Seq[String], mint: Long = Long.MinValue,
      maxt: Long = Long.MaxValue, matchers: Seq[Matcher] = Nil,
      shardsPerBlock: Int = 1, withResetHint: Boolean = false): DataFrame =
    sampleFrame(spark, root, labelCols, mint, maxt, matchers,
      shardsPerBlock, histDecoder(HistFamily.Ints, mint, maxt, withResetHint),
      histTail(LongType, withResetHint))

  /** The sample fields of [[readHistLabels]] (`count` = LongType) and
    * [[readFloatHistLabels]] (DoubleType), in [[histDecoder]]'s order. */
  private def histTail(count: DataType, withResetHint: Boolean): Seq[StructField] =
    Seq(
      StructField("ts", LongType, nullable = false),
      StructField("schema", IntegerType, nullable = false),
      StructField("zero_count", count, nullable = false),
      StructField("pos_idx", ArrayType(IntegerType, false), nullable = false),
      StructField("pos_counts", ArrayType(count, false), nullable = false),
      StructField("hist_sum", DoubleType, nullable = false),
      StructField("custom_values", ArrayType(DoubleType, false),
        nullable = false),
      StructField("neg_idx", ArrayType(IntegerType, false), nullable = false),
      StructField("neg_counts", ArrayType(count, false), nullable = false)) ++
    (if (withResetHint)
      Seq(StructField("reset_hint", StringType, nullable = false))
    else Nil)

  /** [[readHistLabels]] for FLOAT histogram chunks (encoding 3):
    * `zero_count` and `pos_counts`/`neg_counts` are doubles. */
  def readFloatHistLabels(spark: SparkSession, root: String,
      labelCols: Seq[String], mint: Long = Long.MinValue,
      maxt: Long = Long.MaxValue, matchers: Seq[Matcher] = Nil,
      shardsPerBlock: Int = 1, withResetHint: Boolean = false): DataFrame =
    sampleFrame(spark, root, labelCols, mint, maxt, matchers,
      shardsPerBlock, histDecoder(HistFamily.Floats, mint, maxt, withResetHint),
      histTail(DoubleType, withResetHint))

  /** The one row builder of the block readers: one Catalyst row per
    * decoded sample — `blockCol`, when given, the block's dir name;
    * then one string per label in `labelCols` (absent label → ""),
    * converted once per series; then `decode`'s fields for the sample,
    * already Catalyst values, typed by `tail`. Same narrow plan as
    * [[taskRdd]]. The rows skip `createDataFrame`'s `Row` encoder and
    * its per-sample conversion. */
  private def sampleFrame(spark: SparkSession, root: String,
      labelCols: Seq[String], mint: Long, maxt: Long, matchers: Seq[Matcher],
      shardsPerBlock: Int, decode: ChunkDecoder[Array[Any]],
      tail: Seq[StructField], blockCol: Option[String] = None): DataFrame = {
    val cols = labelCols.toIndexedSeq
    val lead = blockCol.size
    val rdd = taskRdd(spark, root, mint, maxt, shardsPerBlock,
      matchers) { case (dir, shard, nShards, ms) =>
      val block: Any = UTF8String.fromString(dir.getName)
      readBlockSeriesWith(dir, mint, maxt, ms, shard, nShards, decode)
        .flatMap { case (labelMap, samples) =>
          val labels = cols.map(c =>
            UTF8String.fromString(labelMap.getOrElse(c, ""))).toArray[Any]
          samples.map { fields =>
            val v = new Array[Any](lead + labels.length + fields.length)
            if (lead > 0) v(0) = block
            System.arraycopy(labels, 0, v, lead, labels.length)
            System.arraycopy(fields, 0, v, lead + labels.length, fields.length)
            new GenericInternalRow(v): InternalRow
          }
        }
    }
    SqlBridge.dataFrame(spark, rdd, StructType(
      (blockCol.toSeq ++ cols).map(StructField(_, StringType, nullable = false)) ++ tail))
  }

  /** One narrow task per (block, shard): resolve the overlapping
    * blocks on the driver (meta.json only), parallelize the task
    * list, run `f` per task. Matchers ship as plain tuples —
    * [[Matcher]] carries Catalyst columns and is not
    * closure-friendly. */
  private def taskRdd[T: scala.reflect.ClassTag](spark: SparkSession,
      root: String, mint: Long, maxt: Long, shardsPerBlock: Int,
      matchers: Seq[Matcher])(
      f: (java.io.File, Int, Int, Seq[Matcher]) => Iterator[T])
      : org.apache.spark.rdd.RDD[T] = {
    require(shardsPerBlock > 0, "shardsPerBlock must be positive")
    val blocks = overlappingBlocks(spark, root, mint, maxt)
    val tasks = for (b <- blocks; s <- 0 until shardsPerBlock)
      yield (b, s)
    val matcherSpecs = matchers.map(encodeMatcher)
    spark.sparkContext
      .parallelize(tasks, math.max(tasks.size, 1))
      .flatMap { case (block, shard) =>
        f(new java.io.File(root, block), shard, shardsPerBlock,
          matcherSpecs.map(decodeMatcher))
      }
  }

  /** Vertical compaction (the Prometheus compactor's overlapping-
    * block merge) for FLOAT samples: read every block under `root`,
    * deduplicate exact (series, ts) collisions — the sample from
    * the lexicographically LAST block ULID wins, the deterministic
    * analog of Prometheus merging its sorted block list — and
    * rewrite as blocks of `blockDurationMs` under `outRoot`. One
    * narrow read fan-in, one shuffle (the LWW groupBy doubles as
    * the writer's repartition-by-window sort input). Histogram
    * chunks are out of scope here (the float surface skips them);
    * [[compactHist]] is the NH counterpart. */
  def compact(spark: SparkSession, root: String, outRoot: String,
      labelCols: Seq[String], blockDurationMs: Long = 2 * 3600 * 1000L,
      shardsPerBlock: Int = 1): Seq[String] = {
    val cols = labelCols.toIndexedSeq
    val flat = sampleFrame(spark, root, cols, Long.MinValue, Long.MaxValue,
      Nil, shardsPerBlock, xorFields(Long.MinValue, Long.MaxValue), XorTail,
      blockCol = Some("_ulid"))
    // (_ulid, value) as the max_by key: duplicate (series, ts)
    // samples WITHIN one block tie on _ulid alone and max_by would
    // pick arbitrarily — the value tiebreak keeps compaction
    // deterministic end to end
    val lww = flat
      .groupBy((cols.map(col) :+ col("ts")): _*)
      .agg(max_by(col("value"),
        struct(col("_ulid"), col("value"))).as("value"))
    write(lww, outRoot, labelCols, "ts", "value", blockDurationMs)
  }

  /** [[compact]] for NATIVE-HISTOGRAM directories (encoding-2
    * chunks): decode every block's NH samples, LWW-deduplicate
    * exact (series, ts) collisions on the same lexicographically-
    * last-ULID rule (whole-sample granularity — zero count, bucket
    * arrays and sum travel as one struct), rewrite as blocks of
    * `blockDurationMs`. All input chunks must share one schema
    * (mixed-schema dirs fail loudly — re-bucketing across schemas
    * is a semantic change, not compaction); custom-bucket dirs
    * (schema -53) additionally require ONE shared bound list, which
    * rides through to the rewritten chunks. */
  def compactHist(spark: SparkSession, root: String, outRoot: String,
      labelCols: Seq[String], blockDurationMs: Long = 2 * 3600 * 1000L,
      shardsPerBlock: Int = 1, gauge: Boolean = false): Seq[String] = {
    val cols = labelCols.toIndexedSeq
    val flat = sampleFrame(spark, root, cols, Long.MinValue, Long.MaxValue,
      Nil, shardsPerBlock,
      histDecoder(HistFamily.Ints, Long.MinValue, Long.MaxValue, withHint = true),
      histTail(LongType, withResetHint = true), blockCol = Some("_ulid"))
      .withColumnsRenamed(Map("zero_count" -> "zero", "pos_idx" -> "idx",
        "pos_counts" -> "cnt", "hist_sum" -> "hsum", "custom_values" -> "_cv",
        "neg_idx" -> "nidx", "neg_counts" -> "ncnt", "reset_hint" -> "hint"))
    val schemas = flat.select(col("schema")).distinct().limit(2)
      .collect().map(_.getInt(0))
    if (schemas.isEmpty) return Nil
    require(schemas.length == 1,
      s"compactHist: mixed histogram schemas ${schemas.toSeq} in $root")
    val customValues: Seq[Double] =
      if (schemas.head != ChunkencHistogram.CustomBucketsSchema) Nil
      else {
        val cvs = flat.select(col("_cv")).distinct().limit(2)
          .collect().map(_.getSeq[Double](0))
        require(cvs.length == 1,
          s"compactHist: mixed custom-bucket bound lists in $root — " +
            "re-bucketing is a semantic change, not compaction")
        cvs.head
      }
    // whole-sample LWW granularity: the negative side (and the
    // counter-reset hint — it rides with its sample) travels in the
    // same snap struct, so pos and neg buckets can never mix across
    // two colliding samples
    val snap = struct(col("zero"), col("idx"), col("cnt"), col("hsum"),
      col("nidx"), col("ncnt"), col("hint"))
    val lww = flat
      .groupBy((cols.map(col) :+ col("ts")): _*)
      .agg(max_by(snap, struct(col("_ulid"), snap)).as("_s"))
      .select((cols.map(col) :+ col("ts") :+ col("_s.zero").as("zero") :+
        col("_s.idx").as("idx") :+ col("_s.cnt").as("cnt") :+
        col("_s.hsum").as("hsum") :+ col("_s.nidx").as("nidx") :+
        col("_s.ncnt").as("ncnt") :+ col("_s.hint").as("hint")): _*)
    // hints ride through the rewrite so a HEADER-ONLY reset (marked
    // counter_reset but value-undetectable) still cuts + re-marks in
    // the compacted chunks instead of silently degrading to a
    // continuation
    writeHist(lww, outRoot, labelCols, "ts", "zero", "idx", "cnt",
      "hsum", schema = schemas.head, gauge = gauge,
      blockDurationMs = blockDurationMs, customValues = customValues,
      negIdxCol = if (customValues.nonEmpty) None else Some("nidx"),
      negCountsCol = if (customValues.nonEmpty) None else Some("ncnt"),
      resetHintCol = Some("hint"))
  }

  // Matcher is not Serializable-friendly across the closure (it
  // carries Catalyst Columns); ship the constructor fields instead.
  private def encodeMatcher(m: Matcher): (String, String, String) = m match {
    case Matcher.Eq(l, v)  => ("eq", l, v)
    case Matcher.Neq(l, v) => ("neq", l, v)
    case Matcher.Re(l, p)  => ("re", l, p)
    case Matcher.Nre(l, p) => ("nre", l, p)
  }

  private def decodeMatcher(t: (String, String, String)): Matcher = t match {
    case ("eq", l, v)  => Matcher.Eq(l, v)
    case ("neq", l, v) => Matcher.Neq(l, v)
    case ("re", l, p)  => Matcher.Re(l, p)
    case ("nre", l, p) => Matcher.Nre(l, p)
    case (k, _, _)     => throw new IllegalStateException(s"matcher kind $k")
  }

  /** Anchored RE2-compatible value match (absent label == ""). */
  private def valueMatches(m: Matcher, v: String): Boolean = m match {
    case Matcher.Eq(_, x)  => v == x
    case Matcher.Neq(_, x) => v != x
    case Matcher.Re(_, p)  => anchored(p).matcher(v).matches()
    case Matcher.Nre(_, p) => !anchored(p).matcher(v).matches()
  }

  private val reCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.regex.Pattern]()

  private def anchored(p: String): java.util.regex.Pattern =
    reCache.computeIfAbsent(p, p0 =>
      java.util.regex.Pattern.compile("\\A(?:" + Matcher.re2ToJava(p0) + ")\\z"))

  /** Resolve the candidate series refs for the POSITIVE matchers via
    * the postings index — equality uses its postings list directly,
    * regex unions the postings of index-listed values that match —
    * then intersect. Negative matchers can't prune (they match the
    * open-ended complement); they apply in the per-series check. */
  private def candidateRefs(ir: IndexReader,
      matchers: Seq[Matcher]): Seq[Long] = {
    // a matcher can prune via the index ONLY if it cannot match the
    // absent label (== ""): a series lacking the label appears in NO
    // postings list for it, so a regex like "a*" or "east|" that
    // matches "" must fall through to the per-series exact re-check
    val positive = matchers.collect {
      case Matcher.Eq(l, v) if v.nonEmpty =>
        ir.postings(l, v)
      case m @ Matcher.Re(l, p) if !valueMatches(m, "") =>
        ir.labelValues(l).filter(v => valueMatches(m, v))
          .flatMap(v => ir.postings(l, v)).distinct.sorted
    }
    if (positive.isEmpty) ir.allPostings
    else positive.reduce((a, b) => intersectSorted(a, b))
  }

  private def intersectSorted(a: Seq[Long], b: Seq[Long]): Seq[Long] = {
    val out = Seq.newBuilder[Long]
    var i = 0
    var j = 0
    val av = a.toIndexedSeq
    val bv = b.toIndexedSeq
    while (i < av.length && j < bv.length) {
      val c = java.lang.Long.compare(av(i), bv(j))
      if (c == 0) { out += av(i); i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    out.result()
  }

  /** Per-chunk decoder: (encoding, chunk bytes, deleted intervals)
    * → samples. Chunks of OTHER families return empty — a float
    * query over a mixed directory reads float chunks, a histogram
    * query histogram chunks, like the reference's per-family data
    * columns. */
  private type ChunkDecoder[T] =
    (Int, Array[Byte], Seq[(Long, Long)]) => Iterator[T]

  private def keepTs(ts: Long, mint: Long, maxt: Long,
      deleted: Seq[(Long, Long)]): Boolean =
    ts >= mint && ts <= maxt &&
      !deleted.exists(d => d._1 <= ts && ts <= d._2)

  private def xorDecoder(mint: Long,
      maxt: Long): ChunkDecoder[(Long, Double)] = {
    case (EncXOR, data, deleted) =>
      val (ts, vs) = ChunkCodec.decodeChunk(data, 0, data.length)
      ts.indices.iterator
        .filter(i => keepTs(ts(i), mint, maxt, deleted))
        .map(i => (ts(i), vs(i)))
    case (EncHistogram, _, _) | (EncFloatHistogram, _, _) =>
      Iterator.empty
    case (enc, _, _) =>
      throw new IllegalArgumentException(s"unsupported chunk encoding $enc")
  }

  /** Per-SAMPLE counter-reset hint, chunkenc's iterator contract:
    * the chunk-FIRST sample carries the chunk header (its relation
    * to the previous chunk); samples after it are NotCounterReset —
    * within one chunk the appender never crossed a reset (it would
    * have cut). Gauge chunks hint gauge on every sample. Hints are
    * assigned by position BEFORE time/tombstone filtering, exactly
    * like an iterator that walks the chunk from its start. */
  private def sampleHint(flags: Int, i: Int): String = {
    val h = flags & 0xc0
    if (h == ChunkencHistogram.GaugeType) "gauge"
    else if (i > 0) "not_counter_reset"
    else if (h == ChunkencHistogram.CounterReset) "counter_reset"
    else if (h == ChunkencHistogram.NotCounterReset) "not_counter_reset"
    else "unknown"
  }

  /** Sample tail for the flat hist row of `family`'s chunks: (ts,
    * schema, zero, idx, counts, sum, custom_values — empty for
    * exponential schemas, neg_idx, neg_counts — empty for
    * positive-only series, [reset_hint when `withHint`] — appended
    * LAST so positional consumers stay stable). */
  private def histDecoder(family: HistFamily[_ <: AnyRef], mint: Long,
      maxt: Long, withHint: Boolean = false): ChunkDecoder[Array[Any]] = {
    case (enc, data, deleted) if enc == family.encoding =>
      val c = family.decode(data, 0, data.length)
      val idx = ArrayData.toArrayData(ChunkencHistogram.bucketIndexes(c.posSpans))
      val nidx = ArrayData.toArrayData(ChunkencHistogram.bucketIndexes(c.negSpans))
      val cv = ArrayData.toArrayData(c.customValues)
      c.ts.indices.iterator
        .filter(i => keepTs(c.ts(i), mint, maxt, deleted))
        .map(i => Array[Any](c.ts(i), c.schema, c.zeroAt(i),
          idx, ArrayData.toArrayData(c.posAt(i)), c.sum(i), cv,
          nidx, ArrayData.toArrayData(c.negAt(i))) ++
          (if (withHint) Array[Any](UTF8String.fromString(sampleHint(c.flags, i)))
           else Array.empty[Any]))
    case (EncXOR, _, _) | (EncHistogram, _, _) | (EncFloatHistogram, _, _) =>
      Iterator.empty
    case (enc, _, _) =>
      throw new IllegalArgumentException(s"unsupported chunk encoding $enc")
  }

  /** One row per native-histogram chunk (either encoding) under
    * `root`: labels projected to `labelCols`, the chunk's sample
    * span and count, and its COUNTER-RESET HEADER decoded to a
    * string (`unknown` / `counter_reset` / `not_counter_reset` /
    * `gauge`). The write path's reset-cut behavior (a counter reset
    * cuts a chunk marked CounterReset, a cap cut one marked
    * NotCounterReset — head_append's ladder) is invisible at the
    * sample row model; specs, gates and operational tooling read it
    * here. Same narrow per-(block, shard) scan as the sample
    * readers; one output row per CHUNK, so the result is
    * metadata-sized. */
  def histChunkHeaders(spark: SparkSession, root: String,
      labelCols: Seq[String], shardsPerBlock: Int = 1): DataFrame = {
    import spark.implicits._
    val cols = labelCols.toIndexedSeq
    val decoder: ChunkDecoder[(Int, Long, Long, Int)] = {
      case (enc, data, _) if enc == EncHistogram || enc == EncFloatHistogram =>
        val c = HistFamily(enc == EncFloatHistogram).decode(data, 0, data.length)
        if (c.ts.isEmpty) Iterator.empty
        else Iterator.single((c.flags, c.ts.head, c.ts.last, c.ts.length))
      case (EncXOR, _, _) => Iterator.empty
      case (enc, _, _) =>
        throw new IllegalArgumentException(s"unsupported chunk encoding $enc")
    }
    val rdd = taskRdd(spark, root, Long.MinValue, Long.MaxValue,
      shardsPerBlock, Nil) { case (dir, shard, nShards, ms) =>
      readBlockSeriesWith(dir, Long.MinValue, Long.MaxValue, ms,
        shard, nShards, decoder)
        .flatMap { case (labelMap, chunks) =>
          val ls = cols.map(c => labelMap.getOrElse(c, ""))
          chunks.map { case (fl, mint, maxt, n) => (ls, fl, mint, maxt, n) }
        }
    }
    val hintCol = {
      val h = col("_flags").bitwiseAND(lit(0xc0))
      when(h === ChunkencHistogram.CounterReset, "counter_reset")
        .when(h === ChunkencHistogram.NotCounterReset, "not_counter_reset")
        .when(h === ChunkencHistogram.GaugeType, "gauge")
        .otherwise("unknown")
    }
    rdd.toDF("_ls", "_flags", "chunk_mint", "chunk_maxt", "n_samples")
      .select(cols.zipWithIndex.map { case (c, i) =>
        col("_ls")(i).as(c) } :+
        col("chunk_mint") :+ col("chunk_maxt") :+ col("n_samples") :+
        hintCol.as("reset_hint"): _*)
  }

  /** Shared per-shard series walk: candidate refs from the postings
    * index, exact matcher re-verification, chunk-frame time pruning,
    * tombstone application, then the family-specific chunk decode.
    * Emits one (label map, sample iterator) pair per surviving
    * series so callers project labels ONCE per series, not per
    * sample. */
  private def readBlockSeriesWith[T](dir: java.io.File, mint: Long,
      maxt: Long, matchers: Seq[Matcher], shard: Int, nShards: Int,
      decode: ChunkDecoder[T])
      : Iterator[(Map[String, String], Iterator[T])] = {
    val ir = new IndexReader(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "index").toPath))
    val chunks = new ChunkSegmentReader(new java.io.File(dir, "chunks"))
    val tombstones = readTombstones(dir)
    val refs = candidateRefs(ir, matchers).zipWithIndex
      .collect { case (r, i) if i % nShards == shard => r }
    refs.iterator.flatMap { ref =>
      val se = ir.series(ref)
      val labelMap = se.labels.toMap
      // exact re-check: negations, empty-value equality, regex
      // semantics against the FULL label set (absent == "")
      val ok = matchers.forall(m =>
        valueMatches(m, labelMap.getOrElse(m.label, "")))
      if (!ok) Iterator.empty
      else {
        val deleted = tombstones.getOrElse(ref, Nil)
        val samples = se.chunks.iterator
          .filter(cm => cm.mint <= maxt && cm.maxt >= mint)
          .flatMap { cm =>
            val (enc, data) = chunks.chunk(cm.ref)
            decode(enc, data, deleted)
          }
        Iterator.single((labelMap, samples))
      }
    }
  }
}
