package graft.golden

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.tsdb.{ChunkCodec, ChunkencHistCodec}
import graft.tsdb.block.{ChunkencHistogram => CH, TsdbBlockFormat => F, TsdbBlockStore}

/** The ONE definition of every golden fixture's content AND its
  * writer-produced bytes. The committed files under
  * `src/test/resources/golden/` are frozen copies of [[bytes]]'s
  * output from the round they were generated; [[GoldenBytesSpec]]
  * asserts BOTH directions against those immutable bytes —
  * writer(values) == committed bytes (writer drift) and
  * reader(committed bytes) == values (reader drift) — so the codec
  * pair can never drift in lockstep unnoticed. Regenerate
  * deliberately with `Test/runMain graft.golden.GoldenGen` ONLY on
  * an intentional, documented format change. `hist_blob.bin` is not
  * regenerated: it is a cell in graft's retired histogram body
  * layout, the old-layout sample `HistChunkCodecSpec` must reject.
  */
object GoldenData {

  // ---- XOR chunk (chunkenc encoding 1) ----
  val xorTs: Array[Long] = {
    val deltas = Array(0L, 15000L, 15000L, 15001L, 14999L, 15000L,
      60000L, 1L, 15000L, 15000L)
    deltas.scanLeft(1704067200000L)(_ + _).tail
  }
  val xorVs: Array[Double] = Array(1.5, 1.5, 2.25, -0.0, Double.NaN,
    1e300, Double.MinPositiveValue, 42.0, 42.0, -17.125)

  def xorChunkBytes: Array[Byte] = ChunkCodec.encodeChunk(xorTs, xorVs)

  // ---- chunkenc integer histogram chunk (encoding 2) ----
  val histChunk: CH.HistChunk = {
    val posSpans = Vector(CH.Span(-2, 3), CH.Span(2, 2)) // idx -2,-1,0,3,4
    val negSpans = Vector(CH.Span(1, 2))                 // idx 1,2
    val ts = Array(1704067200000L, 1704067215000L, 1704067230000L,
      1704067245123L)
    val n = ts.length
    val pos = Array.tabulate(n, 5)((i, j) => (i + 1L) * (j * j + 1L) * 3L)
    val neg = Array.tabulate(n, 2)((i, j) => (i + 1L) * (j + 2L))
    val zero = Array.tabulate(n)(i => 7L * i)
    val count = Array.tabulate(n)(i => zero(i) + pos(i).sum + neg(i).sum)
    val sum = Array(1.5, 2.75, Double.NaN, -0.0)
    CH.HistChunk(CH.NotCounterReset, 3, math.pow(2, -128), posSpans,
      negSpans, ts, count, zero, sum, pos, neg)
  }

  def histChunkBytes: Array[Byte] = CH.encodeHistChunk(histChunk)

  // ---- chunkenc float histogram chunk (encoding 3) ----
  val floatHistChunk: CH.FloatHistChunk = {
    val posSpans = Vector(CH.Span(0, 3), CH.Span(1, 1)) // idx 0,1,2,4
    val ts = Array(1704067200000L, 1704067215000L, 1704067230000L)
    val n = ts.length
    val pos = Array.tabulate(n, 4)((i, j) => (i + 1) * 0.25 * (j + 1))
    val neg = Array.fill(n)(Array.empty[Double])
    val zero = Array(0.5, 1.25, Double.NaN)
    val count = Array(10.25, 20.5, 30.75)
    val sum = Array(-0.0, 3.5, 1e300)
    CH.FloatHistChunk(CH.GaugeType, -1, 0.001953125, posSpans,
      Vector.empty, ts, count, zero, sum, pos, neg)
  }

  def floatHistChunkBytes: Array[Byte] = CH.encodeFloatHistChunk(floatHistChunk)

  // ---- graft parquet-cell blobs (the converted-layout cell format) ----
  def chunkBlobBytes: Array[Byte] =
    ChunkCodec.encodeBlob(xorTs, xorVs, samplesPerChunk = 4)

  // ---- NHCB custom-bucket chunk (schema -53) ----

  /** Custom-bucket chunk exercising BOTH bound encodings (compact
    * varbit for exact 0.001-multiples, the 8-one-bit raw escape for
    * 1/3 and 50000 > 33554.43), the +Inf overflow index (5 ==
    * num_values), and a bucket that is zero until sample 2 — the
    * union-layout fill shape chunkenc's recode produces. */
  val nhcbChunk: CH.HistChunk = {
    val bounds = Array(0.005, 0.1, 1.0 / 3.0, 2.5, 50000.0)
    val posSpans = Vector(CH.Span(0, 3), CH.Span(1, 2)) // idx 0,1,2,4,5
    val ts = Array(1704067200000L, 1704067215000L, 1704067230000L,
      1704067245000L)
    val n = ts.length
    val pos = Array.tabulate(n, 5)((i, j) =>
      if (j == 3 && i < 2) 0L else (i + 1L) * (j + 1L) * 2L)
    val zero = Array.fill(n)(0L)
    val count = Array.tabulate(n)(i => pos(i).sum)
    val sum = Array(0.25, 1.5, 3.0, 10.5)
    CH.HistChunk(CH.NotCounterReset, CH.CustomBucketsSchema, 0.0,
      posSpans, Vector.empty, ts, count, zero, sum, pos,
      Array.fill(n)(Array.empty[Long]), bounds)
  }

  def nhcbChunkBytes: Array[Byte] = CH.encodeHistChunk(nhcbChunk)

  // ---- adversarial chunkenc fixtures (hostile cases frozen now) ----

  /** Integer chunk stacking the hard parts: negative spans, the
    * counter-RESET hint, a positive bucket that stays zero for two
    * samples then jumps by 2^55 (forcing the 56-bit and raw-64
    * varbit buckets through the delta-of-delta path), and a NaN
    * tracked sum mid-chunk. */
  val advHistChunk: CH.HistChunk = {
    val posSpans = Vector(CH.Span(-1, 2), CH.Span(3, 1)) // idx -1,0,4
    val negSpans = Vector(CH.Span(2, 2))                 // idx 2,3
    val ts = Array(1704067200000L, 1704067201000L, 1704067262000L,
      1704067262001L)
    val n = ts.length
    val pos = Array.tabulate(n, 3) { (i, j) =>
      if (j == 2) { if (i < 2) 0L else (1L << 55) + i }
      else (i + 1L) * (j + 5L)
    }
    val neg = Array.tabulate(n, 2)((i, j) => (i + 2L) * (j + 1L) * 7L)
    val zero = Array(3L, 3L, 0L, 9L) // dips: reset semantics, gauge-free
    val count = Array.tabulate(n)(i => zero(i) + pos(i).sum + neg(i).sum)
    val sum = Array(2.5, Double.NaN, -1e308, 0.125)
    CH.HistChunk(CH.CounterReset, -4, math.pow(2, -243), posSpans,
      negSpans, ts, count, zero, sum, pos, neg)
  }

  def advHistChunkBytes: Array[Byte] = CH.encodeHistChunk(advHistChunk)

  /** Float chunk with the IEEE specials on every tracked field: NaN
    * count, -0.0 and +Inf buckets, NaN zero count, ±Inf sums — each
    * must survive its own Gorilla window bit-exactly. */
  val advFloatHistChunk: CH.FloatHistChunk = {
    val posSpans = Vector(CH.Span(0, 2), CH.Span(2, 1)) // idx 0,1,3
    val ts = Array(1704067200000L, 1704067215000L, 1704067230000L,
      1704067245000L)
    val n = ts.length
    val pos = Array(
      Array(0.5, -0.0, 1.25),
      Array(0.5, Double.PositiveInfinity, 1.25),
      Array(Double.NaN, 2.0, -0.0),
      Array(4.0, 2.0, Double.MinPositiveValue))
    val neg = Array.fill(n)(Array.empty[Double])
    val zero = Array(0.0, Double.NaN, 0.0, -0.0)
    val count = Array(2.25, Double.NaN, 7.0, 8.5)
    val sum = Array(Double.NegativeInfinity, 1.5,
      Double.PositiveInfinity, Double.NaN)
    CH.FloatHistChunk(CH.UnknownCounterReset, 1, 0.0, posSpans,
      Vector.empty, ts, count, zero, sum, pos, neg)
  }

  def advFloatHistChunkBytes: Array[Byte] =
    CH.encodeFloatHistChunk(advFloatHistChunk)

  // ---- a complete TSDB block dir (index + segments + meta + tombstones) ----
  /** Two series: one with two XOR chunks, one with a histogram
    * chunk — built with the format primitives directly (no Spark),
    * so the golden block is a pure function of this object. */
  def writeGoldenBlock(dir: java.io.File): Unit = {
    dir.mkdirs()
    val segs = new F.ChunkSegmentWriter(new java.io.File(dir, "chunks"))
    val r1a = segs.append(ChunkCodec.encodeChunk(xorTs.take(5), xorVs.take(5)))
    val r1b = segs.append(ChunkCodec.encodeChunk(xorTs.drop(5), xorVs.drop(5)))
    val r2 = segs.append(histChunkBytes, F.EncHistogram)
    segs.close()
    val series = Seq(
      F.SeriesEntry(
        Seq("__name__" -> "golden_total", "job" -> "api"),
        Seq(F.ChunkMeta(xorTs.head, xorTs(4), r1a),
          F.ChunkMeta(xorTs(5), xorTs.last, r1b))),
      F.SeriesEntry(
        Seq("__name__" -> "golden_hist", "job" -> "api"),
        Seq(F.ChunkMeta(histChunk.ts.head, histChunk.ts.last, r2))))
    java.nio.file.Files.write(new java.io.File(dir, "index").toPath,
      F.encodeIndex(series))
    F.writeMeta(dir, ulid = "GOLDEN0000000000000000000000".take(26),
      mint = 1704067200000L, maxt = 1704153600000L,
      numSeries = 2, numSamples = (xorTs.length + histChunk.ts.length).toLong,
      numChunks = 3)
    F.writeEmptyTombstones(dir)
  }

  // ---- a multi-block dir with LIVE tombstones ----

  /** The deletion interval block A's tombstones carve out of the
    * golden_tomb series: [xorTs(1), xorTs(2)] inclusive. */
  def tombDeleted: (Long, Long) = (xorTs(1), xorTs(2))

  /** Two blocks over one series, the FIRST carrying a non-empty
    * tombstones file — the committed anchor for deletion-interval
    * decode + application (every other fixture's tombstones are
    * empty, so a reader that ignored them entirely would still pass
    * those). Block A holds samples 0-4 with [ts1, ts2] deleted;
    * block B holds samples 5-9 untouched. */
  def writeGoldenTombBlocks(root: java.io.File): Unit = {
    def one(name: String, ts: Array[Long], vs: Array[Double],
        del: Seq[(Long, Long)]): Unit = {
      val dir = new java.io.File(root, name)
      dir.mkdirs()
      val segs = new F.ChunkSegmentWriter(new java.io.File(dir, "chunks"))
      val ref = segs.append(ChunkCodec.encodeChunk(ts, vs))
      segs.close()
      val idxBytes = F.encodeIndex(Seq(F.SeriesEntry(
        Seq("__name__" -> "golden_tomb", "job" -> "api"),
        Seq(F.ChunkMeta(ts.head, ts.last, ref)))))
      java.nio.file.Files.write(new java.io.File(dir, "index").toPath,
        idxBytes)
      F.writeMeta(dir, ulid = name, mint = ts.head, maxt = ts.last + 1,
        numSeries = 1, numSamples = ts.length.toLong, numChunks = 1)
      if (del.isEmpty) F.writeEmptyTombstones(dir)
      else {
        val sref = new F.IndexReader(idxBytes)
          .postings("__name__", "golden_tomb").head
        F.writeTombstones(dir,
          del.map { case (a, b) => F.Tombstone(sref, a, b) })
      }
    }
    one("GOLDENTOMBA00000000000000A".take(26), xorTs.take(5),
      xorVs.take(5), Seq(tombDeleted))
    one("GOLDENTOMBB00000000000000B".take(26), xorTs.drop(5),
      xorVs.drop(5), Nil)
  }

  // ---- a native-histogram block dir readable by the Spark NH path ----

  /** Positive-only integer-histogram chunk: the [[histChunk]] layout
    * carries negative spans (full codec coverage), which the
    * positive-only Spark row model rejects by design — this one is
    * what a real native-histogram ingest produces. */
  val nhHistChunk: CH.HistChunk = {
    val posSpans = Vector(CH.Span(0, 2), CH.Span(3, 3)) // idx 0,1,5,6,7
    val ts = Array(1704067200000L, 1704067215000L, 1704067230000L)
    val n = ts.length
    val pos = Array.tabulate(n, 5)((i, j) => (i + 1L) * (2L * j + 1L))
    val zero = Array.tabulate(n)(i => 2L * i)
    val count = Array.tabulate(n)(i => zero(i) + pos(i).sum)
    val sum = Array(0.5, 12.25, 99.75)
    CH.HistChunk(CH.NotCounterReset, 2, 0.0, posSpans, Vector.empty,
      ts, count, zero, sum, pos, Array.fill(n)(Array.empty[Long]))
  }

  /** One block dir holding an EncHistogram series and an
    * EncFloatHistogram series — the committed anchor for the Spark
    * NH read path end-to-end (`readHistLabels` /
    * `readFloatHistLabels` over frozen bytes). Written under its own
    * root (`nhblock/block`) so family-specific reads can target it
    * without tripping over [[writeGoldenBlock]]'s negative-span
    * codec-coverage chunk. */
  def writeGoldenNhBlock(dir: java.io.File): Unit = {
    dir.mkdirs()
    val segs = new F.ChunkSegmentWriter(new java.io.File(dir, "chunks"))
    val rh = segs.append(CH.encodeHistChunk(nhHistChunk), F.EncHistogram)
    val rf = segs.append(CH.encodeFloatHistChunk(floatHistChunk),
      F.EncFloatHistogram)
    segs.close()
    val series = Seq(
      F.SeriesEntry(
        Seq("__name__" -> "golden_nh", "job" -> "api"),
        Seq(F.ChunkMeta(nhHistChunk.ts.head, nhHistChunk.ts.last, rh))),
      F.SeriesEntry(
        Seq("__name__" -> "golden_nh_float", "job" -> "api"),
        Seq(F.ChunkMeta(floatHistChunk.ts.head, floatHistChunk.ts.last, rf))))
    java.nio.file.Files.write(new java.io.File(dir, "index").toPath,
      F.encodeIndex(series))
    F.writeMeta(dir, ulid = "GOLDENNH00000000000000000000".take(26),
      mint = 1704067200000L, maxt = 1704153600000L,
      numSeries = 2,
      numSamples = (nhHistChunk.ts.length + floatHistChunk.ts.length).toLong,
      numChunks = 2)
    F.writeEmptyTombstones(dir)
  }
  // ---- an NHCB (custom-buckets) block dir ----

  /** One block holding the [[nhcbChunk]] as an EncHistogram series —
    * the committed anchor for the schema -53 BLOCK path (r10 froze
    * the NHCB chunk bin but not a block dir, so a regression in the
    * NHCB front-end's block read could have re-baked silently). */
  def writeGoldenNhcbBlock(dir: java.io.File): Unit = {
    dir.mkdirs()
    val segs = new F.ChunkSegmentWriter(new java.io.File(dir, "chunks"))
    val r = segs.append(nhcbChunkBytes, F.EncHistogram)
    segs.close()
    java.nio.file.Files.write(new java.io.File(dir, "index").toPath,
      F.encodeIndex(Seq(F.SeriesEntry(
        Seq("__name__" -> "golden_nhcb", "job" -> "api"),
        Seq(F.ChunkMeta(nhcbChunk.ts.head, nhcbChunk.ts.last, r))))))
    F.writeMeta(dir, ulid = "GOLDENNHCB000000000000000000".take(26),
      mint = 1704067200000L, maxt = 1704153600000L,
      numSeries = 1, numSamples = nhcbChunk.ts.length.toLong, numChunks = 1)
    F.writeEmptyTombstones(dir)
  }

  // ---- a SIGNED, reset-hint-bearing block dir ----

  /** One block holding the [[advHistChunk]] — negative spans AND the
    * CounterReset chunk header — as an EncHistogram series: the
    * committed anchor for the signed block read path plus the
    * header-hint surface (sample 0 must read `counter_reset`, later
    * samples `not_counter_reset`), the two r10 additions that had no
    * frozen BLOCK bytes. */
  def writeGoldenSignedBlock(dir: java.io.File): Unit = {
    dir.mkdirs()
    val segs = new F.ChunkSegmentWriter(new java.io.File(dir, "chunks"))
    val r = segs.append(advHistChunkBytes, F.EncHistogram)
    segs.close()
    java.nio.file.Files.write(new java.io.File(dir, "index").toPath,
      F.encodeIndex(Seq(F.SeriesEntry(
        Seq("__name__" -> "golden_signed", "job" -> "api"),
        Seq(F.ChunkMeta(advHistChunk.ts.head, advHistChunk.ts.last, r))))))
    F.writeMeta(dir, ulid = "GOLDENSIGNED0000000000000000".take(26),
      mint = 1704067200000L, maxt = 1704153600000L,
      numSeries = 1, numSamples = advHistChunk.ts.length.toLong,
      numChunks = 1)
    F.writeEmptyTombstones(dir)
  }

  // ---- the histogram appender's writers: shard cells and blocks ----

  /** `samplesPerChunk` of the ladder cells and blocks: small, so the
    * ladder below hits cap cuts. */
  val ladderCap = 4

  /** NHCB bound list of the ladder's custom-bucket variant (indexes
    * 0..3, 3 the +Inf overflow). */
  val ladderBounds: Array[Double] = Array(0.25, 1.0, 4.0)

  /** The appender's cut-ladder input, one (zero, idx, cnt, sum) per
    * sample, 15 s apart. With `samplesPerChunk` = [[ladderCap]] it
    * hits: a layout change (s1, bucket 2 appears), a null sum (s2), a
    * cap cut (s4), a zero-count drop (s5), a bucket decrease (s6), a
    * bucket vanishing (s7), a layout change (s9), a reset landing
    * exactly on a cap boundary (s11; under `exactLayout` s5 lands on
    * one) and a closing cap cut (s15). */
  private val ladder: Seq[(Long, Array[Int], Array[Long], java.lang.Double)] = Seq(
    (1L, Array(0, 1), Array(2L, 3L), 1.5),
    (2L, Array(0, 1, 2), Array(3L, 4L, 1L), 2.5),
    (2L, Array(0, 1, 2), Array(4L, 5L, 2L), null),
    (3L, Array(0, 1, 2), Array(5L, 6L, 3L), 4.0),
    (3L, Array(0, 1, 2), Array(6L, 7L, 4L), 5.0),
    (1L, Array(0, 1, 2), Array(6L, 7L, 4L), 5.5),
    (1L, Array(0, 1, 2), Array(1L, 7L, 4L), 6.0),
    (2L, Array(0, 2), Array(2L, 5L), 7.0),
    (3L, Array(0, 2), Array(3L, 6L), 8.0),
    (4L, Array(0, 2, 3), Array(4L, 7L, 1L), 9.0),
    (5L, Array(0, 2, 3), Array(5L, 8L, 2L), 10.0),
    (0L, Array(0, 2, 3), Array(1L, 1L, 1L), 0.5),
    (1L, Array(0, 2, 3), Array(2L, 2L, 2L), 1.0),
    (2L, Array(0, 2, 3), Array(3L, 3L, 3L), 1.5),
    (3L, Array(0, 2, 3), Array(4L, 4L, 4L), 2.0),
    (4L, Array(0, 2, 3), Array(5L, 5L, 5L), 2.5))

  /** The signed variant's negative side: bucket 3 appears at s3 (a
    * negative-only layout change) and bucket 1 drops at s13 (a
    * negative-only reset). */
  private def ladderNeg(i: Int): (Array[Int], Array[Long]) =
    if (i < 3) (Array(1), Array(i + 1L))
    else if (i == 13) (Array(1, 3), Array(1L, 1L))
    else (Array(1, 3), Array(i + 1L, i.toLong))

  /** Float counts of the ladder: affine, so every decrease survives,
    * and fractional, so the totals depend on summation order. */
  private def floatCount(c: Long): Double = c * 0.5 + 0.1

  val ladderVariants: Seq[String] = Seq("base", "signed", "nhcb", "gauge")

  def ladderSchema(variant: String): Int = variant match {
    case "nhcb" => CH.CustomBucketsSchema
    case "signed" => 1
    case _ => 0
  }

  /** The ladder as sample structs of [[ChunkencHistCodec]]'s cells:
    * (ts, zero, idx, cnt, sum, nidx, ncnt), double counts when
    * `float`. NHCB samples carry a zero zero count, unsigned ones
    * empty negative arrays. */
  def ladderSamples(variant: String, float: Boolean): ArrayData = {
    def counts(a: Array[Long]): ArrayData =
      if (float) new GenericArrayData(a.map(floatCount))
      else new GenericArrayData(a)
    new GenericArrayData(ladder.zipWithIndex.map { case ((z, idx, cnt, sum), i) =>
      val zero: Any =
        if (variant == "nhcb") (if (float) 0.0 else 0L)
        else if (float) floatCount(z) else z
      val (nidx, ncnt) =
        if (variant == "signed") ladderNeg(i) else (Array.empty[Int], Array.empty[Long])
      InternalRow(1704067200000L + 15000L * i, zero, new GenericArrayData(idx),
        counts(cnt), sum, new GenericArrayData(nidx), counts(ncnt))
    }.toArray[Any])
  }

  /** One [[ChunkencHistCodec]] cell of the ladder. */
  def ladderCellBytes(variant: String, float: Boolean,
      exactLayout: Boolean): Array[Byte] = {
    val cv = if (variant == "nhcb") ladderBounds else Array.empty[Double]
    val gauge = variant == "gauge"
    val s = ladderSamples(variant, float)
    ChunkencHistCodec.encodeArrayData(s, ladderSchema(variant), ladderCap, cv,
      gauge, exactLayout, float)
  }

  def ladderCellName(variant: String, float: Boolean,
      exactLayout: Boolean): String =
    s"cells/${if (float) "float" else "int"}_$variant" +
      s"${if (exactLayout) "_exact" else ""}.bin"

  /** Per-sample reset hints of the ladder blocks: s2 is a header-only
    * reset (its values grow), s6's value reset is overridden by
    * `not_counter_reset` and s11's (on a cap boundary) by `gauge`. */
  private def ladderHint(i: Int): String = i match {
    case 2 => "counter_reset"
    case 6 => "not_counter_reset"
    case 11 => "gauge"
    case _ => "unknown"
  }

  /** Write the signed ladder (series `job="ladder"`, with
    * [[ladderHint]]'s hints; its null sum written as 0.75) plus a
    * 3-sample series `job="short"` as one block under `root`, through
    * `writeHist`, or `writeFloatHist` when `float`. */
  def writeLadderBlock(spark: SparkSession, root: String,
      float: Boolean): Seq[String] = {
    val count = if (float) DoubleType else LongType
    val schema = StructType(Seq(
      StructField("__name__", StringType), StructField("job", StringType),
      StructField("ts", LongType), StructField("zero", count),
      StructField("idx", ArrayType(IntegerType)),
      StructField("cnt", ArrayType(count)), StructField("sum", DoubleType),
      StructField("nidx", ArrayType(IntegerType)),
      StructField("ncnt", ArrayType(count)), StructField("hint", StringType)))
    def counts(a: Array[Long]): Seq[Any] =
      if (float) a.toSeq.map(floatCount) else a.toSeq
    val signed = ladderSamples("signed", float)
    val rows = (0 until signed.numElements()).map { i =>
      val s = signed.getStruct(i, 7)
      val (z, idx, cnt, sum) = ladder(i)
      val (nidx, ncnt) = ladderNeg(i)
      Row("golden_ladder", "ladder", s.getLong(0),
        if (float) floatCount(z) else z, idx.toSeq, counts(cnt),
        if (sum == null) 0.75 else sum.doubleValue, nidx.toSeq, counts(ncnt),
        ladderHint(i))
    } ++ (0 until 3).map { i =>
      Row("golden_ladder", "short", 1704067200000L + 20000L * i,
        if (float) floatCount(i) else i.toLong, Seq(0), counts(Array(i + 1L)),
        i * 1.25, Seq.empty[Int], Seq.empty[Any], "unknown")
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val labels = Seq("__name__", "job")
    if (float) TsdbBlockStore.writeFloatHist(df, root, labels, "ts", "zero",
      "idx", "cnt", "sum", schema = 1, samplesPerChunk = ladderCap,
      negIdxCol = Some("nidx"), negCountsCol = Some("ncnt"),
      resetHintCol = Some("hint"))
    else TsdbBlockStore.writeHist(df, root, labels, "ts", "zero",
      "idx", "cnt", "sum", schema = 1, samplesPerChunk = ladderCap,
      negIdxCol = Some("nidx"), negCountsCol = Some("ncnt"),
      resetHintCol = Some("hint"))
  }
}

/** Regenerates `src/test/resources/golden/` from [[GoldenData]].
  * Run ONLY on an intentional format change; the committed bytes
  * are the regression anchor. */
object GoldenGen {
  def main(args: Array[String]): Unit = {
    val root = new java.io.File(
      args.headOption.getOrElse("src/test/resources/golden"))
    root.mkdirs()
    def put(name: String, bytes: Array[Byte]): Unit = {
      java.nio.file.Files.write(new java.io.File(root, name).toPath, bytes)
      println(f"$name%-24s ${bytes.length}%6d B")
    }
    put("xor_chunk.bin", GoldenData.xorChunkBytes)
    put("hist_chunk.bin", GoldenData.histChunkBytes)
    put("float_hist_chunk.bin", GoldenData.floatHistChunkBytes)
    put("nhcb_chunk.bin", GoldenData.nhcbChunkBytes)
    put("adv_hist_chunk.bin", GoldenData.advHistChunkBytes)
    put("adv_float_hist_chunk.bin", GoldenData.advFloatHistChunkBytes)
    put("chunk_blob.bin", GoldenData.chunkBlobBytes)
    val block = new java.io.File(root, "block")
    if (block.exists()) graft.tools.Fs.deleteRecursively(block)
    GoldenData.writeGoldenBlock(block)
    println("golden block dir written")
    val nhRoot = new java.io.File(root, "nhblock")
    if (nhRoot.exists()) graft.tools.Fs.deleteRecursively(nhRoot)
    GoldenData.writeGoldenNhBlock(new java.io.File(nhRoot, "block"))
    println("golden nh block dir written")
    val tombRoot = new java.io.File(root, "tombblock")
    if (tombRoot.exists()) graft.tools.Fs.deleteRecursively(tombRoot)
    GoldenData.writeGoldenTombBlocks(tombRoot)
    println("golden tombstoned block dirs written")
    val nhcbRoot = new java.io.File(root, "nhcbblock")
    if (nhcbRoot.exists()) graft.tools.Fs.deleteRecursively(nhcbRoot)
    GoldenData.writeGoldenNhcbBlock(new java.io.File(nhcbRoot, "block"))
    println("golden nhcb block dir written")
    val signedRoot = new java.io.File(root, "signedblock")
    if (signedRoot.exists()) graft.tools.Fs.deleteRecursively(signedRoot)
    GoldenData.writeGoldenSignedBlock(new java.io.File(signedRoot, "block"))
    println("golden signed block dir written")
    new java.io.File(root, "cells").mkdirs()
    for (v <- GoldenData.ladderVariants; float <- Seq(false, true);
         exact <- Seq(false, true))
      put(GoldenData.ladderCellName(v, float, exact),
        GoldenData.ladderCellBytes(v, float, exact))
    for ((name, float) <- Seq("histwriterblock" -> false,
        "floathistwriterblock" -> true)) {
      val dir = new java.io.File(root, name)
      if (dir.exists()) graft.tools.Fs.deleteRecursively(dir)
      GoldenData.writeLadderBlock(graft.SparkTestBase.spark, dir.getPath, float)
      println(s"golden $name dir written")
    }
  }
}
