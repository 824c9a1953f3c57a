package graft.tsdb.block

import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

import ChunkencHistogram._

/** What differs between the two native-histogram chunk families: the
  * integer one (encoding 2, `Array[Long]` counts, varbit body) and the
  * float one (encoding 3, `Array[Double]` counts, XOR body).
  * [[HistAppender]] and the frame decoders run everything else once.
  * `A` is the family's primitive count array; a zero count travels as
  * a long, the value itself (integer) or its raw IEEE bits (float), so
  * the appender's buffers stay primitive for both. */
private[tsdb] sealed abstract class HistFamily[A <: AnyRef](val encoding: Int,
    val countType: DataType) extends Serializable {

  /** The zero count at `ord` of `r`, as the appender's long. */
  def zeroCount(r: SpecializedGetters, ord: Int): Long

  /** The bucket counts of one sample. */
  def counts(a: ArrayData): A

  val noCounts: A

  /** The zero-count half of the counter-reset test. */
  def zeroDecreased(last: Long, cur: Long): Boolean

  /** True when any prev bucket's count exceeds cur's at the same index
    * (a missing cur bucket reads 0) — the bucket half of the
    * counter-reset test over two ascending sparse layouts, two-pointer,
    * no allocation. A bucket APPEARING in cur is growth, not a reset. */
  def decreased(prevIdx: Array[Int], prev: A, curIdx: Array[Int], cur: A): Boolean

  /** `h` with every (index, count) pair of one sample's buckets folded
    * in — the block writer's content hash. */
  def digest(h: Long, idx: ArrayData, cnt: ArrayData): Long

  /** One sample's counts on a union layout of `width` buckets, its own
    * buckets at `slots`, absent buckets absolute 0 (chunkenc's recode
    * when buckets appear mid-chunk). */
  def fill(cnt: A, slots: Array[Int], width: Int): A

  /** Encode one chunk whose samples all lie on (posSpans, negSpans):
    * `zero` holds [[zeroCount]]'s longs, `pos`/`neg` the filled `A`s;
    * each sample's count is its zero count plus every bucket. */
  def encode(flags: Int, schema: Int, zeroThreshold: Double,
      customValues: Array[Double], posSpans: Vector[Span],
      negSpans: Vector[Span], ts: Array[Long], zero: Array[Long],
      sum: Array[Double], pos: Array[AnyRef], neg: Array[AnyRef]): Array[Byte]

  /** Decode one chunk body from `bytes[start, start+len)`. */
  def decode(bytes: Array[Byte], start: Int, len: Int): HistChunkSamples
}

private[tsdb] object HistFamily {

  def apply(float: Boolean): HistFamily[_ <: AnyRef] = if (float) Floats else Ints

  object Ints extends HistFamily[Array[Long]](TsdbBlockFormat.EncHistogram, LongType) {
    def zeroCount(r: SpecializedGetters, ord: Int): Long = r.getLong(ord)
    def counts(a: ArrayData): Array[Long] = a.toLongArray()
    val noCounts: Array[Long] = Array.empty
    def zeroDecreased(last: Long, cur: Long): Boolean = cur < last
    def decreased(prevIdx: Array[Int], prev: Array[Long], curIdx: Array[Int],
        cur: Array[Long]): Boolean = {
      var j = 0
      var k = 0
      while (j < prevIdx.length) {
        while (k < curIdx.length && curIdx(k) < prevIdx(j)) k += 1
        val c = if (k < curIdx.length && curIdx(k) == prevIdx(j)) cur(k) else 0L
        if (c < prev(j)) return true
        j += 1
      }
      false
    }
    def digest(h0: Long, idx: ArrayData, cnt: ArrayData): Long = {
      var h = h0
      var j = 0
      while (j < idx.numElements()) {
        h = h * 31 + idx.getInt(j)
        h = h * 31 + cnt.getLong(j)
        j += 1
      }
      h
    }
    def fill(cnt: Array[Long], slots: Array[Int], width: Int): Array[Long] = {
      val abs = new Array[Long](width)
      var j = 0
      while (j < slots.length) { abs(slots(j)) = cnt(j); j += 1 }
      abs
    }
    def encode(flags: Int, schema: Int, zeroThreshold: Double,
        customValues: Array[Double], posSpans: Vector[Span],
        negSpans: Vector[Span], ts: Array[Long], zero: Array[Long],
        sum: Array[Double], pos: Array[AnyRef], neg: Array[AnyRef]): Array[Byte] = {
      val p = pos.map(_.asInstanceOf[Array[Long]])
      val q = neg.map(_.asInstanceOf[Array[Long]])
      val count = Array.tabulate(ts.length)(i => zero(i) + p(i).sum + q(i).sum)
      encodeHistChunk(HistChunk(flags, schema, zeroThreshold, posSpans,
        negSpans, ts, count, zero, sum, p, q, customValues))
    }
    def decode(bytes: Array[Byte], start: Int, len: Int): HistChunkSamples =
      decodeHistChunk(bytes, start, len)
  }

  object Floats extends HistFamily[Array[Double]](TsdbBlockFormat.EncFloatHistogram,
      DoubleType) {
    def zeroCount(r: SpecializedGetters, ord: Int): Long =
      java.lang.Double.doubleToRawLongBits(r.getDouble(ord))
    def counts(a: ArrayData): Array[Double] = a.toDoubleArray()
    val noCounts: Array[Double] = Array.empty
    def zeroDecreased(last: Long, cur: Long): Boolean =
      java.lang.Double.longBitsToDouble(cur) < java.lang.Double.longBitsToDouble(last)
    def decreased(prevIdx: Array[Int], prev: Array[Double], curIdx: Array[Int],
        cur: Array[Double]): Boolean = {
      var j = 0
      var k = 0
      while (j < prevIdx.length) {
        while (k < curIdx.length && curIdx(k) < prevIdx(j)) k += 1
        val c = if (k < curIdx.length && curIdx(k) == prevIdx(j)) cur(k) else 0.0
        if (c < prev(j)) return true
        j += 1
      }
      false
    }
    def digest(h0: Long, idx: ArrayData, cnt: ArrayData): Long = {
      var h = h0
      var j = 0
      while (j < idx.numElements()) {
        h = h * 31 + idx.getInt(j)
        h = h * 31 + java.lang.Double.doubleToRawLongBits(cnt.getDouble(j))
        j += 1
      }
      h
    }
    def fill(cnt: Array[Double], slots: Array[Int], width: Int): Array[Double] = {
      val abs = new Array[Double](width)
      var j = 0
      while (j < slots.length) { abs(slots(j)) = cnt(j); j += 1 }
      abs
    }
    def encode(flags: Int, schema: Int, zeroThreshold: Double,
        customValues: Array[Double], posSpans: Vector[Span],
        negSpans: Vector[Span], ts: Array[Long], zero: Array[Long],
        sum: Array[Double], pos: Array[AnyRef], neg: Array[AnyRef]): Array[Byte] = {
      val z = zero.map(java.lang.Double.longBitsToDouble)
      val p = pos.map(_.asInstanceOf[Array[Double]])
      val q = neg.map(_.asInstanceOf[Array[Double]])
      // left to right from the zero count: the order fixes the rounding
      val count = Array.tabulate(ts.length) { i =>
        var total = z(i)
        p(i).foreach(total += _)
        q(i).foreach(total += _)
        total
      }
      encodeFloatHistChunk(FloatHistChunk(flags, schema, zeroThreshold,
        posSpans, negSpans, ts, count, z, sum, p, q, customValues))
    }
    def decode(bytes: Array[Byte], start: Int, len: Int): HistChunkSamples =
      decodeFloatHistChunk(bytes, start, len)
  }
}

/** The Prometheus histogram appender of both families, for every graft
  * writer of histogram chunks: the block writer
  * ([[TsdbBlockStore.writeHist]] / `writeFloatHist`) and the cell codec
  * ([[graft.tsdb.ChunkencHistCodec]]: shard writers and merges,
  * `HistChunkStore`, the `graft_*hist_chunk_encode` SQL functions).
  *
  * A caller asks [[cutBefore]] for each sample, [[flush]]es the open
  * chunk when it says so, then [[add]]s the sample; it flushes once
  * more at the end of a series. The cut ladder: a counter RESET (zero
  * count or any same-index bucket count decreasing, a bucket
  * VANISHING) cuts and marks the next chunk CounterReset — checked
  * FIRST, so a reset landing exactly on a cap boundary is not filed as
  * a continuation; a `samplesPerChunk` cap cut marks it
  * NotCounterReset, and so does `exactLayout`'s cut wherever a
  * sample's positive or negative index set differs from the previous
  * one's. Gauge series keep GaugeType on every chunk and never
  * reset-cut. The last appended sample survives a flush (a reset
  * straddling a cap cut must still be seen) and is forgotten at
  * [[resetSeries]]. At flush the buffered sparse samples are re-laid
  * onto the chunk's UNION bucket layout, so one chunk keeps one span
  * set (the format invariant). */
private[tsdb] final class HistAppender[A <: AnyRef](val family: HistFamily[A],
    schema: Int, zeroThreshold: Double, customValues: Array[Double],
    gauge: Boolean, samplesPerChunk: Int, exactLayout: Boolean) {
  require(samplesPerChunk > 0, "samplesPerChunk must be positive")

  private val tsB = new Array[Long](samplesPerChunk)
  private val zeroB = new Array[Long](samplesPerChunk)
  private val sumB = new Array[Double](samplesPerChunk)
  private val idxB = new Array[Array[Int]](samplesPerChunk)
  private val cntB = new Array[AnyRef](samplesPerChunk)
  private val nIdxB = new Array[Array[Int]](samplesPerChunk)
  private val nCntB = new Array[AnyRef](samplesPerChunk)
  private var n = 0

  private val seriesFlags = if (gauge) GaugeType else UnknownCounterReset
  /** Header of the chunk being built, and of the one after the next flush. */
  private var flags = seriesFlags
  private var nextFlags = seriesFlags

  private var lastTs = 0L
  private var lastZero = 0L
  private var lastIdx: Array[Int] = null
  private var lastCnt: A = _
  private var lastNIdx: Array[Int] = null
  private var lastNCnt: A = _

  def size: Int = n

  /** The cut ladder for the next sample: true when it must open a new
    * chunk, whose header this records for [[flush]]. `hint` is a
    * counter-reset header value the sample carries: CounterReset
    * forces a reset, NotCounterReset and GaugeType rule one out,
    * UnknownCounterReset leaves it to the counts. */
  def cutBefore(zero: Long, idx: Array[Int], cnt: A, nidx: Array[Int], ncnt: A,
      hint: Int = UnknownCounterReset): Boolean = {
    val reset = !gauge && lastIdx != null && (
      if (hint != UnknownCounterReset) hint == CounterReset
      else family.zeroDecreased(lastZero, zero) ||
        family.decreased(lastIdx, lastCnt, idx, cnt) ||
        family.decreased(lastNIdx, lastNCnt, nidx, ncnt))
    if (reset) {
      nextFlags = CounterReset
      true
    } else if (n == samplesPerChunk || (exactLayout && lastIdx != null &&
        !(java.util.Arrays.equals(lastIdx, idx) &&
          java.util.Arrays.equals(lastNIdx, nidx)))) {
      if (!gauge) nextFlags = NotCounterReset
      true
    } else false
  }

  /** Buffer one sample; its index arrays must be strictly ascending and
    * its ts not below the previous sample's. */
  def add(ts: Long, zero: Long, sum: Double, idx: Array[Int], cnt: A,
      nidx: Array[Int], ncnt: A): Unit = {
    requireAscending(idx)
    requireAscending(nidx)
    require(lastIdx == null || ts >= lastTs, "samples must be sorted by timestamp")
    tsB(n) = ts; zeroB(n) = zero; sumB(n) = sum
    idxB(n) = idx; cntB(n) = cnt; nIdxB(n) = nidx; nCntB(n) = ncnt
    n += 1
    lastTs = ts; lastZero = zero; lastIdx = idx; lastCnt = cnt
    lastNIdx = nidx; lastNCnt = ncnt
  }

  /** Encode the buffered samples as one chunk and clear the buffer:
    * (chunk bytes, first ts, last ts). The next chunk takes the header
    * [[cutBefore]] recorded. */
  def flush(): (Array[Byte], Long, Long) = {
    val union = unionIndexes(idxB, n)
    val nUnion = unionIndexes(nIdxB, n)
    val pos = new Array[AnyRef](n)
    val neg = new Array[AnyRef](n)
    var i = 0
    while (i < n) {
      pos(i) = family.fill(cntB(i).asInstanceOf[A], unionSlots(idxB(i), union),
        union.length)
      neg(i) = family.fill(nCntB(i).asInstanceOf[A], unionSlots(nIdxB(i), nUnion),
        nUnion.length)
      i += 1
    }
    val data = family.encode(flags, schema, zeroThreshold, customValues,
      spansFromIndexes(union), spansFromIndexes(nUnion),
      java.util.Arrays.copyOf(tsB, n), java.util.Arrays.copyOf(zeroB, n),
      java.util.Arrays.copyOf(sumB, n), pos, neg)
    val res = (data, tsB(0), tsB(n - 1))
    n = 0
    flags = nextFlags
    res
  }

  /** Forget the last sample at a series (or block) boundary: the next
    * chunk starts with the series header and no prior sample, like a
    * fresh Prometheus head chunk. */
  def resetSeries(): Unit = {
    flags = seriesFlags
    nextFlags = seriesFlags
    lastIdx = null
    lastNIdx = null
  }

  /** The flush's union fill assumes each index array is strictly
    * ascending — an unsorted or duplicated one would silently drop
    * bucket counts — so [[add]] fails loudly instead, mirroring
    * `spansFromIndexes`' require. */
  private def requireAscending(idx: Array[Int]): Unit = {
    var j = 1
    while (j < idx.length) {
      require(idx(j) > idx(j - 1), "bucket index arrays must be strictly ascending")
      j += 1
    }
  }
}
