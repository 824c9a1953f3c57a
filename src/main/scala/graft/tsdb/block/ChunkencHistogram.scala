package graft.tsdb.block

import graft.tsdb.ChunkCodec.{BitReader, BitWriter}

/** Prometheus chunkenc HISTOGRAM chunk layout — encodings 2
  * (`EncHistogram`, integer native histograms) and 3
  * (`EncFloatHistogram`, float native histograms), the two chunk
  * families the reference converts from real TSDB blocks alongside
  * XOR (convert/convert.go:348 walks all three through
  * `chunkenc.Iterator`; schema/encoder.go:75-196 re-encodes each).
  * Implemented from the PUBLIC format documentation (Prometheus
  * repo, tsdb/docs/format/chunks.md "Histogram chunk data" /
  * "Float histogram chunk data") — no Prometheus code was consulted.
  *
  * Chunk data layout (MSB-first bitstream after the 2-byte count):
  *
  * {{{
  *   num_samples: uint16 BE
  *   (a fresh never-appended chunk is JUST this 2-byte zero count —
  *    flags and layout appear with the first sample)
  *   flags: 1 byte — counter-reset hint in the two MSB
  *     (00 unknown, 01 not-reset, 10 reset, 11 gauge)
  *   layout (shared by every sample in the chunk — chunkenc recodes
  *   the whole chunk when buckets appear and cuts a new chunk on
  *   shrinkage, so one chunk has ONE bucket layout):
  *     zero_threshold: 1 byte — 0 → 0.0; 255 → 8 raw IEEE bytes;
  *       b → 2^(b-244) (the frexp(t)=(0.5, e) form, b = e+243,
  *       covering 2^-243 … 2^10)
  *     schema: varbit_int
  *     positive spans: varbit_uint count, then per span
  *       varbit_uint length, varbit_int offset (gap from the
  *       previous span's end; the first span's offset is the
  *       absolute index of its first bucket)
  *     negative spans: same
  *   sample 0:
  *     ts varbit_int | count varbit_uint | zero_count varbit_uint |
  *     sum 64 raw bits | per positive bucket varbit_int |
  *     per negative bucket varbit_int
  *     (bucket values are the INTRA-histogram delta form: first
  *     bucket absolute, each next the difference to the previous
  *     bucket — the sparse-histogram in-memory convention)
  *   sample 1:
  *     ts delta varbit_uint | count delta varbit_int | zero_count
  *     delta varbit_int | sum XOR (Gorilla leading/trailing window,
  *     the xor.go scheme) | per bucket: delta of the intra-delta
  *     vs the previous sample, varbit_int
  *   sample i ≥ 2:
  *     ts delta-of-delta varbit_int | rest as sample 1
  * }}}
  *
  * Float histogram chunks share the header/layout/timestamp scheme;
  * count, zero_count, sum and every bucket are float64 — raw 64
  * bits at sample 0, then XOR-coded with ONE Gorilla window PER
  * FIELD (count, zero count, sum, and each bucket position track
  * their own leading/trailing state). Float bucket values are
  * ABSOLUTE counts per position (the FloatHistogram convention —
  * no intra-histogram delta form).
  *
  * varbit_int buckets (prefix → payload bits): 0 → ±0; 10 → 3;
  * 110 → 6; 1110 → 9; 11110 → 12; 111110 → 18; 1111110 → 25;
  * 11111110 → 56; 11111111 → 64 raw. An n-bit payload carries
  * two's complement in [-(2^(n-1)-1), 2^(n-1)] (decode subtracts
  * 2^n when the payload exceeds 2^(n-1)). varbit_uint uses the
  * same prefixes with unsigned payloads ≤ 2^n - 1.
  *
  * The custom-bucket schema (-53, NHCB — classic histograms
  * converted to the native representation) appends its bound list
  * to the layout, directly after the negative spans:
  *
  * {{{
  *   custom_values (present IFF schema == -53):
  *     num_values varbit_uint, then per value:
  *       value·1000 as varbit_uint when value·1000 is an integer in
  *       [0, 33554430] (bounds are overwhelmingly millisecond-ish
  *       decimals, so ≤25 payload bits); otherwise the 8-one-bit
  *       prefix 11111111 followed by the 64 raw IEEE bits. The
  *       escape is unambiguous because a regular value never needs
  *       more than the 25-bit bucket (33554430 < 2^25), so the
  *       56-bit prefix 11111110 is never emitted and 11111111 is
  *       free to mean "raw float64".
  * }}}
  *
  * Custom-bucket chunks carry no negative buckets and no zero
  * bucket (threshold 0); bucket index `i` addresses
  * `custom_values(i)` as its inclusive upper bound, with index
  * `num_values` denoting the +Inf overflow bucket — index
  * semantics live in the query layer, the codec persists indexes
  * and bounds verbatim. Encode enforces the structural invariants
  * (bounds present, strictly ascending, indexes within
  * [0, num_values], no negative spans, zero threshold 0) loudly.
  *
  * Verification scope is the same honest one as
  * [[TsdbBlockFormat]]: every constant follows the published spec
  * and [[ChunkencHistogramSpec]] pins the bit-level pieces, but the
  * sandbox has no Prometheus-written chunk to read, so what is
  * PROVEN is writer→reader bit-losslessness plus spec-pinned
  * structure (golden committed bytes guard reader/writer lockstep
  * drift).
  */
object ChunkencHistogram {

  // counter-reset hint values of the flags byte's two MSB
  final val UnknownCounterReset = 0x00
  final val CounterReset = 0x80
  final val NotCounterReset = 0x40
  final val GaugeType = 0xc0

  /** The NHCB schema ordinal — bucket layout defined by the
    * chunk's custom-values bound list (see object doc). */
  final val CustomBucketsSchema = -53

  /** One run of consecutive buckets: `offset` is the index gap from
    * the previous span's end (absolute index for the first span),
    * `length` the number of buckets. */
  final case class Span(offset: Int, length: Int)

  /** What the frame decoders read of a decoded chunk of either
    * family: the shared layout and per-sample fields, with each
    * sample's zero count boxed and its bucket counts as the family's
    * primitive array (`Array[Long]` / `Array[Double]`). */
  sealed trait HistChunkSamples {
    def flags: Int
    def schema: Int
    def posSpans: Vector[Span]
    def negSpans: Vector[Span]
    def ts: Array[Long]
    def sum: Array[Double]
    def customValues: Array[Double]
    def zeroAt(i: Int): Any
    def posAt(i: Int): AnyRef
    def negAt(i: Int): AnyRef
  }

  /** One decoded integer-histogram chunk: shared layout + parallel
    * per-sample arrays. Bucket counts are ABSOLUTE per expanded
    * bucket position (wire deltas are undone on decode). */
  final case class HistChunk(flags: Int, schema: Int,
      zeroThreshold: Double, posSpans: Vector[Span],
      negSpans: Vector[Span], ts: Array[Long], count: Array[Long],
      zeroCount: Array[Long], sum: Array[Double],
      posBuckets: Array[Array[Long]], negBuckets: Array[Array[Long]],
      customValues: Array[Double] = Array.empty) extends HistChunkSamples {
    def zeroAt(i: Int): Any = zeroCount(i)
    def posAt(i: Int): AnyRef = posBuckets(i)
    def negAt(i: Int): AnyRef = negBuckets(i)
  }

  /** Float-histogram chunk: counts are doubles, buckets absolute. */
  final case class FloatHistChunk(flags: Int, schema: Int,
      zeroThreshold: Double, posSpans: Vector[Span],
      negSpans: Vector[Span], ts: Array[Long], count: Array[Double],
      zeroCount: Array[Double], sum: Array[Double],
      posBuckets: Array[Array[Double]],
      negBuckets: Array[Array[Double]],
      customValues: Array[Double] = Array.empty) extends HistChunkSamples {
    def zeroAt(i: Int): Any = zeroCount(i)
    def posAt(i: Int): AnyRef = posBuckets(i)
    def negAt(i: Int): AnyRef = negBuckets(i)
  }

  // ---------------------------------------------------------------
  // Gorilla XOR window (the xor.go value scheme) over a shared bit
  // stream: the integer chunk runs its sums through one, the float
  // chunk one per field. Bit-exact incl. NaN payloads.
  // ---------------------------------------------------------------

  private final class XorWriter(w: BitWriter) {
    private var winLeading = -1
    private var winTrailing = 0
    def write(bits: Long, prevBits: Long): Unit = {
      val xor = bits ^ prevBits
      if (xor == 0L) w.writeBit(false)
      else {
        w.writeBit(true)
        val leading = math.min(java.lang.Long.numberOfLeadingZeros(xor), 31)
        val trailing = java.lang.Long.numberOfTrailingZeros(xor)
        if (winLeading != -1 && leading >= winLeading &&
            trailing >= winTrailing) {
          w.writeBit(false)
          w.writeBits(xor >>> winTrailing, 64 - winLeading - winTrailing)
        } else {
          winLeading = leading
          winTrailing = trailing
          val sigbits = 64 - leading - trailing
          w.writeBit(true)
          w.writeBits(leading.toLong, 5)
          w.writeBits(sigbits.toLong & 0x3f, 6) // 64 stored as 0
          w.writeBits(xor >>> trailing, sigbits)
        }
      }
    }
  }

  private final class XorReader(r: BitReader) {
    private var winLeading = 0
    private var winTrailing = 0
    def read(prevBits: Long): Long = {
      if (!r.readBit()) prevBits
      else if (!r.readBit()) {
        val sigbits = 64 - winLeading - winTrailing
        prevBits ^ (r.readBits(sigbits) << winTrailing)
      } else {
        winLeading = r.readBits(5).toInt
        var sigbits = r.readBits(6).toInt
        if (sigbits == 0) sigbits = 64
        winTrailing = 64 - winLeading - sigbits
        prevBits ^ (r.readBits(sigbits) << winTrailing)
      }
    }
  }

  // ---------------------------------------------------------------
  // varbit
  // ---------------------------------------------------------------

  private def fitsSigned(v: Long, n: Int): Boolean =
    -((1L << (n - 1)) - 1) <= v && v <= (1L << (n - 1))

  private[block] def putVarbitInt(w: BitWriter, v: Long): Unit = {
    if (v == 0) w.writeBit(false)
    else if (fitsSigned(v, 3)) { w.writeBits(0x2, 2); w.writeBits(v, 3) }
    else if (fitsSigned(v, 6)) { w.writeBits(0x6, 3); w.writeBits(v, 6) }
    else if (fitsSigned(v, 9)) { w.writeBits(0xe, 4); w.writeBits(v, 9) }
    else if (fitsSigned(v, 12)) { w.writeBits(0x1e, 5); w.writeBits(v, 12) }
    else if (fitsSigned(v, 18)) { w.writeBits(0x3e, 6); w.writeBits(v, 18) }
    else if (fitsSigned(v, 25)) { w.writeBits(0x7e, 7); w.writeBits(v, 25) }
    else if (fitsSigned(v, 56)) { w.writeBits(0xfe, 8); w.writeBits(v, 56) }
    else { w.writeBits(0xff, 8); w.writeBits(v, 64) }
  }

  private def fitsUnsigned(v: Long, n: Int): Boolean =
    java.lang.Long.compareUnsigned(v, 1L << n) < 0

  private[block] def putVarbitUint(w: BitWriter, v: Long): Unit = {
    if (v == 0) w.writeBit(false)
    else if (fitsUnsigned(v, 3)) { w.writeBits(0x2, 2); w.writeBits(v, 3) }
    else if (fitsUnsigned(v, 6)) { w.writeBits(0x6, 3); w.writeBits(v, 6) }
    else if (fitsUnsigned(v, 9)) { w.writeBits(0xe, 4); w.writeBits(v, 9) }
    else if (fitsUnsigned(v, 12)) { w.writeBits(0x1e, 5); w.writeBits(v, 12) }
    else if (fitsUnsigned(v, 18)) { w.writeBits(0x3e, 6); w.writeBits(v, 18) }
    else if (fitsUnsigned(v, 25)) { w.writeBits(0x7e, 7); w.writeBits(v, 25) }
    else if (fitsUnsigned(v, 56)) { w.writeBits(0xfe, 8); w.writeBits(v, 56) }
    else { w.writeBits(0xff, 8); w.writeBits(v, 64) }
  }

  /** Read the 1-8 bit bucket prefix (a '1'-run closed by '0' or by
    * the 8th bit) and return the payload width, 0 for value 0 and
    * 64 for the raw fallback. */
  private def readBucket(r: BitReader): Int = {
    var d = 0
    var i = 0
    var more = true
    while (i < 8 && more) {
      d <<= 1
      if (r.readBit()) d |= 1 else more = false
      i += 1
    }
    d match {
      case 0 => 0
      case 2 => 3
      case 6 => 6
      case 14 => 9
      case 30 => 12
      case 62 => 18
      case 126 => 25
      case 254 => 56
      case 255 => 64
      case _ => throw new IllegalStateException(s"bad varbit prefix $d")
    }
  }

  private[block] def readVarbitInt(r: BitReader): Long = {
    val sz = readBucket(r)
    if (sz == 0) 0L
    else if (sz == 64) r.readBits(64)
    else {
      val bits = r.readBits(sz)
      if (bits > (1L << (sz - 1))) bits - (1L << sz) else bits
    }
  }

  private[block] def readVarbitUint(r: BitReader): Long = {
    val sz = readBucket(r)
    if (sz == 0) 0L else r.readBits(sz)
  }

  // ---------------------------------------------------------------
  // zero threshold + spans
  // ---------------------------------------------------------------

  private[block] def putZeroThreshold(w: BitWriter, t: Double): Unit = {
    if (t == 0.0) w.writeByte(0)
    else {
      // frexp form: t = 0.5 · 2^exp with exp in [-242, 11] gets the
      // single-byte exp+243; anything else (non-powers, negatives,
      // NaN, subnormal tails) the raw-bits escape 255
      val exp = Math.getExponent(t) + 1
      if (t > 0.0 && exp >= -242 && exp <= 11 && t == math.scalb(0.5, exp))
        w.writeByte(exp + 243)
      else {
        w.writeByte(255)
        w.writeBits(java.lang.Double.doubleToRawLongBits(t), 64)
      }
    }
  }

  private[block] def readZeroThreshold(r: BitReader): Double = {
    val b = r.readBits(8).toInt
    b match {
      case 0 => 0.0
      case 255 => java.lang.Double.longBitsToDouble(r.readBits(64))
      case _ => math.scalb(0.5, b - 243)
    }
  }

  private def putSpans(w: BitWriter, spans: Seq[Span]): Unit = {
    putVarbitUint(w, spans.length.toLong)
    spans.foreach { s =>
      putVarbitUint(w, s.length.toLong)
      putVarbitInt(w, s.offset.toLong)
    }
  }

  private def readSpans(r: BitReader): Vector[Span] = {
    val n = readVarbitUint(r).toInt
    Vector.fill(n)({
      val len = readVarbitUint(r).toInt
      val off = readVarbitInt(r).toInt
      Span(off, len)
    })
  }

  /** Expand spans to the absolute bucket indexes, in order: a
    * cursor starts at 0, each span advances it by `offset` and
    * emits `length` consecutive indexes. */
  def bucketIndexes(spans: Seq[Span]): Array[Int] = {
    val out = new Array[Int](spans.iterator.map(_.length).sum)
    var idx = 0
    var k = 0
    spans.foreach { s =>
      idx += s.offset
      var j = 0
      while (j < s.length) { out(k) = idx; k += 1; idx += 1; j += 1 }
    }
    out
  }

  /** Inverse of [[bucketIndexes]]: minimal spans for a strictly
    * ascending index set (consecutive runs merge; each gap opens a
    * new span). */
  def spansFromIndexes(idx: Array[Int]): Vector[Span] = {
    if (idx.isEmpty) return Vector.empty
    val out = Vector.newBuilder[Span]
    var runStart = idx(0)
    var prev = idx(0)
    var cursor = 0
    var i = 1
    while (i < idx.length) {
      require(idx(i) > prev, "bucket indexes must be strictly ascending")
      if (idx(i) != prev + 1) {
        out += Span(runStart - cursor, prev - runStart + 1)
        cursor = prev + 1
        runStart = idx(i)
      }
      prev = idx(i)
      i += 1
    }
    out += Span(runStart - cursor, prev - runStart + 1)
    out.result()
  }

  // ---------------------------------------------------------------
  // custom values (NHCB bound list, schema -53)
  // ---------------------------------------------------------------

  /** Largest value·1000 the compact form carries — 2^25 - 2, so the
    * compact form never needs a bucket past 25 payload bits and the
    * all-ones prefix stays free for the raw-float escape. */
  private final val MaxCompactBound = 33554430L

  private[block] def putCustomBound(w: BitWriter, f: Double): Unit = {
    val tf = f * 1000.0
    // NaN fails every comparison and falls through to the escape
    if (tf >= 0.0 && tf <= MaxCompactBound.toDouble &&
        tf == Math.floor(tf))
      putVarbitUint(w, tf.toLong)
    else {
      w.writeBits(0xff, 8)
      w.writeBits(java.lang.Double.doubleToRawLongBits(f), 64)
    }
  }

  private[block] def readCustomBound(r: BitReader): Double = {
    val sz = readBucket(r)
    if (sz == 64) java.lang.Double.longBitsToDouble(r.readBits(64))
    else if (sz == 0) 0.0
    else r.readBits(sz) / 1000.0
  }

  private def putCustomValues(w: BitWriter, vals: Array[Double]): Unit = {
    putVarbitUint(w, vals.length.toLong)
    vals.foreach(putCustomBound(w, _))
  }

  private def readCustomValues(r: BitReader): Array[Double] = {
    val n = readVarbitUint(r).toInt
    Array.fill(n)(readCustomBound(r))
  }

  /** Structural invariants the encoder enforces loudly: NHCB chunks
    * carry an ascending bound list, positive buckets only (indexes
    * addressing [0, num_values] — num_values is the +Inf overflow),
    * no zero bucket; exponential chunks carry NO bound list. */
  private def checkCustom(schema: Int, customValues: Array[Double],
      posSpans: Seq[Span], negSpans: Seq[Span],
      zeroThreshold: Double): Unit = {
    if (schema == CustomBucketsSchema) {
      require(customValues.nonEmpty,
        "custom-bucket (NHCB) chunks require a non-empty bound list")
      var i = 1
      while (i < customValues.length) {
        require(customValues(i - 1) < customValues(i),
          "custom bounds must be strictly ascending")
        i += 1
      }
      require(negSpans.isEmpty,
        "custom-bucket histograms have no negative buckets")
      require(zeroThreshold == 0.0,
        "custom-bucket histograms have no zero bucket")
      val idx = bucketIndexes(posSpans)
      require(idx.isEmpty ||
        (idx.head >= 0 && idx.last <= customValues.length),
        s"custom bucket index out of range [0, ${customValues.length}]")
    } else require(customValues.isEmpty,
      "only the custom-bucket schema (-53) carries custom values")
  }

  // ---------------------------------------------------------------
  // union layout of sparse samples (HistAppender's flush)
  // ---------------------------------------------------------------

  /** Sorted union of the first `n` (each already ascending) index
    * arrays — the chunk's shared bucket layout. */
  private[block] def unionIndexes(idx: Array[Array[Int]], n: Int): Array[Int] = {
    val set = new java.util.TreeSet[Integer]()
    var i = 0
    while (i < n) {
      idx(i).foreach(v => set.add(v))
      i += 1
    }
    val out = new Array[Int](set.size())
    val it = set.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    out
  }

  /** Position of each of `idx`'s buckets in `union` (a superset). */
  private[block] def unionSlots(idx: Array[Int], union: Array[Int]): Array[Int] = {
    val slots = new Array[Int](idx.length)
    var k = 0
    var j = 0
    while (j < idx.length) {
      while (union(k) != idx(j)) k += 1
      slots(j) = k
      j += 1
    }
    slots
  }

  // ---------------------------------------------------------------
  // integer histogram chunk (EncHistogram, ordinal 2)
  // ---------------------------------------------------------------

  /** Encode one integer-histogram chunk. Per-sample bucket arrays
    * carry ABSOLUTE counts aligned with `bucketIndexes(posSpans)` /
    * `(negSpans)`; every sample shares the chunk layout (the
    * chunkenc invariant — callers recode into a superset layout
    * or cut a new chunk, exactly like Prometheus's appender). */
  def encodeHistChunk(c: HistChunk): Array[Byte] = {
    val n = c.ts.length
    require(n <= 0xffff, s"chunk too large: $n")
    require(c.count.length == n && c.zeroCount.length == n &&
      c.sum.length == n && c.posBuckets.length == n &&
      c.negBuckets.length == n, "parallel array length mismatch")
    val nPos = c.posSpans.iterator.map(_.length).sum
    val nNeg = c.negSpans.iterator.map(_.length).sum
    val w = new BitWriter()
    w.writeBits(n.toLong, 16)
    // a fresh chunkenc chunk is the bare count — no flags, no layout
    if (n == 0) return w.toBytes
    checkCustom(c.schema, c.customValues, c.posSpans, c.negSpans,
      c.zeroThreshold)
    if (c.schema == CustomBucketsSchema)
      require(c.zeroCount.forall(_ == 0L),
        "custom-bucket histograms have no zero bucket")
    w.writeBits(c.flags.toLong & 0xff, 8)
    putZeroThreshold(w, c.zeroThreshold)
    putVarbitInt(w, c.schema.toLong)
    putSpans(w, c.posSpans)
    putSpans(w, c.negSpans)
    if (c.schema == CustomBucketsSchema) putCustomValues(w, c.customValues)
    val xs = new XorWriter(w)
    // wire state: intra-histogram delta form of the previous sample
    var prevT = 0L
    var prevTDelta = 0L
    var prevSumBits = 0L
    val prevPos = new Array[Long](nPos)
    val prevNeg = new Array[Long](nNeg)
    var i = 0
    while (i < n) {
      require(c.posBuckets(i).length == nPos &&
        c.negBuckets(i).length == nNeg,
        s"sample $i bucket count differs from the span layout")
      if (i == 0) {
        putVarbitInt(w, c.ts(0))
        putVarbitUint(w, c.count(0))
        putVarbitUint(w, c.zeroCount(0))
        val bits = java.lang.Double.doubleToRawLongBits(c.sum(0))
        w.writeBits(bits, 64)
        prevSumBits = bits
        writeBucketLine(w, c.posBuckets(0), prevPos)
        writeBucketLine(w, c.negBuckets(0), prevNeg)
      } else {
        val tDelta = c.ts(i) - prevT
        require(tDelta >= 0, "timestamps must be sorted")
        if (i == 1) putVarbitUint(w, tDelta)
        else putVarbitInt(w, tDelta - prevTDelta)
        prevTDelta = tDelta
        putVarbitInt(w, c.count(i) - c.count(i - 1))
        putVarbitInt(w, c.zeroCount(i) - c.zeroCount(i - 1))
        val bits = java.lang.Double.doubleToRawLongBits(c.sum(i))
        xs.write(bits, prevSumBits)
        prevSumBits = bits
        writeBucketLine(w, c.posBuckets(i), prevPos)
        writeBucketLine(w, c.negBuckets(i), prevNeg)
      }
      prevT = c.ts(i)
      i += 1
    }
    w.toBytes
  }

  /** One sample's bucket row: convert absolute counts to the
    * intra-histogram delta form, emit the difference to the
    * previous sample's delta form, and roll `prevDelta`. Sample 0
    * starts from an all-zero `prevDelta`, which makes its emission
    * the plain delta form — exactly the spec's first-sample rule. */
  private def writeBucketLine(w: BitWriter, abs: Array[Long],
      prevDelta: Array[Long]): Unit = {
    var before = 0L
    var j = 0
    while (j < abs.length) {
      val d = abs(j) - before
      putVarbitInt(w, d - prevDelta(j))
      prevDelta(j) = d
      before = abs(j)
      j += 1
    }
  }

  /** Decode one integer-histogram chunk from
    * `bytes[start, start+len)`. */
  def decodeHistChunk(bytes: Array[Byte], start: Int,
      len: Int): HistChunk = {
    val r = new BitReader(bytes, start, start + len)
    val n = r.readBits(16).toInt
    if (n == 0)
      return HistChunk(UnknownCounterReset, 0, 0.0, Vector.empty,
        Vector.empty, Array.empty, Array.empty, Array.empty,
        Array.empty, Array.empty, Array.empty)
    val flags = r.readBits(8).toInt
    val zeroThreshold = readZeroThreshold(r)
    val schema = readVarbitInt(r).toInt
    val posSpans = readSpans(r)
    val negSpans = readSpans(r)
    val customValues =
      if (schema == CustomBucketsSchema) readCustomValues(r)
      else Array.empty[Double]
    val nPos = posSpans.iterator.map(_.length).sum
    val nNeg = negSpans.iterator.map(_.length).sum
    val ts = new Array[Long](n)
    val count = new Array[Long](n)
    val zeroCount = new Array[Long](n)
    val sum = new Array[Double](n)
    val posBuckets = new Array[Array[Long]](n)
    val negBuckets = new Array[Array[Long]](n)
    val xs = new XorReader(r)
    var tDelta = 0L
    var prevSumBits = 0L
    val posDelta = new Array[Long](nPos)
    val negDelta = new Array[Long](nNeg)
    var i = 0
    while (i < n) {
      if (i == 0) {
        ts(0) = readVarbitInt(r)
        count(0) = readVarbitUint(r)
        zeroCount(0) = readVarbitUint(r)
        prevSumBits = r.readBits(64)
      } else {
        if (i == 1) tDelta = readVarbitUint(r)
        else tDelta += readVarbitInt(r)
        ts(i) = ts(i - 1) + tDelta
        count(i) = count(i - 1) + readVarbitInt(r)
        zeroCount(i) = zeroCount(i - 1) + readVarbitInt(r)
        prevSumBits = xs.read(prevSumBits)
      }
      sum(i) = java.lang.Double.longBitsToDouble(prevSumBits)
      posBuckets(i) = readBucketLine(r, posDelta)
      negBuckets(i) = readBucketLine(r, negDelta)
      i += 1
    }
    HistChunk(flags, schema, zeroThreshold, posSpans, negSpans,
      ts, count, zeroCount, sum, posBuckets, negBuckets, customValues)
  }

  /** The (schema, custom bound list) of one integer-histogram chunk in
    * `bytes[start, start+len)`, from its header alone — no sample is
    * read; None for a chunk with no sample. */
  def histChunkSchema(bytes: Array[Byte], start: Int,
      len: Int): Option[(Int, Array[Double])] = {
    val r = new BitReader(bytes, start, start + len)
    if (r.readBits(16) == 0) return None
    r.readBits(8) // flags
    readZeroThreshold(r)
    val schema = readVarbitInt(r).toInt
    readSpans(r)
    readSpans(r)
    Some((schema,
      if (schema == CustomBucketsSchema) readCustomValues(r) else Array.empty[Double]))
  }

  /** Inverse of [[writeBucketLine]]: roll the delta-form state and
    * return this sample's absolute counts. */
  private def readBucketLine(r: BitReader,
      delta: Array[Long]): Array[Long] = {
    val abs = new Array[Long](delta.length)
    var acc = 0L
    var j = 0
    while (j < delta.length) {
      delta(j) += readVarbitInt(r)
      acc += delta(j)
      abs(j) = acc
      j += 1
    }
    abs
  }

  // ---------------------------------------------------------------
  // float histogram chunk (EncFloatHistogram, ordinal 3)
  // ---------------------------------------------------------------

  /** Encode one float-histogram chunk (absolute double counts per
    * position — the FloatHistogram convention). */
  def encodeFloatHistChunk(c: FloatHistChunk): Array[Byte] = {
    val n = c.ts.length
    require(n <= 0xffff, s"chunk too large: $n")
    require(c.count.length == n && c.zeroCount.length == n &&
      c.sum.length == n && c.posBuckets.length == n &&
      c.negBuckets.length == n, "parallel array length mismatch")
    val nPos = c.posSpans.iterator.map(_.length).sum
    val nNeg = c.negSpans.iterator.map(_.length).sum
    val w = new BitWriter()
    w.writeBits(n.toLong, 16)
    // a fresh chunkenc chunk is the bare count — no flags, no layout
    if (n == 0) return w.toBytes
    checkCustom(c.schema, c.customValues, c.posSpans, c.negSpans,
      c.zeroThreshold)
    if (c.schema == CustomBucketsSchema)
      require(c.zeroCount.forall(_ == 0.0),
        "custom-bucket histograms have no zero bucket")
    w.writeBits(c.flags.toLong & 0xff, 8)
    putZeroThreshold(w, c.zeroThreshold)
    putVarbitInt(w, c.schema.toLong)
    putSpans(w, c.posSpans)
    putSpans(w, c.negSpans)
    if (c.schema == CustomBucketsSchema) putCustomValues(w, c.customValues)
    // one Gorilla window per tracked field
    val xCnt = new XorWriter(w)
    val xZero = new XorWriter(w)
    val xSum = new XorWriter(w)
    val xPos = Array.fill(nPos)(new XorWriter(w))
    val xNeg = Array.fill(nNeg)(new XorWriter(w))
    var prevT = 0L
    var prevTDelta = 0L
    var pCnt = 0L
    var pZero = 0L
    var pSum = 0L
    val pPos = new Array[Long](nPos)
    val pNeg = new Array[Long](nNeg)
    def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)
    var i = 0
    while (i < n) {
      require(c.posBuckets(i).length == nPos &&
        c.negBuckets(i).length == nNeg,
        s"sample $i bucket count differs from the span layout")
      if (i == 0) {
        putVarbitInt(w, c.ts(0))
        pCnt = bits(c.count(0)); w.writeBits(pCnt, 64)
        pZero = bits(c.zeroCount(0)); w.writeBits(pZero, 64)
        pSum = bits(c.sum(0)); w.writeBits(pSum, 64)
        var j = 0
        while (j < nPos) {
          pPos(j) = bits(c.posBuckets(0)(j)); w.writeBits(pPos(j), 64); j += 1
        }
        j = 0
        while (j < nNeg) {
          pNeg(j) = bits(c.negBuckets(0)(j)); w.writeBits(pNeg(j), 64); j += 1
        }
      } else {
        val tDelta = c.ts(i) - prevT
        require(tDelta >= 0, "timestamps must be sorted")
        if (i == 1) putVarbitUint(w, tDelta)
        else putVarbitInt(w, tDelta - prevTDelta)
        prevTDelta = tDelta
        val cb = bits(c.count(i)); xCnt.write(cb, pCnt); pCnt = cb
        val zb = bits(c.zeroCount(i)); xZero.write(zb, pZero); pZero = zb
        val sb = bits(c.sum(i)); xSum.write(sb, pSum); pSum = sb
        var j = 0
        while (j < nPos) {
          val b = bits(c.posBuckets(i)(j))
          xPos(j).write(b, pPos(j)); pPos(j) = b; j += 1
        }
        j = 0
        while (j < nNeg) {
          val b = bits(c.negBuckets(i)(j))
          xNeg(j).write(b, pNeg(j)); pNeg(j) = b; j += 1
        }
      }
      prevT = c.ts(i)
      i += 1
    }
    w.toBytes
  }

  /** Decode one float-histogram chunk from
    * `bytes[start, start+len)`. */
  def decodeFloatHistChunk(bytes: Array[Byte], start: Int,
      len: Int): FloatHistChunk = {
    val r = new BitReader(bytes, start, start + len)
    val n = r.readBits(16).toInt
    if (n == 0)
      return FloatHistChunk(UnknownCounterReset, 0, 0.0, Vector.empty,
        Vector.empty, Array.empty, Array.empty, Array.empty,
        Array.empty, Array.empty, Array.empty)
    val flags = r.readBits(8).toInt
    val zeroThreshold = readZeroThreshold(r)
    val schema = readVarbitInt(r).toInt
    val posSpans = readSpans(r)
    val negSpans = readSpans(r)
    val customValues =
      if (schema == CustomBucketsSchema) readCustomValues(r)
      else Array.empty[Double]
    val nPos = posSpans.iterator.map(_.length).sum
    val nNeg = negSpans.iterator.map(_.length).sum
    val ts = new Array[Long](n)
    val count = new Array[Double](n)
    val zeroCount = new Array[Double](n)
    val sum = new Array[Double](n)
    val posBuckets = new Array[Array[Double]](n)
    val negBuckets = new Array[Array[Double]](n)
    val xCnt = new XorReader(r)
    val xZero = new XorReader(r)
    val xSum = new XorReader(r)
    val xPos = Array.fill(nPos)(new XorReader(r))
    val xNeg = Array.fill(nNeg)(new XorReader(r))
    var tDelta = 0L
    var pCnt = 0L
    var pZero = 0L
    var pSum = 0L
    val pPos = new Array[Long](nPos)
    val pNeg = new Array[Long](nNeg)
    def dbl(b: Long): Double = java.lang.Double.longBitsToDouble(b)
    var i = 0
    while (i < n) {
      if (i == 0) {
        ts(0) = readVarbitInt(r)
        pCnt = r.readBits(64)
        pZero = r.readBits(64)
        pSum = r.readBits(64)
        var j = 0
        while (j < nPos) { pPos(j) = r.readBits(64); j += 1 }
        j = 0
        while (j < nNeg) { pNeg(j) = r.readBits(64); j += 1 }
      } else {
        if (i == 1) tDelta = readVarbitUint(r)
        else tDelta += readVarbitInt(r)
        ts(i) = ts(i - 1) + tDelta
        pCnt = xCnt.read(pCnt)
        pZero = xZero.read(pZero)
        pSum = xSum.read(pSum)
        var j = 0
        while (j < nPos) { pPos(j) = xPos(j).read(pPos(j)); j += 1 }
        j = 0
        while (j < nNeg) { pNeg(j) = xNeg(j).read(pNeg(j)); j += 1 }
      }
      count(i) = dbl(pCnt)
      zeroCount(i) = dbl(pZero)
      sum(i) = dbl(pSum)
      posBuckets(i) = pPos.map(dbl)
      negBuckets(i) = pNeg.map(dbl)
      i += 1
    }
    FloatHistChunk(flags, schema, zeroThreshold, posSpans, negSpans,
      ts, count, zeroCount, sum, posBuckets, negBuckets, customValues)
  }
}
