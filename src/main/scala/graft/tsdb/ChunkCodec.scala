package graft.tsdb

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Gorilla/XOR chunk codec — the reference's physical sample format,
  * re-implemented on the JVM from the published algorithm (Facebook's
  * Gorilla paper, §4.1, as used by Prometheus `tsdb/chunkenc/xor.go`;
  * the reference re-encodes these chunks per data column in
  * schema/encoder.go:55 `Encode`).
  *
  * Chunk layout (bit-exact scheme, MSB-first bitstream):
  *   - 2-byte big-endian sample count
  *   - sample 0: timestamp as zigzag-varint (byte groups in the
  *     bitstream), value as 64 raw IEEE bits
  *   - sample 1: timestamp delta as uvarint, value XOR-encoded
  *   - sample ≥2: delta-of-delta varbit-encoded —
  *       dod == 0                  → '0'
  *       |dod| < 2^13              → '10'   + 14 bits
  *       |dod| < 2^16              → '110'  + 17 bits
  *       |dod| < 2^19              → '1110' + 20 bits
  *       else                      → '1111' + 64 bits
  *     (widths per the Prometheus variant of Gorilla; two's
  *     complement truncated to the bucket width)
  *   - value XOR encoding: '0' if XOR with the previous value is 0;
  *     else '1', then '0' to reuse the previous leading/trailing
  *     window or '1' + 5 bits leading-zero count (capped 31) +
  *     6 bits significant-bit count (64 stored as 0), then the
  *     significant bits.
  *
  * Blob framing (the reference's parquet cell format,
  * schema/encoder.go:202-214): repeated records of
  *   uvarint(encoding=1/XOR) uvarint(mint) uvarint(maxt)
  *   uvarint(len) chunkBytes
  * Decode filters records by [mint, maxt] overlap on the FRAME
  * HEADER alone (schema/encoder.go:274 `Decode`): a skipped chunk's
  * body is never parsed — the in-blob analog of the reference's
  * page-ranged IO, and [[ChunkCodecSpec]] pins it by planting
  * garbage bodies in out-of-range frames.
  *
  * Timestamps here are epoch MICROSECONDS (the fixture tables are
  * µs-precision Spark timestamps; the reference uses ms — the
  * scheme is width-agnostic, µs deltas just land in wider dod
  * buckets for irregular series).
  */
object ChunkCodec {

  /** Prometheus chunkenc.EncXOR ordinal, kept for frame compat. */
  final val EncXor = 1L

  /** Prometheus chunkenc.EncHistogram ordinal: frames whose bodies
    * are integer native-histogram chunks ([[ChunkencHistCodec]]). */
  final val EncHistogram = 2L

  /** Prometheus chunkenc.EncFloatHistogram ordinal (recording rules
    * emit float histograms). */
  final val EncFloatHistogram = 3L

  // ---------------------------------------------------------------
  // bit stream
  // ---------------------------------------------------------------

  private[tsdb] final class BitWriter(initial: Int = 64) {
    private var buf = new Array[Byte](initial)
    private var byteLen = 0 // bytes fully or partially used
    private var freeBits = 0 // unused low bits in buf(byteLen-1)

    private def ensure(n: Int): Unit =
      if (byteLen + n > buf.length) {
        val nb = new Array[Byte](math.max(buf.length * 2, byteLen + n))
        System.arraycopy(buf, 0, nb, 0, byteLen)
        buf = nb
      }

    def writeBit(b: Boolean): Unit = {
      if (freeBits == 0) { ensure(1); byteLen += 1; freeBits = 8 }
      if (b) buf(byteLen - 1) =
        (buf(byteLen - 1) | (1 << (freeBits - 1))).toByte
      freeBits -= 1
    }

    /** Write the low `n` bits of `v`, MSB first. */
    def writeBits(v: Long, n: Int): Unit = {
      var remaining = n
      while (remaining > 0) {
        if (freeBits == 0) { ensure(1); byteLen += 1; freeBits = 8 }
        val take = math.min(freeBits, remaining)
        val shifted = (v >>> (remaining - take)) & ((1L << take) - 1)
        buf(byteLen - 1) =
          (buf(byteLen - 1) | (shifted << (freeBits - take))).toByte
        freeBits -= take
        remaining -= take
      }
    }

    def writeByte(b: Int): Unit = writeBits(b.toLong & 0xffL, 8)

    /** Unsigned LEB128 as byte groups in the bit stream. */
    def writeUvarint(v: Long): Unit = {
      var x = v
      while (java.lang.Long.compareUnsigned(x, 0x80L) >= 0) {
        writeByte(((x & 0x7f) | 0x80).toInt)
        x >>>= 7
      }
      writeByte((x & 0x7f).toInt)
    }

    /** Signed zigzag varint. */
    def writeVarint(v: Long): Unit =
      writeUvarint((v << 1) ^ (v >> 63))

    def toBytes: Array[Byte] = java.util.Arrays.copyOf(buf, byteLen)
  }

  /** Reads the bit stream of `bytes[start, end)`; a read past `end`
    * (or past the array) throws a [[GraftFormatException]], so a chunk
    * never decodes its neighbour's bytes. */
  private[tsdb] final class BitReader(bytes: Array[Byte], start: Int, end: Int) {
    private var pos = start
    private var bitPos = 0
    private val limit = math.min(end, bytes.length)

    private def overrun(bits: Int): Nothing =
      throw new GraftFormatException("chunk", s"the chunk body at byte $start " +
        s"reads $bits bits past its ${end - start}-byte bound")

    def readBit(): Boolean = {
      if (pos >= limit) overrun(1)
      val b = ((bytes(pos) >> (7 - bitPos)) & 1) != 0
      bitPos += 1
      if (bitPos == 8) { bitPos = 0; pos += 1 }
      b
    }

    def readBits(n: Int): Long = {
      if (pos + ((bitPos + n + 7) >> 3) > limit)
        overrun(bitPos + n - (limit - pos) * 8)
      var v = 0L
      var remaining = n
      while (remaining > 0) {
        val avail = 8 - bitPos
        val take = math.min(avail, remaining)
        val chunk = (bytes(pos) >>> (avail - take)) & ((1 << take) - 1)
        v = (v << take) | chunk.toLong
        bitPos += take
        if (bitPos == 8) { bitPos = 0; pos += 1 }
        remaining -= take
      }
      v
    }

    def readByte(): Int = readBits(8).toInt

    def readUvarint(): Long = {
      var x = 0L
      var shift = 0
      var b = readByte()
      while ((b & 0x80) != 0) {
        x |= (b & 0x7fL) << shift
        shift += 7
        b = readByte()
      }
      x | ((b & 0x7fL) << shift)
    }

    def readVarint(): Long = {
      val u = readUvarint()
      (u >>> 1) ^ -(u & 1)
    }
  }

  // ---------------------------------------------------------------
  // single chunk
  // ---------------------------------------------------------------

  /** Encode one chunk. `ts` must be sorted ascending; arrays must be
    * the same length and ≤ 0xffff samples. Values roundtrip
    * bit-exactly (NaN payloads included — XOR is on raw bits).
    */
  def encodeChunk(ts: Array[Long], vs: Array[Double]): Array[Byte] = {
    require(ts.length == vs.length, "ts/vs length mismatch")
    require(ts.length <= 0xffff, s"chunk too large: ${ts.length}")
    val n = ts.length
    val w = new BitWriter()
    w.writeBits(n.toLong, 16)
    var prevT = 0L
    var prevDelta = 0L
    var prevBits = 0L
    var winLeading = -1
    var winTrailing = 0
    var i = 0
    while (i < n) {
      val t = ts(i)
      val bits = java.lang.Double.doubleToRawLongBits(vs(i))
      if (i == 0) {
        w.writeVarint(t)
        w.writeBits(bits, 64)
      } else {
        if (i == 1) {
          prevDelta = t - prevT
          require(prevDelta >= 0, "timestamps must be sorted")
          w.writeUvarint(prevDelta)
        } else {
          val delta = t - prevT
          require(delta >= 0, "timestamps must be sorted")
          val dod = delta - prevDelta
          prevDelta = delta
          if (dod == 0) w.writeBit(false)
          else if (-8191 <= dod && dod <= 8192) {
            w.writeBits(0x2, 2); w.writeBits(dod & 0x3fff, 14)
          } else if (-65535 <= dod && dod <= 65536) {
            w.writeBits(0x6, 3); w.writeBits(dod & 0x1ffff, 17)
          } else if (-524287 <= dod && dod <= 524288) {
            w.writeBits(0xe, 4); w.writeBits(dod & 0xfffff, 20)
          } else {
            w.writeBits(0xf, 4); w.writeBits(dod, 64)
          }
        }
        // value: XOR against previous
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
      prevT = t
      prevBits = bits
      i += 1
    }
    w.toBytes
  }

  /** Decode one chunk from `bytes[start, start+len)`. */
  def decodeChunk(bytes: Array[Byte], start: Int, len: Int): (Array[Long], Array[Double]) = {
    val r = new BitReader(bytes, start, start + len)
    val n = r.readBits(16).toInt
    val ts = new Array[Long](n)
    val vs = new Array[Double](n)
    var prevT = 0L
    var prevDelta = 0L
    var prevBits = 0L
    var winLeading = 0
    var winTrailing = 0
    var i = 0
    while (i < n) {
      if (i == 0) {
        prevT = r.readVarint()
        prevBits = r.readBits(64)
      } else {
        if (i == 1) prevDelta = r.readUvarint()
        else {
          var width = 0
          if (!r.readBit()) width = 0
          else if (!r.readBit()) width = 14
          else if (!r.readBit()) width = 17
          else if (!r.readBit()) width = 20
          else width = 64
          if (width > 0) {
            var dod = r.readBits(width)
            if (width != 64 && dod > (1L << (width - 1)))
              dod -= 1L << width // sign-extend the bucket
            prevDelta += dod
          }
        }
        prevT += prevDelta
        if (r.readBit()) {
          if (!r.readBit()) {
            // reuse window
            val sigbits = 64 - winLeading - winTrailing
            val sig = r.readBits(sigbits)
            prevBits ^= sig << winTrailing
          } else {
            winLeading = r.readBits(5).toInt
            var sigbits = r.readBits(6).toInt
            if (sigbits == 0) sigbits = 64
            winTrailing = 64 - winLeading - sigbits
            val sig = r.readBits(sigbits)
            prevBits ^= sig << winTrailing
          }
        }
      }
      ts(i) = prevT
      vs(i) = java.lang.Double.longBitsToDouble(prevBits)
      i += 1
    }
    (ts, vs)
  }

  // ---------------------------------------------------------------
  // framed blob (the parquet cell format)
  // ---------------------------------------------------------------

  /** Byte-aligned uvarint append (frame headers are byte-aligned,
    * unlike the in-chunk bit stream). */
  private[tsdb] def putUvarint(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    var x = v
    while (java.lang.Long.compareUnsigned(x, 0x80L) >= 0) {
      out.write(((x & 0x7f) | 0x80).toInt)
      x >>>= 7
    }
    out.write((x & 0x7f).toInt)
  }

  /** Append one frame: uvarint(enc) uvarint(mint) uvarint(maxt)
    * uvarint(len) body. */
  private[tsdb] def putFrame(out: java.io.ByteArrayOutputStream, enc: Long,
      mint: Long, maxt: Long, body: Array[Byte]): Unit = {
    putUvarint(out, enc)
    putUvarint(out, mint)
    putUvarint(out, maxt)
    putUvarint(out, body.length.toLong)
    out.write(body, 0, body.length)
  }

  /** Encode sorted samples into a framed blob, cutting a new chunk
    * every `samplesPerChunk` samples (the reference's
    * `samplesPerChunk` knob, schema/encoder.go:35; Prometheus
    * default 120).
    */
  def encodeBlob(ts: Array[Long], vs: Array[Double],
      samplesPerChunk: Int): Array[Byte] = {
    require(samplesPerChunk > 0, "samplesPerChunk must be positive")
    val out = new java.io.ByteArrayOutputStream()
    var off = 0
    while (off < ts.length) {
      val take = math.min(samplesPerChunk, ts.length - off)
      val ct = java.util.Arrays.copyOfRange(ts, off, off + take)
      val cv = java.util.Arrays.copyOfRange(vs, off, off + take)
      putFrame(out, EncXor, ct(0), ct(take - 1), encodeChunk(ct, cv))
      off += take
    }
    out.toByteArray
  }

  private[tsdb] def readUvarint(bytes: Array[Byte], pos: Array[Int]): Long = {
    var x = 0L
    var shift = 0
    var p = pos(0)
    var b = bytes(p); p += 1
    while ((b & 0x80) != 0) {
      x |= (b & 0x7fL) << shift
      shift += 7
      b = bytes(p); p += 1
    }
    pos(0) = p
    x | ((b & 0x7fL) << shift)
  }

  /** Decodes the body of the frame at `frameStart` of `blob`, the
    * `size` bytes from `bodyStart`: a body that runs past the blob, or
    * a chunk that reads past its body, throws naming the frame. */
  private[tsdb] def frameBody[T](blob: Array[Byte], frameStart: Int,
      bodyStart: Int, size: Int)(decode: => T): T = {
    if (size < 0 || bodyStart.toLong + size > blob.length)
      throw new GraftFormatException("chunk blob", s"the frame at byte " +
        s"$frameStart declares a $size-byte body past the blob's " +
        s"${blob.length} bytes")
    try decode catch {
      case e: GraftFormatException if e.source == "chunk" =>
        throw new GraftFormatException("chunk blob",
          s"the frame at byte $frameStart: ${e.getMessage}")
    }
  }

  /** A frame ordinal outside the chunkenc triple is corruption: throw
    * naming the offset of the frame that carries it. */
  private[tsdb] def requireKnown(enc: Long, frameStart: Int): Unit =
    if (enc != EncXor && enc != EncHistogram && enc != EncFloatHistogram)
      throw new GraftFormatException("chunk blob",
        s"unknown chunk encoding $enc in the frame at byte $frameStart")

  /** Frame headers `(enc, mint, maxt, bodyStart, size)` of a blob —
    * introspection for tests and storage tooling (the walk every
    * decode performs, headers only). */
  def frames(blob: Array[Byte]): Seq[(Long, Long, Long, Int, Int)] = {
    val out = Seq.newBuilder[(Long, Long, Long, Int, Int)]
    val pos = Array(0)
    while (pos(0) < blob.length) {
      val enc = readUvarint(blob, pos)
      val mint = readUvarint(blob, pos)
      val maxt = readUvarint(blob, pos)
      val size = readUvarint(blob, pos).toInt
      out += ((enc, mint, maxt, pos(0), size))
      pos(0) += size
    }
    out.result()
  }

  /** Decode every chunk of a blob whose [mint, maxt] frame header
    * overlaps [qmint, qmaxt] — inclusive bounds, exactly the
    * reference decoder's filter (encoder.go:310-318). Skipped
    * chunks' bodies are never parsed. Returns parallel arrays of
    * the kept samples; per-sample range trimming is the CALLER's
    * filter (the reference also returns whole chunks and lets the
    * iterator seek), unless `exact`: then only the samples inside
    * [qmint, qmaxt] are kept.
    */
  def decodeBlob(blob: Array[Byte], qmint: Long, qmaxt: Long,
      exact: Boolean = false): (Array[Long], Array[Double]) = {
    var outT = new Array[Long](64)
    var outV = new Array[Double](64)
    var n = 0
    val pos = Array(0)
    while (pos(0) < blob.length) {
      val frameStart = pos(0)
      val enc = readUvarint(blob, pos)
      // a reference-written cell may MIX encodings (one appender per
      // chunkenc family per column, schema/encoder.go:75): the float
      // reader skips histogram frames by header — theirs, not ours —
      // and only an ordinal outside the chunkenc triple is corruption
      requireKnown(enc, frameStart)
      val mint = readUvarint(blob, pos)
      val maxt = readUvarint(blob, pos)
      val size = readUvarint(blob, pos).toInt
      val bodyStart = pos(0)
      pos(0) = bodyStart + size
      if (enc == EncXor && mint <= qmaxt && maxt >= qmint) {
        val (ct, cv) = frameBody(blob, frameStart, bodyStart, size)(
          decodeChunk(blob, bodyStart, size))
        // a chunk's samples are ts-sorted: the kept ones are a slice
        var (from, until) = (0, ct.length)
        if (exact) {
          while (from < until && ct(from) < qmint) from += 1
          while (until > from && ct(until - 1) > qmaxt) until -= 1
        }
        val k = until - from
        if (n + k > outT.length) {
          val cap = math.max(outT.length * 2, n + k)
          outT = java.util.Arrays.copyOf(outT, cap)
          outV = java.util.Arrays.copyOf(outV, cap)
        }
        System.arraycopy(ct, from, outT, n, k)
        System.arraycopy(cv, from, outV, n, k)
        n += k
      }
    }
    (java.util.Arrays.copyOf(outT, n), java.util.Arrays.copyOf(outV, n))
  }

  // ---------------------------------------------------------------
  // codegen entry points (called from generated code — stable
  // signatures over Catalyst runtime types)
  // ---------------------------------------------------------------

  /** samples: array<struct<ts:long, value:double>> (sorted) → blob. */
  def encodeArrayData(samples: ArrayData, samplesPerChunk: Int): Array[Byte] =
    encodeArrayData(samples, 0, samples.numElements(), samplesPerChunk)

  /** [[encodeArrayData]] of the elements `[from, until)` of `samples`,
    * read in place. */
  def encodeArrayData(samples: ArrayData, from: Int, until: Int,
      samplesPerChunk: Int): Array[Byte] = {
    val n = until - from
    val ts = new Array[Long](n)
    val vs = new Array[Double](n)
    var i = 0
    while (i < n) {
      val row = samples.getStruct(from + i, 2)
      ts(i) = row.getLong(0)
      vs(i) = row.getDouble(1)
      i += 1
    }
    encodeBlob(ts, vs, samplesPerChunk)
  }

  /** Bitmask of chunkenc frame families present in a blob (bit =
    * enc ordinal: 2 = XOR, 4 = histogram, 8 = float histogram),
    * from the frame HEADERS only — no body is parsed. The shard
    * compactors use this as a loud-refusal guard: a family-specific
    * merge must never silently drop a foreign family's frames from
    * a mixed cell (a series that changed sample type).
    */
  def frameFamilyMask(blob: Array[Byte]): Int = {
    var mask = 0
    val pos = Array(0)
    while (pos(0) < blob.length) {
      val frameStart = pos(0)
      val enc = readUvarint(blob, pos)
      requireKnown(enc, frameStart)
      readUvarint(blob, pos) // mint
      readUvarint(blob, pos) // maxt
      val size = readUvarint(blob, pos).toInt
      pos(0) += size
      mask |= 1 << enc.toInt
    }
    mask
  }

  /** blob → array<struct<ts:long, value:double>> of chunks
    * overlapping [qmint, qmaxt]; `exact` keeps only the samples inside
    * [qmint, qmaxt]. */
  def decodeToArrayData(blob: Array[Byte], qmint: Long, qmaxt: Long,
      exact: Boolean = false): ArrayData = {
    val (ts, vs) = decodeBlob(blob, qmint, qmaxt, exact)
    val rows = new Array[Any](ts.length)
    var i = 0
    while (i < ts.length) {
      rows(i) = InternalRow(ts(i), vs(i))
      i += 1
    }
    new GenericArrayData(rows)
  }
}
