package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tsdb.ChunkCodec

class ChunkCodecSpec extends AnyFunSuite {

  private def roundtrip(ts: Array[Long], vs: Array[Double]): Unit = {
    val bytes = ChunkCodec.encodeChunk(ts, vs)
    val (dt, dv) = ChunkCodec.decodeChunk(bytes, 0, bytes.length)
    assert(dt.toSeq == ts.toSeq)
    // bit-exact values (NaN payloads included)
    assert(dv.map(java.lang.Double.doubleToRawLongBits).toSeq ==
      vs.map(java.lang.Double.doubleToRawLongBits).toSeq)
  }

  test("single chunk roundtrips: constant, walk, resets, specials") {
    roundtrip(Array(1700000000000000L), Array(42.5))
    roundtrip(Array.empty[Long], Array.empty[Double])
    // constant series (xor == 0 path throughout)
    roundtrip((0 until 200).map(i => 1700000000000000L + i * 15000000L).toArray,
      Array.fill(200)(3.14))
    // counter with resets and irregular spacing
    val rnd = new scala.util.Random(7)
    var t = 1700000000000000L
    var v = 0.0
    val (tsB, vsB) = (0 until 500).map { _ =>
      t += 1000000L + rnd.nextInt(30000000)
      v = if (rnd.nextInt(50) == 0) 0.0 else v + rnd.nextDouble() * 10
      (t, v)
    }.unzip
    roundtrip(tsB.toArray, vsB.toArray)
    // special values: NaN (two payloads), infinities, -0.0, denormals
    roundtrip((0 until 8).map(i => 1000L + i).toArray,
      Array(Double.NaN,
        java.lang.Double.longBitsToDouble(0x7ff8000000000001L),
        Double.PositiveInfinity, Double.NegativeInfinity,
        -0.0, 0.0, java.lang.Double.MIN_VALUE, -1.7e308))
  }

  test("randomized roundtrips across dod buckets and value shapes") {
    val rnd = new scala.util.Random(1234)
    for (_ <- 0 until 30) {
      val n = 1 + rnd.nextInt(300)
      var t = math.abs(rnd.nextLong() % 2000000000000000L)
      val ts = new Array[Long](n)
      val vs = new Array[Double](n)
      for (i <- 0 until n) {
        // mix of regular and wildly irregular deltas to hit every
        // dod bucket including the 64-bit escape
        t += (rnd.nextInt(4) match {
          case 0 => 15000000L
          case 1 => rnd.nextInt(8000).toLong
          case 2 => rnd.nextInt(500000).toLong
          case _ => math.abs(rnd.nextLong() % 10000000000L)
        })
        ts(i) = t
        vs(i) = rnd.nextInt(4) match {
          case 0 => rnd.nextInt(100).toDouble // repeats / small ints
          case 1 => rnd.nextDouble()
          case 2 => java.lang.Double.longBitsToDouble(rnd.nextLong())
          case _ => if (i == 0) 0.0 else vs(i - 1) // exact repeat
        }
      }
      roundtrip(ts, vs)
    }
  }

  test("blob framing cuts at samplesPerChunk and roundtrips") {
    val n = 1000
    val ts = (0 until n).map(i => 1700000000000000L + i * 60000000L).toArray
    val vs = (0 until n).map(i => math.sin(i / 10.0) * 100).toArray
    val blob = ChunkCodec.encodeBlob(ts, vs, samplesPerChunk = 120)
    // frame count = ceil(1000 / 120) = 9
    var frames = 0
    var pos = 0
    def uv(): Long = {
      var x = 0L; var s = 0
      var b = blob(pos); pos += 1
      while ((b & 0x80) != 0) { x |= (b & 0x7fL) << s; s += 7; b = blob(pos); pos += 1 }
      x | ((b & 0x7fL) << s)
    }
    while (pos < blob.length) {
      assert(uv() == ChunkCodec.EncXor)
      val mint = uv(); val maxt = uv()
      assert(mint <= maxt)
      val size = uv()
      pos += size.toInt
      frames += 1
    }
    assert(frames == 9)
    val (dt, dv) = ChunkCodec.decodeBlob(blob, Long.MinValue, Long.MaxValue)
    assert(dt.toSeq == ts.toSeq && dv.toSeq == vs.toSeq)
  }

  test("decodeBlob skips non-overlapping chunks WITHOUT parsing bodies") {
    val mk = (base: Long) =>
      ((0 until 10).map(i => base + i * 1000L).toArray,
        (0 until 10).map(_.toDouble).toArray)
    val (t1, v1) = mk(10000L)
    val (t2, v2) = mk(50000L)
    val good1 = ChunkCodec.encodeBlob(t1, v1, 100)
    val good2 = ChunkCodec.encodeBlob(t2, v2, 100)
    // corrupt chunk 2's BODY (frame header intact): if the decoder
    // ever parsed skipped bodies this would throw or return junk
    val corrupted = good2.clone()
    var p = 0
    def skipUv(b: Array[Byte]): Unit = { while ((b(p) & 0x80) != 0) p += 1; p += 1 }
    skipUv(corrupted); skipUv(corrupted); skipUv(corrupted); skipUv(corrupted)
    java.util.Arrays.fill(corrupted, p, corrupted.length, 0x5a.toByte)
    val blob = good1 ++ corrupted
    // query overlapping only chunk 1 → chunk 2's garbage body is skipped
    val (dt, dv) = ChunkCodec.decodeBlob(blob, 10000L, 20000L)
    assert(dt.toSeq == t1.toSeq && dv.toSeq == v1.toSeq)
    // sanity: a query that DOES cover chunk 2 decodes garbage or
    // throws — proving the corruption was real
    val touched = try {
      val (gt, _) = ChunkCodec.decodeBlob(blob, 0L, Long.MaxValue)
      gt.toSeq != (t1 ++ t2).toSeq
    } catch { case _: Throwable => true }
    assert(touched)
  }

  test("a frame whose chunk reads past its body throws GraftFormatException naming " +
      "the frame: XOR, histogram and float-histogram decoders") {
    import graft.tsdb.{ChunkencHistCodec, GraftFormatException}
    import graft.tsdb.block.ChunkencHistogram
    import ChunkencHistogram.{FloatHistChunk, HistChunk, Span, UnknownCounterReset}
    def uvarint(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
      var x = v
      while (x >= 0x80L) { out.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
      out.write(x.toInt)
    }
    /** A frame of `enc` at [1000, 2000] declaring `body`. */
    def frame(enc: Long, body: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      Seq(enc, 1000L, 2000L, body.length.toLong).foreach(uvarint(out, _))
      out.write(body, 0, body.length)
      out.toByteArray
    }
    val xor = ChunkCodec.encodeChunk(Array(1000L, 2000L), Array(1.5, 2.5))
    val hist = ChunkencHistogram.encodeHistChunk(HistChunk(UnknownCounterReset, 0,
      0.0, Vector(Span(1, 1)), Vector.empty, Array(1000L), Array(7L), Array(2L),
      Array(0.5), Array(Array(5L)), Array(Array.empty[Long])))
    val floatHist = ChunkencHistogram.encodeFloatHistChunk(FloatHistChunk(
      UnknownCounterReset, 0, 0.0, Vector(Span(1, 1)), Vector.empty, Array(1000L),
      Array(7.0), Array(2.0), Array(0.5), Array(Array(5.0)), Array(Array.empty[Double])))
    for ((what, enc, body, decode) <- Seq[(String, Long, Array[Byte], Array[Byte] => Any)](
        ("XOR", ChunkCodec.EncXor, xor, ChunkCodec.decodeBlob(_, 0L, Long.MaxValue)),
        ("histogram", ChunkCodec.EncHistogram, hist,
          ChunkencHistCodec.decodeToArrayData(_, 0L, Long.MaxValue)),
        ("float histogram", ChunkCodec.EncFloatHistogram, floatHist,
          ChunkencHistCodec.decodeToArrayData(_, 0L, Long.MaxValue, float = true)))) {
      // a 0-byte first frame, then a valid one: the first chunk must not
      // read its neighbour's header as its sample count
      val valid = frame(enc, body)
      decode(valid)
      val e = intercept[GraftFormatException](decode(frame(enc, Array.emptyByteArray) ++ valid))
      assert(e.getMessage.contains("the frame at byte 0") &&
        e.getMessage.contains("0-byte bound"), s"$what: ${e.getMessage}")
      // a body declared past the blob's end
      val cut = intercept[GraftFormatException](decode(valid.dropRight(1)))
      assert(cut.getMessage.contains("the frame at byte 0"), s"$what: ${cut.getMessage}")
    }
    // the chunk decoders bound themselves too, blob or no blob
    val padded = hist ++ hist
    for ((what, decode) <- Seq[(String, () => Any)](
        "XOR" -> (() => ChunkCodec.decodeChunk(xor ++ xor, 0, 0)),
        "histogram" -> (() => ChunkencHistogram.decodeHistChunk(padded, 0, 1)),
        "float histogram" -> (() => ChunkencHistogram.decodeFloatHistChunk(padded, 0, 1)))) {
      val e = intercept[GraftFormatException](decode())
      assert(e.getMessage.contains("the chunk body at byte 0"), s"$what: ${e.getMessage}")
    }
  }

  test("codec density: dense series shapes beat the 16 B/sample row model") {
    // one day at 15 s scrape — the Prometheus-dense shape the codec
    // exists for (Gorilla paper §4.1 reports 1.37 B/sample on
    // production data, dominated by repeated values / regular ts)
    val n = 5760
    val base = 1700000000000000L
    def bps(ts: Array[Long], vs: Array[Double]): Double = {
      val b = ChunkCodec.encodeBlob(ts, vs, 120)
      b.length.toDouble / n
    }
    val regTs = (0 until n).map(i => base + i.toLong * 15000000L).toArray
    val rnd = new scala.util.Random(5)
    val constant = bps(regTs, Array.fill(n)(42.0))
    info(f"constant gauge, regular ts: $constant%.2f B/sample")
    assert(constant < 1.0) // dod=0 + xor=0 → ~2 bits/sample + headers
    val counterVs = { var v = 0.0; (0 until n).map { _ => v += rnd.nextInt(20); v }.toArray }
    val counter = bps(regTs, counterVs)
    info(f"integer-increment counter, regular ts: $counter%.2f B/sample")
    assert(counter < 6.0)
    val walkVs = { var v = 100.0; (0 until n).map { _ => v += (rnd.nextDouble() - 0.5); v }.toArray }
    val walk = bps(regTs, walkVs)
    info(f"full-mantissa random walk, regular ts: $walk%.2f B/sample")
    assert(walk < 12.0) // worst shape: mantissa noise defeats XOR
    val jitTs = { var t = base; (0 until n).map { _ => t += 14800000L + rnd.nextInt(400000); t }.toArray }
    val jitter = bps(jitTs, walkVs)
    info(f"full-mantissa walk, jittered ts: $jitter%.2f B/sample")
    assert(jitter < 15.0)
  }

  test("header-overlap filter keeps exactly the reference's chunks") {
    // three chunks: [0..9k], [10k..19k], [20k..29k]
    val ts = (0 until 30).map(i => i * 1000L).toArray
    val vs = ts.map(_.toDouble)
    val blob = ChunkCodec.encodeBlob(ts, vs, samplesPerChunk = 10)
    // query [9500, 10500]: overlaps chunk 1 (maxt 9000 < 9500? no —
    // chunk 1 spans 0..9000 so it does NOT overlap) and chunk 2
    val (dt, _) = ChunkCodec.decodeBlob(blob, 9500L, 10500L)
    assert(dt.toSeq == (10 until 20).map(_ * 1000L))
    // inclusive boundary: query ending exactly at a chunk's mint
    val (dt2, _) = ChunkCodec.decodeBlob(blob, 0L, 10000L)
    assert(dt2.length == 20) // chunks 1 and 2
    // empty intersection
    val (dt3, _) = ChunkCodec.decodeBlob(blob, 100000L, 200000L)
    assert(dt3.isEmpty)
  }
}
