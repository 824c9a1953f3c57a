package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.ArrayType

import graft.functions.{ChunkencFloatHistDecode, ChunkencHistDecode, ChunkencHistEncode, HistChunkExpressions}
import graft.tsdb.{ChunkCodec, ChunkencHistCodec, GraftFormatException, HistChunkStore, Matcher}

/** Graft's histogram chunk cells ([[graft.tsdb.ChunkencHistCodec]]:
  * frames of real Prometheus chunkenc histogram chunks) as the chunked
  * store and the SQL functions use them — each chunk keeps one bucket
  * layout, so samples decode exactly as written: bit-exact roundtrips
  * across layout changes, schemas, NaN sums and empty histograms;
  * frame-header skip; density; the Catalyst expression surface; the
  * [[HistChunkStore]] write/select/merge paths; and the loud failures
  * (a store in the older body layout, the other family, mixed sums,
  * unknown frame ordinals).
  */
class HistChunkCodecSpec extends SparkSpec {
  import spark.implicits._

  /** Parallel sample arrays of one series; `sums` null = no sums. */
  private case class Samples(ts: Array[Long], zero: Array[Double],
      idx: Array[Array[Int]], cnt: Array[Array[Double]], sums: Array[Double])

  private def bits(x: Array[Double]) =
    x.map(java.lang.Double.doubleToRawLongBits).toSeq

  /** Encode through the `graft_(float_)hist_chunk_encode` expression;
    * integer families carry the (integral) doubles as longs. */
  private def encode(s: Samples, schema: Int, spc: Int, float: Boolean): Array[Byte] = {
    def counts(a: Array[Double]): ArrayData =
      new GenericArrayData(if (float) a else a.map(_.toLong))
    val rows = s.ts.indices.map { i =>
      InternalRow(s.ts(i), if (float) s.zero(i) else s.zero(i).toLong,
        new GenericArrayData(s.idx(i)), counts(s.cnt(i)),
        if (s.sums == null) null else s.sums(i),
        new GenericArrayData(Array.empty[Int]), counts(Array.empty))
    }
    ChunkencHistEncode(Literal(new GenericArrayData(rows.toArray),
        ArrayType(HistChunkExpressions.sampleType(float))), schema, spc)
      .eval().asInstanceOf[Array[Byte]]
  }

  /** Decode through the `graft_(float_)hist_chunk_decode` expression:
    * the samples and each one's schema. */
  private def decode(blob: Array[Byte], lo: Long, hi: Long,
      float: Boolean): (Samples, Seq[Int]) = {
    val args = Seq(Literal(blob), Literal(lo), Literal(hi))
    val a = (if (float) ChunkencFloatHistDecode(args(0), args(1), args(2))
      else ChunkencHistDecode(args(0), args(1), args(2)))
      .eval().asInstanceOf[ArrayData]
    val rs = (0 until a.numElements()).map(a.getStruct(_, 9))
    def counts(d: ArrayData): Array[Double] =
      if (float) d.toDoubleArray() else d.toLongArray().map(_.toDouble)
    (Samples(rs.map(_.getLong(0)).toArray,
      rs.map(r => if (float) r.getDouble(1) else r.getLong(1).toDouble).toArray,
      rs.map(_.getArray(2).toIntArray()).toArray,
      rs.map(r => counts(r.getArray(3))).toArray,
      rs.map(_.getDouble(4)).toArray), rs.map(_.getInt(5)))
  }

  /** Bit-exact, per sample's own layout; an absent sum decodes NaN. */
  private def assertSame(a: Samples, b: Samples): Unit = {
    assert(a.ts.toSeq == b.ts.toSeq, "ts")
    assert(bits(a.zero) == bits(b.zero), "zero")
    assert(a.idx.map(_.toSeq).toSeq == b.idx.map(_.toSeq).toSeq, "idx")
    assert(a.cnt.map(bits).toSeq == b.cnt.map(bits).toSeq, "cnt")
    if (a.sums == null) assert(b.sums.forall(_.isNaN), "absent sums read NaN")
    else assert(bits(a.sums) == bits(b.sums), "sums bits")
  }

  // a counter-ish series: regular µs timestamps, cumulative counts,
  // an explicit zero bucket at sample 0, bucket 3 appears at sample 2
  // (layout change), sums incl. a NaN
  private def fixture: Samples = Samples(
    ts = Array(1000000L, 16000000L, 31000000L, 46000000L, 61000000L),
    zero = Array(0, 2, 5, 5, 9),
    idx = Array(
      Array(-1, 0, 2), Array(-1, 0, 2), Array(-1, 0, 2, 3),
      Array(-1, 0, 2, 3), Array(-1, 0, 2, 3)),
    cnt = Array(
      Array(1, 0, 2), Array(3, 4, 7), Array(3, 6, 9, 1),
      Array(5, 6, 12, 1), Array(5, 8, 12, 4)),
    sums = Array(0.25, 7.75, 19.5, Double.NaN, 42.0))

  test("chunk roundtrip is bit-exact across layout changes, NaN sums, schema") {
    val enc = encode(fixture, schema = 2, spc = 120, float = false)
    // the layout change cuts: one chunk per layout
    assert(ChunkCodec.frames(enc).map(_._2) == Seq(1000000L, 31000000L))
    val (dec, schemas) = decode(enc, 0L, Long.MaxValue, float = false)
    assert(schemas.forall(_ == 2))
    assertSame(fixture, dec)
  }

  test("sum-less series and empty histograms roundtrip") {
    val s = Samples(
      ts = Array(10L, 20L, 30L),
      zero = Array(0, 0, 4),
      idx = Array(Array.empty[Int], Array(1), Array.empty[Int]),
      cnt = Array(Array.empty[Double], Array(9), Array.empty[Double]),
      sums = null)
    val enc = encode(s, schema = -3, spc = 120, float = false)
    val (dec, schemas) = decode(enc, 0L, Long.MaxValue, float = false)
    assert(schemas.forall(_ == -3))
    assertSame(s, dec)
    // the store keeps "no sum" apart from NaN: a sum-less write reads null
    val ts = (d: Int) => java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    val dir = "/tmp/graft_test_histblk_nosum"
    HistChunkStore.write(Seq(("api", ts(1), 0L, Seq.empty[Int], Seq.empty[Long]),
        ("api", ts(2), 4L, Seq(1), Seq(9L)))
      .toDF("job", "ts", "zero_count", "pos_idx", "pos_counts"),
      dir, Seq("job"), "ts", "zero_count", "pos_idx", "pos_counts")
    val back = HistChunkStore.select(spark, dir, "2024-01-01", "2024-02-01",
        Nil, Seq("job"), "ts")
      .collect().map(r => (r.getTimestamp(1), r.getLong(2), r.getSeq[Int](3),
        r.getSeq[Long](4), r.isNullAt(5))).toSet
    assert(back == Set((ts(1), 0L, Seq(), Seq(), true),
      (ts(2), 4L, Seq(1), Seq(9L), true)))
  }

  test("blob framing cuts chunks and the header filter skips unparsed bodies") {
    val f = fixture
    // 2 samples per chunk → 3 chunks: [0,1], [2,3], [4]
    val blob = encode(f, schema = 0, spc = 2, float = false)
    val (all, _) = decode(blob, 0L, Long.MaxValue, float = false)
    assertSame(f, all)
    // range covering only the middle chunk
    val (mid, _) = decode(blob, 31000000L, 46000000L, float = false)
    assert(mid.ts.toSeq == Seq(31000000L, 46000000L))
    // corrupt the LAST chunk's body; a query that excludes it must
    // still decode the first two chunks intact (body never parsed)
    val fs = ChunkCodec.frames(blob)
    assert(fs.length == 3 && fs.forall(_._1 == ChunkCodec.EncHistogram))
    assert(fs.map(f => (f._2, f._3)) ==
      Seq((1000000L, 16000000L), (31000000L, 46000000L),
        (61000000L, 61000000L)))
    val corrupted = blob.clone()
    java.util.Arrays.fill(corrupted, fs.last._4, corrupted.length, 0x5a.toByte)
    val (kept, _) = decode(corrupted, 0L, 46000000L, float = false)
    assert(kept.ts.toSeq == f.ts.take(4).toSeq)
    val touched = try {
      val (g, _) = decode(corrupted, 0L, Long.MaxValue, float = false)
      bits(g.zero) != bits(f.zero) || g.cnt.map(bits).toSeq != f.cnt.map(bits).toSeq
    } catch { case _: Throwable => true }
    assert(touched, "corruption must be observable when the range covers it")
  }

  /** One day at 15 s scrape of an 8-bucket cumulative counter growing
    * by small steps — the Prometheus-dense histogram shape. */
  private def dense(seed: Int, step: Double, base: Double): Samples = {
    val n = 5760
    val rnd = new scala.util.Random(seed)
    val ts = (0 until n).map(i => 1700000000000000L + i.toLong * 15000000L).toArray
    val cnt = new Array[Array[Double]](n)
    val zero = new Array[Double](n)
    var running = Array.fill(8)(base)
    var z = base
    for (i <- 0 until n) {
      running = running.map(v => v + rnd.nextInt(3) * step)
      z += rnd.nextInt(2) * step
      cnt(i) = running.clone()
      zero(i) = z
    }
    Samples(ts, zero, Array.fill(n)(Array(-2, -1, 0, 1, 2, 3, 4, 5)), cnt, null)
  }

  test("codec density: layout reuse + count deltas beat absolute re-encode") {
    val s = dense(7, 1.0, 0.0)
    val blob = encode(s, 0, 120, float = false)
    val bps = blob.length.toDouble / s.ts.length
    info(f"8-bucket incrementing counter, regular ts: $bps%.2f B/sample")
    // row model: 8 longs + zero + ts ≈ 80+ B/sample; deltas ≈ 1 B per
    // touched bucket → well under 16
    assert(bps < 16.0)
    val (dec, _) = decode(blob, 0L, Long.MaxValue, float = false)
    assert(dec.cnt.last.toSeq == s.cnt.last.toSeq)
  }

  test("Catalyst expressions: encode → decode roundtrip through a DataFrame") {
    val df = Seq(
      ("a", 1000L, 0L, Seq(1, 2), Seq(3L, 5L), Some(1.25)),
      ("a", 2000L, 1L, Seq(1, 2), Seq(4L, 9L), Some(4.5)),
      ("a", 3000L, 1L, Seq(1, 2, 4), Seq(4L, 11L, 2L), Some(8.0)),
      ("b", 1500L, 2L, Seq(0), Seq(7L), Some(0.5))
    ).toDF("series", "ts", "zero", "idx", "cnt", "sum")
    val sample = HistChunkExpressions.sample(float = false, col("ts"), "zero",
      "idx", "cnt", col("sum"), Nil, None, None)
    val enc = ColumnBridge.column(ChunkencHistEncode(
      ColumnBridge.expression(sort_array(collect_list(sample))),
      histSchema = 1, samplesPerChunk = 2))
    val dec = ColumnBridge.column(ChunkencHistDecode(
      ColumnBridge.expression(col("blob")),
      ColumnBridge.expression(lit(0L)),
      ColumnBridge.expression(lit(Long.MaxValue))))
    val out = df.groupBy("series").agg(enc.as("blob"))
      .select(col("series"), explode(dec).as("s"))
      .select(col("series"), col("s.ts"), col("s.zero"),
        col("s.idx"), col("s.cnt"), col("s.sum"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getSeq[Int](3), r.getSeq[Long](4), r.getDouble(5)))
      .toSet
    assert(out == Set(
      ("a", 1000L, 0L, Seq(1, 2), Seq(3L, 5L), 1.25),
      ("a", 2000L, 1L, Seq(1, 2), Seq(4L, 9L), 4.5),
      ("a", 3000L, 1L, Seq(1, 2, 4), Seq(4L, 11L, 2L), 8.0),
      ("b", 1500L, 2L, Seq(0), Seq(7L), 0.5)))
  }

  test("HistChunkStore: write → select roundtrip and mergeBlocks LWW") {
    val ts = (d: Int) => java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    val blockA = Seq(
      ("api", ts(1), 1L, Seq(1), Seq(10L), 2.5),
      ("api", ts(2), 2L, Seq(1), Seq(20L), 5.0),
      ("web", ts(1), 0L, Seq(2), Seq(7L), 1.0)
    ).toDF("job", "ts", "zero_count", "pos_idx", "pos_counts", "hsum")
    // block B overlaps A on (api, Jan 2) with a REVISED histogram
    val blockB = Seq(
      ("api", ts(2), 3L, Seq(1, 2), Seq(21L, 4L), 9.0),
      ("api", ts(3), 4L, Seq(1, 2), Seq(25L, 6L), 12.0)
    ).toDF("job", "ts", "zero_count", "pos_idx", "pos_counts", "hsum")
    val dirA = "/tmp/graft_test_histblk_a"
    val dirB = "/tmp/graft_test_histblk_b"
    val out = "/tmp/graft_test_histblk_m"
    HistChunkStore.write(blockA, dirA, Seq("job"), "ts",
      "zero_count", "pos_idx", "pos_counts", Some("hsum"))
    HistChunkStore.write(blockB, dirB, Seq("job"), "ts",
      "zero_count", "pos_idx", "pos_counts", Some("hsum"))
    // select with matcher + range: only (api, Jan 1..2)
    val sel = HistChunkStore.select(spark, dirA,
        "2024-01-01", "2024-01-03", Seq(Matcher.Eq("job", "api")),
        Seq("job"), "ts")
      .collect().map(r => (r.getString(0), r.getTimestamp(1),
        r.getLong(2), r.getSeq[Int](3), r.getSeq[Long](4), r.getDouble(5)))
      .toSet
    assert(sel == Set(
      ("api", ts(1), 1L, Seq(1), Seq(10L), 2.5),
      ("api", ts(2), 2L, Seq(1), Seq(20L), 5.0)))
    // merge: B (later dir) wins on the overlapping sample
    HistChunkStore.mergeBlocks(spark, Seq(dirA, dirB), out, Seq("job"), "ts")
    val merged = HistChunkStore.select(spark, out,
        "2024-01-01", "2024-02-01", Nil, Seq("job"), "ts")
      .collect().map(r => (r.getString(0), r.getTimestamp(1),
        r.getLong(2), r.getSeq[Long](4).sum, r.getDouble(5))).toSet
    assert(merged == Set(
      ("api", ts(1), 1L, 10L, 2.5),
      ("api", ts(2), 3L, 25L, 9.0), // block B's revision
      ("api", ts(3), 4L, 31L, 12.0),
      ("web", ts(1), 0L, 7L, 1.0)))
  }

  test("HistChunkStore signed: both sides roundtrip and merge") {
    val ts = (d: Int) => java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    // negative indexes on BOTH sides
    val signedDf = Seq(
      ("api", ts(1), 1L, Seq(-1, 1), Seq(10L, 3L), Seq(-1, 0), Seq(4L, 6L), 2.5),
      ("api", ts(2), 2L, Seq(-1, 1, 2), Seq(11L, 5L, 1L), Seq(0), Seq(9L), 5.0),
      ("web", ts(1), 0L, Seq(2), Seq(7L), Seq(-2, 3), Seq(1L, 2L), 1.0)
    ).toDF("job", "ts", "zero_count", "pos_idx", "pos_counts",
      "neg_idx", "neg_counts", "hsum")
    val dirS = "/tmp/graft_test_histblk_s"
    val dirU = "/tmp/graft_test_histblk_u"
    val outS = "/tmp/graft_test_histblk_sm"
    HistChunkStore.write(signedDf, dirS, Seq("job"), "ts",
      "zero_count", "pos_idx", "pos_counts", Some("hsum"),
      negIdxCol = Some("neg_idx"), negCountsCol = Some("neg_counts"))
    val back = HistChunkStore.select(spark, dirS,
        "2024-01-01", "2024-02-01", Nil, Seq("job"), "ts")
      .collect().map(r => (r.getString(0), r.getTimestamp(1),
        r.getLong(2), r.getSeq[Int](3), r.getSeq[Long](4),
        r.getDouble(5), r.getSeq[Int](7), r.getSeq[Long](8)))
      .toSet
    assert(back == Set(
      ("api", ts(1), 1L, Seq(-1, 1), Seq(10L, 3L), 2.5, Seq(-1, 0), Seq(4L, 6L)),
      ("api", ts(2), 2L, Seq(-1, 1, 2), Seq(11L, 5L, 1L), 5.0, Seq(0), Seq(9L)),
      ("web", ts(1), 0L, Seq(2), Seq(7L), 1.0, Seq(-2, 3), Seq(1L, 2L))))
    // an UNSIGNED block merges with a signed one: unsigned rows read
    // back with empty neg arrays
    val unsignedDf = Seq(
      ("api", ts(3), 4L, Seq(1), Seq(25L), 12.0)
    ).toDF("job", "ts", "zero_count", "pos_idx", "pos_counts", "hsum")
    HistChunkStore.write(unsignedDf, dirU, Seq("job"), "ts",
      "zero_count", "pos_idx", "pos_counts", Some("hsum"))
    HistChunkStore.mergeBlocks(spark, Seq(dirS, dirU), outS, Seq("job"), "ts")
    val merged = HistChunkStore.select(spark, outS,
        "2024-01-01", "2024-02-01", Nil, Seq("job"), "ts")
      .collect().map(r => (r.getString(0), r.getTimestamp(1),
        r.getSeq[Int](3), r.getSeq[Int](7), r.getSeq[Long](8))).toSet
    assert(merged == Set(
      ("api", ts(1), Seq(-1, 1), Seq(-1, 0), Seq(4L, 6L)),
      ("api", ts(2), Seq(-1, 1, 2), Seq(0), Seq(9L)),
      ("api", ts(3), Seq(1), Seq(), Seq()),
      ("web", ts(1), Seq(2), Seq(-2, 3), Seq(1L, 2L))))
  }

  test("SQL registration: graft_hist_chunk_encode/decode work from SQL") {
    graft.GraftFunctions.register(spark)
    val row = spark.sql(
      """SELECT graft_hist_chunk_decode(
        |  graft_hist_chunk_encode(
        |    array(named_struct('ts', 5L, 'zero', 1L,
        |      'idx', array(2), 'cnt', array(4L),
        |      'sum', CAST(NULL AS DOUBLE),
        |      'nidx', array(-1), 'ncnt', array(3L))),
        |    0, 120), 0L, 100L) AS s""".stripMargin)
      .selectExpr("s[0].ts", "s[0].zero", "s[0].idx", "s[0].cnt", "s[0].sum",
        "s[0].schema", "s[0].nidx", "s[0].ncnt")
      .collect().head
    assert(row.getLong(0) == 5L && row.getLong(1) == 1L)
    assert(row.getSeq[Int](2) == Seq(2) && row.getSeq[Long](3) == Seq(4L))
    // chunkenc always carries a sum: a null one is stored as NaN
    assert(row.getDouble(4).isNaN && row.getInt(5) == 0)
    assert(row.getSeq[Int](6) == Seq(-1) && row.getSeq[Long](7) == Seq(3L))
  }

  // ----- FLOAT-histogram family (EncFloatHistogram) -----

  // float counter with NON-dyadic deltas (0.1 steps — every value
  // carries a full mantissa), a NaN bucket count and a NaN sum, a
  // signed zero, and a layout change at sample 2
  private def floatFixture: Samples = Samples(
    ts = Array(1000000L, 16000000L, 31000000L, 46000000L, 61000000L),
    zero = Array(0.0, 0.3, 0.6, -0.0, 2.5),
    idx = Array(
      Array(-1, 0, 2), Array(-1, 0, 2), Array(-1, 0, 2, 3),
      Array(-1, 0, 2, 3), Array(-1, 0, 2, 3)),
    cnt = Array(
      Array(0.1, 4.2, 2.0), Array(0.2, 4.3, 7.7), Array(0.3, 6.1, 9.9, 1.5),
      Array(0.4, Double.NaN, 12.0, 1.5), Array(0.5, 8.8, 12.1, 4.0)),
    sums = Array(0.25, 7.85, 19.5, Double.NaN, 42.1))

  test("float chunk roundtrip is bit-exact: non-dyadic deltas, NaN, -0.0, layout change") {
    val f = floatFixture
    val enc = encode(f, schema = 1, spc = 120, float = true)
    val (dec, schemas) = decode(enc, 0L, Long.MaxValue, float = true)
    assert(schemas.forall(_ == 1))
    assertSame(f, dec)
  }

  test("float sum-less series and empty histograms roundtrip") {
    val s = Samples(
      ts = Array(10L, 20L, 30L),
      zero = Array(0.0, 0.0, 4.25),
      idx = Array(Array.empty[Int], Array(1), Array.empty[Int]),
      cnt = Array(Array.empty[Double], Array(9.5), Array.empty[Double]),
      sums = null)
    val enc = encode(s, schema = -3, spc = 120, float = true)
    val (dec, schemas) = decode(enc, 0L, Long.MaxValue, float = true)
    assert(schemas.forall(_ == -3))
    assertSame(s, dec)
  }

  test("float blob framing: ordinal 3, header skip leaves corrupted bodies unparsed") {
    val f = floatFixture
    val blob = encode(f, schema = 0, spc = 2, float = true)
    val (all, _) = decode(blob, 0L, Long.MaxValue, float = true)
    assertSame(f, all)
    // [0,1] at the cap, [2] up to the zero count's drop to -0.0 (a
    // counter reset), [3,4]
    val fs = ChunkCodec.frames(blob)
    assert(fs.forall(_._1 == ChunkCodec.EncFloatHistogram))
    assert(fs.map(f => (f._2, f._3)) ==
      Seq((1000000L, 16000000L), (31000000L, 31000000L),
        (46000000L, 61000000L)))
    val (mid, _) = decode(blob, 31000000L, 31000000L, float = true)
    assert(mid.ts.toSeq == Seq(31000000L))
    val corrupted = blob.clone()
    java.util.Arrays.fill(corrupted, fs.last._4, corrupted.length, 0x5a.toByte)
    val (kept, _) = decode(corrupted, 0L, 31000000L, float = true)
    assert(kept.ts.toSeq == f.ts.take(3).toSeq)
  }

  test("float codec density: XOR windows beat the 88 B/sample row model") {
    val s = dense(11, 0.1, 100.0)
    val blob = encode(s, 0, 120, float = true)
    val bps = blob.length.toDouble / s.ts.length
    info(f"8-bucket float counter, 0.1 steps: $bps%.2f B/sample")
    // raw row model: 8 doubles + zero + ts = 88 B/sample; XOR'd
    // same-exponent neighbors cost ~5 B each
    assert(bps < 60.0)
    val (dec, _) = decode(blob, 0L, Long.MaxValue, float = true)
    assert(bits(dec.cnt.last) == bits(s.cnt.last))
  }

  test("SQL registration: graft_float_hist_chunk_encode/decode work from SQL") {
    graft.GraftFunctions.register(spark)
    val row = spark.sql(
      """SELECT graft_float_hist_chunk_decode(
        |  graft_float_hist_chunk_encode(
        |    array(named_struct('ts', 5L, 'zero', CAST(0.5 AS DOUBLE),
        |      'idx', array(2), 'cnt', array(CAST(4.1 AS DOUBLE)),
        |      'sum', CAST(2.25 AS DOUBLE),
        |      'nidx', CAST(array() AS array<int>),
        |      'ncnt', CAST(array() AS array<double>))),
        |    0, 120), 0L, 100L) AS s""".stripMargin)
      .selectExpr("s[0].ts", "s[0].zero", "s[0].idx", "s[0].cnt", "s[0].sum")
      .collect().head
    assert(row.getLong(0) == 5L && row.getDouble(1) == 0.5)
    assert(row.getSeq[Int](2) == Seq(2) && row.getSeq[Double](3) == Seq(4.1))
    assert(row.getDouble(4) == 2.25)
  }

  test("HistChunkStore float path: writeFloat -> selectFloat roundtrip and LWW merge") {
    val ts = (d: Int) => java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    val blockA = Seq(
      ("api", ts(1), 0.5, Seq(1), Seq(10.25), 2.5),
      ("api", ts(2), 1.1, Seq(1), Seq(20.75), 5.0),
      ("web", ts(1), 0.0, Seq(2), Seq(Double.NaN), 1.0)
    ).toDF("job", "ts", "zero_count", "pos_idx", "pos_counts", "hsum")
    val blockB = Seq(
      ("api", ts(2), 1.3, Seq(1, 2), Seq(21.0, 4.5), 9.0),
      ("api", ts(3), 2.0, Seq(1, 2), Seq(25.5, 6.0), 12.0)
    ).toDF("job", "ts", "zero_count", "pos_idx", "pos_counts", "hsum")
    val dirA = "/tmp/graft_test_fhistblk_a"
    val dirB = "/tmp/graft_test_fhistblk_b"
    val out = "/tmp/graft_test_fhistblk_m"
    HistChunkStore.writeFloat(blockA, dirA, Seq("job"), "ts",
      "zero_count", "pos_idx", "pos_counts", Some("hsum"))
    HistChunkStore.writeFloat(blockB, dirB, Seq("job"), "ts",
      "zero_count", "pos_idx", "pos_counts", Some("hsum"))
    val sel = HistChunkStore.selectFloat(spark, dirA,
        "2024-01-01", "2024-01-03", Seq(Matcher.Eq("job", "api")),
        Seq("job"), "ts")
      .collect().map(r => (r.getString(0), r.getTimestamp(1),
        r.getDouble(2), r.getSeq[Int](3), r.getSeq[Double](4),
        r.getDouble(5)))
      .toSet
    assert(sel == Set(
      ("api", ts(1), 0.5, Seq(1), Seq(10.25), 2.5),
      ("api", ts(2), 1.1, Seq(1), Seq(20.75), 5.0)))
    // NaN bucket counts survive the store bit-exactly
    val nan = HistChunkStore.selectFloat(spark, dirA,
        "2024-01-01", "2024-02-01", Seq(Matcher.Eq("job", "web")),
        Seq("job"), "ts")
      .collect().map(_.getSeq[Double](4)).head
    assert(nan.length == 1 && nan.head.isNaN)
    HistChunkStore.mergeFloatBlocks(spark, Seq(dirA, dirB), out,
      Seq("job"), "ts")
    val merged = HistChunkStore.selectFloat(spark, out,
        "2024-01-01", "2024-02-01", Nil, Seq("job"), "ts")
      .collect().map(r => (r.getString(0), r.getTimestamp(1),
        r.getDouble(2), r.getSeq[Double](4).sum, r.getDouble(5)))
      .filter(!_._4.isNaN).toSet
    assert(merged == Set(
      ("api", ts(1), 0.5, 10.25, 2.5),
      ("api", ts(2), 1.3, 25.5, 9.0), // block B's revision
      ("api", ts(3), 2.0, 31.5, 12.0)))
  }

  test("property: random series roundtrip bit-exactly through both codec families") {
    val rnd = new scala.util.Random(987654L)
    def randDouble(): Double = rnd.nextInt(8) match {
      case 0 => Double.NaN
      case 1 => java.lang.Double.longBitsToDouble(rnd.nextLong()) // any payload: infs, subnormals, NaN variants
      case 2 => -0.0
      case 3 => rnd.nextInt(1000) * 0.1
      case _ => rnd.nextDouble() * math.pow(10, rnd.nextInt(10) - 5)
    }
    def randLayout(): Array[Int] = {
      val nb = rnd.nextInt(6)
      var cur = rnd.nextInt(9) - 4
      Array.fill(nb) { val v = cur; cur += 1 + rnd.nextInt(3); v }
    }
    for (trial <- 0 until 25) {
      val n = 1 + rnd.nextInt(40)
      var t = rnd.nextInt(1000000).toLong
      val ts = Array.fill(n) { val v = t; t += rnd.nextInt(1 << 20); v }
      val layouts = new Array[Array[Int]](n)
      for (i <- 0 until n)
        layouts(i) = if (i > 0 && rnd.nextInt(3) > 0) layouts(i - 1)
          else randLayout()
      val spc = 1 + rnd.nextInt(7)
      val schema = rnd.nextInt(9) - 4
      val hasSum = rnd.nextBoolean()
      // integer family
      val iz = Array.fill(n)(rnd.nextInt(1 << 20).toDouble)
      val ic = layouts.map(l => l.map(_ => rnd.nextInt(1 << 24).toDouble))
      val isums = if (hasSum) Array.fill(n)(randDouble()) else null
      val is = Samples(ts, iz, layouts, ic, isums)
      val (idec, isch) = decode(encode(is, schema, spc, float = false),
        0L, Long.MaxValue, float = false)
      assert(isch.forall(_ == schema), s"trial $trial int schema")
      assertSame(is, idec)
      // float family
      val fz = Array.fill(n)(randDouble())
      val fc = layouts.map(l => l.map(_ => randDouble()))
      val fsums = if (hasSum) Array.fill(n)(randDouble()) else null
      val fs = Samples(ts, fz, layouts, fc, fsums)
      val (fdec, fsch) = decode(encode(fs, schema, spc, float = true),
        0L, Long.MaxValue, float = true)
      assert(fsch.forall(_ == schema), s"trial $trial float schema")
      assertSame(fs, fdec)
    }
  }

  // ----- loud failures -----

  test("a store in graft's older histogram body layout fails with GraftFormatException") {
    // the committed cell in the retired body layout (4 samples at
    // 1000..4500 µs) as a one-series store with that layout's labels
    val blob = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/resources/golden/hist_blob.bin"))
    val dir = "/tmp/graft_test_histblk_oldbody"
    val refs = Seq(xxhash64(col("job")).as("series_ref"),
      xxhash64(lit(1), col("job")).as("series_ref2"))
    val one = Seq("api").toDF("job")
    one.select(col("job") +: refs :+ typedLit(Seq.empty[Double]).as("custom_values") :+
        lit(false).as("signed"): _*)
      .write.mode("overwrite").parquet(s"$dir/labels")
    one.select(refs ++ Seq(lit(0L).as("bucket"), lit(1000L).as("mint"),
        lit(4500L).as("maxt"), lit(4L).as("n_samples"), lit(blob).as("data")): _*)
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/chunks")
    val e = intercept[GraftFormatException](HistChunkStore.select(spark, dir,
      "1970-01-01", "1970-01-02", Nil, Seq("job"), "ts").collect())
    assert(e.source == dir && e.getMessage.contains("older histogram body"))
    intercept[GraftFormatException](HistChunkStore.mergeBlocks(spark, Seq(dir),
      "/tmp/graft_test_histblk_oldbody_m", Seq("job"), "ts"))
  }

  test("a select of the other histogram family fails with GraftFormatException") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val df = Seq(("api", ts, 1L, Seq(1), Seq(10L), 2.5))
      .toDF("job", "ts", "zero_count", "pos_idx", "pos_counts", "hsum")
    val (intDir, floatDir) = ("/tmp/graft_test_histblk_fam_i", "/tmp/graft_test_histblk_fam_f")
    HistChunkStore.write(df, intDir, Seq("job"), "ts", "zero_count",
      "pos_idx", "pos_counts", Some("hsum"))
    HistChunkStore.writeFloat(df, floatDir, Seq("job"), "ts", "zero_count",
      "pos_idx", "pos_counts", Some("hsum"))
    val e = intercept[GraftFormatException](HistChunkStore.select(spark,
      floatDir, "2024-01-01", "2024-02-01", Nil, Seq("job"), "ts").collect())
    assert(e.source == floatDir && e.getMessage.contains("float histogram"))
    intercept[GraftFormatException](HistChunkStore.selectFloat(spark,
      intDir, "2024-01-01", "2024-02-01", Nil, Seq("job"), "ts").collect())
    intercept[GraftFormatException](HistChunkStore.mergeFloatBlocks(spark,
      Seq(floatDir, intDir), "/tmp/graft_test_histblk_fam_m", Seq("job"), "ts"))
  }

  test("mixed null and stored sums fail loudly in a write and in a merge") {
    val ts = (d: Int) => java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    val rows = Seq(("api", ts(1), 1L, Seq(1), Seq(10L), None),
      ("api", ts(2), 2L, Seq(1), Seq(20L), Some(5.0)),
      ("api", ts(3), 3L, Seq(1), Seq(30L), None))
      .toDF("job", "ts", "zero_count", "pos_idx", "pos_counts", "hsum")
    for (float <- Seq(false, true)) {
      val write = if (float) HistChunkStore.writeFloat _ else HistChunkStore.write _
      val e = intercept[Exception](write(rows, "/tmp/graft_test_histblk_mixsum",
        Seq("job"), "ts", "zero_count", "pos_idx", "pos_counts", Some("hsum"),
        0, "1 day", 120, "zstd", Nil, None, None))
      assert(e.getMessage.contains("null hsum"), e.getMessage)
    }
    // a store with sums and one without hold the same series
    val (withSums, without) = ("/tmp/graft_test_histblk_sum", "/tmp/graft_test_histblk_nosum2")
    HistChunkStore.write(rows.filter(col("hsum").isNotNull), withSums, Seq("job"),
      "ts", "zero_count", "pos_idx", "pos_counts", Some("hsum"))
    HistChunkStore.write(rows.filter(col("hsum").isNull), without, Seq("job"),
      "ts", "zero_count", "pos_idx", "pos_counts")
    val e = intercept[IllegalArgumentException](HistChunkStore.mergeBlocks(spark,
      Seq(withSums, without), "/tmp/graft_test_histblk_mixsum_m", Seq("job"), "ts"))
    assert(e.getMessage.contains("mix stored and null sums"), e.getMessage)
  }

  test("an unknown frame ordinal fails every cell decoder with GraftFormatException") {
    val junk = new java.io.ByteArrayOutputStream()
    // an empty XOR frame outside the queried range, then ordinal 9 at byte 4
    for (v <- Seq(1, 0, 0, 0, 9, 0, 1, 0)) junk.write(v)
    val cell = junk.toByteArray
    for (decode <- Seq[Array[Byte] => Any](
        ChunkCodec.decodeBlob(_, 1L, Long.MaxValue),
        ChunkCodec.frameFamilyMask,
        ChunkencHistCodec.decodeToArrayData(_, 1L, Long.MaxValue),
        ChunkencHistCodec.decodeToArrayData(_, 1L, Long.MaxValue, float = true))) {
      val e = intercept[GraftFormatException](decode(cell))
      assert(e.getMessage.contains("encoding 9 in the frame at byte 4"), e.getMessage)
    }
  }
}
