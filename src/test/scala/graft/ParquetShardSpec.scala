package graft

import java.sql.Timestamp
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._
import graft.tsdb.Matcher
import graft.tsdb.shard.{ParquetShardSchema, ParquetShardStore}

/** The reference-layout shard store ([[graft.tsdb.shard]]): the
  * physical schema must match parquet-common's documented layout
  * byte-for-byte where the contract is structural (column names,
  * order, types, repetition, footer key-value metadata, the
  * s_col_indexes varint codec, the StableHash series hash), and the
  * query path must reproduce raw-table selects exactly at ms grain.
  */
class ParquetShardSpec extends SparkSpec {
  import spark.implicits._

  private val base = 1704067200000L // 2024-01-01T00:00Z
  private val hour = 3600000L

  // env is ABSENT (null) on the view series — the optional-label edge
  private lazy val fixture = {
    val rows = (0 until 600).map { i =>
      val et = if (i % 3 == 0) "view" else "req"
      val env = if (i % 3 == 0) null else (if (i % 2 == 0) "prod" else "dev")
      (et, env, new Timestamp(base + i * 60000L), ((i * 37) % 600 + 1).toDouble)
    }
    rows.toDF("event_type", "env", "ts", "value")
  }
  private val dir = "/tmp/graft_pshard_spec"
  private lazy val written: Unit = ParquetShardStore.write(
    fixture, dir, Seq("event_type", "env"), "ts", "value",
    colDurationMs = 2 * hour, samplesPerChunk = 50, shards = 2)

  private def footer(path: String) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path),
      spark.sparkContext.hadoopConfiguration))
    try {
      val md = r.getFooter.getFileMetaData
      (md.getSchema, md.getKeyValueMetaData, r.getRecordCount)
    } finally r.close()
  }

  test("physical layout matches schema_builder.go: dual files, column " +
      "names/order/types, footer metadata") {
    written
    // both files per shard exist (storage/parquet_shard.go layout)
    for (s <- 0 to 1; f <- Seq("labels", "chunks"))
      assert(new java.io.File(s"$dir/$s.$f.parquet").isFile, s"$s.$f missing")

    val (lSchema, lMeta, _) = footer(s"$dir/0.labels.parquet")
    // alphabetical order, l_* before s_* (parquet-go Group ordering)
    assert(lSchema.getFields.size == 4)
    assert((0 until 4).map(lSchema.getFields.get(_).getName) ==
      Seq("l_env", "l_event_type", "s_col_indexes", "s_series_hash"))
    // labels optional string; s_* required binary
    import org.apache.parquet.schema.Type.Repetition
    assert(lSchema.getType(Seq("l_env"): _*).getRepetition == Repetition.OPTIONAL)
    assert(lSchema.getType(Seq("l_env"): _*).asPrimitiveType()
      .getLogicalTypeAnnotation != null)
    assert(lSchema.getType(Seq("s_col_indexes"): _*).getRepetition == Repetition.REQUIRED)
    assert(lSchema.getType(Seq("s_series_hash"): _*).getRepetition == Repetition.REQUIRED)
    // footer metadata on BOTH files (writer.go:85 attaches to every
    // projection)
    val span = 599 * 60000L
    val expectCols = ParquetShardSchema.numDataCols(base, base + span, 2 * hour)
    for (f <- Seq("labels", "chunks")) {
      val (_, kv, _) = footer(s"$dir/0.$f.parquet")
      assert(kv.get("minT") == base.toString)
      assert(kv.get("maxT") == (base + span).toString)
      assert(kv.get("data_col_duration_ms") == (2 * hour).toString)
    }
    // chunks file: s_data_<i> required binary for every window,
    // STRING-sorted (s_data_1 then s_data_2 then s_data_3, and with
    // ≥10 cols s_data_10 would precede s_data_2 — pinned in the
    // ordering helper test below)
    val (cSchema, _, _) = footer(s"$dir/0.chunks.parquet")
    assert(cSchema.getFields.size == expectCols)
    assert((0 until expectCols).map(cSchema.getFields.get(_).getName) ==
      (0 until expectCols).map(i => s"s_data_$i").sorted)
    assert(cSchema.getType(Seq("s_data_0"): _*).getRepetition == Repetition.REQUIRED)
    // row alignment: same record count in both files of a shard
    for (s <- 0 to 1) {
      val (_, _, ln) = footer(s"$dir/$s.labels.parquet")
      val (_, _, cn) = footer(s"$dir/$s.chunks.parquet")
      assert(ln == cn, s"shard $s misaligned: $ln labels vs $cn chunks rows")
    }
  }

  test("parquet-go column ordering helper: s_data_10 < s_data_2 under " +
      "the reference's string sort") {
    val cols = ParquetShardSchema.chunksFileColumns(12)
    assert(cols.indexOf("s_data_10") < cols.indexOf("s_data_2"))
    assert(ParquetShardSchema.labelsFileColumns(Seq("env", "event_type")) ==
      Seq("l_env", "l_event_type", "s_col_indexes", "s_series_hash"))
  }

  test("s_col_indexes: Go signed-varint codec roundtrips and stores the " +
      "combined-schema positions of exactly the PRESENT labels") {
    // codec roundtrip incl. multi-byte values
    for (s <- Seq(Seq.empty[Int], Seq(0), Seq(3, 1, 2), Seq(0, 63, 64, 1000)))
      assert(ParquetShardSchema.decodeIntSlice(
        ParquetShardSchema.encodeIntSlice(s)) == s.sorted)
    written
    // l_env is combined-schema leaf 0, l_event_type leaf 1 (alpha
    // order, labels before all s_*)
    assert(ParquetShardSchema.labelColumnIndexes(Seq("event_type", "env")) ==
      Map("env" -> 0, "event_type" -> 1))
    val rows = spark.read.parquet(s"$dir/*.labels.parquet")
      .select("l_env", "l_event_type", "s_col_indexes").collect()
    rows.foreach { r =>
      val idxs = ParquetShardSchema.decodeIntSlice(r.getAs[Array[Byte]](2))
      val expected = (if (r.isNullAt(0)) Nil else Seq(0)) ++
        (if (r.isNullAt(1)) Nil else Seq(1))
      assert(idxs == expected, s"row $r")
    }
    // the view series has NO env label → only event_type's index
    val view = rows.find(r => r.getString(1) == "view").get
    assert(view.isNullAt(0) &&
      ParquetShardSchema.decodeIntSlice(view.getAs[Array[Byte]](2)) == Seq(1))
  }

  test("s_series_hash is Prometheus StableHash: standard xxHash64 " +
      "(known vector) over name/value bytes with 0xff seps, big-endian") {
    // the xxHash64 spec's empty-input, seed-0 vector — proves the
    // primitive is the published algorithm, not a Spark variant
    import org.apache.spark.sql.catalyst.expressions.XXH64
    assert(XXH64.hashUnsafeBytes(Array.emptyByteArray,
      org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, 0, 0L) ==
      0xEF46DB3751D8E999L)
    // layout: hash == xxh64 of the independently composed byte string
    val pairs = Seq("env" -> "prod", "event_type" -> "req")
    val manual = {
      val bos = new java.io.ByteArrayOutputStream()
      for ((n, v) <- pairs) { // already name-sorted
        bos.write(n.getBytes("UTF-8")); bos.write(0xff)
        bos.write(v.getBytes("UTF-8")); bos.write(0xff)
      }
      val b = bos.toByteArray
      XXH64.hashUnsafeBytes(b,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 0L)
    }
    assert(ParquetShardSchema.stableHash(Seq(
      "event_type" -> "req", "env" -> "prod")) == manual) // input order free
    // stored bytes are the hash big-endian
    written
    val r = spark.read.parquet(s"$dir/*.labels.parquet")
      .filter(col("l_event_type") === "req" && col("l_env") === "prod")
      .select("s_series_hash").head()
    val stored = r.getAs[Array[Byte]](0)
    assert(stored.length == 8)
    assert(java.nio.ByteBuffer.wrap(stored).getLong == manual)
  }

  test("select ≡ raw table at ms grain: full range, matchers, range " +
      "subsets, absent-label series") {
    written
    def raw(pred: org.apache.spark.sql.Column, lo: Long, hi: Long) = fixture
      .filter(pred && unix_millis(col("ts")) >= lo && unix_millis(col("ts")) < hi)
      .select(col("event_type"), col("env"), unix_millis(col("ts")).as("ts_ms"),
        col("value"))
      .collect().map(_.toSeq).toSet
    def shard(ms: Seq[Matcher], lo: Long, hi: Long) =
      ParquetShardStore.select(spark, dir, lo, hi, ms)
        .select(col("event_type"), col("env"), unix_millis(col("ts")).as("ts_ms"),
          col("value"))
        .collect().map(_.toSeq).toSet
    val end = base + 600 * 60000L
    assert(shard(Nil, base, end) == raw(lit(true), base, end))
    assert(shard(Seq(Matcher.Eq("event_type", "view")), base, end) ==
      raw(col("event_type") === "view", base, end))
    // mid-range window cutting across data-column seams
    val lo = base + 3 * hour + 1
    val hi = base + 7 * hour - 1
    assert(shard(Nil, lo, hi) == raw(lit(true), lo, hi))
    assert(shard(Seq(Matcher.Eq("env", "prod")), lo, hi) ==
      raw(col("env") === "prod", lo, hi))
    // range past the data: empty, not an error
    assert(ParquetShardStore.select(spark, dir, end + hour, end + 2 * hour)
      .count() == 0)
    // metadata recovery (FromLabelsFile analog)
    val m = ParquetShardStore.meta(spark, dir)
    assert(m.colDurationMs == 2 * hour && m.mintMs == base)
    assert(ParquetShardStore.labelNames(spark, dir) == Seq("env", "event_type"))
  }

  test("series() is the skipChunks select: matcher-filtered label sets " +
      "from the labels file alone, chunks never in the plan") {
    written
    val df = ParquetShardStore.series(spark, dir,
      Seq(Matcher.Eq("event_type", "req")))
    val got = df.select("event_type", "env").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val want = fixture.filter(col("event_type") === "req")
      .select("event_type", "env").distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == want && got.nonEmpty)
    // absent-label series surface with nulls, matchers see "" (the
    // Prometheus absent-label convention)
    val absent = ParquetShardStore.series(spark, dir,
      Seq(Matcher.Eq("env", ""))).select("event_type", "env").collect()
    assert(absent.nonEmpty && absent.forall(r =>
      r.getString(0) == "view" && r.isNullAt(1)))
    // the labels files are read on the driver: the plan is a local
    // relation, the chunks file never appears
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("LocalTableScan") && !plan.contains("chunks.parquet"))
    assert(!plan.contains("Join"))
  }

  test("histogram families: EncHistogram/EncFloatHistogram cells " +
      "roundtrip through the shard format with reference frame ordinals") {
    // native-histogram fixture: ascending counter-ish buckets, a sum
    def histRows(float: Boolean) = (0 until 120).map { i =>
      val zero = (i / 10).toLong
      val idx = Seq(1, 3, 4 + (i % 2))
      val cnt = idx.map(j => (i * j + 1).toLong)
      (if (i % 2 == 0) "api" else "db", new Timestamp(base + i * 60000L),
        zero, idx, cnt, i * 1.5)
    }.toDF("svc", "ts", "zero", "idx", "cnt", "hsum")
    val hDir = "/tmp/graft_pshard_hist_spec"
    ParquetShardStore.writeHist(histRows(false), hDir, Seq("svc"), "ts",
      "zero", "idx", "cnt", Some("hsum"), histSchema = 0,
      colDurationMs = hour, samplesPerChunk = 25)
    // the cell frames carry Prometheus's enc ordinal 2, and every
    // frame BODY parses as a real chunkenc histogram chunk — the
    // bytes the reference's chunkenc.FromData(enc=2, body) decodes
    val cell = spark.read.parquet(s"$hDir/0.chunks.parquet")
      .select("s_data_0").head().getAs[Array[Byte]](0)
    val hFrames = graft.tsdb.ChunkCodec.frames(cell)
    assert(hFrames.forall(_._1 == 2L))
    for ((_, fmint, fmaxt, off, len) <- hFrames) {
      val c = graft.tsdb.block.ChunkencHistogram.decodeHistChunk(cell, off, len)
      assert(c.ts.nonEmpty && c.schema == 0 && c.customValues.isEmpty)
      assert(c.ts.head == fmint && c.ts.last == fmaxt)
      // the per-series layout is constant, so no reset cuts: first
      // chunk UnknownCounterReset, cap cuts NotCounterReset
      assert(c.flags == graft.tsdb.block.ChunkencHistogram.UnknownCounterReset ||
        c.flags == graft.tsdb.block.ChunkencHistogram.NotCounterReset)
    }
    // roundtrip at ms grain, NativeHistogram output model
    val back = ParquetShardStore.selectHist(spark, hDir, base,
        base + 120 * 60000L, Seq(Matcher.Eq("svc", "api")))
      .select(col("svc"), unix_millis(col("ts")).as("ts_ms"),
        col("zero_count"), col("pos_idx"), col("pos_counts"),
        col("hist_sum"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getSeq[Int](3), r.getSeq[Long](4), r.getDouble(5))).toSet
    val want = histRows(false).filter(col("svc") === "api")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime,
        r.getLong(2), r.getSeq[Int](3), r.getSeq[Long](4),
        r.getDouble(5))).toSet
    assert(back == want)
    // float-histogram family: enc ordinal 3, double zero/counts
    val fDir = "/tmp/graft_pshard_fhist_spec"
    val fRows = (0 until 60).map { i =>
      ("api", new Timestamp(base + i * 60000L), i * 0.5,
        Seq(2, 5), Seq(i * 0.25, i * 1.25), i * 2.0)
    }.toDF("svc", "ts", "zero", "idx", "cnt", "hsum")
    ParquetShardStore.writeFloatHist(fRows, fDir, Seq("svc"), "ts",
      "zero", "idx", "cnt", Some("hsum"), colDurationMs = hour)
    val fCell = spark.read.parquet(s"$fDir/0.chunks.parquet")
      .select("s_data_0").head().getAs[Array[Byte]](0)
    val fFrames = graft.tsdb.ChunkCodec.frames(fCell)
    assert(fFrames.forall(_._1 == 3L))
    for ((_, _, _, off, len) <- fFrames)
      assert(graft.tsdb.block.ChunkencHistogram
        .decodeFloatHistChunk(fCell, off, len).ts.nonEmpty)
    val fBack = ParquetShardStore.selectFloatHist(spark, fDir, base,
        base + hour).select("zero_count", "pos_counts").collect()
    assert(fBack.length == 60)
    assert(fBack.map(_.getDouble(0)).sorted.toSeq ==
      (0 until 60).map(_ * 0.5))
  }

  test("counter resets cut chunks with the appender's header ladder; " +
      "gauge shards never reset-cut and mark every chunk GaugeType") {
    import graft.tsdb.block.ChunkencHistogram
    // one series, counts rise for 6 samples, RESET (drop to 1), rise
    val rows = (0 until 12).map { i =>
      val c = if (i < 6) (i + 1).toLong * 10 else (i - 5).toLong
      ("api", new Timestamp(base + i * 60000L), 0L, Seq(2), Seq(c), i * 1.0)
    }.toDF("svc", "ts", "zero", "idx", "cnt", "hsum")
    val p = "/tmp/graft_pshard_reset_spec"
    ParquetShardStore.writeHist(rows, p, Seq("svc"), "ts",
      "zero", "idx", "cnt", Some("hsum"), colDurationMs = hour,
      samplesPerChunk = 120)
    val cell = spark.read.parquet(s"$p/0.chunks.parquet")
      .select("s_data_0").head().getAs[Array[Byte]](0)
    val frames = graft.tsdb.ChunkCodec.frames(cell)
    assert(frames.length == 2, "the reset must cut a second chunk")
    val flags = frames.map { case (_, _, _, off, len) =>
      ChunkencHistogram.decodeHistChunk(cell, off, len).flags }
    assert(flags == Seq(ChunkencHistogram.UnknownCounterReset,
      ChunkencHistogram.CounterReset))
    // roundtrip across the cut stays exact
    val back = ParquetShardStore.selectHist(spark, p, base, base + hour)
      .select(unix_millis(col("ts")).as("t"), col("pos_counts")(0))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(back.size == 12 && back(base) == 10L &&
      back(base + 6 * 60000L) == 1L)
    // the same data as a GAUGE: one chunk, GaugeType, no cut
    val g = "/tmp/graft_pshard_gauge_spec"
    ParquetShardStore.writeHist(rows, g, Seq("svc"), "ts",
      "zero", "idx", "cnt", Some("hsum"), colDurationMs = hour,
      samplesPerChunk = 120, gauge = true)
    val gCell = spark.read.parquet(s"$g/0.chunks.parquet")
      .select("s_data_0").head().getAs[Array[Byte]](0)
    val gFrames = graft.tsdb.ChunkCodec.frames(gCell)
    assert(gFrames.length == 1)
    assert(ChunkencHistogram.decodeHistChunk(gCell,
      gFrames.head._4, gFrames.head._5).flags == ChunkencHistogram.GaugeType)
  }

  test("NHCB (schema -53) rides the shard format: bounds live inside " +
      "each chunkenc frame body and surface through selectHist") {
    import graft.tsdb.block.ChunkencHistogram
    val bounds = Seq(0.25, 0.5, 1.0)
    val rows = (0 until 8).map { i =>
      ("api", new Timestamp(base + i * 60000L), 0L,
        Seq(0, 2), Seq((i + 1).toLong, (i + 2).toLong), i * 0.5)
    }.toDF("svc", "ts", "zero", "idx", "cnt", "hsum")
    val p = "/tmp/graft_pshard_nhcb_spec"
    ParquetShardStore.writeHist(rows, p, Seq("svc"), "ts",
      "zero", "idx", "cnt", Some("hsum"),
      histSchema = ChunkencHistogram.CustomBucketsSchema,
      customValues = bounds, colDurationMs = hour)
    val cell = spark.read.parquet(s"$p/0.chunks.parquet")
      .select("s_data_0").head().getAs[Array[Byte]](0)
    for ((_, _, _, off, len) <- graft.tsdb.ChunkCodec.frames(cell)) {
      val c = ChunkencHistogram.decodeHistChunk(cell, off, len)
      assert(c.schema == ChunkencHistogram.CustomBucketsSchema)
      assert(c.customValues.toSeq == bounds)
    }
    val back = ParquetShardStore.selectHist(spark, p, base, base + hour)
      .select("schema", "custom_values", "pos_idx", "pos_counts").collect()
    assert(back.length == 8)
    back.foreach { r =>
      assert(r.getInt(0) == ChunkencHistogram.CustomBucketsSchema)
      assert(r.getSeq[Double](1) == bounds)
      assert(r.getSeq[Int](2) == Seq(0, 2)) // constant layout, no fill
    }
    // structural guard: a non-zero zero bucket under NHCB fails loudly
    val bad = Seq(("api", new Timestamp(base), 1L, Seq(0), Seq(1L), 0.0))
      .toDF("svc", "ts", "zero", "idx", "cnt", "hsum")
    val e = intercept[org.apache.spark.SparkException] {
      ParquetShardStore.writeHist(bad, "/tmp/graft_pshard_nhcb_bad", Seq("svc"),
        "ts", "zero", "idx", "cnt", Some("hsum"),
        histSchema = ChunkencHistogram.CustomBucketsSchema,
        customValues = bounds, colDurationMs = hour)
    }
    assert(e.getMessage.contains("zero bucket") ||
      Option(e.getCause).exists(_.getMessage.contains("zero bucket")))
  }

  test("mixed-encoding cells (a reference series that changed sample " +
      "type): each family's reader takes its own frames, skips the rest") {
    // hand-frame one XOR chunk + one hist chunk into a single cell,
    // the shape schema/encoder.go emits when a series carries both
    def uvarint(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
      var x = v
      while (java.lang.Long.compareUnsigned(x, 0x80L) >= 0) {
        out.write(((x & 0x7f) | 0x80).toInt); x >>>= 7
      }
      out.write((x & 0x7f).toInt)
    }
    import graft.tsdb.block.ChunkencHistogram
    val xorBlob = graft.tsdb.ChunkCodec.encodeBlob(
      Array(base, base + 1000L), Array(1.5, 2.5), 120)
    val histBody = ChunkencHistogram.encodeHistChunk(
      ChunkencHistogram.HistChunk(ChunkencHistogram.UnknownCounterReset,
        0, 0.0, Vector(ChunkencHistogram.Span(1, 1)), Vector.empty,
        Array(base + 2000L), Array(7L), Array(2L), Array(0.5),
        Array(Array(5L)), Array(Array.empty[Long])))
    val out = new java.io.ByteArrayOutputStream()
    out.write(xorBlob, 0, xorBlob.length)
    uvarint(out, 2L); uvarint(out, base + 2000L); uvarint(out, base + 2000L)
    uvarint(out, histBody.length.toLong); out.write(histBody, 0, histBody.length)
    val mixed = out.toByteArray
    // float reader: XOR samples only, hist frame skipped by header
    val (ts, vs) = graft.tsdb.ChunkCodec.decodeBlob(mixed, 0L, Long.MaxValue)
    assert(ts.toSeq == Seq(base, base + 1000L) && vs.toSeq == Seq(1.5, 2.5))
    // hist reader: hist samples only, XOR frames skipped
    val hist = graft.tsdb.ChunkencHistCodec.decodeToArrayData(
      mixed, 0L, Long.MaxValue)
    assert(hist.numElements() == 1)
    val s0 = hist.getStruct(0, 9)
    assert(s0.getLong(0) == base + 2000L && s0.getLong(1) == 2L &&
      s0.getArray(3).toLongArray().toSeq == Seq(5L))
    // an ordinal outside the chunkenc triple is corruption, loudly
    val junk = new java.io.ByteArrayOutputStream()
    uvarint(junk, 9L); uvarint(junk, 0L); uvarint(junk, 1L); uvarint(junk, 0L)
    intercept[IllegalArgumentException] {
      graft.tsdb.ChunkCodec.decodeBlob(junk.toByteArray, 0L, Long.MaxValue)
    }
    intercept[IllegalArgumentException] {
      graft.tsdb.ChunkencHistCodec.decodeToArrayData(
        junk.toByteArray, 0L, Long.MaxValue)
    }
  }

  test("SIGNED histograms (negative buckets) roundtrip through the " +
      "shard: both sides travel the chunkenc frame body") {
    import graft.tsdb.block.ChunkencHistogram
    val rows = (0 until 10).map { i =>
      ("api", new Timestamp(base + i * 60000L), i.toLong,
        Seq(1, 3), Seq((i * 2 + 1).toLong, (i + 1).toLong),
        Seq(-2, 0), Seq((i * 3 + 1).toLong, (i * 5 + 2).toLong), i * 1.5)
    }.toDF("svc", "ts", "zero", "idx", "cnt", "nidx", "ncnt", "hsum")
    val p = "/tmp/graft_pshard_neg_spec"
    ParquetShardStore.writeHist(rows, p, Seq("svc"), "ts",
      "zero", "idx", "cnt", Some("hsum"), colDurationMs = hour,
      negIdxCol = Some("nidx"), negCountsCol = Some("ncnt"))
    // the frame body carries REAL negative spans
    val cell = spark.read.parquet(s"$p/0.chunks.parquet")
      .select("s_data_0").head().getAs[Array[Byte]](0)
    val (_, _, _, off, len) = graft.tsdb.ChunkCodec.frames(cell).head
    val c = ChunkencHistogram.decodeHistChunk(cell, off, len)
    assert(ChunkencHistogram.bucketIndexes(c.negSpans).toSeq == Seq(-2, 0))
    // count folds BOTH sides + zero
    assert(c.count(0) == 0L + 1L + 1L + 1L + 2L)
    // roundtrip both sides
    val back = ParquetShardStore.selectHist(spark, p, base, base + hour)
      .select(unix_millis(col("ts")).as("t"), col("zero_count"),
        col("pos_idx"), col("pos_counts"), col("neg_idx"), col("neg_counts"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Int](2),
        r.getSeq[Long](3), r.getSeq[Int](4), r.getSeq[Long](5)))).toMap
    assert(back.size == 10)
    val (z7, pi7, pc7, ni7, nc7) = back(base + 7 * 60000L)
    assert(z7 == 7L && pi7 == Seq(1, 3) && pc7 == Seq(15L, 8L) &&
      ni7 == Seq(-2, 0) && nc7 == Seq(22L, 37L))
    // a positive-only shard reads back EMPTY neg arrays, not nulls
    val p2 = "/tmp/graft_pshard_posonly_spec"
    ParquetShardStore.writeHist(rows, p2, Seq("svc"), "ts",
      "zero", "idx", "cnt", Some("hsum"), colDurationMs = hour)
    val r2 = ParquetShardStore.selectHist(spark, p2, base, base + hour)
      .select("neg_idx", "neg_counts").head()
    assert(r2.getSeq[Int](0).isEmpty && r2.getSeq[Long](1).isEmpty)
    // the strict quota guards hist selects too (family-agnostic bytes)
    val cellBytes = spark.read.parquet(s"$p2/0.chunks.parquet")
      .agg(sum(length(col("s_data_0")))).head().getLong(0)
    assert(ParquetShardStore.selectHistStrict(spark, p2, base, base + hour,
      Nil, chunkBytesQuota = cellBytes).count() == 10)
    intercept[graft.tsdb.QuotaExceededException] {
      ParquetShardStore.selectHistStrict(spark, p2, base, base + hour,
        Nil, chunkBytesQuota = cellBytes - 1)
    }
    // a NEGATIVE-side decrease is a counter reset: chunk cut + header
    val resetRows = (0 until 4).map { i =>
      val nc = if (i < 2) (i + 1).toLong * 10 else (i - 1).toLong
      ("api", new Timestamp(base + i * 60000L), 0L,
        Seq(1), Seq(100L + i), Seq(-1), Seq(nc), 0.0)
    }.toDF("svc", "ts", "zero", "idx", "cnt", "nidx", "ncnt", "hsum")
    val p3 = "/tmp/graft_pshard_negreset_spec"
    ParquetShardStore.writeHist(resetRows, p3, Seq("svc"), "ts",
      "zero", "idx", "cnt", Some("hsum"), colDurationMs = hour,
      negIdxCol = Some("nidx"), negCountsCol = Some("ncnt"))
    val cell3 = spark.read.parquet(s"$p3/0.chunks.parquet")
      .select("s_data_0").head().getAs[Array[Byte]](0)
    val frames3 = graft.tsdb.ChunkCodec.frames(cell3)
    assert(frames3.length == 2)
    assert(ChunkencHistogram.decodeHistChunk(cell3,
      frames3(1)._4, frames3(1)._5).flags == ChunkencHistogram.CounterReset)
  }

  test("a NULL input sum persists as NaN (chunkenc always carries a " +
      "sum), never null on readback") {
    val rows = Seq(("api", new Timestamp(base), 0L, Seq(1), Seq(3L)))
      .toDF("svc", "ts", "zero", "idx", "cnt")
    val p = "/tmp/graft_pshard_nosum_spec"
    ParquetShardStore.writeHist(rows, p, Seq("svc"), "ts",
      "zero", "idx", "cnt", sumCol = None, colDurationMs = hour)
    val r = ParquetShardStore.selectHist(spark, p, base, base + hour)
      .select("hist_sum").head()
    assert(!r.isNullAt(0) && r.getDouble(0).isNaN)
  }

  test("bloom filters on label columns (WithBloomFilterLabels): opted-in " +
      "columns carry a bloom filter in the footer, others do not") {
    val rows = (0 until 200).map(i =>
      (s"svc_${i % 5}", new Timestamp(base + i * 60000L), i.toDouble))
      .toDF("svc", "ts", "value")
    val p = "/tmp/graft_pshard_bloom_spec"
    ParquetShardStore.write(rows, p, Seq("svc"), "ts", "value",
      colDurationMs = hour, bloomFilterLabels = Seq("svc"))
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$p/0.labels.parquet"),
      spark.sparkContext.hadoopConfiguration))
    try {
      import scala.jdk.CollectionConverters._
      val cols = r.getFooter.getBlocks.get(0).getColumns.asScala
      val svc = cols.find(_.getPath.toDotString == "l_svc").get
      val hash = cols.find(_.getPath.toDotString == "s_series_hash").get
      assert(svc.getBloomFilterOffset >= 0, "l_svc must carry a bloom filter")
      assert(hash.getBloomFilterOffset < 0, "non-opted column must not")
    } finally r.close()
  }

  test("selectStrict: the chunk-byte quota counts exactly the in-range " +
      "cells of matched series, throws before decode, passes otherwise") {
    written
    val lo = base + 4 * hour
    val hi = base + 6 * hour
    val ms = Seq(Matcher.Eq("event_type", "req"))
    // the real byte cost of this select: in-range s_data cells of
    // matched rows (window [4h,6h) at 2h columns = s_data_2 alone)
    val expectBytes = {
      import org.apache.spark.sql.DataFrame
      val labels = spark.read.parquet(s"$dir/*.labels.parquet")
        .select(col("l_event_type"),
          col("_metadata.file_name").as("f"), col("_metadata.row_index").as("r"))
        .filter(col("l_event_type") === "req")
      spark.read.parquet(s"$dir/*.chunks.parquet")
        .select(col("s_data_2"),
          col("_metadata.file_name").as("fc"), col("_metadata.row_index").as("r"))
        .withColumn("f", regexp_replace(col("fc"), "chunks", "labels"))
        .join(labels, Seq("f", "r"))
        .agg(coalesce(sum(length(col("s_data_2")).cast("long")), lit(0L)))
        .head().getLong(0)
    }
    assert(expectBytes > 0)
    // quota above the cost: identical rows to the unguarded select
    val strict = ParquetShardStore.selectStrict(spark, dir, lo, hi, ms,
      chunkBytesQuota = expectBytes).collect().map(_.toSeq).toSet
    val plain = ParquetShardStore.select(spark, dir, lo, hi, ms)
      .collect().map(_.toSeq).toSet
    assert(strict == plain && strict.nonEmpty)
    // one byte under: loud rejection, nothing decoded
    val e = intercept[graft.tsdb.QuotaExceededException] {
      ParquetShardStore.selectStrict(spark, dir, lo, hi, ms,
        chunkBytesQuota = expectBytes - 1)
    }
    assert(e.getMessage.contains(expectBytes.toString))
    // a range past the data costs zero bytes: tiny quota passes, empty
    assert(ParquetShardStore.selectStrict(spark, dir,
      base + 1000 * hour, base + 1001 * hour, ms, chunkBytesQuota = 1)
      .count() == 0)
  }

  test("open-ended ranges do not overflow window pruning; a re-write " +
      "with fewer shards leaves no stale files behind") {
    val p = "/tmp/graft_pshard_rewrite_spec"
    val rows = (0 until 100).map(i =>
      (s"s${i % 4}", new Timestamp(base + i * 60000L), i.toDouble))
      .toDF("svc", "ts", "value")
    ParquetShardStore.write(rows, p, Seq("svc"), "ts", "value",
      colDurationMs = hour, shards = 3)
    assert(new java.io.File(s"$p/2.labels.parquet").isFile)
    // the "everything" query: Long bounds must clamp, not wrap
    assert(ParquetShardStore.select(spark, p, 0L, Long.MaxValue)
      .count() == 100)
    assert(ParquetShardStore.select(spark, p, Long.MinValue + 1, Long.MaxValue)
      .count() == 100)
    // re-write the SAME dir with fewer shards and fewer rows: the
    // previous generation's shard-2 files must be gone, counts exact
    ParquetShardStore.write(rows.limit(40), p, Seq("svc"), "ts", "value",
      colDurationMs = hour, shards = 1)
    assert(!new java.io.File(s"$p/2.labels.parquet").exists)
    assert(!new java.io.File(s"$p/1.chunks.parquet").exists)
    assert(ParquetShardStore.select(spark, p, 0L, Long.MaxValue)
      .count() == 40)
  }

  test("mergeShards: overlapping shard dirs compact to one, " +
      "last-writer-wins on the overlap, readable like any shard") {
    def mk(tag: String, lo: Int, hi: Int, scale: Double) =
      (lo until hi).map(i => ("api", new Timestamp(base + i * 60000L),
        i * scale)).toDF("svc", "ts", "value")
    val dA = "/tmp/graft_pshard_merge_a"
    val dB = "/tmp/graft_pshard_merge_b"
    val out = "/tmp/graft_pshard_merge_out"
    // A covers [0, 120), B overlaps [60, 180) with revised values
    ParquetShardStore.write(mk("a", 0, 120, 1.0), dA, Seq("svc"),
      "ts", "value", colDurationMs = hour)
    ParquetShardStore.write(mk("b", 60, 180, 10.0), dB, Seq("svc"),
      "ts", "value", colDurationMs = hour)
    ParquetShardStore.mergeShards(spark, Seq(dA, dB), out,
      colDurationMs = hour)
    val got = ParquetShardStore.select(spark, out, base,
        base + 180 * 60000L)
      .select(unix_millis(col("ts")).as("t"), col("value"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size == 180)
    // B (later in dirs) wins on the overlap
    assert(got(base + 59 * 60000L) == 59.0)
    assert(got(base + 60 * 60000L) == 600.0)
    assert(got(base + 179 * 60000L) == 1790.0)
    // the merged dir carries the widened footer range
    val m = ParquetShardStore.meta(spark, out)
    assert(m.mintMs == base && m.maxtMs == base + 179 * 60000L)
  }

  test("mergeShardsHist: overlapping HISTOGRAM shard dirs compact to " +
      "one, LWW on the overlap, family uniformity enforced") {
    import graft.tsdb.block.ChunkencHistogram
    def mk(lo: Int, hi: Int, scale: Long) =
      (lo until hi).map(i => ("api", new Timestamp(base + i * 60000L),
        i.toLong, Seq(1, 2), Seq(i * scale + 1, i * scale + 2), i * 0.5))
        .toDF("svc", "ts", "zero", "idx", "cnt", "hsum")
    val dA = "/tmp/graft_pshard_hmerge_a"
    val dB = "/tmp/graft_pshard_hmerge_b"
    val out = "/tmp/graft_pshard_hmerge_out"
    ParquetShardStore.writeHist(mk(0, 80, 1L), dA, Seq("svc"), "ts",
      "zero", "idx", "cnt", Some("hsum"), colDurationMs = hour)
    ParquetShardStore.writeHist(mk(40, 120, 10L), dB, Seq("svc"), "ts",
      "zero", "idx", "cnt", Some("hsum"), colDurationMs = hour)
    ParquetShardStore.mergeShardsHist(spark, Seq(dA, dB), out,
      colDurationMs = hour)
    val got = ParquetShardStore.selectHist(spark, out, base,
        base + 120 * 60000L)
      .select(unix_millis(col("ts")).as("t"), col("pos_counts")(0))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 120)
    assert(got(base + 39 * 60000L) == 40L) // A only
    assert(got(base + 40 * 60000L) == 401L) // overlap: B wins
    assert(got(base + 119 * 60000L) == 1191L) // B only
    // widened footer range
    val m = ParquetShardStore.meta(spark, out)
    assert(m.mintMs == base && m.maxtMs == base + 119 * 60000L)
    // family mixing rejects loudly: an NHCB dir cannot merge with an
    // exponential one
    val dC = "/tmp/graft_pshard_hmerge_c"
    ParquetShardStore.writeHist(
      mk(0, 5, 1L).withColumn("zero", lit(0L))
        .withColumn("idx", typedLit(Seq(0, 1))),
      dC, Seq("svc"), "ts", "zero", "idx", "cnt", Some("hsum"),
      histSchema = ChunkencHistogram.CustomBucketsSchema,
      customValues = Seq(0.5, 1.0), colDurationMs = hour)
    val e = intercept[IllegalArgumentException] {
      ParquetShardStore.mergeShardsHist(spark, Seq(dA, dC),
        "/tmp/graft_pshard_hmerge_bad", colDurationMs = hour)
    }
    assert(e.getMessage.contains("famil"))
  }

  test("the dictionary cold path serves the shard layout directly: " +
      "label_values from the labels file's dictionary pages") {
    written
    // MaterializeAllLabelValues on the reference's OWN layout — the
    // chunks files lack l_* columns and contribute nothing
    assert(graft.tsdb.DictionaryLabelScan
      .labelValues(spark, dir, "l_event_type")
      .collect().map(_.getString(0)).toSeq == Seq("req", "view"))
    assert(graft.tsdb.DictionaryLabelScan
      .labelValues(spark, dir, "l_env")
      .collect().map(_.getString(0)).toSeq == Seq("dev", "prod"))
  }

  test("plan shape: matchers resolve before the scan, only " +
      "overlapping s_data columns are read, no join") {
    written
    val df = ParquetShardStore.select(spark, dir,
      base + 4 * hour, base + 6 * hour, Seq(Matcher.Eq("event_type", "req")))
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!plan.contains("Join") && !plan.contains("BroadcastExchange"), plan)
    // the labels files were read on the driver: the plan scans chunks only
    assert(plan.contains("chunks.parquet") && !plan.contains("labels.parquet"), plan)
    assert(!plan.contains("l_event_type"), plan)
    // the reader requests the 4h-6h window's columns only
    // ([4h,6h) at 2h colDuration = column 2 alone)
    assert(ShardReads.of(df).map(_.dataCols) == Seq(Seq("s_data_2")), plan)
  }

  test("cross-family compaction refuses loudly instead of silently " +
      "dropping foreign frames") {
    // a histogram shard fed to the XOR merge must throw, not emit an
    // output missing every histogram sample (and vice versa)
    def mkH(lo: Int, hi: Int) =
      (lo until hi).map(i => ("api", new Timestamp(base + i * 60000L),
        i.toLong, Seq(1, 2), Seq(i + 1L, i + 2L), i * 0.5))
        .toDF("svc", "ts", "zero", "idx", "cnt", "hsum")
    def mkX(lo: Int, hi: Int) =
      (lo until hi).map(i => ("api", new Timestamp(base + i * 60000L),
        i * 1.0)).toDF("svc", "ts", "value")
    val dH = "/tmp/graft_pshard_xfam_h"
    val dX = "/tmp/graft_pshard_xfam_x"
    ParquetShardStore.writeHist(mkH(0, 10), dH, Seq("svc"), "ts",
      "zero", "idx", "cnt", Some("hsum"), colDurationMs = hour)
    ParquetShardStore.write(mkX(0, 10), dX, Seq("svc"), "ts", "value",
      colDurationMs = hour)
    val e1 = intercept[IllegalArgumentException] {
      ParquetShardStore.mergeShards(spark, Seq(dX, dH),
        "/tmp/graft_pshard_xfam_bad1", colDurationMs = hour)
    }
    assert(e1.getMessage.contains("chunkenc families"))
    val e2 = intercept[IllegalArgumentException] {
      ParquetShardStore.mergeShardsHist(spark, Seq(dH, dX),
        "/tmp/graft_pshard_xfam_bad2", colDurationMs = hour)
    }
    assert(e2.getMessage.contains("chunkenc families"))
  }
}
