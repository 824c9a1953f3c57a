package graft.golden

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import org.apache.spark.sql.catalyst.util.ArrayData

import graft.tsdb.{ChunkCodec, ChunkencHistCodec}
import graft.tsdb.block.{ChunkencHistogram => CH, TsdbBlockFormat => F, TsdbBlockStore}

/** Regression anchor against IMMUTABLE committed bytes
  * (`src/test/resources/golden/`, generated once by [[GoldenGen]]):
  * a writer and reader that drift in lockstep still roundtrip each
  * other, but they cannot both match bytes frozen in git. Checks
  * both directions per fixture — writer(values) == committed bytes,
  * reader(committed bytes) == values — plus an end-to-end Spark
  * read of the committed block dir. */
class GoldenBytesSpec extends AnyFunSuite {

  private val root = new java.io.File("src/test/resources/golden")

  private def committed(name: String): Array[Byte] = {
    val f = new java.io.File(root, name)
    assert(f.isFile, s"missing committed golden fixture $name")
    java.nio.file.Files.readAllBytes(f.toPath)
  }

  private def raw(a: Array[Double]) =
    a.map(java.lang.Double.doubleToRawLongBits).toSeq

  test("writer output is byte-identical to every committed fixture") {
    assert(GoldenData.xorChunkBytes.toSeq == committed("xor_chunk.bin").toSeq)
    assert(GoldenData.histChunkBytes.toSeq == committed("hist_chunk.bin").toSeq)
    assert(GoldenData.floatHistChunkBytes.toSeq ==
      committed("float_hist_chunk.bin").toSeq)
    assert(GoldenData.nhcbChunkBytes.toSeq == committed("nhcb_chunk.bin").toSeq)
    assert(GoldenData.advHistChunkBytes.toSeq ==
      committed("adv_hist_chunk.bin").toSeq)
    assert(GoldenData.advFloatHistChunkBytes.toSeq ==
      committed("adv_float_hist_chunk.bin").toSeq)
    assert(GoldenData.chunkBlobBytes.toSeq == committed("chunk_blob.bin").toSeq)
  }

  private def assertHistEqual(c: CH.HistChunk, e: CH.HistChunk): Unit = {
    assert(c.flags == e.flags && c.schema == e.schema &&
      c.zeroThreshold == e.zeroThreshold)
    assert(c.posSpans == e.posSpans && c.negSpans == e.negSpans)
    assert(c.ts.toSeq == e.ts.toSeq)
    assert(c.count.toSeq == e.count.toSeq)
    assert(c.zeroCount.toSeq == e.zeroCount.toSeq)
    assert(raw(c.sum) == raw(e.sum))
    assert(c.posBuckets.map(_.toSeq).toSeq == e.posBuckets.map(_.toSeq).toSeq)
    assert(c.negBuckets.map(_.toSeq).toSeq == e.negBuckets.map(_.toSeq).toSeq)
    assert(raw(c.customValues) == raw(e.customValues))
  }

  test("NHCB chunk decodes from committed bytes, bound list bit-exact") {
    val b = committed("nhcb_chunk.bin")
    assertHistEqual(CH.decodeHistChunk(b, 0, b.length), GoldenData.nhcbChunk)
  }

  test("adversarial integer chunk decodes from committed bytes") {
    val b = committed("adv_hist_chunk.bin")
    assertHistEqual(CH.decodeHistChunk(b, 0, b.length),
      GoldenData.advHistChunk)
  }

  test("adversarial float chunk decodes from committed bytes") {
    val b = committed("adv_float_hist_chunk.bin")
    val c = CH.decodeFloatHistChunk(b, 0, b.length)
    val e = GoldenData.advFloatHistChunk
    assert(c.flags == e.flags && c.schema == e.schema)
    assert(c.posSpans == e.posSpans && c.negSpans == e.negSpans)
    assert(c.ts.toSeq == e.ts.toSeq)
    assert(raw(c.count) == raw(e.count))
    assert(raw(c.zeroCount) == raw(e.zeroCount))
    assert(raw(c.sum) == raw(e.sum))
    assert(c.posBuckets.map(raw).toSeq == e.posBuckets.map(raw).toSeq)
  }

  test("XOR chunk decodes from committed bytes") {
    val b = committed("xor_chunk.bin")
    val (ts, vs) = ChunkCodec.decodeChunk(b, 0, b.length)
    assert(ts.toSeq == GoldenData.xorTs.toSeq)
    assert(raw(vs) == raw(GoldenData.xorVs))
  }

  test("chunkenc histogram chunk decodes from committed bytes") {
    val b = committed("hist_chunk.bin")
    val c = CH.decodeHistChunk(b, 0, b.length)
    val e = GoldenData.histChunk
    assert(c.flags == e.flags && c.schema == e.schema &&
      c.zeroThreshold == e.zeroThreshold)
    assert(c.posSpans == e.posSpans && c.negSpans == e.negSpans)
    assert(c.ts.toSeq == e.ts.toSeq)
    assert(c.count.toSeq == e.count.toSeq)
    assert(c.zeroCount.toSeq == e.zeroCount.toSeq)
    assert(raw(c.sum) == raw(e.sum))
    assert(c.posBuckets.map(_.toSeq).toSeq == e.posBuckets.map(_.toSeq).toSeq)
    assert(c.negBuckets.map(_.toSeq).toSeq == e.negBuckets.map(_.toSeq).toSeq)
  }

  test("chunkenc float histogram chunk decodes from committed bytes") {
    val b = committed("float_hist_chunk.bin")
    val c = CH.decodeFloatHistChunk(b, 0, b.length)
    val e = GoldenData.floatHistChunk
    assert(c.flags == e.flags && c.schema == e.schema &&
      c.zeroThreshold == e.zeroThreshold)
    assert(c.posSpans == e.posSpans && c.negSpans == e.negSpans)
    assert(c.ts.toSeq == e.ts.toSeq)
    assert(raw(c.count) == raw(e.count))
    assert(raw(c.zeroCount) == raw(e.zeroCount))
    assert(raw(c.sum) == raw(e.sum))
    assert(c.posBuckets.map(raw).toSeq == e.posBuckets.map(raw).toSeq)
  }

  test("parquet-cell blobs decode from committed bytes") {
    val (ts, vs) = ChunkCodec.decodeBlob(committed("chunk_blob.bin"),
      Long.MinValue, Long.MaxValue)
    assert(ts.toSeq == GoldenData.xorTs.toSeq)
    assert(raw(vs) == raw(GoldenData.xorVs))
  }

  test("committed block dir resolves through the index reader") {
    val block = new java.io.File(root, "block")
    val ir = new F.IndexReader(java.nio.file.Files.readAllBytes(
      new java.io.File(block, "index").toPath))
    assert(ir.labelValues("__name__") == Seq("golden_hist", "golden_total"))
    val segs = new F.ChunkSegmentReader(new java.io.File(block, "chunks"))
    val histRef = ir.postings("__name__", "golden_hist").head
    val se = ir.series(histRef)
    assert(se.labels.toMap.apply("job") == "api")
    val (enc, data) = segs.chunk(se.chunks.head.ref)
    assert(enc == F.EncHistogram)
    val c = CH.decodeHistChunk(data, 0, data.length)
    assert(c.ts.toSeq == GoldenData.histChunk.ts.toSeq)
    assert(c.posBuckets.map(_.toSeq).toSeq ==
      GoldenData.histChunk.posBuckets.map(_.toSeq).toSeq)
  }

  test("committed block dir reads end-to-end through the Spark reader") {
    val spark = SparkTestBase.spark
    val floats = TsdbBlockStore.read(spark, root.getPath).collect()
    // the float surface sees ONLY the XOR series; the histogram
    // chunk is skipped by family isolation
    assert(floats.length == GoldenData.xorTs.length)
    assert(floats.forall(_.labels("__name__") == "golden_total"))
    val got = floats.map(s => (s.ts,
      java.lang.Double.doubleToRawLongBits(s.value))).toSet
    val want = GoldenData.xorTs.zip(raw(GoldenData.xorVs)).toSet
    assert(got == want)
  }

  test("NH block writer output is byte-identical to the committed dir") {
    val tmp = java.nio.file.Files
      .createTempDirectory("golden_nh_regen").toFile
    try {
      GoldenData.writeGoldenNhBlock(tmp)
      for (name <- Seq("index", "meta.json", "tombstones",
          "chunks/000001")) {
        val want = committed(s"nhblock/block/$name")
        val got = java.nio.file.Files.readAllBytes(
          new java.io.File(tmp, name).toPath)
        assert(got.toSeq == want.toSeq, s"writer drift in $name")
      }
    } finally graft.tools.Fs.deleteRecursively(tmp)
  }

  test("committed NH block reads end-to-end through readHistLabels") {
    val spark = SparkTestBase.spark
    val nhRoot = new java.io.File(root, "nhblock").getPath
    val rows = TsdbBlockStore
      .readHistLabels(spark, nhRoot, Seq("__name__", "job"))
      .collect().sortBy(_.getLong(2))
    val e = GoldenData.nhHistChunk
    assert(rows.length == e.ts.length)
    val idx = graft.tsdb.block.ChunkencHistogram
      .bucketIndexes(e.posSpans).toSeq
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getString(0) == "golden_nh" && r.getString(1) == "api")
      assert(r.getLong(2) == e.ts(i))
      assert(r.getInt(3) == e.schema)
      assert(r.getLong(4) == e.zeroCount(i))
      assert(r.getSeq[Int](5) == idx)
      assert(r.getSeq[Long](6) == e.posBuckets(i).toSeq)
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(7)) ==
        java.lang.Double.doubleToRawLongBits(e.sum(i)))
    }
  }

  test("committed SIGNED hist chunk reads both bucket sides through readHistLabels") {
    // golden/block's golden_hist series was frozen in r9 WITH
    // negative spans, when readHistLabels still rejected them — so
    // these bytes pin the signed read path against a fixture that
    // predates the reader, the closest available thing to
    // foreign-written bytes
    val spark = SparkTestBase.spark
    val rows = TsdbBlockStore
      .readHistLabels(spark, root.getPath, Seq("__name__"),
        matchers = Seq(graft.tsdb.Matcher.Eq("__name__", "golden_hist")))
      .collect().sortBy(_.getLong(1))
    val e = GoldenData.histChunk
    assert(rows.length == e.ts.length)
    val pIdx = graft.tsdb.block.ChunkencHistogram
      .bucketIndexes(e.posSpans).toSeq
    val nIdx = graft.tsdb.block.ChunkencHistogram
      .bucketIndexes(e.negSpans).toSeq
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getString(0) == "golden_hist")
      assert(r.getLong(1) == e.ts(i))
      assert(r.getInt(2) == e.schema)
      assert(r.getLong(3) == e.zeroCount(i))
      assert(r.getSeq[Int](4) == pIdx)
      assert(r.getSeq[Long](5) == e.posBuckets(i).toSeq)
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(6)) ==
        java.lang.Double.doubleToRawLongBits(e.sum(i)))
      assert(r.getSeq[Int](8) == nIdx, "neg layout")
      assert(r.getSeq[Long](9) == e.negBuckets(i).toSeq, "neg counts")
    }
  }

  test("tombstoned block writer output is byte-identical to the committed dirs") {
    val tmp = java.nio.file.Files
      .createTempDirectory("golden_tomb_regen").toFile
    try {
      GoldenData.writeGoldenTombBlocks(tmp)
      val names = Option(new java.io.File(root, "tombblock").listFiles())
        .getOrElse(Array.empty).map(_.getName).sorted
      assert(names.length == 2)
      for (block <- names;
           f <- Seq("index", "meta.json", "tombstones", "chunks/000001")) {
        val want = committed(s"tombblock/$block/$f")
        val got = java.nio.file.Files.readAllBytes(
          new java.io.File(tmp, s"$block/$f").toPath)
        assert(got.toSeq == want.toSeq, s"writer drift in $block/$f")
      }
    } finally graft.tools.Fs.deleteRecursively(tmp)
  }

  test("committed tombstones are applied by the Spark block reader") {
    val spark = SparkTestBase.spark
    val tombRoot = new java.io.File(root, "tombblock").getPath
    val got = TsdbBlockStore.read(spark, tombRoot).collect()
      .map(s => (s.ts, java.lang.Double.doubleToRawLongBits(s.value))).toSet
    val (delA, delB) = GoldenData.tombDeleted
    val want = GoldenData.xorTs.zip(raw(GoldenData.xorVs))
      .filterNot { case (ts, _) => ts >= delA && ts <= delB }.toSet
    assert(got == want)
    // sanity: the carve-out removed exactly two samples
    assert(got.size == GoldenData.xorTs.length - 2)
  }

  test("NHCB block writer output is byte-identical to the committed dir") {
    val tmp = java.nio.file.Files
      .createTempDirectory("golden_nhcb_regen").toFile
    try {
      GoldenData.writeGoldenNhcbBlock(tmp)
      for (name <- Seq("index", "meta.json", "tombstones", "chunks/000001")) {
        val want = committed(s"nhcbblock/block/$name")
        val got = java.nio.file.Files.readAllBytes(
          new java.io.File(tmp, name).toPath)
        assert(got.toSeq == want.toSeq, s"writer drift in $name")
      }
    } finally graft.tools.Fs.deleteRecursively(tmp)
  }

  test("committed NHCB block reads end-to-end: bounds bit-exact, union layout") {
    val spark = SparkTestBase.spark
    val rows = TsdbBlockStore
      .readHistLabels(spark, new java.io.File(root, "nhcbblock").getPath,
        Seq("__name__", "job"))
      .collect().sortBy(_.getLong(2))
    val e = GoldenData.nhcbChunk
    assert(rows.length == e.ts.length)
    val idx = graft.tsdb.block.ChunkencHistogram
      .bucketIndexes(e.posSpans).toSeq
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getString(0) == "golden_nhcb" && r.getString(1) == "api")
      assert(r.getLong(2) == e.ts(i))
      assert(r.getInt(3) == graft.tsdb.block.ChunkencHistogram
        .CustomBucketsSchema)
      assert(r.getLong(4) == 0L)
      assert(r.getSeq[Int](5) == idx)
      assert(r.getSeq[Long](6) == e.posBuckets(i).toSeq)
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(7)) ==
        java.lang.Double.doubleToRawLongBits(e.sum(i)))
      assert(raw(r.getSeq[Double](8).toArray) == raw(e.customValues),
        "custom bound list must survive bit-exactly")
      assert(r.getSeq[Int](9).isEmpty && r.getSeq[Long](10).isEmpty)
    }
  }

  test("signed block writer output is byte-identical to the committed dir") {
    val tmp = java.nio.file.Files
      .createTempDirectory("golden_signed_regen").toFile
    try {
      GoldenData.writeGoldenSignedBlock(tmp)
      for (name <- Seq("index", "meta.json", "tombstones", "chunks/000001")) {
        val want = committed(s"signedblock/block/$name")
        val got = java.nio.file.Files.readAllBytes(
          new java.io.File(tmp, name).toPath)
        assert(got.toSeq == want.toSeq, s"writer drift in $name")
      }
    } finally graft.tools.Fs.deleteRecursively(tmp)
  }

  test("committed signed block surfaces both bucket sides AND the header hint") {
    val spark = SparkTestBase.spark
    val rows = TsdbBlockStore
      .readHistLabels(spark, new java.io.File(root, "signedblock").getPath,
        Seq("__name__"), withResetHint = true)
      .collect().sortBy(_.getLong(1))
    val e = GoldenData.advHistChunk
    assert(rows.length == e.ts.length)
    val pIdx = graft.tsdb.block.ChunkencHistogram
      .bucketIndexes(e.posSpans).toSeq
    val nIdx = graft.tsdb.block.ChunkencHistogram
      .bucketIndexes(e.negSpans).toSeq
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getString(0) == "golden_signed")
      assert(r.getLong(1) == e.ts(i))
      assert(r.getInt(2) == e.schema)
      assert(r.getLong(3) == e.zeroCount(i))
      assert(r.getSeq[Int](4) == pIdx)
      assert(r.getSeq[Long](5) == e.posBuckets(i).toSeq)
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(6)) ==
        java.lang.Double.doubleToRawLongBits(e.sum(i)))
      assert(r.getSeq[Int](8) == nIdx)
      assert(r.getSeq[Long](9) == e.negBuckets(i).toSeq)
      // the CounterReset chunk header: first sample reads it, the
      // in-chunk successors are by construction not resets
      assert(r.getString(10) ==
        (if (i == 0) "counter_reset" else "not_counter_reset"))
    }
  }

  test("committed NH block reads end-to-end through readFloatHistLabels") {
    val spark = SparkTestBase.spark
    val nhRoot = new java.io.File(root, "nhblock").getPath
    val rows = TsdbBlockStore
      .readFloatHistLabels(spark, nhRoot, Seq("__name__"))
      .collect().sortBy(_.getLong(1))
    val e = GoldenData.floatHistChunk
    assert(rows.length == e.ts.length)
    val idx = graft.tsdb.block.ChunkencHistogram
      .bucketIndexes(e.posSpans).toSeq
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getString(0) == "golden_nh_float")
      assert(r.getLong(1) == e.ts(i))
      assert(r.getInt(2) == e.schema)
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(3)) ==
        java.lang.Double.doubleToRawLongBits(e.zeroCount(i)))
      assert(r.getSeq[Int](4) == idx)
      assert(r.getSeq[Double](5).map(
        java.lang.Double.doubleToRawLongBits) ==
        e.posBuckets(i).toSeq.map(java.lang.Double.doubleToRawLongBits))
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(6)) ==
        java.lang.Double.doubleToRawLongBits(e.sum(i)))
    }
  }

  test("histogram cells of both families are byte-identical to the committed fixtures") {
    for (v <- GoldenData.ladderVariants; float <- Seq(false, true);
         exact <- Seq(false, true)) {
      val name = GoldenData.ladderCellName(v, float, exact)
      assert(GoldenData.ladderCellBytes(v, float, exact).toSeq ==
        committed(name).toSeq, s"writer drift in $name")
    }
  }

  private def decodeCell(b: Array[Byte], float: Boolean): ArrayData =
    ChunkencHistCodec.decodeToArrayData(b, Long.MinValue, Long.MaxValue, float = float)

  test("exact-layout cells decode from committed bytes to the samples written") {
    for (v <- GoldenData.ladderVariants; float <- Seq(false, true)) {
      val name = GoldenData.ladderCellName(v, float, exactLayout = true)
      val got = decodeCell(committed(name), float)
      val want = GoldenData.ladderSamples(v, float)
      assert(got.numElements() == want.numElements(), name)
      def counts(a: ArrayData): Seq[Long] =
        if (float) raw(a.toDoubleArray()) else a.toLongArray().toSeq
      for (i <- 0 until want.numElements()) {
        val g = got.getStruct(i, 9)
        val w = want.getStruct(i, 7)
        val zero = (r: org.apache.spark.sql.catalyst.InternalRow) =>
          if (float) java.lang.Double.doubleToRawLongBits(r.getDouble(1))
          else r.getLong(1)
        assert(g.getLong(0) == w.getLong(0), s"$name ts $i")
        assert(zero(g) == zero(w), s"$name zero $i")
        assert(g.getArray(2).toIntArray().toSeq == w.getArray(2).toIntArray().toSeq,
          s"$name idx $i")
        assert(counts(g.getArray(3)) == counts(w.getArray(3)), s"$name cnt $i")
        assert(java.lang.Double.doubleToRawLongBits(g.getDouble(4)) ==
          java.lang.Double.doubleToRawLongBits(
            if (w.isNullAt(4)) Double.NaN else w.getDouble(4)), s"$name sum $i")
        assert(g.getInt(5) == GoldenData.ladderSchema(v), s"$name schema $i")
        assert(g.getArray(7).toIntArray().toSeq == w.getArray(5).toIntArray().toSeq,
          s"$name nidx $i")
        assert(counts(g.getArray(8)) == counts(w.getArray(6)), s"$name ncnt $i")
      }
    }
  }

  test("hist and float-hist block writers are byte-identical to the committed dirs") {
    val spark = SparkTestBase.spark
    for ((name, float) <- Seq("histwriterblock" -> false,
        "floathistwriterblock" -> true)) {
      val tmp = java.nio.file.Files
        .createTempDirectory("golden_ladder_regen").toFile
      try {
        val ulids = GoldenData.writeLadderBlock(spark, tmp.getPath, float)
        val want = Option(new java.io.File(root, name).listFiles())
          .getOrElse(Array.empty).map(_.getName).sorted.toSeq
        assert(want.length == 1 && ulids == want, s"ULID drift in $name")
        for (f <- Seq("index", "meta.json", "tombstones", "chunks/000001")) {
          val got = java.nio.file.Files.readAllBytes(
            new java.io.File(tmp, s"${want.head}/$f").toPath)
          assert(got.toSeq == committed(s"$name/${want.head}/$f").toSeq,
            s"writer drift in $name/$f")
        }
      } finally graft.tools.Fs.deleteRecursively(tmp)
    }
  }
}
