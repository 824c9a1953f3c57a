package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tsdb.Matcher
import graft.tsdb.block.{ChunkencHistogram, TsdbBlockFormat => F, TsdbBlockStore}

/** Native-histogram TSDB block ingestion
  * ([[graft.tsdb.block.TsdbBlockStore.writeHist]] /
  * `readHistLabels` and the float variants): chunkenc encoding-2/3
  * chunks inside real block dirs, the union-layout zero-fill (the
  * chunkenc recode analog), matcher/range pruning, and the
  * family-isolation contract over mixed directories. */
class TsdbBlockHistSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete()
  }

  /** Counter-style NH samples: 2 series × 40 days, bucket index 4
    * appears only from day 20 — exercises the mid-chunk layout
    * union. Exact integers throughout. */
  private def mkHistSamples() = {
    import spark.implicits._
    val rows = for {
      job <- Seq("api", "db")
      d <- 0 until 40
    } yield {
      val idx = if (d >= 20) Seq(-1, 0, 2, 4) else Seq(-1, 0, 2)
      val cnt = idx.map(i => (d + 1).toLong * (i + 3))
      (job, d.toLong * 86400000L, (d % 5).toLong, idx, cnt,
        d.toDouble * 0.25)
    }
    rows.toDF("job", "ts", "zero", "idx", "cnt", "hsum")
  }

  private def nonzero(idx: Seq[Int], cnt: Seq[Long]): Set[(Int, Long)] =
    idx.zip(cnt).filter(_._2 != 0L).toSet

  test("writeHist/readHistLabels roundtrips samples bit-exactly") {
    val root = java.nio.file.Files.createTempDirectory("graft_nhb").toFile
    try {
      val df = mkHistSamples()
      val dirs = TsdbBlockStore.writeHist(df, root.getPath, Seq("job"),
        "ts", "zero", "idx", "cnt", "hsum", schema = 0,
        blockDurationMs = 10L * 86400000L, samplesPerChunk = 7)
      assert(dirs.size == 4) // 40 days / 10-day blocks
      val back = TsdbBlockStore
        .readHistLabels(spark, root.getPath, Seq("job")).collect()
      assert(back.length == 80)
      val expected = df.collect().map { r =>
        ((r.getString(0), r.getLong(1)),
          (r.getLong(2), r.getDouble(5),
            nonzero(r.getSeq[Int](3), r.getSeq[Long](4))))
      }.toMap
      back.foreach { r =>
        val key = (r.getString(0), r.getLong(1))
        val (zero, hsum, buckets) = expected(key)
        assert(r.getInt(2) == 0, "schema")
        assert(r.getLong(3) == zero, s"zero_count at $key")
        assert(nonzero(r.getSeq[Int](4), r.getSeq[Long](5)) == buckets,
          s"buckets at $key")
        assert(r.getDouble(6) == hsum, s"hist_sum at $key")
      }
    } finally deleteRec(root)
  }

  test("union layout fills absent buckets with explicit zeros (recode analog)") {
    val root = java.nio.file.Files.createTempDirectory("graft_nhu").toFile
    try {
      // one series, 2 samples in ONE chunk; bucket 4 only in sample 2
      import spark.implicits._
      val df = Seq(
        ("s", 0L, 1L, Seq(0, 1), Seq(5L, 6L), 1.0),
        ("s", 1000L, 2L, Seq(0, 1, 4), Seq(7L, 8L, 9L), 2.0))
        .toDF("job", "ts", "zero", "idx", "cnt", "hsum")
      TsdbBlockStore.writeHist(df, root.getPath, Seq("job"), "ts",
        "zero", "idx", "cnt", "hsum")
      val back = TsdbBlockStore
        .readHistLabels(spark, root.getPath, Seq("job"))
        .orderBy("ts").collect()
      // sample 1 decodes with the chunk's full layout, bucket 4 at 0
      assert(back(0).getSeq[Int](4) == Seq(0, 1, 4))
      assert(back(0).getSeq[Long](5) == Seq(5L, 6L, 0L))
      assert(back(1).getSeq[Long](5) == Seq(7L, 8L, 9L))
    } finally deleteRec(root)
  }

  test("hist chunks carry encoding 2, the flags byte and the layout") {
    val root = java.nio.file.Files.createTempDirectory("graft_nhf").toFile
    try {
      TsdbBlockStore.writeHist(mkHistSamples(), root.getPath, Seq("job"),
        "ts", "zero", "idx", "cnt", "hsum", schema = 3,
        zeroThreshold = math.pow(2, -10), gauge = true)
      val block = new java.io.File(root,
        Option(root.list()).get.filter(!_.startsWith(".")).min)
      val ir = new F.IndexReader(java.nio.file.Files.readAllBytes(
        new java.io.File(block, "index").toPath))
      val ref = ir.series(ir.allPostings.head).chunks.head.ref
      val (enc, data) =
        new F.ChunkSegmentReader(new java.io.File(block, "chunks")).chunk(ref)
      assert(enc == F.EncHistogram)
      val c = ChunkencHistogram.decodeHistChunk(data, 0, data.length)
      assert(c.flags == ChunkencHistogram.GaugeType)
      assert(c.schema == 3)
      assert(c.zeroThreshold == math.pow(2, -10))
      assert(c.negSpans.isEmpty)
      // count is the derived total: zero + Σ buckets
      assert(c.count(0) == c.zeroCount(0) + c.posBuckets(0).sum)
    } finally deleteRec(root)
  }

  test("matchers and time range prune NH reads like the float path") {
    val root = java.nio.file.Files.createTempDirectory("graft_nhm").toFile
    try {
      TsdbBlockStore.writeHist(mkHistSamples(), root.getPath, Seq("job"),
        "ts", "zero", "idx", "cnt", "hsum",
        blockDurationMs = 10L * 86400000L)
      def count(mint: Long = Long.MinValue, maxt: Long = Long.MaxValue,
          ms: Seq[Matcher] = Nil) =
        TsdbBlockStore.readHistLabels(spark, root.getPath, Seq("job"),
          mint, maxt, ms).count()
      assert(count() == 80)
      assert(count(ms = Seq(Matcher.Eq("job", "api"))) == 40)
      assert(count(ms = Seq(Matcher.Re("job", "a.*"))) == 40)
      assert(count(mint = 20L * 86400000L) == 40)
      assert(count(mint = 5L * 86400000L, maxt = 9L * 86400000L) == 10)
      assert(count(ms = Seq(Matcher.Eq("job", "nope"))) == 0)
    } finally deleteRec(root)
  }

  test("float-histogram blocks roundtrip with double counts") {
    val root = java.nio.file.Files.createTempDirectory("graft_nhfl").toFile
    try {
      import spark.implicits._
      val rows = for (d <- 0 until 30) yield
        ("m", d.toLong * 3600000L, d * 0.5, Seq(-2, 1),
          Seq(d * 0.25, d * 1.25), d * 0.125)
      val df = rows.toDF("job", "ts", "zero", "idx", "cnt", "hsum")
      TsdbBlockStore.writeFloatHist(df, root.getPath, Seq("job"), "ts",
        "zero", "idx", "cnt", "hsum", samplesPerChunk = 11)
      val back = TsdbBlockStore
        .readFloatHistLabels(spark, root.getPath, Seq("job"))
        .orderBy("ts").collect()
      assert(back.length == 30)
      back.zipWithIndex.foreach { case (r, d) =>
        assert(r.getLong(1) == d.toLong * 3600000L)
        assert(r.getDouble(3) == d * 0.5)
        assert(r.getSeq[Int](4) == Seq(-2, 1))
        assert(r.getSeq[Double](5) == Seq(d * 0.25, d * 1.25))
        assert(r.getDouble(6) == d * 0.125)
      }
      // segments carry ordinal 3
      val block = new java.io.File(root,
        Option(root.list()).get.filter(!_.startsWith(".")).min)
      val ir = new F.IndexReader(java.nio.file.Files.readAllBytes(
        new java.io.File(block, "index").toPath))
      val ref = ir.series(ir.allPostings.head).chunks.head.ref
      val (enc, _) =
        new F.ChunkSegmentReader(new java.io.File(block, "chunks")).chunk(ref)
      assert(enc == F.EncFloatHistogram)
    } finally deleteRec(root)
  }

  test("compactHist merges overlapping NH blocks with deterministic LWW") {
    val root = java.nio.file.Files.createTempDirectory("graft_nhc").toFile
    val out = java.nio.file.Files.createTempDirectory("graft_nhco").toFile
    try {
      import spark.implicits._
      def mk(conflictCnt: Long, extraDay: Int) = {
        val base = for (d <- 0 until 10) yield
          ("s", d.toLong * 86400000L, d.toLong, Seq(0, 2),
            Seq((d + 1).toLong, conflictCnt), d * 0.5)
        val extra = ("s", extraDay.toLong * 86400000L, 99L, Seq(0, 2),
          Seq(1L, 2L), 9.0)
        (base :+ extra).toDF("job", "ts", "zero", "idx", "cnt", "hsum")
      }
      // two overlapping block sets over the same window, conflicting
      // on days 0-9 (different bucket counts), each with one
      // disjoint extra day
      val u1 = TsdbBlockStore.writeHist(mk(100L, 20), root.getPath,
        Seq("job"), "ts", "zero", "idx", "cnt", "hsum",
        blockDurationMs = 30L * 86400000L)
      val u2 = TsdbBlockStore.writeHist(mk(200L, 25), root.getPath,
        Seq("job"), "ts", "zero", "idx", "cnt", "hsum",
        blockDurationMs = 30L * 86400000L)
      assert(u1.size == 1 && u2.size == 1 && u1 != u2)
      val winner = if (u2.head > u1.head) 200L else 100L
      TsdbBlockStore.compactHist(spark, root.getPath, out.getPath,
        Seq("job"), blockDurationMs = 30L * 86400000L)
      val back = TsdbBlockStore
        .readHistLabels(spark, out.getPath, Seq("job"))
        .orderBy("ts").collect()
      assert(back.length == 12) // 10 merged days + 2 disjoint extras
      back.take(10).zipWithIndex.foreach { case (r, d) =>
        assert(r.getLong(1) == d.toLong * 86400000L)
        // the whole SAMPLE from the winning ULID, not a field mix
        assert(r.getSeq[Long](5) == Seq((d + 1).toLong, winner), s"day $d")
      }
      assert(back.map(_.getLong(3)).count(_ == 99L) == 2)
    } finally { deleteRec(root); deleteRec(out) }
  }

  test("NHCB blocks roundtrip and compact with the bound list preserved") {
    val root = java.nio.file.Files.createTempDirectory("graft_nhcb").toFile
    val out = java.nio.file.Files.createTempDirectory("graft_nhcbo").toFile
    try {
      import spark.implicits._
      val bounds = Seq(0.1, 0.5, 2.5, 10.0)
      def mk(cnt0: Long, extraDay: Int) = {
        val base = for (d <- 0 until 8) yield
          ("s", d.toLong * 86400000L, 0L, Seq(0, 2, 4),
            Seq(cnt0 + d, d.toLong * 2, 1L), d * 0.5)
        val extra = ("s", extraDay.toLong * 86400000L, 0L, Seq(1),
          Seq(7L), 9.0)
        (base :+ extra).toDF("job", "ts", "zero", "idx", "cnt", "hsum")
      }
      val u1 = TsdbBlockStore.writeHist(mk(10L, 20), root.getPath,
        Seq("job"), "ts", "zero", "idx", "cnt", "hsum",
        schema = graft.tsdb.block.ChunkencHistogram.CustomBucketsSchema,
        customValues = bounds, blockDurationMs = 30L * 86400000L)
      val u2 = TsdbBlockStore.writeHist(mk(50L, 25), root.getPath,
        Seq("job"), "ts", "zero", "idx", "cnt", "hsum",
        schema = graft.tsdb.block.ChunkencHistogram.CustomBucketsSchema,
        customValues = bounds, blockDurationMs = 30L * 86400000L)
      assert(u1.size == 1 && u2.size == 1 && u1 != u2)
      // read back: schema -53 and the bound list on every row
      val direct = TsdbBlockStore
        .readHistLabels(spark, root.getPath, Seq("job")).collect()
      assert(direct.nonEmpty)
      direct.foreach { r =>
        assert(r.getInt(2) ==
          graft.tsdb.block.ChunkencHistogram.CustomBucketsSchema)
        assert(r.getSeq[Double](7) == bounds)
      }
      // compaction keeps schema AND bounds; LWW per whole sample
      val winner = if (u2.head > u1.head) 50L else 10L
      TsdbBlockStore.compactHist(spark, root.getPath, out.getPath,
        Seq("job"), blockDurationMs = 30L * 86400000L)
      val back = TsdbBlockStore
        .readHistLabels(spark, out.getPath, Seq("job"))
        .orderBy("ts").collect()
      assert(back.length == 10) // 8 merged days + 2 disjoint extras
      back.take(8).zipWithIndex.foreach { case (r, d) =>
        assert(r.getSeq[Long](5).head == winner + d, s"day $d")
        assert(r.getInt(2) ==
          graft.tsdb.block.ChunkencHistogram.CustomBucketsSchema)
        assert(r.getSeq[Double](7) == bounds)
      }
    } finally { deleteRec(root); deleteRec(out) }
  }

  test("negative-bucket histograms roundtrip, union-fill and compact") {
    val root = java.nio.file.Files.createTempDirectory("graft_nhn").toFile
    val out = java.nio.file.Files.createTempDirectory("graft_nhno").toFile
    try {
      import spark.implicits._
      // 2 series × 12 days; the negative side gains bucket 3
      // mid-chunk (day >= 6) to exercise the union-fill on the
      // NEGATIVE layout as well
      def mk(base: Long) = (for {
        job <- Seq("api", "db")
        d <- 0 until 12
      } yield {
        val nIdx = if (d >= 6) Seq(-2, 1, 3) else Seq(-2, 1)
        val nCnt = nIdx.map(i => base + (d + 1).toLong * (i + 4))
        (job, d.toLong * 86400000L, d.toLong % 3, Seq(0, 2),
          Seq(d + 1L, d + 2L), d * 0.5, nIdx, nCnt)
      }).toDF("job", "ts", "zero", "idx", "cnt", "hsum", "nidx", "ncnt")
      val df = mk(0L)
      TsdbBlockStore.writeHist(df, root.getPath, Seq("job"), "ts",
        "zero", "idx", "cnt", "hsum", blockDurationMs = 6L * 86400000L,
        samplesPerChunk = 7, negIdxCol = Some("nidx"),
        negCountsCol = Some("ncnt"))
      val back = TsdbBlockStore
        .readHistLabels(spark, root.getPath, Seq("job")).collect()
      assert(back.length == 24)
      val expected = df.collect().map { r =>
        ((r.getString(0), r.getLong(1)),
          nonzero(r.getSeq[Int](6), r.getSeq[Long](7)))
      }.toMap
      back.foreach { r =>
        val key = (r.getString(0), r.getLong(1))
        assert(nonzero(r.getSeq[Int](8), r.getSeq[Long](9)) ==
          expected(key), s"neg buckets at $key")
        // strictly ascending neg layout, zero-filled where absent
        val nIdx = r.getSeq[Int](8)
        assert(nIdx == nIdx.sorted.distinct, s"neg layout at $key")
      }
      // compaction threads the negative side through LWW + rewrite
      TsdbBlockStore.compactHist(spark, root.getPath, out.getPath,
        Seq("job"), blockDurationMs = 12L * 86400000L)
      val compacted = TsdbBlockStore
        .readHistLabels(spark, out.getPath, Seq("job")).collect()
      assert(compacted.length == 24)
      compacted.foreach { r =>
        val key = (r.getString(0), r.getLong(1))
        assert(nonzero(r.getSeq[Int](8), r.getSeq[Long](9)) ==
          expected(key), s"compacted neg buckets at $key")
      }
      // positive-only writes keep emitting EMPTY neg arrays
      val root2 = java.nio.file.Files.createTempDirectory("graft_nhp").toFile
      try {
        TsdbBlockStore.writeHist(mkHistSamples(), root2.getPath,
          Seq("job"), "ts", "zero", "idx", "cnt", "hsum")
        val posOnly = TsdbBlockStore
          .readHistLabels(spark, root2.getPath, Seq("job")).collect()
        assert(posOnly.forall(r => r.getSeq[Int](8).isEmpty &&
          r.getSeq[Long](9).isEmpty))
      } finally deleteRec(root2)
    } finally { deleteRec(root); deleteRec(out) }
  }

  test("counter resets cut chunks with CounterReset headers (appender ladder)") {
    val root = java.nio.file.Files.createTempDirectory("graft_nhr").toFile
    try {
      import spark.implicits._
      // one series, 10 samples, cap 4: bucket 0 RESETS at sample 6
      // (mid-chunk) — expected chunks [0..3] (cap) [4..5] (reset cut)
      // [6..9], headers unknown / not_counter_reset / counter_reset
      val rows = (0 until 10).map { i =>
        val c = if (i >= 6) (i - 5).toLong else (i + 1).toLong
        ("api", i * 60000L, 0L, Seq(0), Seq(c * 10), 0.0)
      }
      TsdbBlockStore.writeHist(rows.toDF("job", "ts", "zero", "idx",
          "cnt", "hsum"), root.getPath, Seq("job"),
        "ts", "zero", "idx", "cnt", "hsum", samplesPerChunk = 4)
      val got = TsdbBlockStore
        .histChunkHeaders(spark, root.getPath, Seq("job"))
        .orderBy("chunk_mint")
        .collect()
        .map(r => (r.getLong(1) / 60000L, r.getLong(2) / 60000L,
          r.getInt(3), r.getString(4)))
      assert(got.toSeq == Seq(
        (0L, 3L, 4, "unknown"),
        (4L, 5L, 2, "not_counter_reset"),
        (6L, 9L, 4, "counter_reset")))
    } finally deleteRec(root)
  }

  test("a reset landing exactly on a cap boundary is still CounterReset") {
    val root = java.nio.file.Files.createTempDirectory("graft_nhr2").toFile
    try {
      import spark.implicits._
      // cap 3, reset at sample 3 — the cut coincides with the cap,
      // and the reset classification must win (the new chunk's first
      // sample restarts the counter)
      val rows = (0 until 6).map { i =>
        val c = if (i >= 3) (i - 2).toLong else (i + 1).toLong
        ("api", i * 60000L, 0L, Seq(1), Seq(c), 0.0)
      }
      TsdbBlockStore.writeHist(rows.toDF("job", "ts", "zero", "idx",
          "cnt", "hsum"), root.getPath, Seq("job"),
        "ts", "zero", "idx", "cnt", "hsum", samplesPerChunk = 3)
      val hints = TsdbBlockStore
        .histChunkHeaders(spark, root.getPath, Seq("job"))
        .orderBy("chunk_mint").collect().map(_.getString(4)).toSeq
      assert(hints == Seq("unknown", "counter_reset"))
    } finally deleteRec(root)
  }

  test("reset triggers: zero-count drop and bucket disappearance both cut") {
    val root = java.nio.file.Files.createTempDirectory("graft_nhr3").toFile
    try {
      import spark.implicits._
      val rows = Seq(
        // zero drops at s1; bucket 2 VANISHES at s3 (reads 0 < 7)
        ("api", 0L, 5L, Seq(2), Seq(7L), 0.0),
        ("api", 60000L, 2L, Seq(2), Seq(7L), 0.0),
        ("api", 120000L, 2L, Seq(2), Seq(7L), 0.0),
        ("api", 180000L, 2L, Seq(3), Seq(1L), 0.0))
      TsdbBlockStore.writeHist(rows.toDF("job", "ts", "zero", "idx",
          "cnt", "hsum"), root.getPath, Seq("job"),
        "ts", "zero", "idx", "cnt", "hsum", samplesPerChunk = 120)
      val hints = TsdbBlockStore
        .histChunkHeaders(spark, root.getPath, Seq("job"))
        .orderBy("chunk_mint").collect().map(_.getString(4)).toSeq
      assert(hints == Seq("unknown", "counter_reset", "counter_reset"))
    } finally deleteRec(root)
  }

  test("gauge histograms never reset-cut and keep GaugeType everywhere") {
    val root = java.nio.file.Files.createTempDirectory("graft_nhr4").toFile
    try {
      import spark.implicits._
      // wildly non-monotone gauge: one chunk per cap only
      val rows = (0 until 8).map { i =>
        ("api", i * 60000L, (8 - i).toLong, Seq(0), Seq((i % 3 + 1).toLong),
          0.0)
      }
      TsdbBlockStore.writeHist(rows.toDF("job", "ts", "zero", "idx",
          "cnt", "hsum"), root.getPath, Seq("job"),
        "ts", "zero", "idx", "cnt", "hsum", gauge = true,
        samplesPerChunk = 5)
      val got = TsdbBlockStore
        .histChunkHeaders(spark, root.getPath, Seq("job"))
        .orderBy("chunk_mint").collect()
        .map(r => (r.getInt(3), r.getString(4))).toSeq
      assert(got == Seq((5, "gauge"), (3, "gauge")))
    } finally deleteRec(root)
  }

  test("float-histogram writer runs the same reset-cut ladder") {
    val root = java.nio.file.Files.createTempDirectory("graft_nhr5").toFile
    try {
      import spark.implicits._
      val rows = (0 until 6).map { i =>
        val c = if (i >= 3) (i - 2) * 0.5 else (i + 1) * 0.5
        ("api", i * 60000L, 0.0, Seq(1), Seq(c), 0.0)
      }
      TsdbBlockStore.writeFloatHist(rows.toDF("job", "ts", "zero", "idx",
          "cnt", "hsum"), root.getPath, Seq("job"),
        "ts", "zero", "idx", "cnt", "hsum", samplesPerChunk = 120)
      val hints = TsdbBlockStore
        .histChunkHeaders(spark, root.getPath, Seq("job"))
        .orderBy("chunk_mint").collect().map(_.getString(4)).toSeq
      assert(hints == Seq("unknown", "counter_reset"))
    } finally deleteRec(root)
  }

  /** Hand-assembled block whose SECOND chunk carries a CounterReset
    * header while its values all EXCEED the first chunk's — the
    * restart-that-re-accumulated-past-the-old-values case no value
    * comparison can see; only the header knows. */
  private def writeHintedBlock(root: java.io.File): Unit = {
    val dir = new java.io.File(root, "01HINTEDRESET0000000000000".take(26))
    dir.mkdirs()
    val segs = new F.ChunkSegmentWriter(new java.io.File(dir, "chunks"))
    def chunk(flags: Int, ts: Array[Long], zero: Array[Long],
        b0: Array[Long], b1: Array[Long]): F.ChunkMeta = {
      val pos = ts.indices.map(i => Array(b0(i), b1(i))).toArray
      val count = ts.indices.map(i => zero(i) + b0(i) + b1(i)).toArray
      val c = ChunkencHistogram.HistChunk(flags, 0, 0.0,
        ChunkencHistogram.spansFromIndexes(Array(0, 1)), Vector.empty,
        ts, count, zero, ts.map(_ => 0.0), pos,
        ts.map(_ => Array.empty[Long]))
      F.ChunkMeta(ts.head, ts.last,
        segs.append(ChunkencHistogram.encodeHistChunk(c), F.EncHistogram))
    }
    val m1 = chunk(ChunkencHistogram.UnknownCounterReset,
      Array(0L, 60000L), Array(1L, 2L), Array(2L, 4L), Array(3L, 5L))
    val m2 = chunk(ChunkencHistogram.CounterReset,
      Array(120000L), Array(5L), Array(10L), Array(11L))
    segs.close()
    java.nio.file.Files.write(new java.io.File(dir, "index").toPath,
      F.encodeIndex(Seq(F.SeriesEntry(Seq("job" -> "api"), Seq(m1, m2)))))
    F.writeMeta(dir, ulid = dir.getName, mint = 0L, maxt = 120001L,
      numSeries = 1, numSamples = 3L, numChunks = 2)
    F.writeEmptyTombstones(dir)
  }

  test("chunk counter-reset headers surface per sample (withResetHint)") {
    val root = java.nio.file.Files.createTempDirectory("graft_nhh").toFile
    try {
      writeHintedBlock(root)
      val got = TsdbBlockStore
        .readHistLabels(spark, root.getPath, Seq("job"),
          withResetHint = true)
        .orderBy("ts").collect()
        .map(r => (r.getLong(1), r.getAs[String]("reset_hint"))).toSeq
      assert(got == Seq((0L, "unknown"), (60000L, "not_counter_reset"),
        (120000L, "counter_reset")))
      // default read keeps the 9+label column row model unchanged
      assert(!TsdbBlockStore.readHistLabels(spark, root.getPath, Seq("job"))
        .columns.contains("reset_hint"))
    } finally deleteRec(root)
  }

  test("an undetectable reset (restart past old values) is honored via the header") {
    val root = java.nio.file.Files.createTempDirectory("graft_nhh2").toFile
    try {
      writeHintedBlock(root)
      import org.apache.spark.sql.functions.{col, timestamp_millis}
      val nh = TsdbBlockStore
        .readHistLabels(spark, root.getPath, Seq("job"),
          withResetHint = true)
        .withColumn("ts", timestamp_millis(col("ts")))
      def ctx(hinted: Boolean) = graft.tsdb.promql.PromQLContext(
        metrics = Map.empty, labelCols = Seq("job"),
        evalMs = 3600000L, lookbackMs = 3600000L,
        histMetrics = Map("m" -> graft.tsdb.promql.HistTable(nh,
          resetHintCol = if (hinted) Some("reset_hint") else None)))
      def one(q: String, hinted: Boolean): Double =
        graft.tsdb.promql.PromQL.compile(q, ctx(hinted))
          .collect().head.getAs[Double]("value")
      // hinted: steps (1+2+2) then RESET adds (5+10+11) whole → 31;
      // unhinted value-detection sees only monotone growth → 20
      assert(one("histogram_count(increase(m[1h]))", hinted = true) == 31.0)
      assert(one("histogram_count(increase(m[1h]))", hinted = false) == 20.0)
      assert(one("resets(m[1h])", hinted = true) == 1.0)
      assert(one("resets(m[1h])", hinted = false) == 0.0)
    } finally deleteRec(root)
  }

  test("compaction preserves header-only resets (hint rides the rewrite)") {
    val root = java.nio.file.Files.createTempDirectory("graft_nhh3").toFile
    val out = java.nio.file.Files.createTempDirectory("graft_nhh3o").toFile
    try {
      writeHintedBlock(root)
      TsdbBlockStore.compactHist(spark, root.getPath, out.getPath,
        Seq("job"), blockDurationMs = 86400000L)
      // the rewritten chunks must carry the reset cut + header even
      // though the values alone never decrease
      val hints = TsdbBlockStore
        .histChunkHeaders(spark, out.getPath, Seq("job"))
        .orderBy("chunk_mint").collect().map(_.getString(4)).toSeq
      assert(hints == Seq("unknown", "counter_reset"))
      // and the hinted rate over the COMPACTED directory still
      // counts the restart (31, not the value-blind 20)
      import org.apache.spark.sql.functions.{col, timestamp_millis}
      val nh = TsdbBlockStore
        .readHistLabels(spark, out.getPath, Seq("job"),
          withResetHint = true)
        .withColumn("ts", timestamp_millis(col("ts")))
      val ctx = graft.tsdb.promql.PromQLContext(
        metrics = Map.empty, labelCols = Seq("job"),
        evalMs = 3600000L, lookbackMs = 3600000L,
        histMetrics = Map("m" -> graft.tsdb.promql.HistTable(nh,
          resetHintCol = Some("reset_hint"))))
      val v = graft.tsdb.promql.PromQL
        .compile("histogram_count(increase(m[1h]))", ctx)
        .collect().head.getAs[Double]("value")
      assert(v == 31.0)
    } finally { deleteRec(root); deleteRec(out) }
  }

  test("a null reset hint writes as unknown in both histogram families") {
    import spark.implicits._
    // the counts drop at i = 3, so the values alone cut a
    // CounterReset chunk there
    val samples = (0 until 6).map { i =>
      val c = if (i >= 3) i - 2 else (i + 1) * 2
      ("api", i * 60000L, Seq(1, 2), Seq(c, c + 1), i * 0.5)
    }
    def write(float: Boolean, secondHint: Option[String]): Seq[Seq[Any]] = {
      val root = java.nio.file.Files.createTempDirectory("graft_nhnull").toFile
      try {
        val rows = samples.map { case (job, ts, idx, cnt, hsum) =>
          (job, ts, idx, cnt, hsum,
            if (ts == 60000L) secondHint else Some("unknown"))
        }
        if (float) TsdbBlockStore.writeFloatHist(
          rows.map { case (j, ts, idx, cnt, h, hint) =>
            (j, ts, 0.0, idx, cnt.map(_.toDouble), h, hint)
          }.toDF("job", "ts", "zero", "idx", "cnt", "hsum", "hint"),
          root.getPath, Seq("job"), "ts", "zero", "idx", "cnt", "hsum",
          samplesPerChunk = 120, resetHintCol = Some("hint"))
        else TsdbBlockStore.writeHist(
          rows.map { case (j, ts, idx, cnt, h, hint) =>
            (j, ts, 0L, idx, cnt.map(_.toLong), h, hint)
          }.toDF("job", "ts", "zero", "idx", "cnt", "hsum", "hint"),
          root.getPath, Seq("job"), "ts", "zero", "idx", "cnt", "hsum",
          samplesPerChunk = 120, resetHintCol = Some("hint"))
        val back =
          if (float) TsdbBlockStore.readFloatHistLabels(spark, root.getPath, Seq("job"))
          else TsdbBlockStore.readHistLabels(spark, root.getPath, Seq("job"))
        val headers = TsdbBlockStore.histChunkHeaders(spark, root.getPath, Seq("job"))
        (back.orderBy("ts").collect() ++ headers.orderBy("chunk_mint").collect())
          .map(_.toSeq).toSeq
      } finally deleteRec(root)
    }
    for (float <- Seq(false, true)) {
      val hinted = write(float, Some("unknown"))
      assert(hinted.exists(_.contains("counter_reset")), s"float=$float")
      assert(write(float, None) == hinted, s"float=$float")
    }
  }

  test("mixed directories: each family's reader sees only its chunks") {
    val root = java.nio.file.Files.createTempDirectory("graft_nhx").toFile
    try {
      import spark.implicits._
      val floats = (0 until 50).map(i => ("f", i * 60000L, i * 1.5))
        .toDF("job", "ts", "value")
      TsdbBlockStore.write(floats, root.getPath, Seq("job"), "ts", "value")
      TsdbBlockStore.writeHist(mkHistSamples(), root.getPath, Seq("job"),
        "ts", "zero", "idx", "cnt", "hsum")
      val intHist = mkHistSamples()
        .withColumn("zero",
          org.apache.spark.sql.functions.col("zero").cast("double"))
      TsdbBlockStore.writeFloatHist(
        intHist.withColumn("cnt", org.apache.spark.sql.functions
          .transform(org.apache.spark.sql.functions.col("cnt"),
            c => c.cast("double") * 0.5)),
        root.getPath, Seq("job"), "ts", "zero", "idx", "cnt", "hsum")
      assert(TsdbBlockStore.read(spark, root.getPath).count() == 50)
      assert(TsdbBlockStore
        .readHistLabels(spark, root.getPath, Seq("job")).count() == 80)
      assert(TsdbBlockStore
        .readFloatHistLabels(spark, root.getPath, Seq("job")).count() == 80)
    } finally deleteRec(root)
  }
}
