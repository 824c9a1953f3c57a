package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.tsdb.{ChunkCodec, Matcher}
import graft.tsdb.block.{TsdbBlockFormat => F, TsdbBlockStore}

/** Pins the byte-level Prometheus TSDB block layout
  * ([[graft.tsdb.block.TsdbBlockFormat]]): XOR chunk bit-exactness,
  * index section structure (magic, version, 16-byte series
  * alignment, CRC32C verification), postings resolution, and the
  * distributed writer/reader roundtrip with matchers and sharding.
  */
class TsdbBlockSpec extends AnyFunSuite {

  // ----------------------------------------------------------------
  // XOR chunk codec
  // ----------------------------------------------------------------

  private val sampleGen: Gen[(Array[Long], Array[Double])] = for {
    n <- Gen.choose(1, 300)
    t0 <- Gen.choose(0L, 1700000000000L)
    deltas <- Gen.listOfN(n - 1, Gen.oneOf(
      Gen.const(15000L), Gen.choose(1L, 60000L), Gen.choose(0L, 5L)))
    vs <- Gen.listOfN(n, Gen.oneOf(
      Gen.choose(-1e9, 1e9),
      Gen.oneOf(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
        Double.MinPositiveValue, 1.0, 1.0000000000000002)))
  } yield (deltas.scanLeft(t0)(_ + _).toArray, vs.toArray)

  test("XOR chunk roundtrips bit-exactly (timestamps and raw value bits)") {
    val params = Gen.Parameters.default
    val cases = (0 until 80).flatMap(i => sampleGen.apply(params, Seed(911L + i)))
    assert(cases.size >= 70)
    cases.foreach { case (ts, vs) =>
      val enc = ChunkCodec.encodeChunk(ts, vs)
      val (ts2, vs2) = ChunkCodec.decodeChunk(enc, 0, enc.length)
      assert(ts2.toSeq == ts.toSeq)
      assert(vs2.map(java.lang.Double.doubleToRawLongBits(_)).toSeq ==
        vs.map(java.lang.Double.doubleToRawLongBits(_)).toSeq)
    }
  }

  test("XOR chunk leads with a 2-byte big-endian sample count") {
    val enc = ChunkCodec.encodeChunk(Array(1000L, 2000L, 3000L), Array(1.0, 2.0, 3.0))
    assert(((enc(0) & 0xff) << 8 | (enc(1) & 0xff)) == 3)
  }

  test("XOR chunk dod buckets cover the documented boundary values") {
    for (dod <- Seq(0L, 1L, -8191L, 8192L, -65535L, 65536L, -524287L,
        524288L, 1234567890L, -1234567890L)) {
      val base = 2000000000L // large enough that base + dod stays ≥ 0
      val ts = Array(0L, base, base + base + dod)
      val vs = Array(1.0, 1.0, 1.0)
      val enc = ChunkCodec.encodeChunk(ts, vs)
      val (ts2, _) = ChunkCodec.decodeChunk(enc, 0, enc.length)
      assert(ts2.toSeq == ts.toSeq, s"dod=$dod")
    }
  }

  // ----------------------------------------------------------------
  // index encode/decode
  // ----------------------------------------------------------------

  private def entry(labels: (String, String)*)(chunks: F.ChunkMeta*) =
    F.SeriesEntry(labels.toSeq, chunks.toSeq)

  private val fixtureSeries = Seq(
    entry("__name__" -> "http_requests_total", "job" -> "api", "instance" -> "a")(
      F.ChunkMeta(0L, 1000L, (1L << 32) | 8L),
      F.ChunkMeta(1001L, 2000L, (1L << 32) | 90L)),
    entry("__name__" -> "http_requests_total", "job" -> "api", "instance" -> "b")(
      F.ChunkMeta(0L, 1500L, (1L << 32) | 200L)),
    entry("__name__" -> "up", "job" -> "db")(
      F.ChunkMeta(500L, 2500L, (2L << 32) | 8L)))

  test("index starts with magic 0xBAAAD700 and version 2") {
    val idx = F.encodeIndex(fixtureSeries)
    assert(((idx(0) & 0xff) << 24 | (idx(1) & 0xff) << 16 |
      (idx(2) & 0xff) << 8 | (idx(3) & 0xff)) == F.IndexMagic)
    assert((idx(4) & 0xff) == 2)
  }

  test("index roundtrips symbols, series (sorted by label set), chunk metas") {
    val idx = F.encodeIndex(fixtureSeries)
    val ir = new F.IndexReader(idx)
    // symbols sorted and deduped
    assert(ir.symbols.toSeq == ir.symbols.toSeq.sorted)
    assert(ir.symbols.toSet ==
      fixtureSeries.flatMap(_.labels).flatMap(p => Seq(p._1, p._2)).toSet)
    val all = ir.allPostings
    assert(all.size == 3)
    val decoded = all.map(ir.series)
    // canonical Prometheus order: label-set lexicographic
    val sorted = decoded.map(_.labels).sortWith((a, b) =>
      F.compareLabels(a, b) < 0)
    assert(decoded.map(_.labels) == sorted)
    // full content roundtrip
    assert(decoded.map(e => (e.labels.toSet, e.chunks)).toSet ==
      fixtureSeries.map(e => (e.labels.toSet, e.chunks)).toSet)
  }

  test("index roundtrips random series sets (property, fixed seeds)") {
    val labelGen = for {
      n <- Gen.choose(1, 4)
      pairs <- Gen.listOfN(n, for {
        k <- Gen.oneOf("__name__", "job", "instance", "zone", "env")
        v <- Gen.alphaNumStr.map(_.take(8)).suchThat(_.nonEmpty)
      } yield (k, v))
    } yield pairs.distinctBy(_._1).sortBy(_._1)
    val seriesGen = for {
      labels <- labelGen
      nc <- Gen.choose(1, 5)
      mints <- Gen.listOfN(nc, Gen.choose(0L, 100000L))
    } yield {
      var t = 0L
      var ref = 8L
      val chunks = mints.sorted.map { d =>
        val mint = t + d + 1
        val maxt = mint + 500
        t = maxt
        ref += 97
        F.ChunkMeta(mint, maxt, (1L << 32) | ref)
      }
      F.SeriesEntry(labels, chunks)
    }
    val params = Gen.Parameters.default
    (0 until 25).foreach { i =>
      val entries = Gen.listOfN(12, seriesGen)
        .apply(params, Seed(77L + i)).get
        .distinctBy(_.labels) // duplicate label sets are invalid input
      val ir = new F.IndexReader(F.encodeIndex(entries))
      val decoded = ir.allPostings.map(ir.series)
      assert(decoded.map(e => (e.labels, e.chunks)).toSet ==
        entries.map(e => (e.labels, e.chunks)).toSet)
      // postings membership exact for every (name, value)
      entries.flatMap(_.labels).distinct.foreach { case (n, v) =>
        val got = ir.postings(n, v).map(ir.series(_).labels).toSet
        val want = entries.filter(_.labels.contains((n, v)))
          .map(_.labels).toSet
        assert(got == want, s"postings($n,$v)")
      }
    }
  }

  test("series entries sit on 16-byte-aligned offsets (ref = offset/16)") {
    val idx = F.encodeIndex(fixtureSeries)
    val ir = new F.IndexReader(idx)
    // refs decode successfully ⇒ offset = ref*16 was entry-aligned;
    // a misaligned ref must fail its CRC
    ir.allPostings.foreach(r => ir.series(r))
    val bad = ir.allPostings.head + 1
    intercept[IllegalArgumentException](ir.series(bad))
  }

  test("postings: per-pair lists match membership; labelValues sorted") {
    val ir = new F.IndexReader(F.encodeIndex(fixtureSeries))
    val api = ir.postings("job", "api")
    assert(api.size == 2)
    assert(api.map(ir.series).forall(_.labels.contains("job" -> "api")))
    assert(ir.postings("job", "db").size == 1)
    assert(ir.postings("job", "nope").isEmpty)
    assert(ir.labelValues("instance") == Seq("a", "b"))
    assert(ir.labelNames == Seq("__name__", "instance", "job"))
  }

  test("a flipped byte anywhere in a read section fails its CRC") {
    val idx = F.encodeIndex(fixtureSeries)
    val ir0 = new F.IndexReader(idx)
    val firstRef = ir0.allPostings.head
    // corrupt inside the first series entry's content
    val corrupted = idx.clone()
    corrupted((firstRef * 16 + 2).toInt) =
      (corrupted((firstRef * 16 + 2).toInt) ^ 0x01).toByte
    val ir = new F.IndexReader(corrupted)
    intercept[IllegalArgumentException](ir.series(firstRef))
  }

  test("deterministic ULID is 26 Crockford chars and content-sensitive") {
    val a = F.deterministicUlid(7200000L, 12345L)
    val b = F.deterministicUlid(7200000L, 12346L)
    assert(a.length == 26 && b.length == 26)
    assert(a != b)
    assert(a == F.deterministicUlid(7200000L, 12345L))
    assert(a.forall("0123456789ABCDEFGHJKMNPQRSTVWXYZ".contains(_)))
  }

  // ----------------------------------------------------------------
  // chunk segments
  // ----------------------------------------------------------------

  test("chunk segments carry the documented header and roll at the byte cap") {
    val dir = java.nio.file.Files.createTempDirectory("graft_seg").toFile
    try {
      val w = new F.ChunkSegmentWriter(dir, segmentBytes = 64)
      val data = ChunkCodec.encodeChunk(Array(0L, 1000L), Array(1.0, 2.0))
      val refs = (1 to 5).map(_ => w.append(data))
      w.close()
      // first chunk of each segment starts at offset 8 (post-header)
      assert((refs.head & 0xffffffffL) == 8L)
      assert(refs.map(_ >>> 32).distinct.size > 1, "expected a rollover")
      val hdr = java.nio.file.Files.readAllBytes(
        new java.io.File(dir, "000001").toPath)
      assert(((hdr(0) & 0xff) << 24 | (hdr(1) & 0xff) << 16 |
        (hdr(2) & 0xff) << 8 | (hdr(3) & 0xff)) == F.ChunksMagic)
      assert((hdr(4) & 0xff) == 1)
      val r = new F.ChunkSegmentReader(dir)
      refs.foreach { ref =>
        val (enc, d) = r.chunk(ref)
        assert(enc == F.EncXOR)
        assert(d.toSeq == data.toSeq)
      }
    } finally deleteRec(dir)
  }

  test("a corrupted chunk body fails its CRC on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_segc").toFile
    try {
      val w = new F.ChunkSegmentWriter(dir)
      val ref = w.append(ChunkCodec.encodeChunk(Array(0L, 1000L), Array(1.0, 2.0)))
      w.close()
      val f = new java.io.File(dir, "000001")
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      bytes(12) = (bytes(12) ^ 0x40).toByte
      java.nio.file.Files.write(f.toPath, bytes)
      val r = new F.ChunkSegmentReader(dir)
      intercept[IllegalArgumentException](r.chunk(ref))
    } finally deleteRec(dir)
  }

  // ----------------------------------------------------------------
  // distributed writer/reader
  // ----------------------------------------------------------------

  private lazy val spark = SparkTestBase.spark

  private def mkSamples() = {
    import spark.implicits._
    val rows = for {
      job <- Seq("api", "db")
      inst <- Seq("a", "b", "c")
      i <- 0 until 500
    } yield (job, inst, i * 15000L, math.sin(i * 0.1) * 100 +
        (if (job == "api") 1000 else 0))
    rows.toDF("job", "instance", "ts", "value")
  }

  test("write produces spec-shaped block dirs; read returns every sample") {
    val root = java.nio.file.Files.createTempDirectory("graft_tsdb").toFile
    try {
      val df = mkSamples()
      val dirs = TsdbBlockStore.write(df, root.getPath,
        Seq("job", "instance"), "ts", "value",
        blockDurationMs = 2 * 3600 * 1000L)
      // 500*15s = 7500s ≈ 2.08h ⇒ 2 block windows
      assert(dirs.size == 2)
      dirs.foreach { d =>
        val bd = new java.io.File(root, d)
        assert(new java.io.File(bd, "meta.json").isFile)
        assert(new java.io.File(bd, "index").isFile)
        assert(new java.io.File(bd, "tombstones").isFile)
        assert(new java.io.File(bd, "chunks/000001").isFile)
        assert(d.length == 26)
      }
      val back = TsdbBlockStore.read(spark, root.getPath).collect()
      assert(back.length == 2 * 3 * 500)
      val expected = df.collect().map(r =>
        (Map("job" -> r.getString(0), "instance" -> r.getString(1)),
          r.getLong(2), r.getDouble(3))).toSet
      assert(back.map(s => (s.labels, s.ts, s.value)).toSet == expected)
    } finally deleteRec(root)
  }

  test("matchers prune via postings; negations and regex stay exact") {
    val root = java.nio.file.Files.createTempDirectory("graft_tsdbm").toFile
    try {
      TsdbBlockStore.write(mkSamples(), root.getPath,
        Seq("job", "instance"), "ts", "value")
      def count(ms: Matcher*) =
        TsdbBlockStore.read(spark, root.getPath, matchers = ms).count()
      assert(count(Matcher.Eq("job", "api")) == 3 * 500)
      assert(count(Matcher.Eq("job", "api"), Matcher.Eq("instance", "b")) == 500)
      assert(count(Matcher.Neq("job", "api")) == 3 * 500)
      assert(count(Matcher.Re("instance", "a|c")) == 2 * 2 * 500)
      assert(count(Matcher.Nre("instance", "a|c")) == 2 * 500)
      assert(count(Matcher.Eq("job", "nope")) == 0)
      // absent label behaves as ""
      assert(count(Matcher.Eq("missing", "")) == 6 * 500)
      assert(count(Matcher.Neq("missing", "x")) == 6 * 500)
      // a regex that MATCHES "" must not prune absent-label series
      // at the postings stage (they sit in no postings list)
      assert(count(Matcher.Re("missing", "x*")) == 6 * 500)
      assert(count(Matcher.Re("missing", "east|")) == 6 * 500)
      assert(count(Matcher.Re("missing", "x+")) == 0)
      assert(count(Matcher.Re("instance", "a|")) == 2 * 500) // "" matches none that HAVE it
    } finally deleteRec(root)
  }

  test("absent labels drop from the index and match as empty string end to end") {
    val root = java.nio.file.Files.createTempDirectory("graft_tsdba").toFile
    try {
      import spark.implicits._
      // half the series have no 'zone' label (empty string on write)
      TsdbBlockStore.write(
        Seq(
          (1000L, "api", "east", 1.0), (2000L, "api", "east", 2.0),
          (1000L, "db", "", 3.0), (2000L, "db", "", 4.0))
          .toDF("ts", "job", "zone", "value"),
        root.getPath, Seq("job", "zone"), "ts", "value")
      // the zone-less series' entry must carry only 'job'
      val bd = new java.io.File(root,
        new java.io.File(root.getPath).listFiles()
          .filter(d => new java.io.File(d, "meta.json").isFile).head.getName)
      val ir = new F.IndexReader(java.nio.file.Files.readAllBytes(
        new java.io.File(bd, "index").toPath))
      val labelSets = ir.allPostings.map(r => ir.series(r).labels.toMap)
      assert(labelSets.toSet == Set(
        Map("job" -> "api", "zone" -> "east"), Map("job" -> "db")))
      assert(ir.labelValues("zone") == Seq("east")) // "" never indexed
      def vals(ms: Matcher*) = TsdbBlockStore
        .read(spark, root.getPath, matchers = ms).collect()
        .map(_.value).toSet
      assert(vals(Matcher.Eq("zone", "")) == Set(3.0, 4.0))
      assert(vals(Matcher.Neq("zone", "east")) == Set(3.0, 4.0))
      assert(vals(Matcher.Re("zone", "east")) == Set(1.0, 2.0))
      assert(vals(Matcher.Nre("zone", "e.*")) == Set(3.0, 4.0))
      // flattened read restores "" for the absent label
      val flat = TsdbBlockStore.readLabels(spark, root.getPath,
        Seq("job", "zone")).collect()
      assert(flat.count(_.getString(1) == "") == 2)
    } finally deleteRec(root)
  }

  test("in-flight .building temp dirs are never listed as blocks") {
    val root = java.nio.file.Files.createTempDirectory("graft_tsdbb").toFile
    try {
      TsdbBlockStore.write(mkSamples(), root.getPath,
        Seq("job", "instance"), "ts", "value")
      val n = TsdbBlockStore.read(spark, root.getPath).count()
      // a crashed writer's leftover: meta.json present, index absent
      val partial = new java.io.File(root, ".building-p9-1")
      partial.mkdirs()
      F.writeMeta(partial, "X" * 26, 0L, Long.MaxValue / 2, 1, 1, 1)
      assert(TsdbBlockStore.read(spark, root.getPath).count() == n)
    } finally deleteRec(root)
  }

  test("time-range read prunes blocks on meta.json and chunks on headers") {
    val root = java.nio.file.Files.createTempDirectory("graft_tsdbt").toFile
    try {
      TsdbBlockStore.write(mkSamples(), root.getPath,
        Seq("job", "instance"), "ts", "value")
      val all = TsdbBlockStore.read(spark, root.getPath).collect()
      val lo = 1000000L
      val hi = 3000000L
      val ranged = TsdbBlockStore.read(spark, root.getPath, lo, hi).collect()
      assert(ranged.map(s => (s.labels, s.ts)).toSet ==
        all.filter(s => s.ts >= lo && s.ts <= hi)
          .map(s => (s.labels, s.ts)).toSet)
      // a range past the data touches no blocks
      assert(TsdbBlockStore.read(spark, root.getPath,
        1e15.toLong, 2e15.toLong).count() == 0)
    } finally deleteRec(root)
  }

  test("sharded read partitions postings without losing or duplicating series") {
    val root = java.nio.file.Files.createTempDirectory("graft_tsdbs").toFile
    try {
      TsdbBlockStore.write(mkSamples(), root.getPath,
        Seq("job", "instance"), "ts", "value")
      val one = TsdbBlockStore.read(spark, root.getPath, shardsPerBlock = 1)
        .collect().map(s => (s.labels, s.ts, s.value)).sortBy(_.toString)
      val four = TsdbBlockStore.read(spark, root.getPath, shardsPerBlock = 4)
        .collect().map(s => (s.labels, s.ts, s.value)).sortBy(_.toString)
      assert(one.toSeq == four.toSeq)
    } finally deleteRec(root)
  }

  test("tombstones roundtrip and delete exactly their [mint, maxt] intervals") {
    val root = java.nio.file.Files.createTempDirectory("graft_tsdbd").toFile
    try {
      val dirs = TsdbBlockStore.write(mkSamples(), root.getPath,
        Seq("job", "instance"), "ts", "value")
      val before = TsdbBlockStore.read(spark, root.getPath).collect()
      // delete one series' samples in [0, 1_000_000] in the first block
      val bd = new java.io.File(root, dirs.head)
      val ir = new F.IndexReader(java.nio.file.Files.readAllBytes(
        new java.io.File(bd, "index").toPath))
      val target = ir.allPostings.map(r => (r, ir.series(r).labels.toMap))
        .find(_._2 == Map("job" -> "api", "instance" -> "b")).get._1
      F.writeTombstones(bd, Seq(F.Tombstone(target, 0L, 1000000L)))
      assert(F.readTombstones(bd) == Map(target -> Seq((0L, 1000000L))))
      val after = TsdbBlockStore.read(spark, root.getPath).collect()
      val expected = before.filterNot(s =>
        s.labels == Map("job" -> "api", "instance" -> "b") &&
          s.ts >= 0L && s.ts <= 1000000L)
      assert(after.map(s => (s.labels, s.ts)).toSet ==
        expected.map(s => (s.labels, s.ts)).toSet)
      assert(after.length < before.length)
      // corrupted tombstones fail loudly, not silently un-delete
      val f = new java.io.File(bd, "tombstones")
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      bytes(6) = (bytes(6) ^ 0x01).toByte
      java.nio.file.Files.write(f.toPath, bytes)
      intercept[Exception](
        TsdbBlockStore.read(spark, root.getPath).collect())
    } finally deleteRec(root)
  }

  test("readLabels flattens to columns with absent labels as empty string") {
    val root = java.nio.file.Files.createTempDirectory("graft_tsdbl").toFile
    try {
      TsdbBlockStore.write(mkSamples(), root.getPath,
        Seq("job", "instance"), "ts", "value")
      val df = TsdbBlockStore.readLabels(spark, root.getPath,
        Seq("job", "instance", "zone"))
      assert(df.columns.toSeq == Seq("job", "instance", "zone", "ts", "value"))
      assert(df.where(org.apache.spark.sql.functions.col("zone") =!= "")
        .count() == 0)
      assert(df.count() == 6 * 500)
    } finally deleteRec(root)
  }

  test("compact merges overlapping blocks with deterministic LWW and preserves disjoint samples") {
    val root = java.nio.file.Files.createTempDirectory("graft_tsdbv").toFile
    val out = java.nio.file.Files.createTempDirectory("graft_tsdbvo").toFile
    try {
      import spark.implicits._
      // two writes into the same root → overlapping blocks for the
      // shared window; ts=1000 collides with different values
      TsdbBlockStore.write(
        Seq((1000L, "api", 1.0), (2000L, "api", 2.0))
          .toDF("ts", "job", "value"),
        root.getPath, Seq("job"), "ts", "value")
      TsdbBlockStore.write(
        Seq((1000L, "api", 9.0), (3000L, "db", 3.0))
          .toDF("ts", "job", "value"),
        root.getPath, Seq("job"), "ts", "value")
      val nIn = new java.io.File(root.getPath).listFiles()
        .count(d => d.isDirectory && new java.io.File(d, "meta.json").isFile)
      assert(nIn == 2)
      val dirs = TsdbBlockStore.compact(spark, root.getPath, out.getPath,
        Seq("job"))
      assert(dirs.size == 1)
      // both revisions of ts=1000 exist pre-compaction...
      val pre = TsdbBlockStore.read(spark, root.getPath)
        .filter(_.ts == 1000L).collect()
      assert(pre.map(_.value).toSet == Set(1.0, 9.0))
      // ...exactly one survives compaction; disjoint samples intact
      val back = TsdbBlockStore.read(spark, out.getPath).collect()
        .map(s => (s.labels("job"), s.ts, s.value)).toSet
      assert(back.count(_._2 == 1000L) == 1)
      assert(Set(1.0, 9.0).contains(back.find(_._2 == 1000L).get._3))
      assert(back.filter(_._2 != 1000L) ==
        Set(("api", 2000L, 2.0), ("db", 3000L, 3.0)))
      // determinism: compacting again yields the identical value
      val out2 = java.nio.file.Files.createTempDirectory("graft_tsdbv2").toFile
      try {
        TsdbBlockStore.compact(spark, root.getPath, out2.getPath, Seq("job"))
        val v1 = back.find(_._2 == 1000L).get._3
        val v2 = TsdbBlockStore.read(spark, out2.getPath).collect()
          .find(_.ts == 1000L).get.value
        assert(v1 == v2)
      } finally deleteRec(out2)
    } finally { deleteRec(root); deleteRec(out) }
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRec)
    f.delete()
  }
}
