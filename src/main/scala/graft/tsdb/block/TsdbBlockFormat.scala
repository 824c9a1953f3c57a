package graft.tsdb.block

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.CRC32C


/** Byte-level Prometheus TSDB BLOCK format — the layout the
  * reference ingests through `tsdb.IndexReader`/`tsdb.ChunkReader`
  * (convert/convert.go:348 walks `NewBlockChunkSeriesSet` over a
  * block's index + chunk segments). Implemented from the PUBLIC
  * format documentation (Prometheus repo, tsdb/docs/format/index.md
  * and chunks.md, format version: index v2, chunks v1) — no
  * Prometheus code was consulted. A block directory is
  *
  * {{{
  *   <ULID>/
  *     meta.json          block time range + stats
  *     index              symbols, series, postings (this file)
  *     chunks/000001...   XOR-chunk segment files
  *     tombstones         deletion intervals (empty on write)
  * }}}
  *
  * Index layout (all multi-byte fixed ints BIG-endian; varints are
  * Go's LEB128 uvarint / zigzag varint; every section CRC32C'd —
  * the Castagnoli table, `java.util.zip.CRC32C`):
  *
  * {{{
  *   magic 0xBAAAD700 (4b) | version 2 (1b)
  *   symbol table:  len(4b) #syms(4b) [uvarint len + utf8]... crc(4b)
  *   series:        16-byte-aligned entries, id = offset/16
  *     entry: uvarint len | content | crc(content)
  *     content: uvarint #labels, [uvarint name-sym, uvarint val-sym]...,
  *              uvarint #chunks, c0: varint mint, uvarint maxt-mint,
  *              uvarint ref; ci: uvarint mint - prev maxt,
  *              uvarint maxt-mint, varint ref delta
  *   label index (per name): len(4b) #names(4b)=1 #entries(4b)
  *              [4b value-sym]... crc
  *   postings (per name,value + one all-postings under "",""):
  *              len(4b) #entries(4b) [4b series id]... crc
  *   label offset table:    len(4b) #entries(4b)
  *              [uvarint 1, str name, uvarint offset]... crc
  *   postings offset table: len(4b) #entries(4b)
  *              [uvarint 2, str name, str value, uvarint offset]... crc
  *   TOC (last 52 bytes): 6 × 8b section offsets + crc of the 48
  * }}}
  *
  * Chunk segment layout: header = magic 0x85BD40DD (4b), version 1
  * (1b), 3 zero bytes; then per chunk: uvarint data-len | encoding
  * (1b, XOR=1) | data | crc32c(encoding + data). A chunk ref packs
  * (segment file index << 32) | segment byte offset of the len.
  *
  * XOR chunk data is the chunkenc "Gorilla" layout that
  * [[graft.tsdb.ChunkCodec.encodeChunk]] writes (the parquet cells
  * frame the same bodies).
  *
  * The byte-exactness claim is scoped honestly: every constant,
  * section order, alignment and CRC here follows the published
  * spec, and [[TsdbBlockSpec]] pins magics/alignment/CRC failure
  * modes — but with no network access the fixtures are self-written
  * blocks, so what is VERIFIED is writer→reader roundtrip plus
  * spec-pinned structure, not interop against bytes Prometheus
  * itself produced.
  */
object TsdbBlockFormat {

  final val IndexMagic = 0xBAAAD700
  final val IndexVersion = 2
  final val ChunksMagic = 0x85BD40DD
  final val ChunksVersion = 1
  final val TombstonesMagic = 0x0130BA30
  final val TombstonesVersion = 1
  // chunkenc encoding ordinals (chunks.md): 1 = XOR floats, 2 =
  // integer native histograms, 3 = float native histograms — the
  // histogram bit layouts live in [[ChunkencHistogram]]
  final val EncXOR = 1
  final val EncHistogram = 2
  final val EncFloatHistogram = 3

  /** Default chunk-segment rollover, the documented 512 MiB cap. */
  final val DefaultSegmentBytes: Long = 512L * 1024 * 1024

  final case class ChunkMeta(mint: Long, maxt: Long, ref: Long)
  final case class SeriesEntry(labels: Seq[(String, String)],
      chunks: Seq[ChunkMeta])
  /** One postings list: (label name, label value) → sorted series ids. */
  final case class Postings(name: String, value: String, ids: Seq[Int])

  // ---------------------------------------------------------------
  // byte-level helpers
  // ---------------------------------------------------------------

  def crc32c(bytes: Array[Byte], off: Int, len: Int): Int = {
    val c = new CRC32C()
    c.update(bytes, off, len)
    c.getValue.toInt
  }

  private[block] def putUvarint(out: ByteArrayOutputStream, v: Long): Unit = {
    var x = v
    while (java.lang.Long.compareUnsigned(x, 0x80L) >= 0) {
      out.write(((x & 0x7f) | 0x80).toInt)
      x >>>= 7
    }
    out.write((x & 0x7f).toInt)
  }

  private[block] def putVarint(out: ByteArrayOutputStream, v: Long): Unit =
    putUvarint(out, (v << 1) ^ (v >> 63))

  private[block] def putStr(out: ByteArrayOutputStream, s: String): Unit = {
    val b = s.getBytes(UTF_8)
    putUvarint(out, b.length.toLong)
    out.write(b, 0, b.length)
  }

  private[block] final class ByteCursor(val bytes: Array[Byte], var pos: Int) {
    def uvarint(): Long = {
      var x = 0L
      var shift = 0
      var b = bytes(pos) & 0xff
      pos += 1
      while ((b & 0x80) != 0) {
        x |= (b & 0x7fL) << shift
        shift += 7
        // a uint64 LEB128 is ≤ 10 bytes; past that the input is
        // corrupt and an unbounded shift would loop reading garbage
        require(shift <= 63, s"malformed uvarint at offset ${pos - 1}")
        b = bytes(pos) & 0xff
        pos += 1
      }
      x | ((b & 0x7fL) << shift)
    }
    def varint(): Long = {
      val u = uvarint()
      (u >>> 1) ^ -(u & 1)
    }
    def str(): String = {
      val len = uvarint().toInt
      val s = new String(bytes, pos, len, UTF_8)
      pos += len
      s
    }
    def be32(): Int = {
      val v = ((bytes(pos) & 0xff) << 24) | ((bytes(pos + 1) & 0xff) << 16) |
        ((bytes(pos + 2) & 0xff) << 8) | (bytes(pos + 3) & 0xff)
      pos += 4
      v
    }
    def be64(): Long = (be32().toLong << 32) | (be32().toLong & 0xffffffffL)
  }

  private def be32(v: Int): Array[Byte] =
    Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)

  private def be64(v: Long): Array[Byte] =
    be32((v >>> 32).toInt) ++ be32(v.toInt)

  /** A `len(4b) | content | crc32c(content)` section. */
  private def section(content: Array[Byte]): Array[Byte] =
    be32(content.length) ++ content ++ be32(crc32c(content, 0, content.length))

  /** Read a `len | content | crc` section at `off`, verify CRC,
    * return the content cursor. */
  private[block] def readSection(bytes: Array[Byte], off: Int): ByteCursor = {
    val len = new ByteCursor(bytes, off).be32()
    val contentOff = off + 4
    val stored = new ByteCursor(bytes, contentOff + len).be32()
    require(stored == crc32c(bytes, contentOff, len),
      s"section CRC mismatch at offset $off")
    new ByteCursor(bytes, contentOff)
  }

  // ---------------------------------------------------------------
  // index encode
  // ---------------------------------------------------------------

  /** Prometheus label-set ordering: pairwise by name then value,
    * shorter prefix first. */
  def compareLabels(a: Seq[(String, String)],
      b: Seq[(String, String)]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c1 = a(i)._1.compareTo(b(i)._1)
      if (c1 != 0) return c1
      val c2 = a(i)._2.compareTo(b(i)._2)
      if (c2 != 0) return c2
      i += 1
    }
    a.length - b.length
  }

  /** Serialize a complete index file; chunk refs must already be
    * assigned. Series are canonically re-sorted by label set here
    * (the order the spec requires), so callers may pass entries in
    * any order. Positional ids are rewritten to the on-disk
    * offset/16 references.
    */
  def encodeIndex(seriesIn: Seq[SeriesEntry]): Array[Byte] = {
    val series = seriesIn.sortWith((a, b) => compareLabels(a.labels, b.labels) < 0)
    val out = new ByteArrayOutputStream()
    out.write(be32(IndexMagic), 0, 4)
    out.write(IndexVersion)

    // symbol table: every label name and value, sorted, deduped
    val symbols = series.iterator
      .flatMap(_.labels.iterator.flatMap(p => Iterator(p._1, p._2)))
      .toArray.distinct.sorted
    val symIdx: Map[String, Int] = symbols.zipWithIndex.toMap
    val symbolsOff = out.size().toLong
    locally {
      val c = new ByteArrayOutputStream()
      c.write(be32(symbols.length), 0, 4)
      symbols.foreach(putStr(c, _))
      val sec = section(c.toByteArray)
      out.write(sec, 0, sec.length)
    }

    // series entries, 16-aligned; positional id → on-disk ref
    val seriesOff = out.size().toLong
    val diskRef = new Array[Long](series.length)
    series.zipWithIndex.foreach { case (se, i) =>
      while (out.size() % 16 != 0) out.write(0)
      diskRef(i) = out.size().toLong / 16
      val c = new ByteArrayOutputStream()
      putUvarint(c, se.labels.length.toLong)
      se.labels.foreach { case (n, v) =>
        putUvarint(c, symIdx(n).toLong)
        putUvarint(c, symIdx(v).toLong)
      }
      putUvarint(c, se.chunks.length.toLong)
      var prevMaxt = 0L
      var prevRef = 0L
      se.chunks.zipWithIndex.foreach { case (cm, j) =>
        if (j == 0) {
          putVarint(c, cm.mint)
          putUvarint(c, cm.maxt - cm.mint)
          putUvarint(c, cm.ref)
        } else {
          putUvarint(c, cm.mint - prevMaxt)
          putUvarint(c, cm.maxt - cm.mint)
          putVarint(c, cm.ref - prevRef)
        }
        prevMaxt = cm.maxt
        prevRef = cm.ref
      }
      val content = c.toByteArray
      val e = new ByteArrayOutputStream()
      putUvarint(e, content.length.toLong)
      e.write(content, 0, content.length)
      e.write(be32(crc32c(content, 0, content.length)), 0, 4)
      val eb = e.toByteArray
      out.write(eb, 0, eb.length)
    }

    // per-name sorted value lists (label index) + offset table entries
    val byName: Seq[(String, Seq[String])] = series
      .flatMap(_.labels).distinct.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (n, ps) => (n, ps.map(_._2).distinct.sorted) }
    val labelIdxOff = out.size().toLong
    val labelIdxEntryOff = byName.map { case (_, values) =>
      val off = out.size().toLong
      val c = new ByteArrayOutputStream()
      c.write(be32(1), 0, 4) // #names
      c.write(be32(values.length), 0, 4)
      values.foreach(v => c.write(be32(symIdx(v)), 0, 4))
      val sec = section(c.toByteArray)
      out.write(sec, 0, sec.length)
      off
    }

    // postings: all-postings under ("","") first, then per (name,value)
    // — one inversion pass over the series, not a scan per pair
    val allIds = series.indices
    val inverted = scala.collection.mutable
      .LinkedHashMap.empty[(String, String), scala.collection.mutable.ArrayBuffer[Int]]
    series.zipWithIndex.foreach { case (se, i) =>
      se.labels.foreach { p =>
        inverted.getOrElseUpdate(p,
          scala.collection.mutable.ArrayBuffer.empty[Int]) += i
      }
    }
    val perPair: Seq[Postings] = byName.flatMap { case (n, values) =>
      values.map(v => Postings(n, v, inverted((n, v)).toSeq))
    }
    val postingsOff = out.size().toLong
    val postingsLists = Postings("", "", allIds) +: perPair
    val postingsEntryOff = postingsLists.map { p =>
      val off = out.size().toLong
      val c = new ByteArrayOutputStream()
      c.write(be32(p.ids.length), 0, 4)
      p.ids.foreach(i => c.write(be32(diskRef(i).toInt), 0, 4))
      val sec = section(c.toByteArray)
      out.write(sec, 0, sec.length)
      off
    }

    // label offset table
    val labelOffTableOff = out.size().toLong
    locally {
      val c = new ByteArrayOutputStream()
      c.write(be32(byName.length), 0, 4)
      byName.zip(labelIdxEntryOff).foreach { case ((n, _), off) =>
        putUvarint(c, 1L)
        putStr(c, n)
        putUvarint(c, off)
      }
      val sec = section(c.toByteArray)
      out.write(sec, 0, sec.length)
    }

    // postings offset table
    val postingsOffTableOff = out.size().toLong
    locally {
      val c = new ByteArrayOutputStream()
      c.write(be32(postingsLists.length), 0, 4)
      postingsLists.zip(postingsEntryOff).foreach { case (p, off) =>
        putUvarint(c, 2L)
        putStr(c, p.name)
        putStr(c, p.value)
        putUvarint(c, off)
      }
      val sec = section(c.toByteArray)
      out.write(sec, 0, sec.length)
    }

    // TOC: 6 × 8b + crc
    val toc = be64(symbolsOff) ++ be64(seriesOff) ++ be64(labelIdxOff) ++
      be64(labelOffTableOff) ++ be64(postingsOff) ++ be64(postingsOffTableOff)
    out.write(toc, 0, toc.length)
    out.write(be32(crc32c(toc, 0, toc.length)), 0, 4)
    out.toByteArray
  }

  // ---------------------------------------------------------------
  // index decode
  // ---------------------------------------------------------------

  final class IndexReader(bytes: Array[Byte]) {
    require(new ByteCursor(bytes, 0).be32() == IndexMagic,
      "not a TSDB index file (bad magic)")
    require((bytes(4) & 0xff) == IndexVersion,
      s"unsupported index version ${bytes(4)}")

    private val tocOff = bytes.length - 52
    private val toc = {
      val c = new ByteCursor(bytes, tocOff)
      val vals = Array.fill(6)(c.be64())
      require(c.be32() == crc32c(bytes, tocOff, 48), "TOC CRC mismatch")
      // this reader holds the index in one array, so every section
      // offset must be an int; a valid >2 GiB index (the spec allows
      // up to 64 GiB) fails HERE with a clear message instead of
      // silently wrapping to a negative offset downstream
      vals.foreach(v => require(v >= 0 && v <= bytes.length.toLong,
        s"index section offset $v out of range (index ${bytes.length} B; " +
          ">2 GiB indexes are not supported by this reader)"))
      vals
    }
    private def symbolsOff = toc(0)
    private def labelOffTableOff = toc(3)
    private def postingsOffTableOff = toc(5)

    val symbols: Array[String] = {
      val c = readSection(bytes, symbolsOff.toInt)
      val n = c.be32()
      Array.fill(n)(c.str())
    }

    /** label name → label-index section offset. */
    val labelOffsets: Map[String, Long] = {
      val c = readSection(bytes, labelOffTableOff.toInt)
      val n = c.be32()
      (0 until n).map { _ =>
        val k = c.uvarint().toInt
        require(k == 1, s"label offset entry with $k names")
        (c.str(), c.uvarint())
      }.toMap
    }

    /** (name, value) → postings section offset; ("","") is
      * all-postings. */
    val postingsOffsets: Map[(String, String), Long] = {
      val c = readSection(bytes, postingsOffTableOff.toInt)
      val n = c.be32()
      (0 until n).map { _ =>
        val k = c.uvarint().toInt
        require(k == 2, s"postings offset entry with $k keys")
        ((c.str(), c.str()), c.uvarint())
      }.toMap
    }

    def labelNames: Seq[String] = labelOffsets.keys.toSeq.sorted

    def labelValues(name: String): Seq[String] =
      labelOffsets.get(name).map { off =>
        val c = readSection(bytes, off.toInt)
        require(c.be32() == 1, "multi-name label index unsupported")
        val n = c.be32()
        (0 until n).map(_ => symbols(c.be32()))
      }.getOrElse(Nil)

    /** Sorted on-disk series refs for one (name, value); empty when
      * absent. */
    def postings(name: String, value: String): Seq[Long] =
      postingsOffsets.get((name, value)).map { off =>
        val c = readSection(bytes, off.toInt)
        val n = c.be32()
        (0 until n).map(_ => c.be32().toLong & 0xffffffffL)
      }.getOrElse(Nil)

    def allPostings: Seq[Long] = postings("", "")

    /** Decode the series entry at on-disk ref (= offset/16). */
    def series(ref: Long): SeriesEntry = {
      val off = (ref * 16).toInt
      val head = new ByteCursor(bytes, off)
      val len = head.uvarint().toInt
      val contentOff = head.pos
      val stored = new ByteCursor(bytes, contentOff + len).be32()
      require(stored == crc32c(bytes, contentOff, len),
        s"series entry CRC mismatch at ref $ref")
      val c = new ByteCursor(bytes, contentOff)
      val nl = c.uvarint().toInt
      val labels = (0 until nl).map { _ =>
        (symbols(c.uvarint().toInt), symbols(c.uvarint().toInt))
      }
      val nc = c.uvarint().toInt
      var prevMaxt = 0L
      var prevRef = 0L
      val chunks = (0 until nc).map { j =>
        val (mint, maxt, r) =
          if (j == 0) {
            val m = c.varint()
            val x = m + c.uvarint()
            (m, x, c.uvarint())
          } else {
            val m = prevMaxt + c.uvarint()
            val x = m + c.uvarint()
            (m, x, prevRef + c.varint())
          }
        prevMaxt = maxt
        prevRef = r
        ChunkMeta(mint, maxt, r)
      }
      SeriesEntry(labels, chunks)
    }
  }

  // ---------------------------------------------------------------
  // chunk segments
  // ---------------------------------------------------------------

  /** Incremental chunk-segment writer: appends XOR chunks, rolls to
    * a new `chunks/00000N` segment past `segmentBytes`, hands back
    * the packed (segment << 32 | offset) refs the index stores.
    */
  final class ChunkSegmentWriter(dir: java.io.File,
      segmentBytes: Long = DefaultSegmentBytes) {
    // race-safe against sibling tasks creating shared parents
    java.nio.file.Files.createDirectories(dir.toPath)
    private var segIdx = 0
    private var segLen = 0L
    private var out: DataOutputStream = null
    openNext()

    private def openNext(): Unit = {
      if (out != null) out.close()
      segIdx += 1
      val f = new java.io.File(dir, f"$segIdx%06d")
      out = new DataOutputStream(new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(f)))
      out.writeInt(ChunksMagic)
      out.writeByte(ChunksVersion)
      out.write(new Array[Byte](3))
      segLen = 8L
    }

    /** Append one chunk, returning its ref. */
    def append(data: Array[Byte], encoding: Int = EncXOR): Long = {
      // roll BEFORE writing so a chunk never spans segments
      val head = new ByteArrayOutputStream()
      putUvarint(head, data.length.toLong)
      val headBytes = head.toByteArray
      val total = headBytes.length + 1 + data.length + 4
      if (segLen + total > segmentBytes && segLen > 8L) openNext()
      val ref = (segIdx.toLong << 32) | segLen
      out.write(headBytes, 0, headBytes.length)
      out.writeByte(encoding)
      out.write(data, 0, data.length)
      val c = new CRC32C()
      c.update(encoding)
      c.update(data, 0, data.length)
      out.writeInt(c.getValue.toInt)
      segLen += total
      ref
    }

    def close(): Unit = if (out != null) { out.close(); out = null }
  }

  /** Random-access chunk reads over a block's segment files; lazily
    * memory-loads each referenced segment once. */
  final class ChunkSegmentReader(dir: java.io.File) {
    private val cache = scala.collection.mutable.Map.empty[Int, Array[Byte]]

    private def segment(idx: Int): Array[Byte] =
      cache.getOrElseUpdate(idx, {
        val f = new java.io.File(dir, f"$idx%06d")
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        val c = new ByteCursor(bytes, 0)
        require(c.be32() == ChunksMagic, s"bad chunk segment magic in $f")
        require((bytes(4) & 0xff) == ChunksVersion,
          s"unsupported chunk segment version in $f")
        bytes
      })

    /** Read and CRC-verify the chunk at `ref`; returns (encoding,
      * data bytes). */
    def chunk(ref: Long): (Int, Array[Byte]) = {
      val bytes = segment((ref >>> 32).toInt)
      val c = new ByteCursor(bytes, (ref & 0xffffffffL).toInt)
      val len = c.uvarint().toInt
      val enc = bytes(c.pos) & 0xff
      val data = java.util.Arrays.copyOfRange(bytes, c.pos + 1, c.pos + 1 + len)
      val stored = new ByteCursor(bytes, c.pos + 1 + len).be32()
      val crc = new CRC32C()
      crc.update(enc)
      crc.update(data, 0, data.length)
      require(stored == crc.getValue.toInt, s"chunk CRC mismatch at ref $ref")
      (enc, data)
    }
  }

  // ---------------------------------------------------------------
  // meta.json / tombstones / ULID
  // ---------------------------------------------------------------

  private final val UlidAlphabet = "0123456789ABCDEFGHJKMNPQRSTVWXYZ"

  /** Deterministic ULID: 48-bit timestamp (block maxt) + 80 bits of
    * content hash — stable across re-writes of the same data, so the
    * gate's fixture block has a reproducible directory name. */
  def deterministicUlid(maxt: Long, contentHash: Long): String = {
    val b = new Array[Byte](16)
    var i = 0
    while (i < 6) { b(i) = (maxt >>> (8 * (5 - i))).toByte; i += 1 }
    var h = contentHash
    i = 0
    while (i < 10) {
      h = h * 6364136223846793005L + 1442695040888963407L
      b(6 + i) = (h >>> 32).toByte
      i += 1
    }
    // 128 bits → 26 Crockford base-32 chars (MSB-first, 2 pad bits)
    val sb = new StringBuilder(26)
    var acc = 0L
    var accBits = 0
    var out = 0
    var bi = 0
    while (out < 26) {
      while (accBits < 5 && bi < 16) {
        acc = (acc << 8) | (b(bi) & 0xffL)
        accBits += 8
        bi += 1
      }
      if (accBits < 5) { acc <<= (5 - accBits); accBits = 5 }
      sb.append(UlidAlphabet(((acc >>> (accBits - 5)) & 0x1f).toInt))
      accBits -= 5
      out += 1
    }
    sb.toString
  }

  def writeMeta(dir: java.io.File, ulid: String, mint: Long, maxt: Long,
      numSeries: Long, numSamples: Long, numChunks: Long): Unit = {
    val json =
      s"""{
         |\t"ulid": "$ulid",
         |\t"minTime": $mint,
         |\t"maxTime": $maxt,
         |\t"stats": {
         |\t\t"numSamples": $numSamples,
         |\t\t"numSeries": $numSeries,
         |\t\t"numChunks": $numChunks
         |\t},
         |\t"compaction": {
         |\t\t"level": 1,
         |\t\t"sources": ["$ulid"]
         |\t},
         |\t"version": 1
         |}
         |""".stripMargin
    java.nio.file.Files.write(new java.io.File(dir, "meta.json").toPath,
      json.getBytes(UTF_8))
  }

  private def metaNum(dir: java.io.File, keys: Seq[String]): Seq[Long] = {
    val json = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "meta.json").toPath), UTF_8)
    keys.map { key =>
      val m = ("\"" + key + "\"\\s*:\\s*(-?\\d+)").r.findFirstMatchIn(json)
      m.map(_.group(1).toLong).getOrElse(
        throw new IllegalArgumentException(s"meta.json missing $key"))
    }
  }

  /** minTime/maxTime from meta.json (no full JSON parse needed). */
  def readMetaTimes(dir: java.io.File): (Long, Long) = {
    val Seq(mint, maxt) = metaNum(dir, Seq("minTime", "maxTime"))
    (mint, maxt)
  }

  /** (numSeries, numSamples, numChunks) from meta.json — the
    * duplicate-ULID sanity check's comparison key. */
  def readMetaStats(dir: java.io.File): (Long, Long, Long) = {
    val Seq(se, sa, ch) =
      metaNum(dir, Seq("numSeries", "numSamples", "numChunks"))
    (se, sa, ch)
  }

  /** One deletion interval: samples of the series at `ref` with
    * mint ≤ ts ≤ maxt are deleted. */
  final case class Tombstone(ref: Long, mint: Long, maxt: Long)

  /** Tombstones file: magic, version, then per stone `uvarint ref |
    * varint mint | varint maxt`, closed by a CRC32C of the stones
    * region. */
  def writeTombstones(dir: java.io.File, stones: Seq[Tombstone]): Unit = {
    val body = new ByteArrayOutputStream()
    stones.foreach { s =>
      putUvarint(body, s.ref)
      putVarint(body, s.mint)
      putVarint(body, s.maxt)
    }
    val bodyBytes = body.toByteArray
    val out = new ByteArrayOutputStream()
    out.write(be32(TombstonesMagic), 0, 4)
    out.write(TombstonesVersion)
    out.write(bodyBytes, 0, bodyBytes.length)
    out.write(be32(crc32c(bodyBytes, 0, bodyBytes.length)), 0, 4)
    java.nio.file.Files.write(new java.io.File(dir, "tombstones").toPath,
      out.toByteArray)
  }

  /** An empty tombstones file (header + zero entries + CRC). */
  def writeEmptyTombstones(dir: java.io.File): Unit =
    writeTombstones(dir, Nil)

  /** Deletion intervals grouped by series ref; a missing or
    * header-only file means none. */
  def readTombstones(dir: java.io.File): Map[Long, Seq[(Long, Long)]] = {
    val f = new java.io.File(dir, "tombstones")
    if (!f.isFile) return Map.empty
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    if (bytes.length <= 5) return Map.empty
    val c = new ByteCursor(bytes, 0)
    require(c.be32() == TombstonesMagic, "bad tombstones magic")
    require((bytes(4) & 0xff) == TombstonesVersion,
      s"unsupported tombstones version ${bytes(4)}")
    val bodyEnd = bytes.length - 4
    require(new ByteCursor(bytes, bodyEnd).be32() ==
      crc32c(bytes, 5, bodyEnd - 5), "tombstones CRC mismatch")
    c.pos = 5
    val stones = Seq.newBuilder[Tombstone]
    while (c.pos < bodyEnd)
      stones += Tombstone(c.uvarint(), c.varint(), c.varint())
    stones.result().groupBy(_.ref)
      .map { case (r, ss) => (r, ss.map(s => (s.mint, s.maxt))) }
  }
}
