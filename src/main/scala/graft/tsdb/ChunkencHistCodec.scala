package graft.tsdb

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

import graft.tsdb.block.{ChunkencHistogram, HistAppender, HistFamily}

/** Shard-cell codec whose frame BODIES are REAL Prometheus chunkenc
  * histogram chunks ([[graft.tsdb.block.ChunkencHistogram]] — the
  * published tsdb/docs/format/chunks.md layout), framed exactly like
  * the reference's parquet cells (schema/encoder.go:202-221:
  * uvarint(enc) uvarint(mint) uvarint(maxt) uvarint(len) chunkBytes).
  *
  * This is the byte contract a parquet-common reader actually
  * depends on: its decoder hands every frame body to
  * `chunkenc.FromData(enc, bytes)` (schema/encoder.go Decode +
  * search/materialize.go), so a cell is only interoperable if the
  * bodies parse as chunkenc. [[ChunkCodec]] (XOR, enc 1) is
  * bit-exact chunkenc; this codec closes the histogram families
  * (enc 2/3) the same way, NHCB custom-bucket chunks (schema -53,
  * bound list in-chunk) included. It is graft's one histogram cell
  * body: the reference-layout shards
  * ([[graft.tsdb.shard.ParquetShardStore]]) and the chunked store
  * ([[HistChunkStore]]) both write and read it.
  *
  * Encode runs the block writer's appender
  * ([[graft.tsdb.block.HistAppender]], one for both families): a
  * counter RESET (zero bucket or any same-index bucket count
  * decreasing, a bucket VANISHING — the appender's test) cuts a chunk
  * and marks the next one CounterReset; a `samplesPerChunk` cap cut
  * marks it NotCounterReset; gauge series carry GaugeType on every
  * chunk and never reset-cut. Within one chunk the samples are re-laid
  * onto the UNION bucket layout with absolute-0 fills — what
  * chunkenc's own recode produces when buckets appear mid-chunk. With
  * `exactLayout` the encoder also cuts (NotCounterReset) wherever a
  * sample's positive or negative index set differs from the previous
  * sample's, so every chunk holds one layout and each sample decodes
  * with exactly the buckets it was written with, explicit zero
  * buckets included ([[HistChunkStore]] and the SQL functions; the
  * shard writers keep the appender's cuts).
  *
  * The chunkenc wire format always carries a tracked sum; a NULL
  * input sum is persisted as NaN (what Prometheus stores when the
  * sum is untracked) and decodes back as NaN, never null.
  *
  * Decode skips non-overlapping frames on the header alone, skips
  * KNOWN foreign-family frames (a reference-written cell may mix
  * XOR and histogram chunks when one series changed sample type —
  * schema/encoder.go keeps per-encoding appenders per column; each
  * family's reader keeps its own, the block readers' convention),
  * and throws a [[GraftFormatException]] on an unknown encoding
  * ordinal. SIGNED histograms (negative buckets) ride the same
  * sample struct (`nidx`/`ncnt`, empty for positive-only series), so
  * everything a reference shard's histogram cells can hold —
  * exponential, signed, NHCB, gauge — decodes here.
  */
object ChunkencHistCodec {

  /** samples: sorted array<struct<ts:long, zero:long, idx:array<int>,
    * cnt:array<long>, sum:double?, nidx:array<int>, ncnt:array<long>>>
    * → framed blob of enc=2 chunkenc chunks; with `float` the zero and
    * bucket counts are doubles and the bodies enc=3 float chunks.
    * `customValues` non-empty iff schema == -53 (NHCB — no negative
    * side allowed). Positive-only series pass empty neg arrays. A null
    * sum is stored as NaN. `exactLayout`: see the object doc. */
  def encodeArrayData(samples: ArrayData, schema: Int,
      samplesPerChunk: Int, customValues: Array[Double],
      gauge: Boolean, exactLayout: Boolean, float: Boolean): Array[Byte] =
    encodeArrayData(samples, 0, samples.numElements(), schema,
      samplesPerChunk, customValues, gauge, exactLayout, float)

  /** [[encodeArrayData]] of the elements `[from, until)` of `samples`,
    * read in place. */
  def encodeArrayData(samples: ArrayData, from: Int, until: Int, schema: Int,
      samplesPerChunk: Int, customValues: Array[Double],
      gauge: Boolean, exactLayout: Boolean, float: Boolean): Array[Byte] =
    encode(new HistAppender(HistFamily(float), schema, 0.0, customValues,
      gauge, samplesPerChunk, exactLayout), samples, from, until)

  private def encode[A <: AnyRef](app: HistAppender[A], samples: ArrayData,
      from: Int, until: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val family = app.family
    def flush(): Unit = {
      val (data, mint, maxt) = app.flush()
      ChunkCodec.putFrame(out, family.encoding.toLong, mint, maxt, data)
    }
    var i = from
    while (i < until) {
      val r = samples.getStruct(i, 7)
      val zero = family.zeroCount(r, 1)
      val idx = r.getArray(2).toIntArray()
      val cnt = family.counts(r.getArray(3))
      val nidx = r.getArray(5).toIntArray()
      val ncnt = family.counts(r.getArray(6))
      if (app.cutBefore(zero, idx, cnt, nidx, ncnt)) flush()
      app.add(r.getLong(0), zero, if (r.isNullAt(4)) Double.NaN else r.getDouble(4),
        idx, cnt, nidx, ncnt)
      i += 1
    }
    if (app.size > 0) flush()
    out.toByteArray
  }

  /** The distinct (schema, NHCB bound list) of the non-empty enc=2
    * chunks of a blob, from the chunk headers alone; foreign-family
    * frames skip by header, as in [[decodeToArrayData]]. */
  def chunkSchemas(blob: Array[Byte]): Set[(Int, Seq[Double])] = {
    val out = Set.newBuilder[(Int, Seq[Double])]
    val pos = Array(0)
    while (pos(0) < blob.length) {
      val frameStart = pos(0)
      val enc = ChunkCodec.readUvarint(blob, pos)
      ChunkCodec.readUvarint(blob, pos) // mint
      ChunkCodec.readUvarint(blob, pos) // maxt
      val size = ChunkCodec.readUvarint(blob, pos).toInt
      val bodyStart = pos(0)
      pos(0) = bodyStart + size
      if (enc == ChunkCodec.EncHistogram)
        ChunkCodec.frameBody(blob, frameStart, bodyStart, size)(
          ChunkencHistogram.histChunkSchema(blob, bodyStart, size))
          .foreach { case (schema, cv) => out += ((schema, cv.toSeq)) }
      else ChunkCodec.requireKnown(enc, frameStart)
    }
    out.result()
  }

  /** blob → array<struct<ts, zero, idx, cnt, sum, schema, cv, nidx,
    * ncnt>> of the enc=2 chunks (enc=3 with `float`, double counts)
    * whose header overlaps [qmint, qmaxt] (inclusive, the reference
    * decoder's filter). idx/cnt (and the negative side) come back on
    * the chunk's UNION layout (absent buckets read absolute 0 —
    * chunkenc's recode semantics); callers drop zero-count buckets
    * when they want the sparse view. `schema` and the NHCB bound list
    * `cv` ride each sample so custom-bucket consumers resolve bounds
    * from the decoded bytes, like the block reader's `custom_values`
    * column. `exact` keeps only the samples inside [qmint, qmaxt]. */
  def decodeToArrayData(blob: Array[Byte], qmint: Long, qmaxt: Long,
      exact: Boolean = false, float: Boolean = false): ArrayData = {
    val family = HistFamily(float)
    val rows = Vector.newBuilder[Any]
    val pos = Array(0)
    while (pos(0) < blob.length) {
      val frameStart = pos(0)
      val enc = ChunkCodec.readUvarint(blob, pos)
      val mint = ChunkCodec.readUvarint(blob, pos)
      val maxt = ChunkCodec.readUvarint(blob, pos)
      val size = ChunkCodec.readUvarint(blob, pos).toInt
      val bodyStart = pos(0)
      pos(0) = bodyStart + size
      if (enc == family.encoding) {
        if (mint <= qmaxt && maxt >= qmint) {
          val c = ChunkCodec.frameBody(blob, frameStart, bodyStart, size)(
            family.decode(blob, bodyStart, size))
          val union = ChunkencHistogram.bucketIndexes(c.posSpans)
          val nUnion = ChunkencHistogram.bucketIndexes(c.negSpans)
          val cv = new GenericArrayData(c.customValues)
          val nIdxArr = new GenericArrayData(nUnion)
          var i = 0
          while (i < c.ts.length) {
            if (!exact || (c.ts(i) >= qmint && c.ts(i) <= qmaxt))
              rows += InternalRow(c.ts(i), c.zeroAt(i),
                new GenericArrayData(union),
                new GenericArrayData(c.posAt(i): Any), c.sum(i),
                c.schema, cv, nIdxArr,
                new GenericArrayData(c.negAt(i): Any))
            i += 1
          }
        }
      } else {
        // a foreign family in a mixed cell is theirs, not ours: skip it
        ChunkCodec.requireKnown(enc, frameStart)
      }
    }
    new GenericArrayData(rows.result().toArray)
  }
}
