package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, RowOrdering, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._

import graft.tsdb.{ChunkCodec, HistChunkCodec}

/** Catalyst expressions over the [[graft.tsdb.ChunkCodec]] XOR chunk
  * codec. Both stay inside whole-stage codegen: the generated code
  * calls the codec's static entry points directly (the per-row work
  * is byte-stream parsing that gains nothing from inlined Java, but
  * keeping the EXPRESSION codegen-able keeps the surrounding
  * project/filter/explode span fused — no CodegenFallback barrier in
  * the select path).
  */

/** `chunk_encode(samples, samplesPerChunk)`: sorted
  * array<struct<ts:long, value:double>> → framed XOR chunk blob
  * (binary). samplesPerChunk is a literal knob, not a column.
  */
case class ChunkEncode(child: Expression, samplesPerChunk: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(samplesPerChunk > 0, "samplesPerChunk must be positive")

  override def inputTypes =
    Seq(ArrayType(StructType(Seq(
      StructField("ts", LongType, nullable = false),
      StructField("value", DoubleType, nullable = false)))))

  override def dataType: DataType = BinaryType

  override def nullSafeEval(v: Any): Any =
    ChunkCodec.encodeArrayData(v.asInstanceOf[ArrayData], samplesPerChunk)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // Scala emits static forwarders on the object's class, so this
    // is a plain static call in the generated Java
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.tsdb.ChunkCodec.encodeArrayData($c, $samplesPerChunk);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `chunk_decode(blob, qmint, qmaxt)`: framed blob → samples of the
  * chunks whose frame header overlaps [qmint, qmaxt] (inclusive, the
  * reference decoder's filter — schema/encoder.go:310). Skipped
  * chunks are never parsed. Callers explode the result and apply the
  * exact per-sample range predicate on top.
  */
case class ChunkDecode(blob: Expression, qmint: Expression, qmaxt: Expression)
    extends TernaryExpression with ExpectsInputTypes {

  override def first: Expression = blob
  override def second: Expression = qmint
  override def third: Expression = qmaxt

  override def inputTypes = Seq(BinaryType, LongType, LongType)

  override def dataType: DataType =
    ArrayType(StructType(Seq(
      StructField("ts", LongType, nullable = false),
      StructField("value", DoubleType, nullable = false))),
      containsNull = false)

  override def nullSafeEval(b: Any, mi: Any, ma: Any): Any =
    ChunkCodec.decodeToArrayData(b.asInstanceOf[Array[Byte]],
      mi.asInstanceOf[Long], ma.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, mi, ma) =>
      s"${ev.value} = graft.tsdb.ChunkCodec.decodeToArrayData($b, $mi, $ma);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(blob = newFirst, qmint = newSecond, qmaxt = newThird)
}

/** `float_hist_chunk_encode(samples, schema, samplesPerChunk)`:
  * sorted FLOAT-histogram samples → framed EncFloatHistogram blob
  * ([[graft.tsdb.HistChunkCodec.encodeFloatBlob]] — layout reuse +
  * XOR-windowed double counts).
  */
case class FloatHistChunkEncode(child: Expression, histSchema: Int,
    samplesPerChunk: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(samplesPerChunk > 0, "samplesPerChunk must be positive")

  override def inputTypes = Seq(ArrayType(HistChunkExpressions.floatSampleType))

  override def dataType: DataType = BinaryType

  override def nullSafeEval(v: Any): Any =
    HistChunkCodec.encodeFloatArrayData(v.asInstanceOf[ArrayData],
      histSchema, samplesPerChunk)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.tsdb.HistChunkCodec.encodeFloatArrayData($c, $histSchema, $samplesPerChunk);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `float_hist_chunk_decode(blob, qmint, qmaxt)`: framed
  * EncFloatHistogram blob → float-histogram samples of the chunks
  * whose frame header overlaps [qmint, qmaxt]; skipped bodies never
  * parsed.
  */
case class FloatHistChunkDecode(blob: Expression, qmint: Expression,
    qmaxt: Expression)
    extends TernaryExpression with ExpectsInputTypes {

  override def first: Expression = blob
  override def second: Expression = qmint
  override def third: Expression = qmaxt

  override def inputTypes = Seq(BinaryType, LongType, LongType)

  override def dataType: DataType =
    ArrayType(HistChunkExpressions.floatSampleType, containsNull = false)

  override def nullSafeEval(b: Any, mi: Any, ma: Any): Any =
    HistChunkCodec.decodeFloatToArrayData(b.asInstanceOf[Array[Byte]],
      mi.asInstanceOf[Long], ma.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, mi, ma) =>
      s"${ev.value} = graft.tsdb.HistChunkCodec.decodeFloatToArrayData($b, $mi, $ma);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(blob = newFirst, qmint = newSecond, qmaxt = newThird)
}

/** The NATIVE-histogram sample struct both hist chunk expressions
  * share: one exponential-bucket histogram per element, sum nullable
  * (a sum-less counter series carries null in every row).
  */
object HistChunkExpressions {
  val sampleType: StructType = StructType(Seq(
    StructField("ts", LongType, nullable = false),
    StructField("zero", LongType, nullable = false),
    StructField("idx", ArrayType(IntegerType, containsNull = false),
      nullable = false),
    StructField("cnt", ArrayType(LongType, containsNull = false),
      nullable = false),
    StructField("sum", DoubleType, nullable = true)))

  /** FLOAT-histogram sample struct (EncFloatHistogram family): zero
    * count and bucket counts are doubles. */
  val floatSampleType: StructType = StructType(Seq(
    StructField("ts", LongType, nullable = false),
    StructField("zero", DoubleType, nullable = false),
    StructField("idx", ArrayType(IntegerType, containsNull = false),
      nullable = false),
    StructField("cnt", ArrayType(DoubleType, containsNull = false),
      nullable = false),
    StructField("sum", DoubleType, nullable = true)))

  /** Chunkenc-bodied decode structs ([[graft.tsdb.ChunkencHistCodec]])
    * extend the sample model with the chunk's exponential/NHCB schema
    * ordinal, the NHCB bound list (empty for exponential schemas) —
    * the block reader's `schema`/`custom_values` columns at the shard
    * seam — and the SIGNED side's negative buckets (empty for
    * positive-only series). */
  val chunkencSampleType: StructType = StructType(
    sampleType.fields.toSeq ++ Seq(
      StructField("schema", IntegerType, nullable = false),
      StructField("cv", ArrayType(DoubleType, containsNull = false),
        nullable = false),
      StructField("nidx", ArrayType(IntegerType, containsNull = false),
        nullable = false),
      StructField("ncnt", ArrayType(LongType, containsNull = false),
        nullable = false)))

  val chunkencFloatSampleType: StructType = StructType(
    floatSampleType.fields.toSeq ++ Seq(
      StructField("schema", IntegerType, nullable = false),
      StructField("cv", ArrayType(DoubleType, containsNull = false),
        nullable = false),
      StructField("nidx", ArrayType(IntegerType, containsNull = false),
        nullable = false),
      StructField("ncnt", ArrayType(DoubleType, containsNull = false),
        nullable = false)))
}

/** `hist_chunk_encode(samples, schema, samplesPerChunk)`: sorted
  * native-histogram samples → framed EncHistogram blob
  * ([[graft.tsdb.HistChunkCodec]] — layout reuse + count deltas).
  * schema and samplesPerChunk are literal knobs.
  */
case class HistChunkEncode(child: Expression, histSchema: Int,
    samplesPerChunk: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(samplesPerChunk > 0, "samplesPerChunk must be positive")

  override def inputTypes = Seq(ArrayType(HistChunkExpressions.sampleType))

  override def dataType: DataType = BinaryType

  override def nullSafeEval(v: Any): Any =
    HistChunkCodec.encodeArrayData(v.asInstanceOf[ArrayData],
      histSchema, samplesPerChunk)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.tsdb.HistChunkCodec.encodeArrayData($c, $histSchema, $samplesPerChunk);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `chunkenc_hist_decode(blob, qmint, qmaxt)`: shard-cell blob whose
  * frame bodies are REAL chunkenc EncHistogram chunks
  * ([[graft.tsdb.ChunkencHistCodec]]) → native-histogram samples of
  * the overlapping chunks, on each chunk's union bucket layout.
  * Foreign-family frames (XOR / float-hist in a mixed cell) skip by
  * header; skipped bodies never parsed.
  */
case class ChunkencHistDecode(blob: Expression, qmint: Expression,
    qmaxt: Expression)
    extends TernaryExpression with ExpectsInputTypes {

  override def first: Expression = blob
  override def second: Expression = qmint
  override def third: Expression = qmaxt

  override def inputTypes = Seq(BinaryType, LongType, LongType)

  override def dataType: DataType =
    ArrayType(HistChunkExpressions.chunkencSampleType, containsNull = false)

  override def nullSafeEval(b: Any, mi: Any, ma: Any): Any =
    graft.tsdb.ChunkencHistCodec.decodeToArrayData(
      b.asInstanceOf[Array[Byte]], mi.asInstanceOf[Long],
      ma.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, mi, ma) =>
      s"${ev.value} = graft.tsdb.ChunkencHistCodec.decodeToArrayData($b, $mi, $ma);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(blob = newFirst, qmint = newSecond, qmaxt = newThird)
}

/** [[ChunkencHistDecode]] for enc=3 FLOAT-histogram frame bodies. */
case class ChunkencFloatHistDecode(blob: Expression, qmint: Expression,
    qmaxt: Expression)
    extends TernaryExpression with ExpectsInputTypes {

  override def first: Expression = blob
  override def second: Expression = qmint
  override def third: Expression = qmaxt

  override def inputTypes = Seq(BinaryType, LongType, LongType)

  override def dataType: DataType =
    ArrayType(HistChunkExpressions.chunkencFloatSampleType, containsNull = false)

  override def nullSafeEval(b: Any, mi: Any, ma: Any): Any =
    graft.tsdb.ChunkencHistCodec.decodeFloatToArrayData(
      b.asInstanceOf[Array[Byte]], mi.asInstanceOf[Long],
      ma.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, mi, ma) =>
      s"${ev.value} = graft.tsdb.ChunkencHistCodec.decodeFloatToArrayData($b, $mi, $ma);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(blob = newFirst, qmint = newSecond, qmaxt = newThird)
}

/** `hist_chunk_decode(blob, qmint, qmaxt)`: framed EncHistogram blob
  * → native-histogram samples of the chunks whose frame header
  * overlaps [qmint, qmaxt]; skipped bodies never parsed.
  */
case class HistChunkDecode(blob: Expression, qmint: Expression,
    qmaxt: Expression)
    extends TernaryExpression with ExpectsInputTypes {

  override def first: Expression = blob
  override def second: Expression = qmint
  override def third: Expression = qmaxt

  override def inputTypes = Seq(BinaryType, LongType, LongType)

  override def dataType: DataType =
    ArrayType(HistChunkExpressions.sampleType, containsNull = false)

  override def nullSafeEval(b: Any, mi: Any, ma: Any): Any =
    HistChunkCodec.decodeToArrayData(b.asInstanceOf[Array[Byte]],
      mi.asInstanceOf[Long], ma.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, mi, ma) =>
      s"${ev.value} = graft.tsdb.HistChunkCodec.decodeToArrayData($b, $mi, $ma);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(blob = newFirst, qmint = newSecond, qmaxt = newThird)
}

/** [[graft.tsdb.ChunkCodec.frameFamilyMask]] as a Column: bitmask of
  * chunkenc families present in one encoded cell, headers only.
  */
case class ChunkFamilies(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(org.apache.spark.sql.types.BinaryType)
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def nullSafeEval(a: Any): Any =
    graft.tsdb.ChunkCodec.frameFamilyMask(a.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.tsdb.ChunkCodec.frameFamilyMask($a)")

  override protected def withNewChildInternal(newChild: Expression): ChunkFamilies =
    copy(child = newChild)

  override def prettyName: String = "graft_chunk_families"
}

object ChunkFamilies {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graft.ColumnBridge
  def families(blob: Column): Column =
    ColumnBridge.column(ChunkFamilies(ColumnBridge.expression(blob)))
}

/** `merge_sample_runs(runs)`: k-way last-writer-wins merge of the
  * decoded sample arrays ("runs") of ONE series — the series-grain
  * kernel of shard and chunk-store compaction (convert/merge.go).
  * `runs` is `array<struct<pri, samples>>`: `pri` any orderable
  * priority, `samples` an array of sample structs whose field 0 is
  * the timestamp, a long (ms in shards, µs in chunk stores), sorted
  * by it. The
  * sample struct is otherwise opaque, so XOR and histogram samples
  * share the kernel. Output: the merged samples, sorted by ts, exactly
  * one per distinct ts:
  *   - the run with the HIGHEST `pri` holding that ts wins;
  *   - within the winning run, its LAST sample at that ts (in the
  *     run's stored order) wins.
  * Null runs and null sample arrays contribute nothing; a run whose
  * timestamps decrease throws (a merge of unsorted input would
  * silently mis-order the output).
  */
case class MergeSampleRuns(child: Expression) extends UnaryExpression {

  private def runType: StructType =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  private def sampleType: StructType =
    runType(1).dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(pri, StructField(_, ArrayType(
        StructType(fs), _), _, _))), _)
        if RowOrdering.isOrderable(pri.dataType) && fs.nonEmpty &&
          fs(0).dataType == LongType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      "merge_sample_runs expects array<struct<pri: orderable, samples: " +
        s"array<struct<ts: bigint, ...>>>>, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(sampleType, containsNull = false)

  @transient private lazy val priOrdering =
    TypeUtils.getInterpretedOrdering(runType(0).dataType)

  override def nullSafeEval(runs: Any): Any =
    SampleRuns.merge(runs.asInstanceOf[ArrayData], priOrdering,
      runType(0).dataType, sampleType.length)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ord = ctx.addReferenceObj("priOrdering", priOrdering, "scala.math.Ordering")
    val priType = ctx.addReferenceObj("priType", runType(0).dataType,
      "org.apache.spark.sql.types.DataType")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SampleRuns.merge($c, $ord, $priType, ${sampleType.length});")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "merge_sample_runs"
}

/** The [[MergeSampleRuns]] kernel, static for the generated code. */
object SampleRuns {
  def merge(runs: ArrayData, priOrdering: Ordering[Any], priType: DataType,
      sampleArity: Int): ArrayData = {
    // ascending priority: a later run overrides an earlier one
    val samples = (0 until runs.numElements()).iterator
      .filterNot(runs.isNullAt)
      .map(runs.getStruct(_, 2))
      .filterNot(_.isNullAt(1))
      .toArray
      .sortBy(_.get(0, priType))(priOrdering)
      .map { run =>
        val a = run.getArray(1)
        (0 until a.numElements()).filterNot(a.isNullAt)
          .map(a.getStruct(_, sampleArity)).toArray
      }
    val ts = samples.map(_.map(_.getLong(0)))
    val k = samples.length
    val cur = new Array[Int](k)
    def at(r: Int, t: Long): Boolean = cur(r) < ts(r).length && ts(r)(cur(r)) == t
    val out = new java.util.ArrayList[Any]()
    var more = true
    while (more) {
      more = false
      var t = Long.MaxValue
      var r = 0
      while (r < k) {
        if (cur(r) < ts(r).length && (!more || ts(r)(cur(r)) < t)) {
          t = ts(r)(cur(r)); more = true
        }
        r += 1
      }
      if (more) {
        var winner: Any = null
        r = 0
        while (r < k) {
          if (at(r, t)) {
            while (at(r, t)) cur(r) += 1
            if (cur(r) < ts(r).length && ts(r)(cur(r)) < t)
              throw new IllegalArgumentException(
                s"sample run not sorted by timestamp: ${ts(r)(cur(r))} after $t")
            // the run's last sample at t
            winner = samples(r)(cur(r) - 1)
          }
          r += 1
        }
        out.add(winner)
      }
    }
    new GenericArrayData(out)
  }
}
