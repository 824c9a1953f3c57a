package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, RowOrdering, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.functions.{array, col, struct}
import org.apache.spark.sql.types._

import graft.tsdb.{ChunkCodec, ChunkencHistCodec}

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
  * exact per-sample range predicate on top — or decode with `exact`,
  * which keeps only the samples inside [qmint, qmaxt] (the SQL
  * function keeps the header-only semantics).
  */
case class ChunkDecode(blob: Expression, qmint: Expression, qmaxt: Expression,
    exact: Boolean = false)
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
      mi.asInstanceOf[Long], ma.asInstanceOf[Long], exact)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, mi, ma) =>
      s"${ev.value} = graft.tsdb.ChunkCodec.decodeToArrayData($b, $mi, $ma, $exact);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(blob = newFirst, qmint = newSecond, qmaxt = newThird)
}

/** The chunkenc histogram sample structs
  * ([[graft.tsdb.ChunkencHistCodec]]). The encode input is one
  * histogram per element: ts, zero count, positive bucket indexes and
  * counts, a nullable sum (null is stored as NaN) and the SIGNED
  * side's negative buckets (empty for positive-only series); counts
  * are longs for integer histograms, doubles for float ones.
  */
object HistChunkExpressions {
  def sampleType(float: Boolean): StructType = {
    val count = if (float) DoubleType else LongType
    StructType(Seq(
      StructField("ts", LongType, nullable = false),
      StructField("zero", count, nullable = false),
      StructField("idx", ArrayType(IntegerType, containsNull = false),
        nullable = false),
      StructField("cnt", ArrayType(count, containsNull = false),
        nullable = false),
      StructField("sum", DoubleType, nullable = true),
      StructField("nidx", ArrayType(IntegerType, containsNull = false),
        nullable = false),
      StructField("ncnt", ArrayType(count, containsNull = false),
        nullable = false)))
  }

  /** The decode output: the encode fields plus, after the sum, the
    * chunk's exponential/NHCB schema ordinal and the NHCB bound list
    * (empty for exponential schemas) — the block reader's
    * `schema`/`custom_values` columns at the cell seam. */
  private def decodedType(float: Boolean): StructType = {
    val in = sampleType(float).fields.toSeq
    StructType(in.take(5) ++ Seq(
      StructField("schema", IntegerType, nullable = false),
      StructField("cv", ArrayType(DoubleType, containsNull = false),
        nullable = false)) ++ in.drop(5))
  }

  val chunkencSampleType: StructType = decodedType(float = false)
  val chunkencFloatSampleType: StructType = decodedType(float = true)

  /** The encode input struct from a histogram table's columns (`ts`
    * the caller's timestamp column): zero and counts cast to the
    * family's type, `sum` as given, and the negative side from
    * `negIdxCol`/`negCountsCol` (both or neither; empty when absent,
    * never for custom-bucket histograms). */
  def sample(float: Boolean, ts: Column, zeroCol: String, idxCol: String,
      cntCol: String, sum: Column, customValues: Seq[Double],
      negIdxCol: Option[String], negCountsCol: Option[String]): Column = {
    require(negIdxCol.isDefined == negCountsCol.isDefined,
      "negIdxCol and negCountsCol must be passed together")
    require(negIdxCol.isEmpty || customValues.isEmpty,
      "custom-bucket (NHCB) histograms cannot carry negative buckets")
    val count = if (float) "double" else "bigint"
    def neg(c: Option[String], t: String): Column =
      c.map(col).getOrElse(array()).cast(t)
    struct(ts.cast("long").as("ts"), col(zeroCol).cast(count).as("zero"),
      col(idxCol).cast("array<int>").as("idx"),
      col(cntCol).cast(s"array<$count>").as("cnt"),
      sum.cast("double").as("sum"), neg(negIdxCol, "array<int>").as("nidx"),
      neg(negCountsCol, s"array<$count>").as("ncnt"))
  }
}

/** `graft_hist_chunk_encode` / `graft_float_hist_chunk_encode(samples,
  * schema, samplesPerChunk)`: ts-sorted [[HistChunkExpressions]]
  * samples → framed cell of chunkenc histogram chunks, integer (enc 2)
  * or float (enc 3) by the samples' count type. `customValues` is the
  * NHCB bound list (schema -53 only). Cuts keep each sample's exact
  * bucket layout (`exactLayout`, see [[graft.tsdb.ChunkencHistCodec]]),
  * so [[ChunkencHistDecode]] returns every sample as written.
  */
case class ChunkencHistEncode(child: Expression, histSchema: Int,
    samplesPerChunk: Int, customValues: Seq[Double] = Nil)
    extends UnaryExpression {

  require(samplesPerChunk > 0, "samplesPerChunk must be positive")

  private def float: Boolean = child.dataType match {
    case ArrayType(st: StructType, _) => st(1).dataType == DoubleType
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(st: StructType, _) if Seq(false, true).exists(f =>
        DataType.equalsIgnoreNullability(st, HistChunkExpressions.sampleType(f))) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"expects array<${HistChunkExpressions.sampleType(false).catalogString}> " +
        s"or its double-count form, got ${t.catalogString}")
  }

  override def dataType: DataType = BinaryType

  @transient private lazy val cv = customValues.toArray

  override def nullSafeEval(v: Any): Any =
    ChunkencHistCodec.encodeArrayData(v.asInstanceOf[ArrayData], histSchema,
      samplesPerChunk, cv, gauge = false, exactLayout = true, float)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cvRef = ctx.addReferenceObj("customValues", cv, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.tsdb.ChunkencHistCodec.encodeArrayData($c, $histSchema, " +
        s"$samplesPerChunk, $cvRef, false, true, $float);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_hist_chunk_decode(blob, qmint, qmaxt)`: a cell whose
  * frame bodies are REAL chunkenc EncHistogram chunks
  * ([[graft.tsdb.ChunkencHistCodec]]) → native-histogram samples of
  * the overlapping chunks, on each chunk's union bucket layout.
  * Foreign-family frames (XOR / float-hist in a mixed cell) skip by
  * header; skipped bodies never parsed. `exact` as in [[ChunkDecode]].
  */
case class ChunkencHistDecode(blob: Expression, qmint: Expression,
    qmaxt: Expression, exact: Boolean = false)
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
      ma.asInstanceOf[Long], exact)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, mi, ma) =>
      s"${ev.value} = graft.tsdb.ChunkencHistCodec.decodeToArrayData($b, $mi, $ma, $exact, false);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(blob = newFirst, qmint = newSecond, qmaxt = newThird)
}

/** `graft_float_hist_chunk_decode`: [[ChunkencHistDecode]] for enc=3
  * FLOAT-histogram frame bodies. */
case class ChunkencFloatHistDecode(blob: Expression, qmint: Expression,
    qmaxt: Expression, exact: Boolean = false)
    extends TernaryExpression with ExpectsInputTypes {

  override def first: Expression = blob
  override def second: Expression = qmint
  override def third: Expression = qmaxt

  override def inputTypes = Seq(BinaryType, LongType, LongType)

  override def dataType: DataType =
    ArrayType(HistChunkExpressions.chunkencFloatSampleType, containsNull = false)

  override def nullSafeEval(b: Any, mi: Any, ma: Any): Any =
    graft.tsdb.ChunkencHistCodec.decodeToArrayData(
      b.asInstanceOf[Array[Byte]], mi.asInstanceOf[Long],
      ma.asInstanceOf[Long], exact, float = true)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, mi, ma) =>
      s"${ev.value} = graft.tsdb.ChunkencHistCodec.decodeToArrayData($b, $mi, $ma, $exact, true);")

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
    mergeSorted((0 until runs.numElements()).iterator
      .filterNot(runs.isNullAt)
      .map(runs.getStruct(_, 2))
      .filterNot(_.isNullAt(1))
      .toArray
      .sortBy(_.get(0, priType))(priOrdering)
      .map { run =>
        val a = run.getArray(1)
        (0 until a.numElements()).filterNot(a.isNullAt)
          .map(a.getStruct(_, sampleArity)).toArray
      })
  }

  /** The merge of `samples`, one ts-sorted run of sample structs per
    * element, in ascending priority. */
  def mergeSorted(samples: Array[Array[InternalRow]]): ArrayData = {
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
