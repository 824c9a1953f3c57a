package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenFallback, GenerateUnsafeProjection}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{HistChunkExpressions, MergeSampleRuns}

/** [[MergeSampleRuns]], the LWW kernel of shard compaction: the
  * interpreted `eval` and the generated code agree on every input
  * shape, and both apply the duplicate rule (highest-priority run
  * wins a ts; within it, its last sample at that ts).
  */
class MergeSampleRunsSpec extends AnyFunSuite {

  private val xorSample = StructType(Seq(
    StructField("ts", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  private def runsType(sample: StructType, pri: DataType = IntegerType) =
    ArrayType(StructType(Seq(StructField("pri", pri),
      StructField("samples", ArrayType(sample)))))

  /** (interpreted, generated) results of merging `runs` — both read
    * the same UnsafeRow input, as in a real plan — as Scala values. */
  private def both(t: ArrayType, runs: Seq[Row]): (Any, Any) = {
    val expr = MergeSampleRuns(BoundReference(0, t, nullable = true))
    assert(expr.checkInputDataTypes().isSuccess)
    assert(!expr.isInstanceOf[CodegenFallback])
    val input = UnsafeProjection.create(Array[DataType](t))(InternalRow(
      CatalystTypeConverters.createToCatalystConverter(t)(runs))).copy()
    val generated = GenerateUnsafeProjection.generate(Seq(expr))(input)
    def scala(v: Any) = CatalystTypeConverters.convertToScala(v, expr.dataType)
    (scala(expr.eval(input)),
      scala(if (generated.isNullAt(0)) null else generated.getArray(0)))
  }

  private def merged(t: ArrayType, runs: Seq[Row]): Any = {
    val (interpreted, generated) = both(t, runs)
    assert(interpreted == generated)
    interpreted
  }

  private def xor(pts: (Long, Double)*): Seq[Row] = pts.map(Row.fromTuple)

  test("empty and null inputs: no runs, empty runs, null runs and null " +
      "sample arrays merge to nothing; a null input stays null") {
    val t = runsType(xorSample)
    assert(merged(t, null) == null)
    assert(merged(t, Seq()) == Seq())
    assert(merged(t, Seq(Row(0, Seq()), Row(1, Seq()))) == Seq())
    assert(merged(t, Seq(null, Row(1, null))) == Seq())
    assert(merged(t, Seq(Row(0, null), null, Row(2, xor(5L -> 1.0)))) ==
      xor(5L -> 1.0))
  }

  test("one input passes through; duplicate timestamps keep one sample " +
      "each: the highest priority run, its last sample at the ts") {
    val t = runsType(xorSample)
    val one = xor(1L -> 1.0, 2L -> 2.0, 9L -> 3.0)
    assert(merged(t, Seq(Row(4, one))) == one)
    // within one run: the last of the equal-ts samples
    assert(merged(t, Seq(Row(0, xor(1L -> 1.0, 1L -> 5.0, 1L -> 3.0,
      2L -> 7.0)))) == xor(1L -> 3.0, 2L -> 7.0))
    // across runs, given out of priority order: priority 2 beats 1
    // beats 0, whatever the array order
    val runs = Seq(
      Row(2, xor(3L -> 30.0, 3L -> 31.0, 5L -> 50.0)),
      Row(0, xor(1L -> 0.1, 3L -> 0.3, 4L -> 0.4, 5L -> 0.5, 5L -> 0.6)),
      Row(1, xor(4L -> 4.0, 4L -> 4.1, 6L -> 6.0)))
    assert(merged(t, runs) == xor(1L -> 0.1, 3L -> 31.0, 4L -> 4.1,
      5L -> 50.0, 6L -> 6.0))
    // struct priorities order field by field
    val ts = runsType(xorSample, StructType(Seq(
      StructField("dir", IntegerType), StructField("row", LongType))))
    assert(merged(ts, Seq(Row(Row(1, 0L), xor(1L -> 10.0)),
      Row(Row(0, 7L), xor(1L -> 70.0)), Row(Row(1, 2L), xor(1L -> 12.0)))) ==
      xor(1L -> 12.0))
  }

  test("histogram samples merge through the same kernel, every field " +
      "of the winning sample kept") {
    val t = runsType(HistChunkExpressions.chunkencSampleType)
    def h(ts: Long, c: Long) = Row(ts, c, Seq(0, 1), Seq(c, c + 1), c * 0.5,
      0, Seq.empty[Double], Seq(-1), Seq(c + 2))
    val got = merged(t, Seq(Row(0, Seq(h(1, 1), h(2, 2), h(3, 3))),
      Row(1, Seq(h(2, 20), h(2, 21), h(4, 40)))))
    assert(got == Seq(h(1, 1), h(2, 21), h(3, 3), h(4, 40)))
  }

  test("a run whose timestamps decrease throws on both paths") {
    val t = runsType(xorSample)
    val runs = Seq(Row(0, xor(1L -> 1.0, 3L -> 3.0, 2L -> 2.0)))
    val e1 = intercept[IllegalArgumentException] { both(t, runs) }
    assert(e1.getMessage.contains("not sorted"))
    val expr = MergeSampleRuns(BoundReference(0, t, nullable = true))
    val input = InternalRow(CatalystTypeConverters.createToCatalystConverter(t)(runs))
    val e2 = intercept[IllegalArgumentException] {
      GenerateUnsafeProjection.generate(Seq(expr))(input)
    }
    assert(e2.getMessage.contains("not sorted"))
  }
}
