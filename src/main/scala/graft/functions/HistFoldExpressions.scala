package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst folds for the reset-aware native-histogram
  * increase — the hot loop of `increase/rate(native_histogram[...])`
  * and of the NH rollup stitch/cascade.
  *
  * The HOF formulation they replaced (`aggregate` over
  * `map_zip_with`/`map_filter`/`exists` accumulators) is
  * semantically right but evaluates every lambda per map entry in
  * interpreted mode — at (series × samples-in-range × buckets) scale
  * that interpreter dispatch dominated the whole fold stage. These
  * expressions run the identical per-step ladder as one tight loop
  * over the collected snapshot array.
  *
  * Exactness contract (pinned by NativeHistogramSpec and
  * HistRollupStoreSpec against that HOF form, which lives in the test
  * sources as `NhReference`):
  *   - double comparisons use Spark SQL semantics (NaN greater than
  *     everything, NaN == NaN, -0.0 == 0.0) — `nanSafeCompareDoubles`,
  *     not Java `<`;
  *   - per-bucket sums accumulate in step order with the same
  *     `coalesce(x, 0.0) + coalesce(y, 0.0)` seeding, so every output
  *     double is the identical IEEE op sequence;
  *   - duplicate bucket indexes inside one snapshot throw, exactly
  *     like `map_from_arrays` under the default EXCEPTION dedup
  *     policy;
  *   - the reset ladder (explicit `counter_reset` header beats
  *     detection, `not_counter_reset`/`gauge` suppress it, anything
  *     else — including a NULL hint — falls back to the component-
  *     decrease walk) matches `hfResetFlag`.
  *
  * Count values (`c`/`nc` array elements) are assumed NON-NULL — every
  * producer casts integer fixtures or decoded chunk values. (The HOF
  * form would three-valued-logic a null count through `exists`; no
  * call site can produce one.)
  */
private[graft] object NhFoldCore {

  /** Spark SQL `x < y` over doubles: NaN sorts above everything,
    * NaN == NaN, -0.0 == 0.0.
    */
  def sparkLt(x: Double, y: Double): Boolean =
    if (java.lang.Double.isNaN(y)) !java.lang.Double.isNaN(x)
    else if (java.lang.Double.isNaN(x)) false
    else x < y

  final class Hist {
    var z: Double = 0.0
    val pos = new java.util.LinkedHashMap[Integer, java.lang.Double]()
    val neg = new java.util.LinkedHashMap[Integer, java.lang.Double]()
  }

  def toMap(i: ArrayData, c: ArrayData): java.util.LinkedHashMap[Integer, java.lang.Double] = {
    // producer contract, asserted loudly instead of an opaque NPE: the
    // snapshot projections always cast/coalesce bucket arrays, so a
    // NULL array here is a caller bug (the HOF spec form would
    // three-valued-logic a null through and yield a null output; the
    // native fold refuses rather than silently diverging from it)
    if (i == null || c == null)
      throw new IllegalArgumentException(
        "null bucket idx/count array reached a native NH fold - " +
          "producers must cast/coalesce bucket arrays to non-null")
    val n = i.numElements()
    if (c.numElements() != n)
      throw new IllegalArgumentException(
        s"bucket idx/count arrays differ in length: $n vs ${c.numElements()}")
    val m = new java.util.LinkedHashMap[Integer, java.lang.Double](n * 2)
    var j = 0
    while (j < n) {
      val k = Integer.valueOf(i.getInt(j))
      if (m.containsKey(k))
        throw new RuntimeException(
          s"duplicate bucket index $k in one histogram snapshot " +
            "(map_from_arrays EXCEPTION dedup policy)")
      m.put(k, java.lang.Double.valueOf(c.getDouble(j)))
      j += 1
    }
    m
  }

  /** `exists(keys(prev), k -> coalesce(cur[k], 0.0) < prev[k])`. */
  def decreased(prev: java.util.LinkedHashMap[Integer, java.lang.Double],
      cur: java.util.LinkedHashMap[Integer, java.lang.Double]): Boolean = {
    val it = prev.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cv = cur.get(e.getKey)
      val c = if (cv == null) 0.0 else cv.doubleValue()
      if (sparkLt(c, e.getValue.doubleValue())) return true
    }
    false
  }

  /** The hint ladder: an explicit chunk header beats value
    * comparison; anything else (incl. null) falls back to `detected`.
    */
  def resetFlag(hint: UTF8String, detected: Boolean): Boolean =
    if (hint == null) detected
    else hint.toString match {
      case "counter_reset" => true
      case "not_counter_reset" | "gauge" => false
      case _ => detected
    }

  /** acc[k] += v with the HOF's `coalesce(x,0)+coalesce(y,0)` seed. */
  def mergeAdd(acc: java.util.LinkedHashMap[Integer, java.lang.Double], k: Int,
      v: Double): Unit = {
    val key = Integer.valueOf(k)
    val prev = acc.get(key)
    val base = if (prev == null) 0.0 else prev.doubleValue()
    acc.put(key, java.lang.Double.valueOf(base + v))
  }

  /** One side's per-step contribution merged into the accumulator:
    * on reset the whole cur histogram adds; otherwise cur − prev over
    * the UNION of both key sets (missing side reads 0).
    */
  def mergeStep(acc: java.util.LinkedHashMap[Integer, java.lang.Double],
      cur: java.util.LinkedHashMap[Integer, java.lang.Double],
      prev: java.util.LinkedHashMap[Integer, java.lang.Double], reset: Boolean): Unit = {
    val curIt = cur.entrySet().iterator()
    while (curIt.hasNext) {
      val e = curIt.next()
      if (reset) mergeAdd(acc, e.getKey.intValue(), e.getValue.doubleValue())
      else {
        val pv = prev.get(e.getKey)
        val p = if (pv == null) 0.0 else pv.doubleValue()
        mergeAdd(acc, e.getKey.intValue(), e.getValue.doubleValue() - p)
      }
    }
    if (!reset) {
      val prevIt = prev.entrySet().iterator()
      while (prevIt.hasNext) {
        val e = prevIt.next()
        if (!cur.containsKey(e.getKey))
          mergeAdd(acc, e.getKey.intValue(), 0.0 - e.getValue.doubleValue())
      }
    }
  }

  /** Merge a stored increase map (sorted idx/inc arrays) into acc. */
  def mergeStored(acc: java.util.LinkedHashMap[Integer, java.lang.Double],
      i: ArrayData, c: ArrayData): Unit = {
    val n = i.numElements()
    var j = 0
    while (j < n) {
      mergeAdd(acc, i.getInt(j), c.getDouble(j))
      j += 1
    }
  }

  /** (sorted keys, values in that order) of the accumulator. */
  def sortedOut(m: java.util.LinkedHashMap[Integer, java.lang.Double]): (GenericArrayData, GenericArrayData) = {
    val keys = new Array[Int](m.size())
    val it = m.keySet().iterator()
    var j = 0
    while (it.hasNext) { keys(j) = it.next().intValue(); j += 1 }
    java.util.Arrays.sort(keys)
    val vals = new Array[Any](keys.length)
    j = 0
    while (j < keys.length) {
      vals(j) = m.get(Integer.valueOf(keys(j))).doubleValue(); j += 1
    }
    (new GenericArrayData(keys.map(k => k: Any)), new GenericArrayData(vals))
  }

  def outRow(h: Hist): InternalRow = {
    val (pi, pc) = sortedOut(h.pos)
    val (ni, nc) = sortedOut(h.neg)
    InternalRow(h.z, pi, pc, ni, nc)
  }

  val outType: StructType = StructType(Seq(
    StructField("z", DoubleType, nullable = false),
    StructField("pos_idx", ArrayType(IntegerType, containsNull = false)),
    StructField("pos_inc", ArrayType(DoubleType, containsNull = true)),
    StructField("neg_idx", ArrayType(IntegerType, containsNull = false)),
    StructField("neg_inc", ArrayType(DoubleType, containsNull = true))))
}

/** Fold over a time-sorted array of RAW whole-sample snapshots
  * `struct(t:long, z:double, i:array<int>, c:array<double>,
  * ni:array<int>, nc:array<double>, h:string)` — the per-step ladder
  * of [[graft.tsdb.NativeHistogram.increaseBySignedResets]] as one
  * native loop. Returns `struct(z, pos_idx, pos_inc, neg_idx,
  * neg_inc)` with bucket keys already ascending.
  */
case class NhIncreaseFold(child: Expression)
    extends UnaryExpression {

  // the element struct is consumed by field ordinal; production is
  // always the snapStruct projection, so no ExpectsInputTypes contract
  override def dataType: DataType = NhFoldCore.outType

  // compute() returns null for an EMPTY snapshot array (no fold), so
  // the expression is nullable regardless of the child's bit — and
  // codegen must re-check the result (defineCodeGen would pin isNull
  // to the child's, handing generated code a null struct flagged
  // non-null)
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    NhIncreaseFold.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"""
      ${ev.value} = graft.functions.NhIncreaseFold.compute($a);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression): NhIncreaseFold =
    copy(child = newChild)

  override def prettyName: String = "graft_nh_increase_fold"
}

object NhIncreaseFold {
  import NhFoldCore._

  // snapshot struct ordinals: t=0, z=1, i=2, c=3, ni=4, nc=5, h=6
  private val SnapFields = 7

  /** Static entry for generated code. */
  def compute(ss: ArrayData): InternalRow = {
    val n = ss.numElements()
    if (n == 0) return null
    val acc = new Hist
    val first = ss.getStruct(0, SnapFields)
    var prevZ = first.getDouble(1)
    var prevP = toMap(first.getArray(2), first.getArray(3))
    var prevN = toMap(first.getArray(4), first.getArray(5))
    var idx = 1
    while (idx < n) {
      val cur = ss.getStruct(idx, SnapFields)
      val curZ = cur.getDouble(1)
      val curP = toMap(cur.getArray(2), cur.getArray(3))
      val curN = toMap(cur.getArray(4), cur.getArray(5))
      val detected = sparkLt(curZ, prevZ) ||
        decreased(prevP, curP) || decreased(prevN, curN)
      val hint = if (cur.isNullAt(6)) null else cur.getUTF8String(6)
      val reset = resetFlag(hint, detected)
      acc.z += (if (reset) curZ else curZ - prevZ)
      mergeStep(acc.pos, curP, prevP, reset)
      mergeStep(acc.neg, curN, prevN, reset)
      prevZ = curZ
      prevP = curP
      prevN = curN
      idx += 1
    }
    outRow(acc)
  }

  /** Column API over a sorted snapshot array. */
  def fold(ss: Column): Column =
    ColumnBridge.column(NhIncreaseFold(ColumnBridge.expression(ss)))
}

/** Fold over a time-sorted array of NH ROLLUP WINDOW rows
  * `struct(window_sec, n, f:snap7, l:snap6, zero_inc, pos_idx,
  * pos_inc, neg_idx, neg_inc)` — [[graft.tsdb.HistRollupStore]]'s
  * stitch: seed with window 1's stored increase, then per window add
  * the boundary step (prev window's LAST → this window's FIRST, the
  * identical detect-or-hint ladder) plus the window's stored maps.
  * Returns the same struct shape as [[NhIncreaseFold]].
  */
case class NhStitchFold(child: Expression)
    extends UnaryExpression {

  // consumed by field ordinal; production is always winStruct
  override def dataType: DataType = NhFoldCore.outType

  // null on an EMPTY window array — same contract note as
  // [[NhIncreaseFold]]
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    NhStitchFold.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"""
      ${ev.value} = graft.functions.NhStitchFold.compute($a);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression): NhStitchFold =
    copy(child = newChild)

  override def prettyName: String = "graft_nh_stitch_fold"
}

object NhStitchFold {
  import NhFoldCore._

  // window struct ordinals: window_sec=0, n=1, f=2 (7 fields),
  // l=3 (6 fields: t,z,i,c,ni,nc), zero_inc=4, pos_idx=5, pos_inc=6,
  // neg_idx=7, neg_inc=8
  private val WinFields = 9

  /** Static entry for generated code. */
  def compute(warr: ArrayData): InternalRow = {
    val n = warr.numElements()
    if (n == 0) return null
    val acc = new Hist
    val w1 = warr.getStruct(0, WinFields)
    acc.z = w1.getDouble(4)
    mergeSeed(acc.pos, w1.getArray(5), w1.getArray(6))
    mergeSeed(acc.neg, w1.getArray(7), w1.getArray(8))
    var prevL = w1.getStruct(3, 6)
    var idx = 1
    while (idx < n) {
      val w = warr.getStruct(idx, WinFields)
      val f = w.getStruct(2, 7)
      val prevZ = prevL.getDouble(1)
      val prevP = toMap(prevL.getArray(2), prevL.getArray(3))
      val prevN = toMap(prevL.getArray(4), prevL.getArray(5))
      val curZ = f.getDouble(1)
      val curP = toMap(f.getArray(2), f.getArray(3))
      val curN = toMap(f.getArray(4), f.getArray(5))
      val detected = sparkLt(curZ, prevZ) ||
        decreased(prevP, curP) || decreased(prevN, curN)
      val hint = if (f.isNullAt(6)) null else f.getUTF8String(6)
      val reset = resetFlag(hint, detected)
      // (acc.z + dz) + w.zero_inc — the HOF's left-assoc order
      acc.z = acc.z + (if (reset) curZ else curZ - prevZ) + w.getDouble(4)
      mergeStep(acc.pos, curP, prevP, reset)
      mergeStored(acc.pos, w.getArray(5), w.getArray(6))
      mergeStep(acc.neg, curN, prevN, reset)
      mergeStored(acc.neg, w.getArray(7), w.getArray(8))
      prevL = w.getStruct(3, 6)
      idx += 1
    }
    outRow(acc)
  }

  /** Window 1's stored maps seed the accumulator VERBATIM (the HOF
    * init is `hfAsMap(idx, inc)`, not a merge into an empty map —
    * no `0.0 +` seed on these entries).
    */
  private def mergeSeed(acc: java.util.LinkedHashMap[Integer, java.lang.Double],
      i: ArrayData, c: ArrayData): Unit = {
    val n = i.numElements()
    var j = 0
    while (j < n) {
      val k = Integer.valueOf(i.getInt(j))
      if (acc.containsKey(k))
        throw new RuntimeException(
          s"duplicate bucket index $k in one stored increase map " +
            "(map_from_arrays EXCEPTION dedup policy)")
      acc.put(k, java.lang.Double.valueOf(c.getDouble(j)))
      j += 1
    }
  }

  /** Column API over a sorted window array. */
  def fold(warr: Column): Column =
    ColumnBridge.column(NhStitchFold(ColumnBridge.expression(warr)))
}
