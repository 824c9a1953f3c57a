package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Expression, GenericInternalRow, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** `range_windows(samples, start, lastIdx)`: a PromQL range function
  * evaluated over ONE series' samples at every step of a grid, in one
  * pass. `samples` is the series' array<struct<ts: long ms, value:
  * double>>; step k in [0, lastIdx] evaluates at t = start + k·stepMs
  * over the window [t − offsetMs − rangeMs, t − offsetMs). Two
  * pointers sweep the windows, so a series costs O(samples + steps);
  * steps whose window holds no sample emit nothing. An instant query
  * is the one-step grid (lastIdx 0).
  *
  * The output is one struct per non-empty window, `step` first. Each
  * function reproduces the Spark aggregate the sample-grain plan runs
  * over the same window's rows in stored order:
  *   - `rate`/`increase` emit the inputs of
  *     [[graft.tsdb.PromOps.extrapolationLadder]]: `_inc`, the sum of
  *     the reset-aware deltas (the window's first sample has delta 0),
  *     each cast to decimal(30,8) and summed exactly, then cast to
  *     double; `_first_ms`/`_last_ms`; `_first_v`, the smallest value
  *     at the window's first ts; `_n`;
  *   - `sum`/`avg_over_time` sum the decimal(30,8) casts exactly (a
  *     value whose cast is null drops out of the sum, not the count);
  *     `min`/`max` follow Spark's double order (NaN above every value,
  *     −0.0 equal to 0.0, the first of equals kept); `last`/`first`
  *     take the latest/earliest ts, ties broken on value the way
  *     `max`/`min` of a (ts, value) struct breaks them; `count` counts.
  * Casts run as the `Cast` of the session's eval mode at plan time,
  * so an ANSI session fails on the same inputs the sample-grain plan
  * fails on. Samples out of ts order are stable-sorted first, which
  * is the order the sample-grain plan's window sort gives them.
  *
  * `start` and `lastIdx` are [[QueryConst]]s in practice, so a moved
  * window leaves the generated code unchanged.
  */
case class RangeWindows(samples: Expression, start: Expression, lastIdx: Expression,
    fn: String, stepMs: Long, rangeMs: Long, offsetMs: Long,
    evalMode: EvalMode.Value = EvalMode.fromSQLConf(SQLConf.get))
    extends TernaryExpression {
  require(RangeWindows.functions(fn), s"range_windows does not evaluate $fn")
  require(stepMs > 0 && rangeMs > 0, "step and range must be positive")

  override def first: Expression = samples
  override def second: Expression = start
  override def third: Expression = lastIdx

  override def dataType: DataType =
    ArrayType(RangeWindows.outputType(fn), containsNull = false)

  override def nullSafeEval(s: Any, st: Any, li: Any): Any =
    windows(s.asInstanceOf[ArrayData], st.asInstanceOf[Long], li.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("rangeWindows", this)
    nullSafeCodeGen(ctx, ev, (s, st, li) =>
      s"${ev.value} = $self.windows($s, $st, $li);")
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(samples = newFirst, start = newSecond, lastIdx = newThird)

  override def prettyName: String = "range_windows"

  @transient private lazy val toDecimal =
    Cast(BoundReference(0, DoubleType, nullable = false), DecimalType(30, 8),
      None, evalMode)

  /** The windows of one series. */
  def windows(samples: ArrayData, startMs: Long, lastIdx: Long): ArrayData = {
    val (ts, v) = RangeWindows.sortedSamples(samples)
    val n = ts.length
    val cmp = SQLOrderingUtil.compareDoubles _
    val in = new GenericInternalRow(1)
    def dec(x: Double): java.math.BigDecimal = {
      in.update(0, x)
      toDecimal.eval(in) match {
        case null => null
        case d: Decimal => d.toJavaBigDecimal
      }
    }
    def toDouble(sum: java.math.BigDecimal): Double = Decimal(sum, 38, 8).toDouble
    val rate = fn == "rate" || fn == "increase"
    val summed = rate || fn == "sum_over_time" || fn == "avg_over_time"
    // per-sample decimal terms, cast when they first enter a window:
    // the delta to the previous sample for rate, the value otherwise
    val term = if (summed) new Array[java.math.BigDecimal](n) else null
    var sum = java.math.BigDecimal.ZERO
    var nonNull = 0
    // monotonic deques of sample indexes for min/max
    val extreme = fn == "min_over_time" || fn == "max_over_time"
    val deque = if (extreme) new Array[Int](n) else null
    var dHead = 0
    var dTail = 0
    def worse(a: Double, b: Double): Boolean =
      if (fn == "min_over_time") cmp(a, b) > 0 else cmp(a, b) < 0

    def add(i: Int, lo: Int): Unit = {
      if (rate) {
        if (i > lo) {
          // the counter-reset delta, Spark's `v >= prev` double order
          val d = if (cmp(v(i), v(i - 1)) >= 0) v(i) - v(i - 1) else v(i)
          term(i) = dec(d)
          if (term(i) != null) sum = sum.add(term(i))
        }
      } else if (summed) {
        term(i) = dec(v(i))
        if (term(i) != null) { sum = sum.add(term(i)); nonNull += 1 }
      } else if (extreme) {
        while (dTail > dHead && worse(v(deque(dTail - 1)), v(i))) dTail -= 1
        deque(dTail) = i
        dTail += 1
      }
    }
    def remove(j: Int, hi: Int): Unit = {
      if (rate) {
        if (j + 1 < hi && term(j + 1) != null) sum = sum.subtract(term(j + 1))
      } else if (summed) {
        if (term(j) != null) { sum = sum.subtract(term(j)); nonNull -= 1 }
      } else if (extreme) {
        if (dTail > dHead && deque(dHead) == j) dHead += 1
      }
    }
    def reset(): Unit = { sum = java.math.BigDecimal.ZERO; nonNull = 0; dHead = 0; dTail = 0 }
    // the value at the window's first ts with the smallest value, or at
    // its last ts with the largest (first of equals kept)
    def firstAt(lo: Int, hi: Int): Double = {
      var best = v(lo)
      var j = lo + 1
      while (j < hi && ts(j) == ts(lo)) { if (cmp(v(j), best) < 0) best = v(j); j += 1 }
      best
    }
    def lastAt(lo: Int, hi: Int): Double = {
      var j = hi - 1
      while (j > lo && ts(j - 1) == ts(hi - 1)) j -= 1
      var best = v(j)
      j += 1
      while (j < hi) { if (cmp(v(j), best) > 0) best = v(j); j += 1 }
      best
    }

    val out = new java.util.ArrayList[Any]()
    var lo = 0
    var hi = 0
    var k = 0L
    while (k <= lastIdx && lo < n) {
      val t = startMs + k * stepMs
      val wlo = t - offsetMs - rangeMs
      val whi = t - offsetMs
      // leave before entering: a delta is cast only for two samples
      // that share a window, as the sample-grain plan casts them
      while (lo < hi && ts(lo) < wlo) { remove(lo, hi); lo += 1 }
      if (lo == hi) {
        reset()
        while (lo < n && ts(lo) < wlo) lo += 1
        hi = lo
      }
      while (hi < n && ts(hi) < whi) { add(hi, lo); hi += 1 }
      if (hi > lo) {
        val cnt = hi - lo
        out.add(new GenericInternalRow(
          if (rate) Array[Any](t, toDouble(sum), ts(lo), ts(hi - 1), firstAt(lo, hi), cnt.toLong)
          else Array[Any](t, fn match {
            case "sum_over_time" => if (nonNull == 0) null else toDouble(sum)
            case "avg_over_time" => if (nonNull == 0) null else toDouble(sum) / cnt.toDouble
            case "min_over_time" | "max_over_time" => v(deque(dHead))
            case "count_over_time" => cnt.toDouble
            case "first_over_time" => firstAt(lo, hi)
            case "last_over_time" => lastAt(lo, hi)
          })))
      }
      k += 1
    }
    new GenericArrayData(out)
  }
}

object RangeWindows {
  val functions: Set[String] = Set("rate", "increase", "sum_over_time",
    "avg_over_time", "min_over_time", "max_over_time", "count_over_time",
    "last_over_time", "first_over_time")

  def outputType(fn: String): StructType =
    if (fn == "rate" || fn == "increase") StructType(Seq(
      StructField("step", LongType, nullable = false),
      StructField("_inc", DoubleType, nullable = false),
      StructField("_first_ms", LongType, nullable = false),
      StructField("_last_ms", LongType, nullable = false),
      StructField("_first_v", DoubleType, nullable = false),
      StructField("_n", LongType, nullable = false)))
    else StructType(Seq(
      StructField("step", LongType, nullable = false),
      StructField("value", DoubleType, nullable = true)))

  /** The samples' ts and value columns, stable-sorted by ts. */
  private def sortedSamples(samples: ArrayData): (Array[Long], Array[Double]) = {
    val n = samples.numElements()
    val ts = new Array[Long](n)
    val v = new Array[Double](n)
    var sorted = true
    var i = 0
    while (i < n) {
      val s: InternalRow = samples.getStruct(i, 2)
      ts(i) = s.getLong(0)
      v(i) = s.getDouble(1)
      if (i > 0 && ts(i) < ts(i - 1)) sorted = false
      i += 1
    }
    if (sorted) (ts, v)
    else {
      val order = (0 until n).sortBy(ts(_)) // stable
      (order.map(ts).toArray, order.map(v).toArray)
    }
  }
}
