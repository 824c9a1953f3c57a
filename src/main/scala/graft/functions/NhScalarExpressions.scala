package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst folds for the PER-ROW native-histogram scalar
  * functions — `histogram_quantile` (exponential, signed, custom-
  * bucket), `histogram_stdvar`, `histogram_fraction` and the count
  * sums. The HOF formulations they replaced (`aggregate` over
  * `zip_with`ped bucket arrays) are semantically right but evaluate
  * each lambda per bucket in interpreted mode — per-row interpreter
  * dispatch that scales with data volume (the same §4 cost family
  * NhIncreaseFold closed for the reset ladder). Each expression here
  * runs the identical walk as one tight loop.
  *
  * Exactness contract (pinned by NhScalarFoldsSpec against those HOF
  * forms, which live in the test sources as `NhReference`):
  *   - double comparisons/orderings use Spark SQL semantics (NaN
  *     above everything, NaN == NaN, -0.0 == 0.0), including the
  *     `greatest`/`least` null-skipping of the fraction share;
  *   - every accumulation replicates the HOF's IEEE op sequence
  *     (same association order, same `coalesce(x, 0.0)` seeding),
  *     so outputs are bit-identical;
  *   - three-valued logic is replicated: a NULL bucket array nulls
  *     the fold exactly where `zip_with`/`aggregate` would, a NULL
  *     element poisons a running sum, `zip_with`'s pad-to-longer
  *     semantics apply to mismatched idx/count lengths, and `when`
  *     predicates treat NULL as false;
  *   - bucket bounds are `StrictMath.pow(2, i · 2^−schema)` — the identical
  *     `pow` the Column form compiles to.
  */
private[graft] object NhScalarCore {

  @inline def lt(x: Double, y: Double): Boolean = NhFoldCore.sparkLt(x, y)
  @inline def gteq(x: Double, y: Double): Boolean = !lt(x, y)
  @inline def lteq(x: Double, y: Double): Boolean = !lt(y, x)
  @inline def gt(x: Double, y: Double): Boolean = lt(y, x)
  /** Spark `=== 0.0` (NaN != 0, -0.0 == 0.0). */
  @inline def eq0(x: Double): Boolean = !lt(x, 0.0) && !lt(0.0, x)

  type JD = java.lang.Double

  /** `coalesce(aggregate(a, 0.0, (s, c) => s + c), 0.0)` — null array
    * reads 0, a null ELEMENT nulls the running sum (then coalesced).
    */
  def sumD0(a: ArrayData): Double = {
    val s = sumD(a)
    if (s == null) 0.0 else s.doubleValue()
  }

  /** `aggregate(a, 0.0, (s, c) => s + c.cast(double))` with SQL null
    * propagation: null array → null, null element → null sum. */
  def sumD(a: ArrayData): JD = {
    if (a == null) return null
    val n = a.numElements()
    var s = 0.0
    var j = 0
    while (j < n) {
      if (a.isNullAt(j)) return null
      s += a.getDouble(j)
      j += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** `aggregate(a, 0L, (s, c) => s + c)` — long accumulator. */
  def sumL(a: ArrayData): java.lang.Long = {
    if (a == null) return null
    val n = a.numElements()
    var s = 0L
    var j = 0
    while (j < n) {
      if (a.isNullAt(j)) return null
      s += a.getLong(j)
      j += 1
    }
    java.lang.Long.valueOf(s)
  }

  /** The ascending quantile walk shared by the exponential variants:
    * fold state (cum, res) over zip_with(pi, pc) — reversed with
    * negated bounds for the negative region (`neg = true`, matching
    * `reverse(zip_with(...))` + the mirrored bucket interval).
    * Returns res (null when no bucket caught the rank, or when the
    * catching element's padded idx made `inBucket` null — the walk
    * then CONTINUES, as the HOF's res-stays-null state does).
    */
  def quantileWalk(rank: JD, seed: JD, pi: ArrayData, pc: ArrayData,
      pw: Double, neg: Boolean): JD = {
    if (pi == null || pc == null) return null
    val nI = pi.numElements()
    val nC = pc.numElements()
    val n = math.max(nI, nC)
    var cum: JD = seed
    var res: JD = null
    var j = 0
    while (j < n && res == null) {
      val k = if (neg) n - 1 - j else j
      val iNull = k >= nI || pi.isNullAt(k)
      val cNull = k >= nC || pc.isNullAt(k)
      val c = if (cNull) 0.0 else pc.getDouble(k)
      val cumNext: JD =
        if (cum == null || cNull) null
        else java.lang.Double.valueOf(cum.doubleValue() + c)
      val cond = cumNext != null && rank != null &&
        gteq(cumNext.doubleValue(), rank.doubleValue()) &&
        !cNull && gt(c, 0.0)
      if (cond) {
        if (!iNull) {
          val i = pi.getInt(k)
          val lower = if (neg) -StrictMath.pow(2.0, i * pw)
            else StrictMath.pow(2.0, (i - 1) * pw)
          val upper = if (neg) -StrictMath.pow(2.0, (i - 1) * pw)
            else StrictMath.pow(2.0, i * pw)
          res = java.lang.Double.valueOf(lower + (upper - lower) *
            ((rank.doubleValue() - cum.doubleValue()) / c))
        }
        cum = cumNext
      } else {
        cum = cumNext
      }
      j += 1
    }
    res
  }

  /** `element_at(arr, pos)` over int arrays under ANSI: 1-based,
    * negative counts from the end, out-of-range throws. */
  def elemAtInt(a: ArrayData, pos: Int): Integer = {
    val n = a.numElements()
    val k = if (pos > 0) pos - 1 else n + pos
    if (k < 0 || k >= n)
      throw new ArrayIndexOutOfBoundsException(
        s"element_at($pos) on a $n-element bucket index array")
    if (a.isNullAt(k)) null else Integer.valueOf(a.getInt(k))
  }

  def elemAtDouble(a: ArrayData, pos: Int): JD = {
    val n = a.numElements()
    val k = if (pos > 0) pos - 1 else n + pos
    if (k < 0 || k >= n)
      throw new ArrayIndexOutOfBoundsException(
        s"element_at($pos) on a $n-element bounds array")
    if (a.isNullAt(k)) null else java.lang.Double.valueOf(a.getDouble(k))
  }
}

/** Base for the scalar folds: boxed-argument evaluation with one
  * static-shaped codegen body (children evaluated, boxed into an
  * Object[], one virtual call into [[computeBoxed]]). The per-row
  * boxing is a handful of allocations against the interpreted HOF
  * tree each expression replaces.
  */
private[graft] abstract class NhScalarFold extends Expression {

  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType

  /** All-children-boxed compute; returns java.lang.Double or null. */
  def computeBoxed(vals: Array[Any]): Any

  override def eval(input: InternalRow): Any = {
    val n = children.length
    val vals = new Array[Any](n)
    var i = 0
    while (i < n) { vals(i) = children(i).eval(input); i += 1 }
    computeBoxed(vals)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nhFold", this,
      "graft.functions.NhScalarFold")
    val evals = children.map(_.genCode(ctx))
    val arr = ctx.freshName("nhArgs")
    val out = ctx.freshName("nhOut")
    val fill = evals.zipWithIndex.map { case (e, i) =>
      s"$arr[$i] = ${e.isNull} ? null : (Object) ${e.value};"
    }.mkString("\n")
    val code = code"""
      ${evals.map(_.code).reduce(_ + _)}
      Object[] $arr = new Object[${children.length}];
      $fill
      Object $out = $ref.computeBoxed($arr);
      boolean ${ev.isNull} = ($out == null);
      double ${ev.value} = ${ev.isNull} ? -1.0 :
        ((java.lang.Double) $out).doubleValue();
    """
    ev.copy(code = code, isNull = ev.isNull, value = ev.value)
  }
}

/** `histogramQuantile(q, zero, pos_idx, pos_counts, schema)` as one
  * native walk. Children pre-cast by the Column API: zero double,
  * idx array<int>, counts array<double>.
  */
case class NhQuantile(q: Double, schema: Int, zero: Expression,
    posIdx: Expression, posCounts: Expression) extends NhScalarFold {
  import NhScalarCore._

  override def children: Seq[Expression] = Seq(zero, posIdx, posCounts)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NhQuantile =
    copy(zero = newChildren(0), posIdx = newChildren(1),
      posCounts = newChildren(2))
  override def prettyName: String = "graft_nh_quantile"

  @transient private lazy val pw = math.pow(2.0, -schema)

  override def computeBoxed(vals: Array[Any]): Any = {
    val zero = vals(0).asInstanceOf[JD]
    val pi = vals(1).asInstanceOf[ArrayData]
    val pc = vals(2).asInstanceOf[ArrayData]
    val sumPC = sumD(pc)
    val total: JD = if (zero == null) null
      else java.lang.Double.valueOf(zero.doubleValue() +
        (if (sumPC == null) 0.0 else sumPC.doubleValue()))
    val rank: JD = if (total == null) null
      else java.lang.Double.valueOf(q * total.doubleValue())
    if (total != null && eq0(total.doubleValue()))
      return java.lang.Double.valueOf(Double.NaN)
    if (zero != null && rank != null &&
        gteq(zero.doubleValue(), rank.doubleValue()))
      return java.lang.Double.valueOf(0.0)
    val folded = quantileWalk(rank, zero, pi, pc, pw, neg = false)
    if (folded != null) return folded
    // coalesce fallback: upperBound(element_at(pos_idx, -1))
    if (pi == null) return null
    val last = elemAtInt(pi, -1)
    if (last == null) null
    else java.lang.Double.valueOf(StrictMath.pow(2.0, last.intValue() * pw))
  }
}

/** `histogramQuantileSigned` — the AllBucketIterator walk (negative
  * region descending, zero bucket, positive ascending). */
case class NhQuantileSigned(q: Double, schema: Int, zero: Expression,
    posIdx: Expression, posCounts: Expression, negIdx: Expression,
    negCounts: Expression) extends NhScalarFold {
  import NhScalarCore._

  override def children: Seq[Expression] =
    Seq(zero, posIdx, posCounts, negIdx, negCounts)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NhQuantileSigned =
    copy(zero = newChildren(0), posIdx = newChildren(1),
      posCounts = newChildren(2), negIdx = newChildren(3),
      negCounts = newChildren(4))
  override def prettyName: String = "graft_nh_quantile_signed"

  @transient private lazy val pw = math.pow(2.0, -schema)

  override def computeBoxed(vals: Array[Any]): Any = {
    val zero = vals(0).asInstanceOf[JD]
    val pi = vals(1).asInstanceOf[ArrayData]
    val pc = vals(2).asInstanceOf[ArrayData]
    val ni = vals(3).asInstanceOf[ArrayData]
    val nc = vals(4).asInstanceOf[ArrayData]
    val negTotal = sumD0(nc)
    val posTotal = sumD0(pc)
    val total: JD = if (zero == null) null
      else java.lang.Double.valueOf(
        negTotal + zero.doubleValue() + posTotal)
    val rank: JD = if (total == null) null
      else java.lang.Double.valueOf(q * total.doubleValue())
    if (total != null && eq0(total.doubleValue()))
      return java.lang.Double.valueOf(Double.NaN)
    if (gt(negTotal, 0.0) && rank != null &&
        lteq(rank.doubleValue(), negTotal)) {
      val negFolded = quantileWalk(rank, java.lang.Double.valueOf(0.0),
        ni, nc, pw, neg = true)
      if (negFolded != null) return negFolded
      // fallback: -upperBound(element_at(neg_idx, 1) - 1)
      if (ni == null) return null
      val first = elemAtInt(ni, 1)
      return if (first == null) null
        else java.lang.Double.valueOf(
          -StrictMath.pow(2.0, (first.intValue() - 1) * pw))
    }
    if (zero != null && rank != null &&
        gteq(negTotal + zero.doubleValue(), rank.doubleValue()))
      return java.lang.Double.valueOf(0.0)
    val posSeed: JD = if (zero == null) null
      else java.lang.Double.valueOf(negTotal + zero.doubleValue())
    val posFolded = quantileWalk(rank, posSeed, pi, pc, pw, neg = false)
    if (posFolded != null) return posFolded
    if (pi == null) return null
    val last = elemAtInt(pi, -1)
    if (last == null) null
    else java.lang.Double.valueOf(StrictMath.pow(2.0, last.intValue() * pw))
  }
}

/** `histogramQuantileCustom` — the NHCB classic-bucket walk over a
  * per-row `bounds` array (ascending inclusive upper bounds, index
  * size(bounds) = the +Inf overflow bucket). */
case class NhQuantileCustom(q: Double, posIdx: Expression,
    posCounts: Expression, bounds: Expression) extends NhScalarFold {
  import NhScalarCore._

  override def children: Seq[Expression] = Seq(posIdx, posCounts, bounds)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NhQuantileCustom =
    copy(posIdx = newChildren(0), posCounts = newChildren(1),
      bounds = newChildren(2))
  override def prettyName: String = "graft_nh_quantile_custom"

  override def computeBoxed(vals: Array[Any]): Any = {
    val pi = vals(0).asInstanceOf[ArrayData]
    val pc = vals(1).asInstanceOf[ArrayData]
    val bd = vals(2).asInstanceOf[ArrayData]
    val total = sumD0(pc)
    val rank = q * total
    if (eq0(total)) return java.lang.Double.valueOf(Double.NaN)
    val folded: JD = if (pi == null || pc == null || bd == null) null else {
      val nI = pi.numElements()
      val nC = pc.numElements()
      val nb = bd.numElements()
      val n = math.max(nI, nC)
      var cum = 0.0
      var cumNull = false
      var res: JD = null
      var j = 0
      while (j < n && res == null) {
        val iNull = j >= nI || pi.isNullAt(j)
        val cNull = j >= nC || pc.isNullAt(j)
        val c = if (cNull) 0.0 else pc.getDouble(j)
        val cumNextNull = cumNull || cNull
        val cumNext = if (cumNextNull) 0.0 else cum + c
        val cond = !cumNextNull && gteq(cumNext, rank) && !cNull && gt(c, 0.0)
        if (cond) {
          // inBucket: when(i >= nb, last finite bound)
          //           .when(i === 0 && upper <= 0, upper)
          //           .otherwise(lower + (upper-lower)*((rank-cum)/c))
          if (!iNull) {
            val i = pi.getInt(j)
            if (i >= nb) {
              res = elemAtDouble(bd, -1) // empty bounds → ANSI throw
            } else {
              val upper = elemAtDouble(bd, i + 1) // 1-based = bounds(i)
              if (i == 0 && upper != null && lteq(upper.doubleValue(), 0.0)) {
                res = upper
                // res non-null here (upper non-null) → walk stops
              } else {
                val lower: JD = if (i == 0) java.lang.Double.valueOf(0.0)
                  else elemAtDouble(bd, i) // bounds(i-1)
                res = if (lower == null || upper == null) null
                  else java.lang.Double.valueOf(lower.doubleValue() +
                    (upper.doubleValue() - lower.doubleValue()) *
                      ((rank - cum) / c))
              }
            }
          }
          cumNull = cumNextNull; cum = cumNext
        } else {
          cumNull = cumNextNull; cum = cumNext
        }
        j += 1
      }
      res
    }
    if (folded != null) return folded
    if (bd == null) return null
    elemAtDouble(bd, -1)
  }
}

/** `histogramStdvar` (pos-only / signed unified: pass empty-array
  * expressions for the neg side from the pos-only Column API —
  * distinct signed flag keeps the exact HOF association order).
  */
case class NhStdvar(schema: Int, signed: Boolean, sumC: Expression,
    zero: Expression, posIdx: Expression, posCounts: Expression,
    negIdx: Expression, negCounts: Expression) extends NhScalarFold {
  import NhScalarCore._

  override def children: Seq[Expression] =
    Seq(sumC, zero, posIdx, posCounts, negIdx, negCounts)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NhStdvar =
    copy(sumC = newChildren(0), zero = newChildren(1),
      posIdx = newChildren(2), posCounts = newChildren(3),
      negIdx = newChildren(4), negCounts = newChildren(5))
  override def prettyName: String =
    if (signed) "graft_nh_stdvar_signed" else "graft_nh_stdvar"

  @transient private lazy val pw = math.pow(2.0, -schema)

  /** aggregate(zip_with(idx, counts, …), 0.0, acc + c·(mid−mean)²)
    * with null propagation (null mean poisons every term). */
  private def devFold(idx: ArrayData, counts: ArrayData, sign: Double,
      mean: JD): JD = {
    if (idx == null || counts == null) return null
    val nI = idx.numElements()
    val nC = counts.numElements()
    val n = math.max(nI, nC)
    var acc = 0.0
    var j = 0
    while (j < n) {
      val iNull = j >= nI || idx.isNullAt(j)
      val cNull = j >= nC || counts.isNullAt(j)
      if (iNull || cNull || mean == null) return null
      val i = idx.getInt(j)
      val c = counts.getDouble(j)
      val mid = sign * (StrictMath.pow(2.0, (i - 1) * pw) +
        StrictMath.pow(2.0, i * pw)) / 2.0
      val d = mid - mean.doubleValue()
      acc += c * d * d
      j += 1
    }
    java.lang.Double.valueOf(acc)
  }

  override def computeBoxed(vals: Array[Any]): Any = {
    val sumC = vals(0).asInstanceOf[JD]
    val zero = vals(1).asInstanceOf[JD]
    val pi = vals(2).asInstanceOf[ArrayData]
    val pc = vals(3).asInstanceOf[ArrayData]
    val ni = vals(4).asInstanceOf[ArrayData]
    val nc = vals(5).asInstanceOf[ArrayData]
    // n = countD (+ neg side when signed); null zero → null n
    val n: JD = if (zero == null) null else java.lang.Double.valueOf(
      if (signed) zero.doubleValue() + sumD0(pc) + sumD0(nc)
      else zero.doubleValue() + sumD0(pc))
    if (n != null && eq0(n.doubleValue()))
      return java.lang.Double.valueOf(Double.NaN)
    if (n == null) return null // otherwise-branch arithmetic null-props
    val mean: JD = if (sumC == null) null
      else java.lang.Double.valueOf(sumC.doubleValue() / n.doubleValue())
    val zeroDev: JD = if (mean == null) null
      else java.lang.Double.valueOf(
        zero.doubleValue() * mean.doubleValue() * mean.doubleValue())
    val posDev = devFold(pi, pc, 1.0, mean)
    if (zeroDev == null) return null
    if (!signed) {
      // (zeroDev + coalesce(posDev, 0.0)) / n
      java.lang.Double.valueOf((zeroDev.doubleValue() +
        (if (posDev == null) 0.0 else posDev.doubleValue())) /
        n.doubleValue())
    } else {
      val negDev = devFold(ni, nc, -1.0, mean)
      // ((zeroDev + coalesce(posFold,0)) + coalesce(negFold,0)) / n
      java.lang.Double.valueOf(((zeroDev.doubleValue() +
        (if (posDev == null) 0.0 else posDev.doubleValue())) +
        (if (negDev == null) 0.0 else negDev.doubleValue())) /
        n.doubleValue())
    }
  }
}

/** `histogramFraction` / `histogramFractionSigned` — the linear-
  * overlap share fold. */
case class NhFraction(lower: Double, upper: Double, schema: Int,
    signed: Boolean, zero: Expression, posIdx: Expression,
    posCounts: Expression, negIdx: Expression,
    negCounts: Expression) extends NhScalarFold {
  import NhScalarCore._

  override def children: Seq[Expression] =
    Seq(zero, posIdx, posCounts, negIdx, negCounts)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NhFraction =
    copy(zero = newChildren(0), posIdx = newChildren(1),
      posCounts = newChildren(2), negIdx = newChildren(3),
      negCounts = newChildren(4))
  override def prettyName: String =
    if (signed) "graft_nh_fraction_signed" else "graft_nh_fraction"

  @transient private lazy val pw = math.pow(2.0, -schema)

  /** Spark `greatest(a, b)` for a nullable a and literal b (skips
    * nulls; NaN-largest ordering). */
  private def greatest2(a: JD, b: Double): Double =
    if (a == null) b
    else if (gteq(a.doubleValue(), b)) a.doubleValue() else b

  private def shareFold(idx: ArrayData, counts: ArrayData,
      neg: Boolean): JD = {
    if (idx == null || counts == null) return null
    val nI = idx.numElements()
    val nC = counts.numElements()
    val n = math.max(nI, nC)
    var acc = 0.0
    var j = 0
    while (j < n) {
      val iNull = j >= nI || idx.isNullAt(j)
      val cNull = j >= nC || counts.isNullAt(j)
      if (cNull) return null // c.cast * share → null term poisons
      val c = counts.getDouble(j)
      // bl/bu null when idx is null: least/greatest SKIP nulls, but
      // the (bu − bl) denominator nulls the share → null term
      if (iNull) return null
      val i = idx.getInt(j)
      val u1 = StrictMath.pow(2.0, (i - 1) * pw)
      val u2 = StrictMath.pow(2.0, i * pw)
      val bl = if (neg) -u2 else u1
      val bu = if (neg) -u1 else u2
      // least(upper, bu) − greatest(lower, bl), NaN-largest order
      val hi = if (lteq(upper, bu)) upper else bu
      val lo = if (gteq(lower, bl)) lower else bl
      val share = greatest2(java.lang.Double.valueOf(hi - lo), 0.0) /
        (bu - bl)
      acc += c * share
      j += 1
    }
    java.lang.Double.valueOf(acc)
  }

  override def computeBoxed(vals: Array[Any]): Any = {
    val zero = vals(0).asInstanceOf[JD]
    val pi = vals(1).asInstanceOf[ArrayData]
    val pc = vals(2).asInstanceOf[ArrayData]
    val ni = vals(3).asInstanceOf[ArrayData]
    val nc = vals(4).asInstanceOf[ArrayData]
    val total: JD = if (zero == null) null else java.lang.Double.valueOf(
      if (signed) zero.doubleValue() + sumD0(pc) + sumD0(nc)
      else zero.doubleValue() + sumD0(pc))
    if (total != null && eq0(total.doubleValue()))
      return java.lang.Double.valueOf(Double.NaN)
    if (total == null) return null
    // zeroContrib is a COMPILE-TIME branch in the Column form
    val zeroContrib: JD =
      if (lower <= 0.0 && 0.0 <= upper) zero else java.lang.Double.valueOf(0.0)
    val posF = shareFold(pi, pc, neg = false)
    if (zeroContrib == null) return null
    if (!signed) {
      java.lang.Double.valueOf((zeroContrib.doubleValue() +
        (if (posF == null) 0.0 else posF.doubleValue())) /
        total.doubleValue())
    } else {
      val negF = shareFold(ni, nc, neg = true)
      java.lang.Double.valueOf(((zeroContrib.doubleValue() +
        (if (posF == null) 0.0 else posF.doubleValue())) +
        (if (negF == null) 0.0 else negF.doubleValue())) /
        total.doubleValue())
    }
  }
}

/** `aggregate(counts, 0.0, (a, c) => a + c.cast(double))` as a native
  * loop — the count/avg/total building block. */
case class NhSumD(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any): Any =
    NhScalarCore.sumD(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"""
      java.lang.Double nhS = graft.functions.NhScalarCore.sumD($a);
      if (nhS == null) { ${ev.isNull} = true; }
      else { ${ev.value} = nhS.doubleValue(); }
    """)
  override protected def withNewChildInternal(newChild: Expression): NhSumD =
    copy(child = newChild)
  override def prettyName: String = "graft_nh_sum_d"
}

/** `aggregate(counts, 0L, (a, c) => a + c)` as a native loop. */
case class NhSumL(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any): Any =
    NhScalarCore.sumL(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"""
      java.lang.Long nhS = graft.functions.NhScalarCore.sumL($a);
      if (nhS == null) { ${ev.isNull} = true; }
      else { ${ev.value} = nhS.longValue(); }
    """)
  override protected def withNewChildInternal(newChild: Expression): NhSumL =
    copy(child = newChild)
  override def prettyName: String = "graft_nh_sum_l"
}

/** Column-facing constructors (pre-casting inputs to the normalized
  * child types the computes consume). */
object NhScalarFolds {
  private def ex(c: Column): Expression = ColumnBridge.expression(c)
  private val emptyI = org.apache.spark.sql.functions.array()
    .cast("array<int>")
  private val emptyD = org.apache.spark.sql.functions.array()
    .cast("array<double>")

  def quantile(q: Double, zero: Column, posIdx: Column, posCounts: Column,
      schema: Int): Column =
    ColumnBridge.column(NhQuantile(q, schema, ex(zero.cast("double")),
      ex(posIdx.cast("array<int>")), ex(posCounts.cast("array<double>"))))

  def quantileSigned(q: Double, zero: Column, posIdx: Column,
      posCounts: Column, negIdx: Column, negCounts: Column,
      schema: Int): Column =
    ColumnBridge.column(NhQuantileSigned(q, schema, ex(zero.cast("double")),
      ex(posIdx.cast("array<int>")), ex(posCounts.cast("array<double>")),
      ex(negIdx.cast("array<int>")), ex(negCounts.cast("array<double>"))))

  def quantileCustom(q: Double, posIdx: Column, posCounts: Column,
      bounds: Column): Column =
    ColumnBridge.column(NhQuantileCustom(q,
      ex(posIdx.cast("array<int>")), ex(posCounts.cast("array<double>")),
      ex(bounds.cast("array<double>"))))

  def stdvar(sumC: Column, zero: Column, posIdx: Column, posCounts: Column,
      schema: Int): Column =
    ColumnBridge.column(NhStdvar(schema, signed = false,
      ex(sumC.cast("double")), ex(zero.cast("double")),
      ex(posIdx.cast("array<int>")), ex(posCounts.cast("array<double>")),
      ex(emptyI), ex(emptyD)))

  def stdvarSigned(sumC: Column, zero: Column, posIdx: Column,
      posCounts: Column, negIdx: Column, negCounts: Column,
      schema: Int): Column =
    ColumnBridge.column(NhStdvar(schema, signed = true,
      ex(sumC.cast("double")), ex(zero.cast("double")),
      ex(posIdx.cast("array<int>")), ex(posCounts.cast("array<double>")),
      ex(negIdx.cast("array<int>")), ex(negCounts.cast("array<double>"))))

  def fraction(lower: Double, upper: Double, zero: Column, posIdx: Column,
      posCounts: Column, schema: Int): Column =
    ColumnBridge.column(NhFraction(lower, upper, schema, signed = false,
      ex(zero.cast("double")),
      ex(posIdx.cast("array<int>")), ex(posCounts.cast("array<double>")),
      ex(emptyI), ex(emptyD)))

  def fractionSigned(lower: Double, upper: Double, zero: Column,
      posIdx: Column, posCounts: Column, negIdx: Column, negCounts: Column,
      schema: Int): Column =
    ColumnBridge.column(NhFraction(lower, upper, schema, signed = true,
      ex(zero.cast("double")),
      ex(posIdx.cast("array<int>")), ex(posCounts.cast("array<double>")),
      ex(negIdx.cast("array<int>")), ex(negCounts.cast("array<double>"))))

  def sumDouble(counts: Column): Column =
    ColumnBridge.column(NhSumD(ex(counts.cast("array<double>"))))

  def sumLong(counts: Column): Column =
    ColumnBridge.column(NhSumL(ex(counts.cast("array<bigint>"))))
}
