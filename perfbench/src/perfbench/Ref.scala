package perfbench

/** Expected answers computed straight from the generated samples,
  * without any layer under test. PromQL semantics follow graft's
  * documented ones: range windows are half-open `[t - r, t)`, and
  * `rate` uses Prometheus's production boundary extrapolation with the
  * counter-reset rule (a drop counts the new value as the increase). */
object Ref {

  /** Index of the first sample at or after `t`. */
  def lowerBound(ts: Array[Long], t: Long): Int = {
    var lo = 0; var hi = ts.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (ts(m) < t) lo = m + 1 else hi = m }
    lo
  }

  /** Samples of `s` in `[lo, hi)` as index bounds. */
  def range(s: Samples, lo: Long, hi: Long): (Int, Int) =
    (lowerBound(s.ts, lo), lowerBound(s.ts, hi))

  def count(s: Samples, lo: Long, hi: Long): Int = { val (a, b) = range(s, lo, hi); b - a }

  def steps(startMs: Long, endMs: Long, stepMs: Long): Seq[Long] =
    (0L to (endMs - startMs) / stepMs).map(startMs + _ * stepMs)

  def rate(s: Samples, t: Long, rangeMs: Long): Option[Double] = {
    val start = t - rangeMs
    val (a, b) = range(s, start, t)
    val n = b - a
    if (n < 2 || s.ts(b - 1) <= s.ts(a)) return None
    val incD = increase(s, a, b)
    val firstMs = s.ts(a); val lastMs = s.ts(b - 1); val firstV = s.v(a)
    val sampled = (lastMs - firstMs).toDouble
    val avgSpacing = sampled / (n - 1).toDouble
    val threshold = avgSpacing * 1.1
    val toStartRaw = (firstMs - start).toDouble
    val toEnd = (t - lastMs).toDouble
    val toZero = if (incD > 0 && firstV >= 0) sampled * (firstV / incD) else toStartRaw
    val toStart = math.min(toZero, toStartRaw)
    val extended = sampled +
      (if (toStart < threshold) toStart else avgSpacing / 2) +
      (if (toEnd < threshold) toEnd else avgSpacing / 2)
    val factor = extended / sampled
    Some(incD * factor / ((t - start).toDouble / 1000.0))
  }

  /** Reset-aware increase over samples `[a, b)`, summed in exact
    * decimal as graft sums it (each delta rounded to 8 places). Whole-
    * number deltas, which is all the generated counters produce, take
    * a prefix sum. */
  def increase(s: Samples, a: Int, b: Int): Double = {
    val p = s.deltaPrefix
    if (p != null) (p(b - 1) - p(a)).toDouble
    else {
      var inc = BigDecimal(0)
      var i = a + 1
      while (i < b) {
        inc += BigDecimal(s.delta(i)).setScale(8, BigDecimal.RoundingMode.HALF_UP)
        i += 1
      }
      inc.toDouble
    }
  }

  def maxOverTime(s: Samples, t: Long, rangeMs: Long): Option[Double] = {
    val (a, b) = range(s, t - rangeMs, t)
    if (a >= b) None else Some((a until b).iterator.map(s.v(_)).max)
  }

  /** Sum as graft's PromQL aggregates sum: each value rounded to 8
    * decimal places, added exactly, then converted back. */
  def sumDec(xs: Iterable[Double]): Double =
    xs.foldLeft(BigDecimal(0))((acc, x) => acc + BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP)).toDouble

  /** True when two values agree to 1e-9, relative to their size. */
  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Compares keyed results; returns a description of the first
    * mismatch, or None. */
  def diff[K](what: String, got: Map[K, Double], want: Map[K, Double]): Option[String] =
    if (got.keySet != want.keySet) {
      val extra = (got.keySet -- want.keySet).take(3)
      val missing = (want.keySet -- got.keySet).take(3)
      Some(s"$what: ${got.size} keys vs ${want.size} expected; extra $extra missing $missing")
    } else want.collectFirst {
      case (k, v) if !close(got(k), v) => s"$what: at $k got ${got(k)} want $v"
    }
}
