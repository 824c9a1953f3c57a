package graft.tsdb.promql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.expressions.IntegralDivide
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.{QueryConst, RangeWindows}
import graft.tsdb.PromOps
import graft.tsdb.shard.ParquetShardStore

/** Evaluation context for a PromQL query: which tables back which
  * metric names, the series label columns, and the instant-query
  * evaluation time.
  *
  * Model: every metric is a long-format series table (label columns +
  * `tsCol` + `valueCol`), the graft data model throughout
  * ([[graft.tsdb.TsdbQueryable]]). `evalMs` is the PromQL evaluation
  * timestamp T: an instant selector reads the latest sample per
  * series in `[T - lookbackMs, T)` (Prometheus's staleness lookback,
  * half-open on the right like every graft range), and a range
  * selector `[r]` reads `[T - r, T)`.
  *
  * `tieBreak` columns order samples with duplicate timestamps inside
  * window functions, exactly as the direct PromOps API takes them —
  * required for engine-deterministic results on data with repeated
  * (series, ts) keys.
  *
  * `subqueryStepMs` is the inner step used by a subquery written
  * with an empty step (`[1h:]`) — Prometheus's "default evaluation
  * interval" knob.
  *
  * When the metric tables are [[graft.tsdb.TsdbConverter]]-converted
  * block layouts, set `bucketCol`/`bucketDuration` to the layout's
  * time-partition column: every selector then also emits a LITERAL
  * bucket-range predicate, so at 100 TB a range query prunes whole
  * partition directories (the reference's colDuration row-group
  * pruning, schema/schema_builder.go:155 DataColumIdx analog) before
  * any footer is read.
  */
final case class PromQLContext(
    metrics: Map[String, DataFrame],
    labelCols: Seq[String],
    evalMs: Long,
    lookbackMs: Long = 300000L,
    tsCol: String = "ts",
    valueCol: String = "value",
    tieBreak: Seq[String] = Nil,
    bucketCol: Option[String] = None,
    bucketDuration: String = "1 day",
    subqueryStepMs: Long = 60000L,
    histMetrics: Map[String, HistTable] = Map.empty,
    // identifying labels for the experimental info() function —
    // upstream hardcodes (instance, job) for OTel target_info; in
    // graft's model the label universe is the table's, so the seam
    // is configurable
    infoIdentifying: Seq[String] = Seq("instance", "job"),
    // materialized rollup layers per metric ([[RollupStore]]): when a
    // range selector's window boundaries align to a layer's windows
    // (and the layer passes the resolution/5 eligibility rule), the
    // served *_over_time / rate / increase reads the layer instead of
    // raw samples — exactly (see [[RollupStore]]'s invariants), at a
    // fraction of the bytes. Empty map = always raw.
    rollups: Map[String, Seq[graft.tsdb.RollupStore.RollupLayer]] = Map.empty,
    // GK quantile-sketch layers ([[graft.tsdb.QuantileSketchStore]]),
    // the DECLARED-APPROXIMATE opt-in: registering layers here is
    // consent to GK rank-bounded `quantile_over_time` answers over
    // aligned ranges (±ε·n worst case; 2ε through merges). Exactness
    // routing never uses these — an empty map (the default) keeps
    // every quantile on the raw order-statistic path.
    quantileSketches: Map[String, Seq[graft.tsdb.RollupStore.RollupLayer]] =
      Map.empty)

/** A NATIVE-histogram metric for the PromQL front-end: one
  * exponential-bucket histogram SAMPLE per row in the
  * [[graft.tsdb.NativeHistogram]] column model (`zeroCountCol`,
  * sparse ascending `posIdxCol` array<int>, aligned `posCountsCol`
  * counts; `sumCol` is the tracked observation sum when the series
  * carries one — required by `histogram_sum`/`histogram_avg`/
  * `histogram_stddev`). The df must also carry the context's label
  * columns and `tsCol`. `schema` is Prometheus's exponential-bucket
  * schema (0 → base-2 boundaries `2^i`).
  *
  * Histogram-valued vectors flow through the same selector machinery
  * as float metrics (matcher pushdown, literal time filter, bucket
  * pruning, per-step explode in range mode) but are consumed only by
  * the `histogram_*` functions, `rate()`, and bucket-wise `sum` —
  * exactly the operations Prometheus defines on native histograms.
  */
final case class HistTable(
    df: DataFrame,
    zeroCountCol: String = "zero_count",
    posIdxCol: String = "pos_idx",
    posCountsCol: String = "pos_counts",
    sumCol: Option[String] = None,
    schema: Int = 0,
    negIdxCol: Option[String] = None,
    negCountsCol: Option[String] = None,
    // per-sample counter-reset hint (chunkenc header strings, e.g.
    // readHistLabels(withResetHint = true)): rate/increase/resets
    // trust an explicit header over value comparison
    resetHintCol: Option[String] = None,
    // NHCB (custom-bucket, schema -53) metrics: the ascending
    // inclusive upper bounds, as PLAN LITERALS — the bound list is
    // constant per metric (compactHist enforces one list per dir),
    // so it rides the expressions instead of every row. Bucket
    // index i addresses customValues(i); there is no zero bucket
    // and no negative side.
    customValues: Seq[Double] = Nil,
    // materialized NH rollup layers ([[graft.tsdb.HistRollupStore]]):
    // aligned rate/increase ranges are served from the coarsest
    // eligible layer's stitched fold instead of raw samples — same
    // routing/alignment rules as [[PromQLContext.rollups]].
    rollups: Seq[graft.tsdb.RollupStore.RollupLayer] = Nil) {
  require(negIdxCol.isDefined == negCountsCol.isDefined,
    "negIdxCol and negCountsCol must be passed together")
  require(customValues.isEmpty || negIdxCol.isEmpty,
    "custom-bucket (NHCB) histograms cannot carry negative buckets")
}

/** A range-query step grid: evaluation timestamps `startMs,
  * startMs + stepMs, ..., lastStepMs` (every multiple of `stepMs`
  * from `startMs` that is <= `endMs` — the Prometheus `query_range`
  * start/end/step triple).
  */
final case class StepGrid(startMs: Long, endMs: Long, stepMs: Long) {
  require(stepMs > 0, "step must be positive")
  require(endMs >= startMs, "grid end must be >= grid start")
  /** Index of the last step (inclusive): steps are k in [0, lastIdx]. */
  val lastIdx: Long = (endMs - startMs) / stepMs
  def lastStepMs: Long = startMs + lastIdx * stepMs
}

final class PromQLCompileException(msg: String) extends RuntimeException(msg)

/** PromQL string → Spark DataFrame plan.
  *
  * The reference library is the storage half of a PromQL deployment:
  * its Queryable feeds Prometheus's evaluator
  * (queryable/parquet_queryable.go:153 implements
  * prometheus/storage.Queryable precisely so `promql.Engine` can run
  * on top). graft's [[graft.tsdb.PromOps]] implements the
  * evaluator-side operators as Spark plans; this compiler closes the
  * loop so the INPUT is the same PromQL string a Prometheus user
  * already has. Parsing is [[PromQLParser]]; every AST node lowers to
  * the declarative DataFrame ops (Catalyst sees one tree — selector
  * predicates still reach PushedFilters, aggregations still partial-
  * aggregate map-side; nothing is evaluated driver-side).
  *
  * Two evaluation modes:
  *
  *   - '''instant''' ([[PromQL.compile]]): ONE query at `ctx.evalMs`;
  *     the result is an instant vector of (label columns..., value).
  *   - '''range''' ([[PromQL.compileRange]]): the `query_range` form —
  *     the expression evaluated at EVERY step of a [[StepGrid]], as
  *     ONE distributed plan. Each vector carries a hidden step
  *     column, and every aggregation/join keys on (labels..., step).
  *     The metric table is scanned ONCE for the whole grid — never
  *     once per step. A range function's windows are built at one of
  *     two grains:
  *       - '''series grain''': when the metric table is a
  *         [[graft.tsdb.shard.ParquetShardStore.select]] frame, which
  *         carries a handle to its series-grain twin (one row per
  *         series, its samples as one array), `rate`, `increase` and
  *         `sum/avg/min/max/count/last/first_over_time` of a plain
  *         range selector run one [[graft.functions.RangeWindows]]
  *         pass per series that emits every step's result: no
  *         explode of samples into steps, no (series, step) exchange.
  *         The instant form is the one-step grid;
  *       - '''sample grain''': everywhere else (a raw table, a frame
  *         derived from a select, an `@`, a rollup route, tie-break
  *         columns, the other functions), every sample row is mapped
  *         to the (at most range/step) steps whose window covers it
  *         by a bounded `sequence` explode, then aggregated per
  *         (series, step). The scan's time filter is the literal span
  *         `[gridStart - range, gridEnd)`, so predicate pushdown and
  *         bucket pruning still apply: at 100 TB a 1000-step
  *         dashboard query costs one pruned scan + one shuffle at
  *         (series × steps-covered) grain, not 1000 scans.
  *     Both grains give the same answer, bit for bit.
  *
  * Subqueries `expr[range:step]` evaluate the inner expression over
  * its own (absolutely-aligned) step grid spanning exactly the outer
  * windows' needs, then feed the per-step results to the outer range
  * function as synthetic samples (ts = inner step) — recursively, so
  * `max_over_time(rate(v[5m])[1h:1m])` is still one plan.
  *
  * Scalar expressions fold at compile time.
  *
  * Documented deltas from Prometheus, all deliberate:
  *   - ranges are half-open `[t-r, t)` (graft's universal convention)
  *     where Prometheus uses `(t-r, t]`; subquery inner steps are the
  *     multiples of the inner step in `[t-r, t-offset)`;
  *   - `delta` is last-minus-first without boundary extrapolation
  *     (PromOps.delta's documented semantics); `rate`/`increase` DO
  *     use the production extrapolation (PromOps.extrapolatedRate);
  *   - `topk`/`bottomk` break ties on the series labels (Prometheus
  *     leaves ties unspecified — a cluster needs determinism);
  *   - `limitk` picks the first k in label order and `limit_ratio`
  *     selects by a sha256 label-set hash (Prometheus leaves both
  *     picks engine-internal; graft's are deterministic and
  *     partition-independent, and `limit_ratio(r)` ∪
  *     `limit_ratio(r-1)` still partitions the vector exactly);
  *   - `scalar(v)` is supported and stays distributed: the single-
  *     element-or-NaN rule evaluates as a tiny per-step aggregate
  *     broadcast back onto consumers — never a driver round-trip;
  *   - `label_replace` supports the `"$1"` replacement template (the
  *     PromOps.labelReplace contract).
  */
object PromQL {

  def parse(query: String): Expr = PromQLParser.parse(query)

  /** Compile and return the instant-vector DataFrame: the vector's
    * label columns followed by `value`. Fails on a scalar-typed
    * query (wrap in `vector()`).
    *
    * Native-histogram metrics (registered in `ctx.histMetrics`) are
    * supported through the histogram sub-grammar Prometheus defines
    * for them: a hist selector (instant, latest sample per series),
    * `rate(h[r])` / `increase(h[r])` (bucket-wise counter rate,
    * [[graft.tsdb.NativeHistogram.rateBy]] semantics), bucket-wise
    * `sum by/without (...)`, and the float-producing consumers
    * `histogram_quantile/count/sum/avg/stddev/stdvar/fraction`. A
    * histogram-valued expression anywhere else fails with a clear
    * message (graft has no render for a histogram-typed result).
    */
  def compile(query: String, ctx: PromQLContext): DataFrame =
    new Compiler(ctx, None).top(parse(query))

  /** Compile the `query_range` form: evaluate at every step of
    * `[startMs, endMs]` at `stepMs` spacing, as ONE distributed
    * plan. Returns the vector's label columns, `step_ms` (the epoch
    * ms of the evaluation step) and `value`. A scalar-typed query
    * yields (step_ms, value) — the scalar at every step.
    */
  def compileRange(query: String, ctx: PromQLContext,
      startMs: Long, endMs: Long, stepMs: Long): DataFrame = {
    val g = StepGrid(startMs, endMs, stepMs)
    new Compiler(ctx, Some(g)).topRange(parse(query))
  }

  // ===== compiler =====

  /** An instant vector: `df` has columns `labels :+ "value" :+ TS`
    * (TS = the per-element sample timestamp in epoch ms — selectors
    * carry their sample's scrape time, computed vectors carry the
    * evaluation time, exactly Prometheus's `timestamp()` semantics).
    * In range (grid) mode every vector df ALSO carries STEP, the
    * evaluation step the element belongs to; `labels` never lists
    * STEP — it is the hidden extra key every grouping/join adds.
    */
  private final case class Vec(df: DataFrame, labels: Seq[String])

  private val TS = "_ts_ms"
  private val STEP = "_step_ms"

  /** A PromQL scalar: a compile-time constant when possible (exact
    * folding, loud errors), otherwise a column expression over the
    * hidden step key — how `time()` is a "scalar" that differs per
    * step in a range query while still being one codegen'd
    * expression, never a driver-side loop.
    *
    * A VECTOR-derived scalar (`scalar(v)`) additionally carries a
    * tiny `carrier` DataFrame — one row per step in grid mode, one
    * row total in instant mode — holding the aggregated value the
    * expression references. Wherever the scalar meets a vector the
    * carrier broadcast-joins in (on the step key in grid mode, a
    * 1-row cross join otherwise): the scalar stays distributed, the
    * big side never moves, and nothing is demoted to the driver.
    */
  private final case class Sc(const: Option[Double], expr: Column,
      carrier: Option[DataFrame] = None)
  private object Sc {
    def of(v: Double): Sc = Sc(Some(v), lit(v))
  }

  private def fail(msg: String): Nothing = throw new PromQLCompileException(msg)

  /** Integer division truncating toward zero — SQL's `div`. */
  private def idiv(a: Column, b: Column): Column = ColumnBridge.column(
    IntegralDivide(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  private final class Compiler(ctx: PromQLContext, grid: Option[StepGrid]) {

    // fresh carrier-column names so two scalar() results can join
    // without colliding ("_sc" prefix is reserved; labels never are)
    private var scSeq = 0
    private def freshSc(): String = { scSeq += 1; s"_sc$scSeq" }

    /** Join two scalar carriers: per-step alignment in grid mode, a
      * 1-row × 1-row cross join otherwise. Both are grid-sized at
      * most — always broadcastable.
      */
    private def joinCarriers(a: DataFrame, b: DataFrame): DataFrame =
      grid match {
        case Some(_) => a.join(b, Seq(STEP), "left")
        case None => a.crossJoin(b)
      }

    /** Combine two scalars under `f`, merging their carriers. */
    private def combineSc(l: Sc, r: Sc, f: (Column, Column) => Column): Sc = {
      val carrier = (l.carrier, r.carrier) match {
        case (None, None) => None
        case (Some(a), None) => Some(a)
        case (None, Some(b)) => Some(b)
        case (Some(a), Some(b)) => Some(joinCarriers(a, b))
      }
      Sc(None, f(l.expr, r.expr), carrier)
    }

    /** Attach a scalar's carrier (if any) to a vector's rows so the
      * scalar expression can evaluate against them: broadcast join on
      * the hidden step key in grid mode, a 1-row broadcast cross join
      * otherwise. Returns the widened frame; `_sc*` columns are
      * dropped by the caller after the value is computed.
      */
    private def attachCarrier(df: DataFrame, s: Sc): DataFrame =
      s.carrier match {
        case None => df
        case Some(cr) => grid match {
          case Some(_) => df.join(broadcast(cr), Seq(STEP), "left")
          case None => df.crossJoin(broadcast(cr))
        }
      }

    private def dropScCols(df: DataFrame): DataFrame = {
      val sc = df.columns.filter(_.startsWith("_sc"))
      if (sc.isEmpty) df else df.drop(sc.toIndexedSeq: _*)
    }

    /** Vector-element grain: the visible labels plus, in grid mode,
      * the hidden step key. EVERY groupBy/join/window in the
      * compiler keys on this, so per-step results never mix.
      */
    private def keys(ls: Seq[String]): Seq[String] =
      if (grid.isDefined) ls :+ STEP else ls

    def top(e: Expr): DataFrame = eval(e) match {
      case Right(v) => v.df.select((v.labels.map(col) :+ col("value")): _*)
      case Left(s) =>
        fail(s"query evaluates to the scalar ${s.const.getOrElse("<step-dependent>")}, not an instant vector — wrap it in vector()")
    }

    def topRange(e: Expr): DataFrame = eval(e) match {
      case Right(v) => v.df.select(v.labels.map(col) :+
        col(STEP).as("step_ms") :+ col("value"): _*)
      case Left(s) =>
        val base = s.carrier
          .map(cr => gridDf.join(broadcast(cr), Seq(STEP), "left"))
          .getOrElse(gridDf)
        base.select(col(STEP).as("step_ms"), s.expr.as("value"))
    }

    /** Either a compile-time scalar or an instant vector. */
    private def eval(e: Expr): Either[Sc, Vec] = e match {
      case Expr.Num(v) => Left(Sc.of(v))
      case Expr.Str(_) => fail("a string literal is not a valid expression result")
      case s: Expr.Selector => Right(instant(s))
      case Expr.Range(_, _) | _: Expr.Subquery =>
        fail("a range vector is only valid as a range-function argument")
      case Expr.Neg(inner) => eval(inner) match {
        case Left(s) => Left(s.const.map(v => Sc.of(-v))
          .getOrElse(Sc(None, -s.expr, s.carrier)))
        case Right(v) => Right(mapValue(v, -_))
      }
      case c: Expr.Call => call(c)
      case a: Expr.Agg => Right(agg(a))
      case b: Expr.Bin => binary(b)
    }

    private def vec(e: Expr, what: String): Vec = eval(e) match {
      case Right(v) => v
      case Left(_) => fail(s"$what expects an instant vector, got a scalar")
    }

    private def scalarArg(e: Expr, what: String): Double = eval(e) match {
      case Left(s) => s.const.getOrElse(fail(
        s"$what expects a FIXED scalar — a step-dependent scalar (time()-derived) is not valid here"))
      case Right(_) => fail(s"$what expects a scalar, got an instant vector")
    }

    private def strArg(e: Expr, what: String): String = e match {
      case Expr.Str(s) => s
      case _ => fail(s"$what expects a string literal")
    }

    // ---- selectors ----

    /** Matcher + literal-time-filtered scan of the selector's table
      * over raw-ts span [spanStartMs, spanEndMs): matcher predicates
      * compile through [[graft.tsdb.Matcher]] (pushdown, RE2 gate),
      * the time range is a pushable ts predicate, and a converted
      * layout additionally prunes partition directories by bucket.
      */
    private def scanRows(sel: Expr.Selector, spanStartMs: Long,
        spanEndMs: Long): DataFrame = {
      val table = ctx.metrics.getOrElse(sel.metric,
        if (ctx.histMetrics.contains(sel.metric)) fail(
          s"'${sel.metric}' is a native-histogram metric — consume it with " +
            "histogram_quantile/histogram_count/histogram_sum/histogram_avg/" +
            "histogram_stddev/histogram_stdvar/histogram_fraction (rate/" +
            "increase and bucket-wise sum aggregation compose inside them)")
        else fail(s"unknown metric '${sel.metric}' — context knows: ${ctx.metrics.keys.toSeq.sorted.mkString(", ")}"))
      scanFiltered(table, sel, spanStartMs, spanEndMs)
        .select((ctx.labelCols ++ ctx.tieBreak).map(col) :+
          col(ctx.tsCol) :+
          unix_millis(col(ctx.tsCol).cast("timestamp")).as(TS) :+
          col(ctx.valueCol): _*)
    }

    /** Matcher + literal time-range filter + converted-layout bucket
      * pruning — the selector machinery shared by float and
      * native-histogram scans (payload selection differs, pushdown
      * does not).
      */
    private def scanFiltered(table: DataFrame, sel: Expr.Selector,
        spanStartMs: Long, spanEndMs: Long): DataFrame = {
      // range predicate on the RAW ts column, not unix_millis(ts):
      // a function of the column would not reach PushedFilters, and
      // with integer-ms bounds the two are equivalent
      // (floor(x) >= s ⟺ x >= s and floor(x) < e ⟺ x < e for
      // integer s, e) — PlanAudit asserts the pushdown. A ts decoded
      // from chunk blobs (its store marks it) can never push, so its
      // bounds are QueryConsts and the generated code survives a
      // moved window; any other ts keeps literal bounds
      val tsCol = col(ctx.tsCol).cast("timestamp")
      val bound: Long => Column =
        if (QueryConst.isDecodedTs(table, ctx.tsCol)) QueryConst.timestampMillis
        else ms => timestamp_millis(lit(ms))
      val filtered0 = graft.tsdb.Matcher.compile(sel.matchers)
        .map(table.filter).getOrElse(table)
        .filter(tsCol >= bound(spanStartMs) && tsCol < bound(spanEndMs))
      // converted-layout partition pruning: a LITERAL bucket range
      // derived from the time range prunes directories at plan time
      ctx.bucketCol match {
        case Some(b) =>
          val secs = graft.tsdb.TsdbConverter.durationSeconds(ctx.bucketDuration)
          val lo = Math.floorDiv(Math.floorDiv(spanStartMs, 1000L), secs)
          val hi = Math.floorDiv(Math.floorDiv(spanEndMs - 1, 1000L), secs)
          filtered0.filter(col(b) >= lo && col(b) <= hi)
        case None => filtered0
      }
    }

    /** Map each sample row to the grid steps whose trailing window of
      * `rangeMs` covers it: a sample visible at eval time t (i.e.
      * raw ts in [t - offset - range, t - offset)) serves the steps
      * s with tsm < s <= tsm + range, tsm = ts + offset. The step
      * index bounds are exact integer math (a bounded `sequence`
      * explode of at most range/step + 1 entries per row — never a
      * per-step rescan, never a range join). One select: the grid's
      * start and last index are bound constants, so a moved window
      * keeps the generated code.
      */
    private def stepExplode(rows: DataFrame, g: StepGrid, offsetMs: Long,
        rangeMs: Long): DataFrame = {
      // shift S makes both `div` numerators non-negative (integer
      // `div` truncates toward zero; floorDiv is what the inequality
      // needs, and they agree on non-negatives): tsm >= gridStart -
      // range - |offset shift| by the scan span, so S covers it
      val s = ((rangeMs + math.max(0L, -offsetMs)) / g.stepMs + 2L) * g.stepMs
      val shiftedStart = QueryConst.long(g.startMs - s)
      val step = lit(g.stepMs)
      val tsm = col(TS) + lit(offsetMs)
      val k0 = greatest(lit(0L),
        idiv(tsm - shiftedStart, step) - lit(s / g.stepMs) + lit(1L))
      val k1 = least(QueryConst.long(g.lastIdx),
        idiv(tsm + lit(rangeMs) - shiftedStart, step) - lit(s / g.stepMs))
      // an empty index range explodes a null, i.e. to no rows
      rows.select(col("*"), explode(when(k0 <= k1,
        sequence(stepAt(g, k0), stepAt(g, k1), step))).as(STEP))
    }

    /** Epoch ms of step index `k`; the grid start is a bound constant. */
    private def stepAt(g: StepGrid, k: Column): Column =
      QueryConst.long(g.startMs) + k * g.stepMs

    /** Resolve an `@` modifier to a fixed epoch-ms instant: `start()`
      * / `end()` are the grid bounds in range mode, the evaluation
      * time in instant mode (Prometheus's exact resolution rule).
      */
    private def resolveAt(at: Option[Expr.At]): Option[Long] = at.map {
      case Expr.AtMs(ms) => ms
      case Expr.AtStart => grid.map(_.startMs).getOrElse(ctx.evalMs)
      case Expr.AtEnd => grid.map(_.endMs).getOrElse(ctx.evalMs)
    }

    /** Raw sample rows of a selector's trailing window — at the one
      * instant in instant mode; per-step (with the STEP column) in
      * grid mode. The table is scanned ONCE either way. An `@`-pinned
      * selector is step-invariant: its one fixed window cross-joins
      * the (tiny) step grid instead of step-exploding.
      */
    private def rangeRows(sel: Expr.Selector, rangeMs: Long): DataFrame =
      rangeRowsBy(sel, rangeMs, scanRows(sel, _, _))

    /** [[rangeRows]] with a pluggable span scan — the grid handling
      * (per-step explode, `@`-pinned cross join) is payload-agnostic,
      * so native-histogram selectors reuse it verbatim.
      */
    private def rangeRowsBy(sel: Expr.Selector, rangeMs: Long,
        scan: (Long, Long) => DataFrame): DataFrame =
      (grid, resolveAt(sel.at)) match {
        case (None, at) =>
          val end = at.getOrElse(ctx.evalMs) - sel.offsetMs
          scan(end - rangeMs, end)
        case (Some(g), None) =>
          val rows = scan(g.startMs - sel.offsetMs - rangeMs,
            g.lastStepMs - sel.offsetMs)
          stepExplode(rows, g, sel.offsetMs, rangeMs)
        case (Some(_), Some(at)) =>
          val end = at - sel.offsetMs
          scan(end - rangeMs, end).crossJoin(gridDf)
      }

    /** Instant selector: latest sample per series in the lookback
      * window — one shuffle at element grain; ties on duplicate
      * timestamps resolve lexicographically on (ts, value), the
      * [[PromOps.alignToSteps]] convention.
      */
    private def instant(sel: Expr.Selector): Vec = {
      val rows = rangeRows(sel, ctx.lookbackMs)
      val k = keys(ctx.labelCols)
      val df = rows
        .groupBy(k.map(col): _*)
        .agg(max(struct(col(TS), col(ctx.valueCol).as("_v"))).as("_top"))
        .select(k.map(col) :+
          col("_top._v").as("value") :+ col(s"_top.$TS").as(TS): _*)
      Vec(df, ctx.labelCols)
    }

    /** The step grid as a (tiny) DataFrame — one row per step. */
    private def gridDf: DataFrame = {
      val g = grid.getOrElse(fail("internal: gridDf outside range mode"))
      sparkOf.range(0, g.lastIdx + 1).select(stepAt(g, col("id")).as(STEP))
    }

    /** Computed vectors carry the evaluation timestamp — the step's
      * own time in grid mode.
      */
    private def stamped(df: DataFrame, labels: Seq[String]): Vec = grid match {
      case Some(_) => Vec(df.withColumn(TS, col(STEP)), labels)
      case None => Vec(df.withColumn(TS, QueryConst.long(ctx.evalMs)), labels)
    }

    private def mapValue(v: Vec, f: Column => Column): Vec =
      Vec(v.df.withColumn("value", f(col("value"))), v.labels)

    // ---- functions ----

    private val overTimeAggs = Set("avg_over_time", "sum_over_time",
      "min_over_time", "max_over_time", "count_over_time", "last_over_time",
      "first_over_time", "stddev_over_time", "stdvar_over_time",
      "ts_of_min_over_time", "ts_of_max_over_time", "ts_of_last_over_time",
      "ts_of_first_over_time")

    private def call(c: Expr.Call): Either[Sc, Vec] = c.fn match {
      case "vector" =>
        val s = eval(one(c, "vector")) match {
          case Left(sc) => sc
          case Right(_) => fail("vector() expects a scalar, got an instant vector")
        }
        val base = (grid, s.carrier) match {
          case (Some(_), Some(cr)) =>
            gridDf.join(broadcast(cr), Seq(STEP), "left")
              .select(col(STEP), s.expr.as("value"))
          case (Some(_), None) => gridDf.withColumn("value", s.expr)
          case (None, Some(cr)) => cr.select(s.expr.as("value"))
          case (None, None) => sparkOf.range(1).select(s.expr.as("value"))
        }
        Right(stamped(base, Nil))
      case "scalar" =>
        // Prometheus: the vector's single element's value, NaN when
        // the vector has 0 or >1 elements — per step in grid mode.
        // Compiles to one tiny aggregate (count + max at step grain)
        // carried alongside the expression; consumers broadcast-join
        // it, so the plan stays fully distributed.
        val v = vec(one(c, "scalar"), "scalar()")
        val name = freshSc()
        val agg0 = grid match {
          case Some(_) =>
            gridDf.join(v.df.groupBy(STEP).agg(
                count(lit(1)).as("_n"), max(col("value")).as("_v")),
              Seq(STEP), "left")
          case None =>
            v.df.groupBy().agg(
              count(lit(1)).as("_n"), max(col("value")).as("_v"))
        }
        // count==1 ⇒ max IS the single value (deterministic, unlike first)
        val scCol = when(col("_n") === 1, col("_v"))
          .otherwise(lit(Double.NaN)).as(name)
        val carrier = agg0.select(
          (grid.map(_ => col(STEP)).toSeq :+ scCol): _*)
        Left(Sc(None, col(name), Some(carrier)))
      case "timestamp" =>
        val v = vec(one(c, "timestamp"), "timestamp()")
        Right(Vec(v.df.withColumn("value", col(TS) / lit(1000.0)), v.labels))
      case "absent" =>
        val v = vec(one(c, "absent"), "absent()")
        grid match {
          case Some(_) =>
            // per step: 1.0 at the steps where the vector is empty —
            // the (tiny) grid anti-joins the vector's step set
            val present = v.df.select(col(STEP)).distinct()
            Right(stamped(gridDf.join(present, Seq(STEP), "left_anti")
              .withColumn("value", lit(1.0)), Nil))
          case None =>
            Right(stamped(PromOps.absent(v.df.select("value")), Nil))
        }
      case "histogram_quantile" => Right(histogramQuantile(c))
      case fn @ ("histogram_count" | "histogram_sum" | "histogram_avg" |
          "histogram_stddev" | "histogram_stdvar") =>
        val h = histArg(one(c, fn), fn)
        def needSum(): Unit = if (!h.hasSum) fail(
          s"$fn needs a histogram metric with a tracked observation sum " +
            "(HistTable.sumCol) — rate vectors never carry one")
        // count/sum/avg are bound-agnostic folds (NHCB zero counts
        // are 0 and neg arrays empty); the midpoint-based moments
        // would need the classic-bucket arithmetic-mean convention —
        // reject loudly rather than walk exponential bounds that
        // don't exist
        if (h.custom.nonEmpty &&
            (fn == "histogram_stddev" || fn == "histogram_stdvar")) fail(
          s"$fn over a custom-bucket (NHCB) metric is not supported — " +
            "exponential bucket midpoints don't exist for schema -53")
        val NH = graft.tsdb.NativeHistogram
        // signed variants throughout — FP-identical on empty neg
        // arrays (positive-only metrics), both-sides on signed ones
        Right(histConsume(h, fn match {
          case "histogram_count" =>
            NH.histogramCountSigned(col(HZ), col(HC), col(HNC))
          case "histogram_sum" => needSum(); col(HS)
          case "histogram_avg" => needSum()
            NH.histogramAvgSigned(col(HS), col(HZ), col(HC), col(HNC))
          case "histogram_stddev" => needSum()
            sqrt(NH.histogramStdvarSigned(col(HS), col(HZ), col(HI),
              col(HC), col(HNI), col(HNC), h.schema))
          case "histogram_stdvar" => needSum()
            NH.histogramStdvarSigned(col(HS), col(HZ), col(HI), col(HC),
              col(HNI), col(HNC), h.schema)
        }))
      case "histogram_fraction" =>
        val Seq(lo, hi, ve) = argN(c, 3)
        val h = histArg(ve, "histogram_fraction")
        if (h.custom.nonEmpty) fail(
          "histogram_fraction over a custom-bucket (NHCB) metric is not " +
            "supported — the overlap interpolation walks exponential " +
            "bounds that don't exist for schema -53")
        Right(histConsume(h,
          graft.tsdb.NativeHistogram.histogramFractionSigned(
            scalarArg(lo, "histogram_fraction lower"),
            scalarArg(hi, "histogram_fraction upper"),
            col(HZ), col(HI), col(HC), col(HNI), col(HNC), h.schema)))
      case "label_replace" =>
        val Seq(ve, dst, repl, src, regex) = argN(c, 5)
        val v = vec(ve, "label_replace")
        val (d, r, sr, re) = (strArg(dst, "label_replace dst"),
          strArg(repl, "label_replace replacement"),
          strArg(src, "label_replace src"), strArg(regex, "label_replace regex"))
        if (r != "$1") fail(
          "label_replace supports the \"$1\" replacement template (PromOps.labelReplace contract)")
        if (!v.labels.contains(sr)) fail(s"label_replace: unknown source label '$sr'")
        val out = PromOps.labelReplace(v.df, d, sr, re)
        Right(Vec(out, if (v.labels.contains(d)) v.labels else v.labels :+ d))
      case "label_join" =>
        if (c.args.length < 4) fail("label_join(v, dst, sep, src...) needs at least one source label")
        val v = vec(c.args.head, "label_join")
        val dst = strArg(c.args(1), "label_join dst")
        val sep = strArg(c.args(2), "label_join sep")
        val srcs = c.args.drop(3).map(strArg(_, "label_join src"))
        srcs.find(s => !v.labels.contains(s)).foreach(s =>
          fail(s"label_join: unknown source label '$s'"))
        val out = PromOps.labelJoin(v.df, dst, sep, srcs)
        Right(Vec(out, if (v.labels.contains(dst)) v.labels else v.labels :+ dst))
      case "clamp" =>
        val Seq(ve, lo, hi) = argN(c, 3)
        val v = vec(ve, "clamp")
        Right(mapValue(v, PromOps.clamp(_,
          scalarArg(lo, "clamp min"), scalarArg(hi, "clamp max"))))
      case "clamp_min" =>
        val Seq(ve, lo) = argN(c, 2)
        Right(mapValue(vec(ve, "clamp_min"), greatest(_, lit(scalarArg(lo, "clamp_min")))))
      case "clamp_max" =>
        val Seq(ve, hi) = argN(c, 2)
        Right(mapValue(vec(ve, "clamp_max"), least(_, lit(scalarArg(hi, "clamp_max")))))
      case "round" =>
        val v = vec(c.args.head, "round")
        val to = if (c.args.length > 1) scalarArg(c.args(1), "round to") else 1.0
        if (to <= 0) fail("round() nearest must be positive")
        // Prometheus: round half away from zero to the nearest
        // multiple of `to` — floor(v/to + 0.5) * to
        Right(mapValue(v, x => floor(x / lit(to) + lit(0.5)) * lit(to)))
      case "abs" => Right(mapValue(vec(one(c, "abs"), "abs"), abs))
      case "ceil" => Right(mapValue(vec(one(c, "ceil"), "ceil"), ceil(_).cast("double")))
      case "floor" => Right(mapValue(vec(one(c, "floor"), "floor"), floor(_).cast("double")))
      case "sqrt" => Right(mapValue(vec(one(c, "sqrt"), "sqrt"), sqrt))
      case "sgn" => Right(mapValue(vec(one(c, "sgn"), "sgn"), signum))
      case "exp" => Right(mapValue(vec(one(c, "exp"), "exp"), exp))
      case "ln" => Right(mapValue(vec(one(c, "ln"), "ln"), log))
      case "log2" => Right(mapValue(vec(one(c, "log2"), "log2"), log2))
      case "log10" => Right(mapValue(vec(one(c, "log10"), "log10"), log10))
      case "sin" => Right(mapValue(vec(one(c, "sin"), "sin"), sin))
      case "cos" => Right(mapValue(vec(one(c, "cos"), "cos"), cos))
      case "tan" => Right(mapValue(vec(one(c, "tan"), "tan"), tan))
      case "asin" => Right(mapValue(vec(one(c, "asin"), "asin"), asin))
      case "acos" => Right(mapValue(vec(one(c, "acos"), "acos"), acos))
      case "atan" => Right(mapValue(vec(one(c, "atan"), "atan"), atan))
      case "sinh" => Right(mapValue(vec(one(c, "sinh"), "sinh"), sinh))
      case "cosh" => Right(mapValue(vec(one(c, "cosh"), "cosh"), cosh))
      case "tanh" => Right(mapValue(vec(one(c, "tanh"), "tanh"), tanh))
      case "asinh" => Right(mapValue(vec(one(c, "asinh"), "asinh"), asinh))
      case "acosh" => Right(mapValue(vec(one(c, "acosh"), "acosh"), acosh))
      case "atanh" => Right(mapValue(vec(one(c, "atanh"), "atanh"), atanh))
      case "deg" => Right(mapValue(vec(one(c, "deg"), "deg"),
        _ * lit(180.0 / math.Pi)))
      case "rad" => Right(mapValue(vec(one(c, "rad"), "rad"),
        _ * lit(math.Pi / 180.0)))
      case "pi" =>
        if (c.args.nonEmpty) fail("pi() takes no arguments")
        Left(Sc.of(math.Pi))
      case "time" =>
        if (c.args.nonEmpty) fail("time() takes no arguments")
        grid match {
          case Some(_) => Left(Sc(None, col(STEP) / lit(1000.0)))
          case None => Left(Sc.of(ctx.evalMs / 1000.0))
        }
      case fn @ ("minute" | "hour" | "day_of_week" | "day_of_month" |
          "day_of_year" | "days_in_month" | "month" | "year") =>
        // zero args default to vector(time()) — the element value is
        // epoch SECONDS; components are UTC (the harness session TZ;
        // Prometheus is UTC-only here)
        if (c.args.length > 1) fail(s"$fn() expects 0 or 1 arguments")
        val v = c.args.headOption.map(vec(_, fn)).getOrElse {
          val base = grid match {
            case Some(_) => gridDf.withColumn("value", col(STEP) / lit(1000.0))
            case None => sparkOf.range(1).select(lit(ctx.evalMs / 1000.0).as("value"))
          }
          stamped(base, Nil)
        }
        Right(mapValue(v, x => {
          val t = timestamp_seconds(x)
          (fn match {
            case "minute" => minute(t)
            case "hour" => hour(t)
            case "day_of_week" => dayofweek(t) - lit(1) // 0 = Sunday
            case "day_of_month" => dayofmonth(t)
            case "day_of_year" => dayofyear(t)
            case "days_in_month" => dayofmonth(last_day(t))
            case "month" => month(t)
            case "year" => year(t)
          }).cast("double")
        }))
      case fn @ ("sort" | "sort_desc") =>
        // presentation-only in PromQL. DOCUMENTED TIEBREAK: elements
        // tied on value order by their label values ascending, label
        // names in lexicographic order — a total order, so the output
        // can never depend on partition fetch order
        val v = vec(one(c, fn), fn)
        val tie = v.labels.sorted.map(col(_).asc)
        Right(Vec(v.df.orderBy(
          (if (fn == "sort") col("value").asc else col("value").desc) +: tie: _*),
          v.labels))
      case fn @ ("sort_by_label" | "sort_by_label_desc") =>
        // presentation-only: order elements by the given label values.
        // DOCUMENTED TIEBREAK: the remaining labels ascending (names
        // lexicographic), then value ascending — again a total order
        if (c.args.length < 2) fail(s"$fn(v, label, ...) needs at least one label")
        val v = vec(c.args.head, fn)
        val ls = c.args.tail.map(strArg(_, s"$fn label"))
        ls.find(l => !v.labels.contains(l)).foreach(l =>
          fail(s"$fn: vector has no label '$l'"))
        val ord = ls.map(l => if (fn == "sort_by_label") col(l).asc else col(l).desc)
        val tie = (v.labels.sorted.filterNot(ls.contains).map(col(_).asc) :+
          col("value").asc)
        Right(Vec(v.df.orderBy(ord ++ tie: _*), v.labels))
      case "absent_over_time" =>
        // presence is EXACT in a rollup layer — a window row exists
        // iff ≥1 sample does, and alignment makes range membership
        // exact — so the emptiness test reads windows-in-range
        // instead of samples when a layer serves the range
        val rows = rollupRangeVec(one(c, c.fn)).map(_.rows)
          .getOrElse(rangeVec(one(c, c.fn), c.fn).rows)
        grid match {
          case Some(_) =>
            // 1.0 at exactly the steps whose window is empty: the
            // (tiny) grid anti-joins the covered step set
            val present = rows.select(col(STEP)).distinct()
            Right(stamped(gridDf.join(present, Seq(STEP), "left_anti")
              .withColumn("value", lit(1.0)), Nil))
          case None =>
            Right(stamped(PromOps.absent(
              rows.select(lit(1.0).as(ctx.valueCol))), Nil))
        }
      case "present_over_time" =>
        // same presence-exactness as absent_over_time: any window row
        // in range ⇒ 1.0 for its series
        val (rows, labels) = rollupRangeVec(one(c, c.fn)) match {
          case Some(rv) => (rv.rows, rv.labels)
          case None =>
            val rv = rangeVec(one(c, c.fn), c.fn); (rv.rows, rv.labels)
        }
        val k = keys(labels)
        Right(stamped(rows.groupBy(k.map(col): _*)
          .agg(max(lit(1.0)).as("value"))
          .select(k.map(col) :+ col("value"): _*), labels))
      case "rate" | "increase" => Right(extrapolated(c))
      case "delta" => Right(rollupRangeVec(one(c, c.fn)) match {
        case Some(rv) => rollupDelta(rv)
        case None => overRange(c, (df, ls, start) =>
          PromOps.delta(df, ls, ctx.tsCol, ctx.valueCol, ctx.tieBreak)
            .withColumnRenamed("delta", "value"))
      })
      case "idelta" => Right(rollupRangeVec(one(c, c.fn)) match {
        case Some(rv) => rollupInstant(rv, "idelta")
        case None => overRange(c, (df, ls, _) =>
          PromOps.idelta(df, ls, ctx.tsCol, ctx.valueCol, ctx.tieBreak)
            .withColumnRenamed("idelta", "value"))
      })
      case "irate" => Right(rollupRangeVec(one(c, c.fn)) match {
        case Some(rv) => rollupInstant(rv, "irate")
        case None => overRange(c, (df, ls, _) =>
          PromOps.irate(df, ls, ctx.tsCol, ctx.valueCol, ctx.tieBreak)
            .withColumnRenamed("irate", "value"))
      })
      case "resets" => c.args match {
        // resets over a NATIVE-HISTOGRAM range: the histogram reset
        // detector (any component decreased — the same walk the
        // reset-aware rate runs), emitting a float vector
        case Seq(r: Expr.Range) if ctx.histMetrics.contains(r.sel.metric) =>
          val ht = ctx.histMetrics(r.sel.metric)
          val rows = rangeRowsBy(r.sel, r.rangeMs,
              scanHistRows(r.sel, ht, _, _))
            .withColumn("_h_tsec", col(TS) / lit(1000.0))
          val d = graft.tsdb.NativeHistogram.resetsBySigned(rows,
            keys(ctx.labelCols), "_h_tsec", HZ, HI, HC, HNI, HNC,
            hintCol = Some(HH))
          Right(stamped(d.withColumnRenamed("resets", "value"),
            ctx.labelCols))
        case _ => Right(rollupRangeVec(one(c, c.fn)) match {
          case Some(rv) => rollupCounts(rv, "r")
          case None => overRange(c, (df, ls, _) =>
            PromOps.resets(df, ls, ctx.tsCol, ctx.valueCol, ctx.tieBreak)
              .withColumn("value", col("resets").cast("double"))
              .drop("resets"))
        })
      }
      case "changes" => Right(rollupRangeVec(one(c, c.fn)) match {
        case Some(rv) => rollupCounts(rv, "c")
        case None => overRange(c, (df, ls, _) =>
          PromOps.changes(df, ls, ctx.tsCol, ctx.valueCol, ctx.tieBreak)
            .withColumn("value", col("changes").cast("double"))
            .drop("changes"))
      })
      case "deriv" => Right(rollupRangeVec(one(c, c.fn)) match {
        case Some(rrv) => rollupDeriv(rrv)
        case None => overRange(c, (df, ls, start) =>
          PromOps.deriv(df, ls, ctx.tsCol, ctx.valueCol, originMs = start)
            .withColumnRenamed("deriv", "value"))
      })
      case "predict_linear" =>
        val Seq(re, te) = argN(c, 2)
        val horizonSec = scalarArg(te, "predict_linear horizon")
        val horizonMs = (horizonSec * 1000.0).toLong
        Right(rollupRangeVec(re) match {
          case Some(rrv) => rollupPredict(rrv, horizonMs)
          case None =>
            val rv = rangeVec(re, "predict_linear")
            overRangeVec(rv, (df, ls, start) =>
              PromOps.predictLinearAt(df, ls, ctx.tsCol, ctx.valueCol,
                  evalCol = evalInstant(rv), horizonMs = horizonMs,
                  originMs = start)
                .withColumnRenamed("predicted", "value"))
        })
      case "double_exponential_smoothing" | "holt_winters" =>
        val Seq(re, sfE, tfE) = argN(c, 3)
        val sf = scalarArg(sfE, "smoothing factor")
        val tf = scalarArg(tfE, "trend factor")
        Right(overRangeExpr(re, c.fn, (df, ls, _) =>
          PromOps.doubleExponentialSmoothing(df, ls, ctx.tsCol, ctx.valueCol,
              sf, tf, ctx.tieBreak)
            .withColumnRenamed("smoothed", "value").drop("samples")))
      case "quantile_over_time" =>
        val Seq(qe, re) = argN(c, 2)
        val q = scalarArg(qe, "quantile_over_time q")
        sketchRangeVec(re) match {
          case Some(rv) =>
            // the declared-approximate OPT-IN path (layers registered
            // in [[PromQLContext.quantileSketches]]): merge the
            // windows-in-range GK summaries per element, one query —
            // rank within the registered layers' ε bound of q·n,
            // never a sample scan. A series whose range holds no
            // samples has no window rows, so it drops out exactly
            // like the raw path; a series whose in-range samples are
            // ALL non-finite has window rows but an empty merged
            // sketch (the layer write skips NaN) — its quantile is
            // NaN, matching the raw order-statistic answer, so the
            // routed and raw paths agree on series PRESENCE.
            val k = keys(rv.labels)
            val out = rv.rows.groupBy(k.map(col): _*)
              .agg(graft.functions.QuantileSketch
                .mergeAgg(col("qsketch")).as("_m"))
              .withColumn("value", coalesce(graft.functions.QuantileSketch
                .query(col("_m"), lit(q)), lit(Double.NaN)))
            Right(stamped(out.select(k.map(col) :+ col("value"): _*),
              rv.labels))
          case None =>
            Right(overRangeExpr(re, "quantile_over_time", (df, ls, _) =>
              PromOps.quantileOverTime(df, ls, ctx.valueCol, q)
                .withColumnRenamed("quantile", "value").drop("samples")))
        }
      case "mad_over_time" =>
        // Prometheus (experimental): median absolute deviation about
        // the window median. Two hash aggregations + one join, all on
        // the SAME element key — co-partitioned after the first
        // shuffle, no extra exchange; `percentile` is the exact
        // interpolated quantile (≡ DuckDB quantile_cont).
        Right(overRange(c, (rows, ls, _) => {
          val med = rows.groupBy(ls.map(col): _*)
            .agg(percentile(col(ctx.valueCol), lit(0.5)).as("_med"))
          rows.join(med, ls.toIndexedSeq)
            .groupBy(ls.map(col): _*)
            .agg(percentile(abs(col(ctx.valueCol) - col("_med")), lit(0.5))
              .as("value"))
        }))
      case "info" =>
        // Prometheus (experimental): enrich v with DATA labels from
        // the info metric's series sharing v's IDENTIFYING labels
        // (upstream: OTel target_info on (instance, job); here
        // ctx.infoIdentifying). The optional {selector} filters info
        // series and, when it names labels, restricts which data
        // labels attach. The info side aggregates to one row per
        // identifying set — exact-duplicate info series collapse,
        // CONFLICTING ones raise (upstream's duplicate-series error)
        // — and broadcasts (target metadata is low-cardinality), so
        // the vector side never shuffles for the join.
        if (c.args.isEmpty || c.args.length > 2)
          fail("info(v[, {data-label-selector}]) expects 1 or 2 arguments")
        val v = vec(c.args.head, "info")
        val sel0 = c.args.drop(1) match {
          case Seq() => None
          case Seq(s: Expr.Selector) => Some(s)
          case _ => fail("info() second argument must be a vector selector")
        }
        sel0.foreach { s =>
          if (s.offsetMs != 0 || s.at.nonEmpty)
            fail("info(): the data-label selector takes no offset/@ modifier")
        }
        val infoMetric = sel0.map(_.metric).filter(_.nonEmpty)
          .getOrElse("target_info")
        if (!ctx.metrics.contains(infoMetric))
          fail(s"info(): info metric '$infoMetric' is not registered")
        val id = ctx.infoIdentifying.filter(v.labels.contains)
        if (id.isEmpty) fail(
          s"info(): the vector carries none of the identifying labels " +
            s"(${ctx.infoIdentifying.mkString(", ")})")
        val matcherLabels = sel0.map(_.matchers.map(_.label).distinct)
          .getOrElse(Nil).filterNot(ctx.infoIdentifying.contains)
        val dataLabels =
          if (matcherLabels.nonEmpty) matcherLabels
          else ctx.labelCols.filterNot(ctx.infoIdentifying.contains)
        dataLabels.find(v.labels.contains).foreach(l =>
          fail(s"info(): data label '$l' already present on the vector"))
        val infoVec = instant(
          Expr.Selector(infoMetric, sel0.map(_.matchers).getOrElse(Nil)))
        val k = keys(id)
        val dataStruct = struct(dataLabels.map(l =>
          coalesce(col(l), lit("")).as(l)): _*)
        val infoOne = infoVec.df
          .groupBy(k.map(col): _*)
          .agg(countDistinct(dataStruct).as("_nd"), max(dataStruct).as("_data"))
        val err = raise_error(concat(
          lit("info(): conflicting info series for identifying labels ("),
          lit(id.mkString(",")), lit(")")))
        val joined = v.df.join(
            broadcast(infoOne.select((k.map(col) :+ col("_nd") :+
              col("_data")): _*)),
            k, "left")
          .withColumn("value", when(col("_nd") > 1, err).otherwise(col("value")))
        // elements with no matching info series keep their original
        // label set — in the flattened model, absent == ""
        val out = dataLabels.foldLeft(joined)((d, l) =>
            d.withColumn(l, coalesce(col("_data").getField(l), lit(""))))
          .drop("_nd", "_data")
        Right(Vec(out, v.labels ++ dataLabels))
      case fn if overTimeAggs(fn) => Right(overTime(c, fn))
      case other => fail(s"unsupported function '$other'")
    }

    private def one(c: Expr.Call, what: String): Expr = argN(c, 1).head

    private def argN(c: Expr.Call, n: Int): Seq[Expr] = {
      if (c.args.length != n)
        fail(s"${c.fn}() expects $n argument(s), got ${c.args.length}")
      c.args
    }

    private def sparkOf =
      ctx.metrics.values.headOption.map(_.sparkSession)
        .orElse(ctx.histMetrics.values.headOption.map(_.df.sparkSession))
        .getOrElse(fail("context has no metric tables"))

    // ---- range-vector arguments (selector ranges and subqueries) ----

    /** A materialized range-vector argument: sample rows in the
      * rangeRows shape (labels ++ tieBreak ++ ts ++ TS ++ value, plus
      * STEP in grid mode), the vector's visible labels, and the
      * range/offset the window arithmetic needs.
      */
    private final case class RangeVec(rows: DataFrame, labels: Seq[String],
        rangeMs: Long, offsetMs: Long, anchorMs: Option[Long] = None)

    private def rangeVec(e: Expr, what: String): RangeVec = e match {
      case r: Expr.Range =>
        RangeVec(rangeRows(r.sel, r.rangeMs), ctx.labelCols,
          r.rangeMs, r.sel.offsetMs, resolveAt(r.sel.at))
      case sq: Expr.Subquery => subqueryRows(sq)
      case _: Expr.Selector => fail(
        s"$what expects a RANGE vector — add a range like [5m] to the selector (or [1h:5m] for a subquery)")
      case _ => fail(s"$what expects a range vector")
    }

    /** A rollup-served range vector: `rows` hold one WINDOW per
      * (series, element) — the [[graft.tsdb.RollupStore]] columns
      * (window_ms, n, vsum, vmin, vmax, first_ts_ms, first_v,
      * last_ts_ms, last_v, increase) with `_ts` = window_ms so the
      * shared grid plumbing (step-explode, `@` pinning) applies
      * verbatim. Alignment makes window membership exact: every
      * element window [t-off-range, t-off) is a whole number of
      * layer windows.
      */
    private final case class RollupRangeVec(rows: DataFrame,
        labels: Seq[String], rangeMs: Long, offsetMs: Long,
        anchorMs: Option[Long])

    /** Try to serve a range argument from a materialized rollup
      * layer: the metric must have layers registered, the COARSEST
      * layer passing (a) Thanos's eligibility rule resolution*5 ≤
      * range and (b) exact grid alignment — range, step, and every
      * element end all multiples of the resolution — wins. Returns
      * None (→ raw scan) otherwise. Routing never changes results
      * (the exact-rollup invariant); it only changes bytes read, so
      * the choice is pure cost.
      */
    private def rollupRangeVec(e: Expr): Option[RollupRangeVec] = e match {
      case r: Expr.Range =>
        ctx.rollups.get(r.sel.metric)
          .flatMap(routeLayer(_, r.sel, r.rangeMs))
          .map { layer =>
            val wins = rangeRowsBy(r.sel, r.rangeMs, (s, e2) =>
              graft.tsdb.RollupStore
                .select(sparkOf, layer.path, s, e2, r.sel.matchers)
                .withColumn(TS, col("window_ms")))
            RollupRangeVec(wins, ctx.labelCols, r.rangeMs,
              r.sel.offsetMs, resolveAt(r.sel.at))
          }
      case _ => None
    }

    /** The layer routing rule of [[rollupRangeVec]],
      * [[sketchRangeVec]] and [[histRollupWins]]: the COARSEST of
      * `layers` passing Thanos's eligibility rule resolution*5 ≤
      * `rangeMs`, exact grid alignment — range, step and every
      * element end all multiples of the resolution — and `accepts`
      * (checked first), or None. */
    private def routeLayer(layers: Seq[graft.tsdb.RollupStore.RollupLayer],
        sel: Expr.Selector, rangeMs: Long,
        accepts: Long => Boolean = _ => true)
        : Option[graft.tsdb.RollupStore.RollupLayer] = {
      val at = resolveAt(sel.at)
      def aligned(res: Long): Boolean =
        accepts(res) && rangeMs % res == 0 && ((grid, at) match {
          case (Some(g), None) =>
            (g.startMs - sel.offsetMs) % res == 0 && g.stepMs % res == 0
          case (_, a) =>
            (a.getOrElse(ctx.evalMs) - sel.offsetMs) % res == 0
        })
      layers
        .filter(l => l.resolutionMs * 5 <= rangeMs && aligned(l.resolutionMs))
        .sortBy(-_.resolutionMs).headOption
    }

    /** The quantile-sketch analog of [[rollupRangeVec]]: same
      * coarsest-eligible + exact-alignment rules, over
      * [[PromQLContext.quantileSketches]] — the DECLARED-APPROXIMATE
      * opt-in (see the context field). None → the raw
      * order-statistic path.
      */
    private def sketchRangeVec(e: Expr): Option[RollupRangeVec] = e match {
      case r: Expr.Range =>
        ctx.quantileSketches.get(r.sel.metric)
          .flatMap(routeLayer(_, r.sel, r.rangeMs))
          .map { layer =>
            val wins = rangeRowsBy(r.sel, r.rangeMs, (s, e2) =>
              graft.tsdb.QuantileSketchStore
                .select(sparkOf, layer.path, s, e2, r.sel.matchers)
                .withColumn(TS, col("window_ms")))
            RollupRangeVec(wins, ctx.labelCols, r.rangeMs,
              r.sel.offsetMs, resolveAt(r.sel.at))
          }
      case _ => None
    }

    /** The `*_over_time` aggregates a rollup layer reconstructs
      * EXACTLY (sum/avg from the decimal-exact vsum; count from n;
      * min/max from vmin/vmax; first/last and their timestamps from
      * the boundary samples; stddev/stdvar from the stored Σv² via
      * the identical (n·Σv² − (Σv)²)/n² decimal closed form).
      */
    private val rollupServable = Set("sum_over_time", "avg_over_time",
      "count_over_time", "min_over_time", "max_over_time",
      "first_over_time", "last_over_time", "ts_of_first_over_time",
      "ts_of_last_over_time", "stddev_over_time", "stdvar_over_time",
      "ts_of_min_over_time", "ts_of_max_over_time")

    private def rollupOverTime(rv: RollupRangeVec, fn: String): Vec = {
      val k = keys(rv.labels)
      val g = rv.rows.groupBy(k.map(col): _*)
      val out = fn match {
        case "sum_over_time" =>
          g.agg(sum(col("vsum")).cast("double").as("value"))
        case "count_over_time" =>
          g.agg(sum(col("n")).cast("double").as("value"))
        case "avg_over_time" =>
          g.agg((sum(col("vsum")).cast("double") / sum(col("n"))).as("value"))
        case "min_over_time" => g.agg(min(col("vmin")).as("value"))
        case "max_over_time" => g.agg(max(col("vmax")).as("value"))
        case "first_over_time" =>
          g.agg(min(struct(col("window_ms"), col("first_v").as("_v")))
            .getField("_v").as("value"))
        case "last_over_time" =>
          g.agg(max(struct(col("window_ms"), col("last_v").as("_v")))
            .getField("_v").as("value"))
        case "ts_of_first_over_time" =>
          g.agg((min(col("first_ts_ms")) / lit(1000.0)).as("value"))
        case "ts_of_last_over_time" =>
          g.agg((max(col("last_ts_ms")) / lit(1000.0)).as("value"))
        // the stored argmin/argmax pairs compose associatively under
        // the raw tie keys (value then latest-ts; max demotes NaN via
        // the not-NaN flag) — the identical struct folds
        // [[overTimeRaw]] runs over samples, at window grain
        case "ts_of_min_over_time" =>
          g.agg((-min(struct(col("vmin").as("_v"),
            (-col("vmin_ts_ms")).as("_nts"))).getField("_nts") /
            lit(1000.0)).as("value"))
        case "ts_of_max_over_time" =>
          g.agg((max(struct(
            when(isnan(col("vmax_nn")), lit(0)).otherwise(lit(1))
              .as("_ok"),
            col("vmax_nn").as("_v"), col("vmax_ts_ms").as("_ts")))
            .getField("_ts") / lit(1000.0)).as("value"))
        case "stddev_over_time" | "stdvar_over_time" =>
          // the identical decimal closed form as
          // [[PromOps.stdvarOverTime]]: Σ window sums re-associate
          // exactly, the declared widths match the raw path's so the
          // final double casts are bitwise the raw answer
          val agg = g.agg(
            sum(col("n")).cast("decimal(6,0)").as("_n"),
            sum(col("vsum")).cast("decimal(16,8)").as("_sy"),
            sum(col("vsq")).cast("decimal(31,16)").as("_syy"))
            .withColumn("_num", (col("_n") * col("_syy") -
              col("_sy") * col("_sy")).cast("decimal(36,16)"))
          val stdvar = col("_num").cast("double") /
            (col("_n") * col("_n")).cast("double")
          agg.withColumn("value",
            if (fn == "stddev_over_time") sqrt(stdvar) else stdvar)
      }
      stamped(out.select(k.map(col) :+ col("value"): _*), rv.labels)
    }

    /** `deriv`/`predict_linear` served from a rollup layer: the
      * stored window-relative regression sums shift exactly to any
      * origin o (δ = window_ms − o: Σ(x+δ) = Σx + nδ, Σ(x+δ)² =
      * Σx² + 2δΣx + nδ², Σ(x+δ)v = Σxv + δΣv — integer/decimal
      * arithmetic throughout), rebuilding [[PromOps]]'s per-series
      * sums bitwise, then the identical den/num casts and the same
      * two double divisions — the raw-path answer from
      * windows-in-range rows.
      */
    private def rollupRegression(rv: RollupRangeVec): DataFrame = {
      val o = (grid, rv.anchorMs) match {
        case (Some(g), None) => g.startMs - rv.offsetMs - rv.rangeMs
        case (_, at) => at.getOrElse(ctx.evalMs) - rv.offsetMs - rv.rangeMs
      }
      val k = keys(rv.labels)
      val dw = (col("window_ms") - lit(o)).cast("decimal(14,0)")
      rv.rows.groupBy(k.map(col): _*)
        .agg(
          sum(col("n")).cast("decimal(6,0)").as("_n"),
          sum(col("sx") + col("n") * dw).cast("decimal(16,0)").as("_sx"),
          sum(col("vsum")).cast("decimal(21,8)").as("_sy"),
          sum(col("sxy") + dw * col("vsum").cast("decimal(21,8)"))
            .cast("decimal(31,8)").as("_sxy"),
          sum(col("sxx") + lit(2) * dw * col("sx") + col("n") * dw * dw)
            .cast("decimal(27,0)").as("_sxx"))
        .withColumn("_den", (col("_n") * col("_sxx") -
          col("_sx") * col("_sx")).cast("decimal(35,0)"))
        .filter(col("_n") >= 2 && col("_den") =!= 0)
        .withColumn("_num", (col("_n") * col("_sxy") -
          col("_sx") * col("_sy")).cast("decimal(36,8)"))
        .withColumn("_slope_ms",
          col("_num").cast("double") / col("_den").cast("double"))
        .withColumn("_intercept",
          (col("_sy").cast("double") -
            col("_slope_ms") * col("_sx").cast("double")) /
            col("_n").cast("double"))
        .withColumn("_origin", lit(o))
    }

    /** Routed `delta()` — graft's documented no-extrapolation gauge
      * delta (last − first, [[PromOps.delta]]) served from the
      * layer's boundary samples: the min/max window-struct picks
      * reconstruct the range's first and last raw samples exactly
      * (fine windows partition time, and within a window the stored
      * boundary pick used the identical (ts, tieBreak, value)
      * order), so the subtraction is the same IEEE op on the same
      * two doubles the raw scan performs — bitwise the raw answer
      * from windows-in-range rows. A single-sample range yields 0
      * (first == last), as raw does.
      */
    private def rollupDelta(rv: RollupRangeVec): Vec = {
      val k = keys(rv.labels)
      val out = rv.rows.groupBy(k.map(col): _*)
        .agg(
          min(struct(col("window_ms"), col("first_ts_ms"),
            col("first_v").as("_v"))).getField("_v").as("_first"),
          max(struct(col("window_ms"), col("last_ts_ms"),
            col("last_v").as("_v"))).getField("_v").as("_last"))
        .withColumn("value", col("_last") - col("_first"))
      stamped(out.select(k.map(col) :+ col("value"): _*), rv.labels)
    }

    /** `irate`/`idelta` served from a rollup layer: both functions
      * read exactly the LAST TWO samples of the element window
      * (reference semantics promql/functions.go instantValue), and
      * those reconstruct exactly from the stored boundary +
      * penultimate samples — the last window's (last, prev) when it
      * holds ≥2 samples, else its last plus the previous window's
      * last. The final arithmetic is the identical IEEE ops
      * [[graft.tsdb.PromOps.irate]]/[[graft.tsdb.PromOps.idelta]]
      * run (reset test `v >= pv`, one subtraction, one division), so
      * the routed answer is bitwise the raw one at windows-in-range
      * rows per element instead of samples — the long-range
      * `irate(counter[30d])` dashboard idiom stops rescanning raw.
      */
    private def rollupInstant(rv: RollupRangeVec, fn: String): Vec = {
      val k = keys(rv.labels)
      val s = struct(col("window_ms"), col("n"), col("last_ts_ms"),
        col("last_v"), col("prev_ts_ms"), col("prev_v"))
      val lastTwo = rv.rows.groupBy(k.map(col): _*)
        .agg(sort_array(collect_list(s)).as("_w"))
        .withColumn("_lw", element_at(col("_w"), size(col("_w"))))
        .withColumn("_p", graft.tsdb.RollupStore.prevOf(col("_w")))
        .withColumn("_lv", col("_lw.last_v"))
        .withColumn("_lt", col("_lw.last_ts_ms"))
        .withColumn("_pv", col("_p._pv"))
        .withColumn("_pt", col("_p._pms"))
        .filter(col("_pt").isNotNull) // <2 samples in range → no row
      val out = fn match {
        case "idelta" =>
          lastTwo.withColumn("value", col("_lv") - col("_pv"))
        case "irate" =>
          lastTwo
            .withColumn("_dt_ms", col("_lt") - col("_pt"))
            .filter(col("_dt_ms") > 0)
            .withColumn("value",
              when(col("_lv") >= col("_pv"), col("_lv") - col("_pv"))
                .otherwise(col("_lv")) / (col("_dt_ms") / lit(1000.0)))
      }
      stamped(out.select(k.map(col) :+ col("value"): _*), rv.labels)
    }

    private def rollupDeriv(rv: RollupRangeVec): Vec = {
      val k = keys(rv.labels)
      stamped(rollupRegression(rv)
        .select(k.map(col) :+
          (col("_slope_ms") * lit(1000.0)).as("value"): _*), rv.labels)
    }

    private def rollupPredict(rv: RollupRangeVec, horizonMs: Long): Vec = {
      val k = keys(rv.labels)
      val evalCol = (grid, rv.anchorMs) match {
        case (Some(_), None) => col(STEP)
        case (_, at) => lit(at.getOrElse(ctx.evalMs))
      }
      stamped(rollupRegression(rv)
        .select(k.map(col) :+
          (col("_intercept") + col("_slope_ms") *
            (evalCol + lit(horizonMs) - col("_origin")).cast("double"))
            .as("value"): _*), rv.labels)
    }

    /** `rate`/`increase` served from a rollup layer: the ladder's
      * inputs — sample count, boundary samples, and the reset-aware
      * raw increase — are all exactly reconstructible (the increase
      * by the stitch fold: Σ within-window increases + reset-aware
      * boundary terms, [[graft.tsdb.RollupStore.stitchedIncrease]]'s
      * decomposition), then [[PromOps.extrapolationLadder]] runs the
      * identical production op order — bitwise the raw-path answer,
      * at windows-in-range rows per element instead of samples.
      */
    /** Routed `resets()`/`changes()`: the stored per-window pair
      * counts plus one boundary comparison per seam
      * ([[graft.tsdb.RollupStore.countsFold]]) — the identical pair
      * set the raw lag fold counts.
      */
    private def rollupCounts(rv: RollupRangeVec, field: String): Vec = {
      val k = keys(rv.labels)
      val out = rv.rows.groupBy(k.map(col): _*)
        .agg(sort_array(collect_list(graft.tsdb.RollupStore.windowStruct))
          .as("_w"))
        .withColumn("value",
          graft.tsdb.RollupStore.countsFold(col("_w"))
            .getField(field).cast("double"))
      stamped(out.select(k.map(col) :+ col("value"): _*), rv.labels)
    }

    private def rollupExtrapolated(c: Expr.Call, rv: RollupRangeVec): Vec = {
      val k = keys(rv.labels)
      val perElem = rv.rows.groupBy(k.map(col): _*)
        .agg(
          sum(col("n")).as("_n"),
          min(struct(col("window_ms"), col("first_ts_ms").as("_ms"),
            col("first_v").as("_v"))).as("_f"),
          max(struct(col("window_ms"), col("last_ts_ms").as("_ms"),
            col("last_v").as("_v"))).as("_l"),
          sort_array(collect_list(graft.tsdb.RollupStore.windowStruct))
            .as("_w"))
        .withColumn("_inc", graft.tsdb.RollupStore.increaseFold(col("_w")))
        .select(k.map(col) :+ col("_inc") :+
          col("_f._ms").as("_first_ms") :+ col("_f._v").as("_first_v") :+
          col("_l._ms").as("_last_ms") :+ col("_n"): _*)
      val (startCol, endCol) = windowBounds(rv.rangeMs, rv.offsetMs, rv.anchorMs)
      val out = PromOps.extrapolationLadder(perElem, k, startCol, endCol)
        .withColumn("value", col(if (c.fn == "rate") "rate" else "increase"))
      stamped(out.select(k.map(col) :+ col("value"): _*), rv.labels)
    }

    /** Per-element window bounds in epoch ms: bound constants for an
      * instant query or an `@`-pinned argument, the step's own
      * trailing window otherwise.
      */
    private def windowBounds(rangeMs: Long, offsetMs: Long,
        anchorMs: Option[Long]): (Column, Column) =
      (grid, anchorMs) match {
        case (Some(_), None) =>
          (col(STEP) - lit(offsetMs + rangeMs), col(STEP) - lit(offsetMs))
        case (_, at) =>
          val eff = at.getOrElse(ctx.evalMs)
          (QueryConst.long(eff - offsetMs - rangeMs), QueryConst.long(eff - offsetMs))
      }

    /** Evaluate a subquery `expr[range:step]`: the inner expression
      * runs over its own absolutely-aligned step grid (the multiples
      * of the inner step inside the span the OUTER windows need),
      * then each inner (series, step, value) becomes one synthetic
      * sample at ts = step. In grid mode the synthetic samples are
      * then step-exploded to the outer grid exactly like raw rows.
      * The whole thing stays one declarative plan — the inner
      * expression's scans are shared across all outer steps.
      */
    private def subqueryRows(sq: Expr.Subquery): RangeVec = {
      val stepMs = if (sq.stepMs > 0) sq.stepMs else ctx.subqueryStepMs
      val anchor = resolveAt(sq.at)
      val (spanStart, spanEnd) = (grid, anchor) match {
        case (Some(g), None) => (g.startMs - sq.offsetMs - sq.rangeMs,
          g.lastStepMs - sq.offsetMs)
        case (_, at) =>
          val eff = at.getOrElse(ctx.evalMs)
          (eff - sq.offsetMs - sq.rangeMs, eff - sq.offsetMs)
      }
      // inner steps at ABSOLUTE multiples of stepMs in [spanStart,
      // spanEnd) — Prometheus's subquery alignment, graft's half-open
      // convention
      val first = Math.floorDiv(spanStart + stepMs - 1, stepMs) * stepMs
      val last = Math.floorDiv(spanEnd - 1, stepMs) * stepMs
      val degenerate = first > last
      val innerGrid = if (degenerate) StepGrid(first, first, stepMs)
        else StepGrid(first, last, stepMs)
      val inner = new Compiler(ctx, Some(innerGrid)).vecFor(sq.body)
      val sampled0 = inner.df
        .select(inner.labels.map(col) :+ col(STEP).as("_sq_ms") :+
          col("value"): _*)
      val sampled1 = if (degenerate) sampled0.filter(lit(false)) else sampled0
      // synthetic samples: ts = the inner step; tieBreak columns are
      // constants (inner results are unique per (series, step), so
      // tie order can never matter — the columns only satisfy the
      // shared window specs)
      val asSamples = ctx.tieBreak.foldLeft(
        sampled1
          .withColumn(ctx.tsCol, timestamp_millis(col("_sq_ms")))
          .withColumn(TS, col("_sq_ms"))
          .withColumnRenamed("value", ctx.valueCol)
        )((d, c) => d.withColumn(c, lit(0L)))
      val rows = (grid, anchor) match {
        case (None, _) => asSamples.drop("_sq_ms")
        // @-pinned subquery is step-invariant: attach every step
        case (Some(_), Some(_)) => asSamples.drop("_sq_ms").crossJoin(gridDf)
        case (Some(g), None) =>
          stepExplode(asSamples.drop("_sq_ms"), g, sq.offsetMs, sq.rangeMs)
      }
      RangeVec(rows, inner.labels, sq.rangeMs, sq.offsetMs, anchor)
    }

    /** Inner-compiler entry used by subqueries. */
    def vecFor(e: Expr): Vec = vec(e, "subquery body")

    /** Apply a per-series range computation: `build(rows, seriesCols,
      * startMs)` must return seriesCols :+ "value". seriesCols
      * already include the step key in grid mode, so the build's
      * windows/aggregations run per (series, step); `startMs` is the
      * earliest window start (the regression origin — any constant
      * inside the span works for the builds that take it).
      */
    private def overRangeExpr(e: Expr, what: String,
        build: (DataFrame, Seq[String], Long) => DataFrame): Vec =
      overRangeVec(rangeVec(e, what), build)

    private def overRangeVec(rv: RangeVec,
        build: (DataFrame, Seq[String], Long) => DataFrame): Vec = {
      val start = (grid, rv.anchorMs) match {
        case (Some(g), None) => g.startMs - rv.offsetMs - rv.rangeMs
        case (_, at) => at.getOrElse(ctx.evalMs) - rv.offsetMs - rv.rangeMs
      }
      val k = keys(rv.labels)
      stamped(build(rv.rows, k, start)
        .select(k.map(col) :+ col("value"): _*), rv.labels)
    }

    private def overRange(c: Expr.Call,
        build: (DataFrame, Seq[String], Long) => DataFrame): Vec =
      overRangeExpr(one(c, c.fn), c.fn, build)

    /** The evaluation instant of a range-function element as a
      * column: the step in grid mode, the `@` anchor when pinned,
      * the query's eval time otherwise.
      */
    private def evalInstant(rv: RangeVec): Column =
      (grid, rv.anchorMs) match {
        case (Some(_), None) => col(STEP)
        case (_, at) => QueryConst.long(at.getOrElse(ctx.evalMs))
      }

    /** `rate`/`increase` with Prometheus's production boundary
      * extrapolation ([[PromOps.extrapolatedRateAt]]) — per-step
      * window bounds in grid mode, one literal window otherwise.
      */
    private def extrapolated(c: Expr.Call): Vec =
      rollupRangeVec(one(c, c.fn)) match {
        case Some(rrv) => rollupExtrapolated(c, rrv)
        case None => seriesGrain(c).getOrElse(extrapolatedRaw(c))
      }

    private def extrapolatedRaw(c: Expr.Call): Vec = {
      val rv = rangeVec(one(c, c.fn), c.fn)
      val (startCol, endCol) = windowBounds(rv.rangeMs, rv.offsetMs, rv.anchorMs)
      val k = keys(rv.labels)
      val out = PromOps.extrapolatedRateAt(rv.rows, k, ctx.tsCol,
          ctx.valueCol, startCol, endCol, ctx.tieBreak)
      stamped(out.select(k.map(col) :+
        col(if (c.fn == "rate") "rate" else "increase").as("value"): _*), rv.labels)
    }

    /** The simple `*_over_time` family: one partial-aggregating
      * shuffle to element grain; sums/averages accumulate in exact
      * decimal (order-independent on any cluster size).
      */
    private def overTime(c: Expr.Call, fn: String): Vec =
      rollupRangeVec(one(c, c.fn)) match {
        case Some(rv) if rollupServable(fn) => rollupOverTime(rv, fn)
        case _ => seriesGrain(c).getOrElse(overTimeRaw(c, fn))
      }

    /** A range function over a shard select, evaluated at series grain:
      * `rate`, `increase` or a [[RangeWindows]] `*_over_time` whose
      * argument is a plain range selector (no `@`, no rollup route,
      * no tie-break columns) over a table that carries a series-grain
      * twin ([[ParquetShardStore.seriesGrain]]) whose series are
      * unique on the label columns. The selector's matchers filter the
      * twin's rows, one [[RangeWindows]] pass per series emits the
      * per-step results, and `rate`/`increase` finish on the same
      * [[PromOps.extrapolationLadder]] as the sample grain — no step
      * explode, no (series, step) exchange. None when `c` does not
      * qualify; the caller then plans the sample grain, with the same
      * answer.
      */
    private def seriesGrain(c: Expr.Call): Option[Vec] = c.args match {
      case Seq(r: Expr.Range) if RangeWindows.functions(c.fn) &&
          r.sel.at.isEmpty && ctx.tieBreak.isEmpty =>
        ctx.metrics.get(r.sel.metric).flatMap(ParquetShardStore.seriesGrain)
          .filter(h => h.tsCol == ctx.tsCol && h.valueCol == ctx.valueCol &&
            h.uniqueOn(ctx.labelCols))
          .map { h =>
            // an instant query is the one-step grid at the eval time
            val (start, lastIdx, stepMs) = grid
              .fold((ctx.evalMs, 0L, 1L))(g => (g.startMs, g.lastIdx, g.stepMs))
            val series = graft.tsdb.Matcher.compile(r.sel.matchers)
              .map(h.series.filter).getOrElse(h.series)
            val wins = ColumnBridge.column(RangeWindows(
              ColumnBridge.expression(col("_samples")),
              ColumnBridge.expression(QueryConst.long(start)),
              ColumnBridge.expression(QueryConst.long(lastIdx)),
              c.fn, stepMs, r.rangeMs, r.sel.offsetMs))
            val fields = RangeWindows.outputType(c.fn).fieldNames.toSeq.tail
            val rows = series
              .select(ctx.labelCols.map(col) :+ explode(wins).as("_w"): _*)
              .select(ctx.labelCols.map(col) ++ grid.map(_ => col("_w.step").as(STEP)) ++
                fields.map(f => col(s"_w.$f").as(f)): _*)
            val k = keys(ctx.labelCols)
            val out = if (c.fn != "rate" && c.fn != "increase") rows else {
              val (startCol, endCol) = windowBounds(r.rangeMs, r.sel.offsetMs, None)
              PromOps.extrapolationLadder(rows, k, startCol, endCol)
                .withColumn("value", col(if (c.fn == "rate") "rate" else "increase"))
            }
            stamped(out.select(k.map(col) :+ col("value"): _*), ctx.labelCols)
          }
      case _ => None
    }

    private def overTimeRaw(c: Expr.Call, fn: String): Vec =
      overRange(c, (rows, ls, _) => {
        val v = col(ctx.valueCol)
        fn match {
          case "sum_over_time" => rows.groupBy(ls.map(col): _*)
            .agg(sum(v.cast("decimal(30,8)")).cast("double").as("value"))
          case "avg_over_time" => rows.groupBy(ls.map(col): _*)
            .agg((sum(v.cast("decimal(30,8)")).cast("double") /
              count(lit(1))).as("value"))
          case "min_over_time" => rows.groupBy(ls.map(col): _*)
            .agg(min(v).as("value"))
          case "max_over_time" => rows.groupBy(ls.map(col): _*)
            .agg(max(v).as("value"))
          case "count_over_time" => rows.groupBy(ls.map(col): _*)
            .agg(count(lit(1)).cast("double").as("value"))
          case "last_over_time" => rows.groupBy(ls.map(col): _*)
            .agg(max(struct(col(TS), v.as("_v"))).as("_top"))
            .select(ls.map(col) :+ col("_top._v").as("value"): _*)
          // Experimental `first_over_time` (Prometheus 3.6,
          // promql/functions.go funcFirstOverTime): the EARLIEST
          // sample's value in the range. TSDB timestamps are unique
          // per series, but the min-struct still pins a
          // deterministic tiebreak (smallest value) should a merged
          // input carry duplicates.
          case "first_over_time" => rows.groupBy(ls.map(col): _*)
            .agg(min(struct(col(TS), v.as("_v"))).as("_bot"))
            .select(ls.map(col) :+ col("_bot._v").as("value"): _*)
          // Experimental `ts_of_*` family (Prometheus 3.x,
          // promql/functions.go funcTsOfMinOverTime and friends):
          // the epoch SECONDS of the extreme/last sample. Ties on
          // the extreme value resolve to the LATEST sample — the
          // upstream walk uses NON-strict comparisons (`<=`/`>=`),
          // so a later equal sample replaces the held one; the
          // struct aggregates below make that deterministic under
          // any partitioning (max ts among tied values), never
          // iteration-order-dependent.
          case "ts_of_last_over_time" => rows.groupBy(ls.map(col): _*)
            .agg((max(col(TS)) / lit(1000.0)).as("value"))
          case "ts_of_first_over_time" => rows.groupBy(ls.map(col): _*)
            .agg((min(col(TS)) / lit(1000.0)).as("value"))
          case "ts_of_min_over_time" => rows.groupBy(ls.map(col): _*)
            // min struct picks the smallest value, then the smallest
            // NEGATED ts = the largest ts among the tied minima
            .agg(min(struct(v.as("_v"), (-col(TS)).as("_nts"))).as("_m"))
            .select(ls.map(col) :+
              (-col("_m._nts") / lit(1000.0)).as("value"): _*)
          case "ts_of_max_over_time" => rows.groupBy(ls.map(col): _*)
            // NaN must not displace a real maximum (Spark orders NaN
            // above every double; upstream's walk `f.F >= maxVal ||
            // IsNaN(maxVal)` replaces a held NaN with ANY sample but
            // never a real max with NaN): the leading not-NaN flag
            // demotes NaN keys so they win only when every sample is
            // NaN — then the latest ts, exactly like the walk
            .agg(max(struct(
              when(isnan(v), lit(0)).otherwise(lit(1)).as("_ok"),
              v.as("_v"), col(TS).as("_ts"))).as("_m"))
            .select(ls.map(col) :+ (col("_m._ts") / lit(1000.0)).as("value"): _*)
          case "stddev_over_time" | "stdvar_over_time" =>
            PromOps.stdvarOverTime(rows, ls, ctx.valueCol)
              .withColumn("value",
                col(if (fn == "stddev_over_time") "stddev" else "stdvar"))
        }
      })

    /** `histogram_quantile(q, v)`: over a NATIVE-histogram vector
      * (histMetrics sub-grammar), the exponential-bucket walk as a
      * narrow per-row fold
      * ([[graft.tsdb.NativeHistogram.histogramQuantile]]); over
      * classic buckets, the vector must carry an `le` label and
      * regroups on the remaining labels through
      * [[PromOps.histogramQuantile]].
      */
    private def histogramQuantile(c: Expr.Call): Vec = {
      val Seq(qe, ve) = argN(c, 2)
      val q = scalarArg(qe, "histogram_quantile q")
      histEval(ve) match {
        case Some(h) if h.custom.nonEmpty =>
          // NHCB: the classic-bucket walk over the metric's literal
          // bound list (no zero bucket, no negative side)
          return histConsume(h,
            graft.tsdb.NativeHistogram.histogramQuantileCustom(
              q, col(HI), col(HC), typedLit(h.custom)))
        case Some(h) =>
          // the signed walk; FP-identical to the unsigned one when
          // the neg arrays are empty (every positive-only metric)
          return histConsume(h,
            graft.tsdb.NativeHistogram.histogramQuantileSigned(
              q, col(HZ), col(HI), col(HC), col(HNI), col(HNC), h.schema))
        case None => ()
      }
      val v = vec(ve, "histogram_quantile")
      if (!v.labels.contains("le"))
        fail("histogram_quantile needs a vector with an 'le' label")
      val groupLabels = v.labels.filterNot(_ == "le")
      val k = keys(groupLabels)
      val buckets = v.df.withColumn("_le", col("le").cast("double"))
      val out = PromOps.histogramQuantile(buckets, k, q,
        leCol = "_le", cntCol = "value", outCol = "value")
      stamped(out.select(k.map(col) :+ col("value"): _*), groupLabels)
    }

    // ---- native-histogram vectors ----

    /** A native-histogram instant vector: `df` carries the labels,
      * TS (and STEP in grid mode) plus the histogram component
      * columns HZ/HI/HC/HS — counts as DOUBLE so the one frame model
      * serves both count vectors and rate vectors (integer counts
      * stay exact below 2^53, the [[graft.tsdb.NativeHistogram]]
      * convention). `hasSum` marks a metric with a tracked
      * observation sum (required by histogram_sum/avg/stddev/stdvar).
      */
    private final case class HVec(df: DataFrame, labels: Seq[String],
        hasSum: Boolean, schema: Int,
        // NHCB bound-list literal (empty = exponential schema)
        custom: Seq[Double] = Nil)

    private val HZ = "_h_zero"
    private val HI = "_h_idx"
    private val HC = "_h_cnt"
    private val HS = "_h_sum"
    // the SIGNED (negative-bucket) side — empty arrays on
    // positive-only metrics, so every consumer below runs the signed
    // walk unconditionally (FP-identical to the unsigned one when
    // the arrays are empty; NativeHistogramSpec pins that)
    private val HNI = "_h_nidx"
    private val HNC = "_h_ncnt"
    // per-sample counter-reset hint ("unknown" when the table
    // carries none — the value-detection fallback)
    private val HH = "_h_hint"

    /** Evaluate the histogram-typed sub-grammar: a hist-metric
      * selector, `rate`/`increase` over a hist range selector, and
      * bucket-wise `sum by/without` — exactly the expressions
      * Prometheus defines to PRODUCE a native-histogram vector.
      * Returns None for float-typed expressions (the caller falls
      * back to the classic path).
      */
    private def histEval(e: Expr): Option[HVec] = e match {
      case s: Expr.Selector =>
        ctx.histMetrics.get(s.metric).map(histInstant(s, _))
      case Expr.Call(fn @ ("rate" | "increase"), Seq(r: Expr.Range)) =>
        ctx.histMetrics.get(r.sel.metric)
          .map(histRate(r.sel, _, r.rangeMs, increase = fn == "increase"))
      case Expr.Call("delta", Seq(r: Expr.Range)) =>
        ctx.histMetrics.get(r.sel.metric)
          .map(histDelta(r.sel, _, r.rangeMs))
      case a: Expr.Agg if a.op == "sum" =>
        histEval(a.body).map(histSum(a, _))
      case _ => None
    }

    private def histArg(e: Expr, what: String): HVec =
      histEval(e).getOrElse(fail(
        s"$what expects a native-histogram vector (a histMetrics selector, " +
          "rate/increase over one, or a bucket-wise sum of one)"))

    /** Span scan of a hist metric: the shared selector machinery
      * ([[scanFiltered]] — matcher pushdown, literal ts range,
      * bucket pruning) with the histogram component payload.
      */
    private def scanHistRows(sel: Expr.Selector, ht: HistTable,
        spanStartMs: Long, spanEndMs: Long): DataFrame =
      scanFiltered(ht.df, sel, spanStartMs, spanEndMs)
        .select(ctx.labelCols.map(col) :+
          unix_millis(col(ctx.tsCol).cast("timestamp")).as(TS) :+
          col(ht.zeroCountCol).cast("double").as(HZ) :+
          col(ht.posIdxCol).cast("array<int>").as(HI) :+
          col(ht.posCountsCol).cast("array<double>").as(HC) :+
          ht.sumCol.map(c => col(c).cast("double"))
            .getOrElse(lit(null).cast("double")).as(HS) :+
          ht.negIdxCol.map(c => col(c).cast("array<int>"))
            .getOrElse(array().cast("array<int>")).as(HNI) :+
          ht.negCountsCol.map(c => col(c).cast("array<double>"))
            .getOrElse(array().cast("array<double>")).as(HNC) :+
          ht.resetHintCol.map(c => col(c).cast("string"))
            .getOrElse(lit("unknown")).as(HH): _*)

    /** Instant hist selector: latest histogram sample per series in
      * the lookback window — the float [[instant]] shape; the max
      * struct orders on TS first (ties break on the component
      * columns — Spark array ordering is lexicographic, so the pick
      * stays deterministic on duplicate-ts data).
      */
    private def histInstant(sel: Expr.Selector, ht: HistTable): HVec = {
      val rows = rangeRowsBy(sel, ctx.lookbackMs, scanHistRows(sel, ht, _, _))
      val k = keys(ctx.labelCols)
      val df = rows
        .groupBy(k.map(col): _*)
        .agg(max(struct(col(TS), col(HZ), col(HI), col(HC), col(HS),
          col(HNI), col(HNC))).as("_top"))
        .select(k.map(col) :+ col(s"_top.$TS").as(TS) :+
          col(s"_top.$HZ").as(HZ) :+ col(s"_top.$HI").as(HI) :+
          col(s"_top.$HC").as(HC) :+ col(s"_top.$HS").as(HS) :+
          col(s"_top.$HNI").as(HNI) :+ col(s"_top.$HNC").as(HNC): _*)
      HVec(df, ctx.labelCols, ht.sumCol.isDefined, ht.schema,
        ht.customValues)
    }

    /** `rate(h[r])` / `increase(h[r])` over a native-histogram
      * counter: the RESET-AWARE per-step walk
      * ([[graft.tsdb.NativeHistogram.increaseBySignedResets]] — a
      * mid-range counter reset adds the post-reset histogram whole,
      * Prometheus's counter contract; over reset-free data the steps
      * telescope to exactly the first/last delta, so the pre-existing
      * hash-pinned gates double as the equivalence pin). ONE
      * series-keyed aggregation (samples-in-range bounded buffer),
      * narrow sparse-map fold, per (series, step) in grid mode.
      * `rate` divides the increases by the sampled span. The rate
      * vector carries no sum, so histogram_sum/avg/stddev over a
      * rate fail loudly.
      */
    /** NH rollup routing (the [[rollupRangeVec]] rules with the
      * layer's resolution in ms): windows-in-range rows from the
      * coarsest aligned eligible layer, or None → raw samples.
      */
    private def histRollupWins(sel: Expr.Selector, ht: HistTable,
        rangeMs: Long): Option[DataFrame] = {
      // the select below converts the ms span to the layer's
      // whole-second window grain, so a layer whose resolution is
      // not a whole-second multiple must never pass eligibility
      // (truncating division would silently shift its bounds), and
      // the conversion itself floors — pre-epoch spans must round
      // toward -∞, not toward zero
      routeLayer(ht.rollups, sel, rangeMs, _ % 1000L == 0)
        .map { layer =>
          rangeRowsBy(sel, rangeMs, (s, e) =>
            graft.tsdb.HistRollupStore
              .select(sparkOf, layer.path, Math.floorDiv(s, 1000L),
                Math.floorDiv(e, 1000L), sel.matchers)
              .withColumn(TS, col("window_sec") * 1000L))
        }
    }

    private def histRate(sel: Expr.Selector, ht: HistTable, rangeMs: Long,
        increase: Boolean): HVec = {
      val k = keys(ctx.labelCols)
      val inc = histRollupWins(sel, ht, rangeMs) match {
        case Some(wins) =>
          graft.tsdb.HistRollupStore.stitchedIncreaseOf(wins, k)
        case None =>
          val rows = rangeRowsBy(sel, rangeMs, scanHistRows(sel, ht, _, _))
            .withColumn("_h_tsec", col(TS) / lit(1000.0))
          graft.tsdb.NativeHistogram.increaseBySignedResets(rows, k,
            "_h_tsec", HZ, HI, HC, HNI, HNC, hintCol = Some(HH))
      }
      def sc(c: Column): Column = if (increase) c else c / col("dt_sec")
      val df = inc.select(k.map(col) :+
        sc(col("zero_inc")).as(HZ) :+
        col("pos_idx").as(HI) :+
        transform(col("pos_inc"), r => sc(r)).as(HC) :+
        lit(null).cast("double").as(HS) :+
        col("neg_idx").as(HNI) :+
        transform(col("neg_inc"), r => sc(r)).as(HNC): _*)
      HVec(stampedDf(df), ctx.labelCols, hasSum = false, ht.schema,
        ht.customValues)
    }

    /** `delta(h[r])` over a GAUGE native histogram: bucket-wise
      * last − first with NO clamp (gauges move both ways — every
      * component may go negative), both sides off one whole-sample
      * snapshot pair ([[graft.tsdb.NativeHistogram.deltaBySigned]]),
      * no extrapolation — the float `delta` contract applied
      * histogram-wise. The delta vector carries no sum. */
    private def histDelta(sel: Expr.Selector, ht: HistTable,
        rangeMs: Long): HVec = {
      val k = keys(ctx.labelCols)
      val d = histRollupWins(sel, ht, rangeMs) match {
        // the layer stores each window's first/last whole-sample
        // snapshots — the earliest/latest of them ARE the range's
        // snapshot pair, so the routed gauge delta is bitwise raw
        case Some(wins) => graft.tsdb.HistRollupStore.deltaOf(wins, k)
        case None =>
          val rows = rangeRowsBy(sel, rangeMs, scanHistRows(sel, ht, _, _))
            .withColumn("_h_tsec", col(TS) / lit(1000.0))
          graft.tsdb.NativeHistogram.deltaBySigned(rows, k,
            "_h_tsec", HZ, HI, HC, HNI, HNC)
      }
      val df = d.select(k.map(col) :+
        col("zero_delta").as(HZ) :+
        col("pos_idx").as(HI) :+
        col("pos_delta").as(HC) :+
        lit(null).cast("double").as(HS) :+
        col("neg_idx").as(HNI) :+
        col("neg_delta").as(HNC): _*)
      HVec(stampedDf(df), ctx.labelCols, hasSum = false, ht.schema,
        ht.customValues)
    }

    /** Bucket-wise `sum by/without` over a hist vector
      * ([[graft.tsdb.NativeHistogram.sumBy]] semantics, arrays kept
      * assembled so the result composes): ONE aggregation through
      * the native [[graft.functions.HistSumAgg]]
      * TypedImperativeAggregate — sparse bucket arrays merge in the
      * aggregation buffer (partial map-side combine, a single
      * group-grain shuffle), zero counts and tracked sums accumulate
      * alongside. The previous built-in composition (explode →
      * bucket-grain agg → reassemble, PLUS a scalar branch joined
      * back) computed the instant-vector subtree TWICE — the pruned
      * scans differ per branch, so ReuseExchange cannot dedup them;
      * the imperative aggregate reads it once. A group exists only
      * where the vector had elements (PromQL's empty-vector rule).
      */
    private def histSum(a: Expr.Agg, h: HVec): HVec = {
      val g = resolveGrouping(a.op, a.grouping, h.labels)
      val k = keys(g)
      val bridge = org.apache.spark.sql.graft.ColumnBridge
      val aggCol = bridge.column(graft.functions.HistSumAgg(
        bridge.expression(struct(col(HZ), col(HI), col(HC), col(HS))))
        .toAggregateExpression())
      // the negative side merges through a SECOND instance of the
      // same sparse-merge aggregate (zero/sum slots unused) — still
      // ONE group-grain shuffle, two buffers
      val negAggCol = bridge.column(graft.functions.HistSumAgg(
        bridge.expression(struct(lit(0.0).as("zero"), col(HNI).as("idx"),
          col(HNC).as("cnt"), lit(null).cast("double").as("sum"))))
        .toAggregateExpression())
      val grouped =
        if (k.isEmpty) h.df.groupBy() else h.df.groupBy(k.map(col): _*)
      val out = grouped.agg(aggCol.as("_hs"), negAggCol.as("_hn"),
          count(lit(1)).as("_n"))
        .filter(col("_n") > 0).drop("_n")
        .select((k.map(col) :+
          col("_hs.zero").as(HZ) :+ col("_hs.idx").as(HI) :+
          col("_hs.cnt").as(HC) :+ col("_hs.sum").as(HS) :+
          col("_hn.idx").as(HNI) :+ col("_hn.cnt").as(HNC)): _*)
      HVec(stampedDf(out), g, h.hasSum, h.schema, h.custom)
    }

    /** Attach the evaluation-time TS column (the step's own time in
      * grid mode) — [[stamped]] without the Vec wrapper. */
    private def stampedDf(df: DataFrame): DataFrame = grid match {
      case Some(_) => df.withColumn(TS, col(STEP))
      case None => df.withColumn(TS, lit(ctx.evalMs))
    }

    /** Lower a float-producing histogram consumer: compute `value`
      * per row with a narrow fold over the component columns, drop
      * the components. */
    private def histConsume(h: HVec, value: Column): Vec =
      Vec(h.df.withColumn("value", value).drop(HZ, HI, HC, HS, HNI, HNC),
        h.labels)

    // ---- aggregation operators ----

    /** Output labels of a `by`/`without` grouping over `labels`. */
    private def resolveGrouping(op: String, grouping: Option[Expr.Grouping],
        labels: Seq[String]): Seq[String] = grouping match {
      case Some(Expr.Grouping(true, ls)) =>
        ls.find(l => !labels.contains(l)).foreach(l =>
          fail(s"$op by ($l): vector has no label '$l' (labels: ${labels.mkString(", ")})"))
        ls
      case Some(Expr.Grouping(false, ls)) => labels.filterNot(ls.contains)
      case None => Nil
    }

    private def agg(a: Expr.Agg): Vec = {
      val v = vec(a.body, s"${a.op} aggregation")
      val g = resolveGrouping(a.op, a.grouping, v.labels)
      val k = keys(g)
      val value = col("value")
      def grouped = if (k.isEmpty) v.df.groupBy()
        else v.df.groupBy(k.map(col): _*)
      // a GLOBAL aggregation (no grouping) over an empty vector must
      // return an empty vector, not SQL's single null/0 row
      def simple(aggCol: Column): Vec =
        stamped(grouped.agg(aggCol.as("value"), count(lit(1)).as("_n"))
          .filter(col("_n") > 0).drop("_n"), g)
      a.op match {
        case "sum" => simple(sum(value.cast("decimal(30,8)")).cast("double"))
        case "min" => simple(min(value))
        case "max" => simple(max(value))
        case "avg" => simple(sum(value.cast("decimal(30,8)")).cast("double") /
          count(lit(1)))
        case "count" => simple(count(lit(1)).cast("double"))
        case "group" => simple(max(lit(1.0)))
        case "stddev" | "stdvar" =>
          // population stddev over exact decimal sums — the
          // aggregateDistBy closed form at vector grain
          val y = value.cast("decimal(18,8)")
          val sums = grouped.agg(
            count(lit(1)).cast("decimal(6,0)").as("_n"),
            sum(y).cast("decimal(16,8)").as("_sy"),
            sum((y * y).cast("decimal(30,16)")).cast("decimal(31,16)").as("_syy"))
            .filter(col("_n") > 0)
          val varCol = (col("_n") * col("_syy") - col("_sy") * col("_sy"))
            .cast("decimal(36,16)").cast("double") /
            (col("_n") * col("_n")).cast("double")
          stamped(sums.select(k.map(col) :+
            (if (a.op == "stddev") sqrt(varCol) else varCol).as("value"): _*), g)
        case "quantile" =>
          val q = scalarArg(a.param.getOrElse(fail("quantile needs a parameter")),
            "quantile q")
          simple(percentile(value, lit(q)))
        case "count_values" =>
          val dst = strArg(a.param.getOrElse(fail("count_values needs a label parameter")),
            "count_values label")
          val out = v.df
            .groupBy((k.map(col) :+ value.cast("string").as(dst)): _*)
            .agg(count(lit(1)).cast("double").as("value"))
          stamped(out, g :+ dst)
        case "topk" | "bottomk" =>
          val kk = scalarArg(a.param.getOrElse(fail(s"${a.op} needs a parameter")),
            s"${a.op} k").toInt
          if (kk <= 0) fail(s"${a.op} k must be positive")
          // keep the FULL label set (PromQL: topk selects elements,
          // it does not relabel); rank within each `g` group (per
          // step) with a total-order tiebreak on the remaining labels
          val ord0 = if (a.op == "topk") col("value").desc else col("value").asc
          val rest = v.labels.filterNot(g.contains)
          if (k.isEmpty)
            // GLOBAL top-k (instant query, no grouping): orderBy +
            // limit plans TakeOrderedAndProject — each task keeps its
            // partial top-k and only k rows ever move, vs a
            // single-partition WindowExec funneling the whole vector
            // through one task at 100M-series scale
            Vec(v.df.orderBy(ord0 +: rest.map(col(_).asc): _*).limit(kk),
              v.labels)
          else {
            val w = Window.partitionBy(k.map(col): _*)
              .orderBy(ord0 +: rest.map(col): _*)
            Vec(v.df.withColumn("_rk", row_number().over(w))
              .filter(col("_rk") <= kk).drop("_rk"), v.labels)
          }
        case "limitk" =>
          // Prometheus (experimental): "k arbitrary elements" per
          // group; a cluster needs determinism, so graft's pick is
          // the first k in label order — full labels kept, same
          // WindowGroupLimit shape as topk
          val kk = scalarArg(a.param.getOrElse(fail("limitk needs a parameter")),
            "limitk k").toInt
          if (kk <= 0) fail("limitk k must be positive")
          val rest = v.labels.filterNot(g.contains)
          if (k.isEmpty)
            // global limitk: first k in label order via
            // TakeOrderedAndProject (or a plain CollectLimit when the
            // vector carries no labels at all) — never a
            // single-partition window
            Vec(if (rest.isEmpty) v.df.limit(kk)
              else v.df.orderBy(rest.map(col(_).asc): _*).limit(kk),
              v.labels)
          else {
            val ord = if (rest.isEmpty) Seq(lit(1).asc) else rest.map(col(_).asc)
            val w = Window.partitionBy(k.map(col): _*).orderBy(ord: _*)
            Vec(v.df.withColumn("_rk", row_number().over(w))
              .filter(col("_rk") <= kk).drop("_rk"), v.labels)
          }
        case "limit_ratio" =>
          // Prometheus (experimental): deterministic ~r sample of the
          // vector's elements decided per element by a label-set
          // hash; r<0 selects the exact complement of |r| (the two
          // halves partition the vector). graft's hash is the
          // pipe_sample_mix sha256 threshold (DuckDB-replayable,
          // partition-independent) over the labels in vector column
          // order — Prometheus's own hash function is unspecified
          // for engine interop, the partition/complement contract is
          // what's portable. Pure narrow filter, no shuffle.
          val r = scalarArg(a.param.getOrElse(fail("limit_ratio needs a parameter")),
            "limit_ratio r")
          if (r < -1.0 || r > 1.0) fail("limit_ratio r must be in [-1, 1]")
          val key = concat_ws("\u0001",
            v.labels.map(l => col(l).cast("string")): _*)
          val h = substring(
            sha2(concat(key, lit(":limit_ratio")), 256), 1, 8)
          val thr = lit(graft.operators.Pipeline.sampleThreshold(math.abs(r)))
          Vec(v.df.filter(if (r >= 0) h < thr else h >= thr), v.labels)
        case other => fail(s"unsupported aggregation '$other'")
      }
    }

    // ---- binary operators ----

    private val cmpOps: Map[String, (Column, Column) => Column] = Map(
      "==" -> (_ === _), "!=" -> (_ =!= _), ">" -> (_ > _),
      "<" -> (_ < _), ">=" -> (_ >= _), "<=" -> (_ <= _))

    private def arith(op: String)(l: Column, r: Column): Column = op match {
      case "+" => l + r
      case "-" => l - r
      case "*" => l * r
      case "/" => l / r
      case "%" => l % r // Go math.Mod ≡ Java/DuckDB fmod: truncated
      case "^" => pow(l, r)
      case "atan2" => atan2(l, r) // the word-form binary op
    }

    /** Scalar-scalar operation: exact numeric folding when both sides
      * are constants; a composed column expression when either is
      * step-dependent (time()-derived in a range query).
      */
    private def scalarFold(op: String, l: Sc, r: Sc, boolMod: Boolean): Sc =
      (l.const, r.const) match {
        case (Some(a), Some(b)) => Sc.of(scalarFoldNum(op, a, b, boolMod))
        case _ if cmpOps.contains(op) =>
          if (!boolMod) fail(s"scalar comparison '$op' requires the bool modifier")
          combineSc(l, r, (x, y) => when(cmpOps(op)(x, y), 1.0).otherwise(0.0))
        case _ => combineSc(l, r, arith(op))
      }

    private def scalarFoldNum(op: String, l: Double, r: Double,
        boolMod: Boolean): Double = op match {
      case "+" => l + r
      case "-" => l - r
      case "*" => l * r
      case "/" => l / r
      case "%" => l % r
      case "^" => math.pow(l, r)
      case "atan2" => math.atan2(l, r)
      case cmp =>
        if (!boolMod) fail(s"scalar comparison '$cmp' requires the bool modifier")
        val hit = cmp match {
          case "==" => l == r
          case "!=" => l != r
          case ">" => l > r
          case "<" => l < r
          case ">=" => l >= r
          case "<=" => l <= r
        }
        if (hit) 1.0 else 0.0
    }

    private def binary(b: Expr.Bin): Either[Sc, Vec] = {
      if (Set("and", "or", "unless")(b.op)) return Right(setOp(b))
      (eval(b.lhs), eval(b.rhs)) match {
        case (Left(l), Left(r)) => Left(scalarFold(b.op, l, r, b.boolMod))
        case (Right(v), Left(s)) => Right(vectorScalar(b, v, s, scalarRight = true))
        case (Left(s), Right(v)) => Right(vectorScalar(b, v, s, scalarRight = false))
        case (Right(l), Right(r)) => Right(vectorVector(b, l, r))
      }
    }

    private def vectorScalar(b: Expr.Bin, v: Vec, s: Sc,
        scalarRight: Boolean): Vec = {
      val df0 = attachCarrier(v.df, s)
      val value = col("value")
      val (l, r) = if (scalarRight) (value, s.expr) else (s.expr, value)
      val out = if (cmpOps.contains(b.op)) {
        val cond = cmpOps(b.op)(l, r)
        if (b.boolMod) df0.withColumn("value", when(cond, 1.0).otherwise(0.0))
        else df0.filter(cond)
      } else df0.withColumn("value", arith(b.op)(l, r))
      Vec(dropScCols(out), v.labels)
    }

    /** Match-label resolution: `on(ls)` takes ls; `ignoring(ls)` and
      * the default match on the (statically known) label columns —
      * PromQL's "all labels" semantics at DataFrame-schema grain.
      * The hidden step key joins on top in grid mode (elements only
      * ever match within their own step).
      */
    private def matchLabels(b: Expr.Bin, l: Vec, r: Vec): Seq[String] =
      b.matching match {
        case Some(m) if m.on =>
          m.labels.find(x => !l.labels.contains(x) || !r.labels.contains(x))
            .foreach(x => fail(s"on($x): both sides must carry label '$x' " +
              s"(left: ${l.labels.mkString(",")}; right: ${r.labels.mkString(",")})"))
          m.labels
        case Some(m) =>
          val ls = l.labels.filterNot(m.labels.contains)
          val rs = r.labels.filterNot(m.labels.contains)
          if (ls.toSet != rs.toSet) fail(
            s"ignoring(${m.labels.mkString(",")}): residual label sets differ " +
              s"(left: ${ls.mkString(",")}; right: ${rs.mkString(",")})")
          ls
        case None =>
          if (l.labels.toSet != r.labels.toSet) fail(
            "vector matching needs on(...)/ignoring(...) when label sets differ " +
              s"(left: ${l.labels.mkString(",")}; right: ${r.labels.mkString(",")})")
          l.labels
      }

    /** Distributed one-to-one cardinality guard: PromQL rejects a
      * side that is not unique on the match labels; the check is a
      * windowed count + raise_error (no driver work), the
      * [[PromOps.binaryOpGroupLeft]] pattern on both sides.
      */
    private def uniqueOn(df: DataFrame, on: Seq[String], side: String): DataFrame = {
      val err = raise_error(concat(
        lit(s"one-to-one vector matching: $side side not unique on("),
        lit(on.mkString(",")), lit(")")))
      val guarded =
        if (on.isEmpty) {
          // on() matches the WHOLE vector: the cardinality guard is a
          // global count whose 1-row result broadcasts back, never a
          // single-partition window over the full vector. The guard
          // only distinguishes ≤1 from >1, so limit(2) caps the
          // second evaluation of the operand subplan: CollectLimit
          // stops after two rows instead of re-running the whole
          // upstream plan to count a vector the guard will reject
          df.crossJoin(broadcast(df.limit(2).groupBy()
            .agg(count(lit(1)).as("_card"))))
        } else {
          val w = Window.partitionBy(on.map(col): _*)
          df.withColumn("_card", count(lit(1)).over(w))
        }
      guarded
        .withColumn("value",
          when(col("_card") > 1, err).otherwise(col("value")))
        .drop("_card")
    }

    private def vectorVector(b: Expr.Bin, l0: Vec, r0: Vec): Vec = {
      val m = b.matching
      val side = m.map(_.side).getOrElse(0)
      // group_right is group_left with the operands swapped (the
      // "one" side is always the right operand of group_left); the
      // op itself keeps its original orientation
      val (l, r, flip) = if (side == 1) (r0, l0, true) else (l0, r0, false)
      val on = if (flip) matchLabels(b, r0, l0) else matchLabels(b, l0, r0)
      val kon = keys(on)
      val rawOp: (Column, Column) => Column =
        if (cmpOps.contains(b.op)) {
          if (b.boolMod) (x, y) => when(cmpOps(b.op)(x, y), 1.0).otherwise(0.0)
          else (x, y) => x // comparison filter keeps the left value
        } else arith(b.op)
      val op: (Column, Column) => Column =
        if (flip) (x, y) => rawOp(y, x) else rawOp
      if (side != 0) {
        val include = m.map(_.include).getOrElse(Nil)
        include.find(l.labels.contains).foreach(x =>
          fail(s"group_left/right include label '$x' already exists on the many side"))
        include.find(x => !r.labels.contains(x)).foreach(x =>
          fail(s"group_left/right include label '$x' missing on the one side"))
        val lDf = l.df.select((keys(l.labels) :+ "value").map(col): _*)
        val rDf = r.df.select((keys(r.labels) :+ "value").map(col): _*)
        val out = PromOps.binaryOpGroupLeft(lDf, rDf, kon, include,
          "value", op)
        if (cmpOps.contains(b.op) && !b.boolMod)
          fail("comparison filter with group_left/group_right is not supported")
        stamped(out, l.labels ++ include)
      } else if (cmpOps.contains(b.op) && !b.boolMod) {
        // vector-vector comparison WITHOUT bool: keep the left
        // element (all left labels + left value) where the condition
        // holds against its matched right value
        val cond = if (flip) (x: Column, y: Column) => cmpOps(b.op)(y, x)
          else cmpOps(b.op)
        val rz = uniqueOn(r.df.select((kon :+ "value").map(col): _*), kon, "right")
          .withColumnRenamed("value", "_rv")
        val lz = uniqueOn(l.df, kon, "left")
        val joined = lz.join(rz, kon).filter(cond(col("value"), col("_rv")))
        Vec(joined.select((keys(l.labels) :+ "value" :+ TS).map(col): _*), l.labels)
      } else {
        // arithmetic / bool comparison one-to-one: result at match-
        // label grain, both sides checked unique
        val lz = uniqueOn(l.df.select((kon :+ "value").map(col): _*), kon, "left")
        val rz = uniqueOn(r.df.select((kon :+ "value").map(col): _*), kon, "right")
        val out = PromOps.binaryOp(lz, rz, kon, "value", op)
        stamped(out, on)
      }
    }

    private def setOp(b: Expr.Bin): Vec = {
      val l = vec(b.lhs, s"'${b.op}'")
      val r = vec(b.rhs, s"'${b.op}'")
      if (b.matching.exists(_.side != 0))
        fail(s"group_left/group_right is not valid on '${b.op}'")
      val on = matchLabels(b, l, r)
      val kon = keys(on)
      b.op match {
        case "and" => Vec(PromOps.vectorAnd(l.df, r.df.select(kon.map(col): _*), kon), l.labels)
        case "unless" => Vec(PromOps.vectorUnless(l.df, r.df.select(kon.map(col): _*), kon), l.labels)
        case "or" =>
          if (l.labels.toSet != r.labels.toSet) fail(
            s"'or' needs both sides to carry the same labels " +
              s"(left: ${l.labels.mkString(",")}; right: ${r.labels.mkString(",")})")
          val shape = keys(l.labels) :+ "value" :+ TS
          val rAligned = r.df.select(shape.map(col): _*)
          Vec(PromOps.vectorOr(l.df.select(shape.map(col): _*),
            rAligned, kon), l.labels)
      }
    }
  }
}
