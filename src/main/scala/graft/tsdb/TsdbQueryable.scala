package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spark-native analog of the reference's Prometheus
  * `storage.Queryable` implementation (reference:
  * queryable/parquet_queryable.go:153-558): select series samples by
  * label matchers + time range, and answer LabelNames / LabelValues
  * under matchers.
  *
  * Model (SURVEY §3): a long-format series table with label columns,
  * a timestamp column and a value column. Where the reference
  * materializes chunk bytes and decodes samples (search/
  * materialize.go:674), here samples are plain rows: selection is a
  * Catalyst filter that pushes down to the Parquet scan, and
  * "materialization" is projection — Tungsten does the rest.
  *
  * At scale the table is written time-bucketed + label-sorted by
  * [[TsdbConverter]], so the same predicates prune partitions and
  * row groups instead of scanning 100 TB.
  */
/** Thrown when a strict quota is exceeded (limits.go:52 analog). */
final class QuotaExceededException(msg: String) extends RuntimeException(msg)

/** Thrown when stored bytes or a store's layout cannot be read as
  * what the caller asked for: `source` names the file, dir or blob
  * (with an offset where one is known). An IllegalArgumentException,
  * so callers that catch bad input keep catching it. */
final class GraftFormatException(val source: String, detail: String)
    extends IllegalArgumentException(s"$source: $detail")

final class TsdbQueryable(
    df: DataFrame,
    labelCols: Seq[String],
    tsCol: String = "ts",
    valueCol: String = "value",
    materializedSeriesCallback: DataFrame => DataFrame = identity,
    selectionCache: Option[SelectionCache] = None,
    labelsFilter: Option[Column] = None,
    bucketCol: Option[String] = None,
    bucketDuration: String = "1 day",
    labelIndex: Option[DataFrame] = None,
    labelSketches: Option[DataFrame] = None,
    // the querier scope ([[scopedTo]]): layers prune LAZILY against
    // it at eligibility time, so attachment order cannot leak
    // out-of-range index rows
    scopedRange: Option[(Long, Long)] = None) {

  /** Declare the layout's time-partition column (the
    * [[TsdbConverter]] `bucket` column): every range select then
    * also emits a LITERAL bucket-range predicate derived from
    * [mint, maxt), so at 100 TB the scan prunes whole partition
    * directories before any footer is read — a ts predicate alone
    * cannot prune a derived partition column. Returns a NEW
    * queryable. */
  def withBucketCol(bucket: String,
      duration: String = "1 day"): TsdbQueryable =
    new TsdbQueryable(df, labelCols, tsCol, valueCol,
      materializedSeriesCallback, selectionCache, labelsFilter,
      Some(bucket), duration, labelIndex, labelSketches, scopedRange)

  /** Integrator seam on the select path — the analog of the
    * reference's `WithMaterializedSeriesCallback` option
    * (queryable/parquet_queryable.go:97-110): every materialized
    * selection flows through the callback before quotas/sorting, so
    * integrators can meter it (idiomatically: `df.observe(...)`, which
    * costs no extra job) or post-filter it. Returns a NEW queryable;
    * the receiver is unchanged.
    */
  def withMaterializedSeriesCallback(cb: DataFrame => DataFrame): TsdbQueryable =
    new TsdbQueryable(df, labelCols, tsCol, valueCol, cb, selectionCache,
      labelsFilter, bucketCol, bucketDuration, labelIndex, labelSketches,
      scopedRange)

  /** The `WithMaterializedLabelsFilterCallback` analog
    * (queryable/parquet_queryable.go:104-110): a predicate over the
    * LABEL columns that every query path — select, selectStrict,
    * selectSeries, labelNames, labelValues, labelCardinality —
    * applies on top of the matchers. This is the tenancy/ACL seam: a
    * filter the caller cannot express as matchers (e.g. a UDF-free
    * `col("tenant").isin(...)` from an entitlement table) rides into
    * the same pushed-down scan, so "filter after materialization"
    * costs nothing extra at 100 TB when the predicate is
    * Catalyst-expressible. Returns a NEW queryable.
    */
  def withMaterializedLabelsFilterCallback(pred: Column): TsdbQueryable =
    new TsdbQueryable(df, labelCols, tsCol, valueCol,
      materializedSeriesCallback, selectionCache, Some(pred), bucketCol,
      bucketDuration, labelIndex, labelSketches, scopedRange)

  /** Attach a [[SelectionCache]] (the reference's
    * WithRowRangesForConstraintsCache option,
    * queryable/parquet_queryable.go:112 analog): selects with the same
    * (time range, matchers, projection) reuse one materialized
    * selection. Returns a NEW queryable; the receiver is unchanged.
    */
  def withSelectionCache(cache: SelectionCache): TsdbQueryable =
    new TsdbQueryable(df, labelCols, tsCol, valueCol,
      materializedSeriesCallback, Some(cache), labelsFilter, bucketCol,
      bucketDuration, labelIndex, labelSketches, scopedRange)

  /** Attach a materialized [[LabelIndexStore]] frame (built over the
    * SAME labelCols as this queryable): the three label-metadata
    * paths — labelNames / labelValues / labelCardinality — then
    * serve from index rows instead of scanning a full label column,
    * the reference's dictionary-page materialization capability
    * (search/materialize.go:320,358 walks dictionaries, never data
    * pages). Routing is SILENT and never changes answers: it applies
    * only when no matchers and no ACL filter constrain the rows
    * (cross-column information the per-label index does not hold)
    * and, for cardinality, only to the exact variant — everything
    * else falls back to the raw scan. Returns a NEW queryable.
    */
  def withLabelIndex(index: DataFrame): TsdbQueryable =
    new TsdbQueryable(df, labelCols, tsCol, valueCol,
      materializedSeriesCallback, selectionCache, labelsFilter, bucketCol,
      bucketDuration, Some(index), labelSketches, scopedRange)

  /** Attach a [[LabelIndexStore.writeSketches]] HLL frame: the
    * APPROXIMATE cardinality path ([[labelCardinality]] with
    * `exact = false`) then unions stored per-bucket registers —
    * buckets × labels fixed-size rows — instead of running a sketch
    * pass over the raw table. Same silent-eligibility rule as the
    * pair index (no matchers, no ACL filter); the raw
    * `approx_count_distinct` scan remains the fallback. Returns a
    * NEW queryable.
    */
  def withLabelSketches(sketches: DataFrame): TsdbQueryable =
    new TsdbQueryable(df, labelCols, tsCol, valueCol,
      materializedSeriesCallback, selectionCache, labelsFilter, bucketCol,
      bucketDuration, labelIndex, Some(sketches), scopedRange)

  /** The reference QUERIER model: `NewQuerier(mint, maxt)` scopes
    * every path — selects AND label metadata — to one time range
    * (queryable/parquet_queryable.go:153 constructs per-range
    * queriers; LabelValues/LabelNames answer within the querier's
    * range). Returns a NEW queryable over the range-filtered table;
    * when a bucket column is declared the filter carries the literal
    * partition-range predicate, so every downstream path prunes
    * directories.
    *
    * The label index/sketch layers stay attached only when
    * `[mintMs, maxtMs)` is ALIGNED to whole index buckets: index rows
    * are bucket-grain, so a partial bucket would enumerate values
    * from the excluded remainder. (Upstream answers label APIs at
    * BLOCK grain — a superset for partial ranges; graft keeps its
    * stricter invariant instead: routing never changes answers vs the
    * raw scoped scan, so unaligned ranges silently drop to raw.)
    */
  def scopedTo(mintMs: Long, maxtMs: Long): TsdbQueryable = {
    require(maxtMs > mintMs, s"empty range [$mintMs, $maxtMs)")
    // nested scoping intersects (the narrower querier wins)
    val (lo, hi) = scopedRange match {
      case Some((s, e)) => (math.max(s, mintMs), math.min(e, maxtMs))
      case None => (mintMs, maxtMs)
    }
    require(hi > lo, s"scopes [$mintMs, $maxtMs) and $scopedRange " +
      "do not overlap")
    val widthMs = TsdbConverter.durationSeconds(bucketDuration) * 1000L
    val ts = col(tsCol) >= timestamp_millis(lit(mintMs)) &&
      col(tsCol) < timestamp_millis(lit(maxtMs))
    val pred = bucketCol match {
      case Some(b) => ts && col(b).between(
        Math.floorDiv(mintMs, widthMs), Math.floorDiv(maxtMs - 1, widthMs))
      case None => ts
    }
    // the index/sketch layers are NOT pruned here: they prune lazily
    // in the eligibility checks below, so a layer attached AFTER
    // scoping is scoped identically to one attached before
    new TsdbQueryable(df.filter(pred), labelCols, tsCol, valueCol,
      materializedSeriesCallback, selectionCache, labelsFilter, bucketCol,
      bucketDuration, labelIndex, labelSketches, Some((lo, hi)))
  }

  /** The scope's bucket pruning for a metadata layer, when the scope
    * aligns to whole buckets: index/sketch rows are bucket-grain, so
    * a partial bucket would enumerate values from the excluded
    * remainder — unaligned scopes disqualify routing (None), and the
    * caller falls back to the raw scoped scan.
    */
  private def scopedLayer(layer: DataFrame): Option[DataFrame] =
    scopedRange match {
      case None => Some(layer)
      case Some((s, e)) =>
        val widthMs = TsdbConverter.durationSeconds(bucketDuration) * 1000L
        if (s % widthMs == 0 && e % widthMs == 0)
          Some(layer.filter(col("bucket").between(
            Math.floorDiv(s, widthMs), Math.floorDiv(e - 1, widthMs))))
        else None
    }

  /** The routed index frame when eligibility holds: no matchers, no
    * ACL filter, an index attached — restricted to this queryable's
    * labelCols (an index built over a superset stays usable).
    */
  private def indexFor(matchers: Seq[Matcher]): Option[DataFrame] =
    labelIndex match {
      case Some(idx) if matchers.isEmpty && labelsFilter.isEmpty =>
        scopedLayer(idx.filter(col("label_name").isin(labelCols: _*)))
      case _ => None
    }

  /** A matcher rebound to a different physical column — how a
    * SAME-LABEL constraint applies at index grain: the predicate
    * runs against the stored `label_value` strings instead of the
    * raw table's label column.
    */
  private def rebind(m: Matcher, c: String): Matcher = m match {
    case Matcher.Eq(_, v) => Matcher.Eq(c, v)
    case Matcher.Neq(_, v) => Matcher.Neq(c, v)
    case Matcher.Re(_, p) => Matcher.Re(c, p)
    case Matcher.Nre(_, p) => Matcher.Nre(c, p)
  }

  /** The routed index frame for `labelValues(name, matchers)` when
    * every matcher constrains ONLY the enumerated label itself — the
    * autocomplete-with-prefix idiom (`label_values(user_id,
    * user_id=~"u1.*")`). A same-label constraint is a predicate on
    * the value being enumerated, so it evaluates at index grain with
    * no cross-column information needed; matchers naming ANY other
    * label still disqualify routing (the index has no row linkage).
    * Exactness guard: only STRING label columns route — on a numeric
    * column the raw path compares in the native type (where "05" ==
    * 5) while the index stores canonical strings, so non-string
    * labels fall back to the raw scan silently.
    */
  private def sameLabelIndexFor(name: String,
      matchers: Seq[Matcher]): Option[(DataFrame, Option[Column])] =
    labelIndex match {
      case Some(idx) if matchers.nonEmpty &&
          matchers.forall(_.label == name) && labelsFilter.isEmpty &&
          df.schema.fields.exists(f => f.name == name &&
            f.dataType == org.apache.spark.sql.types.StringType) =>
        scopedLayer(idx.filter(col("label_name").isin(labelCols: _*)))
          .map(i => (i, Matcher.compile(matchers.map(rebind(_, "label_value")))))
      case _ => None
    }

  /** Cache key — the constraintsCacheKey analog
    * (search/constraint_cache.go:24-33): there
    * `<shard>:rgidx-<i>:<constraints...>`, here the canonicalized
    * source-plan hash stands in for the shard name (same role: WHICH
    * data), and range + matchers + projection are the constraints.
    * Like the reference's keys, the callback is NOT encoded — a cache
    * is wired to one queryable configuration; don't share one
    * instance across queryables with different callbacks.
    */
  private def selectKey(mint: String, maxt: String,
      matchers: Seq[Matcher], labels: Seq[String]): String =
    (df.queryExecution.analyzed.semanticHash().toString +:
      s"$mint/$maxt" +:
      (matchers.map(_.toString) ++ labels ++
        labelsFilter.map(_.toString).toSeq)).mkString(":")

  private def withMatchers(matchers: Seq[Matcher]): DataFrame = {
    val matched = Matcher.compile(matchers).map(df.filter).getOrElse(df)
    labelsFilter.map(matched.filter).getOrElse(matched)
  }

  private def inRange(mint: String, maxt: String): Column = {
    val ts = col(tsCol) >= lit(mint).cast("timestamp") &&
      col(tsCol) < lit(maxt).cast("timestamp")
    bucketCol match {
      case Some(b) =>
        // bucket range: partition-directory pruning the ts predicate
        // alone cannot provide on a derived partition column. The
        // bounds are built from the SAME `lit(s).cast("timestamp")`
        // the ts predicate uses — one parser, one session timezone —
        // as constant-foldable expressions Catalyst reduces to
        // literals before partition pruning runs. Integer µs math:
        // bucket = floor(epoch_sec/width) and nested-floor gives
        // floor(µs/widthµs) == it for positive epochs; maxt is
        // exclusive at FULL µs precision, hence the -1 on micros,
        // not on a millisecond truncation. Two-stage floor
        // (µs→sec→bucket) instead of one µs/widthµs division: at
        // each stage the unit gap (1µs vs 1e6; 1s vs width) is far
        // above double epsilon at the quotient's magnitude, so the
        // boundary cases floor exactly — a single division by
        // width·1e6 can misround 1µs-off-boundary values.
        val secs = TsdbConverter.durationSeconds(bucketDuration)
        val lo = floor(unix_timestamp(lit(mint).cast("timestamp")) / secs)
        val hi = floor(
          floor((unix_micros(lit(maxt).cast("timestamp")) - 1) / 1000000L)
            / secs)
        ts && col(b) >= lo && col(b) <= hi
      case None => ts
    }
  }

  /** Select samples of all series matching `matchers` within
    * [mint, maxt), projected to `projection` label columns (the
    * reference's projection hints, parquet_queryable.go:120
    * WithHonorProjectionHints / materialize.go:179
    * FilterSeriesLabels) and capped at `rowQuota` rows when > 0 (the
    * reference's row-count quota, search/limits.go:52 NewQuota —
    * there an error budget, here an enforced limit after a
    * deterministic sort).
    */
  def select(mint: String, maxt: String, matchers: Seq[Matcher],
      projection: Seq[String] = Nil, rowQuota: Long = 0L,
      sorted: Boolean = true): DataFrame = {
    val labels = if (projection.nonEmpty) projection else labelCols
    def materialize: DataFrame = materializedSeriesCallback(
      withMatchers(matchers)
        .filter(inRange(mint, maxt))
        .select((labels :+ tsCol :+ valueCol).map(col): _*))
    val base = selectionCache match {
      case Some(c) =>
        c.getOrMaterialize(selectKey(mint, maxt, matchers, labels), materialize)
      case None => materialize
    }
    if (rowQuota > 0L) {
      val capped = math.min(rowQuota, Int.MaxValue.toLong).toInt
      // `sorted` mirrors the reference's Select(sorted, ...) hint
      // (parquet_queryable.go:153): a sorted quota is deterministic
      // but costs a global top-k; unsorted is the reference's plain
      // budget-truncation and stays a local limit per scan task —
      // the right call at 100 TB when the caller just wants a cap.
      // value is appended as a tiebreak: (labels, ts) alone is not a
      // total order, so rows tied at the LIMIT boundary would be
      // partition-dependent. With it, any residual tie means the
      // whole projected row is identical and the choice is immaterial.
      if (sorted)
        base.orderBy((labels :+ tsCol :+ valueCol).map(col): _*).limit(capped)
      else base.limit(capped)
    } else base
  }

  /** Varargs convenience overload. */
  def select(mint: String, maxt: String, matchers: Matcher*): DataFrame =
    select(mint, maxt, matchers.toSeq, Nil, 0L)

  /** Series-only select — the reference's `skipChunks` fast path
    * serving `/api/v1/series` (queryable/parquet_queryable.go:322:
    * when `hints.Func == "series"` the materializer returns label
    * sets WITHOUT reading chunk bytes; materialize.go:164
    * MaterializeSeries). In the row model "chunks" are the sample
    * payload: the distinct label sets matching `matchers` within
    * [mint, maxt) are computed from a scan that projects only the
    * label columns plus the `ts` predicate column — the `value`
    * column never enters ReadSchema (PlanAudit-asserted), so at
    * 100 TB this reads the dictionary-encoded label columns and the
    * timestamp column only, and the distinct partial-aggregates
    * map-side down to series cardinality before the one shuffle.
    */
  def selectSeries(mint: String, maxt: String, matchers: Seq[Matcher],
      projection: Seq[String] = Nil, limit: Int = 0): DataFrame = {
    val labels = if (projection.nonEmpty) projection else labelCols
    val base = withMatchers(matchers)
      .filter(inRange(mint, maxt))
      .select(labels.map(col): _*)
      .distinct()
      .orderBy(labels.map(col): _*)
    if (limit > 0) base.limit(limit) else base
  }

  // Estimated in-memory byte width of one value of a column — the
  // basis of the byte-denominated budgets. Strings/binary meter
  // their actual payload; fixed-width types their type width.
  private def byteWidth(name: String): Column = {
    import org.apache.spark.sql.types.{BinaryType, StringType}
    df.schema(name).dataType match {
      case StringType | BinaryType =>
        coalesce(octet_length(col(name)).cast("long"), lit(0L))
      case t => lit(t.defaultSize.toLong)
    }
  }

  /** Reference error-budget semantics (search/limits.go:44-76
    * NewQuota and its three budgets — rows, chunk bytes, data bytes —
    * wired at parquet_queryable.go:401): FAIL the query when the
    * selection exceeds a quota instead of silently truncating.
    *
    *   - `rowQuota`: result row count.
    *   - `chunkBytesQuota`: bytes of sample payload — the (ts, value)
    *     pairs, 16 bytes each (the long-format analog of the
    *     reference's encoded-chunk bytes budget).
    *   - `dataBytesQuota`: everything materialized — sample payload
    *     plus the projected label columns at their actual widths.
    *
    * With only `rowQuota` set the check is one counting pass capped
    * at rowQuota+1 rows. A byte quota requires metering the full
    * selection: still ONE aggregate job emitting a single row (all
    * three meters partial-aggregate map-side), paid at budget scale,
    * not data scale.
    */
  @throws[QuotaExceededException]
  def selectStrict(mint: String, maxt: String, matchers: Seq[Matcher],
      projection: Seq[String] = Nil, rowQuota: Long = 0L,
      chunkBytesQuota: Long = 0L, dataBytesQuota: Long = 0L): DataFrame = {
    val base = select(mint, maxt, matchers, projection, 0L)
    if (chunkBytesQuota > 0L || dataBytesQuota > 0L) {
      val labels = if (projection.nonEmpty) projection else labelCols
      val sampleBytes = lit(16L) // ts (8) + value (8) per sample
      val rowBytes = labels.map(byteWidth).fold(sampleBytes)(_ + _)
      val m = base.agg(
        count(lit(1)).as("_rows"),
        coalesce(sum(sampleBytes), lit(0L)).as("_chunk_bytes"),
        coalesce(sum(rowBytes), lit(0L)).as("_data_bytes")).head()
      val (rows, chunkB, dataB) = (m.getLong(0), m.getLong(1), m.getLong(2))
      if (rowQuota > 0L && rows > rowQuota)
        throw new QuotaExceededException(
          s"select would materialize $rows rows (quota $rowQuota)")
      if (chunkBytesQuota > 0L && chunkB > chunkBytesQuota)
        throw new QuotaExceededException(
          s"select would materialize $chunkB sample bytes (quota $chunkBytesQuota)")
      if (dataBytesQuota > 0L && dataB > dataBytesQuota)
        throw new QuotaExceededException(
          s"select would materialize $dataB data bytes (quota $dataBytesQuota)")
    } else if (rowQuota > 0L) {
      val probe = math.min(rowQuota, Int.MaxValue.toLong - 1).toInt
      if (base.limit(probe + 1).count() > rowQuota)
        throw new QuotaExceededException(
          s"select would materialize more than $rowQuota rows")
    }
    base
  }

  /** Label names that have at least one non-null value among rows
    * matching `matchers` (reference: materialize.go:273
    * MaterializeLabelNames). ONE aggregation pass: count per label
    * column in a single row, explode it as a name→count map, keep
    * non-empty. No per-label re-scan.
    */
  def labelNames(matchers: Matcher*): DataFrame =
    labelNames(matchers.toSeq, 0)

  /** As [[labelNames]] with a result-count quota (the reference's
    * limit plumbing on the LabelNames path,
    * parquet_queryable.go:75-90).
    */
  def labelNames(matchers: Seq[Matcher], limit: Int): DataFrame = {
    indexFor(matchers).foreach { idx =>
      return LabelIndexStore.labelNames(idx, limit)
    }
    val counts = withMatchers(matchers)
      .agg(count(col(labelCols.head)).as(labelCols.head),
        labelCols.tail.map(c => count(col(c)).as(c)): _*)
    val base = counts
      .select(explode(map(
        labelCols.flatMap(c => Seq(lit(c), col(c))): _*))
        .as(Seq("label_name", "_cnt")))
      .filter(col("_cnt") > 0)
      .select("label_name")
      .orderBy("label_name")
    if (limit > 0) base.limit(limit) else base
  }

  /** Distinct values of one label among rows matching `matchers`
    * (reference: materialize.go:320 MaterializeLabelValues), sorted,
    * optionally limited (search/limits.go quota analog).
    */
  def labelValues(name: String, matchers: Seq[Matcher] = Nil,
      limit: Int = 0): DataFrame = {
    // the index only holds labelCols — enumerating any OTHER df
    // column must take the raw path or it would answer empty
    if (labelCols.contains(name)) {
      indexFor(matchers).foreach { idx =>
        return LabelIndexStore.labelValues(idx, name, limit)
      }
      sameLabelIndexFor(name, matchers).foreach { case (idx, pred) =>
        return LabelIndexStore.labelValues(
          pred.map(idx.filter).getOrElse(idx), name, limit)
      }
    }
    val base = withMatchers(matchers)
      .select(col(name).cast("string").as("label_value"))
      .filter(col("label_value").isNotNull)
      .distinct()
      .orderBy("label_value")
    if (limit > 0) base.limit(limit) else base
  }

  /** Per-label distinct-value cardinality under matchers — the
    * statistic a planner or UI asks BEFORE enumerating values (is
    * this label safe to autocomplete? how selective is a matcher on
    * it?). `exact = true` computes `count(DISTINCT label)` for every
    * label in ONE aggregation (Catalyst expands multi-distinct via
    * grouping-id partial aggregation — still a single scan).
    * `exact = false` switches to HyperLogLog++
    * (`approx_count_distinct`, relative error `rsd`) — the 100 TB
    * path: a fixed-size sketch per label, map-side mergeable, one
    * narrow pass and one sketch-sized exchange regardless of value
    * cardinality (a billion-user `user_id` label never shuffles its
    * values). Spec-pinned within 5% of exact on the events fixture.
    */
  def labelCardinality(matchers: Seq[Matcher] = Nil, exact: Boolean = true,
      rsd: Double = 0.02): DataFrame = {
    // the raw path emits a 0 row for an all-null label; index/sketch
    // rows only exist where values do, so rebuild the full label list
    def allNames = df.sparkSession
      .createDataset(labelCols)(org.apache.spark.sql.Encoders.STRING)
      .toDF("label_name")
    def zeroFilled(served: DataFrame) =
      allNames.join(served, Seq("label_name"), "left")
        .select(col("label_name"),
          coalesce(col("cardinality"), lit(0L)).as("cardinality"))
        .orderBy("label_name")
    if (exact) indexFor(matchers).foreach { idx =>
      return zeroFilled(LabelIndexStore.labelCardinality(idx))
    }
    if (!exact && matchers.isEmpty && labelsFilter.isEmpty)
      labelSketches.flatMap(sk => scopedLayer(
          sk.filter(col("label_name").isin(labelCols: _*))))
        .foreach { sk =>
          // the sketch LAYER: union stored per-bucket registers — one
          // fixed-size row per (bucket, label), never a value scan
          return zeroFilled(LabelIndexStore.approxLabelCardinality(sk))
        }
    val src = withMatchers(matchers)
    val aggs = labelCols.map { c =>
      (if (exact) countDistinct(col(c))
       else approx_count_distinct(col(c), rsd)).cast("long").as(c)
    }
    src.agg(aggs.head, aggs.tail: _*)
      .select(explode(map(
        labelCols.flatMap(c => Seq(lit(c), col(c))): _*))
        .as(Seq("label_name", "cardinality")))
      .orderBy("label_name")
  }
}
