package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine. Designed
  * shuffle-first: every variant keys its one shuffle on a
  * high-cardinality column (content hash, shingle, LSH bucket) so
  * there are no hot keys at 100 TB; nothing collects to the driver;
  * nothing is pinned in executor memory (no .cache() — identical
  * subplans are shared by Catalyst's ReuseExchange instead).
  */
object Dedup {

  /** Content key for exact-dup grouping: SHA-256, not MD5 — MD5
    * collisions are practically constructible, and a collision here
    * silently merges two DISTINCT documents into one "exact
    * duplicate" group (reported as jaccard-1.0 pairs and excluded
    * from real near-dup scoring). The embedding path avoids the
    * question entirely by grouping on the vector value itself.
    */
  private[graft] def contentKey(text: Column): Column = sha2(text, 256)

  /** Exact dedup: rank rows within identical-content groups so
    * `dup_rank > 1` rows can be dropped. One hash-shuffle.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val h = contentKey(col(textCol))
    val w = Window.partitionBy(h).orderBy(col(idCol))
    df.select(col(idCol), h.as("content_hash"),
      row_number().over(w).as("dup_rank"))
  }

  /** [[exact]]'s keep-set applied to the FULL rows: one row (smallest
    * id) survives per distinct content. Same window as [[exact]], but
    * the rows themselves ride through it — one shuffle total, versus
    * scoring ids with [[exact]] and semi-joining the winners back
    * (two shuffles and a join). The shape pipelines want.
    */
  def exactCollapse(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(contentKey(col(textCol))).orderBy(col(idCol))
    df.withColumn("_dup_rank", row_number().over(w))
      .filter(col("_dup_rank") === 1).drop("_dup_rank")
  }

  /** All character n-gram shingle occurrences per document (with
    * duplicates): a pure narrow map, no shuffle. Use when the
    * consumer is idempotent over duplicates (min-hash).
    */
  def shingleOccurrences(df: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame =
    df.select(col(idCol),
      explode(graft.functions.NgramShingles.ngramShingles(col(textCol), n))
        .as("shingle"))

  /** Per-document distinct-shingle SET as an array column — one
    * native-expression pass per row ([[graft.functions.NgramShingles]]),
    * so set semantics cost ZERO shuffle: dedup happens within the
    * row, not across the corpus. The 100 TB win over
    * explode-then-distinct is a full corpus-sized exchange.
    */
  def shingleSet(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    df.select(col(idCol),
      graft.functions.NgramShingles.ngramShingleSet(col(textCol), n).as("sh_set"))

  /** Distinct character n-gram shingles per document: one row per
    * (id, shingle) — [[shingleSet]] exploded. Narrow map, no
    * shuffle: the per-row set dedup replaces what used to be a
    * corpus-wide `distinct` exchange.
    */
  def shingles(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    shingleSet(df, textCol, idCol, n)
      .select(col(idCol), explode(col("sh_set")).as("shingle"))

  /** [[shingles]] with stop-shingles removed: any shingle whose
    * document frequency exceeds `dfCap` is dropped BEFORE any join.
    *
    * This is the anti-hot-key guard for 100 TB: shingle document
    * frequency is Zipfian ("the ", " and" appear in ~every doc), so
    * an uncapped inverted-index self-join is a disguised cartesian
    * product on those keys. Capping df bounds the per-shingle join
    * fan-out at dfCap², making the shuffle-key distribution flat —
    * the standard trick in near-dup pipelines. Jaccard downstream is
    * computed over this capped shingle universe (set sizes counted
    * AFTER the cap), which is the semantics the oracle mirrors.
    */
  def cappedShingles(df: DataFrame, textCol: String, idCol: String,
      n: Int, dfCap: Long): DataFrame = {
    val sh = shingles(df, textCol, idCol, n)
    // hot-shingle list via partial-aggregating groupBy, then an
    // anti-join to drop them: cheaper than a count-over-window (which
    // sorts the full inverted index within partitions), and the hot
    // list is a small fraction of the shingle universe so AQE turns
    // the anti-join into a broadcast at any realistic cap.
    val hot = sh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") > dfCap)
      .select(col("shingle"))
    sh.join(hot, Seq("shingle"), "left_anti")
  }

  /** n-gram Jaccard near-duplicate pairs above `threshold`, over the
    * df-capped shingle universe (see [[cappedShingles]] — the cap is
    * mandatory; there is no uncapped all-pairs form).
    *
    * Inverted index on shingle → per-pair intersection count →
    * |A∩B| / (|A|+|B|-|A∩B|). The shingle join is the only shuffle
    * and with the cap its key has corpus-scale cardinality and
    * bounded fan-out. At 100 TB, prefer [[minHashLsh]] for candidate
    * generation and [[jaccardVerify]] to score only those pairs; the
    * math here is identical.
    *
    * Exact duplicates are collapsed BEFORE shingling, so document
    * frequency counts DISTINCT CONTENTS. This is both the scale
    * guard (a duplicate cluster contributes one inverted-index entry
    * per shingle, not M) and a correctness fix: with per-document df,
    * a duplicate cluster larger than `dfCap` would push every one of
    * its shingles over the cap and the cluster's pairs — the most
    * duplicated content in the corpus — would silently vanish from
    * the output. Member pairs are expanded back afterwards
    * (intra-cluster pairs at jaccard 1.0).
    */
  def ngramJaccard(df: DataFrame, textCol: String, idCol: String,
      n: Int, threshold: Double, dfCap: Long): DataFrame = {
    val keyed = df.select(contentKey(col(textCol)).as("_ck"), col(idCol), col(textCol))
    val reps = keyed.groupBy(col("_ck"))
      .agg(min(col(idCol)).as(idCol), first(col(textCol)).as(textCol))
    val memberOf = reps.select(col("_ck"), col(idCol).as("_rid"))
      .join(keyed.select(col("_ck"), col(idCol).as("_mid")), "_ck")
      .select(col("_rid"), col("_mid"))
    // NOTE on prefix filtering: the AllPairs/PPJoin prefix trick
    // (index only each doc's |A|-⌈t·|A|⌉+1 rarest shingles) was
    // measured here and LOST to the capped inverted index on this
    // corpus shape — a sub-1k shingle universe where the df-cap
    // already bounds the join, so the extra per-doc sort and df join
    // were pure overhead. With the cap the join output is bounded by
    // Σ_shingle df² ≤ |universe|·dfCap²; [[minHashLsh]] remains the
    // scale path for corpora where that bound is not small.
    // materialize the capped inverted index ONCE: it is the bounded
    // intermediate of this pipeline (≤ |universe|·dfCap rows by
    // construction), and it is referenced three times below (both
    // sides of the self-join + the size table). Without cutting
    // lineage the expensive part — the shingle explode + distinct
    // shuffle + df-count over the RAW corpus — is re-derived per
    // reference. Same pattern as minHashNearDup's candidate set; at
    // 100 TB this is a temp-table write between the index-build and
    // pair-count jobs.
    // EAGER checkpoint: a lazy one lets AQE's concurrently-submitted
    // stage jobs (both join sides need `sh`) race to materialize the
    // same partitions — the loser's task completion then reports
    // accumulators the winner's lineage-truncation already released,
    // logging "non-existent accumulator" ERRORs at the scheduler.
    // Eager materializes under ONE job before any consumer; same
    // total work since the cut is always consumed.
    val sh = cappedShingles(reps, textCol, idCol, n, dfCap)
      .localCheckpoint()
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col(idCol).as("rid_a"), col("shingle"))
    val b = sh.select(col(idCol).as("rid_b"), col("shingle"))
    val inter = a.join(b, "shingle")
      .filter(col("rid_a") < col("rid_b"))
      .groupBy("rid_a", "rid_b").agg(count(lit(1)).as("inter"))
    val repPairs = inter
      .join(sizes.select(col(idCol).as("rid_a"), col("n_sh").as("na")), "rid_a")
      .join(sizes.select(col(idCol).as("rid_b"), col("n_sh").as("nb")), "rid_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("rid_a"), col("rid_b"), col("jaccard"))
    expandPairs(repPairs, memberOf, Seq("jaccard"), Seq(lit(1.0)))
  }

  /** Exact Jaccard for an explicit candidate-pair set only — the
    * verify step of the two-phase 100 TB path: [[minHashLsh]]
    * proposes pairs (corpus-scale bucketed shuffle), this scores
    * them (a join against per-doc shingle sets, proportional to the
    * candidate count, never to N²).
    *
    * `candidates` must have columns (id_a, id_b).
    */
  def jaccardVerify(candidates: DataFrame, df: DataFrame, textCol: String,
      idCol: String, n: Int): DataFrame = {
    // build shingle sets ONLY for documents that appear in a
    // candidate pair (semi-join pre-filter): the set projection runs
    // at candidate scale, not corpus scale — on a 100 TB corpus with
    // a bounded candidate set this is the difference between
    // re-shingling everything and re-shingling the near-dup suspects.
    // The set itself is a single projection ([[shingleSet]]), so the
    // only shuffles here are the semi-join and the pair joins.
    val wanted = candidates.select(col("id_a").as(idCol))
      .union(candidates.select(col("id_b").as(idCol)))
      .distinct()
    val sets = shingleSet(df.join(wanted, Seq(idCol), "left_semi"),
      textCol, idCol, n)
    candidates.select("id_a", "id_b")
      .join(sets.select(col(idCol).as("id_a"), col("sh_set").as("set_a")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("sh_set").as("set_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (size(col("set_a")) + size(col("set_b")) - col("inter")).cast("double"), 4))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** MinHash signature as ONE narrow projection per row
    * ([[graft.functions.MinHashSignature]]): shingle set + k affine
    * permutations folded row-locally — ZERO shuffle at any corpus
    * size. Bit-identical to the old explode+groupBy formulation
    * (min over distinct shingles == min over occurrences; same hash
    * chain), which used to push every (id, shingle) occurrence
    * through an exchange just to take k row-local minima.
    */
  def minHashSignatureArrays(df: DataFrame, textCol: String, idCol: String,
      n: Int, k: Int): DataFrame =
    shingleSet(df, textCol, idCol, n)
      // a document shorter than the shingle width has an EMPTY set:
      // no row in the explode+groupBy form, and the sentinel
      // signature all such docs would share must never reach the
      // bander (it would pair every short doc with every other one)
      .filter(size(col("sh_set")) > 0)
      .select(col(idCol),
        graft.functions.MinHashSignature.minhashSignature(col("sh_set"), k)
          .as("sig"))

  /** [[minHashSignatureArrays]] with the signature spread into
    * `h0..h{k-1}` columns (the probe/spec-facing shape).
    */
  def minHashSignatures(df: DataFrame, textCol: String, idCol: String,
      n: Int, k: Int): DataFrame =
    minHashSignatureArrays(df, textCol, idCol, n, k)
      .select(col(idCol) +:
        (0 until k).map(i => element_at(col("sig"), i + 1).as(s"h$i")): _*)

  // ===== scale guards shared by the banded (LSH) self-joins =====
  //
  // Near-dup corpora are duplicate-heavy BY DEFINITION, and a cluster
  // of M exact duplicates shares every band — an unguarded band
  // self-join produces M²/2 pairs per band, a cartesian product in
  // disguise at 100 TB. Two composed guards close it:
  //   1. exact-dup collapse: band only one representative per
  //      distinct content; expand representative pairs back to
  //      member pairs afterwards (the output is unchanged — exact
  //      duplicates have identical signatures/fingerprints, so every
  //      member inherits its representative's pairs and scores).
  //      The join now scales with DISTINCT content, and the
  //      worst-case corpus (everything identical) becomes the
  //      cheapest.
  //   2. bucketCap: buckets of near-identical-but-not-equal content
  //      beyond `cap` representatives are dropped entirely, with the
  //      drop surfaced as an observed metric (Spark UI / listener —
  //      no silent truncation, no extra job). The reference bounds
  //      its search joins the same way via page pruning
  //      (search/constraint.go:55-102).

  /** Drop LSH buckets with more than `cap` members. Dropped bucket
    * and row counts are published as the observed metric `metric`
    * (columns dropped_buckets / dropped_rows); `cap <= 0` disables.
    */
  // Observed-metric names must be unique within one query plan:
  // composing the same operator twice (union/join of two minHashLsh
  // outputs) would otherwise register duplicate observations and fail
  // analysis. A process-wide counter suffixes every invocation.
  private val metricSeq = new java.util.concurrent.atomic.AtomicLong()

  private[graft] def capBuckets(banded: DataFrame, keys: Seq[String],
      cap: Int, metric: String): DataFrame =
    if (cap <= 0) banded
    else {
      // hot-bucket list via partial agg; AQE broadcasts the anti-join
      // (same shape as cappedShingles' df-cap)
      val hot = banded.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_bn"))
        .filter(col("_bn") > cap)
        .observe(s"${metric}_${metricSeq.incrementAndGet()}",
          count(lit(1)).as("dropped_buckets"),
          coalesce(sum(col("_bn")), lit(0L)).as("dropped_rows"))
      banded.join(hot.select(keys.map(col): _*), keys, "left_anti")
    }

  /** Expand representative-level pairs to member-level pairs.
    *   - `repPairs`: (rid_a, rid_b, score…) over representatives;
    *   - `memberOf`: (_rid, _mid) mapping every member to its
    *     group's representative;
    *   - intra-group pairs (members of one exact-dup group) get
    *     `identicalScore` per score column.
    * Joins are keyed on representative id (corpus-scale cardinality,
    * fan-out = group size — exactly the output's own scale).
    */
  private[graft] def expandPairs(repPairs: DataFrame, memberOf: DataFrame,
      scoreCols: Seq[String], identicalScore: Seq[Column]): DataFrame = {
    // the member map is referenced FOUR times below (both pair
    // orientations + both sides of the intra-group self-join); its
    // derivation is a corpus shuffle (rep-collapse agg + join), so
    // materialize it once — output-scale rows (_rid, _mid), the same
    // bounded-intermediate convention as the candidate-set
    // checkpoints. Eager, to avoid the AQE stage-race the ngramJaccard
    // note documents.
    val m0 = memberOf.select(col("_rid"), col("_mid")).localCheckpoint()
    val cross = repPairs
      .join(m0.select(col("_rid").as("rid_a"), col("_mid").as("_ma")), "rid_a")
      .join(m0.select(col("_rid").as("rid_b"), col("_mid").as("_mb")), "rid_b")
      .select(least(col("_ma"), col("_mb")).as("id_a") +:
        greatest(col("_ma"), col("_mb")).as("id_b") +: scoreCols.map(col): _*)
    val m = m0
    val intra = m.as("p").join(m.as("q"),
        col("p._rid") === col("q._rid") && col("p._mid") < col("q._mid"))
      .select(col("p._mid").as("id_a") +: col("q._mid").as("id_b") +:
        identicalScore.zip(scoreCols).map { case (c, nm) => c.as(nm) }: _*)
    cross.unionByName(intra)
  }

  /** MinHash + LSH candidate pairs: split the k-wide signature into
    * `bands` bands, bucket by (band, hash(band slice)), emit pairs
    * sharing any bucket, with the signature-estimated Jaccard.
    * Shuffle key (band, bandHash) has corpus-scale cardinality —
    * this is the 100 TB near-dup path. `bands` must divide `k` so no
    * signature hash is silently dropped. Exact duplicates are
    * collapsed before banding and buckets capped at `bucketCap`
    * distinct contents (see the scale-guard note above).
    */
  def minHashLsh(df: DataFrame, textCol: String, idCol: String,
      n: Int = 4, k: Int = 32, bands: Int = 8,
      bucketCap: Int = 10000): DataFrame = {
    val (repPairs, memberOf) =
      minHashLshReps(df, textCol, idCol, n, k, bands, bucketCap)
    expandPairs(repPairs, memberOf, Seq("est_jaccard"), Seq(lit(1.0)))
  }

  /** Representative-level banded candidates + the member mapping —
    * the building block [[minHashLsh]] and [[minHashNearDup]] share
    * so the latter can run its estimate filter and exact verify at
    * DISTINCT-CONTENT scale and expand member pairs only at the end.
    */
  private[graft] def minHashLshReps(df: DataFrame, textCol: String, idCol: String,
      n: Int, k: Int, bands: Int, bucketCap: Int,
      minEst: Double = Double.NegativeInfinity): (DataFrame, DataFrame) = {
    val keyed = df.select(contentKey(col(textCol)).as("_ck"), col(idCol), col(textCol))
    val reps = keyed.groupBy(col("_ck"))
      .agg(min(col(idCol)).as(idCol), first(col(textCol)).as(textCol))
    val memberOf = reps.select(col("_ck"), col(idCol).as("_rid"))
      .join(keyed.select(col("_ck"), col(idCol).as("_mid")), "_ck")
      .select(col("_rid"), col("_mid"))
    (bandedRepPairs(reps, textCol, idCol, n, k, bands, bucketCap, minEst),
      memberOf)
  }

  /** Banded candidate pairs over an input that is ALREADY
    * content-distinct — the core of [[minHashLshReps]] without the
    * rep-collapse shuffle. Callers that have run exact dedup upstream
    * (e.g. [[Pipeline.corpusClean]], whose manifest is distinct by
    * construction) hit this directly and skip a full corpus shuffle
    * plus the member-expansion joins that would all be identity
    * no-ops.
    *
    * `minEst`: estimate threshold applied BETWEEN the join projection
    * and the pair dedup. The estimate is deterministic per pair, so
    * filter-then-dedup ≡ dedup-then-filter — but the filtered form
    * sends only surviving candidates through the dedup exchange. On
    * vocabulary-heavy corpora the banded join's false-positive
    * candidates outnumber survivors by 1000× (554k → 545 on the sf0.1
    * documents table), so this is the difference between shuffling
    * the candidate blowup and shuffling the answer.
    */
  private def bandedRepPairs(reps: DataFrame, textCol: String, idCol: String,
      n: Int, k: Int, bands: Int, bucketCap: Int,
      minEst: Double = Double.NegativeInfinity): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    val rows = k / bands
    val sigs = minHashSignatureArrays(reps, textCol, idCol, n, k)
    // Carry the signature THROUGH the banding so the pair join yields
    // (id_a, id_b, sig_a, sig_b) directly: the signature subplan
    // appears exactly once (the self-join's exchange is reused by
    // Catalyst), instead of once for banding plus once per post-join
    // signature lookup. At corpus scale that is one shuffle of
    // (k longs + band key) per row per band versus three full
    // signature computations.
    val banded = sigs.select(
      col(idCol), col("sig"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          xxhash64(slice(col("sig"), b * rows + 1, rows)).as("bhash"))
      }: _*)).as("bb"))
      .select(col(idCol), col("sig"), col("bb.band"), col("bb.bhash"))
    val capped = capBuckets(banded, Seq("band", "bhash"), bucketCap,
      "graft_minhash_bucket_drops")
    // The estimate is computed INSIDE the join projection — before
    // the pair dedup — so the dedup exchange shuffles narrow
    // (id, id, est) rows instead of dragging both k-long signatures
    // through it (per-band duplicate pairs recompute a cheap k-term
    // sum; the shuffle narrows ~10×, the better trade at any scale).
    // est is deterministic per pair, so dedup-after ≡ dedup-before.
    val scored = capped.as("x").join(capped.as("y"),
        col("x.band") === col("y.band") && col("x.bhash") === col("y.bhash") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("rid_a"), col(s"y.$idCol").as("rid_b"),
        round(graft.functions.SigAgreement.sigAgreement(
            col("x.sig"), col("y.sig")).cast("double") / k, 4)
          .as("est_jaccard"))
    val filtered =
      if (minEst.isNegInfinity) scored
      else scored.filter(col("est_jaccard") >= minEst)
    filtered.dropDuplicates("rid_a", "rid_b")
  }

  /** Three-phase near-dup — the 100 TB shape, packaged:
    * [[minHashLsh]] band-bucketed candidates → signature-estimate
    * pre-filter → [[jaccardVerify]] exact scores → threshold.
    *
    * The estimate pre-filter matters: LSH banding bounds the
    * probability of missing a similar pair but does NOT bound the
    * false-positive count — on corpora with a shared vocabulary the
    * candidate set can be orders of magnitude larger than the true
    * near-dup set, and exact set-intersection on every candidate
    * becomes the bottleneck. Dropping candidates whose k-hash
    * estimate is below `threshold - estSlack` prunes almost all
    * false positives while keeping true ones: for k=32 and j=0.8 the
    * estimator's σ ≈ 0.07, so slack 0.2 ≈ 3σ keeps ≳99.8% of real
    * matches (banding recall already dominates the error budget).
    */
  def minHashNearDup(df: DataFrame, textCol: String, idCol: String,
      n: Int = 4, k: Int = 32, bands: Int = 8, threshold: Double,
      estSlack: Double = 0.2, bucketCap: Int = 10000,
      assumeDistinct: Boolean = false): DataFrame = {
    // the whole estimate→verify pipeline runs on representatives
    // (distinct content); member pairs are expanded from verified
    // rep pairs at the very end — identical text ⇒ identical shingle
    // sets ⇒ members inherit the rep pair's exact jaccard, and a
    // duplicate cluster costs ONE verify instead of M².
    // `assumeDistinct`: the caller guarantees content-distinct input
    // (an upstream exact dedup, as in Pipeline.corpusClean) — the
    // rep-collapse shuffle and the member-expansion joins are then
    // identity no-ops and are skipped entirely: one fewer corpus
    // shuffle and two fewer joins at any scale.
    val minEst = threshold - estSlack
    val (repPairs, memberOf) =
      if (assumeDistinct)
        (bandedRepPairs(df, textCol, idCol, n, k, bands, bucketCap, minEst),
          null)
      else minHashLshReps(df, textCol, idCol, n, k, bands, bucketCap, minEst)
    // materialize the candidate set ONCE: it is the bounded
    // intermediate of the two-phase pipeline (candidate-scale, never
    // corpus-scale), and the verify stage references it three times
    // (both sides of the set join + the doc pre-filter) — without
    // cutting lineage here the whole banding pipeline would be
    // re-derived per reference. At 100 TB this materialization is a
    // temp-table write between the candidate and verify jobs.
    val cands = repPairs.filter(col("est_jaccard") >= threshold - estSlack)
      .select(col("rid_a").as("id_a"), col("rid_b").as("id_b"))
      .localCheckpoint() // eager: one materialization job, no AQE race (see ngramJaccard)
    val verified = jaccardVerify(cands, df, textCol, idCol, n)
      .filter(col("jaccard") >= threshold)
    if (assumeDistinct) verified
    else expandPairs(
      verified.select(col("id_a").as("rid_a"), col("id_b").as("rid_b"),
        col("jaccard")),
      memberOf, Seq("jaccard"), Seq(lit(1.0)))
  }

  /** 64-bit SimHash over word tokens: per-bit signed vote weighted
    * by token frequency. ONE narrow projection per row
    * ([[graft.functions.SimHashFingerprint]]): the votes fold
    * row-locally, so the fingerprint costs no shuffle at any corpus
    * size — and no token-count bound (the packed-counter aggregate
    * this replaces capped documents at 2²¹ tokens). Documents with
    * zero tokens produce no row, as in the aggregate form.
    */
  def simHash(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol),
        graft.functions.TextFunctions.tokens(col(textCol)).as("_toks"))
      .filter(size(col("_toks")) > 0)
      .select(col(idCol),
        graft.functions.SimHashFingerprint.simhash(col("_toks")).as("simhash"))

  /** SimHash near-duplicate pairs: band the 64-bit fingerprint into
    * `nBands` keys (16-bit slices for the default 4), pair documents
    * sharing any band, keep pairs with hamming distance ≤
    * `maxHamming`. Pigeonhole guarantee: any pair with hamming <
    * nBands shares at least one intact band, so recall is exact for
    * distances < nBands (and probabilistic above). Shuffle key
    * (band, slice) has corpus-scale cardinality — same 100 TB shape
    * as MinHash-LSH.
    */
  def simHashNearDup(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, nBands: Int = 4,
      bucketCap: Int = 10000): DataFrame = {
    require(64 % nBands == 0, s"nBands ($nBands) must divide 64")
    val width = 64 / nBands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val keyed = df.select(contentKey(col(textCol)).as("_ck"), col(idCol), col(textCol))
    val reps = keyed.groupBy(col("_ck"))
      .agg(min(col(idCol)).as(idCol), first(col(textCol)).as(textCol))
    val memberOf = reps.select(col("_ck"), col(idCol).as("_rid"))
      .join(keyed.select(col("_ck"), col(idCol).as("_mid")), "_ck")
      .select(col("_rid"), col("_mid"))
    val sh = simHash(reps, textCol, idCol)
    val banded = sh.select(
      col(idCol), col("simhash"),
      explode(array((0 until nBands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * width).bitwiseAND(mask).as("key"))
      }: _*)).as("bb"))
      .select(col(idCol), col("simhash"), col("bb.band"), col("bb.key"))
    val capped = capBuckets(banded, Seq("band", "key"), bucketCap,
      "graft_simhash_bucket_drops")
    val repPairs = capped.as("x").join(capped.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("rid_a"), col(s"y.$idCol").as("rid_b"),
        expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    // intra-group pairs are identical text → hamming 0
    expandPairs(repPairs, memberOf, Seq("hamming"), Seq(lit(0)))
  }

  /** Embedding-cosine near-duplicate pairs above `threshold` over a
    * (small) corpus: all-pairs form for correctness; the scale path
    * is [[embeddingNearDupLsh]].
    */
  def embeddingNearDup(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions._
    // norms once per ROW before the pair join (cosineWithNorms doc)
    val v = df.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .withColumn("_nm", norm(col("v")))
    v.as("a").join(v.as("b"), col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        round(cosineWithNorms(dot(col("a.v"), col("b.v")),
          col("a._nm"), col("b._nm")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Bucketed embedding near-dup — the 100 TB path: hyperplane-LSH
    * bucket every vector, pair only within buckets (join key =
    * bucket id, corpus-scale cardinality), then exact-cosine filter.
    * Recall is tunable by nPlanes (fewer planes → bigger buckets →
    * higher recall, more compute); near-identical vectors land in
    * the same bucket with probability (1 - θ/π)^nPlanes.
    */
  def embeddingNearDupLsh(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, nPlanes: Int = 8,
      bucketCap: Int = 10000): DataFrame = {
    import graft.functions.VectorFunctions._
    // exact-dup collapse keyed on the vector VALUE itself (arrays are
    // hashable/orderable group keys) — no hash-collision risk
    val keyed = df.select(asDouble(col(vecCol)).as("v"), col(idCol))
    val reps = keyed.groupBy(col("v")).agg(min(col(idCol)).as(idCol))
    val memberOf = reps.select(col("v"), col(idCol).as("_rid"))
      .join(keyed.select(col("v"), col(idCol).as("_mid")), "v")
      .select(col("_rid"), col("_mid"))
    val banded = reps.select(col(idCol), col("v"),
      norm(col("v")).as("_nm"),
      lshBucket(col("v"), nPlanes).as("bucket"))
    val capped = capBuckets(banded, Seq("bucket"), bucketCap,
      "graft_embed_bucket_drops")
    val repPairs = capped.as("a").join(capped.as("b"),
        col("a.bucket") === col("b.bucket") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("rid_a"), col(s"b.$idCol").as("rid_b"),
        round(cosineWithNorms(dot(col("a.v"), col("b.v")),
          col("a._nm"), col("b._nm")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
    // identical vectors have cosine exactly 1.0 after rounding
    expandPairs(repPairs, memberOf, Seq("cos_sim"), Seq(lit(1.0)))
  }

  // ===== cluster-id output contract =====
  //
  // A pair list is quadratic per duplicate cluster (M members → M²/2
  // pairs); what a training-data pipeline actually consumes is ONE
  // row per member: (doc_id → cluster_id). `clusters` turns verified
  // near-dup pairs into that form with the alternating
  // large-star/small-star connected-components algorithm (Kiveris et
  // al., "Connected Components in MapReduce and Beyond", SoCC'14) —
  // O(log n) rounds of pure DataFrame joins/aggregations, no driver-
  // side graph state, so a 10 M-copy cluster costs 10 M output rows,
  // not 5·10¹³.

  /** One large-star round: every node u connects its larger
    * neighbors to m(u) = min(N(u) ∪ {u}). Output edges oriented
    * (hi → lo). Strictly decreases component "height"; cannot
    * disconnect anything.
    */
  private[graft] def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
    // m(u) via groupBy(min) + join, NOT min().over(Window.partitionBy):
    // near-dup graphs are power-law and a hub node's edges all carry
    // the same src, which a window must collect INTO ONE TASK (sorted,
    // frame-buffered, and AQE skew handling does not cover windows).
    // The aggregation form is hub-proof twice over: min() partially
    // aggregates map-side (each map task emits one row per src it
    // sees, so the hub collapses BEFORE the exchange), and the
    // edge-side join is a plain shuffle join that AQE's skew-join
    // splitting can cut apart at runtime (guide §2.5). The window
    // rewrite this replaces saved two AQE stages per round at tiny
    // fixture sizes but is a single-task straggler at 100 TB.
    val m = sym.groupBy("src").agg(min(col("dst")).as("_mn"))
      .select(col("src"), least(col("src"), col("_mn")).as("_m"))
    // NO trailing distinct: every consumer is smallStar, whose min()
    // aggregation is duplicate-insensitive and whose own trailing
    // distinct collapses any duplicated join output — the composed
    // round's edge SET is identical, one exchange fewer per round.
    // the merge hint pins that shuffle join: left to AQE, a small m
    // turned into a broadcast at runtime, and when it did depended on
    // stage timing, so a round ran 7 or 8 jobs
    sym.join(m.hint("shuffle_merge"), "src")
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("_m").as("dst"))
      .filter(col("src") =!= col("dst"))
  }

  /** One small-star round over (hi → lo)-oriented edges: every node u
    * rewires its smaller neighbors (and itself) to m(u) = min of
    * them. Preserves orientation; converged when idempotent.
    */
  private[graft] def smallStar(edges: DataFrame): DataFrame = {
    // same hub-proof aggregation form as [[largeStar]] (map-side
    // partial min + AQE-splittable join). A second benefit over the
    // window/explode form this replaces: the (src, _m) self-rows are
    // emitted once per src from the aggregate (|E| + |V| rows into
    // the trailing distinct) instead of once per incident edge
    // (2|E| rows).
    val m = edges.groupBy("src").agg(min(col("dst")).as("_m"))
    edges.join(m.hint("shuffle_merge"), "src") // pinned as in largeStar
      .select(col("dst").as("src"), col("_m").as("dst"))
      .union(m.select(col("src"), col("_m").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Connected components over an undirected pair list: returns one
    * row per node, `(doc_id, cluster_id)` with cluster_id = the
    * smallest doc id in the component — the rep→member union-find
    * output a dedup pipeline keeps (drop every row where
    * `doc_id != cluster_id`, or join features by cluster_id).
    *
    * Each round is two join+aggregate passes over the current edge
    * set; the edge set only shrinks toward one star per component.
    * Convergence is detected by an edge-set fingerprint (count +
    * order-independent XOR of edge hashes — distinct edges, so no
    * cancellation; collision odds negligible, and a false
    * "converged" would need an XOR tie on a CHANGED set of the same
    * size in the same round). localCheckpoint per round
    * cuts the O(rounds)-deep lineage exactly like the candidate-set
    * checkpoint in [[minHashNearDup]]; at 100 TB each round is a
    * bounded temp-table write.
    */
  def clusters(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", maxIter: Int = 25): DataFrame = {
    // ids must be integral: cast("long") on e.g. a string/UUID id
    // column would yield nulls and silently DROP every edge,
    // returning an empty cluster map — fail loudly instead
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
    Seq(aCol, bCol).foreach { c =>
      val dt = pairs.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"clusters requires integral ids; column $c is $dt")
    }
    val a = col(aCol).cast("long")
    val b = col(bCol).cast("long")

    // The convergence fingerprint (edge count + order-insensitive
    // xor-hash) rides the checkpoint's own materialization job as an
    // observed metric: one job per round, not checkpoint + a second
    // fingerprint pass. At any scale the fingerprint is a map-side
    // partial aggregate — it costs nothing beyond the materialization
    // the round already pays.
    def materialize(e: DataFrame): (DataFrame, (Long, Long)) = {
      val obs = org.apache.spark.sql.Observation()
      val out = e.observe(obs, count(lit(1)).as("n"),
        coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L)).as("h"))
        .localCheckpoint()
      val row = obs.get
      (out, (row("n").asInstanceOf[Long], row("h").asInstanceOf[Long]))
    }

    var (edges, fp) = materialize(pairs
      .select(greatest(a, b).as("src"), least(a, b).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct())

    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val (next, nfp) = materialize(smallStar(largeStar(edges)))
      converged = nfp == fp
      fp = nfp
      edges = next
      i += 1
    }
    require(converged,
      s"connected components did not converge in $maxIter rounds")
    // converged state is one star per component: (member, min).
    // Centers only appear as dst — give them their own row.
    edges.select(col("src").as("doc_id"), col("dst").as("cluster_id"))
      .union(edges.select(col("dst").as("doc_id"), col("dst").as("cluster_id")))
      .groupBy("doc_id").agg(min(col("cluster_id")).as("cluster_id"))
  }

  /** Benchmark decontamination — the training-data hygiene step run
    * before every LLM training job: flag training documents sharing
    * any character `n`-gram with an evaluation/benchmark corpus, so
    * test data leaking into the training set is dropped rather than
    * memorized. Returns (id, n_hits) where n_hits counts the
    * DISTINCT shared shingles (a graded contamination signal; any
    * hit ≥ 1 is a flag).
    *
    * Shape at 100 TB: benchmark corpora are megabytes, training
    * corpora are the 100 TB side — so the benchmark's distinct
    * shingle set is built once and BROADCAST, and the training
    * corpus runs one narrow shingle pass (native one-pass
    * expression, per-row set dedup) into a broadcast hash join: the
    * training side never shuffles for the probe; the only exchange
    * is the per-doc hit count keyed on doc id.
    */
  def decontaminate(train: DataFrame, bench: DataFrame, textCol: String,
      idCol: String, n: Int): DataFrame = {
    val trainSh = shingles(train, textCol, idCol, n)
    val benchSh = shingles(bench, textCol, idCol, n)
      .select(col("shingle")).distinct()
    trainSh.join(broadcast(benchSh), Seq("shingle"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Substring-level dedup — the corpus-REWRITING counterpart of the
    * doc-level operators above (the "suffix-array dedup" of the
    * training-data literature: Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"). Whole-document
    * exact/near dedup misses repeated boilerplate INSIDE otherwise
    * distinct documents (headers, license blocks, templated
    * paragraphs); this operator excises every duplicated token span
    * of length ≥ `k`, keeping exactly the corpus-wide FIRST
    * occurrence.
    *
    * Semantics (deterministic, order-free): token `i` of doc `d` is
    * removed iff some k-gram start `p` with `p ≤ i < p+k` is a
    * NON-CANONICAL occurrence of its gram — canonical = the
    * lexicographically smallest (doc, pos) among all occurrences of
    * that exact token k-gram, corpus-wide. Within-doc repeats dedup
    * the same way (second occurrence removed); overlapping duplicated
    * grams merge into maximal spans via the union of their [p, p+k)
    * windows. Removal decisions are all made against the ORIGINAL
    * text (the published heuristic — no cascading re-analysis of the
    * rewritten corpus).
    *
    * Returns (id, n_tokens, n_removed, cleaned_text) for every input
    * row; docs shorter than `k` tokens pass through untouched.
    *
    * Shape at 100 TB (mirrors [[graft.operators.TextStats.dupNgramCoverage]]'s
    * linear-cost contract): gram starts explode narrow (one row per
    * token); canonical/duplicate resolution is ONE gram-keyed
    * window-free aggregation (min-struct + count, partial map-side,
    * corpus-cardinality key — no hot keys beyond gram df, and a
    * df-hot gram is exactly a real duplicate to remove); the
    * duplicate-start join is gram-keyed at the same cardinality
    * (never a pair expansion); the removal-set roll-up re-aggregates
    * at doc grain and the rewrite is a narrow per-row map. Grams are
    * keyed by their exact token string by default (bit-exact oracle
    * parity); `hashGramKey = true` keys on a 128-BIT struct of two
    * independently-derived xxhash64 lanes (the second lane hashes
    * the gram behind a constant prefix column, i.e. from a different
    * internal state) — the petabyte configuration, where shuffling a
    * fixed 16 bytes per start beats shuffling k tokens of text.
    * Collision analysis: merging two gram classes (which would mark
    * unique spans duplicated and DELETE real content) now requires
    * the same pair to collide in BOTH lanes — odds over n distinct
    * grams ~n²/2¹²⁹, i.e. ~10⁻¹⁸ even at n = 2⁴⁰ grams (a ~PB-scale
    * corpus), versus ~n²/2⁶⁵ for a single 64-bit key which is
    * EXPECTED to collide past ~2³² grams. SubstringDedupSpec pins
    * hashed ≡ exact on the gate corpus and on a synthetic
    * high-cardinality one.
    */
  def substringDedup(df: DataFrame, textCol: String, idCol: String,
      k: Int, hashGramKey: Boolean = false): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val words = split(col(textCol), " ")
    // one row per k-gram start: (gram, id, pos), pos 0-based
    val gramKey: Column => Column =
      if (hashGramKey) g => struct(xxhash64(g), xxhash64(lit(0x9e3779b9L), g))
      else identity
    val starts = df.filter(size(words) >= k)
      .select(col(idCol),
        posexplode(transform(sequence(lit(1), size(words) - (k - 1)),
          i => gramKey(concat_ws(" ", slice(words, i, lit(k)))))))
      .select(col("col").as("gram"), col(idCol), col("pos"))
    // canonical occurrence per gram + its occurrence count, one
    // map-side-partial aggregation; only duplicated grams survive
    val canon = starts.groupBy("gram")
      .agg(min(struct(col(idCol), col("pos"))).as("first"),
        count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
    // non-canonical duplicate starts, rolled up to one row per doc
    val dupStarts = starts.join(canon, Seq("gram"))
      .filter(struct(col(idCol), col("pos")) =!= col("first"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("_starts"))
    // narrow rewrite: covered = union of [p, p+k) over dup starts
    df.join(dupStarts, Seq(idCol), "left")
      .select(col(idCol), col(textCol),
        coalesce(col("_starts"), array().cast("array<int>")).as("_starts"))
      .select(col(idCol),
        size(split(col(textCol), " ")).as("n_tokens"),
        array_distinct(flatten(transform(col("_starts"),
          p => sequence(p, p + (k - 1))))).as("_covered"),
        split(col(textCol), " ").as("_ws"))
      .select(col(idCol), col("n_tokens"),
        size(col("_covered")).as("n_removed"),
        concat_ws(" ",
          filter(col("_ws"), (_, i) =>
            !array_contains(col("_covered"), i.cast("int"))))
          .as("cleaned_text"))
  }
}
