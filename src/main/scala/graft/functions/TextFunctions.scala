package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for training-data pipelines: token
  * counting, quality scoring, language ID, fingerprinting. All are
  * compositions of built-in (codegen'd) functions so they fuse into
  * the scan — no UDFs, no driver round-trips; every one of these
  * runs as a narrow map at 100 TB.
  */
object TextFunctions {

  /** BPE-ish word tokens: maximal runs of letters/digits, lowercased. */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  /** Count-only twin of `size(tokens(text))` — one native scan
    * ([[TextProfile]]; identical count: maximal `[a-z0-9]+` runs of
    * the lowered text). [[tokenCount]], [[punctCount]] and
    * [[stopwordCount]] keep the `regexp_count` contract; their regexp
    * formulations live in TextFunctionsSpec as the reference the
    * native scan is pinned against.
    */
  def tokenCount(text: Column): Column =
    TextProfile.profile(text).getField("n_tokens")

  // PII patterns restricted to syntax Java regex and RE2 read
  // identically (char classes, bounded repeats, ASCII \b) so a SQL
  // oracle can replay the scrub byte for byte.
  private[graft] val emailPattern =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val phonePattern =
    "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** PII scrubbing — the redaction stage a training-data pipeline
    * runs before anything leaves the ingest boundary: emails →
    * `<EMAIL>`, NANP-style phone numbers → `<PHONE>`. A narrow
    * codegen'd projection (two regexp_replace passes fused into the
    * scan); pair with [[piiEmailCount]]/[[piiPhoneCount]] for the
    * audit counters a compliance report wants.
    */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "<EMAIL>"),
      phonePattern, "<PHONE>")

  def piiEmailCount(text: Column): Column =
    regexp_count(text, lit(emailPattern))

  def piiPhoneCount(text: Column): Column =
    regexp_count(text, lit(phonePattern))

  def punctCount(text: Column): Column =
    TextProfile.profile(text).getField("punct")

  def stopwordCount(text: Column, lang: String = "en"): Column = {
    val ord = TextProfile.orderedLangs.indexOf(lang)
    require(ord >= 0, s"no stopword list for language $lang")
    element_at(TextProfile.profile(text).getField("stops"), ord + 1)
  }

  /** Composite quality score in [0,1]: favors mid-length docs with
    * low punctuation density and a healthy stopword ratio — the
    * usual cheap pre-filter before expensive model-based scoring.
    * The stopword component is per-language: score against the SAME
    * language the pipeline's lang gate selects, or a German corpus
    * would lose the whole stopword component to an English list.
    */
  def qualityScore(text: Column, lang: String = "en"): Column = {
    val nTok = tokenCount(text).cast("double")
    val lenScore = least(nTok / 100.0, lit(1.0))
    val punctRatio = punctCount(text).cast("double") / greatest(length(text), lit(1)).cast("double")
    val stopRatio = stopwordCount(text, lang).cast("double") / greatest(nTok, lit(1.0))
    round(lenScore * 0.5 + (lit(1.0) - least(punctRatio * 10.0, lit(1.0))) * 0.25 +
      least(stopRatio * 5.0, lit(1.0)) * 0.25, 4)
  }

  /** Stopword-profile language ID: score each candidate language by
    * its stopword hits, pick the max (ties broken by fixed language
    * order). The classic cheap n-gram/stopword heuristic.
    */
  def langId(text: Column): Column = {
    val ordered = TextProfile.orderedLangs
    val stops = TextProfile.profile(text).getField("stops")
    val scores = ordered.indices.map(i => element_at(stops, i + 1))
    val best = greatest(scores: _*)
    // when-chain ordered so the FIRST language reaching the max wins
    ordered.zip(scores).reverse.foldLeft(lit(ordered.last): Column) {
      case (acc, (l, s)) => when(s === best, lit(l)).otherwise(acc)
    }
  }

  /** Polynomial rolling hash of the whole text, mod 2^31-1 — a
    * Rabin-Karp document fingerprint. Sequential fold over exactly
    * the characters (Spark's split(text, "") keeps a trailing empty
    * element — filtered so the fold is the documented pure char fold
    * any left-to-right engine reproduces).
    */
  def fingerprint(text: Column): Column = polyHash(text)

  private def polyHash(s: Column): Column =
    aggregate(
      filter(split(s, ""), c => c =!= ""),
      lit(0L),
      (acc, c) => pmod(acc * 31L + ascii(c).cast("long"), lit(2147483647L)))

  /** Hashed-bag-of-words LINEAR MODEL scoring — the fastText-shaped
    * quality classifier a training-data pipeline applies to every
    * document after the cheap heuristic gates: each token hashes
    * into one of `weights.length` feature buckets (the same
    * polynomial hash as [[fingerprint]], so a SQL engine replays it
    * exactly), the document's raw score is
    * `bias + Σ weights(bucket(token)) / max(nTokens, 1)`.
    *
    * The weight table ships as a LITERAL array baked into the
    * codegen'd projection (a real model of hundreds of thousands of
    * buckets would ship as a broadcast array instead — same plan
    * shape): the whole thing is one narrow map fused into the scan,
    * nothing shuffles at any corpus size. Weight contributions
    * accumulate in decimal(30,8) so the score is independent of
    * token order and partitioning. The calibrated probability
    * sigmoid(score) is MONOTONE in this raw score, so quality
    * thresholds translate 1:1 — the sigmoid itself is deliberately
    * not applied (exp() is not bit-identical across engines; a
    * gating pipeline thresholds the raw margin identically).
    */
  def modelScore(text: Column, weights: Seq[Double], bias: Double): Column = {
    require(weights.nonEmpty,
      "modelScore needs a non-empty weight table (pmod by 0 yields null scores)")
    val wLit = typedLit(weights)
    val n = weights.length
    val toks = tokens(text)
    val wsum = aggregate(
      transform(toks, t =>
        element_at(wLit, (polyHash(t) % lit(n.toLong)).cast("int") + 1)),
      lit(0).cast("decimal(30,8)"),
      // re-narrow each step: decimal + widens to (31,8), and the
      // accumulator type must stay fixed (3dp weights never overflow)
      (acc, w) => (acc + w.cast("decimal(30,8)")).cast("decimal(30,8)"))
    round(lit(bias) +
      wsum.cast("double") / greatest(size(toks), lit(1)).cast("double"), 6)
  }
}
