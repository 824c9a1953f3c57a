package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

import Shared._
import DedupAnnQueries.{closureCtes, ngramPairCtes}

/** Text annotation, multimodal (image) operators and the LLM-data
  * pipeline stages built from them.
  */
private[graft] object TextPipelineQueries extends QueryFamily {

  /** Stopword-score CTE + language-CASE CTE — the txt_lang_id
    * formulas, shared verbatim with pipe_corpus_clean. Plain literal
    * + replace so the `\b` word boundaries survive (an s-interpolator
    * would eat them as escapes).
    */
  private def langCtes(src: String): String =
    """ls AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|to|and|in|is)\b')) AS INT) AS s_en,
      |    CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|nicht|ein)\b')) AS INT) AS s_de,
      |    CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|et|des|une)\b')) AS INT) AS s_fr,
      |    CAST(len(regexp_extract_all(lower(text), '\b(el|los|las|y|que|una)\b')) AS INT) AS s_es,
      |    CAST(len(regexp_extract_all(lower(text), '\b(de|shi|bu|le|wo|zai)\b')) AS INT) AS s_zh
      |  FROM __SRC__),
      |lang_pred AS (
      |  SELECT doc_id,
      |    CASE WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
      |         WHEN s_de = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
      |         WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
      |         WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
      |         ELSE 'zh' END AS lang_pred
      |  FROM ls)""".stripMargin.replace("__SRC__", src)

  /** Deterministic stratified sampling for training-mix
    * construction ([[operators.Pipeline.sampleMix]]): language-ID
    * the corpus, then keep per-language fractions decided by
    * `substr(sha256(doc_id:salt),1,8) < threshold(lang)` — no RNG,
    * partition-count-independent, and the oracle replays the exact
    * hash selection (thresholds come from the same shared helper).
    */
  private def pipeSampleMix(s: SparkSession, dir: String): DataFrame =
    operators.Pipeline.sampleMix(
        t(s, dir, "documents").select(col("doc_id"),
          TextFunctions.langId(col("text")).as("lang")),
        "doc_id", "lang", sampleMixRates, defaultRate = 0.0, salt = "mix")
      .orderBy("doc_id")
  // the same sha256 hex-threshold selection, thresholds baked
  // from the SAME Scala helper the operator uses
  query("pipe_sample_mix", pipeSampleMix,
    s"""WITH ${langCtes("documents")}
      |SELECT doc_id, lang_pred AS lang FROM lang_pred
      |WHERE substr(sha256(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8) <
      |  CASE lang_pred
      |    WHEN 'en' THEN '${operators.Pipeline.sampleThreshold(0.5)}'
      |    WHEN 'de' THEN '${operators.Pipeline.sampleThreshold(1.0)}'
      |    WHEN 'fr' THEN '${operators.Pipeline.sampleThreshold(0.25)}'
      |    WHEN 'es' THEN '${operators.Pipeline.sampleThreshold(0.1)}'
      |    ELSE '${operators.Pipeline.sampleThreshold(0.0)}' END
      |ORDER BY doc_id""".stripMargin)

  private val sampleMixRates: Map[String, Double] =
    Map("en" -> 0.5, "de" -> 1.0, "fr" -> 0.25, "es" -> 0.1)

  /** The quality-score SQL expression over a `text` column — the
    * txt_quality formula, shared verbatim with pipe_corpus_clean.
    */
  private val qualitySqlExpr: String =
    """round(
      |    least(CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS DOUBLE) / 100.0, 1.0) * 0.5
      |    + (1.0 - least((CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
      |                    / CAST(greatest(length(text), 1) AS DOUBLE)) * 10.0, 1.0)) * 0.25
      |    + least((CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|to|and|in|is)\b')) AS DOUBLE)
      |             / greatest(CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS DOUBLE), 1.0)) * 5.0, 1.0) * 0.25,
      |  4)""".stripMargin

  /** Composed oracle for both corpusClean variants: every stage
    * replayed with the SAME SQL formulas that hash-match
    * individually (txt_lang_id, txt_quality, dd_exact, dd_clusters).
    */
  private lazy val corpusCleanOracle: String =
    s"""WITH RECURSIVE ${langCtes("documents")},
      |scored AS (
      |  SELECT doc_id, text, lang_pred AS lang,
      |    $qualitySqlExpr AS quality,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
      |  FROM documents JOIN lang_pred USING (doc_id)),
      |gated AS (SELECT * FROM scored WHERE lang = 'en' AND quality >= 0.5),
      |uniq AS (
      |  SELECT doc_id, text, lang, quality, n_tokens FROM (
      |    SELECT *, row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
      |    FROM gated)
      |  WHERE rn = 1),
      |${ngramPairCtes("uniq")},
      |$closureCtes,
      |bad AS (SELECT node FROM reach GROUP BY node HAVING min(r) < node)
      |SELECT doc_id, lang, quality, n_tokens FROM uniq
      |WHERE doc_id NOT IN (SELECT node FROM bad)
      |ORDER BY doc_id""".stripMargin

  /** End-to-end corpus cleaning ([[operators.Pipeline.corpusClean]]):
    * annotate → lang+quality gate → exact dedup → near-dup cluster
    * collapse. The oracle replays every stage with the SAME SQL
    * formulas that hash-match individually (txt_lang_id,
    * txt_quality, dd_exact, dd_clusters), composed.
    */
  private def pipeCorpusClean(s: SparkSession, dir: String): DataFrame =
    operators.Pipeline.corpusClean(t(s, dir, "documents"), "text", "doc_id",
        lang = "en", minQuality = 0.5, n = 4, threshold = 0.8, dfCap = 100)
      .orderBy("doc_id")
  query("pipe_corpus_clean", pipeCorpusClean, corpusCleanOracle)

  /** The 100 TB configuration of the same pipeline: near-dup stage
    * swapped to banded MinHash → estimate filter → exact verify
    * ([[operators.Dedup.minHashNearDup]]). Verification uses the
    * SAME exact Jaccard at the same threshold, so wherever banding
    * recall holds (1.0 on this corpus — SketchRecallSpec) the
    * surviving manifest is identical and the oracle is shared.
    */
  private def pipeCorpusCleanMinhash(s: SparkSession, dir: String): DataFrame =
    operators.Pipeline.corpusClean(t(s, dir, "documents"), "text", "doc_id",
        lang = "en", minQuality = 0.5, n = 4, threshold = 0.8,
        nearDupMethod = "minhash")
      .orderBy("doc_id")
  // the minhash variant verifies candidates with the SAME exact
  // Jaccard at the same threshold; banding recall is 1.0 on this
  // corpus (SketchRecallSpec), so the manifest — and the oracle —
  // are identical to the ngram path's
  query("pipe_corpus_clean_minhash", pipeCorpusCleanMinhash, corpusCleanOracle)

  private def txtTokenCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      .orderBy("doc_id")
  query("txt_token_count", txtTokenCount,
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
      |FROM documents
      |ORDER BY doc_id""".stripMargin)

  private def txtQuality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")
  query("txt_quality", txtQuality,
    s"""SELECT doc_id, $qualitySqlExpr AS quality
      |FROM documents
      |ORDER BY doc_id""".stripMargin)

  private def txtLangId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id")
  query("txt_lang_id", txtLangId,
    s"""WITH ${langCtes("documents")}
      |SELECT doc_id, lang_pred FROM lang_pred
      |ORDER BY doc_id""".stripMargin)

  /** Deterministic 256-bucket weight table shared with the oracle:
    * w(b) = ((b * 2654435761) % 1000) / 1000.0 - 0.5 (Knuth's
    * multiplicative constant — pseudo-random-looking but pure
    * integer arithmetic any engine replays exactly). A real
    * pipeline would load trained weights; the OPERATOR is identical
    * either way.
    */
  private def modelWeights: Seq[Double] =
    (0 until 256).map(b => ((b * 2654435761L) % 1000L) / 1000.0 - 0.5)

  /** Hashed-feature linear model scoring over every document
    * ([[TextFunctions.modelScore]]) — one narrow codegen'd map, the
    * weight table a baked literal; decimal-accumulated so the score
    * is partitioning-independent.
    */
  private def txtQualityModel(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.modelScore(col("text"), modelWeights, bias = 0.1)
          .as("model_score"))
      .orderBy("doc_id")
  // per token: the SAME polynomial hash as txt_fingerprint mod 256
  // picks the bucket, the weight formula replays graft's literal
  // table, contributions accumulate in decimal(30,8) (order-free)
  query("txt_quality_model", txtQualityModel,
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      |  FROM documents),
      |tw AS (
      |  SELECT doc_id,
      |    ((list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(split(tok, ''), c -> CAST(ascii(c) AS BIGINT))),
      |        (acc, x) -> (acc * 31 + x) % 2147483647) % 256)
      |      * 2654435761) % 1000 / 1000.0 - 0.5 AS wt
      |  FROM toks),
      |agg AS (
      |  SELECT doc_id, CAST(sum(CAST(wt AS DECIMAL(30,8))) AS DOUBLE) AS wsum,
      |    count(*) AS nt
      |  FROM tw GROUP BY doc_id)
      |SELECT d.doc_id,
      |  round(0.1 + COALESCE(a.wsum, 0.0) / greatest(COALESCE(a.nt, 0), 1), 6)
      |    AS model_score
      |FROM documents d LEFT JOIN agg a USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin)

  /** Gopher-style repetition quality signals per document
    * ([[operators.TextStats.repetition]]). */
  private def txtRepetition(s: SparkSession, dir: String): DataFrame =
    operators.TextStats.repetition(t(s, dir, "documents"), "text", "doc_id")
      .orderBy("doc_id")
  // replays TextStats.repetition: whitespace words, per-row
  // distinct for the dup fraction, bigram frequency for the top
  // fraction (single-word docs → 0.0)
  query("txt_repetition", txtRepetition,
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |base AS (
      |  SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words,
      |    round(CAST(len(words) - len(list_distinct(words)) AS DOUBLE)
      |          / len(words), 4) AS dup_word_frac
      |  FROM w),
      |bg AS (
      |  SELECT doc_id,
      |    concat(words[CAST(i AS INT)], ' ', words[CAST(i AS INT) + 1])
      |      AS bigram
      |  FROM (SELECT doc_id, words, unnest(range(1, len(words))) AS i
      |        FROM w WHERE len(words) >= 2)),
      |cnt AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
      |top AS (
      |  SELECT doc_id,
      |    round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top_bigram_frac
      |  FROM cnt GROUP BY 1)
      |SELECT doc_id, n_words, dup_word_frac,
      |  coalesce(top_bigram_frac, 0.0) AS top_bigram_frac
      |FROM base LEFT JOIN top USING (doc_id)
      |ORDER BY doc_id""".stripMargin)

  /** Cross-document duplicated-n-gram coverage
    * ([[operators.TextStats.dupNgramCoverage]]): per document, the
    * fraction of its distinct word 5-grams that occur in ≥1 other
    * document — the MassiveText/RefinedWeb inter-document
    * boilerplate signal that whole-document dedup misses. One
    * gram-keyed aggregation + one gram-keyed join, both at corpus
    * cardinality.
    */
  private def txtDupNgrams(s: SparkSession, dir: String): DataFrame =
    operators.TextStats.dupNgramCoverage(
        t(s, dir, "documents"), "text", "doc_id", n = 5)
      .orderBy("doc_id")
  // distinct word 5-grams per doc, corpus df, per-doc duplicated
  // coverage; docs with <5 words report 0
  query("txt_dup_ngrams", txtDupNgrams,
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id,
      |    array_to_string(ws[CAST(i AS INT):CAST(i + 4 AS INT)], ' ')
      |      AS gram
      |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 3)) AS i
      |        FROM w WHERE len(ws) >= 5)),
      |dfreq AS (SELECT gram, count(*) AS df FROM grams GROUP BY gram),
      |per AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
      |    CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_dup
      |  FROM grams JOIN dfreq USING (gram) GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(p.n_grams, 0) AS n_grams,
      |  coalesce(p.n_dup, 0) AS n_dup,
      |  coalesce(round(CAST(p.n_dup AS DOUBLE) / p.n_grams, 4), 0.0)
      |    AS dup_ngram_frac
      |FROM documents d LEFT JOIN per p USING (doc_id)
      |ORDER BY doc_id""".stripMargin)

  /** Training-sequence chunking ([[operators.Pipeline.tokenChunks]]):
    * every document cut into 16-token windows sharing 4 tokens of
    * overlap — the sequence-prep step after cleaning/sampling. Pure
    * narrow map: split + bounded explode, no shuffle at any scale.
    */
  private def pipeTokenChunks(s: SparkSession, dir: String): DataFrame =
    operators.Pipeline.tokenChunks(
        t(s, dir, "documents"), "doc_id", "text", maxLen = 16, overlap = 4)
      .orderBy("doc_id", "chunk_idx")
  // 16-token windows every 12 tokens (4-token overlap); the last
  // chunk may be short, every token lands in >= 1 chunk
  query("pipe_token_chunks", pipeTokenChunks,
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |k AS (
      |  SELECT doc_id, ws,
      |    unnest(range(0, (len(ws) - 1) // 12 + 1)) AS chunk_idx
      |  FROM w WHERE len(ws) >= 1)
      |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
      |  CAST(chunk_idx * 12 AS BIGINT) AS start_tok,
      |  CAST(least(16, len(ws) - chunk_idx * 12) AS BIGINT) AS n_tok,
      |  array_to_string(ws[CAST(chunk_idx * 12 + 1 AS INT):
      |    CAST(chunk_idx * 12 + 16 AS INT)], ' ') AS chunk_text
      |FROM k ORDER BY doc_id, chunk_idx""".stripMargin)

  /** Concat-and-chunk sequence packing
    * ([[operators.Pipeline.packSequences]]): per-shard running
    * token offsets + bounded explode into fixed 400-token training
    * sequences; the oracle replays the window and the span
    * arithmetic exactly.
    */
  private def pipePackSequences(s: SparkSession, dir: String): DataFrame =
    operators.Pipeline.packSequences(
        t(s, dir, "documents"), "doc_id", "text", maxLen = 400, nShards = 8)
      .orderBy("shard", "seq_id", "doc_id")
  // per-shard running token offsets in doc-id order, then each
  // doc's span per overlapped 400-token sequence; floor(x/400.0)
  // is the same double division Spark's floor(col/lit) runs
  query("pipe_pack_sequences", pipePackSequences,
    """WITH base AS (
      |  SELECT doc_id, doc_id % 8 AS shard,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
      |      AS n
      |  FROM documents
      |  WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) > 0),
      |off AS (
      |  SELECT doc_id, shard, n,
      |    sum(n) OVER (PARTITION BY shard ORDER BY doc_id) AS e,
      |    sum(n) OVER (PARTITION BY shard ORDER BY doc_id) - n AS s
      |  FROM base),
      |x AS (
      |  SELECT shard, doc_id, s, e,
      |    unnest(range(CAST(floor(s / 400.0) AS BIGINT),
      |      CAST(floor((e - 1) / 400.0) AS BIGINT) + 1)) AS seq_id
      |  FROM off)
      |SELECT shard, seq_id, doc_id,
      |  CAST(greatest(s, seq_id * 400) - s AS BIGINT) AS tok_from,
      |  CAST(least(e, (seq_id + 1) * 400) - s AS BIGINT) AS tok_to
      |FROM x
      |ORDER BY shard, seq_id, doc_id""".stripMargin)

  /** PII scrubbing over documents salted with synthetic contact
    * lines (the corpus itself is PII-free): every doc gains a
    * deterministic email + phone, the scrubber must redact exactly
    * those, and the oracle replays salt + scrub + counts byte for
    * byte. Patterns are Java/RE2-identical by construction.
    */
  private def txtPiiScrub(s: SparkSession, dir: String): DataFrame = {
    val salted = t(s, dir, "documents").withColumn("_t",
      concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com or "),
        lpad(pmod(col("doc_id"), lit(1000)), 3, "0"), lit("-555-"),
        lpad(pmod(col("doc_id") * 7, lit(10000)), 4, "0")))
    salted.select(col("doc_id"),
        TextFunctions.piiEmailCount(col("_t")).cast("long").as("n_emails"),
        TextFunctions.piiPhoneCount(col("_t")).cast("long").as("n_phones"),
        TextFunctions.scrubPii(col("_t")).as("scrubbed"))
      .orderBy("doc_id")
  }
  // replays salt + scrub + counts; patterns are Java/RE2-identical
  query("txt_pii_scrub", txtPiiScrub,
    """WITH s AS (
      |  SELECT doc_id,
      |    concat(text, ' contact user', CAST(doc_id AS VARCHAR),
      |      '@example.com or ',
      |      lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'), '-555-',
      |      lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')) AS t
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(t,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
      |    AS n_emails,
      |  CAST(len(regexp_extract_all(t,
      |    '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
      |  regexp_replace(regexp_replace(t,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS scrubbed
      |FROM s
      |ORDER BY doc_id""".stripMargin)

  private def txtFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")
  query("txt_fingerprint", txtFingerprint,
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
      |    (acc, x) -> (acc * 31 + x) % 2147483647) AS fp
      |FROM documents
      |ORDER BY doc_id""".stripMargin)

  private def mmFrames(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.sampleFrames(
        graft.multimodal.Multimodal.asMediaTable(
          t(s, dir, "documents"), "doc_id", "text"),
        frameBytes = 64, everyNth = 2)
      .select(col("media_id"), col("frame_idx"),
        length(col("frame")).cast("long").as("frame_bytes"))
      .orderBy("media_id", "frame_idx")
  query("mm_frames", mmFrames,
    """WITH f AS (
      |  SELECT doc_id AS media_id, octet_length(encode(text)) AS nb
      |  FROM documents),
      |idx AS (
      |  SELECT media_id, nb,
      |    unnest(range(0, greatest(CAST(ceil(nb / 64.0) AS BIGINT), 1))) AS frame_idx
      |  FROM f WHERE nb > 0)
      |SELECT media_id, frame_idx,
      |  CAST(least(64, nb - frame_idx * 64) AS BIGINT) AS frame_bytes
      |FROM idx
      |WHERE frame_idx % 2 = 0
      |ORDER BY media_id, frame_idx""".stripMargin)

  /** The media table is a stored artifact: real PNG payloads written
    * once per process as a parquet binary column (media payloads live
    * in storage; a pipeline decodes them, it doesn't synthesize them
    * per query). The generator runs on executors; the fixture read
    * back is the production shape — binary column straight off
    * parquet.
    */
  private val images: Fixture = fixture("images") { (s, dir) =>
    // hash-spread the id column BEFORE the per-row PNG encode and
    // the write: the documents scan is one split at bench scale, so
    // an unpartitioned fixture would serialize every imageio
    // encode AND pin every later decode pass to one task. Core-count
    // file layout is the §6 "sensible output partitioning" floor —
    // deterministic (hash of doc_id), content-identical.
    graft.multimodal.Multimodal.syntheticImageTable(
        t(s, dir, "documents")
          .repartition(s.sparkContext.defaultParallelism, col("doc_id")),
        "doc_id")
      .write.mode("overwrite").parquet(images.path(dir))
  }
  private def imageTable(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(images(s, dir))

  /** REAL image decode: one synthetic two-band PNG per document row
    * (encoded on executors), decoded back with javax.imageio; output
    * is the decoded dimensions + whole-image channel means + 2×2
    * grid-pooled luminances. The oracle predicts every value from
    * the generator's modular arithmetic — so a hash match proves the
    * PNG encode→decode→pool loop is pixel-exact.
    */
  private def mmFeatures(s: SparkSession, dir: String): DataFrame = {
    // feature cells emitted as scalar columns (sortable, as the
    // row-check harness requires)
    graft.multimodal.Multimodal.decodeImageFeatures(
        imageTable(s, dir), gridRows = 2, gridCols = 2)
      .select(col("media_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        round(col("mean_r"), 4).as("mean_r"),
        round(col("mean_g"), 4).as("mean_g"),
        round(col("mean_b"), 4).as("mean_b"),
        round(element_at(col("features"), 1), 4).as("f0"),
        round(element_at(col("features"), 2), 4).as("f1"),
        round(element_at(col("features"), 3), 4).as("f2"),
        round(element_at(col("features"), 4), 4).as("f3"))
      .orderBy("media_id")
  }
  // the mm image oracles replay the synthetic-image generator's
  // modular arithmetic (Multimodal.imgW/imgH/bandA/bandB): a hash
  // match means the imageio PNG encode→decode→pixel-pool loop
  // reproduced every predicted value exactly
  query("mm_features", mmFeatures,
    """WITH p AS (
      |  SELECT doc_id AS media_id,
      |    (doc_id % 37) + 12 AS w,
      |    2 * ((doc_id % 12) + 5) AS h,
      |    (doc_id * 5) % 256 AS ar, (doc_id * 7) % 256 AS ag,
      |    (doc_id * 11) % 256 AS ab,
      |    (doc_id * 13) % 256 AS br, (doc_id * 17) % 256 AS bg,
      |    (doc_id * 19) % 256 AS bb
      |  FROM documents)
      |SELECT media_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |  round((ar + br) / 2.0, 4) AS mean_r,
      |  round((ag + bg) / 2.0, 4) AS mean_g,
      |  round((ab + bb) / 2.0, 4) AS mean_b,
      |  round((ar + ag + ab) / 3.0, 4) AS f0,
      |  round((ar + ag + ab) / 3.0, 4) AS f1,
      |  round((br + bg + bb) / 3.0, 4) AS f2,
      |  round((br + bg + bb) / 3.0, 4) AS f3
      |FROM p ORDER BY media_id""".stripMargin)

  /** Gradient-PNG fixture for the perceptual-hash operators —
    * written once per process like [[imageTable]]. */
  private val gradientImages: Fixture = fixture("gradimg") { (s, dir) =>
    // same core-count hash layout as [[imageTable]] — parallel
    // encode at build, parallel decode on every read
    graft.multimodal.Multimodal.gradientImageTable(
        t(s, dir, "documents")
          .repartition(s.sparkContext.defaultParallelism, col("doc_id")),
        "doc_id")
      .write.mode("overwrite").parquet(gradientImages.path(dir))
  }
  private def gradientTable(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(gradientImages(s, dir))

  private val phashCtes: String =
    """px AS (
      |  SELECT doc_id AS media_id,
      |    (doc_id % 37) + 12 AS w, 2 * ((doc_id % 12) + 5) AS h,
      |    2 + doc_id % 5 AS a, 3 + doc_id % 7 AS b, doc_id % 256 AS base
      |  FROM documents),
      |ys AS (SELECT media_id, w, h, a, b, base,
      |         CAST(unnest(range(0, h)) AS INT) AS y FROM px),
      |pts AS (SELECT media_id, w, h, a, b, base, y,
      |          CAST(unnest(range(0, w)) AS INT) AS x FROM ys),
      |cl AS (
      |  SELECT media_id,
      |    least(CAST((y * 8) // h AS INT), 7) AS gy,
      |    least(CAST((x * 8) // w AS INT), 7) AS gx,
      |    w * h AS n,
      |    3 * ((x * a + y * b + base) % 256) AS lum
      |  FROM pts),
      |cells AS (
      |  SELECT media_id, gy, gx,
      |    sum(lum) AS cellsum, count(*) AS celln, max(n) AS n
      |  FROM cl GROUP BY 1, 2, 3),
      |tot AS (SELECT media_id, sum(cellsum) AS total FROM cells GROUP BY 1),
      |bits AS (
      |  SELECT media_id, gy,
      |    CAST(sum(CASE WHEN cellsum * n > total * celln
      |         THEN (CAST(1 AS BIGINT) << gx) ELSE 0 END) AS BIGINT) AS bv
      |  FROM cells JOIN tot USING (media_id)
      |  GROUP BY 1, 2),
      |ph AS (
      |  SELECT media_id,
      |    max(CASE WHEN gy = 0 THEN bv END) AS b0,
      |    max(CASE WHEN gy = 1 THEN bv END) AS b1,
      |    max(CASE WHEN gy = 2 THEN bv END) AS b2,
      |    max(CASE WHEN gy = 3 THEN bv END) AS b3,
      |    max(CASE WHEN gy = 4 THEN bv END) AS b4,
      |    max(CASE WHEN gy = 5 THEN bv END) AS b5,
      |    max(CASE WHEN gy = 6 THEN bv END) AS b6,
      |    max(CASE WHEN gy = 7 THEN bv END) AS b7
      |  FROM bits GROUP BY 1)""".stripMargin

  /** REAL perceptual hash: gradient PNGs decoded with javax.imageio,
    * 8×8 integer-exact aHash ([[graft.multimodal.Multimodal
    * .perceptualHash]]); the oracle re-derives every bit from the
    * generator's modular arithmetic, so a hash match proves the
    * decode→pool→threshold loop is pixel-exact.
    */
  private def mmPhash(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.perceptualHash(gradientTable(s, dir))
      .orderBy("media_id")
  query("mm_phash", mmPhash,
    s"""WITH $phashCtes
      |SELECT media_id, b0, b1, b2, b3, b4, b5, b6, b7
      |FROM ph ORDER BY media_id""".stripMargin)

  /** Image near-dup by perceptual-hash hamming distance, banded with
    * the pigeonhole guarantee (maxHamming < nBands) — so the oracle
    * can verify the BANDED plan against a brute-force SQL hamming
    * join over the replayed hashes: banding provably loses nothing.
    */
  private def mmPhashNearDup(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.phashNearDup(gradientTable(s, dir),
        maxHamming = 3, nBands = 4)
      .orderBy("id_a", "id_b")
  // brute-force hamming join over the replayed hashes — verifies
  // the BANDED Spark plan loses nothing (pigeonhole: maxHamming 3
  // < 4 bands)
  query("mm_phash_neardup", mmPhashNearDup,
    s"""WITH $phashCtes
      |SELECT id_a, id_b, hamming FROM (
      |  SELECT p.media_id AS id_a, q.media_id AS id_b,
      |    CAST(bit_count(xor(p.b0, q.b0)) + bit_count(xor(p.b1, q.b1))
      |       + bit_count(xor(p.b2, q.b2)) + bit_count(xor(p.b3, q.b3))
      |       + bit_count(xor(p.b4, q.b4)) + bit_count(xor(p.b5, q.b5))
      |       + bit_count(xor(p.b6, q.b6)) + bit_count(xor(p.b7, q.b7))
      |      AS BIGINT) AS hamming
      |  FROM ph p JOIN ph q ON p.media_id < q.media_id)
      |WHERE hamming <= 3
      |ORDER BY id_a, id_b""".stripMargin)

  /** Image near-dup CLUSTERS ([[graft.multimodal.Multimodal.phashClusters]]):
    * the M-rows-per-cluster output contract at image-corpus scale,
    * mirroring dd_clusters — components run over REPRESENTATIVE
    * (distinct-hash) pairs, members inherit, and the pair expansion
    * is never materialized. The oracle replays transitive closure
    * over the brute-force member-pair SQL, so the hash match proves
    * the rep-level shortcut computes exactly the member-level
    * components.
    */
  private def mmPhashClusters(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.phashClusters(gradientTable(s, dir),
        maxHamming = 3, nBands = 4)
      .orderBy("media_id")
  // transitive closure over the same brute-force pair SQL —
  // verifies the rep-level components + member inheritance
  query("mm_phash_clusters", mmPhashClusters,
    s"""WITH RECURSIVE $phashCtes,
      |expanded AS (
      |  SELECT p.media_id AS id_a, q.media_id AS id_b
      |  FROM ph p JOIN ph q ON p.media_id < q.media_id
      |  WHERE bit_count(xor(p.b0, q.b0)) + bit_count(xor(p.b1, q.b1))
      |      + bit_count(xor(p.b2, q.b2)) + bit_count(xor(p.b3, q.b3))
      |      + bit_count(xor(p.b4, q.b4)) + bit_count(xor(p.b5, q.b5))
      |      + bit_count(xor(p.b6, q.b6)) + bit_count(xor(p.b7, q.b7)) <= 3),
      |$closureCtes
      |SELECT node AS media_id, least(node, min(r)) AS cluster_id
      |FROM reach GROUP BY node ORDER BY media_id""".stripMargin)

  /** REAL resize: bilinear-resample every synthetic PNG so its
    * longest edge fits 16px, re-encode, then DECODE THE RESIZED
    * PAYLOAD — the reported dimensions come from parsing the
    * re-encoded PNG, so the oracle's ceil(dim·scale) prediction
    * verifies the whole decode→resample→encode→decode loop.
    */
  private def mmResize(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.decodeImageFeatures(
        graft.multimodal.Multimodal.resizeImages(imageTable(s, dir), maxDim = 16))
      .select(col("media_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"))
      .orderBy("media_id")

  /** One entry per implemented operator from SURVEY.md §2. */
  query("mm_resize", mmResize,
    """WITH p AS (
      |  SELECT doc_id AS media_id,
      |    (doc_id % 37) + 12 AS w,
      |    2 * ((doc_id % 12) + 5) AS h
      |  FROM documents)
      |SELECT media_id,
      |  CAST(CASE WHEN greatest(w, h) <= 16 THEN w
      |       ELSE CAST(ceil(w * (16.0 / greatest(w, h))) AS BIGINT) END
      |    AS BIGINT) AS width,
      |  CAST(CASE WHEN greatest(w, h) <= 16 THEN h
      |       ELSE CAST(ceil(h * (16.0 / greatest(w, h))) AS BIGINT) END
      |    AS BIGINT) AS height
      |FROM p ORDER BY media_id""".stripMargin)
}
