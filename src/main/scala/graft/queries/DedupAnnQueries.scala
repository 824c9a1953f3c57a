package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Ann, Dedup}

import Shared._

/** Near-duplicate detection and approximate nearest neighbours. The
  * hash-seeded LSH and ANN operators have no SQL oracle.
  */
private[graft] object DedupAnnQueries extends QueryFamily {

  private def ddExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(s, dir, "documents"), "text", "doc_id")
      .withColumn("dup_rank", col("dup_rank").cast("long"))
      .orderBy("doc_id")
  query("dd_exact", ddExact,
    """SELECT doc_id, sha256(text) AS content_hash,
      |  CAST(row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS BIGINT) AS dup_rank
      |FROM documents
      |ORDER BY doc_id""".stripMargin)

  /** The ngram-Jaccard pair pipeline as a CTE list, shared between
    * the dd_ngram_jaccard oracle and the dd_clusters oracle (which
    * runs transitive closure over the same `expanded` pair set).
    */
  private[queries] def ngramPairCtes(src: String = "documents"): String =
    s"""keyed AS (SELECT doc_id, text, sha256(text) AS ck FROM $src),
      |grp AS (SELECT ck, min(doc_id) AS rid, min(text) AS text
      |        FROM keyed GROUP BY ck),
      |members AS (SELECT ck, doc_id AS mid FROM keyed),
      |pos AS (
      |  SELECT rid AS doc_id, text,
      |    unnest(range(1, greatest(length(text) - 3, 1) + 1)) AS i
      |  FROM grp),
      |sh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 4) AS shingle FROM pos),
      |capped AS (
      |  SELECT doc_id, shingle FROM (
      |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df FROM sh)
      |  WHERE df <= 100),
      |sizes AS (SELECT doc_id, count(*) AS n_sh FROM capped GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS rid_a, b.doc_id AS rid_b, count(*) AS inter
      |  FROM capped a JOIN capped b USING (shingle)
      |  WHERE a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |reppairs AS (
      |  SELECT rid_a, rid_b, jaccard FROM (
      |    SELECT rid_a, rid_b,
      |      round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 4) AS jaccard
      |    FROM inter
      |    JOIN sizes sa ON sa.doc_id = rid_a
      |    JOIN sizes sb ON sb.doc_id = rid_b)
      |  WHERE jaccard >= 0.8),
      |expanded AS (
      |  SELECT least(ma.mid, mb.mid) AS id_a,
      |    greatest(ma.mid, mb.mid) AS id_b, jaccard
      |  FROM reppairs
      |  JOIN grp ga ON ga.rid = rid_a
      |  JOIN members ma ON ma.ck = ga.ck
      |  JOIN grp gb ON gb.rid = rid_b
      |  JOIN members mb ON mb.ck = gb.ck
      |  UNION ALL
      |  SELECT m1.mid, m2.mid, 1.0
      |  FROM members m1 JOIN members m2
      |    ON m1.ck = m2.ck AND m1.mid < m2.mid)""".stripMargin

  private def ddNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccard(t(s, dir, "documents"), "text", "doc_id",
        n = 4, threshold = 0.8, dfCap = 100)
      .orderBy("id_a", "id_b")
  query("dd_ngram_jaccard", ddNgramJaccard,
    s"""WITH ${ngramPairCtes()}
      |SELECT id_a, id_b, jaccard FROM expanded
      |ORDER BY id_a, id_b""".stripMargin)

  /** Transitive closure over `expanded`'s pair set (recursive CTE):
    * `reach` maps every node in an edge to everything reachable from
    * it. Shared by the dd_clusters oracle (min-reachable labelling)
    * and the pipe_corpus_clean oracle (drop members with a smaller
    * reachable id).
    */
  private[queries] val closureCtes: String =
    """edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM expanded
      |  UNION
      |  SELECT id_b, id_a FROM expanded),
      |reach AS (
      |  SELECT src AS node, dst AS r FROM edges
      |  UNION
      |  SELECT rr.node, e.dst FROM reach rr JOIN edges e ON rr.r = e.src)""".stripMargin

  /** The cluster-id output contract: connected components over the
    * verified ngram-Jaccard near-dup pairs — one row per member doc,
    * labelled with its component's smallest doc id. The oracle
    * replays the same components with a recursive CTE over the same
    * pair SQL, so the hash check proves the distributed large-star/
    * small-star iteration computes exactly transitive closure.
    */
  private def ddClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.clusters(Dedup.ngramJaccard(t(s, dir, "documents"), "text",
        "doc_id", n = 4, threshold = 0.8, dfCap = 100))
      .orderBy("doc_id")
  // transitive closure over the SAME pair set the ngram oracle
  // emits: min-reachable-node labelling via a recursive CTE
  query("dd_clusters", ddClusters,
    s"""WITH RECURSIVE ${ngramPairCtes()},
      |$closureCtes
      |SELECT node AS doc_id, least(node, min(r)) AS cluster_id
      |FROM reach
      |GROUP BY node
      |ORDER BY doc_id""".stripMargin)

  private def ddMinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashLsh(t(s, dir, "documents"), "text", "doc_id",
        n = 4, k = 32, bands = 8)
      .orderBy("id_a", "id_b")
  rowsOnly("dd_minhash_lsh", ddMinhashLsh)

  private def ddMinhashNearDup(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashNearDup(t(s, dir, "documents"), "text", "doc_id",
        n = 4, k = 32, bands = 8, threshold = 0.8)
      .orderBy("id_a", "id_b")
  rowsOnly("dd_minhash_neardup", ddMinhashNearDup)

  private def ddSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashNearDup(t(s, dir, "documents"), "text", "doc_id",
        maxHamming = 8, nBands = 4)
      .orderBy("id_a", "id_b")
  rowsOnly("dd_simhash", ddSimhash)

  /** Substring-span dedup ([[operators.Dedup.substringDedup]]):
    * every duplicated token 8-gram span excised corpus-wide, first
    * occurrence kept — the corpus-REWRITING dedup that catches
    * boilerplate inside otherwise distinct documents. The oracle
    * replays canonical-occurrence resolution and the span-union
    * rewrite exactly (window rank per gram, covered-index set,
    * list-filtered rebuild).
    */
  private def ddSubstring(s: SparkSession, dir: String): DataFrame =
    Dedup.substringDedup(t(s, dir, "documents"), "text", "doc_id", k = 8)
      .orderBy("doc_id")
  // substring-span dedup: canonical occurrence per duplicated token
  // 8-gram via window rank, covered = union of [pos, pos+8) over
  // non-canonical starts, rebuild from uncovered token indexes
  query("dd_substring", ddSubstring,
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |starts AS (
      |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
      |    array_to_string(ws[CAST(i AS INT):CAST(i + 7 AS INT)], ' ')
      |      AS gram
      |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 6)) AS i
      |        FROM w WHERE len(ws) >= 8)),
      |occ AS (
      |  SELECT doc_id, pos,
      |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos)
      |      AS rn,
      |    count(*) OVER (PARTITION BY gram) AS c
      |  FROM starts),
      |cov AS (
      |  SELECT doc_id,
      |    list_distinct(flatten(list(range(pos, pos + 8)))) AS covered
      |  FROM occ WHERE c >= 2 AND rn >= 2 GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens,
      |  CAST(coalesce(len(c.covered), 0) AS INT) AS n_removed,
      |  CASE WHEN c.covered IS NULL THEN d.text
      |    -- coalesce: DuckDB's array_to_string is NULL on the
      |    -- empty list (fully-removed doc); Spark's concat_ws is ''
      |    ELSE coalesce(array_to_string(list_transform(
      |      list_filter(range(0, len(string_split(d.text, ' '))),
      |        i -> NOT list_contains(c.covered, i)),
      |      i -> string_split(d.text, ' ')[CAST(i + 1 AS INT)]), ' '), '')
      |  END AS cleaned_text
      |FROM documents d LEFT JOIN cov c USING (doc_id)
      |ORDER BY doc_id""".stripMargin)

  private def ddEmbedNearDup(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDup(t(s, dir, "embeddings"), "embedding", "vec_id",
        threshold = 0.45)
      .orderBy("id_a", "id_b")
  query("dd_embed_neardup", ddEmbedNearDup,
    """SELECT id_a, id_b, cos_sim FROM (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    round(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
      |      / (sqrt(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
      |         * sqrt(list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 4) AS cos_sim
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
      |WHERE cos_sim >= 0.45
      |ORDER BY id_a, id_b""".stripMargin)

  private def ddEmbedNearDupLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupLsh(t(s, dir, "embeddings"), "embedding", "vec_id",
        threshold = 0.3, nPlanes = 4)
      .orderBy("id_a", "id_b")
  rowsOnly("dd_embed_neardup_lsh", ddEmbedNearDupLsh)

  private def annBruteForce(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.bruteForce(emb, emb.filter(col("vec_id") < 5), "embedding", "vec_id", k = 10)
      .orderBy("qid", "rank")
  }
  query("ann_bruteforce", annBruteForce,
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      |           FROM embeddings WHERE vec_id < 5),
      |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings),
      |s AS (SELECT qid, nid,
      |        list_inner_product(qv, nv)
      |          / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(nv, nv))) AS sim
      |      FROM c CROSS JOIN q WHERE qid <> nid),
      |r AS (SELECT qid, nid, sim,
      |        CAST(row_number() OVER (PARTITION BY qid
      |          ORDER BY round(sim, 6) DESC, nid) AS BIGINT) AS "rank"
      |      FROM s)
      |SELECT qid, nid, round(sim, 4) AS sim, "rank" FROM r
      |WHERE "rank" <= 10
      |ORDER BY qid, "rank"""".stripMargin)

  private def annLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.lshTopK(emb, emb.filter(col("vec_id") < 5), "embedding", "vec_id",
        k = 10, nPlanes = 4, multiProbe = true)
      .orderBy("qid", "rank")
  }
  rowsOnly("ann_lsh", annLsh)

  private def annIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.ivfTopK(emb, emb.filter(col("vec_id") < 5), "embedding", "vec_id",
        k = 10, nCentroids = 16, nProbe = 8, trainFraction = 0.25)
      .orderBy("qid", "rank")
  }
  rowsOnly("ann_ivf", annIvf)

  /** IVF-PQ ([[Ann.ivfPqTopK]]): the index row the ADC scan reads is
    * cell + 16 codes (≈17 B) instead of 64 floats — the memory-scale
    * ANN configuration; exact rerank restores true cosine order on
    * the surviving candidates. Rows-only by design (approximate);
    * pinned by AnnSpec's ≥0.85 recall gate at these settings.
    */
  private def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.ivfPqTopK(emb, emb.filter(col("vec_id") < 5), "embedding", "vec_id",
        k = 10, nCentroids = 16, nProbe = 8, nSub = 16, codebookSize = 16,
        trainFraction = 0.25)
      .orderBy("qid", "rank")
  }
  rowsOnly("ann_ivf_pq", annIvfPq)

  /** Benchmark decontamination ([[Dedup.decontaminate]]): the
    * documents table split into a small "benchmark" slice
    * (doc_id % 97 = 0) and the training remainder; training docs
    * sharing any 24-char shingle with the benchmark are flagged
    * with their distinct-shared-shingle count. The benchmark
    * shingle set broadcasts — the training side never shuffles for
    * the probe.
    */
  private def ddDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.decontaminate(
        docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(97)) === 0),
        "text", "doc_id", n = 24)
      .orderBy("doc_id")
  }
  // replays Dedup.decontaminate: distinct 24-char shingles per
  // side, inner join on the shared shingle, per-doc distinct count
  query("dd_decontaminate", ddDecontaminate,
    """WITH b AS (
      |  SELECT DISTINCT substr(text, CAST(i AS INT), 24) AS shingle
      |  FROM (SELECT text,
      |          unnest(range(1, greatest(length(text) - 23, 1) + 1)) AS i
      |        FROM documents WHERE doc_id % 97 = 0)),
      |tr AS (
      |  SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 24) AS shingle
      |  FROM (SELECT doc_id, text,
      |          unnest(range(1, greatest(length(text) - 23, 1) + 1)) AS i
      |        FROM documents WHERE doc_id % 97 <> 0))
      |SELECT doc_id, count(*) AS n_hits
      |FROM tr JOIN b USING (shingle)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin)
}
