package perfbench

import org.apache.spark.sql.SparkSession

import graft.operators.Dedup

/** `corpus_dedup`: MinHash near-duplicate detection at Jaccard 0.8 and
  * the connected-component clusters of the pairs it finds, over a
  * seeded corpus with planted near-duplicate clusters. One client. */
final class CorpusDedup(spark: SparkSession, tracer: Tracer, seed: Long) extends Workload {
  val Docs = 600
  val Words = 120
  val Threshold = 0.8
  val N = 4 // Dedup's default character-shingle width
  private var corpus: Gen.Corpus = _
  private var textById: Map[Long, String] = Map.empty
  private var dir = ""
  private var expected: Set[(Long, Long)] = Set.empty
  private var lastRecall = 0.0

  def clients = 1

  def setup(d: String): Unit = {
    import spark.implicits._
    corpus = Gen.corpus(seed, Docs, Words)
    textById = corpus.ids.zip(corpus.texts).toMap
    dir = s"$d/corpus"
    corpus.ids.toSeq.zip(corpus.texts.toSeq).toDF("id", "text").write.parquet(dir)
  }

  private val shingleCache = new java.util.concurrent.ConcurrentHashMap[Long, Set[String]]()
  private def sh(id: Long): Set[String] =
    shingleCache.computeIfAbsent(id, i => Gen.shingles(textById(i), N))

  /** The planted pairs that really are near-duplicates at the threshold. */
  override def prepare(): Unit =
    expected = corpus.planted.filter { case (a, b) => Gen.jaccard(sh(a), sh(b)) >= Threshold }.toSet

  def op(client: Int, k: Int): OpResult = {
    val df = spark.read.parquet(dir)
    val pairsDf = tracer.span("dedup.candidates") {
      Dedup.minHashNearDup(df, "text", "id", threshold = Threshold)
    }
    val pairs = tracer.span("dedup.verify") { pairsDf.localCheckpoint() }
    val got = pairs.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jaccard")))
    tracer.count("dedup.verified_pairs", got.length)
    val clusters = tracer.span("dedup.cluster") { Dedup.clusters(pairs).collect() }
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val found = got.map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
    val recall = if (expected.isEmpty) 1.0 else expected.count(found).toDouble / expected.size
    lastRecall = recall
    OpResult(Docs, () => {
      val badPair = got.find { case (a, b, j) =>
        val exact = Gen.jaccard(sh(a), sh(b))
        exact < Threshold || math.abs(exact - j) > 0.000051
      }
      // clusters must be the connected components of the pairs, each
      // named by its smallest member
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      found.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val wantClusters = parent.keys.map(x => x -> find(x)).toMap
      badPair.map(p => s"pair $p is not a near-duplicate at $Threshold")
        .orElse(if (recall < 0.95) Some(s"recall $recall of ${expected.size} planted pairs") else None)
        .orElse(if (clusters == wantClusters) None
          else Some(s"clusters: ${clusters.size} docs, want ${wantClusters.size}"))
    })
  }

  override def layerMetrics(): Map[String, Double] = Map("dedup.recall" -> lastRecall)
}
