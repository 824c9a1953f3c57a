package perfbench

import java.util.SplittableRandom

/** One generated series: its label set and the span it was scraped.
  * `handler` is null for gauges (the label is absent, not empty). */
final case class Series(id: Int, name: String, job: String, instance: String,
    handler: String, startMs: Long, endMs: Long) {
  def counter: Boolean = name == "c"
  def labels: Map[String, String] =
    Map("__name__" -> name, "job" -> job, "instance" -> instance) ++
      Option(handler).map("handler" -> _)
}

/** Samples of one series, ascending by timestamp (epoch ms). */
final case class Samples(ts: Array[Long], v: Array[Double]) {
  def size: Int = ts.length
  /** Counter increase from sample i-1 to i (a drop is a reset). */
  def delta(i: Int): Double = if (v(i) >= v(i - 1)) v(i) - v(i - 1) else v(i)
  /** Prefix sums of [[delta]] (index 0 = 0), or null when some delta
    * is not a whole number below 2^52. */
  lazy val deltaPrefix: Array[Long] = {
    val p = new Array[Long](math.max(1, size))
    var i = 1
    var ok = true
    while (ok && i < size) {
      val d = delta(i)
      ok = d == math.floor(d) && d < 4.0e15
      p(i) = p(i - 1) + d.toLong
      i += 1
    }
    if (ok) p else null
  }
}

/** Seeded Prometheus-like inputs. Everything is a pure function of the
  * seed, so a series' samples can be regenerated anywhere (inside a
  * Spark task for the block write, on the Spark driver for answer checks)
  * without going through any layer under test.
  *
  *  - counters (`c`, labels job/instance/handler) climb by whole
  *    requests per scrape and reset to a small value now and then, as
  *    a restarted process does;
  *  - gauges (`g`, labels job/instance) walk on a 0.01 grid inside
  *    [0, 100], so XOR compression sees realistic bounded-precision
  *    values rather than random doubles;
  *  - some instances are replaced part-way (series churn): the old
  *    instance stops and a new one starts at a random time;
  *  - every series has its own scrape phase and each scrape lands up
  *    to 250 ms early or late of its 15 s slot.
  */
object Gen {
  val ScrapeMs = 15000L
  val JitterMs = 250L
  val ResetOneIn = 2000

  final case class Shape(jobs: Int, instancesPerJob: Int, handlers: Int,
      hours: Int, churnPct: Int)

  /** splitmix64 finalizer — derives independent sub-seeds. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def jobName(j: Int): String = s"job$j"
  def handlerName(h: Int): String = s"/api/v1/h$h"

  def series(seed: Long, shape: Shape, t0Ms: Long): IndexedSeq[Series] = {
    val rnd = new SplittableRandom(mix(seed, 1))
    val endMs = t0Ms + shape.hours * 3600000L
    val out = IndexedSeq.newBuilder[Series]
    var id = 0
    def add(job: String, inst: String, from: Long, to: Long): Unit = {
      (0 until shape.handlers).foreach { h =>
        out += Series(id, "c", job, inst, handlerName(h), from, to); id += 1
      }
      out += Series(id, "g", job, inst, null, from, to); id += 1
    }
    // the same number of instances per job is replaced, so every seed
    // has the same series and sample counts per job; which instances,
    // and when, is seeded
    val perJob = math.max(1, shape.instancesPerJob * shape.churnPct / 100)
    val churned = (0 until shape.jobs).flatMap { j =>
      (0 until shape.instancesPerJob).map(i => (rnd.nextLong(), i)).sortBy(_._1)
        .take(perJob).map { case (_, i) => (j, i) }
    }.toSet
    for (j <- 0 until shape.jobs; i <- 0 until shape.instancesPerJob) {
      val job = jobName(j)
      val inst = s"10.$j.$i.1:9100"
      if (churned((j, i))) {
        // replaced somewhere in the middle 80% of the range
        val cut = t0Ms + (shape.hours * 3600000L * (0.1 + 0.8 * rnd.nextDouble())).toLong
        add(job, inst, t0Ms, cut)
        add(job, s"10.$j.$i.2:9100", cut, endMs)
      } else add(job, inst, t0Ms, endMs)
    }
    out.result()
  }

  def samples(seed: Long, s: Series): Samples = {
    val rnd = new SplittableRandom(mix(seed, 1000L + s.id))
    val phase = rnd.nextLong(ScrapeMs)
    val first = s.startMs + phase
    val n = if (first >= s.endMs) 0 else ((s.endMs - 1 - first) / ScrapeMs + 1).toInt
    val ts = new Array[Long](n)
    val v = new Array[Double](n)
    var i = 0
    var prev = Long.MinValue
    if (s.counter) {
      val perScrape = 1 + rnd.nextInt(300)
      var cur = rnd.nextInt(100000).toDouble
      while (i < n) {
        ts(i) = math.max(prev + 1, jittered(first + i * ScrapeMs, s, rnd))
        cur = if (rnd.nextInt(ResetOneIn) == 0) rnd.nextInt(perScrape + 1).toDouble
          else cur + rnd.nextInt(2 * perScrape + 1)
        v(i) = cur
        prev = ts(i); i += 1
      }
    } else {
      var cents = rnd.nextInt(10001)
      while (i < n) {
        ts(i) = math.max(prev + 1, jittered(first + i * ScrapeMs, s, rnd))
        cents = math.max(0, math.min(10000, cents + rnd.nextInt(201) - 100))
        v(i) = cents / 100.0
        prev = ts(i); i += 1
      }
    }
    Samples(ts, v)
  }

  private def jittered(slot: Long, s: Series, rnd: SplittableRandom): Long =
    math.min(s.endMs - 1, math.max(s.startMs, slot + rnd.nextLong(2 * JitterMs + 1) - JitterMs))

  // ----- near-duplicate corpus -----

  final case class Corpus(ids: Array[Long], texts: Array[String],
      planted: Seq[(Long, Long)])

  /** `docs` documents of `words` words each. About a fifth belong to
    * planted clusters of 2–4 members: copies of one base document with
    * 0–3 words replaced (0 = an exact duplicate). `planted` lists every
    * within-cluster pair (id_a < id_b); the rest are independent draws
    * from a Zipf-like vocabulary. */
  def corpus(seed: Long, docs: Int, words: Int): Corpus = {
    val rnd = new SplittableRandom(mix(seed, 2))
    val vocab = Array.tabulate(4000) { _ =>
      val len = 3 + rnd.nextInt(7)
      new String(Array.fill(len)(('a' + rnd.nextInt(26)).toChar))
    }
    def word(): String = {
      val u = rnd.nextDouble()
      vocab((vocab.length * u * u * u).toInt)
    }
    def doc(): Array[String] = Array.fill(words)(word())
    val ids = new Array[Long](docs)
    val texts = new Array[String](docs)
    val planted = Seq.newBuilder[(Long, Long)]
    var i = 0
    while (i < docs) {
      val base = doc()
      val size = if (rnd.nextInt(100) < 8) 2 + rnd.nextInt(3) else 1
      val members = (0 until math.min(size, docs - i)).map { m =>
        val w = base.clone()
        if (m > 0) (0 until rnd.nextInt(4)).foreach(_ => w(rnd.nextInt(words)) = word())
        ids(i + m) = 1000000L + i + m
        texts(i + m) = w.mkString(" ")
        ids(i + m)
      }
      for (a <- members; b <- members if a < b) planted += ((a, b))
      i += members.size
    }
    Corpus(ids, texts, planted.result())
  }

  /** Character 4-gram set of a text: the shingling `Dedup` documents
    * (code points; the corpus is ASCII, so one char is one point). */
  def shingles(text: String, n: Int): Set[String] =
    if (text.length < n) Set(text)
    else (0 to text.length - n).iterator.map(i => text.substring(i, i + n)).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }
}
