package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.compact

/** What one operation reports: the number of items it served (samples
  * or documents) and a check to run after its timed part. The check
  * returns a description of a wrong answer, or None. */
final case class OpResult(items: Long, check: () => Option[String], kind: String = "op")

/** A benchmark workload. `setup` builds its inputs under `dir` and is
  * timed; `op` is the `k`-th operation of a client (client ∈ [0,
  * clients); warm-ups have k < 0). Each client's sequence of operations
  * is fixed, so timing changes how many run, never which. */
trait Workload {
  def clients: Int
  def setup(dir: String): Unit
  /** Work after the last setup that users would not pay per query
    * (expected answers, the panel set); not timed. */
  def prepare(): Unit = ()
  def op(client: Int, k: Int): OpResult
  /** Untimed operations per client before measuring. */
  def warmups: Int = 1
  /** Operations in one pass over a client's operation kinds. A client
    * stops only after a whole pass. */
  def cycle: Int = 1
  /** Fewest operations an untraced run measures over all clients. */
  def minOps: Int = 1
  /** Per-layer metrics specific to this workload (name → value). */
  def layerMetrics(): Map[String, Double] = Map.empty
}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    out: String, cpus: Int)

object Main {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("out"), need("cpus").toInt)
  }

  private def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${(System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1fs $msg")

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val work = new File(args.out, "work").getAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[${args.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", args.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code = try run(spark, args, work) finally {
      log("stopping")
      spark.stop()
      log("stopped")
    }
    System.exit(code)
  }

  private def run(spark: SparkSession, args: Args, work: String): Int = {
    val tracer = new Tracer(spark.sparkContext)
    val listener = new LayerListener
    val w: Workload = args.workload match {
      case "ingest" => new Ingest(spark, tracer, args.seed)
      case "dashboard" => new Dashboard(spark, tracer, args.seed, args.cpus)
      case "corpus_dedup" => new CorpusDedup(spark, tracer, args.seed)
      case other =>
        System.err.println(s"unknown workload $other"); return 2
    }

    val phases = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val tRun = System.nanoTime()
    def phase(name: String): Unit = {
      phases += name -> (System.nanoTime() - tRun) / 1e9
      log(s"$name done")
    }
    val steal0 = stealSeconds()
    phase("session")
    // set-up: repeated, so its median is steady; the last one is used
    val setups = (1 to Setups).map { k =>
      val t0 = System.nanoTime()
      w.setup(s"$work/setup$k")
      (System.nanoTime() - t0) / 1e9
    }
    w.prepare()
    phase("setup")

    val failures = new ConcurrentLinkedQueue[String]()
    val attempted = new java.util.concurrent.atomic.AtomicLong()
    def runOp(w: Workload, client: Int, k: Int, traced: Boolean,
        root: String = "op"): (Long, Long, String) = {
      attempted.incrementAndGet()
      val t0 = System.nanoTime()
      try {
        val (r, ns) = tracer.op(traced, root)(w.op(client, k))
        r.check().foreach(failures.add)
        (ns, r.items, r.kind)
      } catch {
        case t: Throwable =>
          failures.add(s"op $k of client $client threw $t")
          (System.nanoTime() - t0, 0L, "failed")
      }
    }

    // warm-up: checked, not timed
    parallel(w.clients) { c => (1 to w.warmups).foreach(i => runOp(w, c, -i, false)) }

    phase("warmup")
    // measured: each client runs closed-loop, whole passes only, so
    // every run measures the same mix; answer checks run between
    // operations and are not part of the operation time
    final class ClientLog {
      val lat = scala.collection.mutable.ArrayBuffer[(Long, Boolean, String)]()
      var opNs, items = 0L
      def pass(c: Int, traced: Boolean): Unit = (1 to w.cycle).foreach { _ =>
        val (ns, n, kind) = runOp(w, c, lat.size, traced)
        lat += ((ns, traced, kind)); opNs += ns; items += n
      }
    }
    val logs = Array.fill(w.clients)(new ClientLog)
    val seconds = args.seconds * 1000000000L
    if (!args.trace) {
      // until the client's own operation time reaches --seconds and the
      // run has its minimum operation count
      parallel(w.clients) { c =>
        val log = logs(c)
        while (log.opNs < seconds || log.lat.size * w.clients < w.minOps) log.pass(c, traced = false)
      }
    } else {
      // traced and untraced segments of one pass per client alternate
      // (untraced, traced, traced, untraced, ...) until each kind has
      // half of --seconds; the listener is attached only while a traced
      // segment runs, so the overhead below includes its cost
      val segNs = Array(0L, 0L)
      var seg = 0
      while (seg % 4 != 0 || segNs.min < seconds / 2) {
        val traced = seg % 4 == 1 || seg % 4 == 2
        if (traced) spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        parallel(w.clients)(c => logs(c).pass(c, traced))
        segNs(if (traced) 1 else 0) += System.nanoTime() - t0
        if (traced) {
          org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(listener)
        }
        seg += 1
      }
    }
    phase("measure")

    // corpus_dedup is too slow per operation to be a declared workload,
    // so ingest's traced run also measures the dedup layer, on a few
    // traced operations of its own after ingest's
    val probe: Option[Workload] =
      if (args.trace && args.workload == "ingest") Some(new CorpusDedup(spark, tracer, args.seed))
      else None
    probe.foreach { p =>
      p.setup(s"$work/probe")
      p.prepare()
      runOp(p, 0, -1, false)
      spark.sparkContext.addSparkListener(listener)
      (0 until ProbeOps).foreach(k => runOp(p, 0, k, true, root = "probe"))
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      phase("probe")
    }

    val all = logs.flatMap(_.lat).toIndexedSeq
    val lats = all.map(_._1 / 1e6).sorted
    val opsPerS = logs.map(l => l.lat.size / (l.opNs / 1e9)).sum
    val itemsPerS = logs.map(l => l.items / (l.opNs / 1e9)).sum
    val e2e = Map(
      "setup_s" -> (median(setups), "s"),
      "ops_per_s" -> (opsPerS, "1/s"),
      "items_per_s" -> (itemsPerS, "1/s"),
      "latency_p50_ms" -> (quantile(lats, 0.5), "ms"),
      "latency_p90_ms" -> (quantile(lats, 0.9), "ms"),
      "peak_rss_mb" -> (peakRssMb(), "MB"))
    val metrics =
      if (!args.trace) e2e
      else {
        // traced vs untraced mean latency per kind of operation,
        // combined as a geometric mean over the kinds
        val logRatios = all.groupBy(_._3).values.flatMap { xs =>
          val (t, u) = xs.partition(_._2)
          if (t.isEmpty || u.isEmpty) None
          else Some(math.log(mean(t.map(_._1.toDouble)) / mean(u.map(_._1.toDouble))))
        }.toSeq
        val overhead = 100.0 * (math.exp(mean(logRatios)) - 1.0)
        Layers.metrics(tracer, listener, w.layerMetrics() ++
          probe.map(_.layerMetrics()).getOrElse(Map.empty) + ("trace.overhead_pct" -> overhead))
      }

    val fails = failures.asScala.toSeq
    fails.take(20).foreach(f => System.err.println(s"[perfbench] wrong answer: $f"))
    val result = JObject(
      "correct" -> JBool(fails.isEmpty),
      "attempted" -> JLong(attempted.get),
      "failed" -> JLong(fails.size),
      "metrics" -> JObject(metrics.toList.sortBy(_._1).map { case (k, (v, u)) =>
        k -> JObject("value" -> num(v), "unit" -> JString(u))
      }))
    val detail = JObject(
      "workload" -> JString(args.workload), "seed" -> JLong(args.seed),
      "seconds" -> JLong(args.seconds), "trace" -> JBool(args.trace),
      "cpus" -> JLong(args.cpus),
      "setups_s" -> JArray(setups.map(num).toList),
      "ops" -> JLong(all.size),
      "phases_s" -> JObject(phases.toList.map { case (k, v) => k -> num(v) }),
      // CPU time the hypervisor gave to other guests during the run
      "steal_s" -> num(stealSeconds() - steal0),
      "latencies_ms" -> JArray(all.map(x => num(x._1 / 1e6)).toList),
      "failures" -> JArray(fails.take(100).map(JString(_)).toList),
      "result" -> result)
    write(args.out, "detail.json", compact(detail))
    if (args.trace) write(args.out, "spans.jsonl",
      tracer.spans.asScala.toSeq.sortBy(_.startNs).map { s =>
        compact(JObject("id" -> JLong(s.id), "parent" -> JLong(s.parent), "op" -> JLong(s.op),
          "name" -> JString(s.name), "start_ns" -> JLong(s.startNs), "end_ns" -> JLong(s.endNs)))
      }.mkString("", "\n", "\n"))
    write(args.out, "result.json", compact(result))
    0
  }

  /** Set-ups per run; the reported set-up time is their median. */
  val Setups = 3
  /** Traced dedup operations in ingest's traced run. */
  val ProbeOps = 2

  def num(d: Double): JValue = if (d.isNaN || d.isInfinite) JNull else JDouble(d)

  def write(dir: String, name: String, text: String): Unit =
    Files.write(Paths.get(dir, name), text.getBytes(StandardCharsets.UTF_8))

  def parallel(n: Int)(f: Int => Unit): Unit =
    if (n == 1) f(0)
    else {
      val errors = new ConcurrentLinkedQueue[Throwable]()
      val ts = (0 until n).map { c =>
        val t = new Thread(() => try f(c) catch { case e: Throwable => errors.add(e) })
        t.start(); t
      }
      ts.foreach(_.join())
      Option(errors.peek()).foreach(e => throw e)
    }

  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** Linear-interpolated quantile of sorted values. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def deleteTree(dir: String): Unit = {
    val f = new File(dir)
    Option(f.listFiles()).foreach(_.foreach(c => deleteTree(c.getPath)))
    f.delete()
  }

  /** Steal time of all CPUs so far (the 8th field of /proc/stat's
    * cpu line, in USER_HZ = 100 ticks per second). */
  def stealSeconds(): Double =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toDouble / 100.0

  /** On-disk bytes of every file under `dir`. */
  def dirBytes(dir: String): Long = {
    val f = new File(dir)
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(c => dirBytes(c.getPath)).sum).getOrElse(0L)
  }
}
