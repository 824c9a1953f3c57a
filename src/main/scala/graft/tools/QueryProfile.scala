package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Per-query profiler for the optimization rounds: for each named
  * registered query it separates DATAFRAME CONSTRUCTION time (driver
  * work the query function performs eagerly — training collects,
  * localCheckpoint materializations, block/layer fixture builds) from
  * EXECUTION time (the `.count()` action the bench times), counts the
  * Spark jobs/stages/tasks each phase submits and the generated
  * classes it compiles (`compiles`: misses of Spark's compiled-class
  * cache, whole-stage and expression classes alike, read as the
  * delta of `CodegenMetrics.METRIC_COMPILATION_TIME`'s count), and
  * dumps `explain("formatted")` to `<outDir>/<name>.txt`.
  *
  * Usage: runMain graft.tools.QueryProfile <outDir> <q1,q2,...|all>
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 32),
  *      SPARK_GRAFT_PROFILE_PASSES (default 3).
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_plans")
    val namesArg = if (args.length > 1) args(1) else "all"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PROFILE_PASSES", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new java.util.concurrent.atomic.AtomicLong()
    val stages = new java.util.concurrent.atomic.AtomicLong()
    val tasks = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    })

    // generated-class compiles so far in this JVM (driver and the
    // local executors share the counter)
    def compiles(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    val all = graft.SparkEntry.queries
    val names =
      if (namesArg == "all") all.keys.toSeq.sorted
      else namesArg.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    new java.io.File(outDir).mkdirs()

    names.foreach { name =>
      val fn = all(name)
      // warm-up (untimed): JIT + parquet footer cache, as the bench does
      try fn(spark, sfDir).count() catch { case t: Throwable =>
        System.err.println(s"[profile] $name warmup failed: $t") }
      val rows = (1 to passes).map { _ =>
        System.gc()
        val j0 = jobs.get(); val s0 = stages.get(); val t0c = tasks.get()
        val c0 = compiles()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        val jC = jobs.get() - j0; val sC = stages.get() - s0
        val tC = tasks.get() - t0c
        val j1 = jobs.get(); val s1 = stages.get(); val t1c = tasks.get()
        val c1 = compiles()
        df.count()
        val t2 = System.nanoTime()
        val jE = jobs.get() - j1; val sE = stages.get() - s1
        val tE = tasks.get() - t1c
        (((t1 - t0) / 1e9, jC, sC, tC, c1 - c0),
          ((t2 - t1) / 1e9, jE, sE, tE, compiles() - c1))
      }
      def med(xs: Seq[Double]): Double = xs.sorted.apply((xs.size - 1) / 2)
      val cT = med(rows.map(_._1._1)); val eT = med(rows.map(_._2._1))
      // counts are from the LAST pass (steady state - fixture builds
      // and AQE replanning inflate pass 1); times are medians over
      // all passes, so the two columns describe different executions
      // by design. Listener counters drain asynchronously, so counts
      // are approximate phase attribution, not an exact ledger.
      val last = rows.last
      System.err.println(
        f"[profile] $name%-34s construct ${cT}%6.2f s (last-pass jobs ${last._1._2}%2d stages ${last._1._3}%3d tasks ${last._1._4}%5d compiles ${last._1._5}%3d)  " +
        f"exec ${eT}%6.2f s (last-pass jobs ${last._2._2}%2d stages ${last._2._3}%3d tasks ${last._2._4}%5d compiles ${last._2._5}%3d)  total ${cT + eT}%6.2f s")
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(s"$outDir/$name.txt", "UTF-8")
        try w.write(plan) finally w.close()
      } catch { case t: Throwable =>
        System.err.println(s"[profile] $name explain failed: $t") }
    }
    spark.stop()
  }
}
