package graft

import java.sql.Timestamp
import org.apache.spark.graft.JobLog
import org.apache.spark.sql.functions._
import graft.tsdb.Matcher
import graft.tsdb.shard.ParquetShardStore

/** Read planning over the reference-layout shards is footer reads:
  * building a read frame starts no Spark job, and the
  * footer-derived schemas are exactly the ones Spark's parquet schema
  * inference would produce — so the plans and answers are the ones
  * inference gave, without its per-read job.
  */
class ShardReadPlanningSpec extends SparkSpec {
  import spark.implicits._

  private val base = 1704067200000L // 2024-01-01T00:00Z
  private val hour = 3600000L

  // nine series per family, so all three range-partitioned shards
  // hold rows; `env` is absent on a third of them
  private def series(i: Int) = (s"svc_${i % 9}",
    if (i % 3 == 0) null else s"env_${i % 2}", new Timestamp(base + i * 60000L))

  private lazy val xorDir = {
    val d = "/tmp/graft_pshard_plan_xor"
    ParquetShardStore.write((0 until 270).map { i =>
        val (svc, env, ts) = series(i); (svc, env, ts, i * 0.5)
      }.toDF("svc", "env", "ts", "value"),
      d, Seq("svc", "env"), "ts", "value", colDurationMs = hour, shards = 3)
    d
  }

  private def histRows(float: Boolean) = {
    val cols = Seq("svc", "env", "ts", "zero", "idx", "cnt", "hsum")
    if (float) (0 until 270).map { i =>
      val (svc, env, ts) = series(i)
      (svc, env, ts, 0.0, Seq(1, 3), Seq(i * 0.25, i * 1.25), i * 1.5)
    }.toDF(cols: _*)
    else (0 until 270).map { i =>
      val (svc, env, ts) = series(i)
      (svc, env, ts, 0L, Seq(1, 3), Seq(i + 1L, i + 2L), i * 1.5)
    }.toDF(cols: _*)
  }

  private lazy val histDir = {
    val d = "/tmp/graft_pshard_plan_hist"
    ParquetShardStore.writeHist(histRows(float = false), d,
      Seq("svc", "env"), "ts", "zero", "idx", "cnt", Some("hsum"),
      colDurationMs = hour, shards = 3)
    d
  }

  private lazy val floatHistDir = {
    val d = "/tmp/graft_pshard_plan_fhist"
    ParquetShardStore.writeFloatHist(histRows(float = true), d,
      Seq("svc", "env"), "ts", "zero", "idx", "cnt", Some("hsum"),
      colDurationMs = hour, shards = 3)
    d
  }

  private def dirs = Seq(xorDir, histDir, floatHistDir)

  test("footer-derived labels and chunks schemas equal Spark's inferred " +
      "schemas on XOR, histogram and float-histogram shards") {
    for (d <- dirs) {
      for (s <- 0 until 3; f <- Seq("labels", "chunks"))
        assert(new java.io.File(s"$d/$s.$f.parquet").isFile, s"$d/$s.$f")
      val footers = new ParquetShardStore.ShardFooters(spark, d)
      assert(footers.labelsSchema ==
        spark.read.parquet(s"$d/*.labels.parquet").schema, d)
      assert(footers.chunksSchema ==
        spark.read.parquet(s"$d/*.chunks.parquet").schema, d)
      assert(footers.labelNames == Seq("env", "svc"), d)
    }
  }

  test("building meta/labelNames/series/select* frames starts zero Spark " +
      "jobs; selectStrict starts only its quota aggregation") {
    dirs // write outside the job log
    val sc = spark.sparkContext
    val (lo, hi) = (base + hour, base + 3 * hour)
    val ms = Seq(Matcher.Eq("svc", "svc_1"))
    val (frames, planJobs) = JobLog(sc) {
      ParquetShardStore.meta(spark, xorDir)
      ParquetShardStore.labelNames(spark, xorDir)
      Seq(ParquetShardStore.series(spark, xorDir, ms),
        ParquetShardStore.select(spark, xorDir, lo, hi, ms),
        ParquetShardStore.selectHist(spark, histDir, lo, hi, ms),
        ParquetShardStore.selectFloatHist(spark, floatHistDir, lo, hi, ms))
    }
    assert(planJobs.isEmpty, s"planning started ${planJobs.size} jobs")
    // the frames are live: each answers once an action runs
    assert(frames.forall(_.count() > 0))

    val (strict, strictJobs) = JobLog(sc) {
      ParquetShardStore.selectStrict(spark, xorDir, lo, hi, ms,
        chunkBytesQuota = Long.MaxValue)
    }
    // every job belongs to ONE SQL execution — the quota aggregation
    // (its broadcast and aggregate stages) — and none runs outside SQL,
    // as a schema-inference job would
    assert(strictJobs.nonEmpty && strictJobs.forall(_.isDefined),
      s"jobs outside the quota aggregation: $strictJobs")
    assert(strictJobs.distinct.size == 1, s"jobs: $strictJobs")
    assert(strict.collect().toSet ==
      ParquetShardStore.select(spark, xorDir, lo, hi, ms).collect().toSet)
  }
}
