package graft

import java.sql.Timestamp
import org.apache.spark.graft.ExecLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.tsdb.TsdbConverter
import graft.tsdb.block.ChunkencHistogram
import graft.tsdb.shard.{ParquetShardStore, ShardMerge}

/** Series-grain shard compaction: `mergeShards`/`mergeShardsHist`
  * produce exactly what the sample-grain formulation — LWW
  * [[TsdbConverter.mergeShards]] over full-range selects, then a
  * fresh write — produces; duplicate timestamps resolve by a fixed
  * rule that no partitioning changes; and the merge never shuffles or
  * aggregates at sample grain.
  */
class ShardMergeSpec extends SparkSpec {
  import spark.implicits._

  private val base = 1704067200000L // 2024-01-01T00:00Z
  private val minute = 60000L
  private val hour = 3600000L
  private val labels = Seq("env", "instance", "job")

  /** Label set of series `s`: `env` is absent on every third. */
  private def labelsOf(s: Int): (String, String, String) =
    (if (s % 3 == 0) null else s"env_${s % 2}", s"i$s", s"job_${s % 4}")

  /** XOR dir with series `ss`, one sample a minute in [lo, hi), its
    * rows sorted by `sortBy`. */
  private def xorDir(name: String, ss: Seq[Int], lo: Int, hi: Int,
      scale: Double, colDurationMs: Long, sortBy: Seq[String] = labels,
      shards: Int = 1): String = {
    val d = s"/tmp/graft_pshard_smerge_$name"
    val rows = for (s <- ss; i <- lo until hi) yield {
      val (env, inst, job) = labelsOf(s)
      (env, inst, job, new Timestamp(base + i * minute), s * 1000 + i * scale)
    }
    ParquetShardStore.write(rows.toDF("env", "instance", "job", "ts", "value"),
      d, sortBy, "ts", "value", colDurationMs = colDurationMs, samplesPerChunk = 40,
      shards = shards)
    d
  }

  /** Each shard's label sets (in `labels` order) as stored, shard by
    * shard. */
  private def shardRows(dir: String): Seq[Seq[Seq[String]]] =
    Iterator.from(0).map(s => s"$dir/$s.labels.parquet")
      .takeWhile(new java.io.File(_).isFile).map { f =>
        spark.read.parquet(f)
          .select(labels.map(n => col(s"l_$n")) :+ col("_metadata.row_index"): _*)
          .collect().sortBy(_.getLong(labels.size))
          .map(r => labels.indices.map(r.getString).toSeq).toSeq
      }.toSeq

  /** The output order: label by label, an absent label first, values
    * in UTF-8 byte order. */
  private val outputOrder: Ordering[Seq[String]] = (a, b) =>
    a.zip(b).iterator.map {
      case (x, y) if x == y => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x, y) => UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
    }.find(_ != 0).getOrElse(0)

  private def strictlyAscending(rows: Seq[Seq[String]]): Boolean =
    rows.zip(rows.drop(1)).forall { case (a, b) => outputOrder.lt(a, b) }

  private def fullRange(d: String): (Long, Long) = {
    val m = ParquetShardStore.meta(spark, d)
    (m.mintMs, m.maxtMs + 1)
  }

  /** Every sample of every series of `df` (labels + ts + the rest),
    * grouped by label set, in ts order. */
  private def bySeries(df: DataFrame): Map[Seq[String], Seq[Seq[Any]]] =
    df.withColumn("ts", unix_millis(col("ts"))).collect().toSeq
      .map(r => labels.map(r.getAs[String]) -> r.toSeq.drop(labels.size))
      .groupBy(_._1).map { case (k, v) =>
        k -> v.map(_._2).sortBy(_.head.asInstanceOf[Long]) }

  /** Each series' encoded `s_data` cells, keyed by its label set. */
  private def cells(dir: String): Map[Seq[String], Seq[Seq[Byte]]] = {
    def read(kind: String) = spark.read.parquet(s"$dir/*.$kind.parquet")
      .withColumn("_f", substring_index(col("_metadata.file_name"), ".", 1))
      .withColumn("_r", col("_metadata.row_index"))
    val (l, c) = (read("labels"), read("chunks"))
    val dataCols = c.columns.filter(_.startsWith("s_data_"))
      .sortBy(_.stripPrefix("s_data_").toInt)
    l.join(c, Seq("_f", "_r"))
      .select(labels.map(n => col(s"l_$n")) ++ dataCols.map(col): _*)
      .collect().map(r => labels.indices.map(r.getString) ->
        dataCols.indices.map(i => r.getAs[Array[Byte]](labels.size + i).toSeq))
      .toMap
  }

  test("mergeShards equals the sample-grain oracle: 3-dir priority chain, " +
      "absent labels, single-input series, other colDurations, 3 shards") {
    // A: series 0-11; B: 0-7 revised plus 12-13 of its own, at a
    // 30-min colDuration; C: 4-5 revised again plus 14 of its own
    val dirs = Seq(
      xorDir("a", 0 until 12, 0, 180, 1.0, hour),
      xorDir("b", (0 until 8) ++ Seq(12, 13), 120, 240, 10.0, hour / 2),
      xorDir("c", Seq(4, 5, 14), 150, 200, 100.0, hour))
    val out = "/tmp/graft_pshard_smerge_out"
    val oracle = "/tmp/graft_pshard_smerge_oracle"
    ParquetShardStore.mergeShards(spark, dirs, out,
      colDurationMs = 2 * hour, shards = 3)
    val scans = dirs.map { d =>
      val (lo, hi) = fullRange(d)
      ParquetShardStore.select(spark, d, lo, hi)
    }
    ParquetShardStore.write(
      TsdbConverter.mergeShards(scans, labels, "ts", "value"), oracle,
      labels, "ts", "value", colDurationMs = 2 * hour, shards = 3)

    assert(ParquetShardStore.meta(spark, out) ==
      ParquetShardStore.meta(spark, oracle))
    val (lo, hi) = fullRange(out)
    val got = bySeries(ParquetShardStore.select(spark, out, lo, hi))
    assert(got == bySeries(ParquetShardStore.select(spark, oracle, lo, hi)))
    assert(cells(out) == cells(oracle))
    // spot-check the chain: C beats B beats A where they overlap
    val s4 = got(Seq("env_0", "i4", "job_0")).map(r => r(0) -> r(1)).toMap
    assert(s4(base + 100 * minute) == 4100.0) // A only
    assert(s4(base + 130 * minute) == 5300.0) // B over A
    assert(s4(base + 160 * minute) == 20000.0) // C over B and A
    assert(got.size == 15 && (0 until 3).forall(s =>
      new java.io.File(s"$out/$s.labels.parquet").isFile))
    assert(got.keys.count(_.head == null) == 5) // series 0, 3, 6, 9, 12
  }

  private sealed trait HistKind
  private case object Signed extends HistKind
  private case object Nhcb extends HistKind
  private case object Gauge extends HistKind
  private val customBounds = Seq(0.5, 1.0, 4.0)

  private def histDir(kind: HistKind, name: String, ss: Seq[Int], lo: Int,
      hi: Int, scale: Long, colDurationMs: Long): String = {
    val d = s"/tmp/graft_pshard_smerge_h${kind}_$name"
    val rows = for (s <- ss; i <- lo until hi) yield {
      val (env, inst, job) = labelsOf(s)
      val c = s * 100L + i * scale
      val zero = if (kind == Nhcb) 0L else c % 7
      val idx = if (kind == Nhcb) Seq(0, 2) else Seq(-1, 2)
      // a gauge series moves both ways
      val cnt = if (kind == Gauge && i % 5 == 0) Seq(c / 2, 1L) else Seq(c + 1, c + 3)
      val (nidx, ncnt) = if (kind == Signed) (Seq(0, 1), Seq(c % 5 + 1, 2L))
        else (Seq.empty[Int], Seq.empty[Long])
      (env, inst, job, new Timestamp(base + i * minute), zero, idx, cnt,
        nidx, ncnt, c * 0.25)
    }
    val df = rows.toDF("env", "instance", "job", "ts", "zero", "idx", "cnt",
      "nidx", "ncnt", "hsum")
    kind match {
      case Signed => ParquetShardStore.writeHist(df, d, labels, "ts", "zero",
        "idx", "cnt", Some("hsum"), colDurationMs = colDurationMs,
        samplesPerChunk = 40, negIdxCol = Some("nidx"),
        negCountsCol = Some("ncnt"))
      case Nhcb => ParquetShardStore.writeHist(df, d, labels, "ts", "zero",
        "idx", "cnt", Some("hsum"), colDurationMs = colDurationMs,
        samplesPerChunk = 40, histSchema = ChunkencHistogram.CustomBucketsSchema,
        customValues = customBounds)
      case Gauge => ParquetShardStore.writeHist(df, d, labels, "ts", "zero",
        "idx", "cnt", Some("hsum"), colDurationMs = colDurationMs,
        samplesPerChunk = 40, gauge = true)
    }
    d
  }

  private def assertHistMergeMatchesOracle(kind: HistKind): Unit = {
    val dirs = Seq(
      histDir(kind, "a", 0 until 6, 0, 120, 1L, hour),
      histDir(kind, "b", (0 until 4) :+ 7, 90, 200, 10L, hour / 2),
      histDir(kind, "c", Seq(2, 8), 100, 130, 100L, hour))
    val out = s"/tmp/graft_pshard_smerge_h${kind}_out"
    val oracle = s"/tmp/graft_pshard_smerge_h${kind}_oracle"
    val gauge = kind == Gauge
    ParquetShardStore.mergeShardsHist(spark, dirs, out,
      colDurationMs = 2 * hour, shards = 3, gauge = gauge)
    val valueCols = Seq("zero_count", "pos_idx", "pos_counts", "hist_sum",
      "neg_idx", "neg_counts")
    val scans = dirs.map { d =>
      val (lo, hi) = fullRange(d)
      ParquetShardStore.selectHist(spark, d, lo, hi)
        .select(labels.map(col) :+ col("ts") :+
          struct(valueCols.map(col): _*).as("_v"): _*)
    }
    val merged = TsdbConverter.mergeShards(scans, labels, "ts", "_v")
      .select(labels.map(col) ++ Seq(col("ts"), col("_v.*")): _*)
    val nhcb = kind == Nhcb
    ParquetShardStore.writeHist(merged, oracle, labels, "ts", "zero_count",
      "pos_idx", "pos_counts", Some("hist_sum"),
      histSchema = if (nhcb) ChunkencHistogram.CustomBucketsSchema else 0,
      colDurationMs = 2 * hour, shards = 3,
      customValues = if (nhcb) customBounds else Nil, gauge = gauge,
      negIdxCol = if (nhcb) None else Some("neg_idx"),
      negCountsCol = if (nhcb) None else Some("neg_counts"))

    assert(ParquetShardStore.meta(spark, out) ==
      ParquetShardStore.meta(spark, oracle), kind)
    val (lo, hi) = fullRange(out)
    val got = bySeries(ParquetShardStore.selectHist(spark, out, lo, hi))
    assert(got.size == 8, kind)
    assert(got == bySeries(ParquetShardStore.selectHist(spark, oracle, lo, hi)),
      kind)
    // the encoded cells too: chunk cuts and gauge headers included
    assert(cells(out) == cells(oracle), kind)
  }

  test("mergeShardsHist equals the sample-grain oracle on signed, NHCB " +
      "and gauge histogram shards") {
    Seq(Signed, Nhcb, Gauge).foreach(assertHistMergeMatchesOracle)
  }

  test("duplicate timestamps: one sample per (series, ts), the later dir " +
      "wins, within a dir its last stored sample, at any partition count") {
    def dupDir(name: String, rows: Seq[(String, Int, Double)]): String = {
      val d = s"/tmp/graft_pshard_smerge_dup_$name"
      ParquetShardStore.write(rows.map { case (s, m, v) =>
          (s, new Timestamp(base + m * minute), v) }.toDF("svc", "ts", "value"),
        d, Seq("svc"), "ts", "value", colDurationMs = hour)
      d
    }
    // write keeps duplicate rows, stored in (ts, value) order
    val a = dupDir("a", Seq(("x", 0, 1.0), ("x", 0, 5.0), ("x", 0, 3.0),
      ("x", 1, 7.0), ("y", 0, 4.0), ("y", 0, 2.0)))
    val b = dupDir("b", Seq(("x", 1, 9.0), ("x", 1, 8.0), ("x", 2, 6.0)))
    val want = Map(("x", 0) -> 5.0, ("x", 1) -> 9.0, ("x", 2) -> 6.0,
      ("y", 0) -> 4.0)
    val out = "/tmp/graft_pshard_smerge_dup_out"
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try for (p <- Seq(1, 3, 8)) {
      spark.conf.set("spark.sql.shuffle.partitions", p.toString)
      ParquetShardStore.mergeShards(spark, Seq(a, b), out, colDurationMs = hour)
      val got = ParquetShardStore.select(spark, out, base, base + hour)
        .select(col("svc"), unix_millis(col("ts")), col("value")).collect()
        .map(r => (r.getString(0), ((r.getLong(1) - base) / minute).toInt) ->
          r.getDouble(2))
      assert(got.length == want.size && got.toMap == want, s"partitions=$p")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("merge grain: a merge of graft-written dirs writes no shuffle record and " +
      "runs no SQL plan, so no ts-keyed aggregate") {
    val dirs = Seq(
      xorDir("grain_a", 0 until 12, 0, 240, 1.0, hour),
      xorDir("grain_b", 0 until 12, 120, 360, 10.0, hour))
    val inputSeries = dirs.map(d =>
      spark.read.parquet(s"$d/*.labels.parquet").count()).sum
    val out = "/tmp/graft_pshard_smerge_grain_out"
    val (_, log) = ExecLog(spark.sparkContext) {
      ParquetShardStore.mergeShards(spark, dirs, out, colDurationMs = hour)
    }
    // 24 series rows carry 5,760 samples
    assert(inputSeries == 24)
    assert(log.shuffleRecordsWritten == 0, log.shuffleRecordsWritten)
    assert(log.plans.isEmpty, log.nodes.map(_.simpleString))
    val (lo, hi) = fullRange(out)
    assert(ParquetShardStore.select(spark, out, lo, hi).count() == 12 * 360)
  }

  test("an input sorted in another label order merges exactly against the " +
      "sample-grain oracle, into the output order") {
    // B's rows are sorted by job, then instance, then env; one output
    // shard of 5,000 series takes more than one read batch
    val dirs = Seq(
      xorDir("order_a", 0 until 10, 0, 150, 1.0, hour, shards = 2),
      xorDir("order_b", 4 until 5000, 148, 151, 10.0, hour,
        sortBy = Seq("job", "instance", "env"), shards = 2))
    assert(!strictlyAscending(shardRows(dirs(1)).flatten))
    val out = "/tmp/graft_pshard_smerge_order_out"
    val oracle = "/tmp/graft_pshard_smerge_order_oracle"
    ParquetShardStore.mergeShards(spark, dirs, out, colDurationMs = hour)
    val scans = dirs.map { d =>
      val (lo, hi) = fullRange(d)
      ParquetShardStore.select(spark, d, lo, hi)
    }
    ParquetShardStore.write(
      TsdbConverter.mergeShards(scans, labels, "ts", "value"), oracle,
      labels, "ts", "value", colDurationMs = hour)
    assert(ParquetShardStore.meta(spark, out) == ParquetShardStore.meta(spark, oracle))
    val (lo, hi) = fullRange(out)
    val got = bySeries(ParquetShardStore.select(spark, out, lo, hi))
    assert(got.size == 5000)
    assert(got == bySeries(ParquetShardStore.select(spark, oracle, lo, hi)))
    assert(cells(out) == cells(oracle))
    assert(strictlyAscending(shardRows(out).flatten))
  }

  test("the output shards are contiguous ranges of the output order whose series " +
      "counts differ by at most 1") {
    val dirs = Seq(
      xorDir("cut_a", 0 until 11, 0, 30, 1.0, hour),
      xorDir("cut_b", 6 until 17, 20, 50, 2.0, hour, shards = 2))
    val out = "/tmp/graft_pshard_smerge_cut_out"
    for (shards <- Seq(1, 3, 4, 5)) {
      ParquetShardStore.mergeShards(spark, dirs, out, colDurationMs = hour, shards = shards)
      val rows = shardRows(out)
      val sizes = rows.map(_.size)
      assert(sizes.size == shards && sizes.sum == 17, sizes)
      assert(sizes.max - sizes.min <= 1, sizes)
      assert(strictlyAscending(rows.flatten), rows)
    }
  }

  test("a chunks file rewritten after the merge is planned fails the merge with " +
      "the changed-after error") {
    val a = xorDir("gen_a", 0 until 6, 0, 60, 1.0, hour)
    val b = xorDir("gen_b", 3 until 9, 30, 90, 10.0, hour)
    val out = "/tmp/graft_pshard_smerge_gen_out"
    val planned = ShardMerge.plan(spark, Seq(a, b), 2, ShardMerge.Xor(samplesPerChunk = 40))
    xorDir("gen_b", 3 until 12, 30, 90, 10.0, hour) // a new generation of b
    val e = intercept[Exception](planned.write(out, hour, Nil))
    assert(e.toString.contains("changed after the merge") ||
      Option(e.getCause).exists(_.toString.contains("changed after the merge")), e)
    // a fresh merge reads the new generation
    ParquetShardStore.mergeShards(spark, Seq(a, b), out, colDurationMs = hour, shards = 2)
    assert(ParquetShardStore.series(spark, out).count() == 12)
  }

  test("mixed histogram families and XOR/histogram cross-family inputs are refused " +
      "on the driver, and the output dir's previous files survive") {
    val exp = histDir(Signed, "fam_exp", 0 until 3, 0, 30, 1L, hour)
    val nhcb = histDir(Nhcb, "fam_nhcb", 2 until 5, 10, 40, 1L, hour)
    val xor = xorDir("fam_x", 0 until 3, 0, 30, 1.0, hour)
    val out = "/tmp/graft_pshard_smerge_fam_out"
    ParquetShardStore.mergeShards(spark, Seq(xor), out, colDurationMs = hour, shards = 2)
    def listing = new java.io.File(out).listFiles()
      .map(f => (f.getName, f.length, f.lastModified)).sorted.toSeq
    val before = listing
    for ((what, merge, msg) <- Seq[(String, () => Unit, String)](
        ("exponential + NHCB", () => ParquetShardStore.mergeShardsHist(spark,
          Seq(exp, nhcb), out, colDurationMs = hour), "(schema, bounds) families"),
        ("XOR merge of a histogram dir", () => ParquetShardStore.mergeShards(spark,
          Seq(xor, exp), out, colDurationMs = hour), "chunkenc families"),
        ("histogram merge of an XOR dir", () => ParquetShardStore.mergeShardsHist(spark,
          Seq(exp, xor), out, colDurationMs = hour), "chunkenc families"))) {
      val e = intercept[IllegalArgumentException](merge())
      assert(e.getMessage.contains(msg), s"$what: ${e.getMessage}")
      assert(listing == before, what)
    }
    val (lo, hi) = fullRange(out)
    assert(ParquetShardStore.select(spark, out, lo, hi).count() == 3 * 30)
  }
}
