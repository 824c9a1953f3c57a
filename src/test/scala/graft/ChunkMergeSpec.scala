package graft

import java.sql.Timestamp
import org.apache.spark.graft.{ExecLog, JobLog}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.tsdb.{ChunkStore, HistChunkStore, TsdbConverter}

/** Series-grain compaction of the chunked dual-file stores:
  * `ChunkStore.mergeBlocks` and `HistChunkStore.mergeBlocks`/
  * `mergeFloatBlocks` write exactly the chunk rows the sample-grain
  * formulation — LWW [[TsdbConverter.mergeShards]] over full-range
  * selects, then a fresh write — writes; duplicate timestamps resolve
  * by a fixed rule that no partitioning changes; no sample is dropped
  * for its time; and the merge never moves or aggregates samples.
  */
class ChunkMergeSpec extends SparkSpec {
  import spark.implicits._

  private val base = 1704067200000L // 2024-01-01T00:00Z
  private val minute = 60000L
  private val series = Seq("svc", "host")
  private val full = ("1970-01-01 00:00:00", "2200-01-01 00:00:00")
  private val histCols = Seq("zero_count", "pos_idx", "pos_counts",
    "hist_sum", "neg_idx", "neg_counts")

  private def dir(name: String) = s"/tmp/graft_chunkmerge_spec_$name"
  private def ts(m: Int) = new Timestamp(base + m * minute)

  /** Label set of series `s`: `host` is absent on every fifth. */
  private def labelsOf(s: Int): (String, String) =
    (s"svc_${s % 3}", if (s % 5 == 0) null else s"h$s")

  private def xorFrame(ss: Seq[Int], lo: Int, hi: Int, step: Int,
      scale: Double): DataFrame =
    (for (s <- ss; m <- lo until hi by step) yield {
      val (svc, host) = labelsOf(s)
      (svc, host, ts(m), s * 1000 + m * scale)
    }).toDF("svc", "host", "ts", "value")

  private def histFrame(ss: Seq[Int], lo: Int, hi: Int, step: Int,
      scale: Long, float: Boolean): DataFrame = {
    val df = (for (s <- ss; m <- lo until hi by step) yield {
      val (svc, host) = labelsOf(s)
      val c = s * 100L + m * scale
      (svc, host, ts(m), c % 7, Seq(-1, 2), Seq(c + 1, c + 3), c * 0.25,
        Seq(0, 1), Seq(c % 5 + 1, 2L))
    }).toDF(Seq("svc", "host", "ts") ++ histCols: _*)
    if (!float) df
    else df.withColumn("zero_count", col("zero_count") * 0.5)
      .withColumn("pos_counts", transform(col("pos_counts"), _ * 0.5))
      .withColumn("neg_counts", transform(col("neg_counts"), _ * 0.5))
  }

  private def writeHist(df: DataFrame, path: String, float: Boolean,
      signed: Boolean, colDuration: String = "1 day"): Unit = {
    val write = if (float) HistChunkStore.writeFloat _ else HistChunkStore.write _
    write(df, path, series, "ts", "zero_count", "pos_idx", "pos_counts",
      Some("hist_sum"), 0, colDuration, 4, "zstd", Nil,
      Some("neg_idx").filter(_ => signed), Some("neg_counts").filter(_ => signed))
  }

  private def selectHist(path: String, float: Boolean, range: (String, String) = full) =
    if (float) HistChunkStore.selectFloat(spark, path, range._1, range._2, Nil, series, "ts")
    else HistChunkStore.select(spark, path, range._1, range._2, Nil, series, "ts")

  /** Each (labels, bucket) chunk row's (mint, maxt, n_samples, data). */
  private def chunkRows(path: String): Map[(Seq[String], Long), Seq[Any]] = {
    val rows = spark.read.parquet(s"$path/chunks")
      .join(spark.read.parquet(s"$path/labels"), Seq("series_ref", "series_ref2"))
      .select(series.map(col) ++ Seq(col("bucket").cast("long"), col("mint"),
        col("maxt"), col("n_samples"), col("data")): _*)
      .collect()
    val byKey = rows.map(r => (series.indices.map(r.getString): Seq[String], r.getLong(2)) ->
      Seq(r.getLong(3), r.getLong(4), r.getLong(5), r.getAs[Array[Byte]](6).toSeq))
      .toMap
    assert(byKey.size == rows.length, s"$path: duplicate (labels, bucket) rows")
    byKey
  }

  private def labelRows(path: String): Set[Seq[Any]] =
    spark.read.parquet(s"$path/labels").collect().map(_.toSeq).toSet

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  test("mergeBlocks equals the sample-grain oracle byte for byte: 3-dir " +
      "priority chain, absent labels, single-input series, a finer input") {
    // A: series 0-7; B: 0-4 revised plus 8 of its own, written at a
    // 6-hour colDuration; C: 2-3 revised again plus 9 of its own
    val dirs = Seq(
      (dir("xor_a"), xorFrame(0 until 8, 0, 2880, 20, 1.0), "1 day"),
      (dir("xor_b"), xorFrame((0 until 5) :+ 8, 1800, 3600, 15, 10.0), "6 hours"),
      (dir("xor_c"), xorFrame(Seq(2, 3, 9), 2400, 3000, 10, 100.0), "1 day"))
    dirs.foreach { case (d, df, w) =>
      ChunkStore.write(df, d, series, "ts", "value", w, samplesPerChunk = 4) }
    val (out, oracle) = (dir("xor_out"), dir("xor_oracle"))
    ChunkStore.mergeBlocks(spark, dirs.map(_._1), out, series, "ts", "value",
      samplesPerChunk = 4)
    ChunkStore.write(TsdbConverter.mergeShards(dirs.map(d => ChunkStore.select(
        spark, d._1, full._1, full._2, Nil, series, "ts", "value")),
        series, "ts", "value"),
      oracle, series, "ts", "value", samplesPerChunk = 4)

    val got = chunkRows(out)
    assert(got.size > 10 && got == chunkRows(oracle))
    assert(labelRows(out) == labelRows(oracle) && labelRows(out).size == 10)
    // spot-check the chain: C beats B beats A where they overlap
    val s2 = ChunkStore.select(spark, out, full._1, full._2, Nil, series, "ts", "value")
      .filter(col("host") === "h2").collect()
      .map(r => r.getTimestamp(2) -> r.getDouble(3)).toMap
    assert(s2(ts(1500)) == 3500.0) // A only
    assert(s2(ts(1800)) == 20000.0) // B over A
    assert(s2(ts(2400)) == 242000.0) // C over B and A
  }

  test("mergeBlocks/mergeFloatBlocks equal the oracle byte for byte on " +
      "unsigned histograms") {
    for (float <- Seq(false, true)) {
      val k = if (float) "fhist" else "hist"
      val dirs = Seq(
        dir(s"${k}_a") -> histFrame(0 until 6, 0, 2880, 30, 1L, float),
        dir(s"${k}_b") -> histFrame((0 until 4) :+ 7, 2000, 3600, 20, 10L, float),
        dir(s"${k}_c") -> histFrame(Seq(2, 8), 2400, 2700, 10, 100L, float))
      dirs.foreach { case (d, df) => writeHist(df, d, float, signed = false) }
      val (out, oracle) = (dir(s"${k}_out"), dir(s"${k}_oracle"))
      val merge = if (float) HistChunkStore.mergeFloatBlocks _
        else HistChunkStore.mergeBlocks _
      merge(spark, dirs.map(_._1), out, series, "ts", 0, "1 day", 4, Nil)
      val scans = dirs.map(d => selectHist(d._1, float)
        .select(series.map(col) :+ col("ts") :+ struct(histCols.map(col): _*).as("_v"): _*))
      writeHist(TsdbConverter.mergeShards(scans, series, "ts", "_v")
          .select(series.map(col) ++ Seq(col("ts"), col("_v.*")): _*),
        oracle, float, signed = false)

      val got = chunkRows(out)
      assert(got.size > 10 && got == chunkRows(oracle), k)
      assert(labelRows(out) == labelRows(oracle), k)
      assert(rows(selectHist(out, float)) == rows(selectHist(oracle, float)), k)
    }
  }

  test("a signed+unsigned histogram merge decodes to the oracle's samples") {
    for (float <- Seq(false, true)) {
      val k = if (float) "fmix" else "mix"
      // U (unsigned) spans two days; S (signed) overrides part of day 2
      // and holds series 6 alone; U2 (unsigned) overrides S
      val dirs = Seq(
        (dir(s"${k}_u"), histFrame(0 until 5, 0, 2880, 30, 1L, float), false),
        (dir(s"${k}_s"), histFrame(Seq(1, 2, 6), 1800, 2400, 20, 10L, float), true),
        (dir(s"${k}_u2"), histFrame(Seq(2, 3), 2000, 2200, 10, 100L, float), false))
      dirs.foreach { case (d, df, signed) => writeHist(df, d, float, signed) }
      val (out, oracle) = (dir(s"${k}_out"), dir(s"${k}_oracle"))
      if (float) HistChunkStore.mergeFloatBlocks(spark, dirs.map(_._1), out, series, "ts")
      else HistChunkStore.mergeBlocks(spark, dirs.map(_._1), out, series, "ts")
      val scans = dirs.map(d => selectHist(d._1, float)
        .select(series.map(col) :+ col("ts") :+ struct(histCols.map(col): _*).as("_v"): _*))
      writeHist(TsdbConverter.mergeShards(scans, series, "ts", "_v")
          .select(series.map(col) ++ Seq(col("ts"), col("_v.*")): _*),
        oracle, float, signed = true)

      val got = rows(selectHist(out, float))
      assert(got.size > 5 * 96 && got == rows(selectHist(oracle, float)), k)
      // only the series with a signed run carry a negative side
      val signedHosts = selectHist(out, float).filter(size(col("neg_idx")) > 0)
        .collect().map(_.getAs[String]("host")).toSet
      assert(signedHosts == Set("h1", "h2", "h6"), k)
    }
  }

  test("duplicate timestamps: one sample per (series, ts), the later dir " +
      "wins, within a dir its last stored sample, at any partition count") {
    def dupDir(name: String, rows: Seq[(String, Int, Double)]): String = {
      val d = dir(s"dup_$name")
      ChunkStore.write(rows.map { case (s, m, v) => (s, ts(m), v) }
          .toDF("svc", "ts", "value"),
        d, Seq("svc"), "ts", "value")
      d
    }
    // write keeps duplicate rows, stored in (ts, value) order
    val a = dupDir("a", Seq(("x", 0, 1.0), ("x", 0, 5.0), ("x", 0, 3.0),
      ("x", 1, 7.0), ("y", 0, 4.0), ("y", 0, 2.0)))
    val b = dupDir("b", Seq(("x", 1, 9.0), ("x", 1, 8.0), ("x", 2, 6.0)))
    val want = Map(("x", 0) -> 5.0, ("x", 1) -> 9.0, ("x", 2) -> 6.0,
      ("y", 0) -> 4.0)
    val out = dir("dup_out")
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try for (p <- Seq(1, 3, 8)) {
      spark.conf.set("spark.sql.shuffle.partitions", p.toString)
      ChunkStore.mergeBlocks(spark, Seq(a, b), out, Seq("svc"), "ts", "value")
      val got = ChunkStore.select(spark, out, full._1, full._2, Nil,
          Seq("svc"), "ts", "value").collect()
        .map(r => (r.getString(0), ((r.getTimestamp(1).getTime - base) / minute).toInt) ->
          r.getDouble(2))
      assert(got.length == want.size && got.toMap == want, s"partitions=$p")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("compaction keeps samples outside 1970-2200") {
    val far = Timestamp.from(java.time.Instant.parse("2200-06-01T00:00:00Z"))
    val window = ("2024-01-01 00:00:00", "2201-01-01 00:00:00")
    val xor = Seq(("a", null: String, ts(0), 1.0), ("a", null, far, 2.0))
      .toDF("svc", "host", "ts", "value")
    ChunkStore.write(xor, dir("far_x"), series, "ts", "value")
    ChunkStore.mergeBlocks(spark, Seq(dir("far_x")), dir("far_x_out"),
      series, "ts", "value")
    assert(ChunkStore.select(spark, dir("far_x_out"), window._1, window._2,
      Nil, series, "ts", "value").collect().map(_.getTimestamp(2)).toSet ==
      Set(ts(0), far))
    val hist = histFrame(Seq(1), 0, 1, 1, 1L, float = false)
    writeHist(hist.union(hist.withColumn("ts", lit(far))), dir("far_h"),
      float = false, signed = false)
    HistChunkStore.mergeBlocks(spark, Seq(dir("far_h")), dir("far_h_out"),
      series, "ts")
    assert(selectHist(dir("far_h_out"), float = false, window).collect()
      .map(_.getTimestamp(2)).toSet == Set(ts(0), far))
  }

  test("bad bucket widths throw IllegalArgumentException on every path") {
    val d = dir("width")
    ChunkStore.write(xorFrame(Seq(1), 0, 10, 1, 1.0), d, series, "ts", "value")
    intercept[IllegalArgumentException](ChunkStore.select(spark, d, full._1,
      full._2, Nil, series, "ts", "value", colDuration = "1 week"))
    intercept[IllegalArgumentException](HistChunkStore.select(spark, d,
      full._1, full._2, Nil, series, "ts", colDuration = "1 week"))
    intercept[IllegalArgumentException](ChunkStore.write(
      xorFrame(Seq(1), 0, 10, 1, 1.0), dir("bad_width"), series, "ts",
      "value", colDuration = "1 week"))
    // an input chunk row spanning two output buckets is refused loudly
    val coarse = dir("coarse")
    ChunkStore.write(xorFrame(Seq(1), -720, 720, 60, 1.0), coarse, series,
      "ts", "value", colDuration = "2 days")
    val e = intercept[Exception](ChunkStore.mergeBlocks(spark, Seq(coarse),
      dir("coarse_out"), series, "ts", "value"))
    assert(e.getMessage.contains("coarser colDuration"), e.getMessage)
  }

  test("merge grain: shuffle records stay within 3x the input chunk rows, " +
      "no executed plan aggregates on a key containing ts, and the SQL " +
      "executions do not grow with the input count") {
    val xs = Seq(dir("grain_a") -> xorFrame(0 until 12, 0, 2880, 1, 1.0),
      dir("grain_b") -> xorFrame(0 until 12, 1440, 4320, 1, 10.0))
    xs.foreach { case (d, df) => ChunkStore.write(df, d, series, "ts", "value") }
    val chunkRowsIn = xs.map(d => spark.read.parquet(s"${d._1}/chunks").count()).sum
    val (_, xorLog) = ExecLog(spark.sparkContext) {
      ChunkStore.mergeBlocks(spark, xs.map(_._1), dir("grain_out"), series,
        "ts", "value")
    }
    val hs = (0 until 4).map { i =>
      val d = dir(s"grain_h$i")
      writeHist(histFrame(0 until 6, i * 600, i * 600 + 1440, 1, i + 1L,
        float = false), d, float = false, signed = i == 3)
      d
    }
    def histMerge(ds: Seq[String]) = ExecLog(spark.sparkContext) {
      JobLog(spark.sparkContext) {
        HistChunkStore.mergeBlocks(spark, ds, dir("grain_hout"), series, "ts")
      }._2.flatten.toSet.size
    }
    val (twoDirs, histLog) = histMerge(hs.take(2))
    val (fourDirs, _) = histMerge(hs)

    assert(twoDirs == fourDirs, s"$twoDirs SQL executions for 2 dirs, $fourDirs for 4")
    // 48 chunk rows carry 69,120 samples: a sample-grain exchange
    // writes thousands of records
    assert(chunkRowsIn == 48)
    assert(xorLog.shuffleRecordsWritten <= 3 * chunkRowsIn,
      s"${xorLog.shuffleRecordsWritten} shuffle records for $chunkRowsIn chunk rows")
    for (log <- Seq(xorLog, histLog)) {
      val aggKeys = log.nodes.filter(_.nodeName.contains("Aggregate"))
        .flatMap(n => "keys=\\[([^\\]]*)\\]".r.findFirstMatchIn(n.simpleString))
        .map(_.group(1))
      assert(aggKeys.exists(_.contains("bucket#")), s"no chunk-row aggregate: $aggKeys")
      assert(!aggKeys.exists(k => "(^|[ ,])ts#".r.findFirstIn(k).isDefined),
        s"sample-grain aggregate keys: $aggKeys")
    }
    assert(ChunkStore.select(spark, dir("grain_out"), full._1, full._2, Nil,
      series, "ts", "value").count() == 12 * 4320)
  }
}
