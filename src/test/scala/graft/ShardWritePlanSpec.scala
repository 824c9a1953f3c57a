package graft

import java.sql.Timestamp
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.graft.{ExecLog, JobLog}
import org.apache.spark.sql.functions._

import graft.tsdb.GraftFormatException
import graft.tsdb.shard.{ParquetShardSchema, ParquetShardStore}

/** The write tail's footer bounds come from work the write and the
  * merge already do: a write reads its input once (one action over the
  * arranged series, whose shuffle outputs the write reuses), and a
  * merge of graft-written inputs takes the bounds from their footers,
  * with no checkpoint. The footers carry the exact sample bounds
  * either way, every shard of a dir carries shard 0's, and a dir whose
  * shards disagree is refused.
  */
class ShardWritePlanSpec extends SparkSpec {
  import spark.implicits._

  private val base = 1704067200000L // 2024-01-01T00:00Z
  private val minute = 60000L
  private val hour = 3600000L

  /** Series `ss`, one sample a minute in [lo, hi) minutes past base. */
  private def rows(ss: Seq[Int], lo: Int, hi: Int) =
    (for (s <- ss; i <- lo until hi)
      yield (s"svc_$s", if (s % 3 == 0) null else s"env_${s % 2}",
        new Timestamp(base + i * minute), s * 100.0 + i))
      .toDF("svc", "env", "ts", "value")

  private def write(dir: String, ss: Seq[Int], lo: Int, hi: Int): String = {
    ParquetShardStore.write(rows(ss, lo, hi), dir, Seq("svc", "env"), "ts",
      "value", colDurationMs = hour, shards = 2)
    dir
  }

  private def histDir(dir: String): String = {
    ParquetShardStore.writeHist((0 until 40).map(i =>
        (s"svc_${i % 4}", new Timestamp(base + i * minute), 0L, Seq(1, 3), Seq(i + 1L, i + 2L)))
      .toDF("svc", "ts", "zero", "idx", "cnt"), dir, Seq("svc"), "ts", "zero", "idx",
      "cnt", colDurationMs = hour, shards = 2)
    dir
  }

  private def conf = spark.sparkContext.hadoopConfiguration

  private def footer(path: String): Map[String, String] = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
    try r.getFooter.getFileMetaData.getKeyValueMetaData.asScala.toMap finally r.close()
  }

  private def shardFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.matches("\\d+\\.(labels|chunks)\\.parquet")).sorted.map(n => s"$dir/$n").toSeq

  /** Rewrites the parquet file `path` in place with `edit`ed key-value
    * metadata, keeping its row groups — or dropping them all. */
  private def rewriteFooter(path: String, keepRows: Boolean = true)(
      edit: Map[String, String] => Map[String, String]): Unit = {
    val (src, tmp) = (new Path(path), new Path(s"$path.tmp"))
    val in = HadoopInputFile.fromPath(src, conf)
    val md = { val r = ParquetFileReader.open(in); try r.getFooter.getFileMetaData finally r.close() }
    val w = new ParquetFileWriter(HadoopOutputFile.fromPath(tmp, conf), md.getSchema,
      ParquetFileWriter.Mode.OVERWRITE, 1L << 20, 0)
    w.start()
    if (keepRows) w.appendFile(in)
    w.end(edit(md.getKeyValueMetaData.asScala.toMap).asJava)
    val fs = src.getFileSystem(conf)
    fs.delete(src, false)
    fs.rename(tmp, src)
  }

  /** Shard dir `dir`'s footer bounds as a reader sees them. */
  private def bounds(dir: String): (Long, Long) = {
    val m = ParquetShardStore.meta(spark, dir)
    (m.mintMs, m.maxtMs)
  }

  /** Every shard file's (minT, maxT) footer values agree. */
  private def assertShardsAgree(dir: String): Unit = {
    val keys = Seq(ParquetShardSchema.MinTMd, ParquetShardSchema.MaxTMd,
      ParquetShardSchema.DataColSizeMd, ParquetShardSchema.FamilyMaskMd)
    val all = shardFiles(dir).map(f => f -> keys.map(footer(f).get))
    assert(all.map(_._2).distinct.size == 1, all.mkString("\n"))
  }

  /** Each series' (labels file row, chunks file row) cells, by label set. */
  private def cells(dir: String): Map[Seq[String], Seq[Seq[Byte]]] = {
    def read(kind: String) = spark.read.parquet(s"$dir/*.$kind.parquet")
      .withColumn("_f", substring_index(col("_metadata.file_name"), ".", 1))
      .withColumn("_r", col("_metadata.row_index"))
    val (l, c) = (read("labels"), read("chunks"))
    val dataCols = c.columns.filter(_.startsWith("s_data_"))
      .sortBy(_.stripPrefix("s_data_").toInt)
    l.join(c, Seq("_f", "_r")).select(Seq(col("l_svc"), col("l_env")) ++ dataCols.map(col): _*)
      .collect().map(r => Seq(r.getString(0), r.getString(1)) ->
        dataCols.indices.map(i => r.getAs[Array[Byte]](2 + i).toSeq))
      .toMap
  }

  test("a 2-shard write starts 5 jobs: its input is read once and the write " +
      "reuses the bounds action's shuffle outputs") {
    val df = rows(0 until 12, 7, 200)
    val dir = "/tmp/graft_pshard_wplan_write"
    val (_, jobs) = JobLog.timed(spark.sparkContext) {
      ParquetShardStore.write(df, dir, Seq("svc", "env"), "ts", "value",
        colDurationMs = hour, shards = 2)
    }
    assert(jobs.size == 5, s"${jobs.size} write jobs:\n${jobs.mkString("\n")}")
    assert(bounds(dir) == (base + 7 * minute, base + 199 * minute))
  }

  test("mergeShards of two graft-written 2-shard dirs runs 1 job with no shuffle and " +
      "no checkpoint; mergeShardsHist adds only its header pre-pass") {
    val a = write("/tmp/graft_pshard_wplan_jobs_a", 0 until 12, 0, 120)
    val b = write("/tmp/graft_pshard_wplan_jobs_b", 6 until 18, 60, 240)
    val out = "/tmp/graft_pshard_wplan_jobs_out"
    val ((_, log), jobs) = JobLog.timed(spark.sparkContext)(ExecLog(spark.sparkContext) {
      ParquetShardStore.mergeShards(spark, Seq(a, b), out, colDurationMs = hour, shards = 2)
    })
    assert(jobs.size == 1, s"${jobs.size} merge jobs:\n${jobs.mkString("\n")}")
    assert(log.shuffleRecordsWritten == 0, log.shuffleRecordsWritten)
    assert(!jobs.exists(j => s"${j.firstStage} ${j.site}".contains("heckpoint")),
      jobs.mkString("\n"))
    assert(bounds(out) == (base, base + 239 * minute))
    // the histogram merge: its (schema, bounds) pre-pass, then the write
    val h = histDir("/tmp/graft_pshard_wplan_jobs_h")
    val ((_, hlog), hjobs) = JobLog.timed(spark.sparkContext)(ExecLog(spark.sparkContext) {
      ParquetShardStore.mergeShardsHist(spark, Seq(h), s"${out}_h", colDurationMs = hour,
        shards = 2)
    })
    assert(hjobs.size == 2, s"${hjobs.size} merge jobs:\n${hjobs.mkString("\n")}")
    assert(hlog.shuffleRecordsWritten == 0, hlog.shuffleRecordsWritten)
    assert(!hjobs.exists(j => s"${j.firstStage} ${j.site}".contains("heckpoint")),
      hjobs.mkString("\n"))
  }

  test("write and merge footers carry the exact sample min and max, on every shard, " +
      "and the merged cells are byte-identical to a write of the merged samples") {
    val a = write("/tmp/graft_pshard_wplan_exact_a", 0 until 6, 7, 100)
    val b = write("/tmp/graft_pshard_wplan_exact_b", 3 until 9, 130, 212)
    assert(bounds(a) == (base + 7 * minute, base + 99 * minute))
    assert(bounds(b) == (base + 130 * minute, base + 211 * minute))
    val out = "/tmp/graft_pshard_wplan_exact_out"
    ParquetShardStore.mergeShards(spark, Seq(a, b), out, colDurationMs = hour, shards = 2)
    // disjoint in time, so the merged samples are the union of the inputs'
    val oracle = "/tmp/graft_pshard_wplan_exact_oracle"
    ParquetShardStore.write(rows(0 until 6, 7, 100).union(rows(3 until 9, 130, 212)),
      oracle, Seq("svc", "env"), "ts", "value", colDurationMs = hour, shards = 2)
    assert(bounds(out) == (base + 7 * minute, base + 211 * minute))
    assert(bounds(out) == bounds(oracle))
    Seq(a, b, out).foreach(assertShardsAgree)
    val (got, want) = (cells(out), cells(oracle))
    assert(got.keySet == want.keySet && got.size == 9)
    assert(got == want)
  }

  test("a merge input whose footer lacks the writer key and is wider than its " +
      "samples still gets exact sample bounds") {
    val wide = write("/tmp/graft_pshard_wplan_wide", 0 until 6, 10, 50)
    // as a reference writer may: no graft key, bounds wider than the
    // samples (inside the same one-column grid)
    shardFiles(wide).foreach(rewriteFooter(_)(kv =>
      kv - ParquetShardSchema.FamilyMaskMd + (ParquetShardSchema.MinTMd -> base.toString) +
        (ParquetShardSchema.MaxTMd -> (base + 59 * minute).toString)))
    assert(bounds(wide) == (base, base + 59 * minute))
    val keyed = write("/tmp/graft_pshard_wplan_wide_keyed", 3 until 9, 20, 40)
    for ((inputs, i) <- Seq(Seq(wide), Seq(keyed, wide)).zipWithIndex) {
      val out = s"/tmp/graft_pshard_wplan_wide_out$i"
      ParquetShardStore.mergeShards(spark, inputs, out, colDurationMs = hour, shards = 2)
      assert(bounds(out) == (base + 10 * minute, base + 49 * minute), inputs)
      assert(ParquetShardStore.select(spark, out, base, base + hour).count() ==
        (if (i == 0) 6 * 40 else 6 * 40 + 3 * 20))
    }
  }

  test("empty inputs are refused: a write of no rows, and merges of a dir with no rows") {
    val e = intercept[IllegalArgumentException](ParquetShardStore.write(
      rows(Nil, 0, 1), "/tmp/graft_pshard_wplan_empty_w", Seq("svc", "env"), "ts", "value"))
    assert(e.getMessage.contains("cannot write an empty shard set"), e.getMessage)
    // a dir with the shard schema and no rows, as only a writer other
    // than graft's makes it (graft's refuses to)
    val xor = write("/tmp/graft_pshard_wplan_empty_x", 0 until 4, 0, 10)
    val hist = histDir("/tmp/graft_pshard_wplan_empty_h")
    for (d <- Seq(xor, hist); f <- shardFiles(d))
      rewriteFooter(f, keepRows = false)(_ - ParquetShardSchema.FamilyMaskMd)
    val ex = intercept[IllegalArgumentException](ParquetShardStore.mergeShards(spark,
      Seq(xor), "/tmp/graft_pshard_wplan_empty_xout"))
    assert(ex.getMessage.contains("cannot write an empty shard set"), ex.getMessage)
    val eh = intercept[IllegalArgumentException](ParquetShardStore.mergeShardsHist(spark,
      Seq(hist), "/tmp/graft_pshard_wplan_empty_hout"))
    assert(eh.getMessage.contains("cannot merge empty shard inputs"), eh.getMessage)
  }

  test("a shard whose footer bounds, column duration or writer key differ from " +
      "shard 0's fails select, series and the merges, naming the file") {
    for ((what, edit) <- Seq[(String, Map[String, String] => Map[String, String])](
        "maxT" -> (kv => kv + (ParquetShardSchema.MaxTMd -> (kv(ParquetShardSchema.MaxTMd).toLong + 1).toString)),
        "minT" -> (kv => kv + (ParquetShardSchema.MinTMd -> "0")),
        "data_col_duration_ms" -> (kv => kv + (ParquetShardSchema.DataColSizeMd -> "1000")),
        "graft_chunkenc_family_mask" -> (kv => kv - ParquetShardSchema.FamilyMaskMd))) {
      val d = write(s"/tmp/graft_pshard_wplan_doctored_$what", 0 until 12, 0, 90)
      rewriteFooter(s"$d/1.labels.parquet")(edit)
      for ((op, run) <- Seq[(String, () => Any)](
          "select" -> (() => ParquetShardStore.select(spark, d, base, base + hour).collect()),
          "series" -> (() => ParquetShardStore.series(spark, d).collect()),
          "mergeShards" -> (() => ParquetShardStore.mergeShards(spark, Seq(d),
            s"/tmp/graft_pshard_wplan_doctored_out")))) {
        val e = intercept[GraftFormatException](run())
        assert(e.getMessage.contains("1.labels.parquet") && e.getMessage.contains(what) &&
          e.getMessage.contains("0.labels.parquet"), s"$what, $op: ${e.getMessage}")
      }
    }
  }

  test("shard files pin their column encodings: no dictionary for s_data_* and " +
      "s_series_hash, dictionary-encoded label columns") {
    val d = write("/tmp/graft_pshard_wplan_enc", 0 until 12, 0, 200)
    val merged = "/tmp/graft_pshard_wplan_enc_merged"
    ParquetShardStore.mergeShards(spark, Seq(d), merged, colDurationMs = hour, shards = 2)
    for (dir <- Seq(d, merged); f <- shardFiles(dir)) {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      val chunks = try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala).toSeq
        finally r.close()
      def dictionary(c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData) =
        c.hasDictionaryPage || c.getEncodings.asScala.exists(_.usesDictionary)
      val names = chunks.map(_.getPath.toDotString).toSet
      assert(names.exists(n => n.startsWith("s_data_") || n == "s_series_hash"), f)
      chunks.foreach { c =>
        val n = c.getPath.toDotString
        if (n.startsWith("s_data_") || n == "s_series_hash")
          assert(!dictionary(c), s"$f $n: ${c.getEncodings}")
        // l_env repeats three values: its pages are all dictionary-encoded
        if (n == "l_env")
          assert(dictionary(c) && !c.getEncodingStats.hasNonDictionaryEncodedPages,
            s"$f $n: ${c.getEncodings}")
      }
    }
  }
}
