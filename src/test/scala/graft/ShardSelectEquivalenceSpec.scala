package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.graft.ReadLog
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import graft.functions.ChunkDecode
import graft.tsdb.Matcher
import graft.tsdb.shard.{ParquetShardSchema, ParquetShardStore}

/** Phase 1 of a shard select (matchers → matched rows on the driver,
  * [[graft.tsdb.shard.ParquetShardStore.select]]) against the
  * formulation it replaced, kept here as the reference: the matchers
  * as a filter on a Spark scan of the labels files, broadcast-joined
  * to the chunks scan on (shard, row index). Both must give the same
  * rows for every matcher kind, across row groups and with a shard
  * that has no match; a dir rewritten under a built select must fail
  * the collect, never mix two generations.
  */
class ShardSelectEquivalenceSpec extends SparkSpec {
  import spark.implicits._
  import ParquetShardSchema.{dataColumn, labelToColumn}

  private val base = 1704067200000L // 2024-01-01T00:00Z
  private val hour = 3600000L

  // 900 series × 4 samples over 3 shards, range-partitioned by svc
  // (svc_00..svc_29), with small row groups. `zone` is absent on every
  // fourth series, `env` on every fifth; `kind` holds "view\n" on some.
  private def rows(gen: Int) = for {
    i <- 0 until 900
    k <- 0 until 4
  } yield (f"svc_${i % 30}%02d",
    if (i % 5 == 0) null else Seq("prod", "dev", "qa")(i % 3),
    if (i % 4 == 0) null else s"z${i % 7}",
    Seq("view", "view\n", "req")(i % 3), s"i$i",
    new Timestamp(base + k * hour + i * 1000L), (i * 10 + k + gen).toDouble)

  private def write(dir: String, gen: Int): Unit =
    ParquetShardStore.write(rows(gen).toDF("svc", "env", "zone", "kind", "inst", "ts", "value"),
      dir, Seq("svc", "env", "zone", "kind", "inst"), "ts", "value",
      colDurationMs = hour, shards = 3, rowGroupSize = 2048)

  private lazy val dir = {
    val d = "/tmp/graft_pshard_select_equiv"
    write(d, 0)
    d
  }

  /** The labels⋈chunks select: matchers filter a scan of the labels
    * files, the survivors broadcast-join the chunks scan on (`_shard`,
    * `_row`), and the in-range cells decode to samples. */
  private def reference(dir: String, mintMs: Long, maxtMs: Long,
      matchers: Seq[Matcher]): DataFrame = {
    val meta = ParquetShardStore.meta(spark, dir)
    val names = ParquetShardStore.labelNames(spark, dir)
    def shardRow(kind: String): Seq[Column] = Seq(
      regexp_extract(col("_metadata.file_name"),
        s"^(\\d+)\\.$kind\\.parquet$$", 1).cast("int").as("_shard"),
      col("_metadata.row_index").as("_row"))
    val labels = spark.read.parquet(s"$dir/*.labels.parquet").select(
      (names.map(n => col(labelToColumn(n)).as(n)) ++ shardRow("labels")): _*)
    val matched = Matcher.compile(matchers).map(labels.filter).getOrElse(labels)
    val cols = (0 until meta.numCols).map(dataColumn)
    val chunks = spark.read.parquet(s"$dir/*.chunks.parquet")
      .select((cols.map(col) ++ shardRow("chunks")): _*)
    val samples = concat(cols.map(c => ColumnBridge.column(ChunkDecode(
      ColumnBridge.expression(col(c)), ColumnBridge.expression(lit(mintMs)),
      ColumnBridge.expression(lit(maxtMs - 1))))): _*)
    chunks.join(broadcast(matched), Seq("_shard", "_row"))
      .select((names.map(col) :+ explode(samples).as("_s")): _*)
      .filter(col("_s.ts") >= mintMs && col("_s.ts") < maxtMs)
      .select((names.map(col) :+ timestamp_millis(col("_s.ts")).as("ts")) :+
        col("_s.value").as("value"): _*)
  }

  private def rowSet(df: DataFrame) = df.collect().map(_.toSeq).toSet

  private val cases: Seq[(String, Seq[Matcher])] = Seq(
    "=" -> Seq(Matcher.Eq("svc", "svc_07")),
    "!=" -> Seq(Matcher.Neq("env", "prod")),
    "=~" -> Seq(Matcher.Re("svc", "svc_0[1-3]")),
    "!~" -> Seq(Matcher.Nre("env", "pr.*")),
    "=\"\" on an absent label" -> Seq(Matcher.Eq("zone", "")),
    "set" -> Seq(Matcher.Re("env", "dev|qa")),
    "set with \"\"" -> Seq(Matcher.Re("env", "dev|")),
    ".*" -> Seq(Matcher.Re("env", ".*")),
    ".+" -> Seq(Matcher.Re("zone", ".+")),
    "\"view\\n\" against =~\"view\"" -> Seq(Matcher.Re("kind", "view")),
    "shard 0 only" -> Seq(Matcher.Re("svc", "svc_0.*"), Matcher.Eq("kind", "req")),
    "no match" -> Seq(Matcher.Eq("svc", "svc_99")),
    "no matchers" -> Nil)

  test("phase 1 equals the labels⋈chunks reference for every matcher kind, " +
      "across row groups and shards") {
    dir
    for (s <- 0 until 3) {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/$s.labels.parquet"),
        spark.sparkContext.hadoopConfiguration))
      try assert(r.getRowGroups.size > 1, s"shard $s: one row group")
      finally r.close()
    }
    val (lo, hi) = (base + hour + 1, base + 3 * hour)
    for ((what, ms) <- cases) {
      val got = rowSet(ParquetShardStore.select(spark, dir, lo, hi, ms))
      assert(got == rowSet(reference(dir, lo, hi, ms)), what)
      assert(got.nonEmpty == (what != "no match"), what)
      val labels = rowSet(ParquetShardStore.series(spark, dir, ms))
      assert(labels == got.map(_.dropRight(2)), what)
    }
    // "view\n" is a distinct value =~"view" must not match (RE2 `$`)
    assert(rowSet(ParquetShardStore.select(spark, dir, lo, hi,
      Seq(Matcher.Re("kind", "view")))).forall(_(2) == "view"))
    // a matcher confined to shard 0 leaves the other two shards unread
    val files = ShardReads.of(ParquetShardStore.select(spark, dir, lo, hi, cases(10)._2))
      .flatMap(_.files)
    assert(files.length == 1 && files.head.endsWith("/0.chunks.parquet"), files)
  }

  test("a selective select reads only the chunks row groups that hold its matches") {
    val d = "/tmp/graft_pshard_select_rowgroups"
    ParquetShardStore.write(rows(0).toDF("svc", "env", "zone", "kind", "inst", "ts", "value"),
      d, Seq("svc", "env", "zone", "kind", "inst"), "ts", "value",
      colDurationMs = hour, rowGroupSize = 2048)
    val footer = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$d/0.chunks.parquet"),
        spark.sparkContext.hadoopConfiguration))
      try r.getFooter finally r.close()
    }
    val groups = footer.getBlocks.asScala.toSeq
    assert(groups.size >= 8, s"${groups.size} chunks row groups")
    // [1h, 3h) at 1h columns: s_data_1 and s_data_2
    val (lo, hi) = (base + hour, base + 3 * hour)
    val inRange = Set("s_data_1", "s_data_2")
    def bytes(g: org.apache.parquet.hadoop.metadata.BlockMetaData) =
      g.getColumns.asScala.filter(c => inRange(c.getPath.toDotString)).map(_.getTotalSize).sum
    // the file's rows that match, from a Spark scan of the labels file
    val ms = Seq(Matcher.Eq("svc", "svc_07"))
    val matchedRows = spark.read.parquet(s"$d/0.labels.parquet")
      .filter(col("l_svc") === "svc_07").select(col("_metadata.row_index"))
      .as[Long].collect().toSet
    val (hit, miss) = groups.partition(g => matchedRows.exists(r =>
      r >= g.getRowIndexOffset && r < g.getRowIndexOffset + g.getRowCount))
    assert(miss.size >= 6, s"${hit.size} of ${groups.size} row groups hold a match")
    // indexes and footer follow the last column chunk
    val tail = new java.io.File(s"$d/0.chunks.parquet").length -
      groups.flatMap(_.getColumns.asScala).map(c => c.getStartingPos + c.getTotalSize).max
    val select = ParquetShardStore.select(spark, d, lo, hi, ms)
    val (got, bytesRead, recordsRead) = ReadLog(spark.sparkContext)(rowSet(select))
    assert(got == rowSet(reference(d, lo, hi, ms)) && got.nonEmpty)
    assert(recordsRead == matchedRows.size, recordsRead)
    assert(bytesRead > 0 && bytesRead <= tail + hit.map(bytes).sum,
      s"read $bytesRead B: footer region $tail B, matched row groups " +
        s"${hit.map(bytes).sum} B, the others ${miss.map(bytes).sum} B")
  }

  test("a dir rewritten between select() and collect() fails the collect") {
    val d = "/tmp/graft_pshard_select_rewrite"
    write(d, 0)
    val ms = Seq(Matcher.Re("svc", "svc_1.*"))
    val df = ParquetShardStore.select(spark, d, base, base + 4 * hour, ms)
    write(d, 1)
    val e = intercept[Exception](df.collect())
    assert(e.toString.contains("changed after the select") ||
      Option(e.getCause).exists(_.toString.contains("changed after the select")), e)
    // a fresh select reads the new generation
    assert(rowSet(ParquetShardStore.select(spark, d, base, base + 4 * hour, ms)) ==
      rowSet(reference(d, base, base + 4 * hour, ms)))
  }

  test("labels and chunks files with different row counts fail the select") {
    val (a, b) = ("/tmp/graft_pshard_select_misaligned_a", "/tmp/graft_pshard_select_misaligned_b")
    write(a, 0)
    ParquetShardStore.write(rows(0).take(400)
        .toDF("svc", "env", "zone", "kind", "inst", "ts", "value"),
      b, Seq("svc", "env", "zone", "kind", "inst"), "ts", "value",
      colDurationMs = hour, shards = 3)
    for (f <- Seq("0.chunks.parquet", ".0.chunks.parquet.crc"))
      Files.copy(Paths.get(s"$b/$f"), Paths.get(s"$a/$f"),
        StandardCopyOption.REPLACE_EXISTING)
    val e = intercept[IllegalStateException] {
      ParquetShardStore.select(spark, a, base, base + 4 * hour, Nil)
    }
    assert(e.getMessage.contains("not row-aligned"), e.getMessage)
  }
}
