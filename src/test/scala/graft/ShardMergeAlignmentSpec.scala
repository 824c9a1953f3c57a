package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import graft.tsdb.shard.ParquetShardStore

/** The shard merges read every row of their inputs through the
  * select's two phases, so a chunks file whose row count differs from
  * its labels file's fails the merge as it fails a select, and a
  * chunks file with no labels file beside it fails every read of the
  * dir.
  */
class ShardMergeAlignmentSpec extends SparkSpec {
  import spark.implicits._

  private val base = 1704067200000L // 2024-01-01T00:00Z
  private val hour = 3600000L

  private def rows(n: Int) = (0 until n).map(i =>
    (s"svc_${i % 40}", new Timestamp(base + i * 60000L), i * 0.5))

  /** Writes `n` series to `dir`, XOR or integer-histogram. */
  private def write(dir: String, n: Int, hist: Boolean): Unit =
    if (hist) ParquetShardStore.writeHist(rows(n).map { case (s, ts, v) =>
        (s, ts, 0L, Seq(1, 3), Seq(v.toLong + 1, v.toLong + 2))
      }.toDF("svc", "ts", "zero", "idx", "cnt"), dir, Seq("svc"), "ts", "zero", "idx",
      "cnt", colDurationMs = hour, shards = 2)
    else ParquetShardStore.write(rows(n).toDF("svc", "ts", "value"), dir, Seq("svc"),
      "ts", "value", colDurationMs = hour, shards = 2)

  /** Copies a smaller dir's shard 0 chunks file over `kind`'s input
    * and runs the merge. */
  private def misalignedMerge(kind: String, hist: Boolean): IllegalStateException = {
    val (a, b) = (s"/tmp/graft_pshard_merge_align_${kind}_a", s"/tmp/graft_pshard_merge_align_${kind}_b")
    write(a, 400, hist)
    write(b, 20, hist)
    for (f <- Seq("0.chunks.parquet", ".0.chunks.parquet.crc"))
      Files.copy(Paths.get(s"$b/$f"), Paths.get(s"$a/$f"),
        StandardCopyOption.REPLACE_EXISTING)
    val out = s"/tmp/graft_pshard_merge_align_${kind}_out"
    intercept[IllegalStateException] {
      if (hist) ParquetShardStore.mergeShardsHist(spark, Seq(a), out)
      else ParquetShardStore.mergeShards(spark, Seq(a), out)
    }
  }

  test("mergeShards fails on a chunks file that is not row-aligned with its labels file") {
    val e = misalignedMerge("xor", hist = false)
    assert(e.getMessage.contains("not row-aligned"), e.getMessage)
  }

  test("mergeShardsHist fails on a chunks file that is not row-aligned with its labels file") {
    val e = misalignedMerge("hist", hist = true)
    assert(e.getMessage.contains("not row-aligned"), e.getMessage)
  }

  test("a chunks file with no labels file fails select, series and mergeShards") {
    val d = "/tmp/graft_pshard_merge_align_orphan"
    ParquetShardStore.write(rows(400).toDF("svc", "ts", "value"), d, Seq("svc"),
      "ts", "value", colDurationMs = hour, shards = 3)
    Files.copy(Paths.get(s"$d/0.chunks.parquet"), Paths.get(s"$d/3.chunks.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    for ((what, read) <- Seq[(String, () => Any)](
        "select" -> (() => ParquetShardStore.select(spark, d, base, base + hour).collect()),
        "series" -> (() => ParquetShardStore.series(spark, d).collect()),
        "mergeShards" -> (() => ParquetShardStore.mergeShards(spark, Seq(d),
          "/tmp/graft_pshard_merge_align_orphan_out")))) {
      val e = intercept[IllegalStateException](read())
      assert(e.getMessage.contains("shard 3 has a chunks file and no labels file"),
        s"$what: ${e.getMessage}")
    }
  }
}
