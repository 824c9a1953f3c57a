package graft

import java.sql.Timestamp
import org.apache.spark.graft.JobLog
import org.apache.spark.sql.functions._
import graft.tsdb.{ConvertOptions, DictionaryLabelScan, TsdbConverter}

/** Cold-path label enumeration from parquet dictionary pages
  * ([[graft.tsdb.DictionaryLabelScan]], the reference's
  * MaterializeAllLabelValues): answers must be IDENTICAL to the raw
  * distinct-scan on any converted layout with zero maintained state,
  * plain-encoded files must fall back to a data scan silently, and
  * the dictionary path's IO must be a small fraction of the column —
  * the property that makes it the cold-data shape at 100 TB.
  */
class DictionaryLabelScanSpec extends SparkSpec {
  import spark.implicits._

  private def ts(i: Int) = new Timestamp(1704067200000L + i * 60000L)

  test("labelValues from dictionary pages ≡ the raw distinct scan on a " +
      "converted layout: strings, numerics, nulls, multi-file") {
    val rows = (0 until 5000).map { i =>
      (if (i % 7 == 0) null else s"svc_${i % 23}",
        (i % 11).toLong, ts(i), i.toDouble)
    }
    val df = rows.toDF("service", "user_id", "ts", "value")
    val p = "/tmp/graft_dictscan_spec"
    TsdbConverter.convert(df, p, "ts",
      ConvertOptions(sortBy = Seq("service"), colDuration = "1 day"))
    def raw(c: String) = spark.read.parquet(p)
      .select(col(c).cast("string").as("label_value"))
      .filter(col("label_value").isNotNull)
      .distinct().orderBy("label_value")
      .as[String].collect().toSeq
    def cold(c: String) = DictionaryLabelScan.labelValues(spark, p, c)
      .as[String].collect().toSeq
    assert(cold("service") == raw("service"))
    assert(cold("service").size == 23)
    assert(cold("user_id") == raw("user_id")) // INT64 dictionary decode
    // limit applies after the identical ordering
    assert(DictionaryLabelScan.labelValues(spark, p, "service", limit = 5)
      .as[String].collect().toSeq == raw("service").take(5))
    // a column that does not exist in the files → empty, not an error
    assert(DictionaryLabelScan.labelValues(spark, p, "no_such").count() == 0)
  }

  test("plain-encoded files (dictionary disabled = the overflow " +
      "fallback shape) route to a data scan silently; mixed dirs work") {
    val p = "/tmp/graft_dictscan_plain_spec"
    val a = (0 until 500).map(i => (s"v_${i % 9}", ts(i), 1.0))
      .toDF("service", "ts", "value")
    val b = (0 until 500).map(i => (s"w_${i % 9}", ts(i), 1.0))
      .toDF("service", "ts", "value")
    // file(s) WITHOUT dictionary encoding next to normal ones
    a.write.mode("overwrite")
      .option("parquet.enable.dictionary", "false").parquet(s"$p/plain")
    b.write.mode("overwrite").parquet(s"$p/dict")
    val expected = (0 until 9).flatMap(i => Seq(s"v_$i", s"w_$i")).sorted
    assert(DictionaryLabelScan.labelValues(spark, p, "service")
      .as[String].collect().toSeq == expected)
  }

  test("labelNames from footers alone: presence needs a non-null value " +
      "somewhere; all-null columns stay absent; prefix mapping works") {
    val rows = Seq(
      ("a", null.asInstanceOf[String], ts(0), 1.0),
      ("b", null.asInstanceOf[String], ts(1), 2.0))
      .toDF("service", "region", "ts", "value")
    val p = "/tmp/graft_dictscan_names_spec"
    rows.write.mode("overwrite").parquet(p)
    val names = DictionaryLabelScan.labelNames(spark, p,
      n => if (n == "ts" || n == "value") None else Some(n))
    // region is entirely null → absent, like every raw labelNames path
    assert(names == Seq("service"))
    // the shard layout's l_ prefix maps through the schema helper
    import graft.tsdb.shard.{ParquetShardSchema, ParquetShardStore}
    val sp = "/tmp/graft_dictscan_names_shard_spec"
    ParquetShardStore.write(
      rows.toDF("service", "region", "ts", "value"), sp,
      Seq("service", "region"), "ts", "value", colDurationMs = 3600000L)
    assert(DictionaryLabelScan.labelNames(spark, sp,
      ParquetShardSchema.extractLabelFromColumn) == Seq("service"))
  }

  test("logical-typed columns (DATE/TIMESTAMP) fall back to the data " +
      "scan: answers match the raw cast-to-string FORMAT, never the " +
      "physical representation") {
    val p = "/tmp/graft_dictscan_logical_spec"
    val rows = Seq(
      (java.sql.Date.valueOf("2024-01-05"), ts(0), "a", 1.0),
      (java.sql.Date.valueOf("2024-02-11"), ts(1), "b", 2.0))
      .toDF("day", "ts", "service", "value")
    rows.write.mode("overwrite").parquet(p)
    // DATE: dictionary would print days-since-epoch (19727); the raw
    // contract is the formatted string
    assert(DictionaryLabelScan.labelValues(spark, p, "day")
      .as[String].collect().toSeq == Seq("2024-01-05", "2024-02-11"))
    // TIMESTAMP: same — formatted, not epoch micros
    val tsVals = DictionaryLabelScan.labelValues(spark, p, "ts")
      .as[String].collect().toSeq
    val rawTs = spark.read.parquet(p)
      .select(col("ts").cast("string")).distinct().orderBy("ts")
      .as[String].collect().toSeq
    assert(tsVals == rawTs && tsVals.head.startsWith("2024-01-01"))
  }

  test("IO attestation: the dictionary path reads footer + dictionary " +
      "pages only — a small fraction of the column and of the file") {
    // wide fixture: long values and many rows so data pages dwarf the
    // dictionary (100 distinct 64-char strings over 300k rows)
    val p = "/tmp/graft_dictscan_io_spec"
    val wide = spark.range(300000L).select(
      concat(lit("value_" + "x" * 58 + "_"), (col("id") % 100))
        .as("service"),
      timestamp_millis(lit(1704067200000L) + col("id")).as("ts"),
      col("id").cast("double").as("value"))
    wide.repartition(2).write.mode("overwrite").parquet(p)
    // the path is exact here (dictionaries held: no fallback files)
    assert(DictionaryLabelScan.labelValues(spark, p, "service").count() == 100)
    val (read, columnBytes, fileBytes) =
      DictionaryLabelScan.dictionaryScanBytes(spark, p, "service")
    assert(read > 0 && columnBytes > 0)
    assert(read * 4 < columnBytes,
      s"dictionary path read $read of a $columnBytes-byte column")
    assert(read * 4 < fileBytes,
      s"dictionary path read $read of $fileBytes file bytes")
  }

  test("labelValues over a dictionary-complete dir runs no job: the driver reads " +
      "the dictionaries in its planning pass, then dedupes, sorts and limits") {
    val p = "/tmp/graft_dictscan_jobs_spec"
    (0 until 600).map(i => (s"svc_${(i * 7) % 31}", ts(i), 1.0))
      .toDF("service", "ts", "value").repartition(3)
      .write.mode("overwrite").parquet(p)
    val want = (0 until 31).map(i => s"svc_$i").sorted
    for (limit <- Seq(0, 5)) {
      val (got, jobs) = JobLog(spark.sparkContext) {
        DictionaryLabelScan.labelValues(spark, p, "service", limit).as[String].collect().toSeq
      }
      assert(got == (if (limit > 0) want.take(limit) else want), limit)
      assert(jobs.isEmpty, s"limit $limit: $jobs")
    }
  }
}
