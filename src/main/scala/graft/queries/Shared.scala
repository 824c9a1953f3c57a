package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tsdb.TsdbQueryable
import graft.tsdb.promql.PromQLContext

/** Helpers the query families share: the testdata reader, the
  * determinism helpers, the PromQL context and the counter
  * native-histogram table.
  */
private[graft] object Shared {

  /** `/tmp/graft_<name>_<dir tag>`: where a fixture or a query's own
    * output dir for source dir `dir` lives.
    */
  def tmpPath(name: String, dir: String): String =
    s"/tmp/graft_${name}_" + dir.replaceAll("[^0-9a-zA-Z]", "_")

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has varied across testdata generations:
      // TIMESTAMP(NANOS) (which Spark's reader rejects natively —
      // read as long and floor to micros, the same truncation
      // DuckDB's epoch_ms applies) or TIMESTAMP(MICROS) (loads as a
      // timestamp directly). Dispatch on the LOADED type and cast
      // both paths to the session-TZ timestamp so downstream code
      // sees one column type either way.
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = s.read.parquet(s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
      }
    } else s.read.parquet(s"$dir/$name.parquet")

  /** Order-insensitive float sum: accumulate exactly in decimal, then
    * one well-defined decimal→double conversion. Partition order can
    * no longer change the value, so DuckDB and Spark agree bitwise.
    */
  def dsum(c: Column): Column = sum(c.cast("decimal(30,8)")).cast("double")

  // TPC-H date columns read as TIMESTAMP_NTZ; with a UTC session the
  // cast to TIMESTAMP is instant-preserving, and unix_millis then
  // matches DuckDB's epoch_ms.
  def ms(c: Column): Column = unix_millis(c.cast("timestamp"))

  def queryable(s: SparkSession, dir: String): TsdbQueryable =
    new TsdbQueryable(t(s, dir, "events"), Seq("event_type", "user_id"))

  def withTsMs(df: DataFrame): DataFrame =
    df.withColumn("ts_ms", ms(col("ts"))).drop("ts")

  /** Shared PromQL evaluation context: events as the metric, instant
    * T = 2024-02-01T00:00Z (just past the fixture's last sample).
    */
  def promCtx(s: SparkSession, dir: String): PromQLContext =
    PromQLContext(
      metrics = Map("events" -> t(s, dir, "events")),
      labelCols = Seq("event_type", "user_id"),
      evalMs = 1706745600000L, // 2024-02-01T00:00:00Z
      lookbackMs = 86400000L,
      tieBreak = Seq("event_id"))

  /** Deterministic COUNTER native-histogram fixture for the rate
    * path: cumulative bucket counts `d² · k_bucket` — strictly
    * monotone per bucket, exact integers — with bucket index 5
    * APPEARING only from day 19740 (so the first/last snapshots can
    * have different bucket sets and the missing-first-index → 0 path
    * is exercised on the gate, not just in specs).
    */
  def nativeHistCounterTable(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"), col("user_id"),
        floor(unix_timestamp(col("ts")) / 86400).cast("long").as("d"))
      .distinct()
      .withColumn("sseed", col("user_id") * 31 + length(col("event_type")))
      .withColumn("t_sec", col("d") * 86400)
      .withColumn("zero_count", col("d") * col("d") * (col("sseed") % 3))
      .withColumn("pos_idx",
        sequence(lit(-2), when(col("d") >= 19740, lit(5)).otherwise(lit(4))))
      .withColumn("pos_counts",
        transform(col("pos_idx"),
          i => col("d") * col("d") * ((col("sseed") + i + 3) % 5)))
}
