package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import graft.functions.QueryConst
import graft.tsdb.{ChunkStore, Matcher}
import graft.tsdb.promql.{PromQL, PromQLContext}

/** Bound query constants ([[graft.functions.QueryConst]]) are
  * non-foldable, so a predicate holding one never reaches a scan.
  * They are used only on decoded-sample columns; every bound a scan
  * can take stays a literal. These are the plans that must keep
  * their pushdown: PromQL over a raw parquet table (also with the
  * ts wrapped in a cast, as the events loader builds it) and the
  * chunk store's metadata and bucket filters.
  */
class BoundConstPushdownSpec extends SparkSpec {
  import spark.implicits._

  private val base = 1704067200000L // 2024-01-01T00:00Z

  private lazy val events = {
    val p = Files.createTempDirectory("graft_bound_pushdown").toString + "/events"
    (0 until 240).map { i =>
      (if (i % 2 == 0) "click" else "view", s"u${i % 4}",
        new Timestamp(base + i * 60000L), i.toDouble)
    }.toDF("event_type", "user_id", "ts", "value").write.parquet(p)
    p
  }

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  private def promql(table: DataFrame): DataFrame = {
    val ctx = PromQLContext(Map("events" -> table), Seq("event_type", "user_id"),
      evalMs = base + 4 * 3600000L)
    PromQL.compileRange("""sum by (user_id) (rate(events{event_type="click"}[5m]))""",
      ctx, base + 3600000L, base + 2 * 3600000L, 60000L)
  }

  test("PromQL over a raw parquet table pushes its time range, also " +
      "through the loader's ts cast") {
    val raw = spark.read.parquet(events)
    for (table <- Seq(raw, raw.withColumn("ts", col("ts").cast("timestamp")))) {
      val plan = formatted(promql(table))
      assert(plan.contains("GreaterThanOrEqual(ts,"), plan)
      assert(plan.contains("LessThan(ts,"), plan)
      assert(plan.contains("EqualTo(event_type,click)"), plan)
      assert(promql(table).collect().nonEmpty)
    }
  }

  test("ChunkStore.select keeps literal mint/maxt and bucket filters on " +
      "the scan; only the decoded-sample bounds are bound") {
    val p = Files.createTempDirectory("graft_bound_chunks").toString
    ChunkStore.write(spark.read.parquet(events), p, Seq("event_type", "user_id"),
      "ts", "value", colDuration = "1 hour", samplesPerChunk = 16)
    val sel = ChunkStore.select(spark, p, "2024-01-01 01:00:00",
      "2024-01-01 02:30:00", Seq(Matcher.Eq("event_type", "click")),
      Seq("event_type", "user_id"), "ts", "value", colDuration = "1 hour")
    val plan = formatted(sel)
    assert(plan.contains("GreaterThanOrEqual(maxt,"), plan)
    assert(plan.contains("LessThan(mint,"), plan)
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined, plan)
    // the decoder's two bounds and the per-sample [mint, maxt) filter
    val bound = sel.queryExecution.optimizedPlan.flatMap(_.expressions
      .flatMap(_.collect { case q: QueryConst => q.value }))
    assert(bound.sorted == Seq.fill(2)(Seq(3600000000L, 9000000000L)).flatten
      .map(_ + base * 1000L).sorted, sel.queryExecution.optimizedPlan)
    assert(sel.count() == 45)
  }
}
