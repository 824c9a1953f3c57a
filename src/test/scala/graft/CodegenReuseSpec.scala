package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.debug.codegenStringSeq
import graft.tsdb.Matcher
import graft.tsdb.promql.{PromQL, PromQLContext}
import graft.tsdb.shard.ParquetShardStore

/** A dashboard refresh re-issues the same query with its window moved
  * one step. Every per-query time constant that no scan can push is
  * bound as a generated-code reference ([[graft.functions.QueryConst]]),
  * so the whole-stage Java source — the key of Spark's compiled-class
  * cache — must not change with the window. The spec compares the
  * executed plans' generated sources of two windows 60 s apart; it
  * does not read the JVM-wide compile counter, which every suite in
  * the test JVM shares.
  */
class CodegenReuseSpec extends SparkSpec {
  import spark.implicits._

  private val base = 1704067200000L // 2024-01-01T00:00Z
  private val hour = 3600000L
  private val minute = 60000L

  // two metrics over three hours at a 15 s scrape: counter `x` per
  // (job, h) climbing with one reset, gauge `g` per job
  private lazy val dir = {
    val d = "/tmp/graft_pshard_codegen_reuse"
    val rows = for {
      i <- 0 until 720
      job <- Seq("a", "b")
      (name, h) <- Seq(("x", "h0"), ("x", "h1"), ("g", null))
    } yield {
      val v = if (name == "g") ((i * 37) % 100).toDouble
        else ((i % 500) * (if (h == "h0") 2 else 3)).toDouble
      (name, job, h, new Timestamp(base + i * 15000L), v)
    }
    ParquetShardStore.write(rows.toDF("__name__", "job", "h", "ts", "value"),
      d, Seq("__name__", "job", "h"), "ts", "value",
      colDurationMs = 8 * hour, shards = 2)
    d
  }

  /** The whole-stage sources of `df`'s executed plan after it ran. */
  private def generated(df: DataFrame): Seq[String] = {
    assert(df.collect().nonEmpty)
    codegenStringSeq(df.queryExecution.executedPlan).map(_._2)
  }

  private def panel(query: String, metric: String)(startMs: Long): DataFrame = {
    val endMs = startMs + hour
    val sel = ParquetShardStore.select(spark, dir, startMs - 5 * minute, endMs,
      Seq(Matcher.Eq("__name__", metric)))
    val ctx = PromQLContext(Map(metric -> sel),
      ParquetShardStore.labelNames(spark, dir).filterNot(_ == "__name__"),
      evalMs = endMs)
    PromQL.compileRange(query, ctx, startMs, endMs, minute)
  }

  private def rawSelect(startMs: Long): DataFrame =
    ParquetShardStore.select(spark, dir, startMs, startMs + hour,
      Seq(Matcher.Eq("__name__", "x"), Matcher.Eq("job", "a")))

  private def assertStable(what: String, build: Long => DataFrame): Unit = {
    val t0 = base + hour
    val (a, b) = (generated(build(t0)), generated(build(t0 + minute)))
    assert(a.nonEmpty, s"$what: no whole-stage codegen in the executed plan")
    assert(a.size == b.size, s"$what: ${a.size} vs ${b.size} codegen stages")
    a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
      if (x != y) {
        val (xl, yl) = (x.linesIterator.toSeq, y.linesIterator.toSeq)
        val firstDiff = xl.zip(yl).indexWhere { case (p, q) => p != q }
        fail(s"$what: stage $i's generated source differs across windows " +
          s"at line $firstDiff:\n  ${xl.lift(firstDiff).getOrElse("")}\n  " +
          yl.lift(firstDiff).getOrElse(""))
      }
    }
  }

  test("raw select: generated code is identical across two windows") {
    assertStable("select", rawSelect)
  }

  test("sum by (h) (rate(x[5m])): generated code is identical across two windows") {
    assertStable("rate panel", panel("sum by (h) (rate(x[5m]))", "x"))
  }

  test("max_over_time(g[5m]): generated code is identical across two windows") {
    assertStable("max panel", panel("max_over_time(g[5m])", "g"))
  }

  test("deriv(g[5m]): generated code is identical across two windows") {
    assertStable("deriv panel", panel("deriv(g[5m])", "g"))
  }

  test("an instant query: generated code is identical at two eval times") {
    assertStable("instant rate", evalMs => {
      val sel = ParquetShardStore.select(spark, dir, evalMs - 10 * minute, evalMs,
        Seq(Matcher.Eq("__name__", "x")))
      PromQL.compile("sum by (h) (rate(x[5m]))", PromQLContext(Map("x" -> sel),
        ParquetShardStore.labelNames(spark, dir).filterNot(_ == "__name__"),
        evalMs = evalMs))
    })
  }
}
