package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract: every operator from SURVEY.md §2 registered as a
  * runnable query plus (where SQL-expressible) a DuckDB oracle. Each
  * query is declared once, in its family module under
  * `graft.queries`, next to its build function, its oracle SQL and
  * the fixtures it reads.
  *
  * Determinism discipline (SURVEY §6):
  *   - every computed column aliased IDENTICALLY in Spark and SQL;
  *   - float aggregates summed in decimal then cast to double, so the
  *     result is independent of partition/accumulation order, then
  *     rounded;
  *   - timestamps emitted as epoch milliseconds (BIGINT both sides);
  *   - every top-k/rank has a total-order tiebreak;
  *   - every result has a deterministic ORDER BY on both sides.
  */
object SparkEntry {

  private[graft] val families: Seq[QueryFamily] = Seq(
    RelationalQueries, TsQueries, PromQLQueries, RollupSketchQueries,
    BlockShardQueries, NativeHistQueries, DedupAnnQueries,
    TextPipelineQueries)

  private lazy val registry: Seq[Query] = families.flatMap(_.queries)

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q02_agg_pricing")(spark, "/root/testdata/sf0.001")

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** DuckDB oracle SQL per query (omitted → driver does a rows-only
    * check). Each mirrors the Spark plan's arithmetic EXACTLY: same
    * aliases, same decimal-accumulate-then-double pattern, same
    * rounding, same order of floating-point operations.
    */
  lazy val oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
