package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Shared._

/** Relational queries over the TPC-H and events tables: filters, joins,
  * window top-k, rollups, JSON extraction and the salted skew join.
  */
private[graft] object RelationalQueries extends QueryFamily {

  private def q01(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("2000-01-01").cast("timestamp") &&
        col("l_quantity") < 10)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"))
      .orderBy("l_orderkey", "l_linenumber")
  query("q01_filter_project", q01,
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '2000-01-01' AND l_quantity < 10
      |ORDER BY l_orderkey, l_linenumber""".stripMargin)

  private def q02(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(dsum(col("l_quantity")), 2).as("sum_qty"),
        round(dsum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
        // averages stay UNROUNDED: the decimal sum is exact and
        // order-independent, so the double quotient is bitwise
        // identical in Spark and DuckDB, whereas rounding a quotient
        // that lands on a .5 boundary diverges (Java shortest-repr
        // HALF_UP vs C-style binary rounding)
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        (dsum(col("l_discount")) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  query("q02_agg_pricing", q02,
    """SELECT l_returnflag, l_linestatus,
      |  round(CAST(sum(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE), 2) AS sum_qty,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE), 2) AS sum_base_price,
      |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,8))) AS DOUBLE), 2) AS sum_disc_price,
      |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(30,8))) AS DOUBLE), 2) AS sum_charge,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) / count(*) AS avg_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) / count(*) AS avg_price,
      |  CAST(sum(CAST(l_discount AS DECIMAL(30,8))) AS DOUBLE) / count(*) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin)

  private def q03(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .join(t(s, dir, "orders")
          .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"))
      .join(t(s, dir, "lineitem")
          .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(round(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
      .select(col("l_orderkey"), col("revenue"), ms(col("o_orderdate")).as("o_date_ms"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  query("q03_join_topk", q03,
    """SELECT l_orderkey,
      |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,8))) AS DOUBLE), 2) AS revenue,
      |  epoch_ms(o_orderdate) AS o_date_ms
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l_shipdate > TIMESTAMP '1998-01-01'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin)

  private def q04(s: SparkSession, dir: String): DataFrame = {
    val asiaNations = t(s, dir, "nation")
      .join(t(s, dir, "region").filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
    val supAsia = t(s, dir, "supplier")
      .join(asiaNations, col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supAsia),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .groupBy("n_name")
      .agg(round(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy("n_name")
  }
  query("q04_multi_join", q04,
    """SELECT n_name,
      |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,8))) AS DOUBLE), 2) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin)

  private def q05(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .orderBy("o_orderpriority", "rn")
  }
  query("q05_window_topk", q05,
    """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3
      |ORDER BY o_orderpriority, rn""".stripMargin)

  private def q06(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select("o_orderstatus", "o_orderpriority")
      .distinct()
      .orderBy("o_orderstatus", "o_orderpriority")
  query("q06_distinct", q06,
    """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)

  private def q07(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  query("q07_anti_join", q07,
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin)

  private def q08(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        round(dsum(col("o_totalprice")), 2).as("total_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("n_orders"), col("total_price"))
      .orderBy("status", "priority")
  query("q08_rollup", q08,
    """SELECT coalesce(o_orderstatus, '(all)') AS status,
      |  coalesce(o_orderpriority, '(all)') AS priority,
      |  count(*) AS n_orders,
      |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE), 2) AS total_price
      |FROM orders
      |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin)

  private def q09(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        (sum(col("k")).cast("double") / count(lit(1))).as("avg_k"))
      .orderBy("event_type")
  query("q09_json_extract", q09,
    """SELECT event_type, count(*) AS n_events,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) / count(*) AS avg_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin)

  private def q10(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"),
        ms(date_trunc("hour", col("ts"))).as("bucket_ms"))
      .agg(count(lit(1)).as("n_events"),
        (dsum(col("value")) / count(lit(1))).as("avg_value"),
        max(col("value")).as("max_value"))
      .orderBy("event_type", "bucket_ms")
  query("q10_time_bucket", q10,
    """SELECT event_type, epoch_ms(date_trunc('hour', ts)) AS bucket_ms,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) / count(*) AS avg_value,
      |  max(value) AS max_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY event_type, bucket_ms""".stripMargin)

  /** Salted fact-dim join (Zipfian-key guard, SURVEY §5): result
    * must be IDENTICAL to the plain join — the oracle is the plain
    * SQL join, so the salt/replicate/drop plumbing is provably
    * transparent.
    */
  private def q11SkewJoin(s: SparkSession, dir: String): DataFrame = {
    val fact = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val dim = t(s, dir, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    graft.operators.Skew.saltedJoin(fact, dim, "o_custkey", "o_orderkey", 8)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        round(dsum(col("o_totalprice")), 2).as("total_price"))
      .orderBy("c_mktsegment")
  }
  query("q11_skew_join", q11SkewJoin,
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE), 2) AS total_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin)
}
