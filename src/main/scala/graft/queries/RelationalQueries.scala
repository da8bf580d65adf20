package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Parquet

/** Generic relational operators over the TPC-H-ish testdata — SURVEY.md §5.7:
  * cheap DuckDB-oracle coverage of joins / aggregations / windows / set ops /
  * rollup / JSON / event-time buckets that the crawl tables exercise less
  * directly. Double-valued aggregates are rounded on BOTH sides to kill
  * fp-accumulation drift between Spark and DuckDB. */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Parquet.read(s, s"$dir/$name.parquet")

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // map ops (SURVEY §2 op 40): JSON props → MapType, element_at /
    // map_keys; the map stays internal (scalar outputs keep the DuckDB
    // oracle clean — maps themselves don't round-trip parquet↔DuckDB well).
    "q17_map_ops" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("pm", from_json(col("props"),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.LongType)))
        .select(col("event_type"),
          element_at(col("pm"), "k").as("k_val"),
          size(map_keys(col("pm"))).as("n_keys"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k_val").as("sum_k"),
          max("k_val").as("max_k"), max("n_keys").as("max_keys"))),

    // hash aggregate with partial/final combine (TPC-H Q1 shape).
    "q20_lineitem_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1998-09-01 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_rows"))),

    // broadcast dim join + agg.
    "q21_orders_by_segment" -> ((s, dir) =>
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"), "inner")
        .groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("total"))),

    // window: top-3 orders per customer by price (int-keyed output).
    "q22_top_orders_per_cust" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "rk")
    }),

    // event-time tumbling window + JSON extraction (ops 36/37/44).
    "q23_events_hourly" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(
          date_trunc("hour", col("ts")).as("hour"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          round(sum("value"), 2).as("total_value"),
          sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"))),

    // rollup (op 22).
    "q24_rollup" -> ((s, dir) =>
      t(s, dir, "orders")
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))),

    // set ops (ops 32-34): customers with orders EXCEPT urgent-order customers.
    "q25_setops" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val withOrders = o.select(col("o_custkey").as("custkey")).distinct()
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("custkey")).distinct()
      withOrders.except(urgent)
    }),

    // semi/anti join pair (op 15) — suppliers in nations that have customers.
    "q26_semi_join" -> ((s, dir) =>
      t(s, dir, "supplier")
        .join(t(s, dir, "customer").select(col("c_nationkey").as("s_nationkey")),
          Seq("s_nationkey"), "left_semi")
        .select("s_suppkey", "s_name")),

    // grouped sort + global top-k (op 31): hottest parts by retail price.
    "q27_topk" -> ((s, dir) =>
      t(s, dir, "part")
        .orderBy(desc("p_retailprice"), asc("p_partkey"))
        .limit(10)
        .select("p_partkey", "p_name", "p_retailprice")),

    // op 44 batch flavor: session windows (30-min gap) per user over events;
    // oracle = classic gaps-and-islands SQL.
    "q28_sessionize" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("sess"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
        .select(
          col("sess.start").as("session_start"),
          col("user_id"), col("n_events"), col("total_value"))),

    // op 16: as-of/"latest state wins" via max_by — last event per user.
    "q29_latest_event" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy("user_id")
        .agg(
          max("ts").as("last_ts"),
          max_by(col("event_type"), struct(col("ts"), col("event_id"))).as("last_type"),
          round(max_by(col("value"), struct(col("ts"), col("event_id"))), 2).as("last_value")))
  )

  val oracles: Map[String, String] = Map(
    "q17_map_ops" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
        |       CAST(max(len(json_keys(props))) AS INT) AS max_keys
        |  FROM events GROUP BY event_type""".stripMargin,

    "q20_lineitem_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       count(*) AS n_rows
        |  FROM lineitem
        | WHERE l_shipdate < TIMESTAMP '1998-09-01 00:00:00'
        | GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q21_orders_by_segment" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS total
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        | GROUP BY c_mktsegment""".stripMargin,

    "q22_top_orders_per_cust" ->
      """SELECT o_custkey, o_orderkey, rk FROM (
        |  SELECT o_custkey, o_orderkey,
        |         ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |    FROM orders) AS r
        | WHERE rk <= 3""".stripMargin,

    "q23_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |       count(*) AS n,
        |       round(sum(value), 2) AS total_value,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |  FROM events
        | GROUP BY 1, 2""".stripMargin,

    "q24_rollup" ->
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
        |       round(sum(o_totalprice), 2) AS total
        |  FROM orders
        | GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""".stripMargin,

    "q25_setops" ->
      """SELECT DISTINCT o_custkey AS custkey FROM orders
        |EXCEPT
        |SELECT DISTINCT o_custkey AS custkey FROM orders
        | WHERE o_orderpriority = '1-URGENT'""".stripMargin,

    "q26_semi_join" ->
      """SELECT s_suppkey, s_name FROM supplier
        | WHERE EXISTS (SELECT 1 FROM customer WHERE c_nationkey = s_nationkey)""".stripMargin,

    "q27_topk" ->
      """SELECT p_partkey, p_name, p_retailprice FROM part
        | ORDER BY p_retailprice DESC, p_partkey ASC LIMIT 10""".stripMargin,

    "q28_sessionize" ->
      """WITH ordered AS (
        |  SELECT user_id, ts, value,
        |         -- Spark session_window: an event exactly gap-after the last
        |         -- one starts a NEW session ([start, last+gap) half-open)
        |         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                   >= INTERVAL 30 MINUTE OR
        |              lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |              THEN 1 ELSE 0 END AS new_sess
        |    FROM events
        |),
        |islands AS (
        |  SELECT user_id, ts, value,
        |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |    FROM ordered
        |)
        |SELECT min(ts) AS session_start, user_id,
        |       count(*) AS n_events, round(sum(value), 2) AS total_value
        |  FROM islands GROUP BY user_id, sess_id""".stripMargin,

    "q29_latest_event" ->
      """SELECT user_id, ts AS last_ts, event_type AS last_type,
        |       round(value, 2) AS last_value
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |                                     ORDER BY ts DESC, event_id DESC) AS rn
        |          FROM events) AS r
        | WHERE rn = 1""".stripMargin
  )
}
