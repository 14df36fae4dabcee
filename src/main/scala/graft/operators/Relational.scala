package graft.operators

import graft.{Exact, QueryDef, Tables}
import graft.TopK.topKPerKey
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}

/** Core relational operator set (SURVEY.md §2.3 "L2" dispositions):
  * scans, filters, projections, hash/broadcast/sort-merge joins,
  * semi/anti joins, aggregations (hash, distinct, rollup), window
  * functions (ranking + frames), sorts/top-k, set operations, scalar
  * function library (string/date/math/json-ish), scalar subqueries.
  *
  * Every query is declarative DataFrame API → Catalyst plans the
  * physical strategy (broadcast vs SMJ, partial aggregation, etc.).
  * Scale notes are on each query: at 100 TB the same plans hold as
  * long as joins shuffle on their keys and small dims broadcast.
  */
object Relational {
  import Exact._

  private def li(s: SparkSession, d: String) = new Tables(s, d).lineitem
  private def tb(s: SparkSession, d: String) = new Tables(s, d)

  val queries: Seq[QueryDef] = Seq(

    // ----- q01: TPC-H Q1-style pricing summary (scan → filter →
    // hash-agg with map-side partial agg; no join; the canonical
    // "does partial aggregation work" benchmark). Headline.
    QueryDef(
      "q01_pricing_summary",
      (s, d) => {
        val l = li(s, d)
        l.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            dsum(col("l_quantity"), 2).as("sum_qty"),
            dsum(col("l_extendedprice"), 2).as("sum_base_price"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
              .as("sum_disc_price"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
              * (lit(1.0) + col("l_tax")), 6).as("sum_charge"),
            davg(col("l_quantity"), 2).as("avg_qty"),
            davg(col("l_extendedprice"), 2).as("avg_price"),
            davg(col("l_discount"), 2).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
        ${sqlSum("l_quantity", 2)} AS sum_qty,
        ${sqlSum("l_extendedprice", 2)} AS sum_base_price,
        ${sqlSum("l_extendedprice * (1.0 - l_discount)", 6)} AS sum_disc_price,
        ${sqlSum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)", 6)} AS sum_charge,
        ${sqlAvg("l_quantity", 2)} AS avg_qty,
        ${sqlAvg("l_extendedprice", 2)} AS avg_price,
        ${sqlAvg("l_discount", 2)} AS avg_disc,
        COUNT(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus"""),
      headline = true),

    // ----- q02: filter + projection with per-row arithmetic. Filters
    // and the 5-column projection push down into the parquet scan
    // (PushedFilters + pruned ReadSchema) — verified via explain.
    QueryDef(
      "q02_filter_project",
      (s, d) => li(s, d)
        .filter(col("l_returnflag") === "R" &&
          col("l_quantity").between(30, 50))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
        .limit(500),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        l_extendedprice * (1.0 - l_discount) AS revenue
        FROM lineitem
        WHERE l_returnflag = 'R' AND l_quantity BETWEEN 30 AND 50
        ORDER BY l_orderkey, l_linenumber LIMIT 500""")),

    // ----- q03: TPC-H Q3-style 3-way join + agg + top-k. customer is
    // small → broadcast; lineitem⋈orders shuffles on orderkey (the
    // natural 100 TB co-partitioning key). Headline.
    QueryDef(
      "q03_shipping_priority",
      (s, d) => {
        val t = tb(s, d)
        val cutoff = lit("1998-01-01").cast("timestamp_ntz")
        t.lineitem.filter(col("l_shipdate") > cutoff)
          .join(t.orders.filter(col("o_orderdate") < cutoff), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(t.customer.filter(col("c_mktsegment") === "BUILDING")),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
            .as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some(s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
        ${sqlSum("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate  > TIMESTAMP '1998-01-01'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey LIMIT 10"""),
      headline = true),

    // ----- q04: left-semi join (EXISTS). Spark plans a shuffled
    // left-semi hash join on orderkey; no row multiplication.
    QueryDef(
      "q04_order_priority_exists",
      (s, d) => {
        val t = tb(s, d)
        t.orders
          .join(t.lineitem.filter(col("l_quantity") > 45)
            .select(col("l_orderkey")),
            col("o_orderkey") === col("l_orderkey"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders WHERE EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ----- q05: TPC-H Q5-style 6-way star join. region/nation/supplier/
    // customer broadcast (dims); the lineitem⋈orders fact join shuffles
    // on orderkey. Headline.
    QueryDef(
      "q05_local_supplier_volume",
      (s, d) => {
        val t = tb(s, d)
        t.lineitem
          .join(t.orders.filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz")
            && col("o_orderdate") < lit("1997-01-01").cast("timestamp_ntz")),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey")
            && col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(t.region.filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
            .as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some(s"""SELECT n_name,
        ${sqlSum("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey  = c_custkey
        JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY n_name ORDER BY revenue DESC, n_name"""),
      headline = true),

    // ----- q06: TPC-H Q6-style single-pass scan-filter-agg → 1 row.
    // The whole filter pushes into the parquet reader. Headline.
    QueryDef(
      "q06_forecast_revenue",
      (s, d) => li(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz")
          && col("l_discount").between(0.05, 0.07)
          && col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount"), 6).as("revenue"),
          count(lit(1)).as("n_rows")),
      Some(s"""SELECT ${sqlSum("l_extendedprice * l_discount", 6)} AS revenue,
        COUNT(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24"""),
      headline = true),

    // ----- q07: left-anti join (NOT EXISTS): customers without orders.
    QueryDef(
      "q07_customers_without_orders",
      (s, d) => {
        val t = tb(s, d)
        t.customer
          .join(t.orders.select(col("o_custkey")),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        ORDER BY c_custkey""")),

    // ----- q08: ranking window — top-3 orders per customer.
    // Shuffles once on o_custkey; rank inside partition (no global sort).
    QueryDef(
      "q08_window_topn_per_customer",
      (s, d) => {
        topKPerKey(tb(s, d).orders, Seq(col("o_custkey")),
            Seq(col("o_totalprice").desc, col("o_orderkey")), 3, "rn")
          .select(col("o_custkey"), col("rn"), col("o_orderkey"),
            col("o_totalprice"))
          .orderBy(col("o_custkey"), col("rn"))
      },
      Some("""SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
            ROW_NUMBER() OVER (PARTITION BY o_custkey
              ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) WHERE rn <= 3
        ORDER BY o_custkey, rn""")),

    // ----- q09: analytic window with a running frame. The cumulative
    // sum is computed over DECIMAL so Spark's and DuckDB's (identical)
    // left-to-right accumulation is provably exact.
    QueryDef(
      "q09_window_running_total",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        tb(s, d).orders
          .withColumn("running_spend",
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .cast(DoubleType))
          .withColumn("order_seq", row_number().over(w))
          .select(col("o_custkey"), col("order_seq"), col("o_orderkey"),
            col("o_totalprice"), col("running_spend"))
          .orderBy(col("o_custkey"), col("order_seq"))
      },
      Some("""SELECT o_custkey,
          ROW_NUMBER() OVER w AS order_seq, o_orderkey, o_totalprice,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
            (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
            AS running_spend
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ORDER BY o_custkey, order_seq""")),

    // ----- q10: global top-k. Spark plans TakeOrderedAndProject —
    // per-partition top-k then driver merge; no full sort at scale.
    QueryDef(
      "q10_global_topk",
      (s, d) => li(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"), col("l_quantity"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
          col("l_linenumber"))
        .limit(100),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
        FROM lineitem
        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""")),

    // ----- q11/q12/q13: set operations (UNION/INTERSECT/EXCEPT with
    // set semantics — Spark and ANSI SQL agree).
    QueryDef(
      "q11_union",
      (s, d) => {
        val t = tb(s, d)
        val a = t.customer.filter(col("c_mktsegment") === "MACHINERY")
          .select(col("c_custkey"))
        val b = t.orders.filter(col("o_totalprice") > 400000)
          .select(col("o_custkey").as("c_custkey"))
        a.union(b).distinct().orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
        UNION
        SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 400000
        ORDER BY c_custkey""")),

    QueryDef(
      "q12_intersect",
      (s, d) => {
        val t = tb(s, d)
        val a = t.customer.filter(col("c_acctbal") > 5000).select(col("c_custkey"))
        val b = t.orders.filter(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("c_custkey"))
        a.intersect(b).orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        INTERSECT
        SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
        ORDER BY c_custkey""")),

    QueryDef(
      "q13_except",
      (s, d) => {
        val t = tb(s, d)
        val a = t.customer.select(col("c_custkey"))
        val b = t.orders.filter(col("o_totalprice") > 100000)
          .select(col("o_custkey").as("c_custkey"))
        a.except(b).orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey FROM customer
        EXCEPT
        SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 100000
        ORDER BY c_custkey""")),

    // ----- q14: exact distinct aggregation (expands to two-phase
    // aggregate; at 100 TB prefer approx_count_distinct — provided as
    // a separate non-oracle query since HLL is engine-specific).
    QueryDef(
      "q14_distinct_agg",
      (s, d) => li(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
          COUNT(DISTINCT l_suppkey) AS n_supp,
          COUNT(DISTINCT l_partkey) AS n_part,
          COUNT(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ----- q15: ROLLUP (multi-dimensional aggregate). NULL grouping
    // keys are coalesced to 'ALL' so null-ordering differences between
    // engines cannot affect the sort.
    QueryDef(
      "q15_rollup",
      (s, d) => li(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity"), 2).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n_rows"), col("sum_qty"))
        .orderBy(col("returnflag"), col("linestatus")),
      Some(s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
          COALESCE(l_linestatus, 'ALL') AS linestatus,
          COUNT(*) AS n_rows, ${sqlSum("l_quantity", 2)} AS sum_qty
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY returnflag, linestatus""")),

    // ----- q16: CUBE.
    QueryDef(
      "q16_cube",
      (s, d) => tb(s, d).orders
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice"), 2).as("sum_price"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("orderstatus"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("orderpriority"),
          col("n_orders"), col("sum_price"))
        .orderBy(col("orderstatus"), col("orderpriority")),
      Some(s"""SELECT COALESCE(o_orderstatus, 'ALL') AS orderstatus,
          COALESCE(o_orderpriority, 'ALL') AS orderpriority,
          COUNT(*) AS n_orders, ${sqlSum("o_totalprice", 2)} AS sum_price
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY orderstatus, orderpriority""")),

    // ----- q17: string scalar-function library.
    QueryDef(
      "q17_string_functions",
      (s, d) => tb(s, d).part
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("name_upper"),
          length(col("p_name")).as("name_len"),
          substring(col("p_type"), 1, 5).as("type_prefix"),
          regexp_replace(col("p_brand"), "#", "-").as("brand_dashed"),
          concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
          lpad(col("p_size").cast("string"), 4, "0").as("size_padded"),
          reverse(col("p_name")).as("name_rev"))
        .orderBy(col("p_partkey"))
        .limit(500),
      Some("""SELECT p_partkey,
          UPPER(p_name) AS name_upper,
          CAST(LENGTH(p_name) AS INT) AS name_len,
          SUBSTRING(p_type, 1, 5) AS type_prefix,
          REPLACE(p_brand, '#', '-') AS brand_dashed,
          CONCAT_WS('|', p_brand, p_type) AS brand_type,
          LPAD(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
          REVERSE(p_name) AS name_rev
        FROM part ORDER BY p_partkey LIMIT 500""")),

    // ----- q18: date/time scalar functions + temporal grouping.
    QueryDef(
      "q18_date_functions",
      (s, d) => tb(s, d).orders
        .groupBy(
          date_trunc("month", col("o_orderdate")).as("month_start"),
          year(col("o_orderdate")).as("yr"),
          quarter(col("o_orderdate")).as("qtr"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice"), 2).as("revenue"))
        .orderBy(col("month_start")),
      Some(s"""SELECT DATE_TRUNC('month', o_orderdate) AS month_start,
          CAST(YEAR(o_orderdate) AS INT) AS yr,
          CAST(QUARTER(o_orderdate) AS INT) AS qtr,
          COUNT(*) AS n_orders, ${sqlSum("o_totalprice", 2)} AS revenue
        FROM orders GROUP BY 1, 2, 3 ORDER BY month_start""")),

    // ----- q19: HAVING (post-aggregation filter).
    QueryDef(
      "q19_having",
      (s, d) => tb(s, d).orders
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice"), 2).as("spend"))
        .filter(col("n_orders") >= 15)
        .orderBy(col("o_custkey")),
      Some(s"""SELECT o_custkey, COUNT(*) AS n_orders,
          ${sqlSum("o_totalprice", 2)} AS spend
        FROM orders GROUP BY o_custkey
        HAVING COUNT(*) >= 15 ORDER BY o_custkey""")),

    // ----- q20: scalar subquery (global aggregate joined back).
    // Broadcast of the 1-row aggregate — no driver collect.
    QueryDef(
      "q20_above_average_parts",
      (s, d) => {
        val p = tb(s, d).part
        val avgPrice = p.agg(davg(col("p_retailprice"), 2).as("avg_price"))
        p.join(broadcast(avgPrice))
          .filter(col("p_retailprice") > col("avg_price"))
          .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
          .orderBy(col("p_partkey"))
      },
      Some(s"""SELECT p_partkey, p_name, p_retailprice FROM part
        WHERE p_retailprice > (SELECT ${sqlAvg("p_retailprice", 2)} FROM part)
        ORDER BY p_partkey""")),

    // ----- q21: semi-structured extraction from events.props JSON.
    // Spark side uses get_json_object (codegen'd); the oracle reaches
    // the same value via regexp to avoid DuckDB's JSON extension.
    QueryDef(
      "q21_events_json_extract",
      (s, d) => tb(s, d).events
        .withColumn("k", get_json_object(col("props"), "$.k").cast(IntegerType))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"),
          sum(col("k").cast(LongType)).as("sum_k"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type, COUNT(*) AS n_events,
          MIN(k) AS min_k, MAX(k) AS max_k, CAST(SUM(k) AS BIGINT) AS sum_k
        FROM (SELECT event_type,
                CAST(REGEXP_EXTRACT(props, '([0-9]+)', 1) AS INT) AS k
              FROM events)
        GROUP BY event_type ORDER BY event_type""")),

    // ----- q22: temporal bucketing over the events stream table
    // (batch view; the streaming twin is in streaming/).
    QueryDef(
      "q22_events_hourly",
      (s, d) => tb(s, d).events
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("sum_value"))
        .orderBy(col("hour_start"), col("event_type")),
      Some(s"""SELECT DATE_TRUNC('hour', ts) AS hour_start, event_type,
          COUNT(*) AS n, ${sqlSum("value", 2)} AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""")),

    // ----- q23: correlated-style per-group comparison via window
    // (parts above their type-average price) — window beats self-join
    // at scale (one shuffle instead of two).
    QueryDef(
      "q23_above_type_average",
      (s, d) => {
        val w = Window.partitionBy(col("p_type"))
        tb(s, d).part
          .withColumn("type_avg",
            sum(col("p_retailprice").cast(DecimalType(18, 2))).over(w)
              .cast(DoubleType) / count(lit(1)).over(w))
          .filter(col("p_retailprice") > col("type_avg"))
          .select(col("p_partkey"), col("p_type"), col("p_retailprice"),
            col("type_avg"))
          .orderBy(col("p_partkey"))
      },
      Some("""SELECT p_partkey, p_type, p_retailprice, type_avg FROM (
          SELECT p_partkey, p_type, p_retailprice,
            CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) OVER
              (PARTITION BY p_type) AS DOUBLE)
              / COUNT(*) OVER (PARTITION BY p_type) AS type_avg
          FROM part)
        WHERE p_retailprice > type_avg ORDER BY p_partkey""")),

    // ----- q24: lag/lead analytics over events per user.
    QueryDef(
      "q24_events_lag_lead",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        tb(s, d).events
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .withColumn("gap_us",
            unix_micros(col("ts").cast("timestamp"))
              - unix_micros(lag(col("ts"), 1).over(w).cast("timestamp")))
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("prev_type"), col("next_type"), col("gap_us"))
          .orderBy(col("user_id"), col("event_id"))
          .limit(2000)
      },
      Some("""SELECT user_id, event_id, event_type, prev_type, next_type,
          gap_us
        FROM (SELECT user_id, event_id, event_type, ts,
            LAG(event_type) OVER w AS prev_type,
            LEAD(event_type) OVER w AS next_type,
            EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) AS gap_us
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        ORDER BY user_id, event_id LIMIT 2000"""))
  )
}
