package graft.operators

import graft.{Exact, QueryDef, Tables}
import graft.TopK.topKPerKey
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Statistical aggregates, rank-distribution windows, and date
  * arithmetic — all built on the exact-decimal-sum algebra so the
  * moment-based statistics (variance, stddev, correlation) are
  * bit-identical across engines despite float non-associativity:
  * every Σx, Σx², Σxy is an exact DECIMAL sum; the closed-form
  * combination then runs in identically-ordered double arithmetic.
  */
object Analytics {
  import Exact._

  private def tb(s: org.apache.spark.sql.SparkSession, d: String) = new Tables(s, d)

  val queries: Seq[QueryDef] = Seq(

    // ----- q36: variance / stddev / correlation from exact moments.
    // (Spark's builtin stddev uses a streaming one-pass algorithm whose
    // result depends on partition order — the moment formulation is the
    // deterministic, scale-friendly alternative: one aggregation, all
    // map-side combinable.)
    QueryDef(
      "q36_stats_moments",
      (s, d) => tb(s, d).lineitem
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          dsum(col("l_quantity"), 2).as("sum_q"),
          dsum(col("l_quantity") * col("l_quantity"), 4).as("sum_q2"),
          dsum(col("l_extendedprice"), 2).as("sum_p"),
          dsum(col("l_extendedprice") * col("l_extendedprice"), 4).as("sum_p2"),
          dsum(col("l_quantity") * col("l_extendedprice"), 4).as("sum_qp"))
        .select(col("l_returnflag"), col("n"),
          (col("sum_q") / col("n")).as("mean_qty"),
          ((col("sum_q2") - col("sum_q") * col("sum_q") / col("n"))
            / (col("n") - lit(1))).as("var_qty"),
          sqrt((col("sum_q2") - col("sum_q") * col("sum_q") / col("n"))
            / (col("n") - lit(1))).as("stddev_qty"),
          ((col("sum_qp") - col("sum_q") * col("sum_p") / col("n"))
            / sqrt((col("sum_q2") - col("sum_q") * col("sum_q") / col("n"))
              * (col("sum_p2") - col("sum_p") * col("sum_p") / col("n"))))
            .as("corr_qty_price"))
        .orderBy(col("l_returnflag")),
      Some(s"""SELECT l_returnflag, n,
          sum_q / n AS mean_qty,
          (sum_q2 - sum_q * sum_q / n) / (n - 1) AS var_qty,
          sqrt((sum_q2 - sum_q * sum_q / n) / (n - 1)) AS stddev_qty,
          (sum_qp - sum_q * sum_p / n)
            / sqrt((sum_q2 - sum_q * sum_q / n)
                   * (sum_p2 - sum_p * sum_p / n)) AS corr_qty_price
        FROM (SELECT l_returnflag, COUNT(*) AS n,
            ${sqlSum("l_quantity", 2)} AS sum_q,
            ${sqlSum("l_quantity * l_quantity", 4)} AS sum_q2,
            ${sqlSum("l_extendedprice", 2)} AS sum_p,
            ${sqlSum("l_extendedprice * l_extendedprice", 4)} AS sum_p2,
            ${sqlSum("l_quantity * l_extendedprice", 4)} AS sum_qp
          FROM lineitem GROUP BY l_returnflag)
        ORDER BY l_returnflag""")),

    // ----- q37: rank-distribution window functions (all integer-
    // derived → exact): rank with ties, dense_rank, percent_rank,
    // cume_dist, ntile.
    QueryDef(
      "q37_rank_distribution",
      (s, d) => {
        val byPrice = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice"))
        val tiebroken = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        tb(s, d).orders
          .withColumn("rnk", rank().over(byPrice))
          .withColumn("drnk", dense_rank().over(byPrice))
          .withColumn("pct_rank", percent_rank().over(byPrice))
          .withColumn("cume", cume_dist().over(byPrice))
          .withColumn("quartile", ntile(4).over(tiebroken))
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice"), col("rnk"), col("drnk"),
            col("pct_rank"), col("cume"), col("quartile"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_orderpriority, o_totalprice,
          CAST(RANK() OVER w AS INT) AS rnk,
          CAST(DENSE_RANK() OVER w AS INT) AS drnk,
          PERCENT_RANK() OVER w AS pct_rank,
          CUME_DIST() OVER w AS cume,
          CAST(NTILE(4) OVER (PARTITION BY o_orderpriority
            ORDER BY o_totalprice, o_orderkey) AS INT) AS quartile
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
        ORDER BY o_orderkey""")),

    // ----- q38: date arithmetic — datediff, date_add, add_months
    // (end-of-month clamping agrees across engines), truncations.
    QueryDef(
      "q38_date_arithmetic",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
        tb(s, d).orders
          .withColumn("first_order_date", min(col("o_orderdate")).over(w))
          .select(col("o_orderkey"),
            to_date(col("o_orderdate")).as("order_date"),
            datediff(col("o_orderdate"), col("first_order_date"))
              .as("days_since_first"),
            date_add(to_date(col("o_orderdate")), 30).as("due_date"),
            to_date(add_months(col("o_orderdate"), 3)).as("quarter_later"),
            last_day(col("o_orderdate")).as("month_end"),
            dayofmonth(col("o_orderdate")).as("dom"))
          .orderBy(col("o_orderkey"))
          .limit(5000)
      },
      Some("""SELECT o_orderkey,
          CAST(o_orderdate AS DATE) AS order_date,
          CAST(DATEDIFF('day', MIN(o_orderdate) OVER (PARTITION BY o_custkey),
            o_orderdate) AS INT) AS days_since_first,
          CAST(o_orderdate AS DATE) + 30 AS due_date,
          CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS quarter_later,
          CAST(last_day(o_orderdate) AS DATE) AS month_end,
          CAST(dayofmonth(o_orderdate) AS INT) AS dom
        FROM orders
        ORDER BY o_orderkey LIMIT 5000""")),

    // ----- t05: native Generator UDTF — `ngrams(text, 3)` explodes
    // each document into positional word 3-grams inside the Generate
    // operator (no per-row intermediate array, unlike
    // explode(transform(...))).
    QueryDef(
      "t05_ngram_generator",
      (s, d) => {
        graft.functions.Generators.register(s)
        new Tables(s, d).documents
          .filter(col("doc_id") < 50)
          .select(col("doc_id"), expr("ngrams(text, 3)"))
          .orderBy(col("doc_id"), col("pos"))
      },
      Some("""SELECT doc_id, CAST(i - 1 AS INT) AS pos,
          toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS ngram
        FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
              FROM documents WHERE doc_id < 50),
             UNNEST(generate_series(1, len(toks) - 2)) AS u(i)
        ORDER BY doc_id, pos""")),

    // ----- q40: custom TypedImperativeAggregate — `top_k(value, 5)`
    // keeps a bounded k-element min-heap per group (constant memory,
    // map-side partial aggregation + heap merge), vs collect_list's
    // unbounded buffer. Output rendered as a DECIMAL-formatted string
    // so the array compares exactly across engines.
    QueryDef(
      "q40_topk_aggregate",
      (s, d) => {
        graft.functions.TopKAggregate.register(s)
        new Tables(s, d).lineitem
          .groupBy(col("l_returnflag"))
          .agg(expr("top_k(l_extendedprice, 5)").as("topk"))
          .select(col("l_returnflag"),
            concat_ws(";", expr(
              "transform(topk, x -> cast(cast(x as decimal(18,2)) as string))"))
              .as("top5_prices"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
          array_to_string(list_transform(
            (list(l_extendedprice ORDER BY l_extendedprice DESC))[1:5],
            x -> CAST(CAST(x AS DECIMAL(18,2)) AS VARCHAR)), ';')
            AS top5_prices
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ----- q41: boolean aggregates — every/any/count_if.
    QueryDef(
      "q41_boolean_aggregates",
      (s, d) => tb(s, d).orders
        .groupBy(col("o_orderpriority"))
        .agg(
          every(col("o_totalprice") > 1000).as("all_over_1k"),
          some(col("o_totalprice") > 400000).as("any_over_400k"),
          count_if(col("o_orderstatus") === "F").as("n_finished"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority")),
      Some("""SELECT o_orderpriority,
          BOOL_AND(o_totalprice > 1000) AS all_over_1k,
          BOOL_OR(o_totalprice > 400000) AS any_over_400k,
          CAST(COUNT_IF(o_orderstatus = 'F') AS BIGINT) AS n_finished,
          COUNT(*) AS n
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ----- q42: array functions over tokenized names (results sorted
    // and string-joined so ordering semantics can't diverge).
    QueryDef(
      "q42_array_functions",
      (s, d) => {
        val p = tb(s, d).part
          .withColumn("name_toks", split(col("p_name"), " "))
          .withColumn("type_toks", split(lower(col("p_type")), ""))
        p.select(col("p_partkey"),
            size(col("name_toks")).cast("long").as("n_toks"),
            array_contains(col("name_toks"), "red").as("has_red"),
            expr("array_join(array_sort(array_distinct(name_toks)), ',')")
              .as("distinct_sorted"),
            expr("array_join(slice(name_toks, 1, 1), ',')").as("first_tok"),
            expr("array_join(array_sort(array_intersect(name_toks, array('red','blue','green'))), ',')")
              .as("color_toks"))
          .orderBy(col("p_partkey"))
          .limit(1000)
      },
      Some("""SELECT p_partkey,
          CAST(len(name_toks) AS BIGINT) AS n_toks,
          list_contains(name_toks, 'red') AS has_red,
          array_to_string(list_sort(list_distinct(name_toks)), ',')
            AS distinct_sorted,
          array_to_string(name_toks[1:1], ',') AS first_tok,
          COALESCE(array_to_string(list_sort(list_intersect(name_toks,
            ['red','blue','green'])), ','), '') AS color_toks
        FROM (SELECT p_partkey, string_split(p_name, ' ') AS name_toks
              FROM part)
        ORDER BY p_partkey LIMIT 1000""")),

    // ----- q43: regexp functions (patterns restricted to syntax with
    // identical Java-regex / RE2 semantics).
    QueryDef(
      "q43_regexp_functions",
      (s, d) => tb(s, d).documents
        .select(col("doc_id"),
          col("text").rlike("hash (join|agg)").as("mentions_hash_op"),
          regexp_extract(col("text"), "(table|stream)", 1).as("first_kind"),
          size(expr("regexp_extract_all(text, 'scan', 0)")).cast("long")
            .as("n_scan"),
          regexp_replace(col("text"), "[aeiou]", "_").substr(1, 40)
            .as("devoweled_prefix"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
          regexp_matches(text, 'hash (join|agg)') AS mentions_hash_op,
          regexp_extract(text, '(table|stream)', 1) AS first_kind,
          CAST(len(regexp_extract_all(text, 'scan')) AS BIGINT) AS n_scan,
          substr(regexp_replace(text, '[aeiou]', '_', 'g'), 1, 40)
            AS devoweled_prefix
        FROM documents ORDER BY doc_id""")),

    // ----- q44: LEFT OUTER join producing NULL rows — every customer,
    // with their high-value orders if any; the `IS NULL` flag is the
    // classic left-join-as-anti-join idiom. At scale both sides shuffle
    // on custkey (the filtered orders side is small here, but grows
    // with the fact table — no broadcast assumption baked in).
    QueryDef(
      "q44_left_outer_join",
      (s, d) => {
        val t = tb(s, d)
        val big = t.orders.filter(col("o_totalprice") > 350000)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        t.customer
          .join(big, col("c_custkey") === col("o_custkey"), "left_outer")
          .select(col("c_custkey"), col("c_name"),
            col("o_orderkey").isNull.as("no_big_order"),
            col("o_orderkey"), col("o_totalprice"))
          .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)
      },
      Some("""SELECT c_custkey, c_name,
          o_orderkey IS NULL AS no_big_order, o_orderkey, o_totalprice
        FROM customer LEFT OUTER JOIN
          (SELECT o_custkey, o_orderkey, o_totalprice FROM orders
           WHERE o_totalprice > 350000) o
          ON c_custkey = o_custkey
        ORDER BY c_custkey, o_orderkey NULLS FIRST""")),

    // ----- q45: FULL OUTER join — per-customer finished vs open order
    // counts; customers appearing on only one side get NULL on the
    // other, and the key is COALESCEd back together. One shuffle per
    // aggregation + the join shuffle, all on o_custkey.
    QueryDef(
      "q45_full_outer_join",
      (s, d) => {
        val o = tb(s, d).orders
        val fin = o.filter(col("o_orderstatus") === "F")
          .groupBy(col("o_custkey").as("f_custkey"))
          .agg(count(lit(1)).as("n_finished"))
        val open = o.filter(col("o_orderstatus") === "O")
          .groupBy(col("o_custkey").as("p_custkey"))
          .agg(count(lit(1)).as("n_open"))
        fin.join(open, col("f_custkey") === col("p_custkey"), "full_outer")
          .select(
            coalesce(col("f_custkey"), col("p_custkey")).as("custkey"),
            col("n_finished"), col("n_open"))
          .orderBy(col("custkey"))
      },
      Some("""WITH fin AS (SELECT o_custkey, COUNT(*) AS n_finished
                FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey),
              op AS (SELECT o_custkey, COUNT(*) AS n_open
                FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey)
        SELECT COALESCE(fin.o_custkey, op.o_custkey) AS custkey,
          n_finished, n_open
        FROM fin FULL OUTER JOIN op ON fin.o_custkey = op.o_custkey
        ORDER BY custkey""")),

    // ----- q46: from_json → typed MapType + StructType over
    // events.props: map_keys / map_values / element_at /
    // map_contains_key, plus the struct field access. Values are read
    // through sorted keys so map iteration order can never diverge
    // between engines. Pure per-row projection — no shuffle at all.
    QueryDef(
      "q46_from_json_map",
      (s, d) => tb(s, d).events
        .withColumn("m", expr("from_json(props, 'map<string,bigint>')"))
        .withColumn("st", expr("from_json(props, 'struct<k:bigint>')"))
        .select(col("event_id"),
          size(col("m")).cast("long").as("n_props"),
          array_join(array_sort(map_keys(col("m"))), ",").as("prop_keys"),
          element_at(col("m"), "k").as("k_value"),
          col("st.k").as("k_typed"),
          expr("map_contains_key(m, 'k')").as("has_k"),
          concat_ws(",", expr(
            """transform(array_sort(map_keys(m)),
               kk -> cast(element_at(m, kk) as string))""")).as("vals_joined"))
        .orderBy(col("event_id")),
      Some("""SELECT event_id,
          CAST(len(json_keys(props)) AS BIGINT) AS n_props,
          array_to_string(list_sort(json_keys(props)), ',') AS prop_keys,
          CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
          CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_typed,
          list_contains(json_keys(props), 'k') AS has_k,
          array_to_string(list_transform(list_sort(json_keys(props)),
            kk -> json_extract_string(props, '$.' || kk)), ',') AS vals_joined
        FROM events ORDER BY event_id""")),

    // ----- q47: unpivot/melt (the inverse of q27's pivot) — wide
    // numeric columns to long (metric, val) rows. Narrow transform, no
    // shuffle; the oracle states the same relation as UNION ALL.
    QueryDef(
      "q47_unpivot",
      (s, d) => tb(s, d).part
        .select(col("p_partkey"),
          col("p_size").cast("double").as("p_size"),
          col("p_retailprice"))
        .unpivot(
          Array(col("p_partkey")),
          Array(col("p_size"), col("p_retailprice")),
          "metric", "val")
        .orderBy(col("p_partkey"), col("metric")),
      Some("""SELECT p_partkey, metric, val FROM (
          SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val
          FROM part
          UNION ALL
          SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val
          FROM part)
        ORDER BY p_partkey, metric""")),

    // ----- q48: map construction + transformation family —
    // map/transform_values/map_filter/map_entries/map_from_arrays.
    // Entries render through a sorted DECIMAL-formatted string so map
    // iteration order can never leak into the comparison. Pure per-row
    // projection, no shuffle.
    QueryDef(
      "q48_map_functions",
      (s, d) => tb(s, d).lineitem
        .filter(col("l_orderkey") <= 2000)
        .withColumn("m",
          expr("map('disc', l_discount, 'qty', l_quantity, 'tax', l_tax)"))
        .withColumn("m2",
          expr("transform_values(m, (k, v) -> IF(k = 'disc', v * 100, v))"))
        .withColumn("kept", expr("map_filter(m2, (k, v) -> v >= 1)"))
        .select(col("l_orderkey"), col("l_linenumber"),
          size(col("kept")).cast("long").as("n_kept"),
          expr("""array_join(array_sort(transform(map_entries(kept),
            e -> concat(e.key, '=',
              cast(cast(e.value as decimal(18,2)) as string)))), ';')""")
            .as("entries"),
          expr("""element_at(map_from_arrays(array('a', 'b'),
            array(l_linenumber, l_linenumber + 1)), 'b')""").cast("long")
            .as("b_val"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
      Some("""SELECT l_orderkey, l_linenumber,
          CAST(len(kept) AS BIGINT) AS n_kept,
          array_to_string(list_sort(kept), ';') AS entries,
          CAST(l_linenumber + 1 AS BIGINT) AS b_val
        FROM (SELECT l_orderkey, l_linenumber,
            list_filter([
              CASE WHEN l_discount * 100 >= 1 THEN 'disc=' ||
                CAST(CAST(l_discount * 100 AS DECIMAL(18,2)) AS VARCHAR)
                ELSE NULL END,
              CASE WHEN l_quantity >= 1 THEN 'qty=' ||
                CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR)
                ELSE NULL END,
              CASE WHEN l_tax >= 1 THEN 'tax=' ||
                CAST(CAST(l_tax AS DECIMAL(18,2)) AS VARCHAR)
                ELSE NULL END], x -> x IS NOT NULL) AS kept
          FROM lineitem WHERE l_orderkey <= 2000)
        ORDER BY l_orderkey, l_linenumber""")),

    // ----- q49: exact percentiles / median — Spark `percentile` and
    // DuckDB `quantile_cont` share the p·(n−1) rank + linear
    // interpolation definition; results route through DECIMAL(18,4)
    // before rendering so a 1-ulp interpolation difference can't
    // surface. NOTE the scale ceiling: exact percentile buffers every
    // value of a group, so at 100 TB the q54 approx_percentile sketch
    // (bounded t-digest buffers, mergeable map-side) is the plan; this
    // exact variant is its verification tier.
    QueryDef(
      "q49_percentiles",
      (s, d) => tb(s, d).lineitem
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75))")
            .as("pcts_raw"),
          expr("percentile(l_quantity, 0.5)").as("med_raw"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("n"),
          expr("""array_join(transform(pcts_raw,
            x -> cast(cast(x as decimal(18,4)) as string)), ';')""")
            .as("price_quartiles"),
          expr("cast(cast(med_raw as decimal(18,4)) as string)")
            .as("median_qty"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag, n,
          array_to_string(list_transform(pcts_raw,
            x -> CAST(CAST(x AS DECIMAL(18,4)) AS VARCHAR)), ';')
            AS price_quartiles,
          CAST(CAST(med_raw AS DECIMAL(18,4)) AS VARCHAR) AS median_qty
        FROM (SELECT l_returnflag,
            quantile_cont(l_extendedprice, [0.25, 0.5, 0.75]) AS pcts_raw,
            quantile_cont(l_quantity, 0.5) AS med_raw,
            COUNT(*) AS n
          FROM lineitem GROUP BY l_returnflag)
        ORDER BY l_returnflag""")),

    // ----- q50: RANGE JOIN (point-in-preceding-interval) done the
    // 100 TB way: a naive non-equi time-range join plans as a nested-
    // loop cross product, so the probe side explodes to TWO coarse
    // 10-minute epoch buckets and the join becomes an EQUI join on the
    // bucket key + a fine residual filter — candidate pairs are
    // bounded by events-per-bucket, shuffle is hash on the bucket.
    // The oracle states the same relation as the plain non-equi join.
    QueryDef(
      "q50_range_join_bucketed",
      (s, d) => {
        val ev = tb(s, d).events
          .select(col("event_id"), col("user_id"), col("ts"),
            expr("unix_micros(ts) div 600000000").as("bucket"))
        val probes = ev
          .select(col("event_id").as("a_id"), col("ts").as("a_ts"),
            explode(expr("array(bucket - 1, bucket)")).as("probe"))
        val counts = probes
          .join(ev.select(col("event_id").as("b_id"), col("ts").as("b_ts"),
            col("bucket")),
            col("probe") === col("bucket")
              && col("b_ts") < col("a_ts")
              && col("b_ts") >= col("a_ts") - expr("INTERVAL 10 MINUTES"))
          .groupBy(col("a_id")).agg(count(lit(1)).as("n_prior"))
        ev.select(col("event_id"), col("user_id"))
          .join(counts, col("event_id") === col("a_id"), "left_outer")
          .select(col("event_id"), col("user_id"),
            coalesce(col("n_prior"), lit(0L)).as("n_prior_10m"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT e.event_id, e.user_id,
          COALESCE(c.n, 0) AS n_prior_10m
        FROM events e LEFT JOIN (
          SELECT a.event_id, COUNT(*) AS n
          FROM events a JOIN events b
            ON b.ts < a.ts AND b.ts >= a.ts - INTERVAL 10 MINUTE
          GROUP BY a.event_id) c ON c.event_id = e.event_id
        ORDER BY e.event_id""")),

    // ----- q51: correlated LATERAL subquery (top-1 lineitem per
    // order), issued through the spark.sql SURFACE — the same text
    // runs in both engines. Catalyst decorrelates the per-row
    // ORDER BY/LIMIT into a window + filter over one join; nothing
    // executes per-row.
    QueryDef(
      "q51_lateral_topk",
      (s, d) => {
        val t = tb(s, d)
        t.orders.createOrReplaceTempView("orders")
        t.lineitem.createOrReplaceTempView("lineitem")
        s.sql("""SELECT o.o_orderkey, o.o_totalprice,
            t.l_linenumber, t.l_extendedprice
          FROM orders o, LATERAL (
            SELECT l_linenumber, l_extendedprice FROM lineitem
            WHERE l_orderkey = o.o_orderkey
            ORDER BY l_extendedprice DESC, l_linenumber LIMIT 1) t
          WHERE o.o_orderkey <= 2000
          ORDER BY o.o_orderkey""")
      },
      Some("""SELECT o.o_orderkey, o.o_totalprice,
          t.l_linenumber, t.l_extendedprice
        FROM orders o, LATERAL (
          SELECT l_linenumber, l_extendedprice FROM lineitem
          WHERE l_orderkey = o.o_orderkey
          ORDER BY l_extendedprice DESC, l_linenumber LIMIT 1) t
        WHERE o.o_orderkey <= 2000
        ORDER BY o.o_orderkey""")),

    // ----- q52: NULL-SAFE equality join (Catalyst `EqualNullSafe`,
    // `<=>`): keys made nullable via NULLIF self-join back to the same
    // relation — the NULL-keyed group must match ITSELF (NULL <=> NULL
    // is true, unlike `=`), so every group survives with its count
    // doubled-joined. The equi-join planner treats <=> as a hashable
    // key, so this still plans as a hash join, not a nested loop.
    QueryDef(
      "q52_null_safe_join",
      (s, d) => {
        val grouped = tb(s, d).events
          .groupBy(expr("nullif(event_type, 'click')").as("et"))
          .agg(count(lit(1)).as("n"))
        grouped.as("a")
          .join(grouped.as("b"), col("a.et") <=> col("b.et"))
          .select(col("a.et").as("event_type_or_null"),
            col("a.n").as("n_a"), col("b.n").as("n_b"))
          .orderBy(col("event_type_or_null").asc_nulls_first)
      },
      Some("""WITH g AS (SELECT NULLIF(event_type, 'click') AS et,
                COUNT(*) AS n
              FROM events GROUP BY 1)
        SELECT a.et AS event_type_or_null, a.n AS n_a, b.n AS n_b
        FROM g a JOIN g b ON a.et IS NOT DISTINCT FROM b.et
        ORDER BY event_type_or_null NULLS FIRST""")),

    // ----- q53: to_json rendering of typed structs — both engines
    // emit compact JSON ({"k":v}, no spaces); fields restricted to
    // ints and strings where the two serializers are byte-identical.
    QueryDef(
      "q53_to_json",
      (s, d) => tb(s, d).orders
        .select(col("o_orderkey"),
          expr("""to_json(named_struct(
            'id', o_orderkey, 'prio', o_orderpriority,
            'status', o_orderstatus))""").as("j"))
        .orderBy(col("o_orderkey"))
        .limit(3000),
      Some("""SELECT o_orderkey,
          to_json(struct_pack(id := o_orderkey, prio := o_orderpriority,
            status := o_orderstatus))::VARCHAR AS j
        FROM orders ORDER BY o_orderkey LIMIT 3000""")),

    // ----- q54: approx_percentile — the SCALE path for q49's exact
    // percentiles: a bounded mergeable sketch instead of buffering
    // every group value. Like q30, the oracle checks a deterministic
    // property (the approximation lands within 2% of DuckDB's exact
    // quantile) rather than sketch internals.
    QueryDef(
      "q54_approx_percentile",
      (s, d) => tb(s, d).lineitem
        .groupBy(col("l_returnflag"))
        .agg(
          expr("approx_percentile(l_extendedprice, 0.5, 10000)")
            .as("approx_med"),
          expr("percentile(l_extendedprice, 0.5)").as("exact_med"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("n"),
          expr("cast(cast(exact_med as decimal(18,4)) as string)")
            .as("exact_median"),
          (abs(col("approx_med") - col("exact_med")) <
            col("exact_med") * 0.02).as("approx_within_2pct"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag, COUNT(*) AS n,
          CAST(CAST(quantile_cont(l_extendedprice, 0.5) AS DECIMAL(18,4))
            AS VARCHAR) AS exact_median,
          TRUE AS approx_within_2pct
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ----- q55: FILTER clauses on aggregates — per-group conditional
    // aggregation without self-joins or CASE pyramids; each filtered
    // aggregate is still one map-side-combinable buffer in the same
    // single shuffle.
    QueryDef(
      "q55_filtered_aggregates",
      (s, d) => {
        val t = tb(s, d)
        t.orders.createOrReplaceTempView("orders")
        s.sql("""SELECT o_orderpriority,
            COUNT(*) AS n,
            COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
            COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
            CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              AS STRING) AS DOUBLE) AS sum_all,
            CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              FILTER (WHERE o_orderstatus = 'O') AS STRING) AS DOUBLE)
              AS sum_open
          FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")
      },
      Some(s"""SELECT o_orderpriority,
          COUNT(*) AS n,
          COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
          COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
          ${Exact.sqlSum("o_totalprice", 2)} AS sum_all,
          CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            FILTER (WHERE o_orderstatus = 'O') AS VARCHAR) AS DOUBLE)
            AS sum_open
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ----- q56: GROUPING()/grouping_id() — disambiguating real NULL
    // group keys from rollup subtotal rows, the thing q15's plain
    // rollup can't express.
    QueryDef(
      "q56_grouping_id",
      (s, d) => tb(s, d).orders
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          grouping(col("o_orderstatus")).cast("long").as("g_status"),
          grouping(col("o_orderpriority")).cast("long").as("g_prio"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
      Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
          CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
          CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
          CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
            AS BIGINT) AS gid
        FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        ORDER BY gid, o_orderstatus NULLS FIRST,
          o_orderpriority NULLS FIRST""")),

    // ----- q57: VariantType (Spark 4's semi-structured type) —
    // parse_json → VARIANT, typed variant_get extraction, and the
    // to_json canonical re-rendering (both engines minify), the
    // shred-on-read path for heterogeneous event payloads.
    QueryDef(
      "q57_variant",
      (s, d) => tb(s, d).events
        .select(col("event_id"),
          expr("variant_get(parse_json(props), '$.k', 'bigint')")
            .as("k_big"),
          expr("variant_get(parse_json(props), '$.k', 'double')")
            .as("k_dbl"),
          expr("variant_get(parse_json(props), '$.missing', 'bigint')")
            .as("absent"),
          expr("to_json(parse_json(props))").as("canonical"))
        .orderBy(col("event_id")),
      Some("""SELECT event_id,
          CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_big,
          CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k_dbl,
          CAST(NULL AS BIGINT) AS absent,
          to_json(props::JSON)::VARCHAR AS canonical
        FROM events ORDER BY event_id""")),

    // ----- q58: ordered string aggregation — Spark 4's `listagg ...
    // WITHIN GROUP (ORDER BY …)` against DuckDB's ordered string_agg.
    // The explicit ORDER BY inside the aggregate is what makes a
    // concatenation deterministic under parallel partial aggregation.
    QueryDef(
      "q58_listagg",
      (s, d) => {
        val t = tb(s, d)
        t.customer.createOrReplaceTempView("customer")
        t.nation.createOrReplaceTempView("nation")
        s.sql("""SELECT n_name,
            COUNT(*) AS n_customers,
            listagg(c_mktsegment, ';')
              WITHIN GROUP (ORDER BY c_mktsegment) AS segments,
            listagg(DISTINCT c_mktsegment, ';')
              WITHIN GROUP (ORDER BY c_mktsegment) AS distinct_segments
          FROM customer JOIN nation ON c_nationkey = n_nationkey
          WHERE c_custkey <= 200
          GROUP BY n_name ORDER BY n_name""")
      },
      Some("""SELECT n_name,
          COUNT(*) AS n_customers,
          string_agg(c_mktsegment, ';' ORDER BY c_mktsegment) AS segments,
          string_agg(DISTINCT c_mktsegment, ';' ORDER BY c_mktsegment)
            AS distinct_segments
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE c_custkey <= 200
        GROUP BY n_name ORDER BY n_name""")),

    // ----- q59: BATCH sessionization (gaps-and-islands) — the exact
    // semantics of st03's streaming session window, composed from lag
    // + conditional flag + running sum: one shuffle on user_id, both
    // windows share the same (user_id, ts) sort. This is the batch
    // backfill twin every streaming sessionizer needs.
    QueryDef(
      "q59_sessionize_batch",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        tb(s, d).events
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn("new_sess",
            when(col("prev_ts").isNull ||
              unix_micros(col("ts")) - unix_micros(col("prev_ts"))
                > 1800000000L, 1L)
              .otherwise(0L))
          .withColumn("sess_id", sum(col("new_sess")).over(wRun))
          .groupBy(col("user_id"), col("sess_id"))
          .agg(count(lit(1)).as("n_events"),
            min(col("ts")).as("sess_start"), max(col("ts")).as("sess_end"))
          .orderBy(col("user_id"), col("sess_id"))
      },
      Some("""WITH marked AS (
          SELECT user_id, event_id, ts,
            CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                 THEN 1 ELSE 0 END AS new_sess
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        SELECT user_id, sess_id, COUNT(*) AS n_events,
          MIN(ts) AS sess_start, MAX(ts) AS sess_end
        FROM (SELECT user_id, ts,
                CAST(SUM(new_sess) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
              FROM marked)
        GROUP BY user_id, sess_id ORDER BY user_id, sess_id""")),

    // ----- q60: error-safe arithmetic — try_divide / try_cast return
    // NULL instead of failing, the contract dirty-data pipelines rely
    // on (DuckDB twins: x / NULLIF(y, 0), TRY_CAST).
    QueryDef(
      "q60_try_functions",
      (s, d) => tb(s, d).lineitem
        .filter(col("l_orderkey") <= 2000)
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("try_divide(l_extendedprice, l_quantity - l_quantity)")
            .as("div_by_zero"),
          expr("try_divide(l_extendedprice, l_quantity)").as("unit_price"),
          expr("try_cast(l_returnflag as int)").as("bad_cast"),
          expr("try_cast(cast(l_linenumber as string) as int)")
            .as("good_cast"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
      Some("""SELECT l_orderkey, l_linenumber,
          l_extendedprice / NULLIF(l_quantity - l_quantity, 0.0)
            AS div_by_zero,
          l_extendedprice / l_quantity AS unit_price,
          TRY_CAST(l_returnflag AS INT) AS bad_cast,
          TRY_CAST(CAST(l_linenumber AS VARCHAR) AS INT) AS good_cast
        FROM lineitem WHERE l_orderkey <= 2000
        ORDER BY l_orderkey, l_linenumber""")),

    // ----- q61: bitwise scalar ops + bit aggregates (bit_and/bit_or/
    // bit_xor) — all integer-exact, map-side combinable.
    QueryDef(
      "q61_bitwise",
      (s, d) => tb(s, d).orders
        .groupBy(col("o_orderpriority"))
        .agg(
          expr("bit_and(o_orderkey % 256)").as("key_and"),
          expr("bit_or(o_orderkey % 256)").as("key_or"),
          expr("bit_xor(o_orderkey % 256)").as("key_xor"),
          expr("bit_count(bit_or(o_orderkey % 256))").cast("long")
            .as("or_popcount"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority")),
      Some("""SELECT o_orderpriority,
          BIT_AND(o_orderkey % 256) AS key_and,
          BIT_OR(o_orderkey % 256) AS key_or,
          BIT_XOR(o_orderkey % 256) AS key_xor,
          CAST(bit_count(BIT_OR(o_orderkey % 256)) AS BIGINT)
            AS or_popcount,
          COUNT(*) AS n
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ----- q62: CORRELATED SCALAR subqueries in the SELECT list —
    // Catalyst decorrelates each into a left outer join against a
    // pre-aggregated subquery (no per-row execution), the complement
    // of q51's LATERAL and q20's uncorrelated scalar.
    QueryDef(
      "q62_correlated_scalar",
      (s, d) => {
        val t = tb(s, d)
        t.orders.createOrReplaceTempView("orders")
        t.lineitem.createOrReplaceTempView("lineitem")
        s.sql("""SELECT o_orderkey, o_totalprice,
            (SELECT COUNT(*) FROM lineitem
             WHERE l_orderkey = o_orderkey) AS n_items,
            (SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
               AS STRING) AS DOUBLE)
             FROM lineitem WHERE l_orderkey = o_orderkey) AS items_total
          FROM orders WHERE o_orderkey <= 2000
          ORDER BY o_orderkey""")
      },
      Some("""SELECT o_orderkey, o_totalprice,
          (SELECT COUNT(*) FROM lineitem
           WHERE l_orderkey = o_orderkey) AS n_items,
          (SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
             AS VARCHAR) AS DOUBLE)
           FROM lineitem WHERE l_orderkey = o_orderkey) AS items_total
        FROM orders WHERE o_orderkey <= 2000
        ORDER BY o_orderkey""")),

    // ----- q63: INTERSECT ALL / EXCEPT ALL — multiset semantics
    // (min / difference of multiplicities), a different physical
    // operator from the DISTINCT set ops in q12/q13: planned as an
    // aggregate on counts per row value, not a semi/anti join.
    QueryDef(
      "q63_set_ops_all",
      (s, d) => {
        val t = tb(s, d)
        val r = t.lineitem.filter(col("l_returnflag") === "R")
          .select(col("l_partkey"))
        val a = t.lineitem.filter(col("l_returnflag") === "A")
          .select(col("l_partkey"))
        r.intersectAll(a)
          .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_common"))
          .join(r.exceptAll(a)
            .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_r_only")),
            Seq("l_partkey"), "full_outer")
          .select(col("l_partkey"),
            coalesce(col("n_common"), lit(0L)).as("n_common"),
            coalesce(col("n_r_only"), lit(0L)).as("n_r_only"))
          .orderBy(col("l_partkey"))
      },
      Some("""WITH r AS (SELECT l_partkey FROM lineitem
                WHERE l_returnflag = 'R'),
          a AS (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'),
          ia AS (SELECT l_partkey, COUNT(*) AS n_common
                 FROM (SELECT * FROM r INTERSECT ALL SELECT * FROM a)
                 GROUP BY l_partkey),
          ea AS (SELECT l_partkey, COUNT(*) AS n_r_only
                 FROM (SELECT * FROM r EXCEPT ALL SELECT * FROM a)
                 GROUP BY l_partkey)
        SELECT COALESCE(ia.l_partkey, ea.l_partkey) AS l_partkey,
          COALESCE(n_common, 0) AS n_common,
          COALESCE(n_r_only, 0) AS n_r_only
        FROM ia FULL OUTER JOIN ea ON ia.l_partkey = ea.l_partkey
        ORDER BY l_partkey""")),

    // ----- q65: IGNORE NULLS window fills — forward-fill (last
    // non-null so far) and backward-fill (next non-null), the gap-fill
    // primitive every sensor/event pipeline needs. Purchase rows carry
    // a value; other event types are NULL-masked, then filled from
    // neighbors. Frames are explicit so both engines skip nulls over
    // the identical row set; (ts, event_id) ordering is total.
    QueryDef(
      "q65_window_ignore_nulls",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val wFwd = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wBwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        tb(s, d).events
          .filter(col("user_id") <= 200)
          .withColumn("v",
            when(col("event_type") === "purchase", col("value")))
          .withColumn("fill_fwd", last(col("v"), ignoreNulls = true).over(wFwd))
          .withColumn("fill_bwd", first(col("v"), ignoreNulls = true).over(wBwd))
          .select(col("user_id"), col("event_id"), col("v"),
            col("fill_fwd"), col("fill_bwd"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""SELECT user_id, event_id, v,
          LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id
            ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fill_fwd,
          FIRST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id
            ORDER BY ts, event_id
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fill_bwd
        FROM (SELECT user_id, event_id, ts,
                CASE WHEN event_type = 'purchase' THEN value END AS v
              FROM events WHERE user_id <= 200)
        ORDER BY user_id, event_id""")),

    // ----- q66: latest-record-per-key compaction — the batch twin of
    // CDC "keep the newest version" and of st04's streaming dedup: one
    // row per user, chosen by (ts, event_id) descending. Planned as a
    // single shuffle on user_id + rank filter (no self-join against a
    // max-ts aggregate).
    QueryDef(
      "q66_latest_per_key",
      (s, d) => {
        topKPerKey(tb(s, d).events, Seq(col("user_id")),
            Seq(col("ts").desc, col("event_id").desc), 1, "rn")
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("value"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, event_id, event_type, value
        FROM events
        QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
          ORDER BY ts DESC, event_id DESC) = 1
        ORDER BY user_id""")),

    // ----- q67: calendar-spine gap fill — generate the complete day
    // range (sequence + explode; the corpus-wide min/max bound it),
    // left-join sparse daily facts onto it, zero-fill the gaps. The
    // canonical "dense time series from sparse events" op; the spine
    // generation is a 1-row cross join, never a shuffle.
    QueryDef(
      "q67_calendar_spine",
      (s, d) => {
        val ev = tb(s, d).events
        val bounds = ev.agg(to_date(min(col("ts"))).as("d0"),
          to_date(max(col("ts"))).as("d1"))
        val spine = bounds.select(explode(expr(
          "sequence(d0, d1, interval 1 day)")).as("day"))
        val daily = ev
          .filter(col("event_type") === "purchase" && col("user_id") <= 3)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n_purchases"),
            dsum(col("value"), 2).as("revenue"))
        spine.join(daily, Seq("day"), "left")
          .select(col("day"),
            coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
            coalesce(col("revenue"), lit(0.0d)).as("revenue"))
          .orderBy(col("day"))
      },
      Some(s"""WITH bounds AS (
          SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
          FROM events),
        spine AS (SELECT CAST(unnest(generate_series(d0, d1,
            INTERVAL 1 DAY)) AS DATE) AS day FROM bounds),
        daily AS (SELECT CAST(ts AS DATE) AS day,
            COUNT(*) AS n_purchases,
            ${sqlSum("value", 2)} AS revenue
          FROM events
          WHERE event_type = 'purchase' AND user_id <= 3
          GROUP BY 1)
        SELECT spine.day,
          COALESCE(n_purchases, 0) AS n_purchases,
          COALESCE(revenue, 0.0) AS revenue
        FROM spine LEFT JOIN daily ON spine.day = daily.day
        ORDER BY spine.day""")),

    // ----- q68: event funnel via lead — view followed by purchase
    // within 30 minutes, per user. One shuffle on user_id; the
    // adjacent-pair construction is a window, not a self-join (the
    // self-join formulation explodes quadratically on active users).
    QueryDef(
      "q68_funnel_lead",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        tb(s, d).events
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .withColumn("next_ts", lead(col("ts"), 1).over(w))
          .filter(col("event_type") === "view"
            && col("next_type") === "purchase"
            && unix_micros(col("next_ts")) - unix_micros(col("ts"))
              <= 1800000000L)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_conversions"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, COUNT(*) AS n_conversions
        FROM (SELECT user_id, event_type, ts,
                LEAD(event_type) OVER w AS next_type,
                LEAD(ts) OVER w AS next_ts
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        WHERE event_type = 'view' AND next_type = 'purchase'
          AND epoch_us(next_ts) - epoch_us(ts) <= 1800000000
        GROUP BY user_id ORDER BY user_id""")),

    // ----- q69: COHORT RETENTION — the product-analytics matrix:
    // users grouped by first-activity week (the cohort), retention =
    // share of each cohort active again k weeks later. Three hash
    // aggregations — (user, week) distinct, per-user min, per-(cohort,
    // offset) count — all shuffling on user_id or the tiny cohort key;
    // the cohort-size join broadcasts (one row per week). No window,
    // no self-join: at 100 TB the cost is the (user, week) distinct,
    // which partial-aggregates map-side to ~|users|·|weeks| rows.
    QueryDef(
      "q69_cohort_retention",
      (s, d) => {
        val userWeeks = tb(s, d).events
          .select(col("user_id"),
            date_trunc("week", col("ts")).cast("date").as("wk"))
          .distinct()
        val cohorts = userWeeks.groupBy(col("user_id"))
          .agg(min(col("wk")).as("cohort_wk"))
        val sizes = cohorts.groupBy(col("cohort_wk"))
          .agg(count(lit(1)).as("n_cohort"))
        userWeeks.join(cohorts, "user_id")
          .withColumn("week_offset",
            expr("datediff(wk, cohort_wk) div 7").cast("int"))
          .groupBy(col("cohort_wk"), col("week_offset"))
          .agg(count(lit(1)).as("n_active"))
          .join(broadcast(sizes), "cohort_wk")
          .select(col("cohort_wk"), col("week_offset"),
            col("n_active"), col("n_cohort"),
            (col("n_active").cast("double") / col("n_cohort"))
              .as("retention"))
          .orderBy(col("cohort_wk"), col("week_offset"))
      },
      Some("""WITH uw AS (SELECT DISTINCT user_id,
            CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
        coh AS (SELECT user_id, MIN(wk) AS cohort_wk FROM uw GROUP BY 1),
        sizes AS (SELECT cohort_wk, COUNT(*) AS n_cohort FROM coh
                  GROUP BY 1),
        m AS (SELECT c.cohort_wk,
            (uw.wk - c.cohort_wk) // 7 AS week_offset,
            COUNT(*) AS n_active
          FROM uw JOIN coh c USING (user_id) GROUP BY 1, 2)
        SELECT m.cohort_wk, CAST(m.week_offset AS INT) AS week_offset,
          CAST(m.n_active AS BIGINT) AS n_active,
          CAST(s.n_cohort AS BIGINT) AS n_cohort,
          CAST(m.n_active AS DOUBLE) / s.n_cohort AS retention
        FROM m JOIN sizes s USING (cohort_wk)
        ORDER BY m.cohort_wk, m.week_offset""")),

    // ----- q70: SKEW DIAGNOSTICS — the measurement that decides
    // whether a join needs salting BEFORE it straggles: per-key group
    // sizes, the max/mean skew ratio, and the 3 hottest keys. One
    // hash aggregation on the key + a global TakeOrdered(3) — the
    // 1×1 scalar combine at the end is the only cross join (labeled).
    // At 100 TB this runs as a cheap pre-flight over the same scan
    // the real join will do; skew_ratio ≫ 1 → salt that key.
    QueryDef(
      "q70_skew_stats",
      (s, d) => {
        val counts = tb(s, d).orders
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
        counts.orderBy(col("cnt").desc, col("o_custkey")).limit(3)
          .createOrReplaceTempView("q70_hot")
        val hot = s.sql("""SELECT
            listagg(concat(o_custkey, ':', cnt), ';')
              WITHIN GROUP (ORDER BY cnt DESC, o_custkey) AS hottest
          FROM q70_hot""")
        counts.agg(
            count(lit(1)).as("n_keys"),
            max(col("cnt")).as("max_cnt"),
            sum(col("cnt")).as("n_rows"))
          .crossJoin(hot) // 1x1 scalar combine
          .select(col("n_keys"), col("max_cnt"), col("n_rows"),
            ((col("max_cnt") * col("n_keys")).cast("double")
              / col("n_rows")).as("skew_ratio"),
            col("hottest"))
      },
      Some("""WITH counts AS (
          SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY 1),
        hot AS (SELECT string_agg(o_custkey || ':' || cnt, ';'
              ORDER BY cnt DESC, o_custkey) AS hottest
            FROM (SELECT * FROM counts
                  ORDER BY cnt DESC, o_custkey LIMIT 3)),
        stats AS (SELECT COUNT(*) AS n_keys, MAX(cnt) AS max_cnt,
            CAST(SUM(cnt) AS BIGINT) AS n_rows FROM counts)
        SELECT n_keys, CAST(max_cnt AS BIGINT) AS max_cnt, n_rows,
          CAST(max_cnt * n_keys AS DOUBLE) / n_rows AS skew_ratio,
          hottest
        FROM stats, hot""")),

    // ----- q71: MERGEABLE DISTINCT-COUNT SKETCHES — the DataSketches
    // HLL family (hll_sketch_agg / hll_union_agg / estimate), which
    // covers the re-aggregation story q30's approx_count_distinct
    // can't: per-group sketches are built ONCE, persisted, and later
    // UNIONED across groups/days/partitions without re-touching raw
    // data — the nightly "distinct users per segment AND overall"
    // rollup at 100 TB, where the raw column is petabytes but each
    // sketch is ~KBs. The `_all` row is computed purely by merging
    // the per-type sketches. Estimates are sketch-accurate, so the
    // gated output carries the exact count plus a within-5%% bound
    // bit (q30's discipline) — hash-stable at every scale factor
    // while still proving the sketch path end-to-end.
    QueryDef(
      "q71_hll_sketch_distinct",
      (s, d) => {
        val e = tb(s, d).events
        val byType = e.groupBy(col("event_type"))
          .agg(hll_sketch_agg(col("user_id")).as("sk"),
            countDistinct(col("user_id")).as("exact_users"))
        val perType = byType.select(col("event_type"), col("exact_users"),
          (abs(hll_sketch_estimate(col("sk")) - col("exact_users"))
            <= col("exact_users").cast("double") * 0.05)
            .as("sketch_within_5pct"))
        val overall = byType
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
          .crossJoin(e.agg( // 1x1 scalar combine
            countDistinct(col("user_id")).as("exact_users")))
          .select(lit("_all").as("event_type"), col("exact_users"),
            (abs(col("est") - col("exact_users"))
              <= col("exact_users").cast("double") * 0.05)
              .as("sketch_within_5pct"))
        perType.unionByName(overall).orderBy(col("event_type"))
      },
      Some("""SELECT event_type,
          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
          TRUE AS sketch_within_5pct
        FROM events GROUP BY event_type
        UNION ALL
        SELECT '_all', CAST(COUNT(DISTINCT user_id) AS BIGINT), TRUE
        FROM events
        ORDER BY event_type""")),

    // ----- q72: RECURSIVE CTE (Spark 4's WITH RECURSIVE → iterative
    // UnionLoop execution) — walk a hierarchy derived from the nation
    // table (node k's parent is (k-1) div 2, a complete binary tree
    // over the 25 nations), computing each node's depth and
    // root-to-node path. The per-iteration step is a JOIN against the
    // previous frontier: exactly the shape of an org-chart / BOM
    // explosion, and the declarative twin of d07's hand-rolled
    // label-propagation loop.
    // Scale: each iteration joins the (small) frontier against the
    // dimension — broadcast per level, depth = log n levels.
    QueryDef(
      "q72_recursive_hierarchy",
      (s, d) => {
        tb(s, d).nation.createOrReplaceTempView("nation")
        s.sql("""WITH RECURSIVE chain AS (
            SELECT n_nationkey AS k, n_name AS name, 0 AS depth,
                   CAST(n_name AS STRING) AS path
            FROM nation WHERE n_nationkey = 0
            UNION ALL
            SELECT n.n_nationkey, n.n_name, c.depth + 1,
                   concat(c.path, '>', n.n_name)
            FROM nation n JOIN chain c
              ON n.n_nationkey > 0 AND (n.n_nationkey - 1) div 2 = c.k)
          SELECT k, name, depth, path FROM chain ORDER BY k""")
      },
      Some("""WITH RECURSIVE chain AS (
          SELECT n_nationkey AS k, n_name AS name, 0 AS depth,
                 CAST(n_name AS VARCHAR) AS path
          FROM nation WHERE n_nationkey = 0
          UNION ALL
          SELECT n.n_nationkey, n.n_name, c.depth + 1,
                 c.path || '>' || n.n_name
          FROM nation n JOIN chain c
            ON n.n_nationkey > 0 AND (n.n_nationkey - 1) // 2 = c.k)
        SELECT k, name, depth, path FROM chain ORDER BY k""")),

    // ----- q73: CDC MERGE — apply a change-set (inserts / updates /
    // deletes) to a snapshot, the MERGE INTO shape without a table
    // format: ONE full-outer join on the key decides every row's fate
    // (matched+U → new values, matched+D → drop, unmatched change →
    // insert, unmatched snapshot → carry over). The change-set is
    // derived deterministically from the snapshot itself (key mod
    // classes) so the oracle can re-derive it.
    // Scale: the single key-shuffle join IS the cost; with the
    // snapshot bucket-written on the key (w02) its side is
    // exchange-free, and the change-set (a day's CDC) is typically
    // broadcastable.
    QueryDef(
      "q73_cdc_merge",
      (s, d) => {
        val snap = tb(s, d).orders
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"))
        val updates = snap.filter(col("o_orderkey") % 100 < 10)
          .select(col("o_orderkey").as("c_key"),
            (col("o_totalprice") + lit(1000.0)).as("c_price"),
            lit("U").as("op"))
        val deletes = snap
          .filter(col("o_orderkey") % 100 >= 10
            && col("o_orderkey") % 100 < 15)
          .select(col("o_orderkey").as("c_key"),
            lit(null).cast("double").as("c_price"), lit("D").as("op"))
        val inserts = snap
          .filter(col("o_orderkey") % 100 >= 15
            && col("o_orderkey") % 100 < 18)
          .select((col("o_orderkey") + lit(10000000L)).as("c_key"),
            col("o_totalprice").as("c_price"), lit("I").as("op"))
        val changes = updates.unionByName(deletes).unionByName(inserts)
        snap.join(changes, col("o_orderkey") === col("c_key"),
            "full_outer")
          .filter(coalesce(col("op"), lit("")) =!= "D")
          .select(
            coalesce(col("o_orderkey"), col("c_key")).as("key"),
            coalesce(col("c_price"), col("o_totalprice")).as("price"),
            coalesce(col("op"), lit("=")).as("row_source"))
          .filter(col("key") <= 3000)
          .orderBy(col("key"))
      },
      Some("""WITH snap AS (
          SELECT o_orderkey, o_totalprice FROM orders),
        changes AS (
          SELECT o_orderkey AS c_key, o_totalprice + 1000.0 AS c_price,
            'U' AS op FROM snap WHERE o_orderkey % 100 < 10
          UNION ALL
          SELECT o_orderkey, CAST(NULL AS DOUBLE), 'D' FROM snap
          WHERE o_orderkey % 100 >= 10 AND o_orderkey % 100 < 15
          UNION ALL
          SELECT o_orderkey + 10000000, o_totalprice, 'I' FROM snap
          WHERE o_orderkey % 100 >= 15 AND o_orderkey % 100 < 18)
        SELECT coalesce(o_orderkey, c_key) AS key,
          coalesce(c_price, o_totalprice) AS price,
          coalesce(op, '=') AS row_source
        FROM snap FULL OUTER JOIN changes ON o_orderkey = c_key
        WHERE coalesce(op, '') <> 'D' AND coalesce(o_orderkey, c_key) <= 3000
        ORDER BY key""")),

    // ----- q74: SCD TYPE-2 INTERVALS — version a per-user attribute
    // (the user's current event_type) into [valid_from, valid_to)
    // validity ranges: collapse consecutive same-value events
    // (gaps-and-islands grouping, q59's discipline), then lead() the
    // next island's start as this one's expiry; the open interval is
    // the current version. The dimension-table build every warehouse
    // runs nightly.
    // Scale: one shuffle on user_id; both windows share that
    // partitioning, so the exchange is paid once.
    QueryDef(
      "q74_scd2_intervals",
      (s, d) => {
        val wOrd = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val wIsland = Window.partitionBy(col("user_id"))
          .orderBy(col("valid_from"))
        tb(s, d).events
          .filter(col("user_id") < 30)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .withColumn("changed",
            when(lag(col("event_type"), 1).over(wOrd)
              === col("event_type"), 0).otherwise(1))
          .withColumn("island",
            sum(col("changed")).over(
              wOrd.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("user_id"), col("island"), col("event_type"))
          .agg(min(col("ts")).as("valid_from"),
            count(lit(1)).as("n_events"))
          .withColumn("valid_to", lead(col("valid_from"), 1).over(wIsland))
          .withColumn("is_current", col("valid_to").isNull)
          .select(col("user_id"), col("event_type"), col("valid_from"),
            col("valid_to"), col("n_events"), col("is_current"))
          .orderBy(col("user_id"), col("valid_from"))
      },
      Some("""WITH ev AS (
          SELECT user_id, ts, event_id, event_type,
            CASE WHEN lag(event_type) OVER
                (PARTITION BY user_id ORDER BY ts, event_id)
              = event_type THEN 0 ELSE 1 END AS changed
          FROM events WHERE user_id < 30),
        islands AS (
          SELECT user_id, ts, event_type,
            SUM(changed) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS island
          FROM ev),
        versions AS (
          SELECT user_id, island, event_type, MIN(ts) AS valid_from,
            COUNT(*) AS n_events
          FROM islands GROUP BY user_id, island, event_type)
        SELECT user_id, event_type, valid_from,
          lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
            AS valid_to,
          n_events,
          lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
            IS NULL AS is_current
        FROM versions ORDER BY user_id, valid_from""")),

    // ----- q75: NUMERIC HISTOGRAM via SQL-standard width_bucket —
    // fixed-width binning of order totals, the single-pass
    // distribution profile (row counts + exact per-bin revenue) a
    // 100 TB table gets instead of a sort-based percentile scan.
    // Deterministic: bucket ids are exact integer arithmetic on
    // doubles, per-bin sums go through the decimal cast.
    // Scale: one hash aggregate on a 22-value key — map-side partials
    // collapse everything before the (tiny) shuffle.
    QueryDef(
      "q75_histogram",
      (s, d) => tb(s, d).orders
        .withColumn("bucket",
          expr("width_bucket(o_totalprice, 0.0, 600000.0, 20)")
            .cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice"), 2).as("revenue"))
        .withColumn("bucket_lo",
          (col("bucket") - lit(1)).cast("double") * lit(30000.0))
        .select(col("bucket"), col("bucket_lo"), col("n_orders"),
          col("revenue"))
        .orderBy(col("bucket")),
      // DuckDB has no width_bucket; mirror Spark's computation
      // exactly — WidthBucket evaluates floor((x - lo) / ((hi - lo)
      // / n)) + 1 with out-of-range clamps, and (600000-0)/20 = 30000
      // is exact in double, so floor(x / 30000.0) + 1 is the same
      // IEEE expression in both engines.
      Some(s"""SELECT bucket,
          CAST(bucket - 1 AS DOUBLE) * 30000.0 AS bucket_lo,
          COUNT(*) AS n_orders, ${sqlSum("o_totalprice", 2)} AS revenue
        FROM (SELECT CASE WHEN o_totalprice < 0.0 THEN 0
                WHEN o_totalprice >= 600000.0 THEN 21
                ELSE CAST(floor(o_totalprice / 30000.0) AS BIGINT) + 1
              END AS bucket,
              o_totalprice FROM orders)
        GROUP BY bucket ORDER BY bucket""")),

    // ----- q76: TRIANGLE COUNTING with DEGREE ORIENTATION — the
    // classic graph-analytics kernel, on the co-purchase graph (parts
    // sharing an order). The naive wedge join fans out quadratically
    // in the hottest vertex's degree; orienting every edge from its
    // LOWER-(degree, id) endpoint to the higher one caps every
    // vertex's out-degree at O(√m), so the wedge join is O(m^1.5)
    // TOTAL — independent of skew. That orientation needs a total
    // order; a global rank would be one sequential window partition,
    // so the rank is composed arithmetically (deg·2⁴⁰ + id: degree
    // is the major key, id breaks ties) — per-row, shuffle-free.
    // Plan: two vertex-key shuffles (degree count, rank attach) + one
    // src-key wedge shuffle; no global sort, no driver state. Output
    // also reports max oriented out-degree — the √m bound, visible.
    QueryDef(
      "q76_triangle_count",
      (s, d) => {
        val li = tb(s, d).lineitem
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        // cached: e feeds the degree count, the orientation join and
        // the edge-count scalar; without it the self-join re-derives
        // the whole subtree once per consumer
        val e = li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("u"), col("b.pk").as("v"))
          .distinct().cache()
        val deg = e.select(col("u").as("x"))
          .union(e.select(col("v").as("x")))
          .groupBy(col("x")).agg(count(lit(1)).as("dg"))
        // total order without a global sort: rank = deg·2^40 + id
        // (partkeys < 2^40 by many orders of magnitude)
        val r = deg.select(col("x"),
          (col("dg") * lit(1L << 40) + col("x")).as("r"))
        val oriented = e
          .join(r.as("ru"), col("u") === col("ru.x"))
          .join(r.as("rv"), col("v") === col("rv.x"))
          .select(
            when(col("ru.r") < col("rv.r"), col("u")).otherwise(col("v"))
              .as("s"),
            when(col("ru.r") < col("rv.r"), col("v")).otherwise(col("u"))
              .as("t"),
            when(col("ru.r") < col("rv.r"), col("rv.r"))
              .otherwise(col("ru.r")).as("rt"))
          .cache() // three self-join arms + the out-degree rollup
        val wedges = oriented.as("e1").join(oriented.as("e2"),
            col("e1.s") === col("e2.s") && col("e1.rt") < col("e2.rt"))
          .select(col("e1.t").as("w1"), col("e2.t").as("w2"))
        // the closing edge follows the same orientation: rt(w1)<rt(w2)
        val tri = wedges.join(oriented.as("e3"),
          col("w1") === col("e3.s") && col("w2") === col("e3.t"))
        val maxOut = oriented.groupBy(col("s"))
          .agg(count(lit(1)).as("od"))
          .agg(max(col("od")).as("max_out_degree"))
        tri.agg(count(lit(1)).as("n_triangles"))
          .crossJoin(e.agg(count(lit(1)).as("n_edges")))
          .crossJoin(deg.agg(count(lit(1)).as("n_vertices")))
          .crossJoin(maxOut) // 1×1×1×1 scalar combine
      },
      // oracle counts canonical (x<y<z) triangles directly — the
      // orientation changes the JOIN ORDER ECONOMICS, never the count
      Some("""WITH e AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        deg AS (
          SELECT x, COUNT(*) AS dg FROM (
            SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
          GROUP BY x),
        r AS (SELECT x, dg * 1099511627776 + x AS r FROM deg),
        o AS (
          SELECT CASE WHEN ru.r < rv.r THEN e.u ELSE e.v END AS s,
                 CASE WHEN ru.r < rv.r THEN e.v ELSE e.u END AS t,
                 CASE WHEN ru.r < rv.r THEN rv.r ELSE ru.r END AS rt
          FROM e JOIN r ru ON e.u = ru.x JOIN r rv ON e.v = rv.x)
        SELECT
          (SELECT COUNT(*) FROM e e1
            JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
            JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v) AS n_triangles,
          (SELECT COUNT(*) FROM e) AS n_edges,
          (SELECT COUNT(*) FROM deg) AS n_vertices,
          (SELECT MAX(od) FROM (
            SELECT COUNT(*) AS od FROM o GROUP BY s)) AS max_out_degree"""))

    ,
    // ----- q77: MERGEABLE FREQUENCY SKETCHES (approx_top_k_accumulate
    // / _combine / _estimate) — the heavy-hitters twin of q71's HLL
    // story: per-group frequency sketches are built once (one pass,
    // map-side combinable), persisted at ~KBs each, and later MERGED
    // across groups without re-touching the raw column — the `_all`
    // row here comes purely from approx_top_k_combine of the per-type
    // sketches. Because maxItemsTracked (10k) exceeds this column's
    // cardinality the sketch is in its EXACT regime, so estimates are
    // verifiable counts, not bounds: the gated output reads a fixed
    // probe set's counts OUT OF THE SKETCH and hash-matches exact SQL.
    // (Top-k IDENTITY under count ties is engine-order-dependent —
    // which is why the gate probes fixed items instead of ranking.)
    QueryDef(
      "q77_topk_sketch_counts",
      (s, d) => {
        val e = tb(s, d).events
        val byType = e.groupBy(col("event_type"))
          .agg(expr("approx_top_k_accumulate(user_id, 10000)").as("sk"))
        val perType = byType.select(col("event_type"),
          explode(expr("approx_top_k_estimate(sk, 10000)")).as("it"))
        val overall = byType
          .agg(expr("approx_top_k_estimate(approx_top_k_combine(sk), 10000)")
            .as("its"))
          .select(lit("_all").as("event_type"),
            explode(col("its")).as("it"))
        perType.unionByName(overall)
          .select(col("event_type"), col("it.item").as("user_id"),
            col("it.count").as("n_events"))
          .filter(col("user_id") < 20) // fixed probe set
          .orderBy(col("event_type"), col("user_id"))
      },
      Some("""SELECT event_type, user_id, COUNT(*) AS n_events
        FROM events WHERE user_id < 20 GROUP BY 1, 2
        UNION ALL
        SELECT '_all', user_id, COUNT(*) FROM events
        WHERE user_id < 20 GROUP BY 1, 2
        ORDER BY event_type, user_id""")),

    // ----- q78: MERGEABLE QUANTILE SKETCHES (DataSketches KLL) — the
    // percentile half of the sketch trio (q71 distinct, q77 frequency):
    // per-group KLL sketches over the double `value` column, with the
    // `_all` row produced by kll_merge_agg of the per-type sketches —
    // re-aggregation without raw data, the property approx_percentile
    // lacks. KLL is a RANDOMIZED sketch (not run-reproducible), so the
    // gate follows q30/q71's discipline: output the exact percentiles
    // (oracle-able, decimal-rounded like q49) plus bound bits — the
    // sketch's p50/p90 estimates must land within 10% of the group's
    // value range of the exact answers (the k=200 rank guarantee is
    // 1.65%; the cushion absorbs rank→value conversion), and
    // kll_sketch_get_n must equal the exact row count, proving the
    // merge saw every row.
    QueryDef(
      "q78_kll_quantile_sketch",
      (s, d) => {
        val e = tb(s, d).events
        def checks(c: org.apache.spark.sql.Column) = Seq(
          (expr("kll_sketch_get_n_double(sk)") === c).as("n_ok"),
          (abs(expr("kll_sketch_get_quantile_double(sk, 0.5)")
            - col("p50_raw"))
            <= (col("mx") - col("mn")) * lit(0.10)).as("p50_est_ok"),
          (abs(expr("kll_sketch_get_quantile_double(sk, 0.9)")
            - col("p90_raw"))
            <= (col("mx") - col("mn")) * lit(0.10)).as("p90_est_ok"))
        val byType = e.groupBy(col("event_type"))
          .agg(expr("kll_sketch_agg_double(value)").as("sk"),
            count(lit(1)).as("n"),
            expr("percentile(value, 0.5)").as("p50_raw"),
            expr("percentile(value, 0.9)").as("p90_raw"),
            min(col("value")).as("mn"), max(col("value")).as("mx"))
        val perType = byType.select(
          Seq(col("event_type"), col("n"),
            expr("cast(cast(p50_raw as decimal(18,4)) as string)").as("p50"),
            expr("cast(cast(p90_raw as decimal(18,4)) as string)").as("p90"))
            ++ checks(col("n")): _*)
        val overall = byType
          .agg(expr("kll_merge_agg_double(sk)").as("sk"))
          .crossJoin(e.agg(count(lit(1)).as("n"), // 1x1 scalar combine
            expr("percentile(value, 0.5)").as("p50_raw"),
            expr("percentile(value, 0.9)").as("p90_raw"),
            min(col("value")).as("mn"), max(col("value")).as("mx")))
          .select(Seq(lit("_all").as("event_type"), col("n"),
            expr("cast(cast(p50_raw as decimal(18,4)) as string)").as("p50"),
            expr("cast(cast(p90_raw as decimal(18,4)) as string)").as("p90"))
            ++ checks(col("n")): _*)
        perType.unionByName(overall).orderBy(col("event_type"))
      },
      Some("""SELECT event_type, n, p50, p90,
          TRUE AS n_ok, TRUE AS p50_est_ok, TRUE AS p90_est_ok
        FROM (
          SELECT event_type, COUNT(*) AS n,
            CAST(CAST(quantile_cont(value, 0.5) AS DECIMAL(18,4)) AS VARCHAR)
              AS p50,
            CAST(CAST(quantile_cont(value, 0.9) AS DECIMAL(18,4)) AS VARCHAR)
              AS p90
          FROM events GROUP BY event_type
          UNION ALL
          SELECT '_all', COUNT(*),
            CAST(CAST(quantile_cont(value, 0.5) AS DECIMAL(18,4)) AS VARCHAR),
            CAST(CAST(quantile_cont(value, 0.9) AS DECIMAL(18,4)) AS VARCHAR)
          FROM events)
        ORDER BY event_type""")),

    // ----- q79: RECURSIVE CTE — Spark 4's WITH RECURSIVE, the
    // iterate-to-fixpoint surface (hierarchy rollups, reachability,
    // bill-of-materials) that previously needed a driver loop (d07's
    // shape). Walks a deterministic functional graph over the nation
    // keys (dst = (node*7+3) mod 25) from three seeds, depth-bounded,
    // then joins the reached nations to their names and customer
    // counts — recursion composing with ordinary joins/aggregation.
    // DuckDB runs the IDENTICAL statement: the recursion semantics
    // themselves are what the hash checks. At scale each iteration is
    // one self-join shuffle; the depth bound caps the plan exactly
    // like the driver-loop variant, but planning/execution stay
    // inside one Catalyst query.
    QueryDef(
      "q79_recursive_cte",
      (s, d) => {
        val t = new Tables(s, d)
        t.nation.createOrReplaceTempView("nation")
        t.customer.createOrReplaceTempView("customer")
        s.sql("""WITH RECURSIVE walk(seed, node, hops) AS (
            SELECT CAST(n_nationkey AS INT), CAST(n_nationkey AS INT), 0
            FROM nation WHERE n_nationkey < 3
            UNION ALL
            SELECT seed, CAST((node * 7 + 3) % 25 AS INT), hops + 1
            FROM walk WHERE hops < 6)
          SELECT w.seed, w.hops, w.node, n.n_name,
            (SELECT COUNT(*) FROM customer c
             WHERE c.c_nationkey = w.node) AS n_customers
          FROM walk w JOIN nation n ON n.n_nationkey = w.node
          ORDER BY w.seed, w.hops, w.node""")
      },
      Some("""WITH RECURSIVE walk(seed, node, hops) AS (
          SELECT CAST(n_nationkey AS INT), CAST(n_nationkey AS INT), 0
          FROM nation WHERE n_nationkey < 3
          UNION ALL
          SELECT seed, CAST((node * 7 + 3) % 25 AS INT), hops + 1
          FROM walk WHERE hops < 6)
        SELECT w.seed, w.hops, w.node, n.n_name,
          (SELECT COUNT(*) FROM customer c
           WHERE c.c_nationkey = w.node) AS n_customers
        FROM walk w JOIN nation n ON n.n_nationkey = w.node
        ORDER BY w.seed, w.hops, w.node""")),

    // ----- q80: SQL SESSION VARIABLES + EXECUTE IMMEDIATE — the
    // parameterized-SQL surface (Spark 4 / SQL:2023): DECLARE
    // VARIABLE holds typed session state, SET VAR computes it FROM A
    // QUERY (here the corpus median price — a data-dependent
    // parameter no literal can express), and EXECUTE IMMEDIATE runs
    // dynamic SQL with `?` parameter binding — how a production job
    // templates one audited query over many thresholds without
    // string-splicing values (injection-safe by construction). The
    // oracle re-derives the same median inline; variables are a
    // session-state convenience, never a semantics change — which is
    // exactly what hash-equality proves.
    QueryDef(
      "q80_sql_variables",
      (s, d) => {
        new Tables(s, d).orders.createOrReplaceTempView("q80_orders")
        s.sql("DECLARE OR REPLACE VARIABLE q80_cut DOUBLE DEFAULT 0.0")
        s.sql("""SET VAR q80_cut =
          (SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice)
           FROM q80_orders)""")
        s.sql("""EXECUTE IMMEDIATE
            'SELECT o_orderstatus,
               COUNT(*) AS n_above,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                 AS STRING) AS DOUBLE) AS total_above
             FROM q80_orders WHERE o_totalprice > ?
             GROUP BY o_orderstatus ORDER BY o_orderstatus'
          USING q80_cut""")
      },
      Some(s"""WITH cut AS (
          SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice)
            AS c
          FROM orders)
        SELECT o_orderstatus, COUNT(*) AS n_above,
          ${graft.Exact.sqlSum("o_totalprice", 2)} AS total_above
        FROM orders, cut WHERE o_totalprice > cut.c
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ----- q81: SQL PIPE SYNTAX — Spark 4's |> operator chain
    // (public SQL surface since 4.0): the linear FROM → WHERE →
    // EXTEND → AGGREGATE → WHERE → ORDER BY dataflow a reviewer
    // reads top-to-bottom, desugaring to exactly the classic
    // nested-SELECT plan (the oracle IS that classic form, so the
    // hash gate proves the desugaring is a syntax change, not a
    // semantics change). The revenue sum rides the repo's
    // decimal-exact convention; the post-AGGREGATE WHERE is HAVING
    // in the classic form.
    QueryDef(
      "q81_pipe_syntax",
      (s, d) => {
        new Tables(s, d).lineitem.createOrReplaceTempView("q81_lineitem")
        s.sql("""
          FROM q81_lineitem
          |> WHERE l_shipdate <= DATE '1998-09-02'
          |> EXTEND l_extendedprice * (1 - l_discount) AS net
          |> AGGREGATE COUNT(*) AS n_items,
               CAST(CAST(SUM(CAST(net AS DECIMAL(18,4)))
                 AS STRING) AS DOUBLE) AS revenue
             GROUP BY l_returnflag, l_linestatus
          |> WHERE n_items >= 10
          |> ORDER BY l_returnflag, l_linestatus""")
      },
      Some(s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
          ${graft.Exact.sqlSum("l_extendedprice * (1 - l_discount)", 4)}
            AS revenue
        FROM lineitem
        WHERE l_shipdate <= DATE '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        HAVING COUNT(*) >= 10
        ORDER BY l_returnflag, l_linestatus""")),

    // ----- q82: PAGERANK over the part co-purchase graph — the
    // iterative link-analysis kernel web-corpus curation ranks hosts
    // with (crawl frontier priority / quality priors à la Common
    // Crawl's harmonic-centrality lists). Graph: q76's co-order part
    // graph, symmetrized (u↔v when two parts share an order; degrees
    // 42–206 at sf0.01 — real variance, unlike the near-complete
    // supplier/token graphs). Fixed 6 power iterations, damping 0.85,
    // dangling mass redistributed uniformly.
    //
    // Spark shape (the canonical distributed PageRank): edges are
    // derived once, SYMMETRIZED, pre-partitioned on src and cached —
    // every iteration's contribution join then shuffles ONLY the
    // 2-column rank frame (the big edge side reuses its cached
    // layout), and the per-dst sum is map-side combinable. Each round
    // is 2 shuffles of O(edges) longs; the driver loop holds 6
    // frames, caching each rank vector and unpersisting its
    // predecessor (the d07 loop discipline; lineage depth is bounded
    // by the fixed iteration count, so no checkpoint is needed).
    //
    // Cross-engine bit-identity for an ITERATIVE float algorithm
    // (the s08 recipe, applied 6 rounds deep): per-edge contributions
    // r/outdeg are single IEEE divisions, QUANTIZED to the 1e-12 grid
    // as BIGINTs, summed exactly (sum → VARCHAR → DOUBLE: exact
    // digits + correctly-rounded parse agree everywhere; the native
    // int128/BigDecimal→double paths can differ by 1 ulp past 2^53),
    // and recombined in identically-parenthesized double arithmetic.
    // The dangling-mass scalar is collected per round and embedded as
    // a literal (p07's lesson: a lazy 1-row frame would re-run the
    // whole rank lineage at execution) — 6 bounded driver round
    // trips, each also materializing that round's cache.
    QueryDef(
      "q82_pagerank",
      (s, d) => {
        val li = tb(s, d).lineitem
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        val e0 = li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("u"), col("b.pk").as("v"))
          .distinct()
        val edges = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
          .repartition(col("u")).cache() // 6 consumers, layout reused
        val outd = edges.groupBy(col("u"))
          .agg(count(lit(1)).as("od")).cache()
        val nodes = tb(s, d).part.select(col("p_partkey").as("node"))
          .cache()
        val nD = nodes.count().toDouble
        def strSum(c: org.apache.spark.sql.Column) =
          sum(c).cast("string").cast("double")
        var ranks = nodes.withColumn("r", lit(1.0) / lit(nD))
        var prev: Option[org.apache.spark.sql.DataFrame] = None
        for (_ <- 1 to 6) {
          // dangling mass (nodes with no out-edges), quantized and
          // collected as this round's literal; the action also
          // materializes the current rank cache
          val dRow = ranks.join(outd,
              ranks("node") === outd("u"), "left_anti")
            .agg(strSum(floor(col("r") * lit(1e12) + lit(0.5)))).head()
          val dq = if (dRow.isNullAt(0)) 0.0 else dRow.getDouble(0)
          // r19: the node-sized sides build hash maps (SHUFFLE_HASH —
          // a plan-local hint, no session conf); the default
          // sort-merge re-SORTED the cached O(E) edge relation every
          // round — 6 full edge sorts whose buffers OOMed the ×100
          // probe. Edges stream through unsorted, reusing their
          // cached hash layout; the rank/degree frames are O(nodes).
          val contrib = edges
            .join(ranks.hint("SHUFFLE_HASH"),
              edges("u") === ranks("node"))
            .join(outd.hint("SHUFFLE_HASH"), "u")
            .select(col("v"),
              floor((col("r") / col("od").cast("double")) * lit(1e12)
                + lit(0.5)).as("qc"))
            .groupBy(col("v")).agg(strSum(col("qc")).as("qs"))
          val next = nodes
            .join(contrib, nodes("node") === contrib("v"), "left")
            .select(col("node"),
              (lit(0.15) / lit(nD) + lit(0.85) *
                (coalesce(col("qs"), lit(0.0)) / lit(1e12)
                  + lit(dq) / lit(1e12) / lit(nD))).as("r"))
            .cache()
          prev.foreach(_.unpersist())
          prev = Some(ranks)
          ranks = next
        }
        ranks.orderBy(col("r").desc, col("node"))
          .select(col("node").as("p_partkey"), col("r").as("pagerank"))
      },
      Some {
        // every multi-consumer CTE is MATERIALIZED: DuckDB inlines
        // plain CTEs per REFERENCE, and each r_i is read twice (its
        // dangling sum and its contribution sum) — un-materialized,
        // r0 and the lineitem self-join would re-evaluate 2^6 times
        // (observed: the sf0.1 sweep's oracle burned 93 CPU-minutes
        // and 51 GB of spill before this fix)
        val base = """WITH e0 AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
          e AS MATERIALIZED (
            SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
          outd AS MATERIALIZED (
            SELECT u, COUNT(*) AS od FROM e GROUP BY u),
          nodes AS MATERIALIZED (SELECT p_partkey AS node FROM part),
          nn AS MATERIALIZED (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
          r0 AS MATERIALIZED (
            SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM nodes)"""
        val iters = (1 to 6).map { i =>
          s"""dang$i AS MATERIALIZED (
              SELECT COALESCE(CAST(CAST(SUM(CAST(FLOOR(r * 1e12 + 0.5)
                  AS BIGINT)) AS VARCHAR) AS DOUBLE), 0.0) AS dq
              FROM r${i - 1} LEFT JOIN outd ON r${i - 1}.node = outd.u
              WHERE outd.u IS NULL),
            c$i AS MATERIALIZED (
              SELECT e.v, CAST(CAST(SUM(CAST(FLOOR(
                  (p.r / CAST(o.od AS DOUBLE)) * 1e12 + 0.5)
                  AS BIGINT)) AS VARCHAR) AS DOUBLE) AS qs
              FROM e JOIN r${i - 1} p ON e.u = p.node
                JOIN outd o ON e.u = o.u
              GROUP BY e.v),
            r$i AS MATERIALIZED (
              SELECT n.node,
                0.15 / (SELECT n FROM nn)
                + 0.85 * (COALESCE(c.qs, 0.0) / 1e12
                  + (SELECT dq FROM dang$i) / 1e12 / (SELECT n FROM nn))
                AS r
              FROM nodes n LEFT JOIN c$i c ON n.node = c.v)"""
        }.mkString(",\n", ",\n", "")
        base + iters +
          """ SELECT node AS p_partkey, r AS pagerank FROM r6
            ORDER BY pagerank DESC, node"""
      }),

    // ----- q84: TIME-SERIES GAP-FILL + LINEAR INTERPOLATION — the
    // sensor/metrics resample every feature pipeline needs: an hourly
    // spine per event type, observed hours carry their exact
    // (floor-quantized) value sum, gaps fill by LINEAR interpolation
    // between the bracketing observations (forward/backward fill at
    // the edges). The mechanism under test is the IGNORE NULLS value
    // window pair — last_value back / first_value forward over the
    // spine — which both engines must evaluate identically; the
    // interpolation itself is per-row IEEE on integer hour gaps.
    // Scale: one shuffle keyed (type) for the windows over the
    // spine (|types|·|hours| rows, dwarfed by the event scan), the
    // observed aggregation map-side combinable. At 100 TB the spine
    // per key is bounded by the TIME RANGE, not the event count —
    // the partition-per-type window never sees raw events.
    QueryDef(
      "q84_gapfill_interpolate",
      (s, d) => {
        val ev = tb(s, d).events
        val obs = ev.groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("hour"))
          .agg((sum(floor(col("value") * lit(1e6) + lit(0.5))
              .cast("long")).cast("string").cast("double") / lit(1e6))
            .as("v"))
        val bounds = ev.agg(date_trunc("hour", min(col("ts"))).as("h0"),
          date_trunc("hour", max(col("ts"))).as("h1"))
        val spine = bounds
          .select(explode(expr(
            "sequence(h0, h1, interval 1 hour)")).as("hour"))
          .crossJoin(ev.select(col("event_type")).distinct())
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("hour"))
        val wb = w.rowsBetween(Window.unboundedPreceding, 0)
        val wf = w.rowsBetween(0, Window.unboundedFollowing)
        val joined = spine.join(obs, Seq("event_type", "hour"), "left")
          .withColumn("v_prev", last(col("v"), ignoreNulls = true).over(wb))
          .withColumn("h_prev", last(when(col("v").isNotNull,
            col("hour")), ignoreNulls = true).over(wb))
          .withColumn("v_next", first(col("v"), ignoreNulls = true).over(wf))
          .withColumn("h_next", first(when(col("v").isNotNull,
            col("hour")), ignoreNulls = true).over(wf))
        joined.select(col("event_type"), col("hour"),
            col("v").isNotNull.as("observed"),
            when(col("v").isNotNull, col("v"))
              .when(col("v_prev").isNotNull && col("v_next").isNotNull,
                col("v_prev") + (col("v_next") - col("v_prev")) *
                  (expr("timestampdiff(HOUR, h_prev, hour)")
                    .cast("double") /
                    expr("timestampdiff(HOUR, h_prev, h_next)")
                      .cast("double")))
              .when(col("v_prev").isNotNull, col("v_prev"))
              .otherwise(col("v_next")).as("v_filled"))
          .orderBy(col("event_type"), col("hour"))
      },
      Some("""WITH obs AS (
          SELECT event_type, date_trunc('hour', ts) AS hour,
            CAST(CAST(SUM(CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT))
              AS VARCHAR) AS DOUBLE) / 1e6 AS v
          FROM events GROUP BY 1, 2),
        bounds AS (SELECT date_trunc('hour', MIN(ts)) AS h0,
            date_trunc('hour', MAX(ts)) AS h1 FROM events),
        spine AS (SELECT unnest(generate_series(h0, h1,
            INTERVAL 1 HOUR)) AS hour FROM bounds),
        grid AS (SELECT t.event_type, s.hour
          FROM spine s CROSS JOIN
            (SELECT DISTINCT event_type FROM events) t),
        j AS (SELECT g.event_type, g.hour, o.v,
            LAST_VALUE(o.v IGNORE NULLS) OVER wb AS v_prev,
            LAST_VALUE(CASE WHEN o.v IS NOT NULL THEN g.hour END
              IGNORE NULLS) OVER wb AS h_prev,
            FIRST_VALUE(o.v IGNORE NULLS) OVER wf AS v_next,
            FIRST_VALUE(CASE WHEN o.v IS NOT NULL THEN g.hour END
              IGNORE NULLS) OVER wf AS h_next
          FROM grid g LEFT JOIN obs o
            ON o.event_type = g.event_type AND o.hour = g.hour
          WINDOW
            wb AS (PARTITION BY g.event_type ORDER BY g.hour
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
            wf AS (PARTITION BY g.event_type ORDER BY g.hour
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        SELECT event_type, hour, v IS NOT NULL AS observed,
          CASE WHEN v IS NOT NULL THEN v
               WHEN v_prev IS NOT NULL AND v_next IS NOT NULL
                 THEN v_prev + (v_next - v_prev) *
                   (CAST(date_diff('hour', h_prev, hour) AS DOUBLE) /
                    CAST(date_diff('hour', h_prev, h_next) AS DOUBLE))
               WHEN v_prev IS NOT NULL THEN v_prev
               ELSE v_next END AS v_filled
        FROM j
        ORDER BY event_type, hour""")),

    // ----- q83: SQL UDFs (Spark 4 `CREATE FUNCTION … RETURN`) — the
    // one extension mechanism the registry didn't cover: scalar
    // functions DEFINED IN SQL, resolved and INLINED by the analyzer
    // into the calling plan (no closure serialization, no codegen
    // boundary — unlike a Scala UDF, the body participates in
    // whole-stage codegen and constant folding, which is why this is
    // the 100 TB-preferred way to package reusable business logic).
    // Exercised properly: q83_net is a 3-arg scalar; q83_band CALLS
    // q83_net INSIDE ITS BODY (nested SQL-UDF resolution); the
    // aggregate routes the UDF result through the FLOOR-quantized
    // exact sum so the engine-inlined expression must be
    // bit-identical to the oracle's hand-inlined one. (Not the
    // DECIMAL-cast sum: a triple product lands on 4th-decimal
    // rounding ties that Spark and DuckDB resolve differently —
    // Spark's double→decimal cast rounds the SHORTEST decimal
    // representation while DuckDB rounds the exact binary value, a
    // ~1/100-per-row divergence the two-factor queries never hit;
    // floor(x·1e4 + 0.5) on the raw double is the same single IEEE
    // expression in both engines, no representation choice left.)
    QueryDef(
      "q83_sql_udf",
      (s, d) => {
        new Tables(s, d).lineitem.createOrReplaceTempView("q83_lineitem")
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION q83_net(
            price DOUBLE, disc DOUBLE, tax DOUBLE) RETURNS DOUBLE
          RETURN price * (1.0D - disc) * (1.0D + tax)""")
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION q83_band(
            price DOUBLE, disc DOUBLE, tax DOUBLE) RETURNS STRING
          RETURN CASE WHEN q83_net(price, disc, tax) < 1000.0D THEN 'S'
                      WHEN q83_net(price, disc, tax) < 10000.0D THEN 'M'
                      ELSE 'L' END""")
        s.sql("""SELECT l_returnflag,
            q83_band(l_extendedprice, l_discount, l_tax) AS band,
            COUNT(*) AS n,
            CAST(CAST(SUM(CAST(FLOOR(
              q83_net(l_extendedprice, l_discount, l_tax) * 10000.0D
                + 0.5D) AS BIGINT)) AS STRING) AS DOUBLE) / 10000.0D
              AS net_revenue
          FROM q83_lineitem
          GROUP BY l_returnflag,
            q83_band(l_extendedprice, l_discount, l_tax)
          ORDER BY l_returnflag, band""")
      },
      Some("""SELECT l_returnflag,
          CASE WHEN l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)
                 < 1000.0 THEN 'S'
               WHEN l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)
                 < 10000.0 THEN 'M'
               ELSE 'L' END AS band,
          COUNT(*) AS n,
          CAST(CAST(SUM(CAST(FLOOR(
            l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 10000
              + 0.5) AS BIGINT)) AS VARCHAR) AS DOUBLE) / 10000.0
            AS net_revenue
        FROM lineitem
        GROUP BY 1, 2
        ORDER BY 1, 2"""))
  )
}
