package graft.operators

import graft.{Derived, Exact, LocalFs, Parquet, QueryDef, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Write-path operators: the STORAGE-LAYOUT half of a 100 TB
  * pipeline. Reading fast at scale is mostly decided at WRITE time —
  * partition directories give coarse pruning (skip whole directories
  * at plan time), bucketing pre-shuffles the table ONCE so every
  * later join/aggregation on the bucket key skips its exchange.
  *
  * Both queries write to a scratch dir/table and read back through
  * the layout, so the gated result proves the round-trip (layout →
  * scan → answer) and `WritePathsSpec` proves the plan actually used
  * it (PartitionFilters pruning; no Exchange under the bucketed
  * join). The reference's Iceberg tables get the same two layouts
  * from its partition spec + write distribution
  * (reference KafkaAvroToIceberg.scala:70-80 writes a partitioned
  * Iceberg table; this is that capability, Spark-native).
  */
object Writes {

  /** Scratch location, unique per (query, sf-dir) so concurrent
    * sessions over different SFs never collide; overwrite mode makes
    * reruns idempotent. */
  private[graft] def scratch(tag: String, d: String): String =
    Derived.under(s"graft_$tag-", d)

  val queries: Seq[QueryDef] = Seq(

    // ----- w01: PARTITIONED WRITE + PRUNED READ — events land
    // hive-partitioned by event_type (the coarse, low-cardinality
    // key); the read-back filter prunes to ONE directory at planning
    // time (PartitionFilters in the scan, no data files of the other
    // four types touched — at 100 TB that is 4/5 of the corpus never
    // opened). Daily revenue rollup over the surviving partition.
    QueryDef(
      "w01_partitioned_write_prune",
      (s, d) => {
        val out = scratch("w01", d)
        new Tables(s, d).events
          .write.mode("overwrite").partitionBy("event_type").parquet(out)
        s.read.parquet(out)
          .filter(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n_purchases"),
            Exact.dsum(col("value"), 2).as("revenue"))
          .orderBy(col("day"))
      },
      Some(s"""SELECT CAST(ts AS DATE) AS day,
          COUNT(*) AS n_purchases,
          ${Exact.sqlSum("value", 2)} AS revenue
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1 ORDER BY 1""")),

    // ----- w02: BUCKETED WRITE + EXCHANGE-FREE JOIN — orders and
    // customer both land bucketed (and sorted) on the join key, so
    // the read-back join plans as a sort-merge join with NO Exchange
    // and NO Sort on either side: the shuffle was paid once at write
    // time, and every subsequent join/agg on the key rides it free.
    // This is the bucketing decision that turns a daily 100 TB
    // join-heavy workload from shuffle-bound to scan-bound.
    QueryDef(
      "w02_bucketed_write_join",
      (s, d) => {
        val t = new Tables(s, d)
        val ordPath = scratch("w02o", d)
        val custPath = scratch("w02c", d)
        t.orders.write.mode("overwrite")
          .option("path", ordPath)
          .bucketBy(8, "o_custkey").sortBy("o_custkey")
          .saveAsTable("w02_orders_bkt")
        t.customer.write.mode("overwrite")
          .option("path", custPath)
          .bucketBy(8, "c_custkey").sortBy("c_custkey")
          .saveAsTable("w02_customer_bkt")
        val o = s.table("w02_orders_bkt")
        val c = s.table("w02_customer_bkt")
        o.join(c, o("o_custkey") === c("c_custkey"))
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_orders"),
            Exact.dsum(col("o_totalprice"), 2).as("total_price"))
          .orderBy(col("c_nationkey"))
      },
      Some(s"""SELECT c_nationkey, COUNT(*) AS n_orders,
          ${Exact.sqlSum("o_totalprice", 2)} AS total_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_nationkey ORDER BY c_nationkey""")),

    // ----- w03: TRAINING-SHARD EXPORT — the last hop of a curation
    // pipeline: deal the corpus into N fixed shards by an md5-derived
    // key and write each shard as one file, rows ordered by the same
    // key. The md5 deal is a DETERMINISTIC GLOBAL SHUFFLE — it breaks
    // crawl-order/source correlations the way a training run needs,
    // yet is reproducible bit-for-bit across runs and engines
    // (rand() is neither) and independent of input partitioning.
    // Shape at 100 TB: one shuffle keyed by the shard id (each shard
    // lands wholly in one task → exactly one file per shard), local
    // sort within shards, N sized so each file is a few GB for the
    // data-loader. The gated result reads the export BACK and digests
    // each shard's doc ids in shard order — proving membership, balance,
    // AND order round-trip through the layout, not just that a write
    // happened. Oracle mirrors the md5 deal + ordered string_agg.
    QueryDef(
      "w03_shard_export",
      (s, d) => {
        val out = scratch("w03", d)
        val n = 8
        new Tables(s, d).documents
          .select(col("doc_id"), col("text"))
          .withColumn("skey",
            md5(concat(lit("shard:"), col("doc_id").cast("string"))))
          .withColumn("shard",
            (conv(substring(col("skey"), 1, 7), 16, 10).cast("long") % n)
              .cast("int"))
          // sort key is (shard, skey): the write's required ordering
          // (partition column first) is then already satisfied, so the
          // planner reuses THIS sort instead of inserting its own
          // shard-only (order-destroying) one — V1Writes only adds a
          // Sort when the child ordering doesn't prefix-match
          .repartition(n, col("shard"))
          .sortWithinPartitions(col("shard"), col("skey"))
          .write.mode("overwrite").partitionBy("shard").parquet(out)
        s.read.parquet(out)
          .groupBy(col("shard").cast("int").as("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text"))).cast("long").as("n_chars"),
            md5(array_join(transform(
              array_sort(collect_list(struct(
                col("skey").as("k"),
                col("doc_id").cast("string").as("v")))),
              x => x.getField("v")), ",")).as("order_digest"))
          .orderBy(col("shard"))
      },
      Some("""WITH dealt AS (
          SELECT doc_id, length(text) AS n,
            md5('shard:' || CAST(doc_id AS VARCHAR)) AS skey
          FROM documents),
        sharded AS (
          SELECT doc_id, n, skey,
            CAST(('0x' || substr(skey, 1, 7))::BIGINT % 8 AS INT) AS shard
          FROM dealt)
        SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_chars,
          md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY skey))
            AS order_digest
        FROM sharded GROUP BY shard ORDER BY shard""")),

    // ----- w04: Z-ORDER LAYOUT — multi-dimensional clustering for
    // data skipping on TWO predicates at once. A layout sorted on
    // (user) prunes user filters but scatters time; sorted on (time)
    // vice versa. Interleaving the bits of both dimensions into one
    // z-value and laying files out along it keeps BOTH ranges narrow
    // per file, so min/max file stats prune either predicate — the
    // idea behind Delta/Iceberg OPTIMIZE ZORDER. Here the z-value is
    // pure integer arithmetic (bit i via div/mod — identical in both
    // engines), the file id is the z-value's top bits (DETERMINISTIC,
    // no sampled range boundaries), events are physically written
    // into one directory per z-file, and the gated result reads the
    // layout back and reports each file's (user, hour) bounding box.
    // Scale: one hash shuffle on the file id; the per-file spans stay
    // narrow as the corpus grows because file count grows with the
    // top bits — re-tile by taking more bits, never re-sort globally.
    QueryDef(
      "w04_zorder_layout",
      (s, d) => {
        val out = scratch("w04", d)
        // z-interleave of the low 11 bits of each dimension:
        // bit i of ux lands at 4^i, bit i of hx at 2*4^i
        val z = (0 until 11).map { i =>
          s"((ux div ${1L << i}) % 2) * ${1L << (2 * i)}" +
            s" + ((hx div ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
        }.mkString(" + ")
        new Tables(s, d).events
          .withColumn("ux", expr("user_id % 2048"))
          .withColumn("hx", expr(
            "timestampdiff(HOUR, TIMESTAMP'2024-01-01 00:00:00', ts)"))
          .withColumn("zval", expr(z))
          .withColumn("zfile", expr("zval div 65536"))
          .repartition(col("zfile"))
          .sortWithinPartitions(col("zfile"), col("zval"))
          .select(col("event_id"), col("user_id"), col("hx"), col("zval"),
            col("zfile"))
          .write.mode("overwrite").partitionBy("zfile").parquet(out)
        s.read.parquet(out)
          .groupBy(col("zfile").cast("long").as("zfile"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("user_id")).as("min_user"),
            max(col("user_id")).as("max_user"),
            min(col("hx")).as("min_hour"),
            max(col("hx")).as("max_hour"))
          .orderBy(col("zfile"))
      },
      Some {
        val z = (0 until 11).map { i =>
          s"((ux // ${1L << i}) % 2) * ${1L << (2 * i)}" +
            s" + ((hx // ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
        }.mkString(" + ")
        s"""WITH dims AS (
          SELECT event_id, user_id, user_id % 2048 AS ux,
            date_diff('hour', TIMESTAMP '2024-01-01 00:00:00', ts) AS hx
          FROM events),
        zed AS (
          SELECT event_id, user_id, hx, ($z) AS zval FROM dims)
        SELECT zval // 65536 AS zfile, COUNT(*) AS n_rows,
          MIN(user_id) AS min_user, MAX(user_id) AS max_user,
          MIN(hx) AS min_hour, MAX(hx) AS max_hour
        FROM zed GROUP BY zfile ORDER BY zfile"""
      }),

    // ----- w05: SNAPSHOT TIME TRAVEL — the Iceberg table-format
    // semantics the reference's sink commits through
    // (`append().appendFile(...).commit()`, KafkaBatchJob.java:95-98),
    // proven through the gated oracle: three versioned appends land
    // as snapshots v1..v3 of a bronze-catalog table, OPTIMIZE
    // compacts the small files as a REPLACE snapshot v4, and the
    // result reads every version back through `VERSION AS OF` —
    // cumulative history, plus the invariant that compaction changes
    // LAYOUT, never data (v4 ≡ v3). Readers pin one manifest, so at
    // 100 TB a day-long scan never sees a torn append, and the
    // nightly OPTIMIZE runs under live traffic without a lock.
    QueryDef(
      "w05_snapshot_time_travel",
      (s, d) => {
        val wh = scratch("w05", d)
        // catalog name is per-sf-dir: the session CACHES catalog
        // instances by name, and two SFs must not share a warehouse
        val cat = "w05cat_" + Integer.toHexString(d.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.BronzeCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        s.sql(s"DROP TABLE IF EXISTS $cat.db.orders_tt")
        s.sql(s"""CREATE TABLE $cat.db.orders_tt
          (o_orderkey BIGINT, o_orderdate DATE, o_totalprice DOUBLE)
          USING parquet""")
        val o = new Tables(s, d).orders.select(
          col("o_orderkey").cast("long"),
          col("o_orderdate").cast("date"),
          col("o_totalprice").cast("double"))
        Seq( // three "daily" ingests: one atomic snapshot each
          o.filter(col("o_orderdate") < lit("1997-01-01")),
          o.filter(col("o_orderdate") >= lit("1997-01-01") &&
            col("o_orderdate") < lit("1999-01-01")),
          o.filter(col("o_orderdate") >= lit("1999-01-01"))
        ).foreach(_.writeTo(s"$cat.db.orders_tt").append())
        // v4: compaction rewrite — layout changes, answers must not
        graft.catalog.SnapshotLog.optimize(s, s"$wh/db/orders_tt", 1L << 30)
        (1 to 4).map { v =>
          s.sql(s"SELECT * FROM $cat.db.orders_tt VERSION AS OF $v")
            .agg(count(lit(1)).as("n_orders"),
              Exact.dsum(col("o_totalprice"), 2).as("total_price"))
            .select(lit(v).as("version"), col("n_orders"),
              col("total_price"))
        }.reduce(_ union _).orderBy(col("version"))
      },
      Some(s"""WITH cum AS (
          SELECT o_totalprice,
            CASE WHEN CAST(o_orderdate AS DATE) < DATE '1997-01-01' THEN 1
                 WHEN CAST(o_orderdate AS DATE) < DATE '1999-01-01' THEN 2
                 ELSE 3 END AS first_v
          FROM orders),
        vs AS (SELECT * FROM (VALUES (1),(2),(3),(4)) AS t(version))
        SELECT version, COUNT(*) AS n_orders,
          ${Exact.sqlSum("o_totalprice", 2)} AS total_price
        FROM vs JOIN cum
          ON cum.first_v <= CASE WHEN version > 3 THEN 3 ELSE version END
        GROUP BY version ORDER BY version""")),

    // ----- w06: INCREMENTAL SNAPSHOT READ — the change-data
    // consumption pattern the snapshot log enables (Iceberg's
    // incremental scan): a consumer remembers the last version it
    // processed and reads ONLY the files appended since — at 100 TB
    // the nightly downstream job touches |delta|, never the table.
    // Here the w05 table's three appends are consumed as "everything
    // since v1": exactly the day-2 and day-3 slices, proven by the
    // oracle re-deriving those slices by predicate. Compaction
    // (REPLACE snapshots) interleaves consumed rows under new names,
    // so incremental reads refuse to cross one (spec-tested) — the
    // consumer checkpoints at the replace and restarts from it.
    QueryDef(
      "w06_incremental_read",
      (s, d) => {
        val wh = scratch("w06", d)
        val cat = "w06cat_" + Integer.toHexString(d.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.BronzeCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        s.sql(s"DROP TABLE IF EXISTS $cat.db.orders_inc")
        s.sql(s"""CREATE TABLE $cat.db.orders_inc
          (o_orderkey BIGINT, o_orderdate DATE, o_totalprice DOUBLE)
          USING parquet""")
        val o = new Tables(s, d).orders.select(
          col("o_orderkey").cast("long"),
          col("o_orderdate").cast("date"),
          col("o_totalprice").cast("double"))
        Seq(
          o.filter(col("o_orderdate") < lit("1997-01-01")),
          o.filter(col("o_orderdate") >= lit("1997-01-01") &&
            col("o_orderdate") < lit("1999-01-01")),
          o.filter(col("o_orderdate") >= lit("1999-01-01"))
        ).foreach(_.writeTo(s"$cat.db.orders_inc").append())
        val dir = s"$wh/db/orders_inc"
        val delta = graft.catalog.SnapshotLog
          .appendedFilesBetween(dir, fromVersion = 1, toVersion = 3)
        s.read.schema(
            "o_orderkey BIGINT, o_orderdate DATE, o_totalprice DOUBLE")
          .parquet(delta.map(f => s"$dir/$f"): _*)
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(count(lit(1)).as("n_orders"),
            Exact.dsum(col("o_totalprice"), 2).as("total_price"))
          .orderBy(col("o_year"))
      },
      Some(s"""SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INT)
            AS o_year,
          COUNT(*) AS n_orders,
          ${Exact.sqlSum("o_totalprice", 2)} AS total_price
        FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
        GROUP BY 1 ORDER BY 1""")),

    // ----- w07: ROW-LEVEL DELETE — the GDPR-scrub / dedup-in-place
    // shape: `DELETE FROM bronze.db.t WHERE ...` rewrites ONLY the
    // data files containing matching rows (copy-on-write, one atomic
    // `delete` snapshot — BronzeRowDelete), the Iceberg row-level
    // semantics of the reference's sink format. Two "daily" appends,
    // then the delete scrubs a slice of the SECOND one; the result
    // reads the table at every version — both appends, then the
    // post-delete state — proving old snapshots still see the scrubbed
    // rows (legal-hold reads) while the current table doesn't. At
    // 100 TB a targeted delete touches |matching files|, never the
    // table, and incremental/streaming consumers refuse to silently
    // cross the rewrite (spec-tested).
    QueryDef(
      "w07_row_delete",
      (s, d) => {
        val wh = scratch("w07", d)
        val cat = "w07cat_" + Integer.toHexString(d.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.BronzeCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        s.sql(s"DROP TABLE IF EXISTS $cat.db.orders_del")
        s.sql(s"""CREATE TABLE $cat.db.orders_del
          (o_orderkey BIGINT, o_orderdate DATE, o_totalprice DOUBLE)
          USING parquet""")
        val o = new Tables(s, d).orders.select(
          col("o_orderkey").cast("long"),
          col("o_orderdate").cast("date"),
          col("o_totalprice").cast("double"))
        Seq( // two "daily" ingests: one atomic snapshot each
          o.filter(col("o_orderdate") < lit("1997-01-01")),
          o.filter(col("o_orderdate") >= lit("1997-01-01"))
        ).foreach(_.writeTo(s"$cat.db.orders_del").append())
        // v3: scrub high-value 1998+ orders out of the second append
        s.sql(s"""DELETE FROM $cat.db.orders_del
          WHERE o_orderdate >= DATE '1998-01-01' AND o_totalprice > 150000""")
        (1 to 3).map { v =>
          s.sql(s"SELECT * FROM $cat.db.orders_del VERSION AS OF $v")
            .agg(count(lit(1)).as("n_orders"),
              Exact.dsum(col("o_totalprice"), 2).as("total_price"))
            .select(lit(v).as("version"), col("n_orders"),
              col("total_price"))
        }.reduce(_ union _).orderBy(col("version"))
      },
      Some(s"""WITH o AS (
          SELECT CAST(o_orderdate AS DATE) AS od, o_totalprice
          FROM orders),
        vs AS (SELECT * FROM (VALUES (1),(2),(3)) AS t(version))
        SELECT version, COUNT(*) AS n_orders,
          ${Exact.sqlSum("o_totalprice", 2)} AS total_price
        FROM vs JOIN o ON
          CASE WHEN version = 1 THEN od < DATE '1997-01-01'
               WHEN version = 2 THEN TRUE
               ELSE NOT (od >= DATE '1998-01-01' AND o_totalprice > 150000)
          END
        GROUP BY version ORDER BY version""")),

    // ----- w08: UPDATE + MERGE INTO — the remaining Iceberg row-level
    // verbs of the reference's sink format, through Spark's group-based
    // copy-on-write machinery (`SupportsRowLevelOperations` →
    // `ReplaceData`): Spark plans each statement's rewritten rows, the
    // bronze table swaps only the AFFECTED files in one atomic
    // `update`/`merge` snapshot. v1 appends orders; v2's UPDATE bumps a
    // keyed slice (static WHERE → file-pruned rewrite); v3's MERGE
    // upserts a derived source — odd keys both match (accumulate) and
    // miss (insert). The result reads every version back; the oracle
    // re-derives all three states by predicate. Arithmetic is one IEEE
    // double add per touched row — bit-identical across engines.
    QueryDef(
      "w08_merge_upsert",
      (s, d) => {
        val wh = scratch("w08", d)
        val cat = "w08cat_" + Integer.toHexString(d.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.BronzeCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        s.sql(s"DROP TABLE IF EXISTS $cat.db.orders_up")
        s.sql(s"""CREATE TABLE $cat.db.orders_up
          (o_orderkey BIGINT, o_totalprice DOUBLE, status STRING)
          USING parquet""")
        new Tables(s, d).orders.select(
            col("o_orderkey").cast("long"),
            col("o_totalprice").cast("double"),
            col("o_orderstatus").cast("string").as("status"))
          .writeTo(s"$cat.db.orders_up").append()
        s.sql(s"""UPDATE $cat.db.orders_up
          SET o_totalprice = o_totalprice + 10.0
          WHERE status = 'F' AND o_orderkey % 10 = 0""")
        new Tables(s, d).orders.select(
            (col("o_orderkey").cast("long") * 2 + 1).as("k"),
            col("o_totalprice").cast("double").as("p"))
          .filter(col("k") % 13 === 0)
          .createOrReplaceTempView("w08_src")
        s.sql(s"""MERGE INTO $cat.db.orders_up t USING w08_src s
          ON t.o_orderkey = s.k
          WHEN MATCHED THEN UPDATE SET o_totalprice = t.o_totalprice + s.p
          WHEN NOT MATCHED THEN INSERT (o_orderkey, o_totalprice, status)
            VALUES (s.k, s.p, 'N')""")
        (1 to 3).map { v =>
          s.sql(s"SELECT * FROM $cat.db.orders_up VERSION AS OF $v")
            .agg(count(lit(1)).as("n_orders"),
              Exact.dsum(col("o_totalprice"), 2).as("total_price"))
            .select(lit(v).as("version"), col("n_orders"),
              col("total_price"))
        }.reduce(_ union _).orderBy(col("version"))
      },
      Some(s"""WITH v1 AS (
          SELECT o_orderkey AS k, o_totalprice AS p, o_orderstatus AS st
          FROM orders),
        v2 AS (
          SELECT k, p + CASE WHEN st = 'F' AND k % 10 = 0
            THEN 10.0 ELSE 0 END AS p, st FROM v1),
        src AS (
          SELECT o_orderkey * 2 + 1 AS k, o_totalprice AS p FROM orders
          WHERE (o_orderkey * 2 + 1) % 13 = 0),
        v3 AS (
          SELECT t.k, t.p + COALESCE(s.p, 0) AS p, t.st
          FROM v2 t LEFT JOIN src s ON t.k = s.k
          UNION ALL
          SELECT s.k, s.p, 'N' FROM src s
          WHERE s.k NOT IN (SELECT k FROM v2)),
        stats AS (
          SELECT 1 AS version, COUNT(*) AS n_orders,
            ${Exact.sqlSum("p", 2)} AS total_price FROM v1
          UNION ALL
          SELECT 2, COUNT(*), ${Exact.sqlSum("p", 2)} FROM v2
          UNION ALL
          SELECT 3, COUNT(*), ${Exact.sqlSum("p", 2)} FROM v3)
        SELECT version, n_orders, total_price FROM stats ORDER BY version""")),

    // ----- w09: TABLE HISTORY metadata table — Iceberg's
    // `table$history`/`table$snapshots` audit surface: one row per
    // committed snapshot with its operation and ROW COUNT, built at
    // MANIFEST scale (parquet footers only — zero data pages read, so
    // auditing a 100 TB table costs |files| footer opens). The gated
    // sequence create → append → append → targeted DELETE → OPTIMIZE
    // exercises every snapshot-producing op; the oracle re-derives
    // each version's row count by predicate — so the metadata table's
    // footer arithmetic is hash-checked against an independent SQL
    // derivation, including the compaction invariant (REPLACE changes
    // layout, never rows).
    QueryDef(
      "w09_table_history",
      (s, d) => {
        val wh = scratch("w09", d)
        val cat = "w09cat_" + Integer.toHexString(d.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.BronzeCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        s.sql(s"DROP TABLE IF EXISTS $cat.db.orders_hist")
        s.sql(s"""CREATE TABLE $cat.db.orders_hist
          (o_orderkey BIGINT, o_orderdate DATE, o_totalprice DOUBLE)
          USING parquet""")
        val o = new Tables(s, d).orders.select(
          col("o_orderkey").cast("long"),
          col("o_orderdate").cast("date"),
          col("o_totalprice").cast("double"))
        Seq(
          o.filter(col("o_orderdate") < lit("1997-01-01")),
          o.filter(col("o_orderdate") >= lit("1997-01-01"))
        ).foreach(_.writeTo(s"$cat.db.orders_hist").append())
        s.sql(s"DELETE FROM $cat.db.orders_hist WHERE o_orderkey % 5 = 0")
        val bc = s.sessionState.catalogManager.catalog(cat)
          .asInstanceOf[graft.catalog.BronzeCatalog]
        bc.optimizeTable(Seq("db"), "orders_hist", 1L << 30)
        bc.historyTable(Seq("db"), "orders_hist")
          .select(col("version"), col("operation"), col("n_rows"))
          .orderBy(col("version"))
      },
      Some("""WITH o AS (
          SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS od
          FROM orders),
        h AS (
          SELECT 0 AS version, 'create' AS operation, 0 AS n_rows
          UNION ALL
          SELECT 1, 'append', COUNT(*) FROM o WHERE od < DATE '1997-01-01'
          UNION ALL
          SELECT 2, 'append', COUNT(*) FROM o
          UNION ALL
          SELECT 3, 'delete', COUNT(*) FROM o WHERE k % 5 <> 0
          UNION ALL
          SELECT 4, 'replace', COUNT(*) FROM o WHERE k % 5 <> 0)
        SELECT version, operation, CAST(n_rows AS BIGINT) AS n_rows
        FROM h ORDER BY version""")),

    // ----- w10: MERGE with the FULL clause surface — conditional
    // `WHEN MATCHED … THEN DELETE`, unconditional matched UPDATE,
    // not-matched INSERT, and the two `WHEN NOT MATCHED BY SOURCE`
    // verbs (conditional DELETE, conditional UPDATE) Iceberg/Delta
    // users reach for routinely. All five clauses plan through the
    // same group-based `ReplaceData` copy-on-write the table already
    // implements (one atomic `merge` snapshot; by-source clauses
    // widen the rewrite to every target group, as they must — any
    // target row can be source-absent). The oracle re-derives the
    // post-merge state as three disjoint SQL branches:
    // matched-survivors, source-absent survivors, inserts.
    QueryDef(
      "w10_merge_clauses",
      (s, d) => {
        val wh = scratch("w10", d)
        val cat = "w10cat_" + Integer.toHexString(d.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.BronzeCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        s.sql(s"DROP TABLE IF EXISTS $cat.db.orders_mc")
        s.sql(s"""CREATE TABLE $cat.db.orders_mc
          (o_orderkey BIGINT, o_totalprice DOUBLE, status STRING)
          USING parquet""")
        new Tables(s, d).orders.select(
            col("o_orderkey").cast("long"),
            col("o_totalprice").cast("double"),
            col("o_orderstatus").cast("string").as("status"))
          .writeTo(s"$cat.db.orders_mc").append()
        new Tables(s, d).orders
          .filter(col("o_orderkey") % 5 === 0)
          .select((col("o_orderkey").cast("long") * 2).as("k"),
            col("o_totalprice").cast("double").as("p"))
          .createOrReplaceTempView("w10_src")
        s.sql(s"""MERGE INTO $cat.db.orders_mc t USING w10_src s
          ON t.o_orderkey = s.k
          WHEN MATCHED AND t.o_totalprice < 50000.0 THEN DELETE
          WHEN MATCHED THEN UPDATE SET o_totalprice = t.o_totalprice + s.p
          WHEN NOT MATCHED THEN INSERT (o_orderkey, o_totalprice, status)
            VALUES (s.k, s.p, 'N')
          WHEN NOT MATCHED BY SOURCE AND t.o_orderkey % 97 = 0 THEN DELETE
          WHEN NOT MATCHED BY SOURCE AND t.o_orderkey % 31 = 0
            THEN UPDATE SET status = 'X'""")
        (1 to 2).map { v =>
          s.sql(s"SELECT * FROM $cat.db.orders_mc VERSION AS OF $v")
            .agg(count(lit(1)).as("n_orders"),
              Exact.dsum(col("o_totalprice"), 2).as("total_price"),
              count(when(col("status") === "X", 1)).as("n_flagged"),
              count(when(col("status") === "N", 1)).as("n_inserted"))
            .select(lit(v).as("version"), col("n_orders"),
              col("total_price"), col("n_flagged"), col("n_inserted"))
        }.reduce(_ union _).orderBy(col("version"))
      },
      Some(s"""WITH v1 AS (
          SELECT o_orderkey AS k, o_totalprice AS p, o_orderstatus AS st
          FROM orders),
        src AS (
          SELECT o_orderkey * 2 AS k, o_totalprice AS p FROM orders
          WHERE o_orderkey % 5 = 0),
        v2 AS (
          SELECT t.k, t.p + s.p AS p, t.st AS st
          FROM v1 t JOIN src s ON t.k = s.k
          WHERE NOT (t.p < 50000.0)
          UNION ALL
          SELECT t.k, t.p, CASE WHEN t.k % 31 = 0 THEN 'X' ELSE t.st END
          FROM v1 t LEFT JOIN src s ON t.k = s.k
          WHERE s.k IS NULL AND t.k % 97 <> 0
          UNION ALL
          SELECT s.k, s.p, 'N' FROM src s LEFT JOIN v1 t ON t.k = s.k
          WHERE t.k IS NULL),
        stats AS (
          SELECT 1 AS version, COUNT(*) AS n_orders,
            ${Exact.sqlSum("p", 2)} AS total_price,
            COUNT(*) FILTER (WHERE st = 'X') AS n_flagged,
            COUNT(*) FILTER (WHERE st = 'N') AS n_inserted FROM v1
          UNION ALL
          SELECT 2, COUNT(*), ${Exact.sqlSum("p", 2)},
            COUNT(*) FILTER (WHERE st = 'X'),
            COUNT(*) FILTER (WHERE st = 'N') FROM v2)
        SELECT version, n_orders, total_price, n_flagged, n_inserted
        FROM stats ORDER BY version""")),

    // ----- w11: FULL SCHEMA-EVOLUTION surface — ADD (w05/w09) plus
    // the two verbs parquet FIELD IDS make safe metadata-only ops:
    // widening ALTER COLUMN TYPE (old int32 pages read as BIGINT at
    // scan time — Spark's parquet readers widen losslessly; zero
    // rewrite) and DROP COLUMN (files keep the bytes; the dropped id
    // is retired forever by the id-marker allocator so a re-added
    // name can never resurrect old values). The gated sequence
    // append(int) → widen → append(long, values beyond int range) →
    // drop reads three schema eras back through their pinned
    // sidecars: v1 pre-widen (INT column + the dropped column live),
    // v3 post-widen (mixed int32/int64 files under one BIGINT
    // column), current post-drop. The oracle re-derives every era by
    // predicate.
    QueryDef(
      "w11_schema_evolution",
      (s, d) => {
        val wh = scratch("w11", d)
        val cat = "w11cat_" + Integer.toHexString(d.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.BronzeCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        s.sql(s"DROP TABLE IF EXISTS $cat.db.orders_ev")
        s.sql(s"""CREATE TABLE $cat.db.orders_ev
          (o_orderkey BIGINT, pri INT, o_totalprice DOUBLE, status STRING)
          USING parquet""")
        val o = new Tables(s, d).orders.select(
          col("o_orderkey").cast("long"),
          col("o_totalprice").cast("double"),
          col("o_orderdate").cast("date").as("od"),
          col("o_orderstatus").cast("string").as("status"))
        o.filter(col("od") < lit("1997-01-01"))
          .select(col("o_orderkey"),
            (col("o_orderkey") % 1000).cast("int").as("pri"),
            col("o_totalprice"), col("status"))
          .writeTo(s"$cat.db.orders_ev").append()
        s.sql(s"ALTER TABLE $cat.db.orders_ev ALTER COLUMN pri TYPE BIGINT")
        o.filter(col("od") >= lit("1997-01-01"))
          .select(col("o_orderkey"),
            (col("o_orderkey") % 1000 + 5000000000L).as("pri"),
            col("o_totalprice"), col("status"))
          .writeTo(s"$cat.db.orders_ev").append()
        s.sql(s"ALTER TABLE $cat.db.orders_ev DROP COLUMN status")
        def era(v: Int, df: org.apache.spark.sql.DataFrame,
            hasStatus: Boolean) = {
          val base = df.agg(count(lit(1)).as("n_orders"),
            sum(col("pri")).cast("long").as("sum_pri"),
            Exact.dsum(col("o_totalprice"), 2).as("total_price"),
            (if (hasStatus) countDistinct(col("status"))
             else lit(null).cast("long")).as("n_status"))
          base.select(lit(v).as("version"), col("n_orders"),
            col("sum_pri"), col("total_price"), col("n_status"))
        }
        Seq(
          era(1, s.sql(s"SELECT * FROM $cat.db.orders_ev VERSION AS OF 1"),
            hasStatus = true),
          era(3, s.sql(s"SELECT * FROM $cat.db.orders_ev VERSION AS OF 3"),
            hasStatus = true),
          era(4, s.table(s"$cat.db.orders_ev"), hasStatus = false)
        ).reduce(_ union _).orderBy(col("version"))
      },
      Some(s"""WITH o AS (
          SELECT o_orderkey AS k, o_totalprice AS p,
            CAST(o_orderdate AS DATE) AS od, o_orderstatus AS st
          FROM orders),
        v1 AS (
          SELECT k, k % 1000 AS pri, p, st FROM o
          WHERE od < DATE '1997-01-01'),
        v3 AS (
          SELECT k, k % 1000 AS pri, p, st FROM o
          WHERE od < DATE '1997-01-01'
          UNION ALL
          SELECT k, (k % 1000) + 5000000000 AS pri, p, st FROM o
          WHERE od >= DATE '1997-01-01'),
        stats AS (
          SELECT 1 AS version, COUNT(*) AS n_orders,
            CAST(SUM(pri) AS BIGINT) AS sum_pri,
            ${Exact.sqlSum("p", 2)} AS total_price,
            COUNT(DISTINCT st) AS n_status FROM v1
          UNION ALL
          SELECT 3, COUNT(*), CAST(SUM(pri) AS BIGINT),
            ${Exact.sqlSum("p", 2)}, COUNT(DISTINCT st) FROM v3
          UNION ALL
          SELECT 4, COUNT(*), CAST(SUM(pri) AS BIGINT),
            ${Exact.sqlSum("p", 2)}, CAST(NULL AS BIGINT) FROM v3)
        SELECT version, n_orders, sum_pri, total_price, n_status
        FROM stats ORDER BY version""")),

    // ----- w12: BATCH CHANGELOG READ — the one-shot twin of st13's
    // CDC stream (Iceberg's `create_changelog_view`): `spark.read`
    // over `db.t.changes` with a VERSION WINDOW (startingVersion
    // exclusive, matching the stream's offset semantics; endingVersion
    // defaults to current) returns every change row of the window —
    // no checkpoint, the audit/backfill shape. The gate windows PAST
    // the first append (v1 invisible), covers a MERGE's
    // update_before/update_after + insert rows, and nets the feed
    // with retract semantics against a SQL-derived per-version delta
    // — so window bounds, change typing, and carryover cancellation
    // all hash-check at once.
    QueryDef(
      "w12_batch_change_feed",
      (s, d) => {
        val wh = scratch("w12", d)
        val cat = "w12cat_" + Integer.toHexString(d.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.BronzeCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        s.sql(s"DROP TABLE IF EXISTS $cat.db.orders_bcdf")
        s.sql(s"""CREATE TABLE $cat.db.orders_bcdf
          (o_orderkey BIGINT, o_orderdate DATE, o_totalprice DOUBLE)
          USING parquet""")
        val o = new Tables(s, d).orders.select(
          col("o_orderkey").cast("long"),
          col("o_orderdate").cast("date"),
          col("o_totalprice").cast("double"))
        Seq(
          o.filter(col("o_orderdate") < lit("1997-01-01")),
          o.filter(col("o_orderdate") >= lit("1997-01-01"))
        ).foreach(_.writeTo(s"$cat.db.orders_bcdf").append())
        new Tables(s, d).orders.select(
            (col("o_orderkey").cast("long") * 2 + 1).as("k"),
            col("o_totalprice").cast("double").as("p"))
          .filter(col("k") % 13 === 0)
          .createOrReplaceTempView("w12_src")
        s.sql(s"""MERGE INTO $cat.db.orders_bcdf t USING w12_src s
          ON t.o_orderkey = s.k
          WHEN MATCHED THEN UPDATE
            SET o_totalprice = t.o_totalprice + s.p
          WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderdate,
            o_totalprice) VALUES (s.k, DATE '1996-01-01', s.p)""")
        val isRetract =
          col("_change_type").isin("delete", "update_before")
        s.read.option("startingVersion", "1")
          .table(s"$cat.db.orders_bcdf.changes")
          .groupBy(col("_commit_version").as("version"))
          .agg(sum(when(isRetract, -1).otherwise(1)).cast("long")
            .as("net_rows"),
            Exact.dsum(when(isRetract, -col("o_totalprice"))
              .otherwise(col("o_totalprice")), 2).as("net_price"))
          .orderBy(col("version"))
      },
      Some(s"""WITH o AS (
          SELECT o_orderkey AS k, o_totalprice AS p,
            CAST(o_orderdate AS DATE) AS od
          FROM orders),
        src AS (
          SELECT o_orderkey * 2 + 1 AS k, o_totalprice AS p FROM orders
          WHERE (o_orderkey * 2 + 1) % 13 = 0),
        matched AS (
          SELECT s.p AS dp FROM o t JOIN src s ON t.k = s.k),
        ins AS (
          SELECT s.p FROM src s LEFT JOIN o t ON t.k = s.k
          WHERE t.k IS NULL),
        stats AS (
          SELECT CAST(2 AS BIGINT) AS version, COUNT(*) AS net_rows,
            ${Exact.sqlSum("p", 2)} AS net_price
          FROM o WHERE od >= DATE '1997-01-01'
          UNION ALL
          SELECT 3, (SELECT COUNT(*) FROM ins),
            CAST(CAST(
              COALESCE((SELECT SUM(CAST(dp AS DECIMAL(18,2)))
                FROM matched), 0)
              + COALESCE((SELECT SUM(CAST(p AS DECIMAL(18,2)))
                FROM ins), 0) AS VARCHAR) AS DOUBLE))
        SELECT version, net_rows, net_price
        FROM stats ORDER BY version""")),

    // ----- w13: SNAPSHOT TAGS — named refs (Iceberg's TAG) for
    // REPRODUCIBLE TRAINING SNAPSHOTS: tag the exact version a run
    // consumed ("training-v1" → v1) and that snapshot stays readable
    // by NAME — through later appends, row-level deletes, AND a
    // vacuum whose retainLast horizon would have expired it (vacuum
    // keeps tagged versions and their files, Iceberg's
    // expire_snapshots ref semantics). The gate reads the tag-pinned
    // state and the current state after vacuum; the oracle re-derives
    // both by predicate — so tag resolution, expiry protection, and
    // the post-vacuum current state all hash-check.
    QueryDef(
      "w13_snapshot_tags",
      (s, d) => {
        val wh = scratch("w13", d)
        val cat = "w13cat_" + Integer.toHexString(d.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.BronzeCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        s.sql(s"DROP TABLE IF EXISTS $cat.db.orders_tag")
        s.sql(s"""CREATE TABLE $cat.db.orders_tag
          (o_orderkey BIGINT, o_orderdate DATE, o_totalprice DOUBLE)
          USING parquet""")
        val o = new Tables(s, d).orders.select(
          col("o_orderkey").cast("long"),
          col("o_orderdate").cast("date"),
          col("o_totalprice").cast("double"))
        val bc = s.sessionState.catalogManager.catalog(cat)
          .asInstanceOf[graft.catalog.BronzeCatalog]
        o.filter(col("o_orderdate") < lit("1997-01-01"))
          .writeTo(s"$cat.db.orders_tag").append()
        bc.tagTable(Seq("db"), "orders_tag", "training-v1", 1L)
        o.filter(col("o_orderdate") >= lit("1997-01-01"))
          .writeTo(s"$cat.db.orders_tag").append()
        s.sql(s"DELETE FROM $cat.db.orders_tag WHERE o_orderkey % 3 = 0")
        // expire everything the horizon allows — the TAG must keep v1
        bc.vacuumTable(Seq("db"), "orders_tag", retainLast = 1)
        def stats(ref: String, df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n_orders"),
            Exact.dsum(col("o_totalprice"), 2).as("total_price"))
            .select(lit(ref).as("ref"), col("n_orders"),
              col("total_price"))
        stats("tagged",
          s.sql(s"SELECT * FROM $cat.db.orders_tag " +
            "VERSION AS OF 'training-v1'"))
          .union(stats("current", s.table(s"$cat.db.orders_tag")))
          .orderBy(col("ref"))
      },
      Some(s"""WITH o AS (
          SELECT o_orderkey AS k, o_totalprice AS p,
            CAST(o_orderdate AS DATE) AS od
          FROM orders),
        stats AS (
          SELECT 'tagged' AS ref, COUNT(*) AS n_orders,
            ${Exact.sqlSum("p", 2)} AS total_price
          FROM o WHERE od < DATE '1997-01-01'
          UNION ALL
          SELECT 'current', COUNT(*), ${Exact.sqlSum("p", 2)}
          FROM o WHERE k % 3 <> 0)
        SELECT ref, n_orders, total_price
        FROM stats ORDER BY ref""")),

    // ----- w14: ROLLBACK — Iceberg's `rollback_to_snapshot`, the
    // bad-ingest recovery verb: a poisoned append steps back via ONE
    // history-preserving `rollback` snapshot (the bad version stays
    // time-travelable for the post-mortem until vacuumed; the
    // restored files are live via the new head, so vacuum keeps
    // them), and ingestion continues on the restored state. The gate
    // reads the pre-rollback "bad" era, the post-rollback current
    // era, and the net change-feed retraction of the undone commit —
    // all re-derived by predicate in the oracle.
    QueryDef(
      "w14_rollback",
      (s, d) => {
        val wh = scratch("w14", d)
        val cat = "w14cat_" + Integer.toHexString(d.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.BronzeCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        s.sql(s"DROP TABLE IF EXISTS $cat.db.orders_rb")
        s.sql(s"""CREATE TABLE $cat.db.orders_rb
          (o_orderkey BIGINT, o_orderdate DATE, o_totalprice DOUBLE)
          USING parquet""")
        val o = new Tables(s, d).orders.select(
          col("o_orderkey").cast("long"),
          col("o_orderdate").cast("date"),
          col("o_totalprice").cast("double"))
        val bc = s.sessionState.catalogManager.catalog(cat)
          .asInstanceOf[graft.catalog.BronzeCatalog]
        o.filter(col("o_orderdate") < lit("1997-01-01"))
          .writeTo(s"$cat.db.orders_rb").append()           // v1 good
        o.filter(col("o_orderdate") >= lit("1997-01-01"))
          .writeTo(s"$cat.db.orders_rb").append()           // v2 "bad"
        bc.rollbackTable(Seq("db"), "orders_rb", 1L)        // v3
        o.filter(col("o_orderdate") >= lit("1998-01-01"))
          .writeTo(s"$cat.db.orders_rb").append()           // v4 redo
        def stats(ref: String, df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n_orders"),
            Exact.dsum(col("o_totalprice"), 2).as("total_price"))
            .select(lit(ref).as("ref"), col("n_orders"),
              col("total_price"))
        val isRetract =
          col("_change_type").isin("delete", "update_before")
        val rbNet = s.read.option("startingVersion", "2")
          .option("endingVersion", "3")
          .table(s"$cat.db.orders_rb.changes")
          .agg(count(lit(1)).as("n_orders"),
            Exact.dsum(when(isRetract, -col("o_totalprice"))
              .otherwise(col("o_totalprice")), 2).as("total_price"))
          .select(lit("rollback_net").as("ref"),
            (-col("n_orders")).as("n_orders"), col("total_price"))
        stats("bad_era",
          s.sql(s"SELECT * FROM $cat.db.orders_rb VERSION AS OF 2"))
          .union(stats("current", s.table(s"$cat.db.orders_rb")))
          .union(rbNet)
          .orderBy(col("ref"))
      },
      Some(s"""WITH o AS (
          SELECT o_orderkey AS k, o_totalprice AS p,
            CAST(o_orderdate AS DATE) AS od
          FROM orders),
        stats AS (
          SELECT 'bad_era' AS ref, COUNT(*) AS n_orders,
            ${Exact.sqlSum("p", 2)} AS total_price FROM o
          UNION ALL
          SELECT 'current', COUNT(*), ${Exact.sqlSum("p", 2)} FROM o
          WHERE od < DATE '1997-01-01' OR od >= DATE '1998-01-01'
          UNION ALL
          SELECT 'rollback_net', 0 - COUNT(*), ${Exact.sqlSum("0 - p", 2)}
          FROM o WHERE od >= DATE '1997-01-01')
        SELECT ref, n_orders, total_price
        FROM stats ORDER BY ref""")),

    // ----- w15: PARTITIONED CATALOG TABLE + MANIFEST PRUNING — the
    // Iceberg hidden-partitioning surface of the reference's sink
    // (`KafkaAvroToIceberg.scala:79-89` creates a partitioned Iceberg
    // table): CREATE TABLE ... PARTITIONED BY (status, bucket(8,
    // o_orderkey)) fans every append out so each data file holds ONE
    // (status, bucket) tuple, recorded with per-column min/max in the
    // file's manifest entry; scan planning drops files the predicate
    // provably misses BEFORE Spark schedules anything. The bucket
    // transform is the part plain min/max can never express: a key
    // equality prunes to the 1/8 of files whose bucket matches the
    // literal's hash. OPTIMIZE then compacts WITHIN partition tuples,
    // and the probes re-read through the compacted layout — key
    // lookups, a status+date slice, and the full table (no rows lost
    // through fanout + compaction). PartitionedTableSpec asserts the
    // planned file list actually shrinks; this gate hash-checks the
    // answers against DuckDB deriving them straight from `orders`.
    QueryDef(
      "w15_partitioned_prune",
      (s, d) => {
        val wh = scratch("w15", d)
        val cat = "w15cat_" + Integer.toHexString(d.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.BronzeCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        s.sql(s"DROP TABLE IF EXISTS $cat.db.orders_part")
        s.sql(s"""CREATE TABLE $cat.db.orders_part
          (o_orderkey BIGINT, o_orderdate DATE, o_totalprice DOUBLE,
           status STRING)
          USING parquet
          PARTITIONED BY (status, bucket(8, o_orderkey))""")
        new Tables(s, d).orders.select(
            col("o_orderkey").cast("long"),
            col("o_orderdate").cast("date"),
            col("o_totalprice").cast("double"),
            col("o_orderstatus").cast("string").as("status"))
          .writeTo(s"$cat.db.orders_part").append()
        val bc = s.sessionState.catalogManager.catalog(cat)
          .asInstanceOf[graft.catalog.BronzeCatalog]
        bc.optimizeTable(Seq("db"), "orders_part", 1L << 30)
        val t = s.table(s"$cat.db.orders_part")
        def stats(ref: String, df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n_orders"),
            Exact.dsum(col("o_totalprice"), 2).as("total_price"))
            .select(lit(ref).as("probe"), col("n_orders"),
              col("total_price"))
        stats("key_probe",
          t.filter(col("o_orderkey").isin(1L, 32L, 4242L)))
          .union(stats("status_range", t.filter(col("status") === "F" &&
            col("o_orderdate") >= lit("1995-06-01").cast("date"))))
          .union(stats("full", t))
          .orderBy(col("probe"))
      },
      Some(s"""WITH o AS (
          SELECT o_orderkey AS k, o_totalprice AS p,
            CAST(o_orderdate AS DATE) AS od, o_orderstatus AS st
          FROM orders),
        stats AS (
          SELECT 'key_probe' AS probe, COUNT(*) AS n_orders,
            ${Exact.sqlSum("p", 2)} AS total_price
          FROM o WHERE k IN (1, 32, 4242)
          UNION ALL
          SELECT 'status_range', COUNT(*), ${Exact.sqlSum("p", 2)}
          FROM o WHERE st = 'F' AND od >= DATE '1995-06-01'
          UNION ALL
          SELECT 'full', COUNT(*), ${Exact.sqlSum("p", 2)} FROM o)
        SELECT probe, n_orders, total_price
        FROM stats ORDER BY probe""")),

    // ----- w16: MERGE-ON-READ ROW-LEVEL DELETE — Iceberg v2's
    // position-delete files (`write.delete.mode=merge-on-read`),
    // the write-amplification fix for frequent small deletes at
    // 100 TB: the same GDPR-scrub change-set as w07 commits as ONE
    // (file, pos) sidecar — O(|deleted rows|) bytes written, data
    // files untouched — instead of rewriting every affected file.
    // Readers of the delete snapshot skip the listed positions;
    // VERSION AS OF the pre-delete snapshot still reads them
    // (legal-hold); the change feed emits exactly the deleted rows as
    // retractions; and OPTIMIZE purges the sidecar by rewriting with
    // positions applied — answers must be IDENTICAL before and after
    // the purge, and identical to what w07's copy-on-write path
    // produces for the same change-set (the oracle re-derives both by
    // predicate, so MOR vs COW equivalence is hash-checked).
    QueryDef(
      "w16_mor_delete",
      (s, d) => {
        val wh = scratch("w16", d)
        val cat = "w16cat_" + Integer.toHexString(d.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.BronzeCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        s.sql(s"DROP TABLE IF EXISTS $cat.db.orders_mor")
        s.sql(s"""CREATE TABLE $cat.db.orders_mor
          (o_orderkey BIGINT, o_orderdate DATE, o_totalprice DOUBLE)
          USING parquet""")
        val o = new Tables(s, d).orders.select(
          col("o_orderkey").cast("long"),
          col("o_orderdate").cast("date"),
          col("o_totalprice").cast("double"))
        Seq(
          o.filter(col("o_orderdate") < lit("1997-01-01")),
          o.filter(col("o_orderdate") >= lit("1997-01-01"))
        ).foreach(_.writeTo(s"$cat.db.orders_mor").append())
        // v3: the scrub, merge-on-read — one sidecar, zero rewrites
        s.conf.set(graft.GraftConf.DeleteModeKey, "merge-on-read")
        try s.sql(s"""DELETE FROM $cat.db.orders_mor
          WHERE o_orderdate >= DATE '1998-01-01' AND o_totalprice > 150000""")
        finally s.conf.unset(graft.GraftConf.DeleteModeKey)
        def stats(ref: String, df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n_orders"),
            Exact.dsum(col("o_totalprice"), 2).as("total_price"))
            .select(lit(ref).as("ref"), col("n_orders"), col("total_price"))
        val isRetract =
          col("_change_type").isin("delete", "update_before")
        val cdcNet = s.read.option("startingVersion", "2")
          .option("endingVersion", "3")
          .table(s"$cat.db.orders_mor.changes")
          .agg(sum(when(isRetract, -1).otherwise(1)).cast("long")
            .as("n_orders"),
            Exact.dsum(when(isRetract, -col("o_totalprice"))
              .otherwise(col("o_totalprice")), 2).as("total_price"))
          .select(lit("cdc_net").as("ref"), col("n_orders"),
            col("total_price"))
        val preOpt =
          stats("v2_all",
            s.sql(s"SELECT * FROM $cat.db.orders_mor VERSION AS OF 2"))
            .union(stats("v3_scrubbed", s.table(s"$cat.db.orders_mor")))
            .union(cdcNet)
        // v4: purge the sidecar; answers must not move
        val bc = s.sessionState.catalogManager.catalog(cat)
          .asInstanceOf[graft.catalog.BronzeCatalog]
        bc.optimizeTable(Seq("db"), "orders_mor", 1L << 30)
        preOpt.union(stats("v4_optimized", s.table(s"$cat.db.orders_mor")))
          .orderBy(col("ref"))
      },
      Some(s"""WITH o AS (
          SELECT o_totalprice AS p, CAST(o_orderdate AS DATE) AS od
          FROM orders),
        scrubbed AS (
          SELECT p FROM o
          WHERE NOT (od >= DATE '1998-01-01' AND p > 150000)),
        gone AS (
          SELECT p FROM o
          WHERE od >= DATE '1998-01-01' AND p > 150000),
        stats AS (
          SELECT 'v2_all' AS ref, COUNT(*) AS n_orders,
            ${Exact.sqlSum("p", 2)} AS total_price FROM o
          UNION ALL
          SELECT 'v3_scrubbed', COUNT(*), ${Exact.sqlSum("p", 2)}
          FROM scrubbed
          UNION ALL
          SELECT 'cdc_net', 0 - COUNT(*), ${Exact.sqlSum("0 - p", 2)}
          FROM gone
          UNION ALL
          SELECT 'v4_optimized', COUNT(*), ${Exact.sqlSum("p", 2)}
          FROM scrubbed)
        SELECT ref, n_orders, total_price
        FROM stats ORDER BY ref""")),

    // ----- w17: BRANCHES + WRITE-AUDIT-PUBLISH — the standard
    // production-lakehouse ingestion workflow (Iceberg branch refs +
    // the WAP pattern) on the refs machinery w13/w14 built: a BAD
    // batch (poisoned negative prices) stages onto a branch where the
    // audit sees it with full SQL while MAIN NEVER DOES; the branch
    // drops; the clean batch stages on a fresh branch, audits green,
    // and fast-forward-publishes as ONE atomic validated commit. The
    // gate reads main-during-audit (only batch 1), the poisoned
    // branch view the audit rejected, the audit's own finding count,
    // and the published final state — each re-derived by predicate in
    // the oracle, so staging isolation, audit visibility, AND the
    // publish all hash-check.
    QueryDef(
      "w17_branch_wap",
      (s, d) => {
        val wh = scratch("w17", d)
        val cat = "w17cat_" + Integer.toHexString(d.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.BronzeCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        s.sql(s"DROP TABLE IF EXISTS $cat.db.orders_wap")
        s.sql(s"""CREATE TABLE $cat.db.orders_wap
          (o_orderkey BIGINT, o_orderdate DATE, o_totalprice DOUBLE)
          USING parquet""")
        val o = new Tables(s, d).orders.select(
          col("o_orderkey").cast("long"),
          col("o_orderdate").cast("date"),
          col("o_totalprice").cast("double"))
        val batch1 = o.filter(col("o_orderdate") < lit("1997-01-01"))
        val batch2 = o.filter(col("o_orderdate") >= lit("1997-01-01"))
        // the POISON: keys % 97 == 0 arrive with negated prices
        val poisoned = batch2.withColumn("o_totalprice",
          when(col("o_orderkey") % 97 === 0, -col("o_totalprice"))
            .otherwise(col("o_totalprice")))
        batch1.writeTo(s"$cat.db.orders_wap").append() // v1 good
        val bc = s.sessionState.catalogManager.catalog(cat)
          .asInstanceOf[graft.catalog.BronzeCatalog]
        bc.createBranch(Seq("db"), "orders_wap", "audit")
        bc.appendToBranch(Seq("db"), "orders_wap", "audit", poisoned)
        def stats(ref: String, df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n_orders"),
            Exact.dsum(col("o_totalprice"), 2).as("total_price"))
            .select(lit(ref).as("ref"), col("n_orders"), col("total_price"))
        val branchView = bc.readBranch(Seq("db"), "orders_wap", "audit")
        val auditFinding = branchView.filter(col("o_totalprice") < 0)
          .agg(count(lit(1)).as("n_orders"),
            Exact.dsum(col("o_totalprice"), 2).as("total_price"))
          .select(lit("audit_bad").as("ref"), col("n_orders"),
            col("total_price"))
        val duringAudit = stats("main_during_audit",
            s.table(s"$cat.db.orders_wap"))
          .union(stats("branch_staged", branchView))
          .union(auditFinding)
        // audit FAILED → drop; restage clean; audit green → publish
        bc.dropBranch(Seq("db"), "orders_wap", "audit")
        bc.createBranch(Seq("db"), "orders_wap", "audit")
        bc.appendToBranch(Seq("db"), "orders_wap", "audit", batch2)
        bc.publishBranch(Seq("db"), "orders_wap", "audit")
        duringAudit
          .union(stats("published", s.table(s"$cat.db.orders_wap")))
          .orderBy(col("ref"))
      },
      Some(s"""WITH o AS (
          SELECT o_orderkey AS k, o_totalprice AS p,
            CAST(o_orderdate AS DATE) AS od
          FROM orders),
        b1 AS (SELECT p FROM o WHERE od < DATE '1997-01-01'),
        b2p AS (
          SELECT CASE WHEN k % 97 = 0 THEN 0 - p ELSE p END AS p
          FROM o WHERE od >= DATE '1997-01-01'),
        stats AS (
          SELECT 'main_during_audit' AS ref, COUNT(*) AS n_orders,
            ${Exact.sqlSum("p", 2)} AS total_price FROM b1
          UNION ALL
          SELECT 'branch_staged', COUNT(*), ${Exact.sqlSum("p", 2)}
          FROM (SELECT p FROM b1 UNION ALL SELECT p FROM b2p)
          UNION ALL
          SELECT 'audit_bad', COUNT(*), ${Exact.sqlSum("p", 2)}
          FROM b2p WHERE p < 0
          UNION ALL
          SELECT 'published', COUNT(*), ${Exact.sqlSum("p", 2)} FROM o)
        SELECT ref, n_orders, total_price
        FROM stats ORDER BY ref""")),

    // ----- w18: MERGE-ON-READ UPDATE + MERGE INTO — Iceberg v2's
    // POSITION DELTAS (`write.update.mode`/`write.merge.mode` =
    // merge-on-read) through Spark's own SupportsDelta/WriteDelta
    // machinery: each statement retracts the old row versions via ONE
    // (file, pos) sidecar and appends only the new versions —
    // O(changed rows) write amplification; NO pre-statement data file
    // is rewritten (the `files_rewritten = 0` row is hash-checked).
    // Readers apply the sidecars; VERSION AS OF each pre-statement
    // version still reads the old values; the change feed nets to
    // exactly the statements' effect under retraction consumption;
    // and OPTIMIZE purges the sidecars with answers unmoved. All
    // mutations stay in exact-2-decimal space (adds/doublings of
    // 2-decimal inputs), so the decimal-sum gate is cross-engine
    // exact.
    QueryDef(
      "w18_mor_update_merge",
      (s, d) => {
        val wh = scratch("w18", d)
        val cat = "w18cat_" + Integer.toHexString(d.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.BronzeCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        s.sql(s"DROP TABLE IF EXISTS $cat.db.orders_delta")
        s.sql(s"""CREATE TABLE $cat.db.orders_delta
          (o_orderkey BIGINT, o_orderdate DATE, o_totalprice DOUBLE)
          USING parquet""")
        val o = new Tables(s, d).orders.select(
          col("o_orderkey").cast("long"),
          col("o_orderdate").cast("date"),
          col("o_totalprice").cast("double"))
        Seq(
          o.filter(col("o_orderdate") < lit("1997-01-01")),
          o.filter(col("o_orderdate") >= lit("1997-01-01"))
        ).foreach(_.writeTo(s"$cat.db.orders_delta").append())
        o.createOrReplaceTempView("w18_orders_src")
        s.conf.set(graft.GraftConf.UpdateModeKey, "merge-on-read")
        s.conf.set(graft.GraftConf.MergeModeKey, "merge-on-read")
        try {
          // v3: the repricing, merge-on-read — sidecar + new versions
          s.sql(s"""UPDATE $cat.db.orders_delta
            SET o_totalprice = o_totalprice + 250
            WHERE o_orderdate >= DATE '1997-06-01'""")
          // v4: the correction feed — matched hot orders double from
          // the SOURCE price, matched cold orders drop, late orders
          // (shifted keys) insert
          s.sql(s"""MERGE INTO $cat.db.orders_delta t
            USING (
              SELECT o_orderkey AS k, o_totalprice AS np
              FROM w18_orders_src WHERE o_orderkey % 7 = 0
              UNION ALL
              SELECT o_orderkey + 10000000, o_totalprice
              FROM w18_orders_src WHERE o_orderkey % 11 = 0) s
            ON t.o_orderkey = s.k
            WHEN MATCHED AND t.o_totalprice > 100000 THEN
              UPDATE SET o_totalprice = s.np * 2
            WHEN MATCHED THEN DELETE
            WHEN NOT MATCHED AND s.k >= 10000000 THEN
              INSERT (o_orderkey, o_orderdate, o_totalprice)
              VALUES (s.k, DATE '2000-01-01', s.np)""")
        } finally {
          s.conf.unset(graft.GraftConf.UpdateModeKey)
          s.conf.unset(graft.GraftConf.MergeModeKey)
        }
        def stats(ref: String, df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n_orders"),
            Exact.dsum(col("o_totalprice"), 2).as("total_price"))
            .select(lit(ref).as("ref"), col("n_orders"), col("total_price"))
        val isRetract =
          col("_change_type").isin("delete", "update_before")
        val cdcNet = s.read.option("startingVersion", "2")
          .option("endingVersion", "4")
          .table(s"$cat.db.orders_delta.changes")
          .agg(sum(when(isRetract, -1).otherwise(1)).cast("long")
            .as("n_orders"),
            Exact.dsum(when(isRetract, -col("o_totalprice"))
              .otherwise(col("o_totalprice")), 2).as("total_price"))
          .select(lit("cdc_net").as("ref"), col("n_orders"),
            col("total_price"))
        // the MOR proof: NO v2 data file was rewritten by either
        // statement — every pre-statement file survives into v4
        val bc = s.sessionState.catalogManager.catalog(cat)
          .asInstanceOf[graft.catalog.BronzeCatalog]
        val dir = bc.tableDir(Seq("db"), "orders_delta")
        val v2files = graft.catalog.SnapshotLog.read(dir, 2L).files.toSet
        val v4files = graft.catalog.SnapshotLog.read(dir, 4L).files.toSet
        val rewritten = (v2files -- v4files).size.toLong
        val morProof = s.sql(s"""SELECT 'files_rewritten' AS ref,
          CAST($rewritten AS BIGINT) AS n_orders,
          CAST(0.0 AS DOUBLE) AS total_price""")
        val preOpt =
          stats("v2_all",
            s.sql(s"SELECT * FROM $cat.db.orders_delta VERSION AS OF 2"))
            .union(stats("v3_updated",
              s.sql(s"SELECT * FROM $cat.db.orders_delta VERSION AS OF 3")))
            .union(stats("v4_merged",
              s.sql(s"SELECT * FROM $cat.db.orders_delta VERSION AS OF 4")))
            .union(cdcNet)
            .union(morProof)
        // v5: purge the sidecars; answers must not move
        bc.optimizeTable(Seq("db"), "orders_delta", 1L << 30)
        preOpt
          .union(stats("v5_optimized", s.table(s"$cat.db.orders_delta")))
          .orderBy(col("ref"))
      },
      Some(s"""WITH o AS (
          SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS od,
            o_totalprice AS p
          FROM orders),
        u AS (
          SELECT k, od, p AS orig,
            CASE WHEN od >= DATE '1997-06-01' THEN p + 250 ELSE p END AS p
          FROM o),
        kept AS (
          SELECT k, od,
            CASE WHEN k % 7 = 0 THEN orig * 2 ELSE p END AS p
          FROM u WHERE NOT (k % 7 = 0 AND p <= 100000)),
        ins AS (
          SELECT k + 10000000 AS k, DATE '2000-01-01' AS od, p
          FROM o WHERE k % 11 = 0),
        final AS (
          SELECT k, od, p FROM kept UNION ALL SELECT k, od, p FROM ins),
        stats AS (
          SELECT 'v2_all' AS ref, COUNT(*) AS n_orders,
            ${Exact.sqlSum("p", 2)} AS total_price FROM o
          UNION ALL
          SELECT 'v3_updated', COUNT(*), ${Exact.sqlSum("p", 2)} FROM u
          UNION ALL
          SELECT 'v4_merged', COUNT(*), ${Exact.sqlSum("p", 2)} FROM final
          UNION ALL
          SELECT 'cdc_net',
            (SELECT COUNT(*) FROM final) - (SELECT COUNT(*) FROM o),
            ${Exact.sqlSumDiff("p", "final", "o", 2)}
          UNION ALL
          SELECT 'files_rewritten', 0, 0.0
          UNION ALL
          SELECT 'v5_optimized', COUNT(*), ${Exact.sqlSum("p", 2)}
          FROM final)
        SELECT ref, n_orders, total_price
        FROM stats ORDER BY ref""")),

    // ----- w19: EQUALITY DELETES + STREAMING KEYED UPSERT — the CDC
    // write half (Iceberg v2 equality-delete files): each upsert
    // epoch appends its new row versions and ONE equality-delete
    // sidecar that retracts every EARLIER row with a matching key —
    // O(changed rows) written, ZERO reads of the target (position
    // deltas must scan the target to locate victims; equality deletes
    // name them by value — the shape that keeps a 100 TB keyed table
    // current from a change stream). Two epochs ride one
    // Trigger.AvailableNow run of the upsert sink (`upsertKeys`
    // option, one commit per micro-batch); the gate checks
    // last-write-wins state per version (time travel), the CDC net
    // across both upserts, that NO pre-existing data file was
    // rewritten, and that OPTIMIZE purges the sidecars with answers
    // unmoved.
    QueryDef(
      "w19_equality_upsert",
      (s, d) => {
        import java.nio.file.{Files, Paths}
        val wh = scratch("w19", d)
        val cat = "w19cat_" + Integer.toHexString(d.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.BronzeCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        s.sql(s"DROP TABLE IF EXISTS $cat.db.ledger")
        s.sql(s"CREATE TABLE $cat.db.ledger (k BIGINT, p DOUBLE) " +
          "USING parquet")
        val o = new Tables(s, d).orders.select(
          col("o_orderkey").cast("long").as("k"),
          col("o_totalprice").cast("double").as("p"))
        o.writeTo(s"$cat.db.ledger").append() // v1: the base ledger
        // stage the two upsert epochs as single mtime-ordered files —
        // the file source replays them as two micro-batches, i.e. two
        // upsert commits, in one AvailableNow run
        val stageDir = Paths.get(scratch("w19stage", d))
        LocalFs.deleteTree(stageDir)
        Files.createDirectories(stageDir)
        def stageEpoch(df: org.apache.spark.sql.DataFrame, name: String,
            mtime: Long): Unit =
          // repartition(1), NOT coalesce(1): coalesce folds the
          // upstream filter/union into the single writer task, so the
          // whole ×K orders scan runs serial; repartition keeps the
          // scan parallel and only the file write is single-task
          // (one file per epoch is the contract — one micro-batch
          // per upsert commit)
          Parquet.writeSingleFile(df.repartition(1),
            stageDir.resolve(s"$name.parquet"), mtime)
        // epoch 1: reprice every 5th key, insert a shifted late feed
        stageEpoch(
          o.filter(col("k") % 5 === 0)
            .select(col("k"), (col("p") * 2).as("p"))
            .unionAll(o.filter(col("k") % 13 === 0)
              .select((col("k") + 20000000L).as("k"), col("p"))),
          "00", 1000000L)
        // epoch 2: re-reprice every 10th key, another late feed
        stageEpoch(
          o.filter(col("k") % 10 === 0)
            .select(col("k"), (col("p") * 3).as("p"))
            .unionAll(o.filter(col("k") % 17 === 0)
              .select((col("k") + 30000000L).as("k"), col("p"))),
          "01", 1060000L)
        val ckpt = Paths.get(scratch("w19ckpt", d))
        LocalFs.deleteTree(ckpt) // fresh checkpoint: reruns replay both epochs
        val q = s.readStream.schema("k BIGINT, p DOUBLE")
          .option("maxFilesPerTrigger", 1)
          .parquet(stageDir.toString)
          .writeStream
          .option("checkpointLocation", ckpt.toString)
          .option("upsertKeys", "k")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable(s"$cat.db.ledger")
        q.awaitTermination()
        def stats(ref: String, df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n_rows"),
            Exact.dsum(col("p"), 2).as("total"))
            .select(lit(ref).as("ref"), col("n_rows"), col("total"))
        val isRetract =
          col("_change_type").isin("delete", "update_before")
        val cdcNet = s.read.option("startingVersion", "1")
          .option("endingVersion", "3")
          .table(s"$cat.db.ledger.changes")
          .agg(sum(when(isRetract, -1).otherwise(1)).cast("long")
            .as("n_rows"),
            Exact.dsum(when(isRetract, -col("p")).otherwise(col("p")), 2)
              .as("total"))
          .select(lit("cdc_net").as("ref"), col("n_rows"), col("total"))
        // the equality-delete proof: NO pre-existing data file was
        // rewritten by either upsert — every v1 file survives into v3
        val bc = s.sessionState.catalogManager.catalog(cat)
          .asInstanceOf[graft.catalog.BronzeCatalog]
        val dir = bc.tableDir(Seq("db"), "ledger")
        val v1files = graft.catalog.SnapshotLog.read(dir, 1L).files.toSet
        val v3 = graft.catalog.SnapshotLog.read(dir, 3L)
        val rewritten = (v1files -- v3.files.toSet).size.toLong +
          (if (v3.operation == "upsert" && v3.eqDeletes.size == 2) 0L
           else 1000L) // wrong op/eqdel bookkeeping reads as rewrites
        val proof = s.sql(s"""SELECT 'files_rewritten' AS ref,
          CAST($rewritten AS BIGINT) AS n_rows,
          CAST(0.0 AS DOUBLE) AS total""")
        val preOpt =
          stats("v1_base",
            s.sql(s"SELECT * FROM $cat.db.ledger VERSION AS OF 1"))
            .union(stats("v2_epoch1",
              s.sql(s"SELECT * FROM $cat.db.ledger VERSION AS OF 2")))
            .union(stats("v3_epoch2",
              s.sql(s"SELECT * FROM $cat.db.ledger VERSION AS OF 3")))
            .union(cdcNet)
            .union(proof)
        // v4: purge the equality deletes; answers must not move
        bc.optimizeTable(Seq("db"), "ledger", 1L << 30)
        preOpt
          .union(stats("v4_optimized", s.table(s"$cat.db.ledger")))
          .orderBy(col("ref"))
      },
      Some(s"""WITH o AS (
          SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
        e1 AS (
          SELECT k, CASE WHEN k % 5 = 0 THEN p * 2 ELSE p END AS p
          FROM o),
        e2 AS (
          SELECT k, CASE WHEN k % 10 = 0 THEN p * 3
            WHEN k % 5 = 0 THEN p * 2 ELSE p END AS p
          FROM o),
        ins1 AS (
          SELECT k + 20000000 AS k, p FROM o WHERE k % 13 = 0),
        ins2 AS (
          SELECT k + 30000000 AS k, p FROM o WHERE k % 17 = 0),
        v2state AS (
          SELECT k, p FROM e1 UNION ALL SELECT k, p FROM ins1),
        v3state AS (
          SELECT k, p FROM e2 UNION ALL SELECT k, p FROM ins1
          UNION ALL SELECT k, p FROM ins2),
        stats AS (
          SELECT 'v1_base' AS ref, COUNT(*) AS n_rows,
            ${Exact.sqlSum("p", 2)} AS total FROM o
          UNION ALL
          SELECT 'v2_epoch1', COUNT(*), ${Exact.sqlSum("p", 2)}
          FROM v2state
          UNION ALL
          SELECT 'v3_epoch2', COUNT(*), ${Exact.sqlSum("p", 2)}
          FROM v3state
          UNION ALL
          SELECT 'cdc_net',
            (SELECT COUNT(*) FROM v3state) - (SELECT COUNT(*) FROM o),
            -- ONE signed decimal sum (retractions negative), matching
            -- the engine's single-pass net — a difference of two
            -- separately-rounded doubles would drift in the last ulp
            (SELECT ${Exact.sqlSum("p", 2)} FROM (
              SELECT p FROM v3state
              UNION ALL SELECT -p AS p FROM o) net)
          UNION ALL
          SELECT 'files_rewritten', 0, 0.0
          UNION ALL
          SELECT 'v4_optimized', COUNT(*), ${Exact.sqlSum("p", 2)}
          FROM v3state)
        SELECT ref, n_rows, total FROM stats ORDER BY ref""")),

    // ----- w20: PARTITION-SPEC EVOLUTION — Iceberg's
    // `update_partition_spec`: a table created `bucket(4, k)` evolves
    // to `bucket(8, k)` mid-life; zero files rewrite, old files keep
    // pruning under the width that wrote them (per-file spec-era
    // pruning via generation-suffixed tuple keys — comparing an old
    // mod-4 tuple against a mod-8 hash is the one comparison that
    // would prune WRONG, and the key suffix makes it impossible), new
    // writes fan out 8-ways. At 100 TB this is how a table's layout
    // tracks its growth without a petabyte rewrite. The gate checks
    // answers across the mixed-era table, a selective filter, and
    // that every post-evolution file carries the new-era tuple.
    QueryDef(
      "w20_partition_evolution",
      (s, d) => {
        val wh = scratch("w20", d)
        val cat = "w20cat_" + Integer.toHexString(d.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.BronzeCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        s.sql(s"DROP TABLE IF EXISTS $cat.db.evo")
        s.sql(s"""CREATE TABLE $cat.db.evo (k BIGINT, p DOUBLE)
          USING parquet PARTITIONED BY (bucket(4, k))""")
        val o = new Tables(s, d).orders.select(
          col("o_orderkey").cast("long").as("k"),
          col("o_totalprice").cast("double").as("p"))
        // era 1 under bucket(4): the odd keys
        o.filter(col("k") % 2 === 1).writeTo(s"$cat.db.evo").append()
        val bc = s.sessionState.catalogManager.catalog(cat)
          .asInstanceOf[graft.catalog.BronzeCatalog]
        val dir = bc.tableDir(Seq("db"), "evo")
        val era1 = graft.catalog.SnapshotLog.current(dir).get
          .entries.map(_.name).toSet
        // evolve to bucket(8) — an `alter` snapshot, no file touched
        bc.evolvePartitionSpec(Seq("db"), "evo",
          Array(org.apache.spark.sql.connector.expressions.Expressions
            .bucket(8, "k")))
        // era 2 under bucket(8): the even keys
        o.filter(col("k") % 2 === 0).writeTo(s"$cat.db.evo").append()
        val entries = graft.catalog.SnapshotLog.current(dir).get.entries
        val era2 = entries.filterNot(e => era1.contains(e.name))
        // structural proof rendered as a gated value: every era-2
        // file carries the NEW generation's tuple key, no era-1 file
        // was rewritten
        val evolved =
          if (era2.nonEmpty && era2.forall(_.parts.contains("bucket_k@1"))
            && era1.forall(f => entries.exists(_.name == f))) 1L
          else 0L
        val proof = s.sql(s"""SELECT 'era2_new_spec' AS ref,
          CAST($evolved AS BIGINT) AS n_rows, CAST(0.0 AS DOUBLE) AS total""")
        def stats(ref: String, df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n_rows"),
            Exact.dsum(col("p"), 2).as("total"))
            .select(lit(ref).as("ref"), col("n_rows"), col("total"))
        stats("all", s.table(s"$cat.db.evo"))
          .union(stats("bucket_probe", s.table(s"$cat.db.evo")
            .filter(col("k") % 1000 === 7))) // hits both eras' buckets
          .union(proof)
          .orderBy(col("ref"))
      },
      Some(s"""WITH o AS (
          SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
        stats AS (
          SELECT 'all' AS ref, COUNT(*) AS n_rows,
            ${Exact.sqlSum("p", 2)} AS total FROM o
          UNION ALL
          SELECT 'bucket_probe', COUNT(*), ${Exact.sqlSum("p", 2)}
          FROM o WHERE k % 1000 = 7
          UNION ALL
          SELECT 'era2_new_spec', 1, 0.0)
        SELECT ref, n_rows, total FROM stats ORDER BY ref""")),

    // ----- w21: REWRITE POSITION DELETES — Iceberg's
    // `rewrite_position_deletes`: a long-lived merge-on-read table
    // accumulates one sidecar per DELETE; minor compaction merges
    // them into ONE sidecar and re-points the manifest refs WITHOUT
    // touching any data file — the cheap maintenance step between
    // full OPTIMIZE passes at 100 TB (a scan then reads 1 sidecar
    // per executor instead of N). The gate checks answers before the
    // compaction (time travel), after it, and a structural proof:
    // >=2 sidecars merged to exactly 1, zero data files touched, the
    // snapshot is layout-only (`replace`, zero CDC rows), and a
    // second call is a no-op.
    QueryDef(
      "w21_rewrite_position_deletes",
      (s, d) => {
        val wh = scratch("w21", d)
        val cat = "w21cat_" + Integer.toHexString(d.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.BronzeCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        s.sql(s"DROP TABLE IF EXISTS $cat.db.led")
        s.sql(s"CREATE TABLE $cat.db.led (k BIGINT, p DOUBLE) " +
          "USING parquet")
        new Tables(s, d).orders.select(
          col("o_orderkey").cast("long").as("k"),
          col("o_totalprice").cast("double").as("p"))
          .writeTo(s"$cat.db.led").append()
        s.conf.set(graft.GraftConf.DeleteModeKey, "merge-on-read")
        try {
          s.sql(s"DELETE FROM $cat.db.led WHERE k < 600")
          s.sql(s"DELETE FROM $cat.db.led WHERE k >= 600 AND k < 1200")
          s.sql(s"DELETE FROM $cat.db.led WHERE k >= 55000")
        } finally s.conf.unset(graft.GraftConf.DeleteModeKey)
        val bc = s.sessionState.catalogManager.catalog(cat)
          .asInstanceOf[graft.catalog.BronzeCatalog]
        val dir = bc.tableDir(Seq("db"), "led")
        val before = graft.catalog.SnapshotLog.current(dir).get
        val oldRefs = before.entries.flatMap(_.deletes).distinct
        val (merged, written) =
          bc.rewritePositionDeletesTable(Seq("db"), "led")
        val after = graft.catalog.SnapshotLog.current(dir).get
        val cdcRows = s.read
          .option("startingVersion", before.version.toString)
          .option("endingVersion", after.version.toString)
          .table(s"$cat.db.led.changes").count()
        val ok =
          if (oldRefs.size >= 2 && merged == oldRefs.size && written == 1
            && after.operation == "replace"
            && after.files == before.files
            && after.entries.flatMap(_.deletes).distinct.size == 1
            && cdcRows == 0L
            && bc.rewritePositionDeletesTable(Seq("db"), "led") == ((0, 0)))
            1L
          else 0L
        val proof = s.sql(s"""SELECT 'proof_compacted' AS ref,
          CAST($ok AS BIGINT) AS n_rows, CAST(0.0 AS DOUBLE) AS total""")
        def stats(ref: String, df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n_rows"),
            Exact.dsum(col("p"), 2).as("total"))
            .select(lit(ref).as("ref"), col("n_rows"), col("total"))
        stats("after_compact", s.table(s"$cat.db.led"))
          .union(stats("pre_compact_version", s.sql(
            s"SELECT * FROM $cat.db.led VERSION AS OF ${before.version}")))
          .union(proof)
          .orderBy(col("ref"))
      },
      Some(s"""WITH o AS (
          SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
        live AS (
          SELECT k, p FROM o
          WHERE NOT (k < 600) AND NOT (k >= 600 AND k < 1200)
            AND NOT (k >= 55000)),
        stats AS (
          SELECT 'after_compact' AS ref, COUNT(*) AS n_rows,
            ${Exact.sqlSum("p", 2)} AS total FROM live
          UNION ALL
          SELECT 'pre_compact_version', COUNT(*), ${Exact.sqlSum("p", 2)}
          FROM live
          UNION ALL
          SELECT 'proof_compacted', 1, 0.0)
        SELECT ref, n_rows, total FROM stats ORDER BY ref""")),

    // ----- w22: CONVERT EQUALITY DELETES — the Iceberg/Flink-upsert
    // maintenance step between upserts and full OPTIMIZE: equality
    // sidecars make every scan probe every row of every applicable
    // file against the key sets; conversion locates the retracted
    // rows ONCE (semi-join per sidecar over only its applicable
    // files) and swaps the key sets for one cheap position sidecar —
    // no data file rewritten, O(affected data) read vs OPTIMIZE's
    // full rewrite. The gate checks answers before (time travel) and
    // after, plus the structural proof: both eq sidecars converted to
    // one position sidecar, zero files touched, layout-only snapshot
    // (`replace`, zero CDC rows), second call a no-op.
    QueryDef(
      "w22_convert_equality_deletes",
      (s, d) => {
        val wh = scratch("w22", d)
        val cat = "w22cat_" + Integer.toHexString(d.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.BronzeCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        s.sql(s"DROP TABLE IF EXISTS $cat.db.led")
        s.sql(s"CREATE TABLE $cat.db.led (k BIGINT, p DOUBLE) " +
          "USING parquet")
        new Tables(s, d).orders.select(
          col("o_orderkey").cast("long").as("k"),
          col("o_totalprice").cast("double").as("p"))
          .writeTo(s"$cat.db.led").append()
        // two zero-read key-equality MOR DELETEs -> two eq sidecars
        s.conf.set(graft.GraftConf.DeleteModeKey, "merge-on-read")
        try {
          s.sql(s"DELETE FROM $cat.db.led " +
            "WHERE k IN (1, 2, 3, 4, 5, 6, 7)")
          s.sql(s"DELETE FROM $cat.db.led WHERE k = 32")
        } finally s.conf.unset(graft.GraftConf.DeleteModeKey)
        val bc = s.sessionState.catalogManager.catalog(cat)
          .asInstanceOf[graft.catalog.BronzeCatalog]
        val dir = bc.tableDir(Seq("db"), "led")
        val before = graft.catalog.SnapshotLog.current(dir).get
        val (converted, written) =
          bc.convertEqualityDeletesTable(Seq("db"), "led")
        val after = graft.catalog.SnapshotLog.current(dir).get
        val cdcRows = s.read
          .option("startingVersion", before.version.toString)
          .option("endingVersion", after.version.toString)
          .table(s"$cat.db.led.changes").count()
        val ok =
          if (before.eqDeletes.size == 2 && converted == 2 && written == 1
            && after.operation == "replace"
            && after.eqDeletes.isEmpty
            && after.files == before.files
            && after.entries.exists(_.deletes.nonEmpty)
            && cdcRows == 0L
            && bc.convertEqualityDeletesTable(Seq("db"), "led") == ((0, 0)))
            1L
          else 0L
        val proof = s.sql(s"""SELECT 'proof_converted' AS ref,
          CAST($ok AS BIGINT) AS n_rows, CAST(0.0 AS DOUBLE) AS total""")
        def stats(ref: String, df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n_rows"),
            Exact.dsum(col("p"), 2).as("total"))
            .select(lit(ref).as("ref"), col("n_rows"), col("total"))
        stats("after_convert", s.table(s"$cat.db.led"))
          .union(stats("eq_era_version", s.sql(
            s"SELECT * FROM $cat.db.led VERSION AS OF ${before.version}")))
          .union(proof)
          .orderBy(col("ref"))
      },
      Some(s"""WITH o AS (
          SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
        live AS (
          SELECT k, p FROM o
          WHERE k NOT IN (1, 2, 3, 4, 5, 6, 7) AND k <> 32),
        stats AS (
          SELECT 'after_convert' AS ref, COUNT(*) AS n_rows,
            ${Exact.sqlSum("p", 2)} AS total FROM live
          UNION ALL
          SELECT 'eq_era_version', COUNT(*), ${Exact.sqlSum("p", 2)}
          FROM live
          UNION ALL
          SELECT 'proof_converted', 1, 0.0)
        SELECT ref, n_rows, total FROM stats ORDER BY ref""")),

    // ----- w23: OPTIMIZE ZORDER — `rewrite_data_files` with a
    // z-order sort strategy, the one Iceberg maintenance op plain
    // bin-packing OPTIMIZE doesn't cover: an ingest-ordered events
    // table (every file spans the full (user, hour) range — no box
    // predicate prunes anything) re-clusters along the interleaved
    // z-value of BOTH dims in one layout-only `replace` snapshot.
    // The proof bit folds the structural claims (replace op, full
    // rewrite, multi-file tiling, per-file bounding boxes strictly
    // narrower on BOTH dims — i.e. plan-time pruning restored);
    // the cross-engine rows prove DATA invariance: per-type counts
    // and exact decimal sums computed from the POST-rewrite table
    // must equal DuckDB's from the raw source, and the pre-rewrite
    // version must still time-travel exactly.
    QueryDef(
      "w23_optimize_zorder",
      (s, d) => {
        val wh = scratch("w23", d)
        val cat = "w23cat_" + Integer.toHexString(d.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.BronzeCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        s.sql(s"DROP TABLE IF EXISTS $cat.db.zev")
        s.sql(s"CREATE TABLE $cat.db.zev " +
          "(u BIGINT, h BIGINT, et STRING, p DOUBLE) USING parquet")
        val ev = new Tables(s, d).events.select(
          col("user_id").cast("long").as("u"),
          expr("timestampdiff(HOUR, TIMESTAMP'2024-01-01 00:00:00', ts)")
            .cast("long").as("h"),
          col("event_type").as("et"),
          col("value").cast("double").as("p"))
        // two ingest-ordered appends: neither clusters u nor h
        Seq(ev.filter(col("u") % 2 === 0), ev.filter(col("u") % 2 === 1))
          .foreach(_.writeTo(s"$cat.db.zev").append())
        val bc = s.sessionState.catalogManager.catalog(cat)
          .asInstanceOf[graft.catalog.BronzeCatalog]
        val dir = bc.tableDir(Seq("db"), "zev")
        val before = graft.catalog.SnapshotLog.current(dir).get
        def meanSpans(): (Double, Double) = {
          val b = s.table(s"$cat.db.zev").groupBy(col("_file"))
            .agg(min("u").as("a"), max("u").as("b"),
              min("h").as("c"), max("h").as("e"))
            .collect()
          (b.map(r => r.getLong(2) - r.getLong(1)).sum.toDouble / b.length,
            b.map(r => r.getLong(4) - r.getLong(3)).sum.toDouble / b.length)
        }
        val (preU, preH) = meanSpans()
        val totalBytes = before.entries.map(e => e.bytes.getOrElse(
          java.nio.file.Files.size(
            java.nio.file.Paths.get(dir, e.name)))).sum
        // targetBytes scales with the corpus (≥8 output tiles at any
        // SF — enough z-curve splits that BOTH dims' spans shrink)
        val (nIn, nOut) = bc.optimizeTableZOrder(Seq("db"), "zev",
          math.max(2L * 1024, totalBytes / 8), Seq("u", "h"))
        val after = graft.catalog.SnapshotLog.current(dir).get
        val (postU, postH) = meanSpans()
        val ok =
          if (after.operation == "replace"
            && nIn == before.files.size && nOut >= 2
            && after.files.toSet.intersect(before.files.toSet).isEmpty
            && postU < preU && postH < preH)
            1L
          else 0L
        val proof = s.sql(s"""SELECT '_proof_zorder' AS ref,
          CAST($ok AS BIGINT) AS n_rows, CAST(0.0 AS DOUBLE) AS total""")
        def stats(refCol: Column, df: org.apache.spark.sql.DataFrame) =
          df.groupBy(refCol.as("ref"))
            .agg(count(lit(1)).as("n_rows"),
              Exact.dsum(col("p"), 2).as("total"))
        stats(col("et"), s.table(s"$cat.db.zev"))
          .union(stats(concat(lit("pre_"), col("et")), s.sql(
            s"SELECT * FROM $cat.db.zev VERSION AS OF ${before.version}")))
          .union(proof)
          .orderBy(col("ref"))
      },
      Some(s"""WITH e AS (
          SELECT event_type AS et, value AS p FROM events),
        stats AS (
          SELECT et AS ref, COUNT(*) AS n_rows,
            ${Exact.sqlSum("p", 2)} AS total FROM e GROUP BY et
          UNION ALL
          SELECT 'pre_' || et, COUNT(*), ${Exact.sqlSum("p", 2)}
          FROM e GROUP BY et
          UNION ALL
          SELECT '_proof_zorder', 1, 0.0)
        SELECT ref, n_rows, total FROM stats ORDER BY ref""")),

    // ----- w24: JSONL EXPORT + RE-READ — the interchange format every
    // LLM-data pipeline ships to and from (tokenizers, labelers,
    // eval harnesses all speak JSON-lines). The corpus lands as
    // sharded JSONL (one JSON object per line; newlines inside `text`
    // are escaped by the writer, so records stay line-delimited) and
    // is read back with an EXPLICIT schema — never inference, which
    // at 100 TB would cost a full pre-scan and can widen types on
    // dirty data. The gated result aggregates the RE-READ copy with a
    // per-row content digest (md5-derived 60-bit hash of every field,
    // XOR-folded per group) against the oracle computed from the original
    // parquet: any row lost, duplicated, or corrupted by the
    // round-trip breaks the hash. Scale: export is embarrassingly
    // parallel (one task per shard, no shuffle beyond the deal);
    // JSONL is row-oriented — fine as an EDGE format, but the gated
    // w01/w02 parquet layouts remain the analytical store (JSON scans
    // read every byte; no column pruning, no min/max skipping).
    QueryDef(
      "w24_jsonl_roundtrip",
      (s, d) => {
        val out = scratch("w24", d)
        val docs = new Tables(s, d).documents
        docs.repartition(4, col("doc_id"))
          .write.mode("overwrite").json(out)
        val back = s.read.schema(docs.schema).json(out)
        // digest: BIT_XOR of a 60-bit (15 hex chars) per-row hash —
        // order-independent AND overflow-free at any corpus size (a
        // SUM of 60-bit values can exceed signed-64 after as few as
        // 2^3 rows; found live as ARITHMETIC_OVERFLOW under ANSI
        // mode); n_docs guards the duplicate-row case XOR alone
        // would cancel
        back.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            expr("bit_xor(cast(conv(substring(md5(concat(" +
              "cast(doc_id as string), ':', text, ':', source)), 1, 15)," +
              " 16, 10) as bigint))").as("payload_digest"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
          BIT_XOR(('0x' || substr(md5(
              CAST(doc_id AS VARCHAR) || ':' || text || ':' || source),
            1, 15))::BIGINT) AS payload_digest
        FROM documents GROUP BY lang ORDER BY lang""")),

    // ----- w25: CSV EXPORT + RE-READ — the lowest-common-denominator
    // edge format (spreadsheets, legacy ETL, vendor drops). Same
    // digest-gated round-trip discipline as w24: explicit schema on
    // the read-back (CSV inference misreads everything at scale),
    // header row, quoting left to the writer. Doubles survive because
    // Java's Double.toString is shortest-round-trip and the reader
    // parses it back to the identical IEEE value; the digest's
    // decimal-cast sum would catch any engine that broke that.
    QueryDef(
      "w25_csv_roundtrip",
      (s, d) => {
        val out = scratch("w25", d)
        val src = new Tables(s, d).orders.select(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"),
          col("o_orderdate").cast("date").as("o_orderdate"),
          col("o_orderpriority"))
        // the CSV writer TRIMS leading/trailing whitespace by default
        // (lossy for text payloads) — disabled for a faithful export
        src.repartition(4, col("o_orderkey"))
          .write.mode("overwrite").option("header", "true")
          .option("ignoreLeadingWhiteSpace", "false")
          .option("ignoreTrailingWhiteSpace", "false")
          .csv(out)
        val back = s.read.schema(src.schema)
          .option("header", "true").csv(out)
        back.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            Exact.dsum(col("o_totalprice"), 2).as("total_price"),
            min(col("o_orderdate").cast("string")).as("first_day"),
            max(col("o_orderdate").cast("string")).as("last_day"),
            // concat, not concat_ws: ws SKIPS nulls while the oracle's
            // || NULL-propagates — they agree only on null-free data
            expr("bit_xor(cast(conv(substring(md5(concat(" +
              "cast(o_orderkey as string), ':', cast(o_custkey as string)," +
              "':', o_orderstatus, ':', cast(o_orderdate as string), ':'," +
              "o_orderpriority)), 1, 15), 16, 10) as bigint))")
              .as("payload_digest"))
          .orderBy(col("o_orderstatus"))
      },
      Some(s"""SELECT o_orderstatus, COUNT(*) AS n_orders,
          ${Exact.sqlSum("o_totalprice", 2)} AS total_price,
          MIN(CAST(CAST(o_orderdate AS DATE) AS VARCHAR)) AS first_day,
          MAX(CAST(CAST(o_orderdate AS DATE) AS VARCHAR)) AS last_day,
          BIT_XOR(('0x' || substr(md5(
              CAST(o_orderkey AS VARCHAR) || ':' ||
              CAST(o_custkey AS VARCHAR) || ':' || o_orderstatus || ':' ||
              CAST(CAST(o_orderdate AS DATE) AS VARCHAR) || ':' ||
              o_orderpriority), 1, 15))::BIGINT) AS payload_digest
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ----- w26: ORC EXPORT + PUSHED-DOWN RE-READ — the OTHER
    // columnar lake format (Hive/Trino shops); unlike the w24/w25
    // edge formats it keeps the analytical properties: column
    // pruning, min/max stripe skipping, and predicate pushdown all
    // survive the re-read (FormatsSpec asserts the ORC scan plans
    // with the filters PUSHED — the same audit q02 pins for
    // parquet). The gated query filters and aggregates THROUGH the
    // ORC copy and hash-checks against the parquet-derived oracle.
    QueryDef(
      "w26_orc_roundtrip",
      (s, d) => {
        val out = scratch("w26", d)
        new Tables(s, d).lineitem
          .write.mode("overwrite").orc(out)
        s.read.orc(out)
          .filter(col("l_quantity") >= 30.0 && col("l_quantity") <= 50.0)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_items"),
            Exact.dsum(col("l_extendedprice"), 2).as("sum_price"),
            Exact.dsum(col("l_quantity"), 2).as("sum_qty"))
          .orderBy(col("l_returnflag"))
      },
      Some(s"""SELECT l_returnflag, COUNT(*) AS n_items,
          ${Exact.sqlSum("l_extendedprice", 2)} AS sum_price,
          ${Exact.sqlSum("l_quantity", 2)} AS sum_qty
        FROM lineitem
        WHERE l_quantity >= 30.0 AND l_quantity <= 50.0
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ----- w27: TIME-BASED SNAPSHOT EXPIRY + PARTITIONS AUDIT — the
    // maintenance pair through the oracle gate: a partitioned table
    // takes two appends and a merge-on-read DELETE, then
    // expire_snapshots(older_than = 2nd append's commit) retires the
    // create + first append (version-floor semantics: never a
    // snapshot at/after the cutoff — the race-safe contract), and
    // the `partitions` metadata table reports per-partition LIVE
    // rows (net of the position-delete sidecars) that must equal the
    // oracle's derivation from the source rows. Proof columns:
    // retained version count and the time-travel refusal for the
    // expired append.
    QueryDef(
      "w27_snapshot_expiry_audit",
      (s, d) => {
        val wh = scratch("w27", d)
        val cat = "w27cat_" + Integer.toHexString(d.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.BronzeCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        s.sql(s"DROP TABLE IF EXISTS $cat.db.exp")
        s.sql(s"""CREATE TABLE $cat.db.exp
          (k BIGINT, status STRING, p DOUBLE) USING parquet
          PARTITIONED BY (status)""")
        val o = new Tables(s, d).orders.select(
          col("o_orderkey").cast("long").as("k"),
          col("o_orderstatus").as("status"),
          col("o_totalprice").cast("double").as("p"))
        // two appends with a strict commit-stamp boundary between
        // them (stamps are millis-derived and clamped monotone)
        o.filter(col("k") % 2 === 0).writeTo(s"$cat.db.exp").append()
        Thread.sleep(10)
        o.filter(col("k") % 2 === 1).writeTo(s"$cat.db.exp").append()
        // merge-on-read DELETE: position sidecars, no rewrite
        s.conf.set(graft.GraftConf.DeleteModeKey, "merge-on-read")
        try s.sql(s"DELETE FROM $cat.db.exp WHERE k BETWEEN 100 AND 500")
        finally s.conf.unset(graft.GraftConf.DeleteModeKey)
        val bc = s.sessionState.catalogManager.catalog(cat)
          .asInstanceOf[graft.catalog.BronzeCatalog]
        val dir = bc.tableDir(Seq("db"), "exp")
        val vs = graft.catalog.SnapshotLog.versions(dir) // v0..v3
        // prove time travel WORKS before expiry, so the refusal below
        // can only mean expiry (a catch-all would also pass on an
        // unrelated time-travel breakage)
        require(s.sql(s"SELECT * FROM $cat.db.exp VERSION AS OF ${vs(1)}")
          .count() >= 0, "pre-expiry time travel must succeed")
        bc.expireSnapshotsTable(Seq("db"), "exp",
          graft.catalog.SnapshotLog.read(dir, vs(2)).timestampMicros)
        val retained = graft.catalog.SnapshotLog.versions(dir)
        val v1Expired =
          try { s.sql(s"SELECT * FROM $cat.db.exp VERSION AS OF ${vs(1)}")
            .collect(); false }
          catch { case e: Exception =>
            def msgs(t: Throwable): Seq[String] =
              if (t == null) Seq.empty
              else Option(t.getMessage).toSeq ++ msgs(t.getCause)
            // the specific missing-snapshot refusal only (any other
            // failure leaves the bit false and the gate red)
            msgs(e).exists(_.contains(s"no snapshot version ${vs(1)}"))
          }
        graft.catalog.BronzeMetaTables.partitions(s, dir)
          .select(col("partition"), col("n_rows"),
            lit(retained.size.toLong).as("n_versions"),
            lit(v1Expired).as("v1_expired"))
          .orderBy(col("partition"))
      },
      Some("""SELECT 'status=' || o_orderstatus AS partition,
          COUNT(*) AS n_rows,
          CAST(2 AS BIGINT) AS n_versions,
          TRUE AS v1_expired
        FROM orders
        WHERE o_orderkey NOT BETWEEN 100 AND 500
        GROUP BY o_orderstatus ORDER BY partition"""))
  )
}
