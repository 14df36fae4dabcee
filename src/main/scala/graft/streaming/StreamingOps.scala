package graft.streaming

import java.nio.file.Paths
import java.util.concurrent.atomic.AtomicInteger

import graft.{Derived, Exact, LocalFs, Parquet, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured-Streaming operators over the `events` table, run as REAL
  * streaming queries: a staged copy of `events` is split into three
  * time-ordered parquet files, streamed through the file source one
  * file per micro-batch (so watermarks genuinely advance batch to
  * batch), into a memory sink. Batch SQL over the same rows oracles
  * the result — the streaming/batch consistency contract. The staged
  * copies (`events`, `documents`, `embeddings`) are [[graft.Derived]]
  * directories under `java.io.tmpdir`: rebuilt whenever their source
  * file changes, and published whole.
  *
  * Scale notes: all of these are the shapes that run unchanged on a
  * 1000-executor cluster against Kafka — the stateful aggs shuffle on
  * their grouping keys, state lives in the state store (RocksDB for
  * the session-window query), and watermarks bound state size.
  */
/** st09's processor: typed ValueState running-max per user key.
  * Top-level class — the closure must serialize cleanly to executors. */
private[streaming] class RunningMaxProcessor
  extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Double), (Long, Double, Double)] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues,
    TTLConfig, ValueState}

  @transient private var mx: ValueState[Double] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    mx = getHandle.getValueState[Double]("mx",
      org.apache.spark.sql.Encoders.scalaDouble, TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
      timerValues: TimerValues): Iterator[(Long, Double, Double)] = {
    val batchMax = rows.map(_._2).max
    val run = if (mx.exists()) math.max(mx.get(), batchMax) else batchMax
    mx.update(run)
    Iterator((key, batchMax, run))
  }
}

object StreamingOps {
  import Exact._

  private val counter = new AtomicInteger(0)

  /** A table staged for streaming as three single-file parquets,
    * `00`/`01`/`02.parquet`, its rows ranked by the total order `order`
    * and split at `cuts(n)` of `n` rows. */
  private final case class Staging(table: String, prefix: String,
      frame: Tables => DataFrame, order: Seq[String],
      cuts: Long => Seq[Long])

  // the last events file carries only the final event
  private val Events = Staging("events", "graft_stream_", _.events,
    Seq("ts", "event_id"), n => Seq(n * 2 / 5, n - 1))
  // the document INGEST stream st14 gates
  private val Documents = Staging("documents", "graft_docstream_",
    _.documents, Seq("doc_id"), n => Seq(n / 3, 2 * n / 3))
  // the QUERY stream st16 serves
  private val Embeddings = Staging("embeddings", "graft_embstream_",
    _.embeddings, Seq("vec_id"), n => Seq(n / 3, 2 * n / 3))

  /** The staged copy of `st.table` under `dir`, derived from its source
    * file (rebuilt when that changes). Modification times increase a
    * minute per file, so the file source replays them in order. */
  private def stage(s: SparkSession, dir: String, st: Staging): String =
    Derived.dir(Derived.under(st.prefix, dir), "v1",
        Seq(s"$dir/${st.table}.parquet")) { out =>
      val df = st.frame(new Tables(s, dir))
      val n = df.count()
      val ranked = df.withColumn("rn", row_number().over(
        Window.orderBy(st.order.map(col): _*)) - 1)
      val bounds = 0L +: st.cuts(n) :+ n
      bounds.zip(bounds.tail).zipWithIndex.foreach { case ((lo, hi), i) =>
        Parquet.writeSingleFile(
          ranked.filter(col("rn") >= lo && col("rn") < hi).drop("rn")
            .coalesce(1),
          Paths.get(out, f"$i%02d.parquet"), 1000000L + i * 60000L)
      }
    }

  /** `st.table` as an unbounded stream, one staged file per
    * micro-batch. */
  private def stream(s: SparkSession, dir: String, st: Staging)
      : DataFrame = {
    val staged = stage(s, dir, st)
    s.readStream.schema(s.read.parquet(s"$staged/00.parquet").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)
  }

  /** Progress rows of the most recent [[runToMemory]] query. The
    * ScaleUp state probes read `StateOperatorProgress` (state rows,
    * state-store bytes) from here after a probe completes — state
    * growth ∝ keys is the axis that kills streaming jobs at 100 TB,
    * so it is measured alongside wall time, not inferred. */
  private[graft] val lastProgress = new java.util.concurrent.atomic
    .AtomicReference[Seq[org.apache.spark.sql.streaming
      .StreamingQueryProgress]](Nil)

  /** Run a streaming frame to a memory sink until all staged input is
    * consumed; returns the materialized sink table. */
  private def runToMemory(s: SparkSession, streamed: DataFrame,
      mode: String): DataFrame = {
    val name = s"graft_sink_${counter.incrementAndGet()}"
    val q = streamed.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    lastProgress.set(q.recentProgress.toSeq)
    s.table(name)
  }

  // a DEF, not a val: st15's oracle embeds Dedup's override-aware
  // shingle df cap — a val would freeze whatever conf happened to be
  // set at first access (the Similarity/Dedup/TextAnalysis discipline)
  def queries: Seq[QueryDef] = Seq(

    // ----- st01: watermark + tumbling window, APPEND mode — only
    // windows sealed by the final watermark (max event time − 30 min)
    // are emitted; the oracle applies the same cutoff in SQL. This is
    // the real late-data-bounding mechanism, not a batch emulation.
    QueryDef(
      "st01_stream_tumbling_watermark",
      (s, d) => {
        val agg = stream(s, d, Events)
          .withWatermark("ts", "30 minutes")
          .groupBy(window(col("ts"), "6 hours"), col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("sum_value"))
          .select(col("window.start").as("win_start"),
            col("window.end").as("win_end"), col("event_type"),
            col("n"), col("sum_value"))
        runToMemory(s, agg, "append")
          .orderBy(col("win_start"), col("event_type"))
      },
      Some(s"""SELECT make_timestamp((epoch_us(ts) // 21600000000) * 21600000000)
            AS win_start,
          make_timestamp((epoch_us(ts) // 21600000000) * 21600000000 + 21600000000)
            AS win_end,
          event_type, COUNT(*) AS n, ${sqlSum("value", 2)} AS sum_value
        FROM events
        GROUP BY 1, 2, 3
        HAVING win_end <= (SELECT MAX(ts) - INTERVAL 30 MINUTE FROM events)
        ORDER BY win_start, event_type""")),

    // ----- st02: sliding window (6h size, 3h slide), COMPLETE mode —
    // every event lands in two windows; the oracle reproduces Spark's
    // epoch-aligned window assignment with integer µs arithmetic.
    QueryDef(
      "st02_stream_sliding_window",
      (s, d) => {
        // State partitioning is pinned for a streaming query's
        // lifetime, so size it to the STATE's key cardinality (a
        // handful of 6h/3h windows), not the session's batch-shuffle
        // width: 32 state stores for 6 keys write 32 delta/commit
        // files per micro-batch for nothing — on a shared-disk host
        // that small-file fsync storm was also the dominant
        // run-to-run jitter in the bench. Same discipline a
        // production COMPLETE-mode dashboard agg applies.
        val prev = s.conf.get("spark.sql.shuffle.partitions")
        s.conf.set("spark.sql.shuffle.partitions", "4")
        val mat = try {
          val agg = stream(s, d, Events)
            .groupBy(window(col("ts"), "6 hours", "3 hours"))
            .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("sum_value"))
            .select(col("window.start").as("win_start"),
              col("window.end").as("win_end"), col("n"), col("sum_value"))
          runToMemory(s, agg, "complete")
        } finally s.conf.set("spark.sql.shuffle.partitions", prev)
        mat.orderBy(col("win_start"))
      },
      Some(s"""SELECT make_timestamp(start_us) AS win_start,
          make_timestamp(start_us + 21600000000) AS win_end,
          COUNT(*) AS n, ${sqlSum("value", 2)} AS sum_value
        FROM (SELECT value,
                (epoch_us(ts) // 10800000000 - k) * 10800000000 AS start_us
              FROM events, UNNEST(generate_series(0, 1)) AS u(k)
              WHERE epoch_us(ts) >= (epoch_us(ts) // 10800000000 - k) * 10800000000
                AND epoch_us(ts) <  (epoch_us(ts) // 10800000000 - k) * 10800000000
                      + 21600000000)
        GROUP BY start_us ORDER BY win_start"""),
      headline = true),

    // ----- st03: session windows (30-min gap) per user on the RocksDB
    // state store provider — session end = last event + gap, merged
    // transitively; the oracle is the classic gaps-and-islands SQL.
    QueryDef(
      "st03_stream_session_window",
      (s, d) => {
        val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          val agg = stream(s, d, Events)
            .withWatermark("ts", "10 minutes")
            .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
            .agg(count(lit(1)).as("n_events"), dsum(col("value"), 2).as("sum_value"))
            .select(col("session_window.start").as("sess_start"),
              col("session_window.end").as("sess_end"), col("user_id"),
              col("n_events"), col("sum_value"))
          runToMemory(s, agg, "complete")
            .orderBy(col("user_id"), col("sess_start"))
        } finally {
          prev match {
            case Some(v) => s.conf.set("spark.sql.streaming.stateStore.providerClass", v)
            case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
          }
        }
      },
      Some(s"""WITH marked AS (
          SELECT user_id, ts, value,
            CASE WHEN LAG(ts) OVER w IS NULL
                   OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                 THEN 1 ELSE 0 END AS new_sess
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sess AS (
          SELECT user_id, ts, value,
            SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
          FROM marked)
        SELECT MIN(ts) AS sess_start,
          MAX(ts) + INTERVAL 30 MINUTE AS sess_end,
          user_id, COUNT(*) AS n_events, ${sqlSum("value", 2)} AS sum_value
        FROM sess GROUP BY user_id, sess_id
        ORDER BY user_id, sess_start""")),

    // ----- st04: streaming dedup with watermark-bounded state. The
    // staged input is streamed TWICE (two passes through the same
    // files via union of two stream reads) and
    // dropDuplicatesWithinWatermark keeps each event once.
    QueryDef(
      "st04_stream_dedup",
      (s, d) => {
        val dedup = stream(s, d, Events).unionAll(stream(s, d, Events))
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
          .select(col("event_id"), col("event_type"), col("value"))
        runToMemory(s, dedup, "append").orderBy(col("event_id"))
      },
      Some("""SELECT event_id, event_type, value FROM events
        ORDER BY event_id""")),

    // ----- st06: STREAM-STREAM inner join with event-time bounds:
    // each 'click' joins 'view' events of the same user from the
    // preceding 30 minutes. Both sides carry watermarks (1h > the 30min
    // join window, so no match can be lost to state eviction); state is
    // watermark-bounded — the shape that holds on unbounded Kafka
    // topics. Oracle: the identical time-bounded batch join.
    QueryDef(
      "st06_stream_stream_join",
      (s, d) => {
        val clicks = stream(s, d, Events)
          .filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts").as("click_ts"))
          .withWatermark("click_ts", "1 hour")
        val views = stream(s, d, Events)
          .filter(col("event_type") === "view")
          .select(col("event_id").as("view_id"),
            col("user_id").as("view_user"), col("ts").as("view_ts"))
          .withWatermark("view_ts", "1 hour")
        val joined = clicks.join(views,
          col("user_id") === col("view_user")
            && col("view_ts") <= col("click_ts")
            && col("view_ts") >= col("click_ts") - expr("INTERVAL 30 MINUTES"))
          .select(col("click_id"), col("user_id"), col("view_id"),
            col("click_ts"), col("view_ts"))
        runToMemory(s, joined, "append")
          .orderBy(col("click_id"), col("view_id"))
      },
      Some("""SELECT c.event_id AS click_id, c.user_id, v.event_id AS view_id,
          c.ts AS click_ts, v.ts AS view_ts
        FROM events c JOIN events v
          ON c.user_id = v.user_id
         AND c.event_type = 'click' AND v.event_type = 'view'
         AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 30 MINUTE
        ORDER BY click_id, view_id""")),

    // ----- st08: STREAM-STREAM LEFT OUTER join — clicks that saw no
    // view in the preceding 30 minutes surface with NULL view columns.
    // Unmatched left rows can only emit when the watermark proves no
    // matching view can still arrive; under AvailableNow the trailing
    // no-data micro-batch advances the watermark to (global max ts −
    // 1 h) and flushes state, so exactly the clicks strictly below
    // that final watermark emit their NULL row — the oracle applies
    // the same cutoff. Clicks younger than the final watermark that
    // never matched remain pending (correct unbounded-stream
    // semantics), so they appear in neither result.
    QueryDef(
      "st08_stream_stream_left_outer",
      (s, d) => {
        val clicks = stream(s, d, Events)
          .filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts").as("click_ts"))
          .withWatermark("click_ts", "1 hour")
        val views = stream(s, d, Events)
          .filter(col("event_type") === "view")
          .select(col("event_id").as("view_id"),
            col("user_id").as("view_user"), col("ts").as("view_ts"))
          .withWatermark("view_ts", "1 hour")
        val joined = clicks.join(views,
          col("user_id") === col("view_user")
            && col("view_ts") <= col("click_ts")
            && col("view_ts") >= col("click_ts") - expr("INTERVAL 30 MINUTES"),
          "left_outer")
          .select(col("click_id"), col("user_id"), col("view_id"),
            col("click_ts"), col("view_ts"))
        runToMemory(s, joined, "append")
          .orderBy(col("click_id"), col("view_id").asc_nulls_first)
      },
      Some("""WITH c AS (SELECT event_id, user_id, ts FROM events
                WHERE event_type = 'click'),
          v AS (SELECT event_id, user_id, ts FROM events
                WHERE event_type = 'view'),
          -- The query watermark is the MIN over both sides, and each
          -- side's watermark tracks the max event time seen AFTER its
          -- filter (clicks only / views only), floored to Spark's
          -- millisecond watermark granularity. A click that IS the
          -- latest click can therefore never be evicted — the clicks-
          -- side watermark stops one delay short of it.
          wm AS (SELECT make_timestamp(LEAST(
                   (SELECT (epoch_us(MAX(ts)) // 1000) - 3600000 FROM c),
                   (SELECT (epoch_us(MAX(ts)) // 1000) - 3600000 FROM v))
                   * 1000) AS w),
          matched AS (
            SELECT c.event_id AS click_id, c.user_id, v.event_id AS view_id,
              c.ts AS click_ts, v.ts AS view_ts
            FROM c JOIN v ON c.user_id = v.user_id
             AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 30 MINUTE),
          unmatched AS (
            SELECT c.event_id AS click_id, c.user_id,
              CAST(NULL AS BIGINT) AS view_id,
              c.ts AS click_ts, CAST(NULL AS TIMESTAMP) AS view_ts
            FROM c
            WHERE c.ts < (SELECT w FROM wm)
              AND NOT EXISTS (SELECT 1 FROM v
                WHERE v.user_id = c.user_id
                  AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 30 MINUTE))
        SELECT * FROM matched
        UNION ALL SELECT * FROM unmatched
        ORDER BY click_id, view_id NULLS FIRST""")),

    // ----- st07: arbitrary stateful processing (flatMapGroupsWithState):
    // a per-user cumulative event counter whose state survives across
    // micro-batches. Emits one row per (user, batch-with-data) —
    // deterministic because the staged replay fixes batch boundaries
    // (first 40% / middle / final event) — and the oracle recomputes the
    // same per-batch cumulative counts with window SQL.
    QueryDef(
      "st07_stateful_counter",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
        val perUser = stream(s, d, Events)
          .select(col("user_id"), col("event_id"))
          .as[(Long, Long)]
          .groupByKey(_._1)
          .flatMapGroupsWithState[Long, (Long, Long, Long)](
            OutputMode.Append, GroupStateTimeout.NoTimeout) {
            (user: Long, rows: Iterator[(Long, Long)], state: GroupState[Long]) =>
              val n = rows.size.toLong
              val cum = state.getOption.getOrElse(0L) + n
              state.update(cum)
              Iterator((user, n, cum))
          }
          .toDF("user_id", "n_in_batch", "cum_count")
        runToMemory(s, perUser, "append")
          .orderBy(col("user_id"), col("cum_count"))
      },
      Some("""WITH sized AS (SELECT COUNT(*) AS n FROM events),
        ordered AS (SELECT user_id,
            ROW_NUMBER() OVER (ORDER BY ts, event_id) - 1 AS rn
          FROM events),
        tagged AS (SELECT user_id,
            CASE WHEN rn < (SELECT n * 2 // 5 FROM sized) THEN 0
                 WHEN rn < (SELECT n - 1 FROM sized) THEN 1
                 ELSE 2 END AS batch
          FROM ordered),
        per_batch AS (SELECT user_id, batch, COUNT(*) AS n_in_batch
                      FROM tagged GROUP BY user_id, batch)
        SELECT user_id, CAST(n_in_batch AS BIGINT) AS n_in_batch,
          CAST(SUM(n_in_batch) OVER (PARTITION BY user_id ORDER BY batch)
            AS BIGINT) AS cum_count
        FROM per_batch ORDER BY user_id, cum_count""")),

    // ----- st09: transformWithState (the Spark-4 arbitrary-state API
    // superseding flatMapGroupsWithState): a per-user running maximum
    // kept in a typed ValueState on the (mandatory for this operator)
    // RocksDB store, one output row per (user, batch-with-data). Pure
    // MAX — no float arithmetic — so the values are exact; the oracle
    // recomputes the staged batch boundaries like st07's.
    QueryDef(
      "st09_transform_with_state",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          val out = stream(s, d, Events)
            .select(col("user_id"), col("value")).as[(Long, Double)]
            .groupByKey(_._1)
            .transformWithState(new RunningMaxProcessor,
              TimeMode.None(), OutputMode.Append())
            .toDF("user_id", "batch_max", "running_max")
          runToMemory(s, out, "append")
            .orderBy(col("user_id"), col("running_max"), col("batch_max"))
        } finally {
          prev match {
            case Some(v) => s.conf.set("spark.sql.streaming.stateStore.providerClass", v)
            case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
          }
        }
      },
      Some("""WITH sized AS (SELECT COUNT(*) AS n FROM events),
        ordered AS (SELECT user_id, value,
            ROW_NUMBER() OVER (ORDER BY ts, event_id) - 1 AS rn
          FROM events),
        tagged AS (SELECT user_id, value,
            CASE WHEN rn < (SELECT n * 2 // 5 FROM sized) THEN 0
                 WHEN rn < (SELECT n - 1 FROM sized) THEN 1
                 ELSE 2 END AS batch
          FROM ordered),
        per_batch AS (SELECT user_id, batch, MAX(value) AS batch_max
                      FROM tagged GROUP BY user_id, batch)
        SELECT user_id, batch_max,
          MAX(batch_max) OVER (PARTITION BY user_id ORDER BY batch)
            AS running_max
        FROM per_batch
        ORDER BY user_id, running_max, batch_max""")),

    // ----- st05: stream-static join — the streaming fact joins the
    // static `customer` dim (broadcast per micro-batch), then a
    // running aggregation by segment in COMPLETE mode.
    QueryDef(
      "st05_stream_static_join",
      (s, d) => {
        val dim = new Tables(s, d).customer
        val agg = stream(s, d, Events)
          .join(broadcast(dim), col("user_id") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("sum_value"))
        runToMemory(s, agg, "complete").orderBy(col("c_mktsegment"))
      },
      Some(s"""SELECT c_mktsegment, COUNT(*) AS n,
          ${sqlSum("value", 2)} AS sum_value
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ----- st10: STREAMING BLOOM ADMISSION GATE — CDC-style ingest
    // dedup: admit only events from entities NOT already in the
    // registry (here: the c_custkey % 3 == 0 "known" stripe). The
    // bloom of the known set rides the streaming plan as a codegen'd
    // scan predicate, so the overwhelmingly-common known case is
    // killed per-row with NO join and NO state; only the bloom-maybe
    // sliver takes the exact broadcast LEFT ANTI verify (false
    // positives die there — output is bit-exact), and the bloom-no
    // fast path bypasses the join entirely. At 100 TB/day of events
    // against a 10⁹-row registry this is the difference between a
    // per-event join probe and a per-event bit test. Same two-stage
    // discipline as t11, inside a streaming plan.
    QueryDef(
      "st10_stream_bloom_gate",
      (s, d) => {
        val known = new Tables(s, d).customer
          .filter(col("c_custkey") % 3 === 0)
          .select(col("c_custkey"))
        val bloom = graft.functions.BloomFunctions.buildBloom(
          known.select(col("c_custkey").cast("string").as("k")), "k",
          expectedItems = 1L << 16, fpp = 0.01)
        graft.functions.BloomFunctions.registerMightContain(
          s, "graft_bloom_known", bloom)
        val probe = "graft_bloom_known(cast(user_id as string))"
        val cols = Seq(col("event_id"), col("user_id"),
          col("event_type"), col("value"))
        val fastPathNew = stream(s, d, Events)
          .filter(!expr(probe)).select(cols: _*)
        val verifiedNew = stream(s, d, Events)
          .filter(expr(probe))
          .join(broadcast(known), col("user_id") === col("c_custkey"),
            "left_anti")
          .select(cols: _*)
        runToMemory(s, fastPathNew.unionByName(verifiedNew), "append")
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, user_id, event_type, value FROM events e
        WHERE NOT EXISTS (SELECT 1 FROM customer c
          WHERE c.c_custkey = e.user_id AND c.c_custkey % 3 = 0)
        ORDER BY event_id""")),

    // ----- st11: CHAINED STATEFUL AGGREGATIONS — two windowed
    // aggregations in ONE streaming query (Spark 4's
    // multiple-stateful-operator support): 3-hour per-event-type
    // counts roll up into 12-hour summary windows via
    // window(window_time(...)), state cascading state — the
    // minute→hour→day rollup every metrics pipeline runs, WITHOUT
    // landing the intermediate in a table and re-reading it. Both
    // operators keep their own state store; the inner window's
    // emission (watermark-sealed) feeds the outer as event-time rows.
    // Because 3 h tiles align inside 12 h windows, a sealed outer
    // window can only contain sealed inner windows — which is what
    // makes the batch oracle expressible with the same two HAVING
    // cutoffs.
    QueryDef(
      "st11_stream_chained_agg",
      (s, d) => {
        // st02's state-sizing discipline, doubled stakes: TWO
        // stateful operators each commit one state store per shuffle
        // partition per micro-batch, and the key cardinality is a few
        // hundred (3h window × type) / tens (12h window) — 2×32
        // store commits per batch for that is pure delta-file/fsync
        // overhead (measured r20: Σ commitTimeMs ≈ 7–12 s per batch
        // across the 64 stores vs ~1 s of actual addBatch wall).
        val prev = s.conf.get("spark.sql.shuffle.partitions")
        s.conf.set("spark.sql.shuffle.partitions", "4")
        val mat = try {
          val inner = stream(s, d, Events)
            .withWatermark("ts", "30 minutes")
            .groupBy(window(col("ts"), "3 hours"), col("event_type"))
            .agg(count(lit(1)).as("n"))
          val outer = inner
            .groupBy(window(window_time(col("window")), "12 hours"))
            .agg(sum(col("n")).as("n_events"),
              count(lit(1)).as("n_type_windows"),
              max(col("n")).as("max_type_window"))
            .select(col("window.start").as("win_start"),
              col("window.end").as("win_end"), col("n_events"),
              col("n_type_windows"), col("max_type_window"))
          runToMemory(s, outer, "append")
        } finally s.conf.set("spark.sql.shuffle.partitions", prev)
        mat.orderBy(col("win_start"))
      },
      Some("""WITH wm AS (
          SELECT MAX(ts) - INTERVAL 30 MINUTE AS w FROM events),
        sub AS (
          SELECT (epoch_us(ts) // 10800000000) * 10800000000 AS sub_start,
            event_type, COUNT(*) AS n
          FROM events GROUP BY 1, 2
          HAVING make_timestamp(sub_start + 10800000000) <=
            (SELECT w FROM wm)),
        big AS (
          SELECT (sub_start // 43200000000) * 43200000000 AS big_start,
            CAST(SUM(n) AS BIGINT) AS n_events,
            COUNT(*) AS n_type_windows,
            MAX(n) AS max_type_window
          FROM sub GROUP BY 1
          HAVING make_timestamp(big_start + 43200000000) <=
            (SELECT w FROM wm))
        SELECT make_timestamp(big_start) AS win_start,
          make_timestamp(big_start + 43200000000) AS win_end,
          n_events, n_type_windows, max_type_window
        FROM big ORDER BY win_start""")),

    // ----- st12: STREAMING READ OFF THE SNAPSHOT LOG — the bronze
    // catalog table as a STREAMING SOURCE (`readStream.table`), the
    // read half of the Iceberg streaming story: offsets are snapshot
    // versions, each micro-batch is exactly one appended snapshot's
    // files (maxVersionsPerTrigger=1 forces version-per-batch here),
    // and the stateful aggregation accumulates across those batches.
    // At 100 TB: the downstream job tails the table's manifest log at
    // |delta| cost per trigger, with checkpointed exactly-once resume
    // (restart + replace-refusal proven in TimeTravelSpec).
    QueryDef(
      "st12_stream_snapshot_source",
      (s, d) => {
        val wh = Derived.under("graft_st12-", d)
        val cat = "st12cat_" + Integer.toHexString(d.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.BronzeCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        s.sql(s"DROP TABLE IF EXISTS $cat.db.orders_src")
        s.sql(s"""CREATE TABLE $cat.db.orders_src
          (o_orderkey BIGINT, o_orderdate DATE, o_totalprice DOUBLE)
          USING parquet""")
        val o = new Tables(s, d).orders.select(
          col("o_orderkey").cast("long"),
          col("o_orderdate").cast("date"),
          col("o_totalprice").cast("double"))
        Seq( // three snapshots = three micro-batches
          o.filter(col("o_orderdate") < lit("1997-01-01")),
          o.filter(col("o_orderdate") >= lit("1997-01-01") &&
            col("o_orderdate") < lit("1999-01-01")),
          o.filter(col("o_orderdate") >= lit("1999-01-01"))
        ).foreach(_.writeTo(s"$cat.db.orders_src").append())
        val agg = s.readStream
          .option("startingVersion", "0")
          .option("maxVersionsPerTrigger", "1")
          .table(s"$cat.db.orders_src")
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice"), 2).as("total_price"))
        runToMemory(s, agg, "complete").orderBy(col("o_year"))
      },
      Some(s"""SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS o_year,
          COUNT(*) AS n_orders,
          ${sqlSum("o_totalprice", 2)} AS total_price
        FROM orders GROUP BY 1 ORDER BY 1""")),

    // ----- st13: CHANGE-DATA-FEED streaming read — the CDC consumer
    // of the row-level ops: `readStream.table("….orders_cdc.changes")`
    // emits every commit's rows tagged `_change_type` (insert /
    // delete / update_before / update_after) + `_commit_version`,
    // with KEYLESS copy-on-write changelog semantics (Iceberg's base
    // changelog): a rewritten file's surviving rows appear as
    // retraction/addition carryover pairs that cancel under retract
    // consumption, and a REPLACE (compaction) snapshot emits NOTHING
    // — the stream sails across layout changes instead of refusing
    // (st12's plain-read rule). The gate aggregates the feed with
    // retract semantics into per-version NET deltas (rows, exact
    // decimal-routed price) across append → append → DELETE →
    // OPTIMIZE → UPDATE, and the oracle re-derives every delta by
    // predicate — carryovers, file layout, and compaction all cancel
    // out of the hash. Restart/labels proven in CdcStreamSpec.
    QueryDef(
      "st13_stream_change_feed",
      (s, d) => {
        val wh = Derived.under("graft_st13-", d)
        val cat = "st13cat_" + Integer.toHexString(d.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.BronzeCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        s.sql(s"DROP TABLE IF EXISTS $cat.db.orders_cdc")
        s.sql(s"""CREATE TABLE $cat.db.orders_cdc
          (o_orderkey BIGINT, o_orderdate DATE, o_totalprice DOUBLE)
          USING parquet""")
        val o = new Tables(s, d).orders.select(
          col("o_orderkey").cast("long"),
          col("o_orderdate").cast("date"),
          col("o_totalprice").cast("double"))
        Seq(
          o.filter(col("o_orderdate") < lit("1997-01-01")),
          o.filter(col("o_orderdate") >= lit("1997-01-01"))
        ).foreach(_.writeTo(s"$cat.db.orders_cdc").append())
        s.sql(s"DELETE FROM $cat.db.orders_cdc WHERE o_orderkey % 5 = 0")
        s.sessionState.catalogManager.catalog(cat)
          .asInstanceOf[graft.catalog.BronzeCatalog]
          .optimizeTable(Seq("db"), "orders_cdc", 1L << 30) // v4: replace
        s.sql(s"""UPDATE $cat.db.orders_cdc
          SET o_totalprice = o_totalprice + 10.0
          WHERE o_orderkey % 7 = 0""")
        val isRetract =
          col("_change_type").isin("delete", "update_before")
        val agg = s.readStream.option("startingVersion", "0")
          .table(s"$cat.db.orders_cdc.changes")
          .groupBy(col("_commit_version").as("version"))
          .agg(sum(when(isRetract, -1).otherwise(1)).cast("long")
            .as("net_rows"),
            dsum(when(isRetract, -col("o_totalprice"))
              .otherwise(col("o_totalprice")), 2).as("net_price"))
        runToMemory(s, agg, "complete").orderBy(col("version"))
      },
      Some(s"""WITH o AS (
          SELECT o_orderkey AS k, o_totalprice AS p,
            CAST(o_orderdate AS DATE) AS od
          FROM orders),
        stats AS (
          SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS net_rows,
            ${sqlSum("p", 2)} AS net_price
          FROM o WHERE od < DATE '1997-01-01'
          UNION ALL
          SELECT 2, COUNT(*), ${sqlSum("p", 2)}
          FROM o WHERE od >= DATE '1997-01-01'
          UNION ALL
          SELECT 3, 0 - COUNT(*), ${sqlSum("0 - p", 2)}
          FROM o WHERE k % 5 = 0
          UNION ALL
          SELECT 5, 0, CAST(CAST(
              SUM(CAST(p + 10.0 AS DECIMAL(18,2)))
              - SUM(CAST(p AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
          FROM o WHERE k % 7 = 0 AND k % 5 <> 0)
        SELECT version, net_rows, net_price
        FROM stats ORDER BY version""")),

    // ----- st14: STREAMING QUALITY GATE — the t17 model-based
    // classifier run where production actually runs it: on the
    // document INGEST stream, before anything lands in the lake. The
    // scorer is a stateless codegen'd projection (the exact frame
    // batch t17 uses, via TextAnalysis.qualityClassified), so the
    // stage adds ZERO state; the per-language admission dashboard is
    // the only stateful agg (a handful of keys, COMPLETE mode). All
    // outputs are integer-exact (doc/kept counts + kept weight sums),
    // so the batch-SQL oracle hash-matches — the streaming/batch
    // consistency contract for the curation stage itself.
    QueryDef(
      "st14_stream_quality_gate",
      (s, d) => {
        // state = one row per language: size state partitioning to
        // the key cardinality, not the session's batch-shuffle width
        // (st02's discipline)
        val prev = s.conf.get("spark.sql.shuffle.partitions")
        s.conf.set("spark.sql.shuffle.partitions", "4")
        val mat = try {
          val gated = graft.operators.TextAnalysis
            .qualityClassified(stream(s, d, Documents))
            .groupBy(col("lang"))
            .agg(count(lit(1)).as("n_docs"),
              sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
              sum(when(col("keep"), col("wsum")).otherwise(0L))
                .as("kept_wsum"))
          runToMemory(s, gated, "complete")
        } finally s.conf.set("spark.sql.shuffle.partitions", prev)
        mat.orderBy(col("lang"))
      },
      Some("""WITH tok AS (
          SELECT doc_id, lang,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
          FROM documents),
        scored AS (
          SELECT doc_id, lang, COUNT(*) AS n_toks,
            CAST(SUM(('0x' || substr(md5('w:' ||
                CAST(('0x' || substr(md5(t), 1, 4))::BIGINT % 1024
                  AS VARCHAR)), 1, 8))::BIGINT % 2001 - 1000)
              AS BIGINT) AS wsum
          FROM tok GROUP BY doc_id, lang)
        SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(CASE WHEN wsum > 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_kept,
          CAST(SUM(CASE WHEN wsum > 0 THEN wsum ELSE 0 END) AS BIGINT)
            AS kept_wsum
        FROM scored WHERE n_toks >= 1
        GROUP BY lang ORDER BY lang""")),

    // ----- st15: STREAMING DEDUP ADMISSION GATE — d10's persisted
    // MinHash band index turned into streaming admission control: the
    // index bundle — corpus bands + the hot-shingle list they were
    // built with + meta — is the PERSISTED LSH TOWER (r19:
    // `ensureLshIndex`, the same tables d10 probes nightly and
    // `Maintenance.maintainIndexes` keeps fresh; before r19 this
    // query rebuilt a scratch bundle per run). Each MICRO-BATCH of
    // arriving documents computes only ITS OWN signatures inside
    // foreachBatch (batch semantics per epoch — the per-batch-merge
    // shape streaming lakehouse pipelines run) and probes the index
    // with a broadcast band join. Output per arriving doc: how many
    // distinct corpus docs share an LSH band (probable-dup evidence)
    // and the admit bit. The stream runs the CHEAP probabilistic
    // gate; d10's exact-jaccard verify stays the nightly
    // reconciliation. Scale: per-epoch work is O(|batch|); the
    // corpus is scanned (index read), never shuffled; band-key join
    // is the only exchange.
    QueryDef(
      "st15_stream_dedup_gate",
      (s, d) => {
        import graft.operators.Dedup
        val (hashes, bands) = Dedup.minhashGeometry(s)
        // index build (once, nightly): the shared persisted tower
        Dedup.ensureLshIndex(s, d)
        val out = LocalFs.scratch("graft_st15_out")
        // the gate: per micro-batch, signatures of the batch only
        val q = stream(s, d, Documents)
          .filter(col("doc_id") % 5 === 0)
          .writeStream
          .option("checkpointLocation", LocalFs.scratch("graft_st15_ckpt"))
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val sess = batch.sparkSession
            val batchSh = Dedup.shinglesOf(batch)
              .join(sess.table("d10_lsh_hot"),
                Seq("shingle"), "left_anti")
            val probe = Dedup.minhashBands(
              Dedup.minhashSigs(batchSh, hashes), hashes, bands)
            val hits = sess.table("d10_lsh_bands").as("c")
              .join(broadcast(probe.as("q")),
                col("c.band") === col("q.band")
                  && col("c.band_key") === col("q.band_key"))
              .groupBy(col("q.doc_id").as("doc_id"))
              .agg(countDistinct(col("c.doc_id")).as("n_band_hits"))
            // idempotent per-epoch landing: a RETRIED micro-batch
            // overwrites its own batchId directory instead of
            // double-appending — the standard foreachBatch
            // exactly-once discipline for file sinks
            batch.select(col("doc_id"))
              .join(hits, Seq("doc_id"), "left")
              .select(col("doc_id"),
                coalesce(col("n_band_hits"), lit(0L)).as("n_band_hits"),
                (coalesce(col("n_band_hits"), lit(0L)) === 0).as("admit"))
              .write.mode("overwrite").parquet(s"$out/b$batchId")
            ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.read.parquet(s"$out/*").orderBy(col("doc_id"))
      },
      Some(s"""WITH sh AS (${graft.operators.Dedup.shinglesSql()}),
        ${graft.operators.Dedup.minhashCtesSql()},
        hits AS (SELECT q.doc_id AS delta_id,
            COUNT(DISTINCT c.doc_id) AS n_band_hits
          FROM bands q JOIN bands c
            ON q.band = c.band AND q.band_key = c.band_key
          WHERE q.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
          GROUP BY 1)
        SELECT d.doc_id,
          CAST(COALESCE(h.n_band_hits, 0) AS BIGINT) AS n_band_hits,
          COALESCE(h.n_band_hits, 0) = 0 AS admit
        FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
        LEFT JOIN hits h ON h.delta_id = d.doc_id
        ORDER BY d.doc_id"""))
    ,

    // ----- st16: STREAMING ANN SERVING — a continuous query stream
    // probing the PERSISTED bucket index (s13's layout, built once by
    // the shared [[Similarity.buildBucketIndex]]): each micro-batch
    // of query vectors explodes its H+1 multi-probe buckets through
    // the same codegen'd expressions the batch path uses
    // ([[Similarity.probeRows]]) and stream-static joins the bucketed
    // table; a COMPLETE-mode max-of-(cos, −id) aggregation keeps the
    // running EXACT top-1 per query — associative, so micro-batch
    // slicing cannot change the answer, which is why the oracle is
    // s11's batch serving SQL verbatim. The serving loop a production
    // retrieval endpoint runs: index maintained nightly (s17's
    // lifecycle), queries arriving continuously, per-query work =
    // occupancy × (H+1) probes regardless of corpus size.
    QueryDef(
      "st16_stream_ann_serving",
      (s, d) => {
        graft.operators.Similarity.buildBucketIndex(s, d, "st16_corpus_idx")
        val corpus = s.table("st16_corpus_idx")
        val qs = graft.operators.Similarity.probeRows(s, d,
          stream(s, d, Embeddings).filter(col("vec_id") % 2 === 1)
            .select(col("vec_id"), col("embedding")))
        val top = qs.join(corpus, col("probe") === col("bucket_c"))
          .withColumn("cos_sim",
            expr("vec_dot(av, bv)") / (col("nrm_q") * col("nrm_c")))
          .groupBy(col("q_id"))
          .agg(max(struct(col("cos_sim"), (-col("c_id")).as("nci"))).as("t"))
          .select(col("q_id"), (-col("t.nci")).as("c_id"),
            col("t.cos_sim").as("cos_sim"))
        runToMemory(s, top, "complete").orderBy(col("q_id"))
      },
      Some(graft.operators.Similarity.queryVsCorpusOracleSql))
    ,

    // ----- st17: STREAMING PQ-ANN SERVING — the s18 deployment loop
    // run ONLINE: the IVF-PQ index is built, calibrated, and
    // PERSISTED once (the nightly job), then a continuous query
    // stream serves from the SAVED tables — each micro-batch loads
    // the index (dials ride as metadata) and answers its queries
    // through the same two-level routing + decomposed-residual ADC +
    // exact rerank the batch path runs. The serve plan needs rank
    // windows (ADC shortlist, rerank top-1), which streaming frames
    // disallow — so the batches route through foreachBatch (the
    // st15 gate discipline), landing each epoch idempotently in its
    // own b<batchId> directory. Per-query answers are independent of
    // every other query, so micro-batch slicing cannot change the
    // union of answers — the oracle is s12/s18's twin VERBATIM, the
    // third consumer of one SQL (inline build, persisted batch
    // serve, and now streamed serve must all answer identically).
    QueryDef(
      "st17_stream_pq_serving",
      (s, d) => {
        import graft.operators.Similarity
        Similarity.persistPqIndex(s, d, Similarity.buildPqIndex(s, d))
        val out = LocalFs.scratch("graft_st17_out")
        // generation-cached index: the steady-state batch pays one
        // 1-row generation probe, not a full reload + clut
        // re-derivation; a new persisted generation (nightly rebuild)
        // is picked up next batch without restart
        val idxCache = new Similarity.PqIndexCache(s)
        val q = stream(s, d, Embeddings)
          .filter(col("vec_id") % 2 === 1)
          .select(col("vec_id").as("q_id"), col("embedding").as("av"))
          .writeStream
          .option("checkpointLocation", LocalFs.scratch("graft_st17_ckpt"))
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val sess = batch.sparkSession
            Similarity.servePqBatch(sess, d, batch,
              idxCache.current(sess))
              .write.mode("overwrite").parquet(s"$out/b$batchId")
            ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.read.parquet(s"$out/*").orderBy(col("q_id"))
      },
      Some(graft.operators.Similarity.pqOracleSql))
    ,

    // ----- st18: STREAMING FILTERED ANN SERVING — s19 run ONLINE.
    // Each streamed query carries its own scope attribute (the
    // production shape: callers ship tenant/language/licence with
    // the request), and every micro-batch answers only from corpus
    // vectors matching that attribute — which rides the PERSISTED
    // codes table, so the per-batch gate is batch-labels ⋈ the
    // bucketed index scan, never a per-epoch join with the n-row
    // source table. Same foreachBatch discipline as st17 (rank
    // windows force it; idempotent per-epoch landing); per-query
    // answers are slicing-independent, so the oracle is s19's twin
    // VERBATIM — one parameterized SQL now gates the filtered batch
    // serve AND the filtered streamed serve, like pqOracleSql gates
    // s12/s18/st17.
    QueryDef(
      "st18_stream_filtered_ann",
      (s, d) => {
        import graft.operators.Similarity
        Similarity.ensurePqIndex(s, d)
        val out = LocalFs.scratch("graft_st18_out")
        // same generation-cached discipline as st17
        val idxCache = new Similarity.PqIndexCache(s)
        val q = stream(s, d, Embeddings)
          .filter(col("vec_id") % 2 === 1)
          .select(col("vec_id").as("q_id"), col("embedding").as("av"),
            col("label"))
          .writeStream
          .option("checkpointLocation", LocalFs.scratch("graft_st18_ckpt"))
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val sess = batch.sparkSession
            Similarity.servePqBatchFiltered(sess, d, batch,
              idxCache.current(sess))
              .write.mode("overwrite").parquet(s"$out/b$batchId")
            ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.read.parquet(s"$out/*").orderBy(col("q_id"))
      },
      Some(graft.operators.Similarity.pqFilteredOracleSql))
    ,

    // ----- st19: STREAMING HYBRID SERVING — s21 run ONLINE: query
    // documents arrive as a stream, and each micro-batch answers its
    // sampled queries with the full two-tower retrieval — BM25
    // lexical leg from the PERSISTED postings index, vector leg from
    // the PERSISTED IVF-PQ index, BOTH generation-cached (st17/st18's
    // probe discipline on each tower), so a nightly rebuild, delta
    // append, or compaction on EITHER tower is picked up without
    // restart; integer RRF fusion. Per-query answers are slicing-independent (the
    // sample gate, df/stats, and both legs derive from the STATIC
    // corpus side plus the query's own terms/embedding), so the
    // oracle is s21's twin VERBATIM — one SQL now gates the batch
    // hybrid serve AND the streamed hybrid serve, completing the
    // pattern (pqOracleSql → s12/s18/st17; filtered → s19/st18;
    // hybrid-indexed → s21/st19). Rank windows force the foreachBatch
    // discipline; epochs land idempotently per batchId.
    QueryDef(
      "st19_stream_hybrid_serving",
      (s, d) => {
        import graft.operators.Similarity
        Similarity.ensurePqIndex(s, d)
        Similarity.ensureLexIndex(s, d)
        val out = LocalFs.scratch("graft_st19_out")
        val idxCache = new Similarity.PqIndexCache(s)
        val lexCache = new Similarity.LexIndexCache(s)
        val q = stream(s, d, Documents)
          .select(col("doc_id"), col("text"))
          .writeStream
          .option("checkpointLocation", LocalFs.scratch("graft_st19_ckpt"))
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val sess = batch.sparkSession
            Similarity.hybridServeBatch(sess, d, batch,
              idxCache.current(sess), lexCache.current(sess))
              .write.mode("overwrite").parquet(s"$out/b$batchId")
            ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.read.parquet(s"$out/*").orderBy(col("q_id"), col("rank"))
      },
      Some(graft.operators.Similarity.hybridIndexedOracleSql))
    ,

    // ----- st20: STREAMING CROSS-MODAL ALIGNMENT — m07 run ONLINE,
    // completing the streaming curation loop's multimodal stage
    // (quality st14, dedup st15, ANN st16/st17/st18, hybrid st19,
    // now alignment): media documents stream in and each micro-batch
    // computes its docs' pooled media embeddings (frames explode
    // from the doc's own row, so per-doc pooling never crosses a
    // batch boundary), joins the STATIC text-embedding table, and
    // emits the cosine + keep bit. Per-doc answers are
    // slicing-independent, so the oracle is m07's twin VERBATIM —
    // the one-SQL-two-consumers discipline extended to the
    // multimodal family. The per-doc groupBy (frame pooling) is an
    // aggregation, so the foreachBatch landing applies as usual.
    QueryDef(
      "st20_stream_crossmodal",
      (s, d) => {
        val out = LocalFs.scratch("graft_st20_out")
        val q = stream(s, d, Documents)
          .select(col("doc_id"), col("text"))
          .writeStream
          .option("checkpointLocation", LocalFs.scratch("graft_st20_ckpt"))
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val sess = batch.sparkSession
            graft.operators.Multimodal
              .crossModalAlignBatch(sess, d, batch)
              .write.mode("overwrite").parquet(s"$out/b$batchId")
            ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.read.parquet(s"$out/*").orderBy(col("doc_id"))
      },
      Some(graft.operators.Multimodal.crossModalOracleSql))
    ,

    // ----- st21: STREAMING DSIR ADMISSION — p08 run where a training
    // pipeline actually runs domain selection: on the document ingest
    // stream. The bucket model and the weight bounds are CORPUS
    // statistics, built once "nightly" batch-side before the stream
    // (256 rows + 2 scalars — the same build/serve split as every
    // serving stage: st16's bucket index, st17's PQ index, st19's
    // postings; here the artifact is just much smaller). Each
    // micro-batch tokenizes ONLY ITS OWN documents, scores them
    // against the broadcast model, and emits the integer-exact
    // acceptance bit. Per-doc answers are slicing-independent (model
    // and bounds are corpus-wide constants; a doc's weight reads only
    // its own tokens), so p08's twin gates the batch resample AND the
    // streamed admission — the one-SQL-many-consumers discipline.
    QueryDef(
      "st21_stream_dsir_gate",
      (s, d) => {
        import graft.operators.Pipeline
        // the nightly model build: corpus buckets -> 256-row model
        // (cached: it feeds every micro-batch's broadcast) + bounds
        val corpusBk = Pipeline.dsirBuckets(
          s.read.parquet(s"$d/documents.parquet"))
        val model = Pipeline.dsirModelFrom(corpusBk).cache()
        val mm = Pipeline.dsirWeights(corpusBk, model)
          .agg(min(col("w_scaled")), max(col("w_scaled"))).head()
        val (wmin, wmax) = (mm.getLong(0), mm.getLong(1))
        val out = LocalFs.scratch("graft_st21_out")
        val q = stream(s, d, Documents)
          .select(col("doc_id"), col("lang"), col("text"))
          .writeStream
          .option("checkpointLocation", LocalFs.scratch("graft_st21_ckpt"))
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            Pipeline.dsirWeights(Pipeline.dsirBuckets(batch), model)
              .select(col("doc_id"), col("n_tok"), col("w_scaled"),
                Pipeline.dsirKeep(lit(wmin), lit(wmax)).as("keep"))
              .write.mode("overwrite").parquet(s"$out/b$batchId")
            ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        model.unpersist()
        s.read.parquet(s"$out/*").orderBy(col("doc_id"))
      },
      Some(graft.operators.Pipeline.dsirOracleSql))
    ,

    // ----- st22: STREAMING PERCEPTUAL ADMISSION GATE — m08 run
    // where media dedup actually runs in production: on the ingest
    // stream (the st15 shape for the multimodal family). Since r19
    // session 2 this is the gate family's LABELED REFERENCE TIER
    // (the s15-vs-s28 split): it probes the UNFLOORED full-population
    // band index, rebuilt per run in scratch, and exists to referee
    // the gate semantics at full recall; the DEPLOYMENT twin is
    // st24, which serves from the persisted, maintained, floored
    // phash tower. The banded perceptual-hash index over the
    // historical corpus (the video
    // stripe minus today's %5==0 delta) is built per run; each
    // micro-batch fingerprints ONLY ITS OWN media
    // docs and band-joins the index — per-batch work O(|batch|·bands)
    // probe rows, the corpus scanned never re-hashed. Banding is
    // lossless at the adaptive threshold (pigeonhole), so the gate is
    // recall-safe by construction: no near-dup within hamming ≤
    // bands−1 is ever admitted as new. Per-doc answers depend only on
    // the doc's own text + the static index, so batch slicing changes
    // nothing and one SQL gates any slicing (the st14/st21
    // discipline).
    QueryDef(
      "st22_stream_perceptual_gate",
      (s, d) => {
        import graft.operators.{Dedup, Multimodal}
        val corpus = s.read.parquet(s"$d/documents.parquet")
          .filter(col("doc_id") % 3 === 2)
          .filter(col("doc_id") % 5 =!= 0)
          .select(col("doc_id"), col("text"))
        val bands = Dedup.adaptiveSimHashBands(
          Multimodal.PHashBits, corpus.count())
        // the nightly index: banded corpus signatures, persisted once
        val idxDir = LocalFs.scratch("graft_st22_idx")
        Multimodal.bandedPhash(corpus, bands)
          .write.mode("overwrite").parquet(idxDir)
        val idx = s.read.parquet(idxDir)
        val out = LocalFs.scratch("graft_st22_out")
        val q = stream(s, d, Documents)
          .filter(col("doc_id") % 3 === 2)
          .filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"), col("text"))
          .writeStream
          .option("checkpointLocation", LocalFs.scratch("graft_st22_ckpt"))
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            Multimodal.perceptualGateBatch(batch, idx, bands)
              .write.mode("overwrite").parquet(s"$out/b$batchId")
            ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.read.parquet(s"$out/*").orderBy(col("doc_id"))
      },
      Some(graft.operators.Multimodal.perceptualGateOracleSql))
    ,

    // ----- st23: STREAMING MMR SERVING — s28 run ONLINE, completing
    // the rerank tier's batch/stream symmetry (s18→st17, s19→st18,
    // s21→st19, now s28→st23): query vectors arrive as a stream and
    // each micro-batch answers its sampled queries with the full
    // diversity rerank — candidates from the PERSISTED
    // generation-cached IVF-PQ index (route → ADC → calibrated
    // shortlist → exact top-16 rerank), cosine relevance recomputed
    // on the 16-row candidate frame, the shared greedy MMR fold —
    // through the one `mmrServeBatch` entry s28's whole-sample batch
    // also calls. Rank windows + the fold force foreachBatch (st17's
    // discipline, idempotent per-epoch landing); per-query answers
    // are slicing-independent (index, corpus vectors, and the
    // per-row fold read nothing across queries), so s28's twin gates
    // both — the one-SQL-many-consumers pattern, again. A nightly
    // rebuild/append/compaction persisting a new generation is
    // picked up next micro-batch via PqIndexCache, no restart.
    QueryDef(
      "st23_stream_mmr_serving",
      (s, d) => {
        import graft.operators.Similarity
        Similarity.ensurePqIndex(s, d)
        val out = LocalFs.scratch("graft_st23_out")
        val idxCache = new Similarity.PqIndexCache(s)
        val q = stream(s, d, Embeddings)
          .filter(Similarity.mmrQueryGate(s, d))
          .select(col("vec_id").as("q_id"), col("embedding").as("av"))
          .writeStream
          .option("checkpointLocation", LocalFs.scratch("graft_st23_ckpt"))
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val sess = batch.sparkSession
            Similarity.mmrServeBatch(sess, d, batch,
              idxCache.current(sess))
              .write.mode("overwrite").parquet(s"$out/b$batchId")
            ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.read.parquet(s"$out/*").orderBy(col("qid"), col("rank"))
      },
      Some(graft.operators.Similarity.mmrIndexedOracleSql))
    ,

    // ----- st24: STREAMING TWO-TIER ADMISSION GATE — m09 run ONLINE
    // (m08→st22's symmetry, rebuilt on the entropy floor), serving
    // from the PERSISTED PHASH TOWER (`ensurePhashIndex`: floored
    // banded signatures + the sub-floor stripe's exact checksums +
    // meta, the same tables `Maintenance.maintainIndexes` keeps
    // fresh and m10's aging gate proves load-bearing). Each arriving
    // doc gates in exactly one tier — banded hamming probe if its
    // own entropy clears the floor, checksum equality if not — with
    // the geometry read from the tower's META (the serve must probe
    // with the index's frozen geometry, never re-derive its own).
    // The floored index is the scale win st22's reference tier can't
    // have: probe-side bucket occupancy excludes the crowding
    // population entirely (the ×100 ladder's zero-luck knee), so
    // per-batch work stays O(|batch|·bands) against near-empty
    // buckets. Per-doc answers depend only on the doc's own text +
    // the static corpus, so one SQL gates any micro-batch slicing
    // (the st22 discipline) — and m10's maintained serve, verbatim.
    QueryDef(
      "st24_stream_two_tier_gate",
      (s, d) => {
        import graft.operators.Multimodal
        Multimodal.ensurePhashIndex(s, d)
        val m = s.table("m09_ph_meta").head()
        val floor = m.getAs[Int]("floor")
        val bands = m.getAs[Int]("bands")
        val out = LocalFs.scratch("graft_st24_out")
        val q = stream(s, d, Documents)
          .filter(col("doc_id") % 3 === 2)
          .filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"), col("text"))
          .writeStream
          .option("checkpointLocation", LocalFs.scratch("graft_st24_ckpt"))
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val sess = batch.sparkSession
            Multimodal.twoTierGateBatch(batch,
              sess.table("m09_ph_bands"), sess.table("m09_ph_cks"),
              floor, bands)
              .write.mode("overwrite").parquet(s"$out/b$batchId")
            ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.read.parquet(s"$out/*").orderBy(col("doc_id"))
      },
      Some(graft.operators.Multimodal.twoTierGateOracleSql))
  )
}
