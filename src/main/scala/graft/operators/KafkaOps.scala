package graft.operators

import java.nio.file.{Files, Paths}

import graft.{QueryDef, Tables}
import graft.functions.{avro, AvroSchemaConverter}
import graft.pipeline.BronzeIngest
import graft.sources.kafkasim.SimBroker
import graft.streaming.monitors._
import org.apache.avro.generic.GenericData
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The L1 reference-capability surface (SURVEY §2.1/§2.2) exercised
  * through the driver's oracle gate: Kafka-shaped ingest (batch +
  * streaming) and the loss-detection suite, with results that are
  * deterministic functions of the `orders` table / fixed scenarios —
  * so plain SQL over the same inputs can oracle them.
  */
object KafkaOps {

  /** Build (once per sf dir) a sim-broker whose content derives
    * deterministically from `orders`: partition = o_orderkey % 3,
    * within-partition order = o_orderkey ascending, value = raw-Avro
    * OrderEvent(orderId=o_orderkey, amount=o_totalprice,
    * ts=yyyy-MM-dd of o_orderdate). Offsets are then exactly
    * rank-within-partition — which the oracle recomputes with
    * ROW_NUMBER, proving the source's offset bookkeeping. */
  private def brokerFor(s: SparkSession, dir: String): String = synchronized {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    // the segment format is part of the key: a broker cached by a build
    // with another format is rebuilt, never read
    val root = s"/tmp/graft_broker_v${SimBroker.FormatVersion}_$key"
    val marker = Paths.get(root, "_COMPLETE")
    if (Files.exists(marker)) return root
    val schema = AvroSchemaConverter.parse(avro.OrderEventSchemaJson)
    val ser = new avro.Serializer(schema)
    val rows = new Tables(s, dir).orders
      .select(col("o_orderkey"),
        col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("ts"))
      .orderBy(col("o_orderkey"))
      .collect() // driver-side generator for the test broker, not an operator
    SimBroker.createTopic(root, "orders", 3)
    (0 until 3).foreach { p =>
      val recs = rows.iterator
        .filter(r => (r.getLong(0) % 3).toInt == p)
        .map { r =>
          val rec = new GenericData.Record(schema)
          rec.put("orderId", r.getLong(0).toString)
          rec.put("amount", java.lang.Double.valueOf(r.getDouble(1)))
          rec.put("ts", r.getString(2))
          (None: Option[Array[Byte]], ser.serialize(rec), 0L)
        }.toSeq
      SimBroker.append(root, "orders", p, recs)
    }
    Files.createFile(marker)
    root
  }

  private def decodedWire(s: SparkSession, root: String): DataFrame = {
    avro.registerAvroDecode(s)
    s.read.format("kafkasim")
      .option("path", root).option("subscribe", "orders")
      // a 3-partition topic alone caps read parallelism at 3 readers;
      // minPartitions splits offset ranges so the decode saturates the
      // cluster (the built-in Kafka connector's contract)
      .option("minPartitions", s.sparkContext.defaultParallelism)
      .load()
      .selectExpr("partition", "offset",
        s"avro_decode(value, '${avro.OrderEventSchemaJson}') AS data")
      .select(col("partition"), col("offset"),
        col("data.orderId").as("order_id"), col("data.amount").as("amount"),
        col("data.ts").as("ts"))
  }

  private val ingestOracleBody =
    """SELECT CAST(o_orderkey % 3 AS INT) AS "partition",
         ROW_NUMBER() OVER (PARTITION BY o_orderkey % 3 ORDER BY o_orderkey) - 1
           AS "offset",
         CAST(o_orderkey AS VARCHAR) AS order_id,
         o_totalprice AS amount,
         strftime(o_orderdate, '%Y-%m-%d') AS ts
       FROM orders"""

  val queries: Seq[QueryDef] = Seq(

    // ----- k01: bounded Kafka-shaped ingest (KafkaBatchJob reborn):
    // broker scan → avro_decode → flatten. The oracle recomputes
    // partition assignment AND offsets from `orders` with ROW_NUMBER —
    // a hash-match proves scan, offset bookkeeping, and Avro decode
    // simultaneously.
    QueryDef(
      "k01_kafka_batch_ingest",
      (s, d) => decodedWire(s, brokerFor(s, d))
        .orderBy(col("partition"), col("offset")),
      Some(s"""SELECT * FROM ($ingestOracleBody)
        ORDER BY "partition", "offset""""),
      headline = true),

    // ----- k02: streaming ingest (KafkaAvroToIceberg reborn):
    // readStream(kafkasim) → decode → parquet sink with checkpoint,
    // AvailableNow trigger; the sink table is then read back. Offsets
    // ride the checkpoint (Kafka-shaped JSON) — restart-safe by the
    // exactly-once test in KafkaSimSpec.
    QueryDef(
      "k02_kafka_stream_ingest",
      (s, d) => {
        val root = brokerFor(s, d)
        val ckpt = Files.createTempDirectory("graft_k02_ckpt").toString
        val sink = Files.createTempDirectory("graft_k02_sink").toString
        val q = BronzeIngest.streamJob(s, root, "orders", ckpt, sink)
        q.awaitTermination()
        s.read.parquet(sink)
          .select(col("orderId").as("order_id"), col("amount"), col("ts"))
          .orderBy(col("order_id"))
      },
      Some(s"""SELECT order_id, amount, ts FROM ($ingestOracleBody)
        ORDER BY order_id""")),

    // ----- k03: the four-detector loss suite over a constructed
    // retention-expiry scenario; expected events are hand-computable
    // constants, which the oracle states literally.
    QueryDef(
      "k03_loss_detection",
      (s, d) => {
        val root = Files.createTempDirectory("graft_k03_broker").toString
        val ckpt = Files.createTempDirectory("graft_k03_ckpt").toString
        // p0: 120 records in segments of 20, expired through 80
        (0 until 6).foreach { g => SimBroker.append(root, "orders", 0,
          (0 until 20).map(i => (None, s"p0-${g * 20 + i}".getBytes, 0L))) }
        SimBroker.expireThrough(root, "orders", 0, 80)
        // p1: 50 records, nothing expired
        (0 until 5).foreach { g => SimBroker.append(root, "orders", 1,
          (0 until 10).map(i => (None, s"p1-${g * 10 + i}".getBytes, 0L))) }
        // p2: 30 records in segments of 10, expired through 10
        (0 until 3).foreach { g => SimBroker.append(root, "orders", 2,
          (0 until 10).map(i => (None, s"p2-${g * 10 + i}".getBytes, 0L))) }
        SimBroker.expireThrough(root, "orders", 2, 10)
        // checkpoint: batch 0 then batch 1 (v1 offset-file format)
        val offsetsDir = Paths.get(ckpt, "offsets")
        Files.createDirectories(offsetsDir)
        Files.writeString(offsetsDir.resolve("0"),
          "v1\n{\"batchWatermarkMs\":0}\n{\"orders\":{\"0\":60,\"1\":20,\"2\":5}}")
        Files.writeString(offsetsDir.resolve("1"),
          "v1\n{\"batchWatermarkMs\":0}\n{\"orders\":{\"0\":70,\"1\":30,\"2\":10}}")

        val events =
          new PreflightDetector(ckpt, root).detect() ++
            new CheckpointDiffMonitor(ckpt, root).checkLatestBatch() ++
            new BatchRangeMonitor(root).check(
              """{"orders":{"0":60,"1":20,"2":0}}""",
              """{"orders":{"0":120,"1":50,"2":30}}""")
        import s.implicits._
        events.toDF()
          .select(col("topic"), col("partition"),
            col("lostFrom").as("lost_from"), col("lostTo").as("lost_to"),
            col("lostCount").as("lost_count"),
            col("kafkaEarliest").as("kafka_earliest"),
            col("kafkaLatest").as("kafka_latest"), col("detector"))
          .orderBy(col("detector"), col("partition"))
      },
      Some("""SELECT topic, CAST(partition AS INT) AS partition,
          CAST(lost_from AS BIGINT) AS lost_from,
          CAST(lost_to AS BIGINT) AS lost_to,
          CAST(lost_count AS BIGINT) AS lost_count,
          CAST(kafka_earliest AS BIGINT) AS kafka_earliest,
          CAST(kafka_latest AS BIGINT) AS kafka_latest, detector
        FROM (VALUES
          ('orders', 0, 60, 80, 20, 80, 120, 'batch-range'),
          ('orders', 2, 0, 10, 10, 10, 30, 'batch-range'),
          ('orders', 2, 5, 10, 5, 10, 30, 'checkpoint-diff'),
          ('orders', 0, 70, 80, 10, 80, 120, 'preflight'))
          AS t(topic, partition, lost_from, lost_to, lost_count,
               kafka_earliest, kafka_latest, detector)
        ORDER BY detector, partition""")),

    // ----- k04: END-TO-END COMPOSITION — every layer of the engine
    // chained in one gated query, the full reference pipeline shape
    // plus the rebuilt table format:
    //   kafkasim broker → readStream → avro_decode (native codegen
    //   expression) → `writeStream…toTable` into a bronze-catalog
    //   table (stage-then-rename epochs, one snapshot-log commit per
    //   epoch; maxOffsetsPerTrigger slices the backlog into SEVERAL
    //   epochs, so the chain crosses multiple snapshots, not one) →
    //   st12-style STREAMING RE-READ of the snapshot log from v0 →
    //   watermarkless 7-day tumbling window aggregation in complete
    //   mode.
    // The oracle recomputes the windows straight from `orders` in
    // SQL: a hash match proves decode, epoch commits, snapshot-log
    // admission, and the windowed agg compose without losing or
    // duplicating a row. No single query exercised L1 ingest and the
    // L2 streaming/table layers end-to-end before this one.
    QueryDef(
      "k04_composed_bronze_roundtrip",
      (s, d) => {
        val root = brokerFor(s, d)
        val wh = s"${System.getProperty("java.io.tmpdir")}/graft_k04-" +
          Integer.toHexString(d.hashCode)
        val cat = "k04cat_" + Integer.toHexString(d.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.BronzeCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        s.sql(s"DROP TABLE IF EXISTS $cat.db.orders_e2e")
        s.sql(s"""CREATE TABLE $cat.db.orders_e2e
          (order_id STRING, amount DOUBLE, ts STRING) USING parquet""")
        // stage 1: the reference's sink line, against the sim broker
        avro.registerAvroDecode(s)
        import org.apache.spark.sql.streaming.Trigger
        val q1 = s.readStream.format("kafkasim")
          .option("path", root).option("subscribe", "orders")
          .option("maxOffsetsPerTrigger", "2000") // several epochs
          .load()
          .selectExpr(
            s"avro_decode(value, '${avro.OrderEventSchemaJson}') AS data")
          .select(col("data.orderId").as("order_id"),
            col("data.amount").as("amount"), col("data.ts").as("ts"))
          .writeStream
          .option("checkpointLocation",
            Files.createTempDirectory("graft_k04_ckpt1").toString)
          .trigger(Trigger.AvailableNow())
          .toTable(s"$cat.db.orders_e2e")
        q1.awaitTermination()
        // stage 2: streaming re-read of the snapshot log, windowed agg
        val sink = s"graft_k04_sink_${java.util.UUID.randomUUID
          .toString.substring(0, 8)}"
        val q2 = s.readStream.option("startingVersion", "0")
          .table(s"$cat.db.orders_e2e")
          .withColumn("tts", to_timestamp(col("ts"), "yyyy-MM-dd"))
          .groupBy(window(col("tts"), "7 days"))
          .agg(count(lit(1)).as("n_orders"),
            graft.Exact.dsum(col("amount"), 2).as("total_amount"))
          .select(col("window.start").as("win_start"),
            col("n_orders"), col("total_amount"))
          .writeStream.format("memory").queryName(sink)
          .outputMode("complete")
          .option("checkpointLocation",
            Files.createTempDirectory("graft_k04_ckpt2").toString)
          .trigger(Trigger.AvailableNow()).start()
        q2.awaitTermination()
        s.table(sink).orderBy(col("win_start"))
      },
      Some(s"""SELECT
          make_timestamp((epoch_us(CAST(o_orderdate AS TIMESTAMP))
            // 604800000000) * 604800000000) AS win_start,
          COUNT(*) AS n_orders,
          ${graft.Exact.sqlSum("o_totalprice", 2)} AS total_amount
        FROM orders GROUP BY 1 ORDER BY win_start"""))
  )
}
