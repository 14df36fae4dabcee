package graft.pipeline

import java.util.Properties

import graft.functions.avro
import graft.sources.kafkasim.SimBroker
import org.apache.avro.generic.GenericData
import org.apache.spark.SparkConf
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's two bronze-layer ingestion pipelines, rebuilt
  * Spark-4-native over the kafkasim source:
  *
  *   stream:  readStream(kafkasim) → avro_decode(value) → data.* →
  *            ingested_at → parquet append with checkpoint
  *            (KafkaAvroToIceberg.scala:55-100)
  *   batch:   bounded offset-range read → same decode/enrich +
  *            source="kafka-batch" lineage tag → append, counted
  *            in the same pass
  *            (KafkaBatchJob.java:70-98)
  *
  * The streaming path intentionally does NOT add `source` — the
  * reference leaves it NULL there and only the batch job fills it
  * (asymmetry documented at SURVEY §2.1 B5).
  *
  * Exactly-once: offsets write-ahead to `<ckpt>/offsets/<batchId>`
  * (Kafka-shaped JSON via KafkaSimOffset) and the parquet file-sink
  * manifest commits atomically per batch — a restart replans from the
  * last committed offsets, the same contract the Kafka→Iceberg
  * topology relied on.
  */
object BronzeIngest {

  val OrderSchema: String = avro.OrderEventSchemaJson

  /** Kafka wire stream → decoded, enriched orders frame. */
  def decode(spark: SparkSession, wire: DataFrame): DataFrame = {
    avro.registerAvroDecode(spark)
    wire
      .selectExpr(s"avro_decode(value, '${OrderSchema.replace("'", "''")}') AS data")
      .select(col("data.*"))
      .withColumn("ingested_at", current_timestamp())
  }

  def streamJob(spark: SparkSession, brokerRoot: String, topic: String,
      checkpointDir: String, tableDir: String): StreamingQuery = {
    val wire = spark.readStream.format("kafkasim")
      .option("path", brokerRoot)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .option("failOnDataLoss", "false")
      .load()
    decode(spark, wire)
      .writeStream
      .format("parquet")
      .option("path", tableDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Multi-table FAN-OUT: one decoded stream routed into SEVERAL
    * bronze tables in a single `foreachBatch` — the multi-destination
    * pattern the reference's single-sink job grows into (route by
    * filter/projection per table). Exactly-once per table rests on
    * the (batchId, idempotent write) contract: each route appends via
    * [[graft.catalog.BronzeBatchAppend.appendEpoch]], whose
    * destination file names are deterministic in (tag, batchId) and
    * REPLACE on publish — a restart from the checkpoint re-delivers
    * the same offsets and rewrites the same files, so a kill BETWEEN
    * two tables' appends (the partial-fan-out crash) heals on replay:
    * the already-written table is overwritten byte-for-byte, the
    * missed table gets its rows once.
    *
    * `routes`: (3-level bronze table name, per-batch transform —
    * filter/projection; must preserve the table's column order).
    * Table dirs resolve through the live bronze catalog up front,
    * driver-side. */
  def fanOutJob(spark: SparkSession, brokerRoot: String, topic: String,
      checkpointDir: String, routes: Seq[(String, DataFrame => DataFrame)],
      tag: String = "fanout",
      readerOptions: Map[String, String] = Map.empty): StreamingQuery = {
    val dirs = routes.map { case (table, f) =>
      val parts = table.split('.')
      require(parts.length >= 2, s"need a catalog-qualified name: $table")
      val cat = spark.sessionState.catalogManager.catalog(parts.head)
        .asInstanceOf[graft.catalog.BronzeCatalog]
      (cat.tableDir(parts.slice(1, parts.length - 1).toSeq, parts.last), f)
    }
    val wire = spark.readStream.format("kafkasim")
      .option("path", brokerRoot)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .option("failOnDataLoss", "false")
      .options(readerOptions)
      .load()
    // `source` stays NULL on the streaming path — the reference's
    // documented asymmetry (SURVEY §2.1 B5): only the batch job tags.
    decode(spark, wire)
      .withColumn("source", lit(null).cast("string"))
      .select(col("orderId"), col("amount"), col("ts"),
        col("ingested_at"), col("source"))
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        try dirs.foreach { case (dir, f) =>
          graft.catalog.BronzeBatchAppend.appendEpoch(f(batch), dir, tag, batchId)
        } finally batch.unpersist()
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Registers [[graft.catalog.BronzeCatalog]] as `bronze`, the same
    * catalog-name + warehouse-dir shape the reference configures for
    * its Iceberg catalog (spark-defaults.properties:4-9) — after this,
    * the reference's own 3-level DDL/DML text (`bronze.db.orders`)
    * runs verbatim. Catalogs are instantiated lazily on first
    * reference, so runtime conf is enough. */
  def registerBronzeCatalog(spark: SparkSession, warehouseDir: String): Unit = {
    spark.conf.set("spark.sql.catalog.bronze",
      classOf[graft.catalog.BronzeCatalog].getName)
    spark.conf.set("spark.sql.catalog.bronze.warehouse", warehouseDir)
  }

  /** S5 (KafkaAvroToIceberg.scala:79-89): idempotent bronze-table DDL,
    * issued with the reference's own identifier shape. With
    * [[registerBronzeCatalog]] in place the default 3-level
    * `bronze.db.orders` resolves through the custom catalog; a 1-level
    * name targets the session catalog (`USING parquet` either way — no
    * Iceberg runtime in this environment; SURVEY §7.2). */
  def ensureBronzeTable(spark: SparkSession,
      table: String = "bronze.db.orders"): Unit =
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $table (
         |  orderId STRING,
         |  amount DOUBLE,
         |  ts STRING,
         |  ingested_at TIMESTAMP,
         |  source STRING
         |) USING parquet""".stripMargin)

  /** The bounded offset-range read both batch jobs start from, split
    * into at least `defaultParallelism` input partitions so a topic
    * with fewer partitions than cores still decodes on every core (the
    * connector's `minPartitions`; each split reads only its own range). */
  private def boundedWire(spark: SparkSession, brokerRoot: String,
      topic: String, startingOffsetsJson: String,
      endingOffsetsJson: String): DataFrame =
    spark.read.format("kafkasim")
      .option("path", brokerRoot)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsetsJson)
      .option("endingOffsets", endingOffsetsJson)
      .option("failOnDataLoss", "false")
      .option("minPartitions", spark.sparkContext.defaultParallelism)
      .load()

  /** B6 against the session catalog: decode + enrich + atomic append
    * into the DDL-declared table; returns the rows appended. insertInto
    * is positional, so the projection pins the DDL column order
    * explicitly. The row count is observed on the written frame itself,
    * so the range is read and decoded once, by the write's own job. */
  def batchJobToTable(spark: SparkSession, brokerRoot: String, topic: String,
      startingOffsetsJson: String, endingOffsetsJson: String,
      table: String = "bronze.db.orders"): Long = {
    ensureBronzeTable(spark, table)
    val rows = Observation()
    decode(spark, boundedWire(spark, brokerRoot, topic,
        startingOffsetsJson, endingOffsetsJson))
      .withColumn("source", lit("kafka-batch"))
      .select(col("orderId"), col("amount"), col("ts"),
        col("ingested_at"), col("source"))
      .observe(rows, count(lit(1)).as("rows"))
      .write.mode("append").insertInto(table)
    rows.get("rows").asInstanceOf[Long]
  }

  def batchJob(spark: SparkSession, brokerRoot: String, topic: String,
      startingOffsetsJson: String, endingOffsetsJson: String,
      tableDir: String): Long = {
    val decoded = decode(spark, boundedWire(spark, brokerRoot, topic,
        startingOffsetsJson, endingOffsetsJson))
      .withColumn("source", lit("kafka-batch"))
    // Atomic append (the reference commits one Iceberg snapshot,
    // KafkaBatchJob.java:95-98): stage under a hidden dir inside the
    // table, publish by rename — a crashed batch leaves nothing
    // visible. Row count comes free from the staged parquet footers.
    graft.catalog.BronzeBatchAppend.append(decoded, tableDir)
  }
}

/** U1 (SparkConfigLoader.scala:9-24): load `spark.*` keys from a
  * properties resource/file into a SparkConf. */
object SparkConfigLoader {
  def loadFromResources(resource: String): SparkConf = {
    val props = new Properties()
    val in = Option(getClass.getResourceAsStream(resource)).getOrElse(
      throw new IllegalArgumentException(s"resource not found: $resource"))
    try props.load(in) finally in.close()
    val conf = new SparkConf()
    props.stringPropertyNames().forEach { k =>
      if (k.startsWith("spark.")) conf.set(k, props.getProperty(k))
    }
    conf
  }
}

/** U2 (TestAvroProducer.scala:32-74): produce Avro-framed OrderEvents
  * into the sim broker — raw record bodies, NO schema-registry header,
  * null keys (round-robin partitioning in the reference; here an
  * explicit deterministic partitioner). */
object OrderEventProducer {

  final case class Order(orderId: String, amount: Double, ts: String)

  def produce(brokerRoot: String, topic: String, numPartitions: Int,
      orders: Seq[Order], timestampMs: Long = 0L): Unit = {
    val schema = graft.functions.AvroSchemaConverter.parse(
      BronzeIngest.OrderSchema)
    val ser = new avro.Serializer(schema)
    SimBroker.createTopic(brokerRoot, topic, numPartitions)
    orders.groupBy(o => math.floorMod(o.orderId.hashCode.toLong, numPartitions.toLong).toInt)
      .toSeq.sortBy(_._1)
      .foreach { case (p, batch) =>
        val records = batch.map { o =>
          val rec = new GenericData.Record(schema)
          rec.put("orderId", o.orderId)
          rec.put("amount", java.lang.Double.valueOf(o.amount))
          rec.put("ts", o.ts)
          (None: Option[Array[Byte]], ser.serialize(rec), timestampMs)
        }
        SimBroker.append(brokerRoot, topic, p, records)
      }
  }
}
