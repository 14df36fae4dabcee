package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.functions.{avro, AvroSchemaConverter}
import graft.pipeline.BronzeIngest
import org.apache.avro.generic.GenericData
import org.apache.spark.sql.SparkSession

/** Seeded OrderEvent generator, framed as the reference's producer frames
  * them (raw Avro body, null key). It keeps the ledger the correctness
  * gates compare the bronze table against: how many records, and the
  * exact sum of their amounts in cents. Order ids are unique per seed. */
final class Orders(seed: Long) {
  private val schema = AvroSchemaConverter.parse(BronzeIngest.OrderSchema)
  private val ser = new avro.Serializer(schema)
  private val rnd = new java.util.SplittableRandom(seed)
  private val epochS = 1767225600L // 2026-01-01T00:00:00Z
  var produced = 0L
  var centsSum = 0L

  def next(): Array[Byte] = {
    val cents = 1L + rnd.nextLong(1000000L)
    val rec = new GenericData.Record(schema)
    rec.put("orderId", s"o$seed-$produced")
    rec.put("amount", java.lang.Double.valueOf(cents / 100.0))
    rec.put("ts", java.time.Instant.ofEpochSecond(epochS + produced).toString)
    produced += 1
    centsSum += cents
    ser.serialize(rec)
  }

  def batch(n: Int, timestampMs: Long): Seq[(Option[Array[Byte]], Array[Byte], Long)] =
    Seq.fill(n)((None, next(), timestampMs))
}

object Orders {
  val Topic = "orders"
  val Partitions = 3

  /** Directory of the bronze table `bronze.db.<table>`. */
  def tableDir(spark: SparkSession, table: String): String =
    spark.sessionState.catalogManager.catalog("bronze")
      .asInstanceOf[graft.catalog.BronzeCatalog].tableDir(Seq("db"), table)

  /** (rows, distinct orderId, amount sum in cents) of each bronze table,
    * in one query. Ids are counted through their 64-bit hash: a collision
    * can only lower the count, so a count equal to the rows still proves
    * every id distinct, at a fraction of the cost of hashing strings.
    * Amounts are whole cents over 100 and positive, so `floor(x + 0.5)`
    * recovers the cents exactly, without the decimal path of `round`. */
  def ledgers(spark: SparkSession, tables: Seq[String]): Map[String, (Long, Long, Long)] = {
    val rows = tables.map(t => s"SELECT '$t' AS t, orderId, amount FROM $t")
      .mkString(" UNION ALL ")
    val got = spark.sql(s"""SELECT t, count(*), count(DISTINCT xxhash64(orderId)),
        coalesce(sum(floor(amount * 100 + 0.5)), 0) FROM ($rows) GROUP BY t""")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    tables.map(t => t -> got.getOrElse(t, (0L, 0L, 0L))).toMap
  }
}

/** What a bronze table directory holds, read from the filesystem: the
  * snapshot-log commits and the data files they publish. */
final case class TableFiles(commits: Int, logBytes: Long, dataFiles: Int, dataBytes: Long) {
  def minus(o: TableFiles): TableFiles = TableFiles(commits - o.commits,
    logBytes - o.logBytes, dataFiles - o.dataFiles, dataBytes - o.dataBytes)
  def plus(o: TableFiles): TableFiles = TableFiles(commits + o.commits,
    logBytes + o.logBytes, dataFiles + o.dataFiles, dataBytes + o.dataBytes)
}

object TableFiles {
  val Empty: TableFiles = TableFiles(0, 0L, 0, 0L)

  private def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toList finally s.close()
    }

  def of(tableDir: String): TableFiles = {
    val dir = Paths.get(tableDir)
    val logs = list(dir.resolve("_graft_snapshots"))
      .filter(p => p.getFileName.toString.matches("""v\d+\.json"""))
    val data = list(dir).filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
    }
    TableFiles(logs.size, logs.map(Files.size).sum, data.size, data.map(Files.size).sum)
  }
}

/** The metric names a run reports; idle layers report 0. */
object Metrics {
  val Operators: Seq[String] =
    Seq("dedup.minhash_s", "dedup.semdedup_s", "similarity.pq_adc_s", "pipeline.funnel_s")

  val PerLayer: Seq[String] = Seq(
    "kafkasim.latest_ms", "kafkasim.scan_records_per_s", "avro.decode_s",
    "backfill.input_records_per_committed", "kafkasim.append_ms",
    "stream.trigger_ms", "stream.latest_offset_ms", "stream.query_planning_ms",
    "stream.add_batch_ms", "stream.wal_commit_ms", "stream.commit_offsets_ms",
    "stream.rows_per_batch", "stream.producer_late_ms", "stream.latency_p50_ms",
    "stream.latency_p95_ms",
    "stream.latency_samples", "stream.backlog_records", "stream.batch_failure_ratio",
    "catalog.commits", "catalog.files_per_commit", "catalog.log_bytes_per_commit",
    "catalog.bytes_per_record", "catalog.commit_s",
    "monitors.listener_ms", "monitors.loss_events") ++
    Operators.flatMap(o => Seq(o) ++
      Seq("jobs", "shuffle_bytes", "spill_bytes", "driver_idle_s").map(o + "." + _)) ++
    Seq("spark.jobs", "spark.tasks", "spark.executor_run_s", "spark.executor_cpu_s",
      "spark.gc_s", "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.task_skew",
      "jvm.peak_heap_mb", "trace.overhead_ms")

  /** Every per-layer name, with the measured ones filled in. */
  def layer(measured: Map[String, Double]): Map[String, Double] = {
    val unknown = measured.keySet -- PerLayer
    require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
    PerLayer.map(n => n -> measured.getOrElse(n, 0.0)).toMap
  }

  /** Catalog costs of the commits in `d`, made by `ops` operations that
    * committed `records` rows. */
  def catalog(d: TableFiles, ops: Int, records: Long, commitS: Double): Map[String, Double] = Map(
    "catalog.commits" -> d.commits.toDouble / math.max(ops, 1),
    "catalog.files_per_commit" -> (if (d.commits > 0) d.dataFiles.toDouble / d.commits else 0.0),
    "catalog.log_bytes_per_commit" -> (if (d.commits > 0) d.logBytes.toDouble / d.commits else 0.0),
    "catalog.bytes_per_record" -> (if (records > 0) d.dataBytes.toDouble / records else 0.0),
    "catalog.commit_s" -> commitS)
}
