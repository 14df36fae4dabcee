package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.catalog.{BronzeCatalog, ManifestFileIndex, SnapshotLog}
import graft.pipeline.{BronzeIngest, OrderEventProducer}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, Table}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.graftshim.shim
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A bronze table load is metadata only: its schema is the snapshot's
  * pinned sidecar and its scans plan their files from the manifest
  * (`ManifestFileIndex`), so neither a stream restart nor a batch
  * read lists the table's files. Every table here holds 40 data files,
  * above Spark's 32-path threshold for a distributed listing job. */
class ManifestLoadSpec extends SparkSpec {

  private val Files40 = 40

  private def catalog: BronzeCatalog = {
    bronzeWarehouse
    spark.sessionState.catalogManager.catalog("bronze")
      .asInstanceOf[BronzeCatalog]
  }

  /** `bronze.ml.<name>` holding 400 rows in 40 files; returns its dir. */
  private def table40(name: String): String = {
    bronzeWarehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS bronze.ml")
    spark.sql(s"DROP TABLE IF EXISTS bronze.ml.$name")
    spark.sql(s"CREATE TABLE bronze.ml.$name (id BIGINT, v STRING) USING parquet")
    spark.range(400).selectExpr("id", "concat('v', id) AS v")
      .repartition(Files40).writeTo(s"bronze.ml.$name").append()
    val dir = catalog.tableDir(Seq("ml"), name)
    assert(SnapshotLog.current(dir).get.files.size === Files40)
    dir
  }

  /** Jobs started while `body` runs, as (start ms, tasks, description),
    * all delivered: a marker job run after `body` is seen last. */
  private def jobsDuring[A](body: => A): (A, Seq[(Long, Int, String)]) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int, String)]()
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.jobGroup.id") == "manifest-load-marker"))
          markerSeen = true
        else jobs.add((e.time, e.stageInfos.map(_.numTasks).sum,
          Option(e.properties).map(_.getProperty("spark.job.description", ""))
            .getOrElse("")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobGroup("manifest-load-marker", "marker")
      spark.range(1).collect()
      sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 20000
      while (!markerSeen && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(markerSeen)
      (out, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  private def ledger(df: DataFrame): Row =
    df.selectExpr("count(*)", "count(DISTINCT orderId)",
      "CAST(sum(amount) AS BIGINT)").head()

  test("(a) a toTable restart starts no job before its first trigger, and the ledger is exact") {
    bronzeWarehouse
    val t = "bronze.ml.orders"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS bronze.ml")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    BronzeIngest.ensureBronzeTable(spark, t)
    spark.range(400).selectExpr("concat('seed-', id) AS orderId",
      "CAST(id AS DOUBLE) AS amount", "'2026-01-01' AS ts",
      "TIMESTAMP'2026-01-01 00:00:00' AS ingested_at", "'seed' AS source")
      .repartition(Files40).writeTo(t).append()
    val root = tmpDir("ml_broker")
    val ckpt = tmpDir("ml_ckpt")
    def order(i: Int) = OrderEventProducer.Order(s"o$i", i.toDouble, "2026-06-01")
    OrderEventProducer.produce(root, "orders", 2, (1 to 20).map(order))

    def run(): org.apache.spark.sql.streaming.StreamingQuery = {
      val wire = spark.readStream.format("kafkasim")
        .option("path", root).option("subscribe", "orders")
        .option("startingOffsets", "earliest").load()
      BronzeIngest.decode(spark, wire)
        .withColumn("source", org.apache.spark.sql.functions.lit("kafka"))
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).toTable(t)
    }
    run().awaitTermination()
    val before = SnapshotLog.current(catalog.tableDir(Seq("ml"), "orders")).get
    assert(before.files.size > Files40)

    // the restart: new records while the query is down, then the same
    // checkpoint; a micro-batch's jobs start at or after its trigger
    OrderEventProducer.produce(root, "orders", 2, (21 to 30).map(order))
    val started = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val triggers = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    def ms(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli
    val ql = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.add(e.runId.toString -> ms(e.timestamp))
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        triggers.add(e.progress.runId.toString -> ms(e.progress.timestamp))
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(ql)
    try {
      val (runId, jobs) = jobsDuring {
        val q = run()
        q.awaitTermination()
        q.runId.toString
      }
      val deadline = System.currentTimeMillis() + 20000
      while (!(started.asScala.exists(_._1 == runId) &&
          triggers.asScala.exists(_._1 == runId)) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      val from = started.asScala.find(_._1 == runId).get._2
      val firstTrigger = triggers.asScala.filter(_._1 == runId).map(_._2).min
      val gap = jobs.filter { case (at, _, _) => at >= from && at < firstTrigger }
      assert(gap.isEmpty, s"jobs before the first trigger: $gap")
      assert(jobs.exists(_._1 >= firstTrigger)) // the micro-batch ran
    } finally spark.streams.removeListener(ql)

    val l = ledger(spark.table(t))
    assert(l === Row(430L, 430L, (0 until 400).sum.toLong + (1 to 30).sum))
    spark.sql(s"DROP TABLE $t")
  }

  test("(b) planning spark.table(t).count() starts no job") {
    table40("plan")
    val (files, jobs) = jobsDuring {
      val df = spark.table("bronze.ml.plan").groupBy().count()
      df.queryExecution.executedPlan
      // the splits too: the scan's files come from the manifest
      df.queryExecution.sparkPlan.collect { case b: BatchScanExec =>
        b.inputPartitions.map(_.asInstanceOf[FilePartition].files.length).sum
      }.sum
    }
    assert(files === Files40)
    assert(jobs.isEmpty, s"jobs while planning: $jobs")
    assert(spark.table("bronze.ml.plan").count() === 400L)
  }

  private val metaCols = Seq("_metadata.file_path", "_metadata.file_name",
    "_metadata.file_size",
    "_metadata.file_modification_time", "_metadata.row_index")

  /** Rows plus `_metadata` of the snapshot's files read through a
    * manifest index, and the same through a listing-mode read. */
  private def manifestVsListing(dir: String): (Seq[Row], Seq[Row]) = {
    val snap = SnapshotLog.current(dir).get
    val schema = spark.table("bronze.ml.meta").schema
    val entries = snap.entries.sortBy(_.name)
    val manifest = spark.baseRelationToDataFrame(HadoopFsRelation(
      new ManifestFileIndex(spark, dir, entries), new StructType(), schema,
      None, new ParquetFileFormat(), Map.empty)(spark))
    val listing = spark.read.schema(schema)
      .parquet(snap.files.map(f => s"$dir/$f"): _*)
    def rows(df: DataFrame) =
      df.select((Seq("id", "v") ++ metaCols).map(org.apache.spark.sql.functions.col): _*)
        .collect().toSeq.sortBy(r => (r.getString(2), r.getLong(6)))
    (rows(manifest), rows(listing))
  }

  /** The bronze table's planned splits (path, start, length, size,
    * mtime) and those of a listing-mode scan over the same dir (whose
    * paths read `file:///`, where an explicit file list reads `file:/`:
    * compared without the scheme). */
  private def splitsVsListing(dir: String): (Seq[Any], Seq[Any]) = {
    def splits(t: Table): Seq[Any] =
      t.asInstanceOf[SupportsRead].newScanBuilder(CaseInsensitiveStringMap.empty())
        .build().toBatch.planInputPartitions().toSeq
        .flatMap(_.asInstanceOf[FilePartition].files.toSeq)
        .map(f => (f.pathUri.getPath, f.start, f.length, f.fileSize,
          f.modificationTime)).sortBy(_.toString)
    val bronze = catalog.loadTable(Identifier.of(Array("ml"), "meta"))
    (splits(bronze),
      splits(shim.parquetTable(spark, "listing", dir, Some(bronze.schema()))))
  }

  test("(c) rows, _metadata and splits from the manifest match a listing-mode read") {
    val dir = table40("meta")
    val (m, l) = manifestVsListing(dir)
    assert(m.size === 400 && m.map(_.getString(3)).distinct.size === Files40)
    assert(m === l)
    val (ms, ls) = splitsVsListing(dir)
    assert(ms.size >= Files40 && ms === ls)
    assert(spark.table("bronze.ml.meta").collect().toSeq.sortBy(_.getLong(0)) ===
      l.map(r => Row(r.getLong(0), r.getString(1))).sortBy(_.getLong(0)))
  }

  test("(d) a manifest without mtime and bytes reads the same rows") {
    val dir = table40("meta")
    val (m0, _) = manifestVsListing(dir)
    val logd = Paths.get(dir, "_graft_snapshots")
    val segs = Files.list(logd)
    try segs.iterator.asScala
      .filter(_.getFileName.toString.matches("m-.*\\.json")).foreach { p =>
        Files.writeString(p, Files.readString(p)
          .replaceAll(",\"(bytes|mtime)\":\\d+", ""))
      }
    finally segs.close()
    assert(SnapshotLog.current(dir).get.entries
      .forall(e => e.bytes.isEmpty && e.mtime.isEmpty))
    val (m, l) = manifestVsListing(dir)
    assert(m === l && m === m0)
    val (ms, ls) = splitsVsListing(dir)
    assert(ms === ls)
    val (n, jobs) = jobsDuring(spark.table("bronze.ml.meta").queryExecution.sparkPlan
      .collect { case b: BatchScanExec => b.inputPartitions.size }.sum)
    assert(n > 0 && jobs.isEmpty)
    assert(spark.table("bronze.ml.meta").count() === 400L)
  }
}
