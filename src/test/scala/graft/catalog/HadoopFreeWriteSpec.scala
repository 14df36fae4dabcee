// The reference writer needs `ParquetWriteSupport` (`private[sql]`),
// so it lives in the shim's package; the spec needs `scrapeEntry`
// (`private[catalog]`), so it lives in graft.catalog.
package org.apache.spark.sql.graftshim {

  /** The bronze file writer as it was built through Hadoop's local
    * `FileSystem`: a default-resource `Configuration` and a
    * `ChecksumFileSystem` stream. The byte-for-byte reference the
    * java.nio writer is held to. */
  object HadoopPathWriter {
    def apply(
        path: String,
        schema: org.apache.spark.sql.types.StructType,
        sessionConfs: Map[String, String])
        : org.apache.parquet.hadoop.ParquetWriter[org.apache.spark.sql.catalyst.InternalRow] = {
      import org.apache.hadoop.conf.Configuration
      import org.apache.parquet.hadoop.ParquetWriter
      import org.apache.parquet.hadoop.api.WriteSupport
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
      val conf = new Configuration()
      ParquetWriteSupport.setSchema(schema, conf)
      sessionConfs.foreach { case (k, v) => conf.set(k, v) }
      class B(p: org.apache.hadoop.fs.Path)
          extends ParquetWriter.Builder[InternalRow, B](p) {
        override def self(): B = this
        override def getWriteSupport(c: Configuration): WriteSupport[InternalRow] =
          new ParquetWriteSupport
      }
      new B(new org.apache.hadoop.fs.Path(path)).withConf(conf).build()
    }
  }
}

package graft.catalog {

  import java.nio.file.{Files, Path, Paths}
  import java.nio.file.attribute.FileTime

  import scala.jdk.CollectionConverters._

  import graft.SparkSpec
  import graft.catalog.SnapshotLog.{ColStats, FileEntry}
  import graft.pipeline.{BronzeIngest, OrderEventProducer}
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import org.apache.spark.sql.graftshim.{HadoopPathWriter, shim}
  import org.apache.spark.sql.streaming.Trigger
  import org.apache.spark.sql.types._

  /** Bronze data files and delete sidecars are written, and their
    * footers read, through java.nio instead of Hadoop's local
    * `FileSystem`: the same bytes and the same manifest entries as the
    * Hadoop path, no `.crc` left in a table dir, and no process forked
    * by a write. */
  class HadoopFreeWriteSpec extends SparkSpec {

    private lazy val warehouse: String = bronzeWarehouse

    private def bronzeCatalog: BronzeCatalog = {
      warehouse
      spark.sessionState.catalogManager.catalog("bronze")
        .asInstanceOf[BronzeCatalog]
    }

    private def mk(name: String, cols: String): String = {
      warehouse
      spark.sql("CREATE NAMESPACE IF NOT EXISTS bronze.hf")
      spark.sql(s"DROP TABLE IF EXISTS bronze.hf.$name")
      spark.sql(s"CREATE TABLE bronze.hf.$name ($cols) USING parquet")
      bronzeCatalog.tableDir(Seq("hf"), name)
    }

    private def withId(f: StructField, id: Long): StructField =
      f.copy(metadata = new MetadataBuilder()
        .putLong("parquet.field.id", id).build())

    /** Every bronze column type, nested, decimal, binary, timestamp
      * and nulls included, with field ids as the catalog writes them. */
    private val frameSchema = StructType(Seq(
      StructField("l", LongType), StructField("i", IntegerType),
      StructField("sh", ShortType), StructField("d", DoubleType),
      StructField("f", FloatType), StructField("b", BooleanType),
      StructField("s", StringType), StructField("dec", DecimalType(18, 4)),
      StructField("bin", BinaryType), StructField("ts", TimestampType),
      StructField("dt", DateType), StructField("arr", ArrayType(IntegerType)),
      StructField("st", StructType(Seq(StructField("x", LongType),
        StructField("y", StringType)))),
      StructField("m", MapType(StringType, DoubleType)))
      .zipWithIndex.map { case (f, i) => withId(f, i + 1L) })

    private def frameRows: Array[InternalRow] = {
      val rows = (0 until 500).map { k =>
        def orNull[A](a: => A): Any = if (k % 7 == 3) null else a
        Row(k.toLong * 37 - 9000, orNull(k * 11), (k % 300).toShort,
          orNull(k * 0.25 - 40), (k % 13) * 1.5f, k % 3 == 0,
          orNull(s"s-${k % 41}"),
          orNull(new java.math.BigDecimal(k * 1234567L).movePointLeft(4)),
          orNull(Array.tabulate(k % 9)(j => (k + j).toByte)),
          orNull(new java.sql.Timestamp(1700000000000L + k * 60000L)),
          new java.sql.Date(1700000000000L + k * 86400000L),
          orNull(Seq.tabulate(k % 4)(j => k * j)),
          orNull(Row(k.toLong, if (k % 5 == 0) null else s"y$k")),
          orNull(Map(s"k${k % 3}" -> k * 0.5)))
      }
      spark.createDataFrame(rows.asJava, frameSchema)
        .queryExecution.toRdd.map(_.copy()).collect()
    }

    private def write(
        open: (String, StructType, Map[String, String]) =>
          org.apache.parquet.hadoop.ParquetWriter[InternalRow],
        file: Path, schema: StructType, rows: Iterator[InternalRow]): Unit = {
      val w = open(file.toString, schema, shim.parquetWriterConfs(spark))
      try rows.foreach(w.write) finally w.close()
    }

    /** The footer as the Hadoop path read it, as JSON. */
    private def hadoopFooter(file: Path): String = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file.toString),
          new org.apache.hadoop.conf.Configuration()))
      try org.apache.parquet.hadoop.metadata.ParquetMetadata.toJSON(r.getFooter)
      finally r.close()
    }

    private def crcFiles(dir: String): Seq[String] = {
      val s = Files.walk(Paths.get(dir))
      try s.iterator.asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".crc")).toSeq
      finally s.close()
    }

    test("(a) the java.nio writer writes the Hadoop path's bytes") {
      val a = Paths.get(tmpDir("hf_hadoop"), "f.parquet")
      val b = Paths.get(tmpDir("hf_nio"), "f.parquet")
      val rows = frameRows
      write(HadoopPathWriter(_, _, _), a, frameSchema, rows.iterator)
      write(shim.rowParquetWriter, b, frameSchema, rows.iterator)
      assert(Files.mismatch(a, b) == -1L, "bytes differ")
      assert(!Files.exists(b.resolveSibling(".f.parquet.crc")))
    }

    test("(b) scrapeEntry reads the Hadoop path's footer and entry") {
      val dir = tmpDir("hf_scrape")
      val file = Paths.get(dir, "part-f.parquet")
      write(shim.rowParquetWriter, file, frameSchema, frameRows.iterator)
      Files.setLastModifiedTime(file, FileTime.fromMillis(1700000000000L))
      assert(graft.Parquet.withParquetFooter(file.toString)(r =>
        org.apache.parquet.hadoop.metadata.ParquetMetadata
          .toJSON(r.getFooter)) == hadoopFooter(file))
      val e = SnapshotLog.scrapeEntry(dir, "part-f.parquet", Map.empty)
      assert(e == ParentEntry, s"entry: $e")
    }

    /** `scrapeEntry` of (b)'s file as the Hadoop path wrote and read
      * it (decimal, binary, boolean and nested columns carry no stats). */
    private val ParentEntry = FileEntry("part-f.parquet",
      rows = Some(500L), bytes = Some(41699L), mtime = Some(1700000000000L),
      stats = Map(
        "l" -> ColStats("l", Some("-9000"), Some("9463"), Some(0L), Some(1L)),
        "i" -> ColStats("l", Some("0"), Some("5489"), Some(71L), Some(2L)),
        "sh" -> ColStats("l", Some("0"), Some("299"), Some(0L), Some(3L)),
        "d" -> ColStats("d", Some("-40.0"), Some("84.75"), Some(71L), Some(4L)),
        "f" -> ColStats("d", Some("-0.0"), Some("18.0"), Some(0L), Some(5L)),
        "s" -> ColStats("s", Some("s-0"), Some("s-9"), Some(71L), Some(7L)),
        "ts" -> ColStats("l", Some("1700000000000000"),
          Some("1700029940000000"), Some(71L), Some(10L)),
        "dt" -> ColStats("l", Some("19675"), Some("20174"), Some(0L),
          Some(11L))))

    test("(c) appends, a streaming epoch and upserts leave no .crc") {
      val dir = mk("nocrc", "id BIGINT, v DOUBLE")
      spark.sql("INSERT INTO bronze.hf.nocrc " +
        "SELECT id, CAST(id AS DOUBLE) FROM range(20)")
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      def epoch(rows: Seq[(Long, Double)], upsert: Boolean): Unit = {
        val mem = MemoryStream[(Long, Double)]
        mem.addData(rows: _*)
        val w = mem.toDF().toDF("id", "v").writeStream
          .option("checkpointLocation",
            tmpDir(if (upsert) "hf_ups_ckpt" else "hf_app_ckpt"))
        val q = (if (upsert) w.option("upsertKeys", "id") else w)
          .trigger(Trigger.AvailableNow()).toTable("bronze.hf.nocrc")
        q.awaitTermination(60000)
      }
      epoch(Seq(20L -> 0.0, 21L -> 0.0), upsert = false)
      spark.conf.set(graft.GraftConf.UpdateModeKey, "merge-on-read")
      try spark.sql("UPDATE bronze.hf.nocrc SET v = -1 WHERE id < 5")
      finally spark.conf.unset(graft.GraftConf.UpdateModeKey)
      assert(SnapshotLog.current(dir).get.entries.exists(_.deletes.nonEmpty),
        "the MOR update wrote no position-delete sidecar")
      epoch(Seq(3L -> 1.0, 30L -> 1.0), upsert = true)
      assert(SnapshotLog.current(dir).get.eqDeletes.nonEmpty,
        "the upsert wrote no equality delete")
      assert(spark.table("bronze.hf.nocrc").count() == 23)
      assert(crcFiles(dir).isEmpty, s"checksums: ${crcFiles(dir)}")
    }

    test("(d) a batch job forks no process from a bronze write") {
      val root = tmpDir("hf_broker")
      OrderEventProducer.produce(root, "orders", 3, (1 to 60).map(i =>
        OrderEventProducer.Order(s"o$i", i * 1.0, "2026-02-01")))
      warehouse
      spark.sql("CREATE NAMESPACE IF NOT EXISTS bronze.hf")
      BronzeIngest.ensureBronzeTable(spark, "bronze.hf.orders")
      val dir = bronzeCatalog.tableDir(Seq("hf"), "orders")
      val before = SnapshotLog.current(dir).map(_.files.toSet)
        .getOrElse(Set.empty)
      val rec = new jdk.jfr.Recording()
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      val n = try BronzeIngest.batchJobToTable(spark, root, "orders",
        """{"orders":{"0":0,"1":0,"2":0}}""", "latest", "bronze.hf.orders")
      finally rec.stop()
      val out = Paths.get(tmpDir("hf_jfr"), "forks.jfr")
      try rec.dump(out) finally rec.close()
      val forks = jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala
          .exists(_.getMethod.getType.getName.startsWith("graft."))))
        .map(_.getString("command"))
      val written = SnapshotLog.current(dir).get.files.toSet -- before
      assert(n == 60)
      assert(written.nonEmpty)
      assert(forks.isEmpty, s"${forks.size} processes forked under graft " +
        s"frames for ${written.size} data files")
    }

    test("vacuum reaps old checksum debris whose parquet is gone") {
      val dir = mk("debris", "id BIGINT")
      spark.sql("INSERT INTO bronze.hf.debris SELECT id FROM range(5)")
      val live = SnapshotLog.current(dir).get.files.head
      val old = FileTime.fromMillis(System.currentTimeMillis() - 7200000L)
      def plant(name: String, mtime: Option[FileTime]): Path = {
        val p = Files.write(Paths.get(dir, name), Array[Byte](1, 2, 3))
        mtime.foreach(Files.setLastModifiedTime(p, _))
        p
      }
      val oldStage = plant("..stage-q0-e1-a0-p0-t1-k0.parquet.crc", Some(old))
      val freshStage = plant("..stage-q0-e2-a0-p0-t2-k0.parquet.crc", None)
      val liveCrc = plant(s".$live.crc", Some(old))
      SnapshotLog.vacuum(dir, retainLast = 1)
      assert(!Files.exists(oldStage), "old debris survived")
      assert(Files.exists(freshStage), "fresh debris was reaped")
      assert(Files.exists(liveCrc), "the checksum of a live file was reaped")
      assert(spark.table("bronze.hf.debris").count() == 5)
    }
  }
}
