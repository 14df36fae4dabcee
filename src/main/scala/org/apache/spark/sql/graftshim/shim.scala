package org.apache.spark.sql.graftshim

import org.apache.spark.sql.classic.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** ScanBuilder wrapper that adds a streaming (micro-batch) read to a
  * file table's scan while PRESERVING its pushdown surface: Catalyst
  * probes pushdown capabilities with `instanceof` checks on the
  * ScanBuilder, so a plain wrapper would silently cost every batch
  * read its filter/column/aggregate pushdown. The catalyst-filter
  * interface is `private[sql]` — which is why this class lives in the
  * shim package. `mkStream` builds the stream from the scan options
  * (graft's snapshot-log version stream). */
final class SnapshotScanBuilder(
    delegate0: org.apache.spark.sql.connector.read.ScanBuilder,
    desc: String,
    mkStream: () => org.apache.spark.sql.connector.read.streaming.MicroBatchStream,
    mkMetadataScan: org.apache.spark.sql.types.StructType =>
      org.apache.spark.sql.connector.read.Scan = null,
    filePruner: Seq[org.apache.spark.sql.sources.Filter] =>
      Option[(org.apache.spark.sql.connector.read.ScanBuilder, String,
        Option[Long], Option[Long])] = null,
    snapStats: (Option[Long], Option[Long]) = (None, None))
    extends org.apache.spark.sql.connector.read.ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownVariantExtractions {

  import org.apache.spark.sql.connector.read._

  // the delegate is SWAPPED when manifest-stats file skipping applies:
  // pushFilters (always the FIRST pushdown Catalyst performs on a V2
  // relation) may replace it with a builder over the pruned file list,
  // and every later call (aggregates, column pruning, build) lands on
  // the pruned builder
  private var delegate: ScanBuilder = delegate0
  private var pruneInfo: String = ""

  // EXACT manifest statistics of the scan's current file set: the
  // pinned snapshot's footer-scraped row/byte totals, replaced by the
  // survivors' totals when pruning swaps the delegate. Reported from
  // estimateStatistics() instead of the parquet scan's size-only
  // estimate — the join-strategy input (broadcast-vs-shuffle) on
  // bronze tables then sees true post-pruning cardinality. Residual
  // (post-scan) predicates make the row count an upper bound — the
  // same convention Iceberg's scan reports use. Disabled when an
  // aggregate is pushed: the scan's output is aggregated rows, not
  // base rows.
  private var statRows: Option[Long] = snapStats._1
  private var statBytes: Option[Long] = snapStats._2
  private var aggPushed: Boolean = false

  // a projection that references the `_file` metadata column can't be
  // served by the delegate parquet scan — remember the requested
  // schema and divert build() to the table's per-file reader scan
  private var metadataSchema: org.apache.spark.sql.types.StructType = _

  // every pushdown forward is instanceof-guarded with the interface's
  // documented no-op as the fallback (nothing pushed), so a future
  // delegate lacking one capability degrades to an un-pushed scan
  // instead of a ClassCastException at plan time

  override def pruneColumns(
      requiredSchema: org.apache.spark.sql.types.StructType): Unit =
    if (mkMetadataScan != null &&
        (requiredSchema.fieldNames.contains("_file") ||
          requiredSchema.fieldNames.contains("_pos"))) {
      metadataSchema = requiredSchema
    } else delegate match {
      case d: SupportsPushDownRequiredColumns =>
        d.pruneColumns(requiredSchema)
      case _ => ()
    }

  override def pushFilters(
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    // manifest-stats file skipping: translate what translates to the
    // public Filter algebra (the SAME translation Spark applies for V1
    // pushdown; untranslatable conjuncts just don't prune) and ask the
    // table to rebuild the delegate over the surviving file list
    if (filePruner != null && filters.nonEmpty) {
      val translated = filters.flatMap(f =>
        org.apache.spark.sql.execution.datasources.DataSourceStrategy
          .translateFilter(f, supportNestedPredicatePushdown = true))
      if (translated.nonEmpty) filePruner(translated).foreach {
        case (pruned, info, rows, bytes) =>
          delegate = pruned; pruneInfo = info
          statRows = rows; statBytes = bytes
      }
    }
    delegate match {
      case d: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
        d.pushFilters(filters)
      case _ => filters // nothing pushed: all remain post-scan
    }
  }

  override def pushedFilters
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    delegate match {
      case d: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
        d.pushedFilters
      case _ => Array.empty
    }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean =
    delegate match {
      case d: SupportsPushDownAggregates => d.supportCompletePushDown(agg)
      case _ => false
    }

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean =
    delegate match {
      case d: SupportsPushDownAggregates =>
        val pushed = d.pushAggregation(agg)
        if (pushed) aggPushed = true
        pushed
      case _ => false
    }

  override def pushVariantExtractions(
      extractions: Array[VariantExtraction]): Array[Boolean] =
    delegate match {
      case d: SupportsPushDownVariantExtractions =>
        d.pushVariantExtractions(extractions)
      case _ => new Array[Boolean](extractions.length) // none pushed
    }

  override def build(): Scan =
    if (metadataSchema != null) mkMetadataScan(metadataSchema)
    else new SnapshotScan(delegate.build(), desc + pruneInfo, mkStream,
      if (aggPushed) None else statRows,
      if (aggPushed) None else statBytes)
}

/** The wrapper Scan: adds the micro-batch stream while FORWARDING the
  * delegate's reporting/runtime-filtering surface — Catalyst probes
  * these with `instanceof` on the Scan, so a minimal wrapper would
  * silently cost every bronze batch read its stats (join-strategy
  * input) and its runtime filtering (dynamic file pruning). Scans
  * without the capability get the interfaces' documented neutral
  * answers (unknown stats; no filterable attributes). */
private final class SnapshotScan(
    batch: org.apache.spark.sql.connector.read.Scan,
    desc: String,
    mkStream: () => org.apache.spark.sql.connector.read.streaming.MicroBatchStream,
    exactRows: Option[Long] = None,
    exactBytes: Option[Long] = None)
    extends org.apache.spark.sql.connector.read.Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  /** The wrapped batch scan (spec/audit hook — [[shim.scanInputFiles]]
    * unwraps through it to the planned file list). */
  def delegateScan: org.apache.spark.sql.connector.read.Scan = batch

  import org.apache.spark.sql.connector.read._

  override def readSchema(): org.apache.spark.sql.types.StructType =
    batch.readSchema()
  override def toBatch: Batch = batch.toBatch
  override def description(): String = desc
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    mkStream()

  override def estimateStatistics(): Statistics = {
    // manifest-exact stats win over the delegate's size-only estimate;
    // whichever of rows/bytes the manifest lacks falls back per-field
    val fallback: Statistics = batch match {
      case s: SupportsReportStatistics => s.estimateStatistics()
      case _ => new Statistics { // unknown: the interface's neutral answer
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
      }
    }
    if (exactRows.isEmpty && exactBytes.isEmpty) fallback
    else new Statistics {
      override def numRows(): java.util.OptionalLong =
        exactRows.map(java.util.OptionalLong.of)
          .getOrElse(fallback.numRows())
      override def sizeInBytes(): java.util.OptionalLong =
        exactBytes.map(java.util.OptionalLong.of)
          .getOrElse(fallback.sizeInBytes())
    }
  }

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    batch match {
      case s: SupportsRuntimeV2Filtering => s.filterAttributes()
      case _ => Array.empty
    }

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit =
    batch match {
      case s: SupportsRuntimeV2Filtering => s.filter(predicates)
      case _ => ()
    }
}

/** Minimal bridge into `private[sql]` surface: building a DataFrame
  * from a custom LogicalPlan node (the documented extension pattern —
  * third-party operators need exactly this one hook; everything else
  * in graft uses public API).
  */
object shim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark, plan)

  /** Column over a custom Expression (geometry-carrying IVF-PQ
    * expressions are constructed per build with driver-collected
    * state — registering each as a session-global SQL function would
    * leak one registration per build and race concurrent streams).
    * `ExpressionUtils.column` is `private[sql]`, hence here. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The catalyst Expression behind a (classic) Column — the inverse
    * bridge, for wrapping existing columns in custom expressions. */
  def expression(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** The data files a planned V2 scan will actually read — the audit
    * hook specs use to PROVE manifest-stats pruning shrank a scan
    * (unwraps graft's snapshot wrapper; `FileScan` is `private[sql]`,
    * hence here). None for non-file scans. */
  def scanInputFiles(scan: org.apache.spark.sql.connector.read.Scan)
      : Option[Seq[String]] = scan match {
    case s: SnapshotScan => scanInputFiles(s.delegateScan)
    case f: org.apache.spark.sql.execution.datasources.v2.FileScan =>
      Some(f.fileIndex.inputFiles.toSeq)
    case _ => None
  }

  def analyzedPlan(df: org.apache.spark.sql.DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  /** The session confs `ParquetWriteSupport.init` reads from the
    * Hadoop conf, CAPTURED DRIVER-SIDE from the active session so the
    * streaming-written files agree byte-for-byte with what a batch
    * `INSERT INTO` under the same session settings would produce
    * (timestamp physical type, timezone, rebase modes, …). The result
    * is a plain serializable Map the write factory ships to executors
    * — `SparkSession.active` does not exist there. Absent keys fall
    * back to Spark's own defaults for this build. */
  def parquetWriterConfs(spark: org.apache.spark.sql.SparkSession)
      : Map[String, String] = {
    import org.apache.spark.sql.internal.SQLConf
    val defaults = Map(
      SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key -> "false",
      SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key -> "TIMESTAMP_MICROS",
      SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key -> "true",
      SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key -> "false",
      SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key -> "CORRECTED",
      SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key -> "CORRECTED",
      SQLConf.SESSION_LOCAL_TIMEZONE.key -> "UTC")
    defaults.map { case (k, d) => k -> spark.conf.get(k, d) }
  }

  /** An executor-side parquet writer of `InternalRow`s to one file —
    * the piece graft's bronze STREAMING_WRITE needs.
    * `ParquetWriteSupport` is `private[sql]`, hence constructed here.
    * `sessionConfs` comes from [[parquetWriterConfs]] captured on the
    * driver.
    *
    * `path` is a LOCAL file path, written through `java.nio` (parquet's
    * `LocalOutputFile`), the same posix filesystem the bronze catalog
    * commits on with `Files.move`. No Hadoop `FileSystem` stream and no
    * default-resource `Configuration` is built per file: the write
    * support's conf holds only the schema and `sessionConfs`. So no
    * `.crc` sidecar is written, no `chmod` is forked, and Hadoop's
    * `fs.file.*`/checksum settings do not apply. The file must not
    * exist yet; its directory (the table dir) must. */
  def rowParquetWriter(
      path: String,
      schema: org.apache.spark.sql.types.StructType,
      sessionConfs: Map[String, String])
      : org.apache.parquet.hadoop.ParquetWriter[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.hadoop.conf.Configuration
    import org.apache.parquet.hadoop.ParquetWriter
    import org.apache.parquet.hadoop.api.WriteSupport
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
    val conf = parquetFileConf(sessionConfs)
    ParquetWriteSupport.setSchema(schema, conf)
    class B extends ParquetWriter.Builder[InternalRow, B](
        new org.apache.parquet.io.LocalOutputFile(java.nio.file.Paths.get(path))) {
      override def self(): B = this
      override def getWriteSupport(c: Configuration): WriteSupport[InternalRow] =
        new ParquetWriteSupport
    }
    new B().withConf(conf).build()
  }

  /** The Hadoop `Configuration` of one per-file parquet read or write:
    * `new Configuration(false)` holding only `keys`. A default-resource
    * conf re-parses `core-default.xml` and probes for `core-site.xml`
    * on its first read, once per file. */
  private def parquetFileConf(keys: Iterable[(String, String)])
      : org.apache.hadoop.conf.Configuration = {
    val conf = new org.apache.hadoop.conf.Configuration(false)
    keys.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  /** The conf both per-file row readers read `schema` through.
    * `ParquetToSparkSchemaConverter` reads five keys from the Hadoop
    * conf with NO defaults ("null".toBoolean throws); Spark's own
    * reader path populates them in `ParquetFileFormat`, so their
    * defaults are mirrored here. Field-id resolution is ON (not the
    * default): bronze tables resolve columns by parquet field id so
    * RENAME COLUMN is metadata-only; it only activates when the
    * requested schema carries ids (legacy id-less tables keep name
    * matching). */
  private def rowReadConf(schema: org.apache.spark.sql.types.StructType)
      : org.apache.hadoop.conf.Configuration = {
    import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
    import org.apache.spark.sql.internal.SQLConf
    val defaults = Seq(SQLConf.PARQUET_BINARY_AS_STRING,
      SQLConf.PARQUET_INT96_AS_TIMESTAMP, SQLConf.CASE_SENSITIVE,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG)
      .map(e => e.key -> e.defaultValue.get.toString)
    parquetFileConf(
      Seq(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA -> schema.json,
        SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key -> "true") ++ defaults)
  }

  /** Row-at-a-time view of one parquet file, whatever decoder is
    * underneath: `read()` returns the next row or null at EOF. The
    * returned row may be REUSED by the decoder — callers copy. */
  trait RowFileReader {
    def read(): org.apache.spark.sql.catalyst.InternalRow
    def close(): Unit
  }

  /** Executor-side VECTORIZED parquet reader of one file, surfaced
    * row-at-a-time: columnar decode through Spark's own
    * `VectorizedParquetRecordReader` (the same decoder the fast
    * whole-file scan path uses — `private[sql]`, hence here), rows
    * iterated off each `ColumnarBatch`. This is what keeps bronze
    * MERGE-ON-READ scans on vectorized decode: position-delete
    * application needs per-file physical row ordinals, which forces a
    * per-file reader — but NOT a per-row materializer. Falls back to
    * [[rowParquetReader]] when the vectorized reader declines the
    * schema (the same row-based fallback Spark's scan exec applies).
    * Rows come back in file order with every position present, so
    * callers' ordinal counting matches the sidecars' `pos` domain.
    * `schema` is the DECLARED table schema — missing columns (files
    * written before ADD COLUMN) surface as null vectors; resolution
    * is by parquet field id when the schema carries ids. */
  def vectorizedRowFileReader(
      path: String,
      schema: org.apache.spark.sql.types.StructType): RowFileReader = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}
    try {
      val conf = rowReadConf(schema)
      conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
        classOf[ParquetReadSupport].getName)
      // the base reader casts to the OLD-api FileSplit (which is-a
      // mapreduce InputSplit in Hadoop 3) — construct that one
      val split = new org.apache.hadoop.mapred.FileSplit(
        new org.apache.hadoop.fs.Path(path), 0, Long.MaxValue,
        Array.empty[String])
      val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
        conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
      val vec = new VectorizedParquetRecordReader(
        null, // convertTz: files carry UTC micros (writer conf)
        "CORRECTED", "UTC", "CORRECTED", "UTC",
        false, // on-heap vectors: executor-thread-local, short-lived
        4096)
      var ok = false
      var hasFirst = false
      try {
        vec.initialize(split, ctx)
        vec.initBatch(new org.apache.spark.sql.types.StructType(),
          InternalRow.empty)
        // eagerly decode the FIRST batch inside the guarded block: the
        // vectorized reader can also decline a physical-to-requested
        // conversion LAZILY, at the first batch fetch (Spark raises
        // SchemaColumnConvertNotSupportedException / UOE while decoding,
        // e.g. for exotic widenings) — committing to the vectorized
        // path on construction alone would fail the scan where Spark's
        // own exec degrades to parquet-mr. No row is lost: the fetched
        // first row is handed out on the first read() call.
        hasFirst = vec.nextKeyValue()
        ok = true
      } finally if (!ok) vec.close()
      new RowFileReader {
        private var pendingFirst = hasFirst
        private var exhausted = !hasFirst
        override def read(): InternalRow =
          if (pendingFirst) {
            pendingFirst = false
            vec.getCurrentValue.asInstanceOf[InternalRow]
          } else if (exhausted) null
          else if (vec.nextKeyValue()) {
            vec.getCurrentValue.asInstanceOf[InternalRow]
          } else { exhausted = true; null }
        override def close(): Unit = vec.close()
      }
    } catch {
      // the vectorized reader declines some schemas (e.g. exotic
      // nesting) with UnsupportedOperationException — same trigger
      // Spark's own scan uses to fall back to row-based parquet-mr —
      // and declines some physical-type conversions only at first-batch
      // decode with SchemaColumnConvertNotSupportedException (caught
      // here because the first batch is fetched inside the try above)
      case e if e.isInstanceOf[UnsupportedOperationException] ||
          e.isInstanceOf[org.apache.spark.sql.execution.datasources
            .SchemaColumnConvertNotSupportedException] =>
        val mr = rowParquetReader(path, schema)
        new RowFileReader {
          override def read(): InternalRow = mr.read()
          override def close(): Unit = mr.close()
        }
    }
  }

  /** Executor-side parquet reader of `InternalRow`s from one file —
    * the read twin of [[rowParquetWriter]], used by the bronze
    * snapshot log's STREAMING READ (each appended file of a
    * micro-batch is read directly; Spark's own V2 parquet read stack
    * is tied to `FileScan`, which has no snapshot-log notion).
    * `ParquetReadSupport` is `private[sql]`, hence constructed here.
    * Rebase modes are CORRECTED, matching [[parquetWriterConfs]]'s
    * write side; the materializer may REUSE its row, so callers copy.
    * `schema` must be the DECLARED table schema — files written
    * before an ADD COLUMN lack the column and surface NULLs. */
  def rowParquetReader(
      path: String,
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.parquet.hadoop.ParquetReader[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
    import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
    import org.apache.spark.sql.internal.LegacyBehaviorPolicy
    val support = new ParquetReadSupport(
      None, // convertTz: files carry UTC micros (writer conf)
      false, // row-based materialization, not vectorized
      RebaseSpec(LegacyBehaviorPolicy.CORRECTED, None),
      RebaseSpec(LegacyBehaviorPolicy.CORRECTED, None))
    org.apache.parquet.hadoop.ParquetReader
      .builder(support, new org.apache.hadoop.fs.Path(path))
      .withConf(rowReadConf(schema))
      .build()
  }

  /** A V2 parquet `Table` (SupportsRead + SupportsWrite) over one
    * directory — the storage half of graft's `bronze` TableCatalog.
    * `ParquetTable` is `private[sql]`, hence constructed here. */
  def parquetTable(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      dir: String,
      schema: Option[org.apache.spark.sql.types.StructType])
      : org.apache.spark.sql.connector.catalog.Table =
    org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable(
      name,
      spark,
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.singletonMap("path", dir)),
      Seq(dir),
      schema,
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat])

  /** Same, but over an EXPLICIT file list with the file index given —
    * the read half of the bronze snapshot log: a table load pins one
    * snapshot's file set, so concurrent commits never change a planned
    * scan (snapshot isolation) and `VERSION AS OF` reads an old set.
    * `index` (graft's `ManifestFileIndex`, read from the manifest)
    * replaces the `InMemoryFileIndex` that `FileTable` would build by
    * listing every file; it is built when a scan first asks for it, so
    * building the table lists nothing. An empty list (a just-created
    * table's v0) is a valid empty relation because the schema is always
    * supplied, never inferred. */
  def parquetTableFiles(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      files: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      index: => org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex)
      : org.apache.spark.sql.connector.catalog.Table =
    new org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable(
      name,
      spark,
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty(),
      files,
      Some(schema),
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat]) {
      override lazy val fileIndex
          : org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex =
        index
    }

  /** The schema a V2 file table reports for a supplied `schema`: every
    * field nullable (files cannot enforce NOT NULL), metadata such as
    * parquet field ids kept. A bronze table reports it without building
    * the file index that `FileTable.schema` forces. */
  def fileTableSchema(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable
}
