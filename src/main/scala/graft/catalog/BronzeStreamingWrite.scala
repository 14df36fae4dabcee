package graft.catalog

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.graftshim.shim
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Adds STREAMING_WRITE to the bronze catalog's parquet tables so the
  * reference's own streaming sink line —
  * `decoded.writeStream...toTable("bronze.db.orders")`
  * (KafkaAvroToIceberg.scala:92-100, the `.toTable` variant) — runs
  * as written. Spark's V2 file tables only advertise batch
  * read/write; this wrapper delegates those and supplies a streaming
  * write with the classic stage-then-rename protocol:
  *
  *   - each task writes its rows to `.stage-q<query>-e<epoch>-p<part>-
  *     t<task>` (attempt-unique, so speculative/retried tasks never
  *     collide);
  *   - the driver's epoch commit renames staged files to the
  *     DETERMINISTIC destination `part-q<query>-e<epoch>-p<part>
  *     .parquet`, REPLACE_EXISTING — an epoch replay after restart
  *     rewrites the same destinations instead of duplicating them (the
  *     same idempotence contract the file-sink manifest provides,
  *     expressed with names; local/posix-rename filesystems only,
  *     which is what this catalog targets).
  *
  * Destinations are scoped by the STREAMING QUERY ID (the stable id in
  * checkpoint metadata — `LogicalWriteInfo.queryId`; unlike runId it
  * survives restarts from the same checkpoint, which is exactly the
  * scope replay idempotence needs): a second query appending to the
  * same table restarts its own epoch counter at 0, and without the
  * scope its commits would REPLACE_EXISTING-overwrite the first
  * query's files and its stale-file sweep would delete them. With the
  * scope, distinct queries append; only a replay of the SAME
  * checkpoint rewrites.
  *
  * `tableSchema` is the schema the table reports and every write,
  * row-level op and scan of it uses: the load's pinned declared schema
  * in file-table form ([[shim.fileTableSchema]]). It never comes from
  * `delegate.schema()`, which forces the delegate's file index; so a
  * load, its analysis and a write build list nothing, and the index is
  * built only when a scan asks for it — from the manifest for a pinned
  * snapshot ([[ManifestFileIndex]]), by listing only in a legacy dir.
  */
final class BronzeWritableTable(delegate: Table, dir: String,
    tableSchema: StructType,
    snapshotFiles: Option[Seq[String]] = None,
    snapshotEntries: Seq[SnapshotLog.FileEntry] = Seq.empty,
    snapshotEqDeletes: Seq[SnapshotLog.EqDelete] = Seq.empty)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  override def name(): String = delegate.name()
  override def schema(): StructType = tableSchema

  /** The ACTIVE partition transforms (identity/days/bucket) —
    * reported to Spark (DESCRIBE/SHOW CREATE) and compiled into every
    * write's fanout routing. */
  private lazy val partSpec: Seq[BronzePartitioning.PartField] =
    BronzePartitioning.read(Paths.get(dir))

  /** Active + retired transforms — what scan PRUNING evaluates, so a
    * file written under a pre-evolution spec still prunes with the
    * transforms of its own era (per-file spec pruning). */
  private lazy val pruneSpec: Seq[BronzePartitioning.PartField] =
    BronzePartitioning.readAll(Paths.get(dir))

  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] =
    BronzePartitioning.toTransforms(partSpec)

  /** The pinned snapshot's data files (None = legacy listing mode) —
    * what a `_file`-projecting scan and the row-level machinery read. */
  def pinnedFiles: Seq[String] =
    snapshotFiles.getOrElse(SnapshotLog.listDataFiles(dir))

  // `_file`: full path of the data file each row lives in, and
  // `_pos`: the row's physical position within it (Iceberg's metadata
  // columns of the same names) — what group-granular row-level
  // operations select on, and together the ROW ID the merge-on-read
  // delta path retracts by (position-delete sidecars reference
  // exactly (file, pos))
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_file"
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.StringType
        override def isNullable: Boolean = false
        override def comment(): String = "data file path of the row"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_pos"
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = false
        override def comment(): String =
          "physical row position within the data file"
      })

  // UPDATE / MERGE INTO / untranslatable-predicate DELETE — the
  // group-based copy-on-write path (Spark plans the rewrite, this
  // table swaps the affected files in one snapshot). Simple DELETEs
  // stay on the metadata-only SupportsDelete path below.
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    new BronzeRowLevelOperationBuilder(dir, tableSchema, info)

  // `DELETE FROM bronze.db.t WHERE ...` — copy-on-write via a
  // `delete` snapshot (BronzeRowDelete); refusing untranslatable
  // predicates HERE makes Spark fail the statement instead of
  // running a partial delete
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    BronzeRowDelete.canTranslate(filters)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    BronzeRowDelete.deleteWhere(org.apache.spark.sql.SparkSession.active,
      dir, tableSchema, filters)

  override def capabilities(): util.Set[TableCapability] = {
    val caps = new util.HashSet[TableCapability](delegate.capabilities())
    caps.add(TableCapability.STREAMING_WRITE)
    caps.add(TableCapability.MICRO_BATCH_READ) // snapshot-log streaming read
    caps
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // EQUALITY deletes applicable per file: sidecars committed at a
    // strictly later data sequence than the file (upsert retractions)
    // AND whose key ranges the file's manifest stats cannot exclude —
    // a file provably outside every key range skips the per-row key
    // probes entirely (MorDeletes.eqMayApply, conservative)
    val eqOf: SnapshotLog.FileEntry => Seq[String] = e =>
      snapshotEqDeletes
        .filter(d => d.seq > e.seq.getOrElse(Long.MinValue) &&
          MorDeletes.eqMayApply(s"$dir/${d.name}", e, tableSchema))
        .map(_.name)
    val delsOf: String => Seq[String] = {
      val byName = snapshotEntries.map(e => e.name -> e.deletes).toMap
      f => byName.getOrElse(f, Seq.empty)
    }
    // a snapshot carrying MERGE-ON-READ position or equality deletes
    // reads through the per-file readers that apply each file's skip
    // set and key sets (vectorized parquet decode underneath) until
    // OPTIMIZE purges the sidecars; manifest stats/tuple pruning
    // still applies inside
    if (BronzeMor.hasDeletes(snapshotEntries) ||
        snapshotEntries.exists(e => eqOf(e).nonEmpty))
      return BronzeMor.scanBuilder(dir, snapshotEntries,
        tableSchema, pruneSpec,
        () => BronzeStreamRead.microBatchStream(dir, tableSchema,
          options),
        eqOf)
    // manifest-stats file skipping: when the pinned snapshot carries
    // per-file stats, pushed filters can REBUILD the delegate over the
    // surviving file list before Spark ever plans the scan — dropped
    // files are never opened, never scheduled (BronzePruning)
    val pruner: Seq[org.apache.spark.sql.sources.Filter] =>
        Option[(ScanBuilder, String, Option[Long], Option[Long])] =
      if (snapshotEntries.forall(e => e.stats.isEmpty && e.parts.isEmpty))
        null
      else filters => {
        val keep = BronzePruning.survivors(snapshotEntries,
          tableSchema, filters, pruneSpec)
        if (keep.size == snapshotEntries.size) None
        else {
          val pruned = ManifestFileIndex.table(
            org.apache.spark.sql.SparkSession.active, delegate.name(), dir,
            keep, tableSchema)
          val (rows, bytes) = BronzeStreamRead.manifestStats(keep)
          Some((pruned.asInstanceOf[SupportsRead].newScanBuilder(options),
            s" [stats-pruned ${keep.size}/${snapshotEntries.size} files]",
            rows, bytes))
        }
      }
    BronzeStreamRead.scanBuilder(
      delegate.asInstanceOf[SupportsRead].newScanBuilder(options),
      dir, tableSchema, options,
      // `_file` projections can't come from the delegate parquet scan;
      // a scan that needs the column diverts to the per-file reader
      // over this load's pinned snapshot (position+equality deletes
      // applied)
      required => BronzeMetadataFileScan.scan(dir, pinnedFiles,
        tableSchema, required, delsOf, {
          // prebuilt map, not a per-file linear scan: planning a
          // 100k-file snapshot must stay O(files), not O(files^2)
          val byName = snapshotEntries.map(e => e.name -> e).toMap
          f => byName.get(f).map(eqOf).getOrElse(Seq.empty)
        }),
      pruner,
      // unpruned scans still report the manifest's EXACT totals — the
      // footer row counts the snapshot commit already scraped
      BronzeStreamRead.manifestStats(snapshotEntries))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      // Files are written with the TABLE's declared schema, not
      // `info.schema()`: output resolution already aligned the query
      // to the table (names/order/types match), but only the declared
      // schema carries the PARQUET FIELD IDS that make renames
      // metadata-only — a file written without ids in an id-ed table
      // would refuse to resolve.
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = {
          // Same stage-then-rename protocol as the streaming path —
          // the reference's batch job commits one atomic Iceberg
          // snapshot (KafkaBatchJob.java:95-98); Spark's default
          // _temporary commit protocol can surface a partial batch.
          val confs =
            shim.parquetWriterConfs(org.apache.spark.sql.SparkSession.active)
          new BronzeBatchWrite(dir, tableSchema, info.queryId(), confs,
            partSpec)
        }
        override def toStreaming: StreamingWrite = {
          // Parquet-writer session confs must be captured HERE — this
          // runs on the driver where `SparkSession.active` exists; the
          // factory ships the plain Map to executor-side writers.
          val spark = org.apache.spark.sql.SparkSession.active
          val confs = shim.parquetWriterConfs(spark)
          // `.option("upsertKeys", "k1,k2")` turns the append sink
          // into a KEYED UPSERT sink: each epoch commits its rows
          // plus ONE equality-delete sidecar retracting every earlier
          // row with a matching key — O(changes) written, zero
          // target reads (the CDC write half)
          val upsertKeys = Option(info.options.get("upsertKeys"))
            .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          upsertKeys.foreach { ks =>
            val have = tableSchema.fieldNames.toSet
            val missing = ks.filterNot(have.contains)
            require(missing.isEmpty,
              s"upsertKeys not in table schema: ${missing.mkString(", ")}")
          }
          new BronzeStreamingWrite(dir, tableSchema, info.queryId(),
            confs, partSpec, upsertKeys, spark)
        }
      }
    }
}

/** One staged file, ready to move into place at commit, with the
  * partition tuple its rows share (empty on unpartitioned tables). */
private[catalog] final case class StagedEntry(staged: String, dest: String,
    parts: Map[String, String])

/** A task's commit message: every file its fanout writers staged. */
private[catalog] final case class StagedFiles(files: Seq[StagedEntry])
    extends WriterCommitMessage

private[catalog] object StagedCommit {
  /** Flatten task commit messages to non-empty staged files. */
  def files(messages: Array[WriterCommitMessage]): Seq[StagedEntry] =
    messages.toSeq.flatMap {
      case StagedFiles(fs) => fs.filter(_.staged.nonEmpty)
      case other =>
        throw new IllegalStateException(s"unexpected commit message: $other")
    }
}

private final class BronzeStreamingWrite(dir: String, schema: StructType,
    queryId: String, writerConfs: Map[String, String],
    partSpec: Seq[BronzePartitioning.PartField],
    upsertKeys: Option[Seq[String]] = None,
    spark: org.apache.spark.sql.SparkSession = null)
    extends StreamingWrite {

  // ATTEMPT token, fresh per StreamingWrite instance (per query run):
  // destinations are `part-q<query>-e<epoch>-a<attempt>-p<part>`, so a
  // replayed epoch after restart writes NEW names and the epoch's
  // manifest swap retires the crashed attempt's files WITHOUT touching
  // their bytes. A crashed attempt that committed its snapshot (crash
  // between SnapshotLog.commit and the checkpoint commit) keeps
  // reading ITS OWN files consistently under time travel — the old
  // deterministic-destination design REPLACE_EXISTING-overwrote some
  // of them on replay while leaving others stale, which silently
  // duplicated rows in the pinned snapshot whenever the replay planned
  // a different partition count. Retired bytes are reaped by vacuum.
  private val attempt =
    java.util.UUID.randomUUID().toString.substring(0, 8)

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new BronzeStreamingWriterFactory(dir, schema, queryId, attempt,
      writerConfs, partSpec)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val staged = StagedCommit.files(messages)
    val dests = staged.map(f => Paths.get(f.dest).getFileName.toString).toSet
    // the epoch prefix matches EVERY attempt's files of this epoch
    // (and this query): the manifest swap below retires a crashed
    // attempt's epoch wholesale. Bytes stay on disk for pinned
    // snapshots; vacuum reaps them. Only a LEGACY dir (no snapshot
    // log — reads are directory listings, so on-disk bytes ARE the
    // table) still needs the physical sweep, including the
    // pre-query-scoping `part-e` names.
    val epochPrefix = s"part-q$queryId-e$epochId-"
    if (!SnapshotLog.enabled(dir)) {
      val listing = Files.list(Paths.get(dir))
      try listing.iterator().forEachRemaining { p =>
        val name = p.getFileName.toString
        if ((name.startsWith(epochPrefix) && !dests.contains(name)) ||
            name.startsWith("part-e"))
          Files.deleteIfExists(p)
      } finally listing.close()
    }
    staged.foreach { f =>
      Files.move(Paths.get(f.staged), Paths.get(f.dest),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val parts = staged.filter(_.parts.nonEmpty)
      .map(f => Paths.get(f.dest).getFileName.toString -> f.parts).toMap
    // keyed upsert: ONE equality-delete sidecar holding the epoch's
    // distinct key tuples, committed with the data files — readers
    // drop every EARLIER row with a matching key (strict seq order,
    // so this epoch's own rows survive). Written from the just-moved
    // dest files: O(epoch rows) read, zero reads of the target table.
    val eqSidecar: Option[String] = upsertKeys.filter(_ => dests.nonEmpty)
      .flatMap { ks =>
        val keys = spark.read.schema(schema)
          .parquet(dests.map(d => s"$dir/$d").toSeq: _*)
          .select(ks.map(org.apache.spark.sql.functions.col): _*)
          .distinct()
        BronzeMor.writeEqDeleteFile(spark, dir, keys)
      }
    val operation = if (upsertKeys.isDefined) "upsert" else "streaming-append"
    // one snapshot per epoch: this attempt's files REPLACE any same-
    // epoch files of prior attempts in the MANIFEST (set algebra
    // mirrors the legacy physical sweep), everything else carries over
    SnapshotLog.commitWith(dir, operation, parts,
      mkEqDeletes = (parent, next) =>
        parent.map(_.eqDeletes).getOrElse(Seq.empty) ++
          eqSidecar.map(SnapshotLog.EqDelete(_, next))) { parent =>
      (parent.map(_.files.toSet)
        .getOrElse(SnapshotLog.listDataFiles(dir).toSet)
        .filterNot(f =>
          f.startsWith(epochPrefix) || f.startsWith("part-e")) ++ dests,
        parent.flatMap(_.schemaFile))
    }
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case StagedFiles(fs) =>
        fs.foreach(f => Files.deleteIfExists(Paths.get(f.staged)))
      case _ => ()
    }
}

private final class BronzeStreamingWriterFactory(dir: String,
    schema: StructType, queryId: String, attempt: String,
    writerConfs: Map[String, String],
    partSpec: Seq[BronzePartitioning.PartField])
    extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new BronzeDataWriter(dir, schema, partitionId, taskId, epochId, queryId,
      attempt, writerConfs, partSpec)
}

private final class BronzeDataWriter(dir: String, schema: StructType,
    partitionId: Int, taskId: Long, epochId: Long, queryId: String,
    attempt: String, writerConfs: Map[String, String],
    partSpec: Seq[BronzePartitioning.PartField])
    extends DataWriter[InternalRow] {

  // task-unique stage names; destinations scoped by the stable
  // streaming query id + the RUN's attempt token (replays retire prior
  // attempts via the manifest, never by overwriting their bytes); `k`
  // indexes the task's fanout writers (one per partition tuple)
  private val fanout = new FanoutParquetWriter(dir, schema,
    i => s".stage-q$queryId-e$epochId-a$attempt-p$partitionId-t$taskId" +
      s"-k$i.parquet",
    i => s"part-q$queryId-e$epochId-a$attempt-p$partitionId-k$i.parquet",
    partSpec, writerConfs)

  override def write(record: InternalRow): Unit = fanout.write(record)
  override def commit(): WriterCommitMessage = fanout.commit()
  override def abort(): Unit = fanout.abort()
  override def close(): Unit = ()
}
