package graft.catalog

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NonEmptyNamespaceException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.graftshim.shim
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, IntegerType, LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Minimal filesystem TableCatalog restoring the reference's 3-level
  * identifier surface (`bronze.db.orders` — DDL at
  * `/root/reference/src/main/scala/org/openprojectx/data/spark/bronze/KafkaAvroToIceberg.scala:79-89`,
  * catalog registration at
  * `/root/reference/src/main/resources/spark-defaults.properties:4-9`,
  * an Iceberg hadoop-warehouse catalog named `bronze`).
  *
  * Layout mirrors a hadoop-style warehouse: each table is
  * `<warehouse>/<namespace...>/<table>/` holding parquet files plus a
  * `_graft_schema.json` sidecar (the declared schema — V2 file tables
  * must not re-infer on every load, and an empty just-created table
  * has nothing to infer from). Reads and writes go through Spark's V2
  * parquet `FileTable`, so `CREATE TABLE bronze.db.orders`,
  * `INSERT INTO`, `spark.table("bronze.db.orders")` and
  * `DataFrameWriter.insertInto` all resolve against this catalog with
  * ordinary Catalyst planning (pushdown, pruning included).
  *
  * Register (spark-defaults shape, same keys as the reference):
  * {{{
  *   spark.sql.catalog.bronze = graft.catalog.BronzeCatalog
  *   spark.sql.catalog.bronze.warehouse = /path/to/warehouse
  * }}}
  */
class BronzeCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var warehouse: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Paths.get(
      options.getOrDefault("warehouse", s"spark-warehouse/$name"))
    Files.createDirectories(warehouse)
    // Bronze tables resolve columns by PARQUET FIELD ID (Iceberg's
    // mechanism — ids assigned at create, carried in the schema
    // sidecar's field metadata, written into every data file), which
    // is what makes RENAME COLUMN metadata-only: old files keep their
    // bytes and resolve through the id. The conf is session-global
    // but only activates for requested schemas that CARRY ids, so
    // non-bronze reads are untouched.
    try SparkSession.active.conf
      .set("spark.sql.parquet.fieldId.read.enabled", "true")
    catch { case _: IllegalStateException => () } // no active session
  }

  override def name(): String = catalogName

  /** The effective warehouse root — the catalog instance is cached
    * per session on first use, so a caller's conf value may not be
    * the one in effect. */
  def warehouseDir: String = warehouse.toString

  /** Storage directory of an existing table — the hook fan-out
    * appends use to address a table's files directly. */
  def tableDir(namespace: Seq[String], name: String): String = {
    val ident = Identifier.of(namespace.toArray, name)
    val dir = dirOf(ident)
    if (!isTableDir(dir)) throw new NoSuchTableException(ident)
    dir.toString
  }

  private val SchemaFile = "_graft_schema.json"

  /** Parquet field-id metadata key — the one Spark's parquet
    * writer/reader honor (`spark.sql.parquet.fieldId.*`). */
  private val FieldIdKey = "parquet.field.id"

  private def hasFieldIds(schema: StructType): Boolean =
    schema.fields.nonEmpty &&
      schema.fields.forall(_.metadata.contains(FieldIdKey))

  private def withFieldId(f: org.apache.spark.sql.types.StructField,
      id: Long): org.apache.spark.sql.types.StructField =
    f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata).putLong(FieldIdKey, id).build())

  /** Allocate a field id strictly greater than any id EVER assigned
    * to this table — Iceberg's `last-column-id`, kept as a filesystem
    * fact. Schema sidecars alone are not a safe record: vacuum reaps
    * pins of expired versions, and after DROP COLUMN the dropped id
    * must stay retired FOREVER — retained data files still physically
    * carry the dropped column's bytes under that id, so a later ADD
    * COLUMN reusing it would resolve those bytes into the new column
    * (silent resurrection). Every assignment therefore claims an
    * empty `id-<n>` marker in the log dir (createFile = atomic CAS;
    * racing alters get distinct ids; vacuum never touches markers).
    * Ids burned by lost CAS retries leave gaps — harmless, Iceberg
    * burns ids the same way. */
  private def allocateFieldId(dir: Path, sch: StructType): Long = {
    val logd = dir.resolve("_graft_snapshots")
    Files.createDirectories(logd)
    val markerIds = children(logd).map(_.getFileName.toString)
      .filter(_.startsWith("id-"))
      .flatMap(s => s.substring(3).toLongOption)
    val sidecarIds = SnapshotLog.listSchemaSidecars(dir.toString)
      .flatMap { name =>
        try DataType.fromJson(
          SnapshotLog.readSchemaSidecar(dir.toString, name))
          .asInstanceOf[StructType].fields.toSeq
          .filter(_.metadata.contains(FieldIdKey))
          .map(_.metadata.getLong(FieldIdKey))
        catch { case _: Exception => Seq.empty[Long] }
      }
    val schIds = sch.fields.toSeq.filter(_.metadata.contains(FieldIdKey))
      .map(_.metadata.getLong(FieldIdKey))
    var next = (markerIds ++ sidecarIds ++ schIds).foldLeft(0L)(math.max) + 1
    while (true) {
      try { Files.createFile(logd.resolve(s"id-$next")); return next }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => next += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Declared schema of the table dir as pinned by `snap` (falling
    * back to the current sidecar for legacy/pre-pinning manifests). */
  private def schemaOf(dir: Path,
      snap: Option[SnapshotLog.Snapshot]): StructType = {
    val json = snap.flatMap(_.schemaFile) match {
      case Some(name) => SnapshotLog.readSchemaSidecar(dir.toString, name)
      case None => Files.readString(dir.resolve(SchemaFile))
    }
    DataType.fromJson(json).asInstanceOf[StructType]
  }

  /** Atomically mirror the CURRENT schema into the table-root sidecar
    * (the fast path for loads and the legacy-reader view): temp file +
    * atomic move, never an in-place truncate-write a concurrent
    * reader could see half of. */
  private def mirrorSchemaFile(dir: Path, schema: StructType): Unit = {
    val tmp = dir.resolve(s".$SchemaFile.${java.util.UUID.randomUUID}")
    Files.writeString(tmp, schema.json)
    Files.move(tmp, dir.resolve(SchemaFile),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def dirOf(namespace: Array[String]): Path =
    namespace.foldLeft(warehouse)(_.resolve(_))

  private def dirOf(ident: Identifier): Path =
    dirOf(ident.namespace).resolve(ident.name)

  private def isTableDir(p: Path): Boolean =
    Files.isRegularFile(p.resolve(SchemaFile))

  /** Children of `dir` (closing the listing stream — `Files.list`
    * holds a directory fd until closed). */
  private def children(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator.asScala.toSeq finally s.close()
  }

  // ---- tables -----------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = dirOf(namespace)
    if (!Files.isDirectory(ns)) throw new NoSuchNamespaceException(namespace)
    children(ns)
      .filter(isTableDir)
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
  }

  override def loadTable(ident: Identifier): Table = {
    // Iceberg-metadata-table-style nested resolution: the CHANGE FEED
    // of `db.t` loads as `db.t.changes` (readStream.table consumes it
    // as a CDC source). Only kicks in when the nested name does NOT
    // itself name a real table, so a literal table named `changes`
    // still wins.
    val dir = dirOf(ident)
    if (!isTableDir(dir) &&
      ident.name == BronzeChangeFeed.NameSuffix &&
      ident.namespace.nonEmpty) {
      val baseDir = dirOf(ident.namespace)
      if (isTableDir(baseDir)) {
        val declared = schemaOf(baseDir,
          SnapshotLog.current(baseDir.toString))
        return BronzeChangeFeed.table(
          (catalogName +: ident.namespace.toSeq :+ ident.name)
            .mkString("."),
          baseDir.toString, declared)
      }
    }
    loadSnapshot(ident, SnapshotLog.current(dir.toString))
  }

  /** `SELECT ... FROM bronze.db.t VERSION AS OF <n>` — Spark resolves
    * the version clause through this overload (the same hook Iceberg
    * implements). The returned table reads exactly snapshot `n`'s
    * file set; appends made after `n` are invisible. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirOf(ident)
    if (!isTableDir(dir)) throw new NoSuchTableException(ident)
    // numeric = snapshot version; otherwise a TAG name (Iceberg's
    // `VERSION AS OF 'ref'`) — "the table exactly as tag X pinned it"
    val v = version.toLongOption.getOrElse(
      SnapshotLog.resolveTag(dir.toString, version).getOrElse(
        throw new IllegalArgumentException(
          s"VERSION AS OF $version: not a snapshot number and no such " +
            s"tag (tags: ${SnapshotLog.listTags(dir.toString).keys.toSeq
              .sorted.mkString(", ")})")))
    loadSnapshot(ident, Some(SnapshotLog.read(dir.toString, v)))
  }

  /** Create/drop/list snapshot TAGS — named refs vacuum retains
    * (Iceberg's tag): pin "the exact table version run X consumed". */
  def tagTable(namespace: Seq[String], name: String, tag: String,
      version: Long): Unit =
    SnapshotLog.createTag(tableDir(namespace, name), tag, version)

  def dropTableTag(namespace: Seq[String], name: String,
      tag: String): Boolean =
    SnapshotLog.dropTag(tableDir(namespace, name), tag)

  def tableTags(namespace: Seq[String], name: String): Map[String, Long] =
    SnapshotLog.listTags(tableDir(namespace, name))

  /** Iceberg's `rollback_to_snapshot`: step the table's CURRENT state
    * back to `version` via a new history-preserving `rollback`
    * snapshot (schema pin included — rolling back across an ALTER
    * restores that era's columns). The bad commits stay auditable in
    * history until vacuumed. */
  def rollbackTable(namespace: Seq[String], name: String,
      version: Long): Unit = {
    SnapshotLog.rollback(tableDir(namespace, name), version)
    // the root schema mirror follows the restored pin
    val dir = Paths.get(tableDir(namespace, name))
    mirrorSchemaFile(dir, schemaOf(dir,
      SnapshotLog.current(dir.toString)))
  }

  /** Iceberg's `table$refs` metadata table — (name, version) per tag. */
  def refsTable(namespace: Seq[String], name: String)
      : org.apache.spark.sql.DataFrame =
    BronzeMetaTables.refs(SparkSession.active, tableDir(namespace, name))

  // ---- branches / write-audit-publish (see BronzeBranches) ---------

  /** Fork a staging BRANCH from the current (or given) main version. */
  def createBranch(namespace: Seq[String], name: String, branch: String,
      fromVersion: Option[Long] = None): Unit = {
    BronzeBranches.createBranch(tableDir(namespace, name), branch,
      fromVersion)
    ()
  }

  /** Stage a batch ONTO a branch — durable, auditable, invisible to
    * main readers. Returns rows appended. */
  def appendToBranch(namespace: Seq[String], name: String, branch: String,
      df: org.apache.spark.sql.DataFrame): Long =
    BronzeBranches.append(SparkSession.active,
      tableDir(namespace, name), branch, df)

  /** The branch VIEW (base + staged rows) — what the audit queries. */
  def readBranch(namespace: Seq[String], name: String,
      branch: String): org.apache.spark.sql.DataFrame =
    BronzeBranches.readBranch(SparkSession.active,
      tableDir(namespace, name), branch)

  /** PUBLISH: fast-forward main to the branch state in one atomic,
    * CAS-validated commit; refuses if main advanced past the base. */
  def publishBranch(namespace: Seq[String], name: String,
      branch: String): Unit = {
    BronzeBranches.fastForwardPublish(tableDir(namespace, name), branch)
    ()
  }

  /** Abandon a staging branch (the failed-audit verb); its files age
    * out as orphans. */
  def dropBranch(namespace: Seq[String], name: String,
      branch: String): Boolean =
    BronzeBranches.dropBranch(tableDir(namespace, name), branch)

  def branches(namespace: Seq[String], name: String): Seq[String] =
    BronzeBranches.listBranches(tableDir(namespace, name))

  /** `TIMESTAMP AS OF` — `timestamp` arrives in MICROSECONDS since
    * the epoch (the V2 contract); resolves to the latest snapshot
    * committed at or before it. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = dirOf(ident)
    if (!isTableDir(dir)) throw new NoSuchTableException(ident)
    val snap = SnapshotLog.asOfTimestamp(dir.toString, timestamp)
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot of ${ident} at or before timestamp $timestamp us"))
    loadSnapshot(ident, Some(snap))
  }

  /** Build the table over one pinned snapshot, or — legacy dirs with
    * no snapshot log — over the directory listing. A snapshot load is
    * metadata only: the schema is the snapshot's pinned sidecar and
    * scans plan their files from the manifest ([[ManifestFileIndex]]),
    * so neither the load, the analysis nor a write build lists a file
    * or starts a Spark job, however many files the table holds. */
  private def loadSnapshot(ident: Identifier,
      snap: Option[SnapshotLog.Snapshot]): Table = {
    val dir = dirOf(ident)
    if (!isTableDir(dir)) throw new NoSuchTableException(ident)
    // the schema is PINNED per snapshot (Iceberg schema-id): VERSION
    // AS OF a pre-evolution version reads with the names of that time
    val schema = schemaOf(dir, snap)
    val fqn = (catalogName +: ident.namespace.toSeq :+ ident.name).mkString(".")
    val parquet = snap match {
      case Some(s) => ManifestFileIndex.table(SparkSession.active, fqn,
        dir.toString, s.entries.sortBy(_.name), schema)
      case None => // legacy: listing-mode read, first commit will seed
        shim.parquetTable(SparkSession.active, fqn, dir.toString, Some(schema))
    }
    // V2 file tables only advertise batch read/write; the wrapper adds
    // the streaming write (stage-then-rename, epoch-idempotent) so the
    // reference's `writeStream...toTable("bronze.db.orders")` works —
    // and the snapshot's manifest entries ride along so pushed filters
    // can stats-prune the file list at scan planning
    new BronzeWritableTable(parquet, dir.toString,
      shim.fileTableSchema(schema), snap.map(_.files),
      snap.map(_.entries).getOrElse(Seq.empty),
      snap.map(_.eqDeletes).getOrElse(Seq.empty))
  }

  /** Iceberg `rewrite_data_files` (OPTIMIZE): compact this table's
    * small files into ~`targetBytes` files, committed as one REPLACE
    * snapshot; old versions keep reading the originals until
    * [[vacuumTable]]. Returns (filesCompacted, filesCreated). */
  def optimizeTable(namespace: Seq[String], name: String,
      targetBytes: Long): (Int, Int) = {
    val dir = tableDir(namespace, name)
    // the rewrite schema (post-ADD-COLUMN bins mix pre- and
    // post-evolution files) is resolved by optimize itself from the
    // snapshot's pinned sidecar — no caller-supplied schema to forget
    SnapshotLog.optimize(SparkSession.active, dir, targetBytes)
  }

  /** OPTIMIZE ZORDER — `rewrite_data_files` with a z-order sort
    * strategy: re-clusters the whole table along the interleaved
    * z-value of `zorderBy` so per-file min/max stats prune
    * conjunctive predicates on EVERY listed dimension; committed as
    * the same layout-only `replace` snapshot as plain OPTIMIZE (see
    * [[SnapshotLog.optimizeZOrder]]). */
  def optimizeTableZOrder(namespace: Seq[String], name: String,
      targetBytes: Long, zorderBy: Seq[String]): (Int, Int) = {
    val dir = tableDir(namespace, name)
    SnapshotLog.optimizeZOrder(SparkSession.active, dir, targetBytes,
      zorderBy)
  }

  /** Iceberg `rewrite_position_deletes` (MINOR delete compaction):
    * merge every live position-delete sidecar into one combined
    * sidecar without touching any data file — the cheap maintenance
    * step between full OPTIMIZE passes for a long-lived merge-on-read
    * table (see [[BronzeMor.rewritePositionDeletes]]). Returns
    * (sidecarsMerged, sidecarsWritten). */
  def rewritePositionDeletesTable(namespace: Seq[String],
      name: String): (Int, Int) = {
    val dir = tableDir(namespace, name)
    BronzeMor.rewritePositionDeletes(SparkSession.active, dir)
  }

  /** Convert equality deletes to position deletes (the
    * Iceberg/Flink-upsert maintenance step): one read of the affected
    * files locates every key-retracted row, the key-probe tax comes
    * off every subsequent scan, and no data file rewrites (see
    * [[BronzeMor.convertEqualityDeletes]]). Returns
    * (eqSidecarsConverted, posSidecarsWritten). */
  def convertEqualityDeletesTable(namespace: Seq[String],
      name: String): (Int, Int) = {
    val dir = tableDir(namespace, name)
    BronzeMor.convertEqualityDeletes(SparkSession.active, dir)
  }

  /** Iceberg `update_partition_spec` (PARTITION-SPEC EVOLUTION):
    * replace the table's active partition transforms. Existing files
    * are untouched and keep pruning under the spec of their era
    * (retired fields stay in the spec file; each manifest entry only
    * carries its own era's tuple keys); new writes fan out under the
    * new spec. A re-parameterized transform (bucket width change)
    * gets a fresh key generation so tuple values of different eras
    * are never compared — the one comparison that could prune
    * wrongly. Committed as an `alter` snapshot for audit. */
  def evolvePartitionSpec(namespace: Seq[String], name: String,
      transforms: Array[org.apache.spark.sql.connector.expressions.Transform])
      : Unit = {
    val dir = tableDir(namespace, name)
    val snap = SnapshotLog.current(dir)
    val schema = schemaOf(java.nio.file.Paths.get(dir), snap)
    BronzePartitioning.evolve(java.nio.file.Paths.get(dir), transforms,
      schema)
    SnapshotLog.commitIfEnabled(dir, "alter")(files => files)
  }

  /** Iceberg `expire_snapshots` + orphan-file removal (VACUUM): keep
    * the last `retainLast` snapshots, delete data files referenced by
    * none of them. Returns deleted file names. */
  /** Abandoned-branch expiry age from the session dial (default:
    * never) — shared by both maintenance entry points. */
  private def branchMaxAgeFromSession: Long = SparkSession.getActiveSession
    .flatMap(_.conf.getOption(graft.GraftConf.BranchMaxAgeKey))
    .map(_.trim.toLong).getOrElse(Long.MaxValue)

  def vacuumTable(namespace: Seq[String], name: String,
      retainLast: Int): Seq[String] =
    SnapshotLog.vacuum(tableDir(namespace, name), retainLast,
      branchMaxAgeMs = branchMaxAgeFromSession)

  /** Time-based twin of [[vacuumTable]]: Iceberg's
    * `expire_snapshots(older_than => ts)` — expires snapshots
    * committed strictly before `olderThanMicros`, retaining the
    * current snapshot, tags, and live branches. */
  def expireSnapshotsTable(namespace: Seq[String], name: String,
      olderThanMicros: Long): Seq[String] =
    SnapshotLog.expireSnapshots(tableDir(namespace, name),
      olderThanMicros, branchMaxAgeMs = branchMaxAgeFromSession)

  /** Iceberg's `table$history` metadata table — one row per snapshot
    * (version, operation, n_files, n_rows), built at manifest scale. */
  def historyTable(namespace: Seq[String], name: String)
      : org.apache.spark.sql.DataFrame =
    BronzeMetaTables.history(SparkSession.active, tableDir(namespace, name))

  /** Iceberg's `table$files` metadata table — the current snapshot's
    * files with row counts and sizes (the OPTIMIZE audit). */
  def filesTable(namespace: Seq[String], name: String)
      : org.apache.spark.sql.DataFrame =
    BronzeMetaTables.files(SparkSession.active, tableDir(namespace, name))

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val provider = Option(properties.get(TableCatalog.PROP_PROVIDER))
    if (!provider.forall(_.equalsIgnoreCase("parquet")))
      throw new UnsupportedOperationException(
        s"$catalogName catalog stores parquet tables; got USING ${provider.get}")
    // identity / days / bucket partition transforms (Iceberg's hidden
    // partitioning, the reference sink's table shape): validated and
    // pinned at create time; the write path fans rows out so each file
    // holds one partition tuple, recorded in its manifest entry for
    // scan-planning pruning. Unsupported transforms fail the DDL.
    val partSpec = BronzePartitioning.fromTransforms(partitions, schema)
    val dir = dirOf(ident)
    if (isTableDir(dir))
      throw new TableAlreadyExistsException(ident)
    Files.createDirectories(dir)
    if (partSpec.nonEmpty) BronzePartitioning.write(dir, partSpec)
    // assign parquet FIELD IDS 1..n at creation (Iceberg's column
    // identity): every data file carries them, so later renames are
    // metadata-only and old files keep resolving through the id
    val withIds = StructType(schema.fields.zipWithIndex.map {
      case (f, i) => withFieldId(f, i + 1L)
    })
    Files.writeString(dir.resolve(SchemaFile), withIds.json)
    // seed the snapshot log: v0 = empty table with the pinned schema
    // (legacy pre-log dirs are still readable; they upgrade on their
    // first commit instead)
    val sidecar = SnapshotLog.writeSchemaSidecar(dir.toString, withIds.json)
    SnapshotLog.commitWith(dir.toString, "create")(_ =>
      (Set.empty, Some(sidecar)))
    loadTable(ident)
  }

  /** Schema evolution, Iceberg-style: ADD COLUMN (nullable, appended
    * at the end, fresh field id — files written before the change
    * lack the column and surface NULLs; zero rewrite) and RENAME
    * COLUMN (metadata-only: the field keeps its PARQUET FIELD ID, so
    * old files — written under the old name but carrying the id —
    * keep resolving; requires a table created with field ids).
    * Anything that would change or drop existing data (type change,
    * drop, reorder) stays unsupported: bronze tables are append-only
    * history.
    *
    * Each evolution commits an `alter` snapshot pinning the new
    * schema sidecar, serialized through the snapshot log's CAS — two
    * racing alters re-derive against each other's result instead of
    * losing an update — and the table-root sidecar then mirrors the
    * current schema atomically (temp + move). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirOf(ident)
    if (!isTableDir(dir)) throw new NoSuchTableException(ident)

    // partition columns are tracked BY NAME in the pinned spec; a
    // rename/drop would silently un-partition every future write.
    // RETIRED spec fields count too: scan pruning still evaluates
    // them against old files' tuples (BronzePartitioning.readAll), so
    // renaming a retired partition column away — and worse, renaming
    // another column onto the freed name — would let stale tuples
    // prune the wrong files.
    val partCols =
      BronzePartitioning.readAll(dir).map(_.col.toLowerCase).toSet
    def guardPartCol(verb: String, col: String): Unit =
      if (partCols.contains(col.toLowerCase))
        throw new UnsupportedOperationException(
          s"$catalogName: cannot $verb partition column $col " +
            "(active or retired in the partition spec; evolve the " +
            "spec instead)")

    // live EQUALITY-DELETE sidecars reference their key columns BY
    // NAME (the sidecar parquet's own schema); renaming or dropping a
    // key column out from under them would make the key lookup
    // silently miss — resurrecting every eq-deleted row — or brick
    // the MOR read/OPTIMIZE paths outright. Refuse until OPTIMIZE
    // purges the sidecars.
    def guardEqKeyCol(verb: String, colName: String): Unit =
      SnapshotLog.current(dir.toString).foreach { snap =>
        val keyCols = snap.eqDeletes.flatMap { d =>
          // FAIL CLOSED on an unreadable sidecar: swallowing the
          // error would let the guarded rename/drop through, and a
          // missed key column silently resurrects every eq-deleted
          // row — the exact outcome this guard exists to prevent
          try MorDeletes.sidecarSchema(s"$dir/${d.name}")
            .fieldNames.toSeq
          catch {
            case e: Throwable => throw new IllegalStateException(
              s"$catalogName: cannot $verb $colName — equality-delete " +
                s"sidecar ${d.name} is unreadable, so its key columns " +
                "cannot be checked; repair or OPTIMIZE first", e)
          }
        }.map(_.toLowerCase).toSet
        if (keyCols.contains(colName.toLowerCase))
          throw new UnsupportedOperationException(
            s"$catalogName: cannot $verb $colName — it is an " +
              "equality-delete key column of a live sidecar; " +
              "run OPTIMIZE to purge the deletes first")
      }

    def evolve(schema: StructType): StructType =
      changes.foldLeft(schema) { (sch, change) =>
        change match {
          case add: TableChange.AddColumn =>
            if (add.fieldNames.length != 1)
              throw new UnsupportedOperationException(
                s"$catalogName catalog supports only top-level ADD COLUMN; " +
                  s"got ${add.fieldNames.mkString(".")}")
            if (!add.isNullable)
              throw new UnsupportedOperationException(
                "added columns must be nullable: existing files have no " +
                  "values for them")
            if (sch.fieldNames.exists(_.equalsIgnoreCase(add.fieldNames.head)))
              throw new IllegalArgumentException(
                s"column ${add.fieldNames.head} already exists")
            val grown = sch.add(add.fieldNames.head, add.dataType,
              nullable = true, Option(add.comment).getOrElse(""))
            // fresh id via the never-reuse allocator (a dropped
            // column's id stays retired) — only on id-ed tables;
            // legacy tables stay name-matched throughout (an id-ed
            // column over id-less files errors)
            if (!hasFieldIds(sch)) grown
            else StructType(grown.fields.dropRight(1) :+
              withFieldId(grown.fields.last, allocateFieldId(dir, sch)))
          case ren: TableChange.RenameColumn =>
            if (ren.fieldNames.length != 1)
              throw new UnsupportedOperationException(
                s"$catalogName catalog supports only top-level RENAME " +
                  s"COLUMN; got ${ren.fieldNames.mkString(".")}")
            if (!hasFieldIds(sch))
              throw new UnsupportedOperationException(
                s"$catalogName RENAME COLUMN needs parquet field ids " +
                  "(tables created before field-id support resolve by " +
                  "name; renaming would orphan existing files' data)")
            val from = ren.fieldNames.head
            guardPartCol("rename", from)
            guardEqKeyCol("rename", from)
            if (!sch.fieldNames.exists(_.equalsIgnoreCase(from)))
              throw new IllegalArgumentException(s"no column $from")
            if (sch.fieldNames.exists(_.equalsIgnoreCase(ren.newName)))
              throw new IllegalArgumentException(
                s"column ${ren.newName} already exists")
            StructType(sch.fields.map(f =>
              if (f.name.equalsIgnoreCase(from)) f.copy(name = ren.newName)
              else f))
          case del: TableChange.DeleteColumn =>
            if (del.fieldNames.length != 1)
              throw new UnsupportedOperationException(
                s"$catalogName catalog supports only top-level DROP " +
                  s"COLUMN; got ${del.fieldNames.mkString(".")}")
            if (!hasFieldIds(sch))
              throw new UnsupportedOperationException(
                s"$catalogName DROP COLUMN needs parquet field ids " +
                  "(on name-matched legacy tables, re-adding a " +
                  "same-named column would resurrect the dropped " +
                  "column's old values)")
            val gone = del.fieldNames.head
            guardPartCol("drop", gone)
            guardEqKeyCol("drop", gone)
            if (!sch.fieldNames.exists(_.equalsIgnoreCase(gone))) {
              if (del.ifExists) sch
              else throw new IllegalArgumentException(s"no column $gone")
            } else {
              if (sch.length == 1) throw new IllegalArgumentException(
                s"cannot drop $gone: it is the table's only column")
              // metadata-only: data files keep the bytes; the dropped
              // id stays retired via the id-marker allocator, and
              // VERSION AS OF a pre-drop snapshot still reads the
              // column through its pinned sidecar
              StructType(sch.fields.filterNot(
                _.name.equalsIgnoreCase(gone)))
            }
          case upd: TableChange.UpdateColumnType =>
            if (upd.fieldNames.length != 1)
              throw new UnsupportedOperationException(
                s"$catalogName catalog supports only top-level ALTER " +
                  s"COLUMN TYPE; got ${upd.fieldNames.mkString(".")}")
            val tgt = upd.fieldNames.head
            val idx = sch.fieldNames.indexWhere(_.equalsIgnoreCase(tgt))
            if (idx < 0) throw new IllegalArgumentException(s"no column $tgt")
            val cur = sch.fields(idx).dataType
            // WIDENING only — conversions Spark's parquet readers
            // perform losslessly on old files (int32 pages read as
            // long/double, float as double), so this is metadata-only
            // like RENAME: zero rewrite, old files widen at read time.
            // Narrowing or any other change would corrupt/refuse at
            // scan and stays refused here.
            val widens = (cur, upd.newDataType) match {
              case (IntegerType, LongType) => true
              case (IntegerType, DoubleType) => true
              case (FloatType, DoubleType) => true
              case _ => false
            }
            if (!widens && cur != upd.newDataType)
              throw new UnsupportedOperationException(
                s"only widening type changes are supported (INT → " +
                  s"BIGINT/DOUBLE, FLOAT → DOUBLE); got " +
                  s"${cur.simpleString} → ${upd.newDataType.simpleString}")
            StructType(sch.fields.map(f =>
              if (f.name.equalsIgnoreCase(tgt))
                f.copy(dataType = upd.newDataType)
              else f))
          case other =>
            throw new UnsupportedOperationException(
              s"$catalogName catalog supports ADD / RENAME / DROP " +
                s"COLUMN and widening ALTER COLUMN TYPE; got $other")
        }
      }

    SnapshotLog.commitWith(dir.toString, "alter") { parent =>
      // re-derive from the PARENT's pinned schema on every CAS retry:
      // a racing alter's result is the base, not a stale read
      val evolved = evolve(schemaOf(dir, parent))
      val sidecar = SnapshotLog.writeSchemaSidecar(dir.toString, evolved.json)
      (parent.map(_.files.toSet)
        .getOrElse(SnapshotLog.listDataFiles(dir.toString).toSet),
        Some(sidecar))
    }
    // mirror whatever is CURRENT at mirror time, not this call's own
    // result: two racing alters' mirrors can land in either order, and
    // re-resolving makes the loser mirror the winner's (newer) pin —
    // id-sensitive readers (stampFieldIds) read the pin directly anyway
    mirrorSchemaFile(dir, schemaOf(dir, SnapshotLog.current(dir.toString)))
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    if (!isTableDir(dir)) false
    else { graft.LocalFs.deleteTree(dir); true }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!isTableDir(dirOf(oldIdent)))
      throw new NoSuchTableException(oldIdent)
    if (isTableDir(dirOf(newIdent)))
      throw new TableAlreadyExistsException(newIdent)
    Files.createDirectories(dirOf(newIdent).getParent)
    Files.move(dirOf(oldIdent), dirOf(newIdent))
  }

  // ---- namespaces -------------------------------------------------

  override def listNamespaces(): Array[Array[String]] =
    children(warehouse)
      .filter(p => Files.isDirectory(p) && !isTableDir(p))
      .map(p => Array(p.getFileName.toString))
      .toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) listNamespaces()
    else {
      val ns = dirOf(namespace)
      if (!Files.isDirectory(ns)) throw new NoSuchNamespaceException(namespace)
      children(ns)
        .filter(p => Files.isDirectory(p) && !isTableDir(p))
        .map(p => namespace :+ p.getFileName.toString)
        .toArray
    }
  }

  override def loadNamespaceMetadata(
      namespace: Array[String]): java.util.Map[String, String] = {
    if (!Files.isDirectory(dirOf(namespace)))
      throw new NoSuchNamespaceException(namespace)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit =
    Files.createDirectories(dirOf(namespace))

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      s"$catalogName catalog namespaces carry no metadata to alter")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val ns = dirOf(namespace)
    if (!Files.isDirectory(ns)) false
    else if (!cascade && children(ns).nonEmpty)
      throw new NonEmptyNamespaceException(namespace)
    else { graft.LocalFs.deleteTree(ns); true }
  }
}
