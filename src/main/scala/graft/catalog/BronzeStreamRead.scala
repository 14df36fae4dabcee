package graft.catalog

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.graftshim.shim
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** STREAMING READS off the snapshot log —
  * `spark.readStream.table("bronze.db.orders")` runs verbatim, the
  * read half of the Iceberg streaming story (the write half is
  * [[BronzeStreamingWrite]]):
  *
  *   - the stream's OFFSET is a snapshot VERSION; each micro-batch is
  *     exactly the files APPENDED between two committed snapshots
  *     ([[SnapshotLog.appendedFilesBetween]]) — consumers ride the
  *     manifest log, never rescanning the table, so a 100 TB table
  *     feeds a pipeline at |delta| cost per trigger;
  *   - offsets live in the query checkpoint, so a restarted stream
  *     resumes from its last committed version with exactly-once
  *     file-set semantics (same guarantee the file-source manifest
  *     gives, derived from the table's own log instead);
  *   - a REPLACE snapshot (compaction) interleaves already-consumed
  *     rows under new names; crossing one fails with a clear error —
  *     Iceberg's own streaming-read rule. Streams read through
  *     replaces by restarting from the replace version
  *     (`startingVersion` option);
  *   - `startingVersion` option: "latest" (default — only appends
  *     after stream start, the CDC tail) or a snapshot version
  *     number ("0" = full history then tail).
  *
  * Reads use the DECLARED table schema, so files written before an
  * ADD COLUMN surface NULLs (no column pruning on the streaming
  * path — bronze rows are consumed whole by design).
  */
object BronzeStreamRead {
  /** The scan builder [[BronzeWritableTable]] hands to Catalyst:
    * the delegate's pushdown surface preserved (shim wrapper), plus
    * a snapshot-log micro-batch stream, plus a `_file`-projecting
    * per-file scan for metadata-column reads. */
  def scanBuilder(delegate: ScanBuilder, dir: String, schema: StructType,
      options: CaseInsensitiveStringMap,
      mkMetadataScan: StructType => Scan = null,
      filePruner: Seq[org.apache.spark.sql.sources.Filter] =>
        Option[(ScanBuilder, String, Option[Long], Option[Long])] = null,
      snapStats: (Option[Long], Option[Long]) = (None, None)): ScanBuilder =
    new org.apache.spark.sql.graftshim.SnapshotScanBuilder(
      delegate,
      s"bronze snapshot scan $dir (streaming: version-per-batch)",
      () => microBatchStream(dir, schema, options),
      mkMetadataScan,
      filePruner,
      snapStats)

  /** Exact (numRows, sizeInBytes) of a manifest file set — defined
    * only when EVERY entry carries the footer-scraped field, so a
    * partial sum can never masquerade as a total. */
  def manifestStats(entries: Seq[graft.catalog.SnapshotLog.FileEntry])
      : (Option[Long], Option[Long]) = (
    if (entries.forall(_.rows.isDefined)) // vacuous for v0: exactly 0
      Some(entries.flatMap(_.rows).sum) else None,
    if (entries.forall(_.bytes.isDefined))
      Some(entries.flatMap(_.bytes).sum) else None)

  /** The snapshot-log micro-batch stream from scan options — shared
    * with the merge-on-read scan path so `readStream.table` resolves
    * identically whichever batch scan the snapshot needed. */
  private[catalog] def microBatchStream(dir: String, schema: StructType,
      options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new BronzeMicroBatchStream(dir, schema,
      Option(options.get("startingVersion")).getOrElse("latest"),
      Option(options.get("maxVersionsPerTrigger")).map(_.toLong))
}

/** Batch scan that serves projections referencing the `_file`
  * metadata column: one partition per pinned-snapshot data file, read
  * through the same executor-side per-file readers the streaming
  * source uses, with the file path spliced into each row at the
  * requested ordinal. Row-at-a-time (not vectorized) — metadata-column
  * reads are audits and row-level group filters, not the hot path. */
object BronzeMetadataFileScan {

  def scan(dir: String, files: Seq[String], declared: StructType,
      required: StructType,
      sidecarsOf: String => Seq[String] = _ => Seq.empty,
      eqSidecarsOf: String => Seq[String] = _ => Seq.empty): Scan = new Scan {
    override def readSchema(): StructType = required
    override def description(): String =
      s"bronze per-file scan $dir (+_file metadata column)"
    override def toBatch: org.apache.spark.sql.connector.read.Batch =
      new org.apache.spark.sql.connector.read.Batch {
        override def planInputPartitions(): Array[InputPartition] =
          files.map(f =>
            BronzeFilePartition(s"$dir/$f",
              sidecarsOf(f).map(s => s"$dir/$s"),
              eqSidecarsOf(f).map(s => s"$dir/$s")): InputPartition).toArray
        override def createReaderFactory(): PartitionReaderFactory =
          new BronzeMetadataReaderFactory(required.json)
      }
  }
}

/** Executor-side position-delete plumbing shared by every per-file
  * reader: the (file, pos) sidecar schema and the skip-set loader.
  * Sets are per-(reader, data file) — bounded by one file's deleted
  * rows, the same working set Iceberg's readers hold. */
private[graft] object MorDeletes {

  import org.apache.spark.sql.types.{LongType, StringType}

  /** The position-delete sidecar schema: which file, which row. */
  val DeleteSchema: StructType = new StructType()
    .add("file", StringType, nullable = false)
    .add("pos", LongType, nullable = false)

  // position sidecars are immutable once committed — cache each one
  // PARSED (file -> positions) JVM-wide, so a scan with P partitions
  // over S sidecars reads each sidecar once, not P×S times. Bounded
  // like the eq cache: wholesale eviction past 64 entries.
  private val posCache = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.HashMap[String, java.util.HashSet[java.lang.Long]]]()

  private def positionsOf(sidecarPath: String)
      : java.util.HashMap[String, java.util.HashSet[java.lang.Long]] = {
    if (posCache.size > 64) posCache.clear()
    posCache.computeIfAbsent(sidecarPath, p => {
      val byFile =
        new java.util.HashMap[String, java.util.HashSet[java.lang.Long]]()
      val r = shim.rowParquetReader(p, DeleteSchema)
      try {
        var row = r.read()
        while (row != null) {
          byFile.computeIfAbsent(row.getUTF8String(0).toString,
            _ => new java.util.HashSet[java.lang.Long]())
            .add(row.getLong(1))
          row = r.read()
        }
      } finally r.close()
      byFile
    })
  }

  /** Positions of `fileName` listed across `sidecarPaths` (full
    * paths); empty set when there are none. Sidecars parse once per
    * JVM (immutable files). */
  def skipSet(sidecarPaths: Seq[String],
      fileName: String): java.util.HashSet[java.lang.Long] = {
    val set = new java.util.HashSet[java.lang.Long]()
    sidecarPaths.foreach { p =>
      val hit = positionsOf(p).get(fileName)
      if (hit != null) set.addAll(hit)
    }
    set
  }

  def fileNameOf(path: String): String =
    java.nio.file.Paths.get(path).getFileName.toString

  /** One loaded EQUALITY-DELETE sidecar: its key schema (the sidecar
    * parquet's own spark schema — names AND types) and the set of
    * retracted key tuples. Bounded by the sidecar's changed-key count
    * — the same working set Iceberg's readers hold for equality
    * deletes. */
  final case class EqKeySet(schema: StructType,
      keys: java.util.HashSet[Seq[Any]]) {
    def cols: Seq[String] = schema.fieldNames.toSeq
  }

  /** Sentinel all Float/Double NaN key values canonicalize to: the
    * hash probes compare key tuples as Scala `Seq`s, whose element
    * equality is COOPERATIVE numeric equality (`BoxesRunTime.equals`,
    * primitive `==` underneath) — so boxed Double(NaN) != Double(NaN)
    * and a NaN key would retract nothing at probe time, while the SQL
    * `<=>` application paths of the same sidecar treat NaN = NaN as
    * true. One shared object (reference equality + stable hashCode)
    * restores the SQL semantics on the hash path. */
  private[catalog] case object NaNKey

  /** Canonicalize a key value for hash-set membership: boxed
    * Double/Float `equals` distinguishes -0.0 from 0.0 and Seq-element
    * cooperative equality distinguishes NaN from NaN, but every SQL
    * application path of the same sidecar (`<=>` in readWithDeletes /
    * matchingPositions / convert) uses null-safe comparison where
    * -0.0 == 0.0 AND NaN = NaN — without this, a layout-only OPTIMIZE
    * or equality→position conversion would change answers. Applied on
    * BOTH sides (set build + row probe). */
  def normKey(v: Any): Any = v match {
    case d: java.lang.Double =>
      if (d.isNaN) NaNKey
      else if (d.doubleValue == 0.0d) java.lang.Double.valueOf(0.0d)
      else d
    case f: java.lang.Float =>
      if (f.isNaN) NaNKey
      else if (f.floatValue == 0.0f) java.lang.Float.valueOf(0.0f)
      else f
    case x => x
  }

  /** The [[org.apache.spark.sql.types.StructField]] for key column
    * `name`, from whichever loaded sidecar carries it. */
  def fieldFor(eqSets: Seq[EqKeySet], name: String)
      : org.apache.spark.sql.types.StructField =
    eqSets.flatMap(_.schema.fields).find(_.name == name)
      .getOrElse(throw new IllegalStateException(
        s"equality-delete key column $name missing from sidecar schemas"))

  // ---- stats-based equality-delete applicability -------------------
  //
  // An equality sidecar applies to a file by KEY VALUE; a file whose
  // manifest column ranges cannot contain ANY key needn't probe the
  // key set at all. Per sidecar we derive one BETWEEN filter per key
  // column (min/max over its tuples — a sound over-approximation of
  // the key set) and test files through BronzePruning. At 100 TB,
  // where upsert keys are typically recent while most files are old,
  // this keeps the bulk of a table's rows off the per-row key-probe
  // path after an upsert. Strictly conservative: unsupported key
  // types, null keys in a column, absent file stats, unreadable
  // sidecars all answer "applies".
  private val boundsCache = new java.util.concurrent.ConcurrentHashMap[
    String, Option[Seq[org.apache.spark.sql.sources.Filter]]]()

  /** The per-key-column range filters of the sidecar at `path`, or
    * None when no column supports range exclusion. JVM-cached
    * (sidecars are immutable). */
  def eqKeyBoundsFilters(path: String)
      : Option[Seq[org.apache.spark.sql.sources.Filter]] = {
    if (boundsCache.size > 64) boundsCache.clear()
    boundsCache.computeIfAbsent(path, computeBounds(_))
  }

  private def computeBounds(path: String)
      : Option[Seq[org.apache.spark.sql.sources.Filter]] = try {
    import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThanOrEqual}
    import org.apache.spark.sql.types._
    val set = eqKeySets(Seq(path)).head
    if (set.keys.isEmpty) return None
    import scala.jdk.CollectionConverters._
    val tuples = set.keys.asScala.toSeq
    val filters = set.schema.fields.toSeq.zipWithIndex.flatMap {
      case (field, i) =>
        val vals = tuples.map(_(i))
        // a NULL key in this column matches null cells, which range
        // filters never cover — this column can't exclude (others
        // still can: every tuple's value in THEIR column is inside
        // that column's bounds)
        if (vals.contains(null)) Seq.empty
        else {
          // catalyst-typed values -> filter-literal (lo, hi)
          val bounds: Option[(Any, Any)] = field.dataType match {
            case ByteType | ShortType | IntegerType | LongType =>
              val ls = vals.map {
                case b: Byte => b.toLong
                case s: Short => s.toLong
                case x: Int => x.toLong
                case l: Long => l
              }
              Some((java.lang.Long.valueOf(ls.min),
                java.lang.Long.valueOf(ls.max)))
            case FloatType | DoubleType =>
              val ds = vals.map {
                case NaNKey => Double.NaN // normKey's NaN sentinel
                case f: Float => f.toDouble
                case d: Double => d
              }
              if (ds.exists(d => d.isNaN || d.isInfinite)) None
              else Some((java.lang.Double.valueOf(ds.min),
                java.lang.Double.valueOf(ds.max)))
            case StringType =>
              val us = vals.map(
                _.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
              Some((us.min.toString, us.max.toString))
            case DateType =>
              val days = vals.map(_.asInstanceOf[Int])
              Some((java.time.LocalDate.ofEpochDay(days.min.toLong),
                java.time.LocalDate.ofEpochDay(days.max.toLong)))
            case TimestampType =>
              def instant(us: Long) = java.time.Instant.ofEpochSecond(
                Math.floorDiv(us, 1000000L),
                Math.floorMod(us, 1000000L) * 1000L)
              val us = vals.map(_.asInstanceOf[Long])
              Some((instant(us.min), instant(us.max)))
            case _ => None // decimals, binary, NTZ: no exclusion
          }
          bounds.toSeq.flatMap { case (lo, hi) =>
            Seq[Filter](GreaterThanOrEqual(field.name, lo),
              LessThanOrEqual(field.name, hi))
          }
        }
    }
    if (filters.isEmpty) None else Some(filters)
  } catch { case _: Throwable => None }

  /** Whether the sidecar at `sidecarPath` MAY retract rows of
    * `entry`, per the entry's manifest stats (true = must probe;
    * false = provably no key in range). Callers must have already
    * applied the data-sequence rule. */
  def eqMayApply(sidecarPath: String, entry: SnapshotLog.FileEntry,
      schema: StructType): Boolean =
    eqKeyBoundsFilters(sidecarPath) match {
      case None => true
      case Some(fs) =>
        BronzePruning.survivors(Seq(entry), schema, fs).nonEmpty
    }

  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** The spark schema a sidecar was written with, from its footer's
    * `org.apache.spark.sql.parquet.row.metadata` (we wrote the file;
    * the metadata is always present). JVM-cached like the key sets —
    * sidecars are immutable, and conversion's schema grouping would
    * otherwise re-open the footer once per (file group × sidecar). */
  def sidecarSchema(path: String): StructType = {
    if (schemaCache.size > 256) schemaCache.clear()
    schemaCache.computeIfAbsent(path, p =>
      graft.Parquet.withParquetFooter(p) { r =>
        val meta = r.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata")
        org.apache.spark.sql.types.DataType.fromJson(meta)
          .asInstanceOf[StructType]
      })
  }

  // sidecar files are IMMUTABLE once committed (uuid names, atomic
  // move), so loaded key sets are shared across every reader in the
  // JVM — without this, a scan with P partitions re-reads each
  // sidecar P times. Bounded: evicts wholesale past 64 entries (a
  // table rarely carries that many live eq sidecars; OPTIMIZE purges).
  private val eqCache =
    new java.util.concurrent.ConcurrentHashMap[String, EqKeySet]()

  /** Load `sidecarPaths` (full paths) as key sets (JVM-cached). */
  def eqKeySets(sidecarPaths: Seq[String]): Seq[EqKeySet] =
    sidecarPaths.map { p =>
      if (eqCache.size > 64) eqCache.clear()
      eqCache.computeIfAbsent(p, _ => {
        val schema = sidecarSchema(p)
        val set = new java.util.HashSet[Seq[Any]]()
        val r = shim.rowParquetReader(p, schema)
        try {
          var row = r.read()
          while (row != null) {
            val copied = row.copy()
            set.add(schema.fields.indices.map(i =>
              if (copied.isNullAt(i)) null
              else normKey(copied.get(i, schema(i).dataType))))
            row = r.read()
          }
        } finally r.close()
        EqKeySet(schema, set)
      })
    }
}

private final class BronzeMetadataReaderFactory(requiredJson: String)
    extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val required = org.apache.spark.sql.types.DataType
      .fromJson(requiredJson).asInstanceOf[StructType]
    val fp = p.asInstanceOf[BronzeFilePartition]
    new BronzeMetadataFileReader(fp.path, required, fp.sidecars,
      fp.eqSidecars)
  }
}

/** Reads the requested DATA columns from one parquet file and splices
  * the metadata columns in: the constant `_file` path, and `_pos` —
  * the row's PHYSICAL position in its file (pre-skip ordinal, i.e.
  * what a position-delete sidecar references). Decode is VECTORIZED
  * (Spark's own columnar parquet reader underneath, rows iterated off
  * each batch) — applying delete sidecars forces per-file readers,
  * not per-row materialization. `sidecars`: position-delete files to
  * APPLY — listed row positions are skipped. `eqSidecars`:
  * EQUALITY-delete files to apply — rows whose key-column tuple
  * appears in a sidecar are skipped; key columns are read even when
  * the projection pruned them (appended past the required columns,
  * never surfaced). */
private final class BronzeMetadataFileReader(path: String,
    required: StructType, sidecars: Seq[String] = Seq.empty,
    eqSidecars: Seq[String] = Seq.empty)
    extends PartitionReader[InternalRow] {

  private val dataSchema =
    StructType(required.filter(f => f.name != "_file" && f.name != "_pos"))
  private val eqSets: Seq[MorDeletes.EqKeySet] =
    if (eqSidecars.isEmpty) Seq.empty else MorDeletes.eqKeySets(eqSidecars)
  // the read schema extends the projection with any equality-key
  // column it pruned away (appended at the END, so required ordinals
  // are stable); the extras never reach the output row
  private val readSchema: StructType = {
    val have = dataSchema.fieldNames.toSet
    val extras = eqSets.flatMap(_.cols).distinct.filterNot(have.contains)
      .map(c => MorDeletes.fieldFor(eqSets, c))
    StructType(dataSchema.fields ++ extras)
  }
  // per eq sidecar: the key columns' ordinals in readSchema
  private val eqIdx: Seq[Array[Int]] =
    eqSets.map(_.cols.map(readSchema.fieldIndex).toArray)
  private val reader = shim.vectorizedRowFileReader(path, readSchema)
  private val filePath = org.apache.spark.unsafe.types.UTF8String
    .fromString(path)
  private val skip: java.util.HashSet[java.lang.Long] =
    if (sidecars.isEmpty) null
    else MorDeletes.skipSet(sidecars, MorDeletes.fileNameOf(path))
  private var pos = -1L
  // requested ordinal -> data-row ordinal
  // (-1 = the _file constant, -2 = the _pos counter)
  private val srcIdx: Array[Int] = {
    var j = 0
    required.fields.map { f =>
      if (f.name == "_file") -1
      else if (f.name == "_pos") -2
      else { val i = j; j += 1; i }
    }
  }
  private var current: InternalRow = _

  private def eqDeleted(r: InternalRow): Boolean = {
    var s = 0
    while (s < eqSets.size) {
      val idx = eqIdx(s)
      val key = idx.indices.map { k =>
        val i = idx(k)
        if (r.isNullAt(i)) null
        else MorDeletes.normKey(r.get(i, readSchema(i).dataType))
      }
      if (eqSets(s).keys.contains(key)) return true
      s += 1
    }
    false
  }

  override def next(): Boolean = {
    var r = reader.read()
    pos += 1
    while (r != null && ((skip != null && skip.contains(pos)) ||
        (eqSets.nonEmpty && eqDeleted(r)))) {
      r = reader.read()
      pos += 1
    }
    // the decoder reuses its row (a view into the current batch) —
    // copy before extracting values that outlive it
    current = if (r == null) null else r.copy()
    current != null
  }

  override def get(): InternalRow = {
    val vals = new Array[Any](required.length)
    var i = 0
    while (i < required.length) {
      vals(i) =
        if (srcIdx(i) == -1) filePath
        else if (srcIdx(i) == -2) java.lang.Long.valueOf(pos)
        else if (current.isNullAt(srcIdx(i))) null
        else current.get(srcIdx(i), dataSchema(srcIdx(i)).dataType)
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
  }

  override def close(): Unit = reader.close()
}

/** Version-number offset; json is just the number. */
private final case class VersionOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

private final class BronzeMicroBatchStream(dir: String, schema: StructType,
    startingVersion: String, maxVersionsPerTrigger: Option[Long])
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxRows}

  // ---- admission control: maxVersionsPerTrigger caps how many
  // SNAPSHOTS one micro-batch consumes (Iceberg's own streaming
  // option is per-snapshot too) — a restarted consumer with a large
  // backlog drains it in bounded bites instead of one giant batch.
  // Under Trigger.AvailableNow the target version is captured ONCE at
  // query start, so the trigger terminates even while writers keep
  // committing.

  @volatile private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = SnapshotLog.currentVersion(dir)

  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.map(ReadLimit.maxRows)
      .getOrElse(ReadLimit.allAvailable())

  override def reportLatestOffset(): Offset =
    VersionOffset(SnapshotLog.currentVersion(dir).getOrElse(-1L))

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[VersionOffset].v
    val target = availableNowTarget
      .orElse(SnapshotLog.currentVersion(dir)).getOrElse(-1L)
    limit match {
      case r: ReadMaxRows => // rows == versions for this source
        VersionOffset(math.min(target, from + r.maxRows()))
      case _ => VersionOffset(target)
    }
  }

  override def initialOffset(): Offset = {
    val cur = SnapshotLog.currentVersion(dir).getOrElse(
      throw new IllegalStateException(
        s"streaming read requires a snapshot-logged table: $dir"))
    startingVersion match {
      case "latest" => VersionOffset(cur)
      case v =>
        // number, or a snapshot TAG name ("resume the tail from the
        // version run X pinned")
        val n = v.toLongOption
          .orElse(SnapshotLog.resolveTag(dir, v))
          .getOrElse(throw new IllegalArgumentException(
            s"startingVersion must be 'latest', a version number, or " +
              s"a tag name; got $v"))
        require(n <= cur, s"startingVersion $n is ahead of the table ($cur)")
        VersionOffset(n)
    }
  }

  override def latestOffset(): Offset =
    VersionOffset(SnapshotLog.currentVersion(dir).getOrElse(-1L))

  override def deserializeOffset(json: String): Offset =
    VersionOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[VersionOffset].v
    val to = end.asInstanceOf[VersionOffset].v
    if (from >= to) Array.empty
    else SnapshotLog.appendedFilesBetween(dir, from, to)
      .map(f => BronzeFilePartition(s"$dir/$f"): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new BronzeFileReaderFactory(schema.json)

  override def commit(end: Offset): Unit = () // checkpoint owns progress
  override def stop(): Unit = ()
}

private final case class BronzeFilePartition(path: String,
    sidecars: Seq[String] = Seq.empty,
    eqSidecars: Seq[String] = Seq.empty) extends InputPartition

private final class BronzeFileReaderFactory(schemaJson: String)
    extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new BronzeFileReader(p.asInstanceOf[BronzeFilePartition].path,
      org.apache.spark.sql.types.DataType.fromJson(schemaJson)
        .asInstanceOf[StructType])
}

private final class BronzeFileReader(path: String, schema: StructType)
    extends PartitionReader[InternalRow] {

  private val reader = shim.vectorizedRowFileReader(path, schema)
  private var current: InternalRow = _

  override def next(): Boolean = {
    current = reader.read()
    current != null
  }

  // the decoder reuses its row (a view into the current batch) — copy
  override def get(): InternalRow = current.copy()

  override def close(): Unit = reader.close()
}
