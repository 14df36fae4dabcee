package graft.catalog

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.SupportsRead
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters}
import org.apache.spark.sql.connector.write.{BatchWrite, LogicalWriteInfo, PhysicalWriteInfo, DataWriterFactory, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.shim
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Group-based copy-on-write UPDATE / MERGE INTO / predicate DELETE
  * for bronze snapshot tables — the DSv2 `SupportsRowLevelOperations`
  * machinery, file-granularity groups (Iceberg's copy-on-write mode):
  *
  *   - Spark's row-level rewrite rules plan the new content of every
  *     AFFECTED group themselves (`ReplaceData`); this class only
  *     decides WHICH files are affected and swaps them atomically;
  *   - the scan side receives the command's condition as pushed
  *     filters and uses them for FILE PRUNING ONLY — every filter is
  *     reported back as post-scan (a copy-on-write scan must return
  *     all rows of affected groups, matching or not, because the
  *     rewrite writes surviving rows back);
  *   - the write side stages new files exactly like a batch append
  *     and commits ONE snapshot whose file set is
  *     `parent -- affected ++ staged` — readers see the whole
  *     statement or none of it, `VERSION AS OF` the prior version
  *     still reads the originals until vacuum, and incremental /
  *     streaming readers refuse to cross the rewrite.
  *
  * A simple-predicate DELETE never gets here: Spark's metadata-only
  * rule sends anything [[BronzeRowDelete.canTranslate]] accepts down
  * the cheaper `SupportsDelete` path; this handles the rest (UPDATE,
  * MERGE, and deletes whose predicates don't translate — subqueries,
  * UDF conditions). UPDATE's static WHERE prunes to the files that
  * contain matches at scan build. MERGE's ON condition references the
  * source relation, so nothing static is pushed — instead the
  * operation requires the `_file` metadata column, and Spark's
  * runtime group filtering executes a subquery of the matched rows'
  * distinct files and narrows [[BronzeCowFileScan]] (and the commit)
  * to exactly those — Iceberg's own copy-on-write recipe, so MERGE
  * costs |files with matches|, never the table.
  */
final class BronzeRowLevelOperationBuilder(dir: String, declared: StructType,
    info: RowLevelOperationInfo) extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation = {
    // mode dial per command, Iceberg's write.<command>.mode: the
    // merge-on-read choice swaps the whole operation for the
    // position-delta machinery (SupportsDelta → WriteDelta plans)
    val spark = SparkSession.active
    val modeKey = info.command match {
      case RowLevelOperation.Command.UPDATE => graft.GraftConf.UpdateModeKey
      case RowLevelOperation.Command.MERGE => graft.GraftConf.MergeModeKey
      case _ => graft.GraftConf.DeleteModeKey
    }
    if (graft.GraftConf.string(spark, modeKey,
      "copy-on-write") == "merge-on-read")
      new BronzeDeltaRowLevelOperation(dir, declared, info.command)
    else
      new BronzeRowLevelOperation(dir, declared, info.command)
  }
}

final class BronzeRowLevelOperation(dir: String, declared: StructType,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  /** Files being replaced — resolved at scan build (planning) from one
    * pinned snapshot, then possibly NARROWED by Spark's runtime group
    * filter (MERGE); the write's commit swaps exactly this list so
    * scan and commit can never disagree. */
  @volatile private var affected: Seq[String] = _

  /** (scanned snapshot version, static predicate if translatable) —
    * recorded at scan build for the optional SERIALIZABLE commit
    * validation (late-append conflict detection). A None predicate
    * (MERGE — the ON condition references the source, nothing static
    * reaches pushFilters) validates conservatively: ANY file appended
    * after the scan conflicts. */
  @volatile private var scannedVersion: Long = -1L
  @volatile private var scannedEntries: Map[String, SnapshotLog.FileEntry] =
    Map.empty
  @volatile private var scannedEqNames: Set[String] = Set.empty
  @volatile private var scanPredicate
    : Option[org.apache.spark.sql.Column] = None

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"BronzeRowLevel(${cmd.toString.toLowerCase}, $dir)"

  // MERGE's ON condition references the source relation, so nothing
  // static reaches pushFilters — instead ask for the `_file` metadata
  // column, which makes Spark's RowLevelOperationRuntimeGroupFiltering
  // plan a dynamic subquery (matching rows' distinct files) and call
  // Scan.filter with it at execution: group pruning at runtime, the
  // Iceberg copy-on-write recipe. UPDATE/DELETE predicates are static
  // and prune at scan build, keeping the vectorized delegate scan.
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (cmd == RowLevelOperation.Command.MERGE)
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .column("_file"))
    else Array.empty

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters
        with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
      private var captured: Array[Filter] = Array.empty
      private var required: StructType = declared

      // group pruning only: accept the filters for file selection but
      // report NONE as pushed — every row of an affected file must
      // reach the rewrite, so all filtering stays post-scan
      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        captured = filters
        filters
      }
      override def pushedFilters(): Array[Filter] = Array.empty

      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema

      override def build(): Scan = {
        val spark = SparkSession.active
        val snap = SnapshotLog.current(dir).getOrElse(
          throw new UnsupportedOperationException(
            s"row-level operations need a snapshot-logged table: $dir"))
        val conds = captured.map(BronzeRowDelete.translate)
        scannedVersion = snap.version
        // captured for the commit-time conflict validations — the
        // commit must see the SCAN's state, never a re-read (a
        // concurrent vacuum could expire the scanned manifest)
        scannedEntries = snap.entriesByName
        scannedEqNames = snap.eqDeletes.map(_.name).toSet
        scanPredicate =
          if (captured.isEmpty || conds.exists(_.isEmpty)) None
          else Some(conds.flatten.reduce(_ && _))
        affected =
          if (snap.files.isEmpty) Seq.empty
          else if (captured.isEmpty || conds.exists(_.isEmpty)) snap.files
          else {
            // file-count-scale pruning pass: only files CONTAINING
            // matching rows rewrite (same listing BronzeRowDelete does)
            val cond = conds.flatten.reduce(_ && _)
            val matched = spark.read.schema(declared)
              .parquet(snap.files.map(f => s"$dir/$f"): _*)
              .filter(cond)
              .select(col("_metadata.file_name")).distinct()
            // driver-memory bound: above spark.graft.maxRewriteFiles
            // the matched-name list is never materialized on the
            // driver — the op degrades to rewriting every candidate
            // file (identical rows out; only the narrowing
            // optimization is given up). The guard count early-outs
            // at cap+1, so the check itself is O(cap) driver-side.
            val cap = graft.GraftConf.int(spark,
              graft.GraftConf.MaxRewriteFilesKey, Int.MaxValue)
            if (cap < Int.MaxValue &&
                matched.limit(cap + 1).count() > cap) snap.files
            else matched.collect().map(_.getString(0)).toSeq.sorted
          }
        // existing merge-on-read deletes — position AND equality —
        // must be APPLIED by the rewrite scan: a copy-on-write pass
        // reading raw bytes would resurrect already-deleted rows into
        // the rewritten files (which then carry a fresh seq, making
        // the resurrection permanent)
        val delsOf: String => Seq[String] = {
          val byName = snap.entriesByName
          f => byName.get(f).map(_.deletes).getOrElse(Seq.empty)
        }
        val eqOf: String => Seq[String] = {
          val byName = snap.entriesByName
          f => byName.get(f).map(e => snap.eqDeletesFor(e).map(_.name))
            .getOrElse(Seq.empty)
        }
        val anyDels = affected.exists(f =>
          delsOf(f).nonEmpty || eqOf(f).nonEmpty)
        if (required.fieldNames.contains("_file"))
          // MERGE: per-file scan emitting `_file`, narrowable by the
          // runtime group filter — commit follows the narrowed set
          new BronzeCowFileScan(dir, affected, required,
            narrowed => { affected = narrowed }, delsOf, eqOf = eqOf)
        else if (anyDels)
          BronzeMetadataFileScan.scan(dir, affected, declared, declared,
            delsOf, eqOf)
        else
          ManifestFileIndex.table(spark, s"cow:$dir", dir,
            affected.map(f => scannedEntries.getOrElse(f,
              SnapshotLog.FileEntry(f))), declared)
            .asInstanceOf[SupportsRead]
            .newScanBuilder(CaseInsensitiveStringMap.empty())
            .build()
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = {
          // Decide the marker-stripping layout ONCE, at build time —
          // never per row from its width. Two validated facts pin it:
          // (1) `info.schema()` must be the declared table columns
          // verbatim (ReplaceData's write schema is the table schema
          // whether or not the physical rows carry the operation
          // marker; a reordered/extended schema would mis-align every
          // column — throw instead); (2) whether rows arrive with the
          // `RowDeltaUtils.OPERATION_COLUMN` marker at ordinal 0 is
          // determined by this operation's own metadata-attribute
          // declaration: Spark's writing task projects the marker
          // away exactly when `requiredMetadataAttributes` is
          // non-empty (the MERGE `_file` scan), and hands the raw
          // marker-prefixed row through when it is empty
          // (UPDATE/DELETE). The writer then ENFORCES the expected
          // width per row, so any future layout change fails loudly
          // instead of silently shifting columns.
          val ws = info.schema()
          if (!ws.fields.map(_.name).sameElements(
            declared.fields.map(_.name)))
            throw new IllegalStateException(
              s"row-level write schema ${ws.fieldNames.mkString("[", ",", "]")} " +
                s"does not match the declared table columns " +
                s"${declared.fieldNames.mkString("[", ",", "]")}; refusing " +
                "a write that would mis-align columns")
          val stripMarker = requiredMetadataAttributes().isEmpty
          val confs = shim.parquetWriterConfs(SparkSession.active)
          new BronzeReplaceGroupsWrite(dir, declared, info.queryId(),
            confs, cmd.toString.toLowerCase, stripMarker, () => {
              require(affected != null,
                "row-level write committed before its scan was planned")
              affected
            }, () => (scannedVersion, scanPredicate, scannedEntries,
              scannedEqNames))
        }
      }
    }
}

/** The ReplaceData write: stages rewritten rows like a batch append
  * (attempt-unique dot-files, rename on commit), then commits one
  * snapshot swapping the affected groups for the staged files.
  *
  * Incoming rows may carry Spark's row-level OPERATION MARKER
  * prepended at ordinal 0 (`RowDeltaUtils.OPERATION_COLUMN` — the
  * rewrite plans add it, and with no required metadata attributes the
  * exec's plain writing task hands the writer the raw row; sources
  * that declare metadata attributes get it projected away instead).
  * Whether to strip is decided at write-BUILD time by validating the
  * declared write schema (`LogicalWriteInfo.schema`), never from row
  * width; the per-row width check is then a pure assertion. */
private final class BronzeReplaceGroupsWrite(dir: String,
    schema: StructType, queryId: String, writerConfs: Map[String, String],
    operation: String, stripMarker: Boolean,
    affected: () => Seq[String],
    scanInfo: () => (Long, Option[org.apache.spark.sql.Column],
      Map[String, SnapshotLog.FileEntry], Set[String]))
    extends BatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new MarkerStrippingWriterFactory(
      new BronzeBatchWriterFactory(dir, schema, queryId, writerConfs,
        // rewritten files keep their partition tuples: the fanout
        // writer routes surviving rows exactly like an append's
        BronzePartitioning.read(Paths.get(dir))),
      schema.length, stripMarker)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = StagedCommit.files(messages)
    staged.foreach { f =>
      Files.move(Paths.get(f.staged), Paths.get(f.dest),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val added = staged.map(f => Paths.get(f.dest).getFileName.toString)
    val parts = staged.filter(_.parts.nonEmpty)
      .map(f => Paths.get(f.dest).getFileName.toString -> f.parts).toMap
    val gone = affected().toSet
    // a statement that touched nothing commits nothing: a no-op
    // 'update' snapshot would still make incremental/streaming
    // readers refuse to cross it (rewritesRows) for zero rewritten
    // rows. A merge that only INSERTED (no groups rewritten) commits
    // as an append — it IS one, and consumers may stream across it.
    if (gone.isEmpty && added.isEmpty) return
    if (gone.isEmpty)
      SnapshotLog.commit(dir, "append", parts)(parent => parent ++ added)
    else {
      // rewrite-validated: the scanned groups must still be live at
      // commit, or this statement's output was computed from bytes a
      // concurrent commit already replaced. At
      // spark.graft.rowLevelIsolation=serializable, late appends are
      // ALSO validated: files landing after the scan that hold rows
      // this statement's predicate matches fail the commit (write
      // skew); MERGE (no static predicate) treats any late append as
      // a conflict, conservatively.
      val spark = SparkSession.active
      // commit-time conflict protection, from the SCAN's captured
      // state (never a re-read — a concurrent vacuum could expire the
      // scanned manifest). A position sidecar concurrently attached
      // to an input always fails the commit (scannedDels: the output
      // was computed without applying it). The concurrent EQUALITY
      // delete race splits by operation kind, like Iceberg:
      //   - DELETE (value-preserving: survivors keep their values)
      //     uses sequence-number inheritance — the output inherits
      //     the MAX input seq, so a racing eq delete still applies;
      //   - UPDATE/MERGE (value-CHANGING: rewritten rows are NEW
      //     versions that must NOT be retracted by pre-existing key
      //     sidecars) keep the fresh commit seq and instead VALIDATE
      //     that the eq-delete set is unchanged since the scan.
      val (scannedV, pred, scannedEntries, scannedEqNames) = scanInfo()
      val valuePreserving = operation == "delete"
      val seqHints: Map[String, Long] =
        if (!valuePreserving) Map.empty
        else gone.toSeq.flatMap(scannedEntries.get).flatMap(_.seq)
          .maxOption match {
          case Some(sq) => added.map(_ -> sq).toMap
          case None => Map.empty
        }
      val eqGuard: Option[Set[String]] =
        if (valuePreserving) None else Some(scannedEqNames)
      val scannedDels: Map[String, Seq[String]] =
        gone.toSeq.map(f => f -> scannedEntries.get(f)
          .map(_.deletes).getOrElse(Seq.empty)).toMap
      if (graft.GraftConf.string(spark,
        graft.GraftConf.RowLevelIsolationKey, "snapshot") == "serializable") {
        SnapshotLog.commitRewriteSerializable(dir, operation, gone,
          added.toIndexedSeq, scannedV, lateFiles => pred match {
            case Some(c) => spark.read.schema(schema)
              .parquet(lateFiles.map(f => s"$dir/$f"): _*)
              .filter(c)
              .select(col("_metadata.file_name")).distinct()
              .collect().map(_.getString(0)).toSeq.sorted
            case None => lateFiles
          }, parts, seqHints, scannedDels, eqGuard)
      } else
        SnapshotLog.commitRewrite(dir, operation, gone, added.toIndexedSeq,
          parts, seqHints = seqHints, scannedDeletes = scannedDels,
          scannedEqNames = eqGuard)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    messages.foreach {
      case StagedFiles(fs) =>
        fs.foreach(f => Files.deleteIfExists(Paths.get(f.staged)))
      case _ => ()
    }
    val prefix = s".batch-q$queryId-"
    val listing = Files.list(Paths.get(dir))
    try listing.iterator().forEachRemaining { p =>
      if (p.getFileName.toString.startsWith(prefix)) Files.deleteIfExists(p)
    } finally listing.close()
  }
}

private final class MarkerStrippingWriterFactory(
    inner: DataWriterFactory, width: Int, strip: Boolean)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] =
    new MarkerStrippingWriter(inner.createWriter(partitionId, taskId),
      width, strip)
}

private final class MarkerStrippingWriter(
    inner: org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow],
    width: Int, strip: Boolean)
    extends org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] {

  private val shifted = new ShiftedInternalRow(1)
  private val expected = if (strip) width + 1 else width

  override def write(record: org.apache.spark.sql.catalyst.InternalRow): Unit = {
    if (record.numFields != expected)
      throw new IllegalStateException(
        s"row-level rewrite row has ${record.numFields} fields, " +
          s"expected $expected (write schema validated at build time); " +
          "refusing a write that would mis-align columns")
    if (strip) { // operation marker at ordinal 0, per validated schema
      shifted.base = record
      inner.write(shifted)
    } else inner.write(record)
  }

  override def commit(): WriterCommitMessage = inner.commit()
  override def abort(): Unit = inner.abort()
  override def close(): Unit = inner.close()
}

/** Zero-copy view of an InternalRow with the first `offset` ordinals
  * hidden — how the writer drops the rewrite's operation-marker
  * column without materializing a projected copy per row. */
private final class ShiftedInternalRow(offset: Int)
    extends org.apache.spark.sql.catalyst.InternalRow {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types.{DataType, Decimal}
  import org.apache.spark.unsafe.types.{CalendarInterval, UTF8String, VariantVal}

  var base: InternalRow = _

  override def numFields: Int = base.numFields - offset
  override def isNullAt(i: Int): Boolean = base.isNullAt(i + offset)
  override def getBoolean(i: Int): Boolean = base.getBoolean(i + offset)
  override def getByte(i: Int): Byte = base.getByte(i + offset)
  override def getShort(i: Int): Short = base.getShort(i + offset)
  override def getInt(i: Int): Int = base.getInt(i + offset)
  override def getLong(i: Int): Long = base.getLong(i + offset)
  override def getFloat(i: Int): Float = base.getFloat(i + offset)
  override def getDouble(i: Int): Double = base.getDouble(i + offset)
  override def getDecimal(i: Int, precision: Int, scale: Int): Decimal =
    base.getDecimal(i + offset, precision, scale)
  override def getUTF8String(i: Int): UTF8String =
    base.getUTF8String(i + offset)
  override def getBinary(i: Int): Array[Byte] = base.getBinary(i + offset)
  override def getInterval(i: Int): CalendarInterval =
    base.getInterval(i + offset)
  override def getVariant(i: Int): VariantVal = base.getVariant(i + offset)
  override def getGeography(i: Int): org.apache.spark.unsafe.types.GeographyVal =
    base.getGeography(i + offset)
  override def getGeometry(i: Int): org.apache.spark.unsafe.types.GeometryVal =
    base.getGeometry(i + offset)
  override def getStruct(i: Int, numFields: Int): InternalRow =
    base.getStruct(i + offset, numFields)
  override def getArray(i: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    base.getArray(i + offset)
  override def getMap(i: Int): org.apache.spark.sql.catalyst.util.MapData =
    base.getMap(i + offset)
  override def get(i: Int, dataType: DataType): AnyRef =
    base.get(i + offset, dataType)
  override def setNullAt(i: Int): Unit = base.setNullAt(i + offset)
  override def update(i: Int, value: Any): Unit =
    base.update(i + offset, value)
  override def copy(): InternalRow = {
    val c = new ShiftedInternalRow(offset)
    c.base = base.copy()
    c
  }
}

/** The MERGE copy-on-write scan: one partition per candidate file,
  * read through the per-file readers with `_file` spliced in
  * (BronzeMetadataFileReader), and NARROWABLE at runtime — Spark's
  * row-level group filtering executes a subquery of the matched rows'
  * distinct files and hands it to [[filter]]; only the files that
  * survive are scanned AND replaced (`onNarrowed` keeps the commit in
  * lockstep). At 100 TB this is what turns MERGE from a full-table
  * rewrite into |files with matches|. */
private[catalog] final class BronzeCowFileScan(dir: String,
    files0: Seq[String],
    required: StructType, onNarrowed: Seq[String] => Unit,
    delsOf: String => Seq[String] = _ => Seq.empty,
    label: String = "cow merge",
    eqOf: String => Seq[String] = _ => Seq.empty)
    extends Scan with org.apache.spark.sql.connector.read.Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.Predicate
  import org.apache.spark.sql.connector.read.InputPartition

  @volatile private var files: Seq[String] = files0

  override def readSchema(): StructType = required
  override def description(): String =
    s"bronze $label scan $dir (runtime group filtering on _file)"
  override def toBatch: org.apache.spark.sql.connector.read.Batch = this

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column("_file"))

  override def filter(predicates: Array[Predicate]): Unit = {
    // the dynamic group filter arrives as IN(_file, <paths...>) (or a
    // degenerate =); anything unparseable leaves the set unnarrowed —
    // a correctness-neutral fallback (full candidate rewrite)
    val keep = predicates.flatMap(inPaths).reduceOption(_ intersect _)
    keep.foreach { paths =>
      files = files.filter(f => paths.contains(s"$dir/$f"))
      onNarrowed(files)
    }
  }

  private def inPaths(p: Predicate): Option[Set[String]] = {
    def litString(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
        Option(l.value).map(_.toString)
      case _ => None
    }
    def isFileRef(e: org.apache.spark.sql.connector.expressions.Expression)
        : Boolean = e match {
      case r: NamedReference => r.fieldNames.sameElements(Array("_file"))
      case _ => false
    }
    p.name() match {
      case "IN" if p.children().nonEmpty && isFileRef(p.children()(0)) =>
        val vals = p.children().drop(1).map(litString)
        if (vals.forall(_.isDefined)) Some(vals.flatten.toSet) else None
      case "=" if p.children().length == 2 && isFileRef(p.children()(0)) =>
        litString(p.children()(1)).map(Set(_))
      case _ => None
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    files.map(f => BronzeFilePartition(s"$dir/$f",
      delsOf(f).map(s => s"$dir/$s"),
      eqOf(f).map(s => s"$dir/$s")): InputPartition).toArray

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    new BronzeMetadataReaderFactory(required.json)
}
