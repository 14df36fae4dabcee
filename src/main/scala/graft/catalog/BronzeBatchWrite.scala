package graft.catalog

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.graftshim.shim
import org.apache.spark.sql.types.StructType

/** Atomic batch append for bronze tables — the batch twin of
  * [[BronzeStreamingWrite]].
  *
  * The reference's batch job commits one atomic Iceberg snapshot
  * (`KafkaBatchJob.java:95-98` — `append().appendFile(...).commit()`):
  * either the whole batch becomes visible or none of it. Spark's
  * default file write publishes through the Hadoop commit protocol's
  * `_temporary` staging, whose job commit renames task directories one
  * at a time — a driver crash mid-commit leaves a PARTIAL batch
  * visible, and `_temporary` garbage confuses the next append.
  *
  * Here every task writes its rows to an attempt-unique DOT-FILE in
  * the table directory (`.batch-q<query>-p<part>-t<task>.parquet` —
  * hidden from Spark's file listing, so nothing is visible while the
  * long data phase runs, and a crashed job leaves only invisible
  * garbage). The driver's job commit then renames each staged file to
  * its visible destination — pure metadata operations, microseconds
  * per file, so the non-atomic window is reduced from the whole job
  * commit to a handful of renames. Abort deletes staged files.
  */
private final class BronzeBatchWrite(dir: String, schema: StructType,
    queryId: String, writerConfs: Map[String, String],
    partSpec: Seq[BronzePartitioning.PartField]) extends BatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new BronzeBatchWriterFactory(dir, schema, queryId, writerConfs,
      partSpec)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = StagedCommit.files(messages)
    staged.foreach { f =>
      Files.move(Paths.get(f.staged), Paths.get(f.dest),
        StandardCopyOption.REPLACE_EXISTING)
    }
    // one atomic snapshot per batch append — the reference's
    // `append().appendFile(...).commit()` contract: readers see the
    // whole batch (new manifest) or none of it (old manifest).
    // Partition tuples recorded by the fanout writers ride into the
    // manifest entries for scan-planning pruning.
    val added = staged.map(f => Paths.get(f.dest).getFileName.toString)
    val parts = staged.filter(_.parts.nonEmpty)
      .map(f => Paths.get(f.dest).getFileName.toString -> f.parts).toMap
    SnapshotLog.commit(dir, "append", parts)(_ ++ added)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    messages.foreach {
      case StagedFiles(fs) =>
        fs.foreach(f => Files.deleteIfExists(Paths.get(f.staged)))
      case _ => ()
    }
    // Messages only cover tasks whose commit result reached the driver;
    // a task that committed concurrently with the job failure can be
    // missing from the array, and its staged file would outlive the
    // abort. All of this write's stages share the `.batch-q<queryId>-`
    // prefix (unique per write), so a prefix sweep is exact.
    val prefix = s".batch-q$queryId-"
    val listing = Files.list(Paths.get(dir))
    try listing.iterator().forEachRemaining { p =>
      if (p.getFileName.toString.startsWith(prefix)) Files.deleteIfExists(p)
    } finally listing.close()
  }
}

private final class BronzeBatchWriterFactory(dir: String,
    schema: StructType, queryId: String, writerConfs: Map[String, String],
    partSpec: Seq[BronzePartitioning.PartField] = Seq.empty)
    extends DataWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new BronzeBatchDataWriter(dir, schema, partitionId, taskId, queryId,
      writerConfs, partSpec)
}

private final class BronzeBatchDataWriter(dir: String, schema: StructType,
    partitionId: Int, taskId: Long, queryId: String,
    writerConfs: Map[String, String],
    partSpec: Seq[BronzePartitioning.PartField])
    extends DataWriter[InternalRow] {

  // attempt-unique stage names (taskId differs across retries /
  // speculation); destinations scoped by the write's query id, so two
  // concurrent batch appends never collide. `k` indexes the task's
  // fanout writers (one per partition tuple; k0 only when the table
  // is unpartitioned).
  private val fanout = new FanoutParquetWriter(dir, schema,
    i => s".batch-q$queryId-p$partitionId-t$taskId-k$i.parquet",
    i => s"part-batch-q$queryId-p$partitionId-k$i.parquet",
    partSpec, writerConfs)

  override def write(record: InternalRow): Unit = fanout.write(record)
  override def commit(): WriterCommitMessage = fanout.commit()
  override def abort(): Unit = fanout.abort()
  override def close(): Unit = ()
}

/** The executor-side FANOUT writer shared by the batch and streaming
  * bronze writes: rows route to one open parquet writer per partition
  * tuple (Iceberg's fanout writer — no required sort order; input
  * clustered by the partition expressions simply opens fewer writers
  * at once), so every produced file holds exactly ONE tuple, recorded
  * in its commit message and from there in the file's manifest entry.
  * Unpartitioned tables degenerate to the old single-writer path. */
private final class FanoutParquetWriter(dir: String, schema: StructType,
    stagedName: Int => String, destName: Int => String,
    partSpec: Seq[BronzePartitioning.PartField],
    writerConfs: Map[String, String]) {

  private val eval = BronzePartitioning.evaluator(partSpec, schema)

  private final class Open(val staged: String, val dest: String,
      val parts: Map[String, String]) {
    val writer: org.apache.parquet.hadoop.ParquetWriter[InternalRow] = {
      Files.deleteIfExists(Paths.get(staged))
      shim.rowParquetWriter(staged, schema, writerConfs)
    }
    var n: Long = 0L
  }

  private val open =
    scala.collection.mutable.LinkedHashMap.empty[Map[String, String], Open]

  def write(record: InternalRow): Unit = {
    val parts = eval(record)
    val o = open.getOrElseUpdate(parts, {
      val i = open.size
      new Open(s"$dir/${stagedName(i)}", s"$dir/${destName(i)}", parts)
    })
    o.writer.write(record)
    o.n += 1
  }

  def commit(): WriterCommitMessage = {
    open.values.foreach(_.writer.close())
    val (kept, empty) = open.values.toSeq.partition(_.n > 0)
    empty.foreach(o => Files.deleteIfExists(Paths.get(o.staged)))
    StagedFiles(kept.map(o => StagedEntry(o.staged, o.dest, o.parts)))
  }

  def abort(): Unit = open.values.foreach { o =>
    try o.writer.close() catch { case _: Throwable => () }
    Files.deleteIfExists(Paths.get(o.staged))
  }
}

/** Stage-then-rename append for a PLAIN parquet directory (no
  * catalog): stage the whole write under a hidden dot-directory inside
  * the table dir, then publish by renaming each finished file into
  * place. A failure anywhere in the data phase deletes the stage
  * directory and leaves the table byte-identical; the visible window
  * is only the final per-file metadata renames. */
object BronzeBatchAppend {

  /** When the target dir is an id-ed bronze table (declared-schema
    * sidecar with parquet field ids), stamp the ids onto `df`'s
    * matching columns so the written files resolve by id like every
    * other write path — an id-less file in an id-ed table would
    * refuse to resolve. Plain dirs and legacy tables pass through.
    *
    * The schema comes from the CURRENT SNAPSHOT'S PIN when one
    * exists, not the table-root mirror: the mirror is refreshed
    * outside the commit CAS, so two racing ALTERs can leave it
    * missing the newest column — stamping from a stale mirror would
    * write that column without its field id, and id-resolved reads
    * would surface its values as NULL. */
  private[catalog] def stampFieldIds(df: DataFrame,
      tableDir: String): DataFrame = {
    val sf = Paths.get(tableDir, "_graft_schema.json")
    if (!Files.isRegularFile(sf)) return df
    val json = SnapshotLog.current(tableDir).flatMap(_.schemaFile) match {
      case Some(pin) => SnapshotLog.readSchemaSidecar(tableDir, pin)
      case None => Files.readString(sf)
    }
    val declared = org.apache.spark.sql.types.DataType
      .fromJson(json).asInstanceOf[StructType]
    val idKey = "parquet.field.id"
    if (declared.isEmpty || !declared.fields.forall(_.metadata.contains(idKey)))
      return df
    val byName = declared.fields.map(f => f.name.toLowerCase -> f).toMap
    df.select(df.columns.map { c =>
      byName.get(c.toLowerCase) match {
        case Some(f) =>
          org.apache.spark.sql.functions.col(c).as(f.name, f.metadata)
        case None => org.apache.spark.sql.functions.col(c)
      }
    }: _*)
  }

  /** Appends `df` to `tableDir` atomically; returns rows appended. */
  def append(df0: DataFrame, tableDir: String): Long = {
    val df = stampFieldIds(df0, tableDir)
    val batchId = java.util.UUID.randomUUID().toString.substring(0, 8)
    val stage = Paths.get(tableDir, s".batch-stage-$batchId")
    try df.write.parquet(stage.toString)
    catch {
      case e: Throwable =>
        // tasks being killed by the failing job can re-create stage
        // entries for a moment after the driver sees the failure —
        // retry the sweep briefly so no hidden garbage outlives the
        // failed append
        deleteStageTree(stage)
        var tries = 0
        while (Files.exists(stage) && tries < 50) {
          Thread.sleep(100); deleteStageTree(stage); tries += 1
        }
        throw e
    }
    val parts = {
      val s = Files.list(stage)
      try {
        val b = Seq.newBuilder[java.nio.file.Path]
        s.iterator().forEachRemaining { p =>
          if (p.getFileName.toString.startsWith("part-")) b += p
        }
        b.result().sortBy(_.getFileName.toString)
      } finally s.close()
    }
    var rows = 0L
    parts.zipWithIndex.foreach { case (p, i) =>
      rows += parquetRowCount(p)
      Files.move(p, Paths.get(tableDir, s"part-b$batchId-p$i.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    deleteStageTree(stage)
    rows
  }

  /** Epoch-idempotent variant for `foreachBatch` fan-out: a REPLAYED
    * micro-batch (restart from checkpoint re-delivers the same
    * offsets) writes its epoch under a fresh ATTEMPT token and the
    * epoch's manifest swap retires every prior attempt's files — by
    * name only, never by overwriting bytes, so a crashed attempt's
    * committed snapshot keeps reading its own consistent files under
    * time travel (vacuum reaps the retired bytes). `tag` scopes
    * destinations per fan-out job, so two jobs appending to one table
    * never replace each other's epochs. Plain dirs (no snapshot log —
    * directory listings ARE the table) publish with a physical sweep
    * of prior attempts instead. */
  def appendEpoch(df0: DataFrame, tableDir: String, tag: String,
      epochId: Long): Unit = {
    require(tag.matches("[A-Za-z0-9_-]+"), s"tag must be fs-safe: $tag")
    val df = stampFieldIds(df0, tableDir)
    val attempt = java.util.UUID.randomUUID().toString.substring(0, 8)
    val stage = Paths.get(tableDir, s".fb-stage-$tag-e$epochId-$attempt")
    deleteStageTree(stage)
    try df.write.parquet(stage.toString)
    catch { case e: Throwable => deleteStageTree(stage); throw e }
    val parts = {
      val s = Files.list(stage)
      try {
        val b = Seq.newBuilder[java.nio.file.Path]
        s.iterator().forEachRemaining { p =>
          if (p.getFileName.toString.startsWith("part-")) b += p
        }
        b.result().sortBy(_.getFileName.toString)
      } finally s.close()
    }
    // every attempt of this (tag, epoch) shares the prefix; this
    // attempt's files carry the token
    val epochPrefix = s"part-fb-$tag-e$epochId-"
    val dests = parts.indices
      .map(i => s"$epochPrefix$attempt-p$i.parquet")
    val destSet = dests.toSet
    if (!SnapshotLog.enabled(tableDir)) {
      val listing = Files.list(Paths.get(tableDir))
      try listing.iterator().forEachRemaining { p =>
        val name = p.getFileName.toString
        if (name.startsWith(epochPrefix) && !destSet.contains(name))
          Files.deleteIfExists(p)
      } finally listing.close()
    }
    parts.zip(dests).foreach { case (p, dest) =>
      Files.move(p, Paths.get(tableDir, dest),
        StandardCopyOption.REPLACE_EXISTING)
    }
    deleteStageTree(stage)
    // fan-out targets bronze catalog tables (snapshot-logged) but the
    // helper also serves plain dirs — commit only where a log exists.
    SnapshotLog.commitIfEnabled(tableDir, "foreach-batch-append") { parent =>
      parent.filterNot(_.startsWith(epochPrefix)) ++ dests
    }
  }

  /** Row count from the parquet footer — no data pages read. */
  private[catalog] def parquetRowCount(p: java.nio.file.Path): Long =
    graft.Parquet.withParquetFooter(p.toString)(_.getRecordCount)

  /** Best-effort recursive delete, tolerant of entries appearing or
    * vanishing mid-walk (concurrent task teardown) — callers retry.
    * Shared by the catalog's stage-directory cleanups. */
  private[catalog] def deleteStageTree(dir: java.nio.file.Path): Unit =
    try graft.LocalFs.deleteTree(dir)
    catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException => ()
    }
}
