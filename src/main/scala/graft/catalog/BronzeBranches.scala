package graft.catalog

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** BRANCHES + WRITE-AUDIT-PUBLISH for bronze snapshot tables —
  * Iceberg's branch refs and the standard production-lakehouse WAP
  * workflow built on them:
  *
  *   1. `createBranch` forks a named STAGING line from a main
  *      snapshot: its own little snapshot log under
  *      `_graft_snapshots/branch-<name>/`, seeded with the base
  *      version's file set and schema pin;
  *   2. `append` stages batches ONTO THE BRANCH: data files land in
  *      the table dir under branch-scoped names, referenced only by
  *      branch-log manifests — invisible to every main reader (main's
  *      manifests never mention them), yet durable and auditable;
  *   3. the audit reads the BRANCH view (base files + staged files,
  *      base schema) with full SQL;
  *   4. `fastForwardPublish` lands the branch state on main as ONE
  *      atomic commit, validated INSIDE the CAS: main must still be
  *      at the branch's base version (the fast-forward condition —
  *      if main advanced, the publish refuses and the branch must be
  *      re-staged, exactly Iceberg's fast_forward contract);
  *      a failed audit just `dropBranch`es — main never saw a row.
  *
  * Branches are APPEND-ONLY staging lines (the WAP shape): no
  * row-level ops or schema changes on a branch — publish is therefore
  * always a pure append relative to its base, which is what lets
  * incremental and CDC readers sail across a published batch like any
  * other append.
  *
  * VACUUM safety: files referenced by ANY live branch snapshot are
  * retained (the branch logs are scanned alongside retained main
  * manifests); dropping a branch orphans its staged files, which then
  * age out under the normal orphan grace period.
  */
object BronzeBranches {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** One branch snapshot: the branch-local version, the MAIN version
    * it forked from, the full visible file set of the branch view,
    * and the schema sidecar pinned at the fork. */
  final case class BranchState(
      version: Long,
      baseVersion: Long,
      files: Seq[String],
      schemaFile: Option[String])

  private def branchDir(tableDir: String, name: String): Path = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"branch name must be [A-Za-z0-9._-]+, got '$name'")
    Paths.get(tableDir, "_graft_snapshots", s"branch-$name")
  }

  private val V = """v(\d+)\.json""".r

  private def versions(d: Path): Seq[Long] =
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d)
      try s.iterator.asScala.flatMap(p => p.getFileName.toString match {
        case V(n) => Some(n.toLong)
        case _ => None
      }).toSeq.sorted
      finally s.close()
    }

  private def render(s: BranchState): String = {
    val root = mapper.createObjectNode()
    root.put("version", s.version)
    root.put("baseVersion", s.baseVersion)
    s.schemaFile.foreach(root.put("schemaFile", _))
    val arr = root.putArray("files")
    s.files.sorted.foreach(arr.add)
    mapper.writeValueAsString(root)
  }

  private def parse(json: String): BranchState = {
    val root = mapper.readTree(json)
    BranchState(
      root.get("version").asLong(),
      root.get("baseVersion").asLong(),
      root.get("files").elements().asScala.map(_.asText()).toSeq,
      Option(root.get("schemaFile")).map(_.asText()))
  }

  private def read(d: Path, v: Long): BranchState =
    parse(Files.readString(d.resolve(s"v$v.json")))

  /** Current head of `name`, None if the branch doesn't exist. */
  def head(tableDir: String, name: String): Option[BranchState] = {
    val d = branchDir(tableDir, name)
    versions(d).lastOption.map(read(d, _))
  }

  def listBranches(tableDir: String): Seq[String] = {
    val logd = Paths.get(tableDir, "_graft_snapshots")
    if (!Files.isDirectory(logd)) Seq.empty
    else {
      val s = Files.list(logd)
      try s.iterator.asScala.map(_.getFileName.toString)
        .filter(_.startsWith("branch-")).map(_.stripPrefix("branch-"))
        .toSeq.sorted
      finally s.close()
    }
  }

  /** Fork `name` from main snapshot `fromVersion` (default current).
    * Fails if the branch exists — branches are created fresh per
    * staging cycle (drop the old one first). */
  def createBranch(tableDir: String, name: String,
      fromVersion: Option[Long] = None): BranchState = {
    val base = fromVersion match {
      case Some(v) => SnapshotLog.read(tableDir, v)
      case None => SnapshotLog.current(tableDir).getOrElse(
        throw new IllegalArgumentException(
          s"branching requires a snapshot-logged table: $tableDir"))
    }
    val d = branchDir(tableDir, name)
    if (Files.isDirectory(d) && versions(d).nonEmpty)
      throw new IllegalArgumentException(
        s"branch '$name' already exists on $tableDir (dropBranch first)")
    Files.createDirectories(d)
    val st = BranchState(0L, base.version, base.files, base.schemaFile)
    val tmp = d.resolve(s".v0-${java.util.UUID.randomUUID}.tmp")
    Files.writeString(tmp, render(st))
    try Files.createLink(d.resolve("v0.json"), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalArgumentException(
          s"branch '$name' already exists on $tableDir (lost create race)")
    } finally Files.deleteIfExists(tmp)
    st
  }

  def dropBranch(tableDir: String, name: String): Boolean = {
    val d = branchDir(tableDir, name)
    if (!Files.isDirectory(d)) false
    else { graft.LocalFs.deleteTree(d); true }
  }

  /** Stage `df` onto the branch: files land in the TABLE dir under
    * branch-scoped names (`part-br-...`), referenced only by the new
    * branch snapshot — main readers never see them. Same
    * stage-then-move + CAS discipline as every other write. */
  def append(spark: SparkSession, tableDir: String, name: String,
      df0: DataFrame): Long = {
    val d = branchDir(tableDir, name)
    require(versions(d).nonEmpty, s"no branch '$name' on $tableDir")
    val df = BronzeBatchAppend.stampFieldIds(df0, tableDir)
    val batchId = java.util.UUID.randomUUID().toString.substring(0, 8)
    val stage = Paths.get(tableDir, s".br-stage-$name-$batchId")
    try df.write.parquet(stage.toString)
    catch { case e: Throwable =>
      BronzeBatchAppend.deleteStageTree(stage); throw e }
    val parts = {
      val s = Files.list(stage)
      try {
        val b = Seq.newBuilder[Path]
        s.iterator().forEachRemaining { p =>
          if (p.getFileName.toString.startsWith("part-")) b += p
        }
        b.result().sortBy(_.getFileName.toString)
      } finally s.close()
    }
    var rows = 0L
    val dests = parts.zipWithIndex.map { case (p, i) =>
      rows += BronzeBatchAppend.parquetRowCount(p)
      val dest = s"part-br-$name-$batchId-p$i.parquet"
      Files.move(p, Paths.get(tableDir, dest), StandardCopyOption.ATOMIC_MOVE)
      dest
    }
    BronzeBatchAppend.deleteStageTree(stage)
    // CAS the branch head forward (same link protocol as the main log)
    var attempt = 0
    while (true) {
      val cur = head(tableDir, name).getOrElse(
        throw new IllegalStateException(
          s"branch '$name' vanished mid-append on $tableDir"))
      val next = cur.copy(version = cur.version + 1,
        files = (cur.files ++ dests).sorted)
      val tmp = d.resolve(s".v${next.version}-${
        java.util.UUID.randomUUID}.tmp")
      Files.writeString(tmp, render(next))
      try {
        Files.createLink(d.resolve(s"v${next.version}.json"), tmp)
        Files.deleteIfExists(tmp)
        return rows
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(tmp)
          attempt += 1
          if (attempt > 100) throw new IllegalStateException(
            s"branch append on $tableDir/$name lost 100 straight races")
      }
    }
    rows
  }

  /** The branch VIEW — base files plus staged files, read with the
    * schema pinned at the fork: what the audit queries. */
  def readBranch(spark: SparkSession, tableDir: String,
      name: String): DataFrame = {
    val st = head(tableDir, name).getOrElse(
      throw new IllegalArgumentException(s"no branch '$name' on $tableDir"))
    val schema = st.schemaFile match {
      case Some(pin) => DataType.fromJson(
        SnapshotLog.readSchemaSidecar(tableDir, pin))
        .asInstanceOf[StructType]
      case None => DataType.fromJson(Files.readString(
        Paths.get(tableDir, "_graft_schema.json")))
        .asInstanceOf[StructType]
    }
    if (st.files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema)
      .parquet(st.files.map(f => s"$tableDir/$f"): _*)
  }

  /** Land the branch state on MAIN as one atomic commit — the
    * PUBLISH of write-audit-publish. Fast-forward only: validated
    * INSIDE the commit CAS, main must still be at the branch's base
    * version; a main that advanced fails the publish with
    * [[java.util.ConcurrentModificationException]] (re-stage against
    * the new base). The published snapshot is a pure append relative
    * to its parent, so incremental/CDC consumers cross it like any
    * other append. The branch is dropped on success. */
  def fastForwardPublish(tableDir: String, name: String): SnapshotLog.Snapshot = {
    val st = head(tableDir, name).getOrElse(
      throw new IllegalArgumentException(s"no branch '$name' on $tableDir"))
    val snap = SnapshotLog.commitWith(tableDir, "publish") { parent =>
      val parentV = parent.map(_.version).getOrElse(-1L)
      if (parentV != st.baseVersion)
        throw new java.util.ConcurrentModificationException(
          s"publish of branch '$name' on $tableDir: main advanced to " +
            s"v$parentV past the branch base v${st.baseVersion}; " +
            "re-stage the branch against the current snapshot")
      (st.files.toSet, st.schemaFile)
    }
    dropBranch(tableDir, name)
    snap
  }

  /** Data files referenced by ANY snapshot of ANY live branch — what
    * vacuum must keep alive while staging is in flight. */
  private[catalog] def referencedFiles(tableDir: String): Set[String] =
    listBranches(tableDir).flatMap { name =>
      val d = branchDir(tableDir, name)
      versions(d).flatMap(v => read(d, v).files)
    }.toSet

  /** The abandoned-WAP reaper: drop branches whose last activity (the
    * newest branch-log manifest's mtime — creation or latest staged
    * append) is older than `maxAgeMs`. Without this, an
    * abandoned-but-undropped branch pins its staged files through
    * vacuum forever. Returns the dropped names; their staged files
    * become unreferenced and age out under vacuum's normal orphan
    * grace on a later pass. Default Long.MaxValue = never expire
    * (live staging cycles are short; expiry is the operator's dial,
    * `spark.graft.branchMaxAgeMs`). */
  private[catalog] def expireStale(tableDir: String,
      maxAgeMs: Long): Seq[String] =
    if (maxAgeMs == Long.MaxValue) Seq.empty
    else {
      val now = System.currentTimeMillis()
      listBranches(tableDir).filter { name =>
        val d = branchDir(tableDir, name)
        val vs = versions(d)
        vs.nonEmpty && {
          val last = vs.map(v =>
            Files.getLastModifiedTime(d.resolve(s"v$v.json")).toMillis).max
          now - last > maxAgeMs
        }
      }.map { name => dropBranch(tableDir, name); name }
    }
}
