package graft.catalog

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** Versioned snapshot log for bronze catalog tables — the Iceberg
  * table-format semantics the reference's sink gets from
  * `append().appendFile(...).commit()` (one atomic snapshot per
  * commit, `KafkaBatchJob.java:95-98`; snapshot reads + time travel
  * are Iceberg core behavior), re-expressed over a plain filesystem:
  *
  *   - every commit writes `_graft_snapshots/v<N>.json` holding the
  *     COMPLETE visible file set after the commit (names only — all
  *     data files live flat in the table dir);
  *   - the claim of version N is atomic: the manifest is fully
  *     written to a hidden temp file, then HARD-LINKED to its final
  *     name (`Files.createLink` fails if the name exists — the
  *     filesystem's compare-and-swap). Two racing committers cannot
  *     both win N; the loser recomputes against N and retries at N+1
  *     (optimistic concurrency, Iceberg's own protocol);
  *   - readers resolve `max N` once at table-load time and scan
  *     exactly that manifest's files: a concurrent commit cannot make
  *     a running scan see half an append (snapshot isolation), and
  *     an old version stays readable until vacuumed (time travel).
  *
  * Manifest JSON is written and parsed by this object only; data-file
  * names are filesystem-safe (`[A-Za-z0-9._-]`, enforced on commit),
  * so the hand-rolled parser needs no escaping.
  *
  * Legacy tables (created before the snapshot log existed) have no
  * `_graft_snapshots` dir: reads fall back to directory listing, and
  * the FIRST commit seeds its parent file set from that listing —
  * upgrade is automatic and needs no rewrite.
  */
object SnapshotLog {

  private val LogDir = "_graft_snapshots"
  private val V = """v(\d+)\.json""".r
  /** Hadoop's checksum of a parquet file: `.<name>.parquet.crc`. */
  private val ChecksumDebris = """\.(.+\.parquet)\.crc""".r

  /** Per-column min/max/null-count statistics of ONE data file,
    * scraped from its parquet footer at commit time (metadata only,
    * no data pages) — the file-skipping input scan planning evaluates
    * predicates against, Iceberg's manifest `lower_bounds` /
    * `upper_bounds` / `null_value_counts`. Values are rendered in a
    * typed canonical string domain (`typ` ∈ l=long d=double s=string):
    * ints/dates(days)/timestamps(micros) land in `l`, float/double in
    * `d`, utf8 ≤ 128 chars in `s`; anything else (decimal, bool,
    * nano-timestamps, long strings) carries NO bounds — absent stats
    * always mean "cannot prune", never "no rows". `fieldId` is the
    * parquet field id when the file carries one, so bounds survive
    * RENAME COLUMN (resolution by id, like the data itself). */
  final case class ColStats(
      typ: String,
      min: Option[String],
      max: Option[String],
      nulls: Option[Long],
      fieldId: Option[Long])

  /** One data file in a manifest segment: name, footer row count and
    * size, the file's PARTITION-TRANSFORM tuple when the writer
    * recorded one (values as canonical strings keyed by transform
    * name), per-top-level-column [[ColStats]] keyed by the column's
    * lower-cased name AT WRITE TIME (id-based lookup handles later
    * renames), and the POSITION-DELETE sidecars attached to the file
    * (merge-on-read row-level deletes — Iceberg v2's delete files):
    * each named sidecar is a parquet of (file, pos) pairs in the
    * table dir, and a reader of this snapshot must SKIP the file's
    * listed positions. All metadata fields are optional: an entry
    * with nothing but a name (legacy manifests, unreadable footers)
    * is still a perfectly valid — just never-skippable — file.
    *
    * `seq`: the snapshot VERSION that ADDED this file (Iceberg's data
    * sequence number) — what decides which EQUALITY deletes apply: an
    * equality-delete sidecar retracts matching rows only from files
    * with a STRICTLY SMALLER seq, so the same commit's re-inserted
    * rows survive their own retraction. Absent on entries from before
    * seq stamping — treated as MIN (old files are subject to every
    * equality delete, the conservative direction for upserts).
    *
    * `mtime`: the file's modification time (epoch ms) when its footer
    * was scraped. With `bytes` it is the file's whole `FileStatus`, so
    * a scan plans from the manifest ([[ManifestFileIndex]]) without a
    * stat; absent on entries from before it was recorded. */
  final case class FileEntry(
      name: String,
      rows: Option[Long] = None,
      bytes: Option[Long] = None,
      parts: Map[String, String] = Map.empty,
      stats: Map[String, ColStats] = Map.empty,
      deletes: Seq[String] = Seq.empty,
      seq: Option[Long] = None,
      mtime: Option[Long] = None)

  /** One EQUALITY-DELETE sidecar (Iceberg v2's equality delete
    * files): `name` is a parquet IN THE TABLE DIR whose columns ARE
    * the equality key (schema carried by the file itself); a reader
    * must drop every row of any data file with `entry.seq < seq`
    * whose key-column values match any sidecar row. The streaming
    * keyed-upsert sink writes one per epoch — O(changed keys) bytes,
    * zero target reads. */
  final case class EqDelete(name: String, seq: Long)

  /** One manifest segment file (`m-<uuid>.json` in the log dir): an
    * immutable list of file entries SHARED across snapshots — a
    * commit reuses every parent segment whose files all survive and
    * writes one new segment for the delta (Iceberg's manifest-list
    * shape), so commit WRITE cost is O(delta), not O(table). */
  final case class ManifestSegment(name: String, entries: Seq[FileEntry])

  /** `schemaFile`: the name (inside the log dir) of the schema sidecar
    * PINNED at this snapshot — Iceberg's schema-id-per-snapshot, so
    * `VERSION AS OF` a pre-evolution version reads with the schema of
    * that time (old column names, no later columns). Absent on
    * manifests from before schema pinning: readers fall back to the
    * table's current declared schema.
    *
    * `segments`: the resolved manifest segments (empty on legacy
    * inline-`files` manifests). `files` is ALWAYS the complete sorted
    * visible file-name set, whichever format the manifest used. */
  final case class Snapshot(
      version: Long,
      timestampMicros: Long,
      operation: String,
      files: Seq[String],
      schemaFile: Option[String] = None,
      segments: Seq[ManifestSegment] = Seq.empty,
      eqDeletes: Seq[EqDelete] = Seq.empty) {

    /** The equality-delete sidecars a reader of `entry` must apply:
      * those committed at a strictly later sequence than the file. */
    def eqDeletesFor(entry: FileEntry): Seq[EqDelete] =
      eqDeletes.filter(_.seq > entry.seq.getOrElse(Long.MinValue))

    /** File entries with whatever metadata the manifest carries;
      * name-only entries for legacy inline manifests. */
    def entries: Seq[FileEntry] =
      if (segments.isEmpty) files.map(FileEntry(_))
      else segments.flatMap(_.entries)

    def entriesByName: Map[String, FileEntry] =
      entries.map(e => e.name -> e).toMap
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Segments per snapshot before the commit path consolidates: above
    * this, the smallest half merge into one (size-tiered, LSM-style) —
    * each entry is rewritten O(log table) times over the table's life,
    * never O(commits). */
  private val MaxSegments = 64

  private def logDir(tableDir: String): Path = Paths.get(tableDir, LogDir)

  /** Visible data files (flat names) of `tableDir` right now, by
    * directory listing — the legacy view, and the seed for a table's
    * first snapshot commit. Dot-files (in-flight stages) and the log
    * dir itself are invisible. */
  def listDataFiles(tableDir: String): Seq[String] = {
    val s = Files.list(Paths.get(tableDir))
    try s.iterator.asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      .toSeq.sorted
    finally s.close()
  }

  /** All committed versions, ascending; empty for legacy dirs. */
  def versions(tableDir: String): Seq[Long] = {
    val d = logDir(tableDir)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d)
      try s.iterator.asScala.flatMap(p => p.getFileName.toString match {
        case V(n) => Some(n.toLong)
        case _ => None
      }).toSeq.sorted
      finally s.close()
    }
  }

  def currentVersion(tableDir: String): Option[Long] =
    versions(tableDir).lastOption

  def read(tableDir: String, version: Long): Snapshot = {
    val p = logDir(tableDir).resolve(s"v$version.json")
    if (!Files.isRegularFile(p))
      throw new IllegalArgumentException(
        s"table at $tableDir has no snapshot version $version " +
          s"(available: ${versions(tableDir).mkString(", ")})")
    parse(tableDir, Files.readString(p))
  }

  def current(tableDir: String): Option[Snapshot] =
    currentVersion(tableDir).map(read(tableDir, _))

  /** Latest snapshot whose commit time is <= `micros` (the
    * `TIMESTAMP AS OF` resolution rule). Commit times are clamped
    * monotonic at commit time (Iceberg's snapshot-log invariant), but
    * `filter` instead of `takeWhile` keeps pre-clamp legacy logs —
    * where an NTP step could have produced a regression — resolving
    * to the latest qualifying snapshot rather than silently stopping
    * at the dip. */
  def asOfTimestamp(tableDir: String, micros: Long): Option[Snapshot] = {
    val all = versions(tableDir).map(read(tableDir, _))
    all.filter(_.timestampMicros <= micros).lastOption
  }

  /** Atomically commit the next snapshot. `change` maps the parent's
    * visible file set to the new one (set algebra only — the data
    * files themselves must already be in place). Retries on a lost
    * race, recomputing against the winner's snapshot. Returns the
    * committed snapshot. */
  def commit(tableDir: String, operation: String,
      addedParts: Map[String, Map[String, String]] = Map.empty)(
      change: Set[String] => Set[String]): Snapshot =
    commitWith(tableDir, operation, addedParts)(parent =>
      // schema carries over from the parent: a data commit never
      // changes the schema pin
      (change(parent.map(_.files.toSet)
        .getOrElse(listDataFiles(tableDir).toSet)),
        parent.flatMap(_.schemaFile)))

  /** [[commit]]'s general form: `change` maps the parent snapshot
    * (None for a legacy dir's first commit) to the new file set AND
    * the new schema-sidecar name — the hook schema evolution uses to
    * serialize its read-modify-write through the same CAS.
    *
    * `addedParts`: partition-transform values per ADDED file name
    * (recorded into its manifest entry — the fanout writer's hook).
    * `entryHints`: pre-resolved entries for added files whose metadata
    * is already known (rollback restoring a prior snapshot's entries);
    * files in neither map get their entry scraped from the parquet
    * footer — an O(|added|) metadata read, never data pages.
    *
    * Manifest segments: every parent segment whose files ALL survive
    * is reused by reference; survivors of partially-removed segments
    * plus added files land in ONE new segment. Above [[MaxSegments]]
    * the smallest half merges (size-tiered) — commit manifest WRITES
    * stay O(delta) amortized at millions of files. */
  def commitWith(tableDir: String, operation: String,
      addedParts: Map[String, Map[String, String]] = Map.empty,
      entryHints: Map[String, FileEntry] = Map.empty,
      attachDeletes: Map[String, Seq[String]] = Map.empty,
      // the new snapshot's EQUALITY-DELETE list, from (parent, next
      // version): default carries the parent's forward unchanged; an
      // upsert appends its sidecar at seq=next; OPTIMIZE clears after
      // rewriting every file the deletes applied to. Runs inside the
      // CAS retry loop — recomputed against each winning parent.
      mkEqDeletes: (Option[Snapshot], Long) => Seq[EqDelete] =
        (parent, _) => parent.map(_.eqDeletes).getOrElse(Seq.empty),
      // data-sequence OVERRIDE for added files: a compaction's output
      // inherits the MAX seq of its inputs (Iceberg's sequence-number
      // inheritance) so an equality delete committed CONCURRENTLY
      // with the rewrite still applies to the compacted rows; plain
      // adds default to seq = this commit's version.
      seqHints: Map[String, Long] = Map.empty)(
      change: Option[Snapshot] => (Set[String], Option[String])): Snapshot = {
    val d = logDir(tableDir)
    Files.createDirectories(d)
    // footer scrapes survive CAS retries (file bytes are immutable)
    val scrapeCache = scala.collection.mutable.Map.empty[String, FileEntry]
    var attempt = 0
    while (true) {
      // ONE read of the parent snapshot: version and file set must
      // come from the same manifest, or a commit landing between two
      // separate reads lets this writer claim version N+2 while
      // merging against N's files — silently dropping N+1's (the
      // classic lost update; caught by TimeTravelSpec's race test)
      val parent = current(tableDir)
      val next = parent.map(_.version + 1).getOrElse(0L)
      val (fileSet, schemaFile) = change(parent)
      val files = fileSet.toSeq.sorted
      files.find(f => !f.matches("[A-Za-z0-9._-]+")).foreach { bad =>
        throw new IllegalArgumentException(
          s"data-file name not filesystem-safe: $bad")
      }
      // commit time clamps to >= the parent's: a wall-clock step
      // backwards (NTP) must not make TIMESTAMP AS OF non-monotonic
      // across versions (Iceberg's snapshot log is monotonic too)
      val now = math.max(System.currentTimeMillis() * 1000L,
        parent.map(_.timestampMicros).getOrElse(Long.MinValue))
      val parentEntries = parent.map(_.entriesByName)
        .getOrElse(Map.empty[String, FileEntry])
      // merge-on-read deletes attach to entries that must still be
      // LIVE: positions were computed against a scanned snapshot, and
      // a file rewritten since holds different rows at them
      attachDeletes.keys.find(!fileSet.contains(_)).foreach { gone =>
        throw new java.util.ConcurrentModificationException(
          s"$operation on $tableDir: delete file targets $gone, which " +
            "a concurrent commit rewrote or removed; recompute against " +
            "the current snapshot and retry")
      }
      def entryFor(name: String): FileEntry = {
        // HINTS WIN over the parent's entry: rollback restores the
        // TARGET version's entry state (e.g. its delete-sidecar refs,
        // or their absence — rolling back across a MOR delete must
        // un-apply it), not whatever the parent evolved to
        val base = entryHints.getOrElse(name,
          parentEntries.getOrElse(name, {
            // a freshly-ADDED file is stamped with this commit's
            // version as its data sequence number (outside the
            // scrape cache — `next` moves on CAS retries); hints and
            // parent entries keep their original seq
            val scraped = scrapeCache.getOrElseUpdate(name,
              scrapeEntry(tableDir, name,
                addedParts.getOrElse(name, Map.empty)))
            scraped.copy(seq = Some(seqHints.getOrElse(name, next)))
          }))
        attachDeletes.get(name) match {
          case Some(dels) => base.copy(deletes = base.deletes ++ dels)
          case None => base
        }
      }
      val kept = parent.map(_.segments).getOrElse(Seq.empty)
        .filter(_.entries.forall(e => fileSet.contains(e.name) &&
          !attachDeletes.contains(e.name) &&
          // an entry whose hint DIFFERS from the parent's state must
          // be rewritten, not reused through its parent segment
          entryHints.get(e.name).forall(_ == e)))
      val keptNames = kept.flatMap(_.entries.map(_.name)).toSet
      val leftover = (fileSet -- keptNames).toSeq.sorted.map(entryFor)
      var segs = kept ++
        (if (leftover.nonEmpty) Seq(writeSegment(tableDir, leftover))
         else Seq.empty)
      if (segs.size > MaxSegments) {
        val sorted = segs.sortBy(_.entries.size)
        val (small, big) = sorted.splitAt(segs.size / 2)
        segs = big :+ writeSegment(tableDir, small.flatMap(_.entries))
      }
      val snap = Snapshot(next, now, operation, files, schemaFile, segs,
        mkEqDeletes(parent, next))
      val tmp = d.resolve(s".v$next-${java.util.UUID.randomUUID}.tmp")
      Files.writeString(tmp, render(snap))
      try {
        Files.createLink(d.resolve(s"v$next.json"), tmp) // atomic CAS
        Files.deleteIfExists(tmp)
        return snap
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(tmp) // lost the race; recompute + retry
          attempt += 1
          if (attempt > 100) throw new IllegalStateException(
            s"snapshot commit on $tableDir lost 100 straight races")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Commit a REWRITE: `replaced` files swap for `added`. Unlike a
    * plain [[commit]], this VALIDATES at commit time that every
    * replaced file is still present in the parent snapshot —
    * Iceberg's `validateDataFilesExist`, i.e. SNAPSHOT-ISOLATION
    * level conflict detection. Without it, a rewrite racing another
    * rewrite/delete of the same files would blindly re-add content the
    * winner already rewrote or removed: a compaction racing a DELETE
    * would resurrect the deleted rows; two row-level ops on one file
    * would duplicate its rows. Disjoint rewrites still serialize
    * through the CAS and both land; overlapping ones fail loudly with
    * [[java.util.ConcurrentModificationException]] for the caller to
    * retry against the new state.
    *
    * This is deliberately WEAKER than Iceberg's default SERIALIZABLE
    * level, which additionally validates that no file APPENDED since
    * the operation's scan snapshot contains rows matching its
    * predicate: here a DELETE racing a concurrent append of
    * predicate-matching rows commits cleanly and leaves the new rows
    * untouched (write skew). That matches Iceberg's
    * `snapshot` isolation setting; [[commitRewriteSerializable]] (the
    * `spark.graft.rowLevelIsolation=serializable` path) adds the
    * late-append validation for callers who need the stronger
    * level. */
  def commitRewrite(tableDir: String, operation: String,
      replaced: Set[String], added: Seq[String],
      addedParts: Map[String, Map[String, String]] = Map.empty,
      mkEqDeletes: (Option[Snapshot], Long) => Seq[EqDelete] =
        (parent, _) => parent.map(_.eqDeletes).getOrElse(Seq.empty),
      seqHints: Map[String, Long] = Map.empty,
      scannedDeletes: Map[String, Seq[String]] = Map.empty,
      scannedEqNames: Option[Set[String]] = None): Snapshot =
    commitWith(tableDir, operation, addedParts,
      mkEqDeletes = mkEqDeletes, seqHints = seqHints) { parent =>
      val parentFiles = parent.map(_.files.toSet)
        .getOrElse(listDataFiles(tableDir).toSet)
      val missing = replaced -- parentFiles
      if (missing.nonEmpty) throw new java.util.ConcurrentModificationException(
        s"$operation on $tableDir conflicts with a concurrent commit: " +
          s"${missing.size} of its input files (e.g. ${missing.head}) " +
          "were rewritten or removed; recompute against the current " +
          "snapshot and retry")
      validateReplacedDeletes(tableDir, operation, parent, scannedDeletes)
      validateEqSetUnchanged(tableDir, operation, parent, scannedEqNames)
      (parentFiles -- replaced ++ added, parent.flatMap(_.schemaFile))
    }

  /** [[commitRewrite]] at SERIALIZABLE isolation: additionally
    * validates that no file APPENDED after the operation's scan
    * snapshot (`scannedVersion`) conflicts with the operation —
    * Iceberg's `validateAddedDataFiles`, closing the write-skew
    * window snapshot isolation leaves open (a DELETE racing an
    * append of predicate-matching rows). `conflictsWith` receives
    * the files added since the scan and returns the conflicting
    * subset (typically: files containing rows matching the
    * operation's predicate; return everything for conservative
    * no-predicate semantics). It runs INSIDE the CAS retry loop, so
    * every retry revalidates against the winning parent. */
  def commitRewriteSerializable(tableDir: String, operation: String,
      replaced: Set[String], added: Seq[String], scannedVersion: Long,
      conflictsWith: Seq[String] => Seq[String],
      addedParts: Map[String, Map[String, String]] = Map.empty,
      seqHints: Map[String, Long] = Map.empty,
      scannedDeletes: Map[String, Seq[String]] = Map.empty,
      scannedEqNames: Option[Set[String]] = None): Snapshot = {
    val scannedFiles = read(tableDir, scannedVersion).files.toSet
    commitWith(tableDir, operation, addedParts,
      seqHints = seqHints) { parent =>
      val parentFiles = parent.map(_.files.toSet)
        .getOrElse(listDataFiles(tableDir).toSet)
      val missing = replaced -- parentFiles
      if (missing.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"$operation on $tableDir conflicts with a concurrent " +
            s"commit: ${missing.size} of its input files (e.g. " +
            s"${missing.head}) were rewritten or removed; recompute " +
            "against the current snapshot and retry")
      validateReplacedDeletes(tableDir, operation, parent, scannedDeletes)
      validateEqSetUnchanged(tableDir, operation, parent, scannedEqNames)
      val addedSinceScan = (parentFiles -- scannedFiles -- added).toSeq.sorted
      val conflicting =
        if (addedSinceScan.isEmpty) Seq.empty
        else conflictsWith(addedSinceScan)
      if (conflicting.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"$operation on $tableDir (serializable): " +
            s"${conflicting.size} file(s) appended after the " +
            s"operation's scan (v$scannedVersion) contain rows the " +
            s"operation's predicate matches (e.g. ${conflicting.head})" +
            "; rerun the statement against the current snapshot")
      (parentFiles -- replaced ++ added, parent.flatMap(_.schemaFile))
    }
  }

  /** Replaced files' position-delete refs must be UNCHANGED since the
    * rewriter's scan: a sidecar attached concurrently lists rows the
    * rewrite's output was computed WITHOUT applying — committing
    * would resurrect them through the rewritten copy. Runs inside the
    * CAS retry loop (fresh parent each attempt). `scannedDeletes`
    * maps each replaced file to the sidecar refs its entry carried at
    * scan time; files absent from the map are not validated (legacy
    * callers). */
  private def validateReplacedDeletes(tableDir: String, operation: String,
      parent: Option[Snapshot],
      scannedDeletes: Map[String, Seq[String]]): Unit = {
    if (scannedDeletes.isEmpty) return
    val pe = parent.map(_.entriesByName)
      .getOrElse(Map.empty[String, FileEntry])
    scannedDeletes.foreach { case (f, dels) =>
      val cur = pe.get(f).map(_.deletes).getOrElse(Seq.empty)
      if (cur != dels)
        throw new java.util.ConcurrentModificationException(
          s"$operation on $tableDir: input file $f's delete sidecars " +
            s"changed since the operation's scan (scanned " +
            s"[${dels.mkString(",")}], now [${cur.mkString(",")}]); " +
            "the rewritten output would resurrect freshly deleted " +
            "rows — recompute against the current snapshot and retry")
    }
  }

  /** The table's EQUALITY-delete sidecar set must be unchanged since
    * the rewriter's scan — the conflict validation for VALUE-CHANGING
    * rewrites (UPDATE/MERGE), where sequence-number inheritance is
    * UNSOUND: the rewritten rows carry NEW values, and inheriting an
    * old seq would let a pre-existing key sidecar retract them (an
    * UPDATE setting k=5 under a live {k=5} delete would vanish).
    * Value-preserving rewrites (DELETE survivors, OPTIMIZE) use
    * inheritance instead and pass None here. Iceberg makes the same
    * split: compaction inherits sequence numbers, row-level updates
    * validate conflicts. */
  private def validateEqSetUnchanged(tableDir: String, operation: String,
      parent: Option[Snapshot],
      scannedEqNames: Option[Set[String]]): Unit =
    scannedEqNames.foreach { scanned =>
      val cur = parent.map(_.eqDeletes.map(_.name).toSet)
        .getOrElse(Set.empty[String])
      if (cur != scanned)
        throw new java.util.ConcurrentModificationException(
          s"$operation on $tableDir: the table's equality-delete set " +
            s"changed since the operation's scan (scanned " +
            s"[${scanned.mkString(",")}], now [${cur.mkString(",")}]); " +
            "rerun the statement against the current snapshot")
    }

  /** Commit a MERGE-ON-READ row-level delete (Iceberg v2's position
    * deletes): the file set is UNCHANGED; each targeted data file's
    * entry gains a reference to a position-delete sidecar (a parquet
    * of (file, pos) rows in the table dir) that readers of this and
    * later snapshots must apply. Write amplification is O(|deleted
    * rows|) instead of COW's O(|affected files|) — the shape a
    * frequent-small-DELETE workload needs at 100 TB. Targets that a
    * concurrent commit rewrote fail with
    * [[java.util.ConcurrentModificationException]] (the positions
    * were computed against stale bytes). Earlier snapshots never see
    * the sidecar: time travel to the pre-delete version reads the
    * rows. OPTIMIZE purges sidecars by rewriting their files. */
  def commitAttachDeletes(tableDir: String, operation: String,
      attach: Map[String, Seq[String]]): Snapshot =
    commitWith(tableDir, operation, attachDeletes = attach)(parent =>
      (parent.map(_.files.toSet).getOrElse(listDataFiles(tableDir).toSet),
        parent.flatMap(_.schemaFile)))

  /** Commit a MERGE-ON-READ row-level UPDATE / MERGE (a POSITION
    * DELTA, Iceberg v2's delta writes): in ONE snapshot, `attach`
    * position-delete sidecars retract the old versions of the touched
    * rows from their (still live) data files, and `added` ordinary
    * data files append the new versions — O(changed rows) write
    * amplification instead of COW's O(affected files). Targets a
    * concurrent commit rewrote fail with
    * [[java.util.ConcurrentModificationException]] (inside
    * [[commitWith]]'s attach validation — positions were computed
    * against stale bytes). `scannedVersion` ≥ 0 additionally
    * validates, SERIALIZABLE-style, that no file appended since the
    * operation's scan conflicts (`conflictsWith`, as in
    * [[commitRewriteSerializable]]). */
  def commitDelta(tableDir: String, operation: String,
      attach: Map[String, Seq[String]], added: Seq[String],
      addedParts: Map[String, Map[String, String]] = Map.empty,
      scannedVersion: Long = -1L,
      conflictsWith: Seq[String] => Seq[String] = identity): Snapshot = {
    val scannedFiles =
      if (scannedVersion < 0) Set.empty[String]
      else read(tableDir, scannedVersion).files.toSet
    commitWith(tableDir, operation, addedParts, attachDeletes = attach) {
      parent =>
        val parentFiles = parent.map(_.files.toSet)
          .getOrElse(listDataFiles(tableDir).toSet)
        if (scannedVersion >= 0) {
          val addedSinceScan =
            (parentFiles -- scannedFiles -- added).toSeq.sorted
          val conflicting =
            if (addedSinceScan.isEmpty) Seq.empty
            else conflictsWith(addedSinceScan)
          if (conflicting.nonEmpty)
            throw new java.util.ConcurrentModificationException(
              s"$operation on $tableDir (serializable): " +
                s"${conflicting.size} file(s) appended after the " +
                s"operation's scan (v$scannedVersion) contain rows the " +
                s"operation's predicate matches (e.g. " +
                s"${conflicting.head}); rerun the statement against " +
                "the current snapshot")
        }
        (parentFiles ++ added, parent.flatMap(_.schemaFile))
    }
  }

  /** Commit a KEYED UPSERT (Iceberg v2's equality deletes): in ONE
    * snapshot, `added` data files append the new row versions and
    * `eqDeleteFile` (a parquet in the table dir whose columns are the
    * equality key) retracts EVERY earlier row with a matching key —
    * from all files with a smaller data sequence number, whichever
    * files those are, WITHOUT reading any of them. This is the CDC
    * write half: O(changed rows) bytes written per commit, zero
    * target reads (position deltas must first scan the target to
    * locate victims; equality deletes name them by value). The
    * added files carry seq = this commit's version, the sidecar the
    * same seq, and `>` is strict — so the batch's own re-inserted
    * rows survive their own retraction. Readers of this and later
    * snapshots apply the sidecar; time travel to earlier versions
    * still reads the old rows; OPTIMIZE purges by rewriting.
    *
    * Incremental/streaming readers see upsert snapshots as plain
    * appends (the new row versions) — retractions travel only
    * through the change feed, matching Iceberg's incremental
    * append-scan semantics. */
  def commitUpsert(tableDir: String, operation: String,
      added: Seq[String], eqDeleteFile: Option[String],
      addedParts: Map[String, Map[String, String]] = Map.empty): Snapshot =
    commitWith(tableDir, operation, addedParts,
      mkEqDeletes = (parent, next) =>
        parent.map(_.eqDeletes).getOrElse(Seq.empty) ++
          eqDeleteFile.map(EqDelete(_, next)))(parent =>
      (parent.map(_.files.toSet).getOrElse(listDataFiles(tableDir).toSet)
        ++ added,
        parent.flatMap(_.schemaFile)))

  /** Schema sidecar I/O: sidecars live in the log dir under
    * uuid-unique names, so a racing evolution can never overwrite the
    * file a winning manifest references — the loser's orphan is just
    * garbage. Returns the sidecar's name for the manifest. */
  def writeSchemaSidecar(tableDir: String, schemaJson: String): String = {
    val d = logDir(tableDir)
    Files.createDirectories(d)
    val name =
      s"schema-${java.util.UUID.randomUUID.toString.substring(0, 8)}.json"
    Files.writeString(d.resolve(name), schemaJson)
    name
  }

  def readSchemaSidecar(tableDir: String, name: String): String =
    Files.readString(logDir(tableDir).resolve(name))

  /** Names of every schema sidecar in the log dir — current,
    * historical, and orphaned race losers alike (the conservative
    * universe for field-id bookkeeping). */
  def listSchemaSidecars(tableDir: String): Seq[String] = {
    val d = logDir(tableDir)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d)
      try s.iterator.asScala.map(_.getFileName.toString)
        .filter(_.startsWith("schema-")).toSeq
      finally s.close()
    }
  }

  // ---- tags: named snapshot refs (Iceberg's TAG) ------------------
  //
  // A tag pins a VERSION under a stable name — "the table exactly as
  // model-X trained on it". Tags are immutable (creation is the same
  // hard-link CAS as manifests: second create of a name fails), and
  // VACUUM RETAINS tagged snapshots and their files past the
  // retainLast horizon — Iceberg's expire_snapshots keeps refs alive,
  // same contract. `VERSION AS OF 'name'` resolves through the tag.

  private val Tag = """tag-([A-Za-z0-9._-]+)\.json""".r

  /** Atomically create tag `name` → `version`. Fails if the name
    * exists (tags are immutable; drop first to move one) or the
    * version doesn't. */
  def createTag(tableDir: String, name: String, version: Long): Unit = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"tag name must be [A-Za-z0-9._-]+, got '$name'")
    // `VERSION AS OF x` tries snapshot numbers FIRST, so a pure-numeric
    // tag could never be resolved — refuse at creation, not lookup
    require(name.toLongOption.isEmpty,
      s"tag name must not be purely numeric ('$name' would be shadowed " +
        "by snapshot-version resolution in VERSION AS OF)")
    read(tableDir, version) // throws if the version doesn't exist
    val d = logDir(tableDir)
    Files.createDirectories(d)
    val tmp = d.resolve(s".tag-$name-${java.util.UUID.randomUUID}.tmp")
    Files.writeString(tmp, version.toString)
    try Files.createLink(d.resolve(s"tag-$name.json"), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalArgumentException(
          s"tag '$name' already exists on $tableDir (tags are " +
            "immutable; dropTag first to move it)")
    } finally Files.deleteIfExists(tmp)
  }

  def dropTag(tableDir: String, name: String): Boolean =
    Files.deleteIfExists(logDir(tableDir).resolve(s"tag-$name.json"))

  /** (tag name → version), all tags of the table. */
  def listTags(tableDir: String): Map[String, Long] = {
    val d = logDir(tableDir)
    if (!Files.isDirectory(d)) Map.empty
    else {
      val s = Files.list(d)
      try s.iterator.asScala.flatMap(p => p.getFileName.toString match {
        case Tag(n) => Some(n -> Files.readString(p).trim.toLong)
        case _ => None
      }).toMap
      finally s.close()
    }
  }

  def resolveTag(tableDir: String, name: String): Option[Long] =
    listTags(tableDir).get(name)

  /** Whether the dir has a snapshot log (i.e. is past the legacy
    * listing-only mode). */
  def enabled(tableDir: String): Boolean =
    currentVersion(tableDir).isDefined

  /** Commit a change only when the table already has a snapshot log —
    * the hook for writers that also serve plain (non-catalog) dirs. */
  def commitIfEnabled(tableDir: String, operation: String)(
      change: Set[String] => Set[String]): Unit =
    if (enabled(tableDir)) { commit(tableDir, operation)(change); () }

  /** Drop all but the last `retainLast` snapshots and delete data
    * files referenced by NONE of the retained ones. Returns the
    * deleted data-file names. Time travel to expired versions fails
    * afterwards — exactly Iceberg's `expire_snapshots` contract.
    *
    * Files referenced by an EXPIRED manifest are committed history
    * and delete immediately; files referenced by NO manifest at all
    * are either true orphans (crashed attempts, lost races) or the
    * visible half of an IN-FLIGHT commit (a sidecar/renamed file
    * written before its manifest CAS lands) — those delete only when
    * older than `orphanGraceMs` (Iceberg's orphan-removal age
    * threshold, same reasoning). */
  def vacuum(tableDir: String, retainLast: Int,
      orphanGraceMs: Long = 3600000L,
      branchMaxAgeMs: Long = Long.MaxValue,
      keepFromVersion: Option[Long] = None): Seq[String] = {
    require(retainLast >= 1, "must retain at least the current snapshot")
    val all = versions(tableDir)
    if (all.isEmpty) return Seq.empty
    // reap ABANDONED branches first (older than branchMaxAgeMs since
    // their last staged append): an undropped WAP branch would pin its
    // staged files forever; dropping it here lets them age out under
    // the orphan grace below like any dropped branch's
    BronzeBranches.expireStale(tableDir, branchMaxAgeMs)
    // TAGGED versions survive expiry regardless of age (Iceberg's
    // expire_snapshots keeps refs): the tag listing happens BEFORE
    // the manifest reads, so a tag created mid-vacuum protects either
    // fully (seen here) or not at all (its version was already doomed
    // when the tag landed — the documented race, same as Iceberg's)
    val tagged = listTags(tableDir).values.toSet
    // files staged on LIVE BRANCHES (write-audit-publish in flight)
    // are referenced only by branch-log snapshots — read the branch
    // refs BEFORE the candidate listing, same protection order as
    // tags: a branch created mid-vacuum stages under fresh names the
    // listing below never saw
    val branchReferenced = BronzeBranches.referencedFiles(tableDir)
    // expiry predicate: positional horizon (retain-last) or an
    // explicit VERSION FLOOR (expireSnapshots' time cutoff resolved
    // to a version — race-safe: a commit landing between the
    // caller's listing and this one only ADDS versions above the
    // floor, which are never expired; a positional horizon would
    // shift under it). Either way the current snapshot survives.
    val horizon = all.size - retainLast
    val expires: ((Long, Int)) => Boolean = keepFromVersion match {
      case Some(k) => { case (v, _) => v < math.min(k, all.last) }
      case None => { case (_, i) => i < horizon }
    }
    val (expired, retained) = all.zipWithIndex.partition {
      case (v, i) => expires((v, i)) && !tagged.contains(v)
    } match { case (e, r) => (e.map(_._1), r.map(_._1)) }
    // List candidates BEFORE reading the retained manifests: a commit
    // racing with the vacuum adds files under fresh names (not in this
    // listing -> untouched) referencing only parent files (in a
    // retained manifest -> kept).
    val candidates = listDataFiles(tableDir)
    // schema-sidecar and manifest-segment candidates under the same
    // discipline (list BEFORE reading retained manifests)
    val d = logDir(tableDir)
    def logFiles(prefix: String): Seq[String] =
      if (!Files.isDirectory(d)) Seq.empty[String]
      else {
        val s = Files.list(d)
        try s.iterator.asScala.map(_.getFileName.toString)
          .filter(_.startsWith(prefix)).toSeq
        finally s.close()
      }
    val sidecarCandidates = logFiles("schema-")
    val segmentCandidates = logFiles("m-")
    // position-delete sidecars live in the TABLE dir (del-*.parquet,
    // invisible to listDataFiles) — same listing-before-reads rule
    val tableEntries = {
      val s = Files.list(Paths.get(tableDir))
      try s.iterator.asScala.map(_.getFileName.toString).toSeq
      finally s.close()
    }
    val deleteFileCandidates = tableEntries.filter(n =>
      (n.startsWith("del-") || n.startsWith("eqdel-")) &&
        n.endsWith(".parquet"))
    val expiredSnaps = expired.map(read(tableDir, _))
    val retainedSnaps = retained.map(read(tableDir, _))
    val referenced = retainedSnaps.flatMap(_.files).toSet ++ branchReferenced
    val expiredReferenced = expiredSnaps.flatMap(_.files).toSet
    // Age is measured in the FILESYSTEM's clock domain: a probe file
    // written now supplies the "now" reference, so a skew between
    // wall-clock and FS timestamps can never age-qualify a fresh
    // in-flight file. The wall-clock min() is a second safety clamp —
    // whichever clock reads EARLIER wins, and an early "now" only
    // protects files longer (premature delete is the one unsafe
    // direction; extra retention is always safe).
    val nowRef: Long = {
      val probe = Files.createTempFile(d, ".vacuum-probe-", "")
      try math.min(System.currentTimeMillis(),
        Files.getLastModifiedTime(probe).toMillis)
      finally Files.deleteIfExists(probe)
    }
    def oldEnough(p: Path): Boolean =
      try nowRef - Files.getLastModifiedTime(p).toMillis > orphanGraceMs
      catch { case _: java.io.IOException => false }
    val doomed = candidates.filterNot(referenced.contains)
      .filter(f => expiredReferenced.contains(f) ||
        oldEnough(Paths.get(tableDir, f)))
    doomed.foreach(f => Files.deleteIfExists(Paths.get(tableDir, f)))
    expired.foreach(v =>
      Files.deleteIfExists(logDir(tableDir).resolve(s"v$v.json")))
    // sidecars referenced by NO retained manifest: expired pins delete
    // now; unreferenced ones (lost races OR an in-flight alter that
    // wrote its sidecar but hasn't CAS-committed yet) age-guard
    val keptSchemas = retainedSnaps.flatMap(_.schemaFile).toSet
    val expiredSchemas = expiredSnaps.flatMap(_.schemaFile).toSet
    sidecarCandidates.filterNot(keptSchemas.contains)
      .filter(f => expiredSchemas.contains(f) || oldEnough(d.resolve(f)))
      .foreach(f => Files.deleteIfExists(d.resolve(f)))
    // manifest segments: shared across snapshots, so delete only when
    // referenced by NO retained manifest — expired-only references go
    // now, unreferenced orphans (CAS-race losers, in-flight commits)
    // age-guard exactly like data files and sidecars
    val keptSegs = retainedSnaps.flatMap(_.segments.map(_.name)).toSet
    val expiredSegs = expiredSnaps.flatMap(_.segments.map(_.name)).toSet
    segmentCandidates.filterNot(keptSegs.contains)
      .filter(f => expiredSegs.contains(f) || oldEnough(d.resolve(f)))
      .foreach(f => Files.deleteIfExists(d.resolve(f)))
    // position-delete sidecars under the same rule: kept while ANY
    // retained snapshot's entries reference them (compaction drops the
    // references; the bytes then age out or go with their expired
    // snapshots)
    val keptDels = retainedSnaps.flatMap(s =>
      s.entries.flatMap(_.deletes) ++ s.eqDeletes.map(_.name)).toSet
    val expiredDels = expiredSnaps.flatMap(s =>
      s.entries.flatMap(_.deletes) ++ s.eqDeletes.map(_.name)).toSet
    deleteFileCandidates.filterNot(keptDels.contains)
      .filter(f => expiredDels.contains(f) ||
        oldEnough(Paths.get(tableDir, f)))
      .foreach(f => Files.deleteIfExists(Paths.get(tableDir, f)))
    // checksum debris: Hadoop's local FileSystem wrote a hidden
    // `.<name>.parquet.crc` next to every data file and delete sidecar
    // it wrote, and the commit's move left it behind. Reaped once its
    // `<name>.parquet` is gone, under the same age guard.
    tableEntries.collect {
      case n @ ChecksumDebris(data)
          if !Files.exists(Paths.get(tableDir, data)) &&
            oldEnough(Paths.get(tableDir, n)) => n
    }.foreach(n => Files.deleteIfExists(Paths.get(tableDir, n)))
    doomed
  }

  /** Iceberg's `expire_snapshots(older_than => ts)` twin: expire every
    * snapshot committed STRICTLY BEFORE `olderThanMicros`, always
    * retaining the current snapshot, every TAGGED version, and live
    * branch state (all via [[vacuum]]'s machinery — this is the
    * time-based front-end to the same expiry). Commit timestamps are
    * monotone in version order (single log dir, CAS-serialized
    * commits), so the age predicate resolves to a VERSION FLOOR —
    * the first version at/after the cutoff. The floor, not a
    * retain-last count, is what vacuum enforces: a commit racing in
    * between this listing and vacuum's own only adds versions ABOVE
    * the floor (never expired), where a positional horizon would
    * shift under it and expire a snapshot committed after the
    * cutoff. One manifest read per version (metadata-scale), then
    * one vacuum. Returns the deleted data-file names. */
  def expireSnapshots(tableDir: String, olderThanMicros: Long,
      orphanGraceMs: Long = 3600000L,
      branchMaxAgeMs: Long = Long.MaxValue): Seq[String] = {
    val all = versions(tableDir)
    if (all.isEmpty) return Seq.empty
    val keepFrom = all.find(v =>
      read(tableDir, v).timestampMicros >= olderThanMicros)
      .getOrElse(all.last) // everything older: retain only current
    vacuum(tableDir, retainLast = 1, orphanGraceMs, branchMaxAgeMs,
      keepFromVersion = Some(keepFrom))
  }

  /** Data files APPENDED between two snapshots — the incremental-scan
    * primitive (Iceberg's `incremental read`): a nightly consumer
    * remembers the version it last processed and reads only what
    * arrived since, never rescanning the table. Walks every snapshot
    * in (fromVersion, toVersion]; REPLACE snapshots (compaction) and
    * DELETE snapshots (copy-on-write row deletes) rewrite old rows
    * under new names, so crossing one would re-emit consumed data —
    * refused, exactly Iceberg's behavior. */
  def appendedFilesBetween(tableDir: String, fromVersion: Long,
      toVersion: Long): Seq[String] = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    // vacuum + tag retention can expire INTERIOR versions (a tagged
    // island below the horizon); an expired version's operation kind
    // is unknown, so crossing the gap could silently re-emit
    // rewritten rows — refuse with the retained set
    val have = versions(tableDir).toSet
    (fromVersion to toVersion).find(v => !have.contains(v)).foreach { v =>
      throw new IllegalArgumentException(
        s"incremental read v$fromVersion..v$toVersion: snapshot v$v " +
          "was vacuum-expired; restart from a retained contiguous " +
          s"version (retained: ${have.toSeq.sorted.mkString(", ")})")
    }
    val from = read(tableDir, fromVersion).files.toSet
    ((fromVersion + 1) to toVersion).foreach { v =>
      val op = read(tableDir, v).operation
      if (rewritesRows(op)) throw new IllegalArgumentException(
        s"incremental read v$fromVersion..v$toVersion crosses a " +
          s"${op.toUpperCase} snapshot (v$v): rewritten files interleave " +
          "old and new rows; consume up to it, then restart from it")
    }
    read(tableDir, toVersion).files.filterNot(from.contains)
  }

  /** Operations whose snapshot rewrites existing rows under new file
    * names (vs pure appends) — the ones incremental readers must not
    * silently cross. A rollback re-exposes previously-removed rows,
    * which is the same hazard. */
  def rewritesRows(operation: String): Boolean =
    operation == "replace" || operation == "delete" ||
      operation == "update" || operation == "merge" ||
      operation == "rollback"

  /** ROLLBACK to an earlier snapshot — Iceberg's
    * `rollback_to_snapshot`: commits a NEW snapshot whose file set
    * AND schema pin are the target version's, so the bad commits stay
    * in history (auditable, time-travelable until vacuumed) while the
    * table's current state steps back — the bad-ingest recovery verb.
    * The restored files are referenced by the new head, so vacuum
    * retains them exactly like any live snapshot's. */
  def rollback(tableDir: String, toVersion: Long): Snapshot = {
    val target = read(tableDir, toVersion) // throws if expired/absent
    val cur = currentVersion(tableDir).getOrElse(-1L)
    require(toVersion < cur,
      s"rollback target v$toVersion is not before the current v$cur")
    // the target's entries ride along as hints: restored files keep
    // their original stats/partition metadata without a re-scrape;
    // the EQUALITY-DELETE list is restored too (entries keep their
    // original seqs, so rolling back across an upsert un-applies it)
    commitWith(tableDir, "rollback", entryHints = target.entriesByName,
      mkEqDeletes = (_, _) => target.eqDeletes)(_ =>
      (target.files.toSet, target.schemaFile))
  }

  // ---- manifest rendering / parsing (format owned by this object) --
  //
  // Two snapshot-manifest formats coexist:
  //   v1 (legacy): {"version":N,...,"files":["a.parquet",...]} — the
  //     COMPLETE file list inline. Still parsed forever; still written
  //     when a commit carries no entry metadata at all.
  //   v2: {"version":N,...,"manifests":["m-<uuid>.json",...]} — the
  //     file list lives in SHARED segment files holding per-file
  //     stats; unchanged segments are reused across snapshots, so at
  //     millions of files a commit writes O(delta) manifest bytes,
  //     not O(table) (the Iceberg manifest-list shape).

  private def render(s: Snapshot): String =
    s"""{"version":${s.version},"timestampMicros":${s.timestampMicros},""" +
      s""""operation":"${s.operation}",""" +
      s.schemaFile.map(f => s""""schemaFile":"$f",""").getOrElse("") +
      (if (s.eqDeletes.nonEmpty)
        s""""eqdels":[${s.eqDeletes.map(d =>
          s"""{"f":"${d.name}","s":${d.seq}}""").mkString(",")}],"""
      else "") +
      (if (s.segments.nonEmpty)
        s""""manifests":[${s.segments.map("\"" + _.name + "\"")
          .mkString(",")}]}"""
      else
        s""""files":[${s.files.map("\"" + _ + "\"").mkString(",")}]}""")

  private def parse(tableDir: String, json: String): Snapshot = {
    def long(key: String): Long =
      s""""$key":(\\d+)""".r.findFirstMatchIn(json)
        .getOrElse(throw new IllegalStateException(s"bad manifest: $json"))
        .group(1).toLong
    val op = """"operation":"([^"]*)"""".r.findFirstMatchIn(json)
      .map(_.group(1)).getOrElse("append")
    val schemaFile = """"schemaFile":"([^"]*)"""".r.findFirstMatchIn(json)
      .map(_.group(1))
    val manifests = """"manifests":\[([^\]]*)\]""".r.findFirstMatchIn(json)
      .map(_.group(1))
    val eqdels = """"eqdels":\[(.*?)\]""".r.findFirstMatchIn(json)
      .map(_.group(1)).filter(_.nonEmpty).toSeq.flatMap { list =>
        """\{"f":"([^"]+)","s":(\d+)\}""".r.findAllMatchIn(list)
          .map(m => EqDelete(m.group(1), m.group(2).toLong)).toSeq
      }
    manifests match {
      case Some(list) =>
        val segNames =
          if (list.isEmpty) Seq.empty[String]
          else list.split(",").toSeq
            .map(_.trim.stripPrefix("\"").stripSuffix("\""))
        val segs = segNames.map(readSegment(tableDir, _))
        Snapshot(long("version"), long("timestampMicros"), op,
          segs.flatMap(_.entries.map(_.name)).sorted, schemaFile, segs,
          eqdels)
      case None =>
        val files = """"files":\[([^\]]*)\]""".r.findFirstMatchIn(json)
          .map(_.group(1)).getOrElse("")
        val names =
          if (files.isEmpty) Seq.empty[String]
          else files.split(",").toSeq
            .map(_.trim.stripPrefix("\"").stripSuffix("\""))
        Snapshot(long("version"), long("timestampMicros"), op, names,
          schemaFile, Seq.empty, eqdels)
    }
  }

  // ---- manifest segment IO (Jackson: entries carry nested stats) ---

  private def readSegment(tableDir: String, name: String): ManifestSegment = {
    val root = mapper.readTree(
      Files.readString(logDir(tableDir).resolve(name)))
    val entries = root.get("entries").elements.asScala.map { e =>
      def optLong(k: String): Option[Long] =
        Option(e.get(k)).map(_.asLong())
      val parts = Option(e.get("parts")).map { p =>
        p.properties().asScala.map(kv => kv.getKey -> kv.getValue.asText())
          .toMap
      }.getOrElse(Map.empty[String, String])
      val stats = Option(e.get("stats")).map { s =>
        s.properties().asScala.map { kv =>
          val v = kv.getValue
          kv.getKey -> ColStats(
            Option(v.get("t")).map(_.asText()).getOrElse(""),
            Option(v.get("min")).map(_.asText()),
            Option(v.get("max")).map(_.asText()),
            Option(v.get("n")).map(_.asLong()),
            Option(v.get("id")).map(_.asLong()))
        }.toMap
      }.getOrElse(Map.empty[String, ColStats])
      val dels = Option(e.get("del")).map(_.elements().asScala
        .map(_.asText()).toSeq).getOrElse(Seq.empty)
      FileEntry(e.get("f").asText(), optLong("rows"), optLong("bytes"),
        parts, stats, dels, optLong("seq"), optLong("mtime"))
    }.toSeq
    ManifestSegment(name, entries)
  }

  /** Write `entries` as a fresh uuid-named segment (same discipline as
    * schema sidecars: unique names, losers of a CAS race are orphans
    * for vacuum's age guard). Returns the segment. */
  private def writeSegment(tableDir: String,
      entries: Seq[FileEntry]): ManifestSegment = {
    val d = logDir(tableDir)
    Files.createDirectories(d)
    val root = mapper.createObjectNode()
    val arr = root.putArray("entries")
    entries.sortBy(_.name).foreach { e =>
      val n = arr.addObject()
      n.put("f", e.name)
      e.rows.foreach(n.put("rows", _))
      e.bytes.foreach(n.put("bytes", _))
      e.mtime.foreach(n.put("mtime", _))
      if (e.parts.nonEmpty) {
        val p = n.putObject("parts")
        e.parts.toSeq.sortBy(_._1).foreach { case (k, v) => p.put(k, v) }
      }
      if (e.stats.nonEmpty) {
        val s = n.putObject("stats")
        e.stats.toSeq.sortBy(_._1).foreach { case (k, cs) =>
          val c = s.putObject(k)
          c.put("t", cs.typ)
          cs.min.foreach(c.put("min", _))
          cs.max.foreach(c.put("max", _))
          cs.nulls.foreach(c.put("n", _))
          cs.fieldId.foreach(c.put("id", _))
        }
      }
      if (e.deletes.nonEmpty) {
        val d = n.putArray("del")
        e.deletes.sorted.foreach(d.add)
      }
      e.seq.foreach(n.put("seq", _))
    }
    val name = s"m-${java.util.UUID.randomUUID.toString.substring(0, 13)}.json"
    Files.writeString(d.resolve(name), mapper.writeValueAsString(root))
    ManifestSegment(name, entries.sortBy(_.name))
  }

  // ---- footer-stats scraping (commit-time, added files only) -------

  /** Build a [[FileEntry]] for one data file by reading its parquet
    * FOOTER (no data pages; O(1) metadata read per ADDED file — the
    * same cost class as Iceberg writing manifest stats), plus one
    * stat for its size and mtime. Files that are not readable parquet (crash debris a test plants, or a
    * foreign format) yield a bare name-only entry — never an error,
    * never a pruning claim. */
  private[catalog] def scrapeEntry(tableDir: String, name: String,
      parts: Map[String, String]): FileEntry = {
    val p = Paths.get(tableDir, name)
    try {
      graft.Parquet.withParquetFooter(p.toString) { r =>
        val md = r.getFooter
        val schema = md.getFileMetaData.getSchema
        val blocks = md.getBlocks.asScala.toSeq
        val rows = blocks.map(_.getRowCount).sum
        // merge per-row-group chunk stats per top-level column
        final case class Acc(var lo: Any, var hi: Any, var nulls: Long,
          var minmaxOk: Boolean, var nullsOk: Boolean)
        val accs = scala.collection.mutable.LinkedHashMap[String, Acc]()
        val typs = scala.collection.mutable.Map[String, String]()
        val ids = scala.collection.mutable.Map[String, Long]()
        for (b <- blocks; c <- b.getColumns.asScala) {
          if (c.getPath.size == 1) {
            val col = c.getPath.toDotString
            statDomain(c) match {
              case None => accs.remove(col); typs.remove(col)
                typs(col) = "" // poison: mixed/unsupported — no bounds
              case Some(t) if typs.getOrElse(col, t) != t =>
                accs.remove(col); typs(col) = ""
              case Some(t) =>
                typs(col) = t
                val acc = accs.getOrElseUpdate(col,
                  Acc(null, null, 0L, minmaxOk = true, nullsOk = true))
                val st = c.getStatistics
                if (st == null) { acc.minmaxOk = false; acc.nullsOk = false }
                else {
                  if (st.isNumNullsSet) acc.nulls += st.getNumNulls
                  else acc.nullsOk = false
                  if (st.hasNonNullValue) {
                    val (lo, hi) = statBounds(st, t)
                    if (lo == null) acc.minmaxOk = false
                    else {
                      if (acc.lo == null || cmp(t, lo, acc.lo) < 0)
                        acc.lo = lo
                      if (acc.hi == null || cmp(t, hi, acc.hi) > 0)
                        acc.hi = hi
                    }
                  } else if (!(st.isNumNullsSet &&
                      st.getNumNulls == b.getRowCount)) {
                    // not provably all-null: values unknown
                    acc.minmaxOk = false
                  }
                }
            }
          }
        }
        schema.getFields.asScala.foreach { f =>
          if (f.getId != null) ids(f.getName.toLowerCase) = f.getId.intValue()
        }
        val stats = accs.flatMap { case (col, a) =>
          val t = typs.getOrElse(col, "")
          if (t.isEmpty || (!a.minmaxOk && !a.nullsOk)) None
          else Some(col.toLowerCase -> ColStats(t,
            if (a.minmaxOk && a.lo != null) Some(a.lo.toString) else None,
            if (a.minmaxOk && a.hi != null) Some(a.hi.toString) else None,
            if (a.nullsOk) Some(a.nulls) else None,
            ids.get(col.toLowerCase)))
        }.toMap
        val attrs = Files.readAttributes(p,
          classOf[java.nio.file.attribute.BasicFileAttributes])
        FileEntry(name, Some(rows), Some(attrs.size), parts, stats,
          mtime = Some(attrs.lastModifiedTime.toMillis))
      }
    } catch {
      case _: Throwable => FileEntry(name, parts = parts)
    }
  }

  /** The comparable stat domain of a column chunk: l(ong) for
    * int32/int64/date/micro-timestamps, d(ouble) for float/double,
    * s(tring) for utf8 — None for everything else (no pruning). */
  private def statDomain(
      c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData)
      : Option[String] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val pt = c.getPrimitiveType
    val lt = pt.getLogicalTypeAnnotation
    pt.getPrimitiveTypeName match {
      case _ if lt.isInstanceOf[
        LogicalTypeAnnotation.DecimalLogicalTypeAnnotation] => None
      case INT32 => Some("l")
      case INT64 => lt match {
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
          if ts.getUnit !=
            LogicalTypeAnnotation.TimeUnit.MICROS => None
        case _ => Some("l")
      }
      case FLOAT | DOUBLE => Some("d")
      case BINARY if lt.isInstanceOf[
        LogicalTypeAnnotation.StringLogicalTypeAnnotation] => Some("s")
      case _ => None
    }
  }

  /** (min, max) of one chunk's statistics in the given domain; (null,
    * null) when unusable (e.g. an over-long string — footer bounds may
    * be truncated by writers, so long strings are never trusted). */
  private def statBounds(st: org.apache.parquet.column.statistics.Statistics[_],
      t: String): (Any, Any) = t match {
    case "l" => (st.genericGetMin, st.genericGetMax) match {
      case (a: java.lang.Integer, b: java.lang.Integer) =>
        (a.longValue: java.lang.Long, b.longValue: java.lang.Long)
      case (a: java.lang.Long, b: java.lang.Long) => (a, b)
      case _ => (null, null)
    }
    case "d" => (st.genericGetMin, st.genericGetMax) match {
      case (a: java.lang.Float, b: java.lang.Float) =>
        (a.doubleValue: java.lang.Double, b.doubleValue: java.lang.Double)
      case (a: java.lang.Double, b: java.lang.Double) => (a, b)
      case _ => (null, null)
    }
    case "s" => (st.genericGetMin, st.genericGetMax) match {
      case (a: org.apache.parquet.io.api.Binary,
            b: org.apache.parquet.io.api.Binary) =>
        val (sa, sb) = (a.toStringUsingUTF8, b.toStringUsingUTF8)
        if (sa.length <= 128 && sb.length <= 128) (sa, sb) else (null, null)
      case _ => (null, null)
    }
    case _ => (null, null)
  }

  private def cmp(t: String, a: Any, b: Any): Int = t match {
    case "l" => java.lang.Long.compare(a.asInstanceOf[Long],
      b.asInstanceOf[Long])
    case "d" => java.lang.Double.compare(a.asInstanceOf[Double],
      b.asInstanceOf[Double])
    case _ => a.asInstanceOf[String].compareTo(b.asInstanceOf[String])
  }

  /** Physically rewrite groups of small files into one file each and
    * commit the result as a REPLACE snapshot — Iceberg's
    * `rewrite_data_files` (OPTIMIZE/compaction). Files are greedily
    * binned in name order until a bin reaches `targetBytes`; only
    * bins of >= 2 files rewrite. Old versions still read the original
    * small files until vacuumed. Returns (filesCompacted,
    * filesCreated).
    *
    * The rewrite reads NEVER use single-footer schema inference:
    * after ADD COLUMN a bin can mix pre- and post-evolution files,
    * and letting Spark infer from one file's footer would silently
    * drop the new column from the rewritten file — permanent data
    * loss once vacuum reaps the originals. The schema is resolved
    * HERE, from the table's own state (no caller can forget to pass
    * it): the snapshot's pinned schema sidecar when present (catalog
    * tables — Iceberg's `rewrite_data_files` always writes the table
    * schema), else the UNION of every footer in the table
    * (`mergeSchema`), which can widen but never drop a column.
    * Compaction changes LAYOUT, never data. */
  def optimize(spark: org.apache.spark.sql.SparkSession, tableDir: String,
      targetBytes: Long): (Int, Int) = {
    val snap = current(tableDir).getOrElse(
      throw new IllegalArgumentException(
        s"optimize requires a snapshot-logged table: $tableDir"))
    val pinnedSchema: Option[org.apache.spark.sql.types.StructType] =
      snap.schemaFile.map { name =>
        org.apache.spark.sql.types.DataType
          .fromJson(readSchemaSidecar(tableDir, name))
          .asInstanceOf[org.apache.spark.sql.types.StructType]
      }
    val entryByName = snap.entriesByName
    // files bin WITHIN their partition tuple (merging across tuples
    // would orphan the per-file partition values pruning relies on);
    // unpartitioned entries share the empty tuple — the old behavior
    val byPart: Seq[(Map[String, String], Seq[FileEntry])] =
      snap.entries.groupBy(_.parts).toSeq
        .sortBy(_._1.toSeq.sorted.mkString(","))
    val toCompactParts = byPart.flatMap { case (parts, entries) =>
      val sizes = entries.sortBy(_.name).map(e =>
        e.name -> e.bytes.getOrElse(Files.size(Paths.get(tableDir, e.name))))
      // greedy first-fit in name order: deterministic, no global sort
      val bins = Seq.newBuilder[Seq[String]]
      var bin = Seq.empty[String]; var binBytes = 0L
      sizes.foreach { case (f, sz) =>
        if (bin.nonEmpty && binBytes + sz > targetBytes) {
          bins += bin; bin = Seq.empty; binBytes = 0L
        }
        bin :+= f; binBytes += sz
      }
      if (bin.nonEmpty) bins += bin
      // a bin rewrites when it MERGES small files — or when any of its
      // files carries merge-on-read position deletes or is subject to
      // an EQUALITY delete: compaction is what PURGES delete sidecars
      // (positions and keys applied below, fresh entries carry no
      // refs and a fresh seq), returning the table to the vectorized
      // scan path
      bins.result().filter(bin => bin.size >= 2 ||
        bin.exists(f => entryByName.get(f).exists(e =>
          e.deletes.nonEmpty || snap.eqDeletesFor(e).nonEmpty)))
        .map(parts -> _)
    }
    val toCompact = toCompactParts.map(_._2)
    if (toCompact.isEmpty) return (0, 0)
    // Pinned schemas carry parquet FIELD IDS (the RENAME mechanism):
    // a bin crossing a RENAME boundary holds files whose footers
    // still use the old name, and only id-based resolution reads
    // them correctly. Spark's parquet reader takes that switch from
    // the SESSION conf — mutating the caller's session would leak the
    // flip to concurrent queries (and two concurrent optimizes could
    // clobber each other's restore), so the rewrite runs in a CLONED
    // session: own SQLConf, shared SparkContext, nothing to restore.
    val needIds = pinnedSchema.exists(_.fields.exists(
      _.metadata.contains("parquet.field.id")))
    val rw = if (!needIds) spark else {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
      s2
    }
    val id = java.util.UUID.randomUUID().toString.substring(0, 8)
    val written = toCompact.zipWithIndex.map { case (group, i) =>
      val dest = s"part-opt-$id-g$i.parquet"
      val stage = Paths.get(tableDir, s".opt-$id-g$i")
      val groupEntries = group.flatMap(entryByName.get)
      val df =
        if (groupEntries.exists(e => e.deletes.nonEmpty ||
            snap.eqDeletesFor(e).nonEmpty)) {
          // merge-on-read purge: rewrite with positions AND equality
          // keys APPLIED, so the compacted file holds only live rows
          val sch = pinnedSchema.getOrElse(
            rw.read.option("mergeSchema", "true")
              .parquet(group.map(f => s"$tableDir/$f"): _*).schema)
          graft.catalog.BronzeMor.readWithDeletes(rw, tableDir, sch,
            groupEntries, snap.eqDeletes)
        } else pinnedSchema.fold(
          rw.read.option("mergeSchema", "true"))(rw.read.schema)
          .parquet(group.map(f => s"$tableDir/$f"): _*)
      df.coalesce(1).write.parquet(stage.toString)
      val partFile = {
        val s = Files.list(stage)
        try s.iterator.asScala
          .find(_.getFileName.toString.startsWith("part-"))
          .getOrElse(throw new IllegalStateException("empty compaction"))
        finally s.close()
      }
      Files.move(partFile, Paths.get(tableDir, dest),
        StandardCopyOption.ATOMIC_MOVE)
      graft.LocalFs.deleteTree(stage)
      dest
    }
    val replaced = toCompact.flatten.toSet
    // the compacted file inherits its bin's partition tuple
    val parts = written.zip(toCompactParts.map(_._1)).filter(_._2.nonEmpty)
      .toMap
    // sequence-number inheritance: each compacted file carries the
    // MAX seq of its inputs, so an equality delete committed
    // concurrently (seq between the scan and this commit) still
    // applies to the compacted rows instead of being outrun by them
    val seqHints = written.zip(toCompact).flatMap { case (dest, group) =>
      group.flatMap(f => entryByName.get(f).flatMap(_.seq))
        .maxOption.map(dest -> _)
    }.toMap
    // the equality deletes APPLIED in this rewrite are purged; ones a
    // concurrent commit added since the scan carry forward untouched
    val applied = snap.eqDeletes.toSet
    // rewrite-validated: a row-level op racing this compaction on the
    // same files fails one of the two loudly instead of resurrecting
    // deleted/stale rows through the compacted copy
    commitRewrite(tableDir, "replace", replaced, written, parts,
      mkEqDeletes = (parent, _) =>
        parent.map(_.eqDeletes).getOrElse(Seq.empty)
          .filterNot(applied.contains),
      seqHints = seqHints,
      // a MOR delete attaching a sidecar to an input AFTER this scan
      // lists rows the compacted output was computed without — the
      // position-delete twin of the eq race seqHints closes
      scannedDeletes = replaced.toSeq.map(f =>
        f -> entryByName.get(f).map(_.deletes).getOrElse(Seq.empty))
        .toMap)
    (replaced.size, written.size)
  }

  /** OPTIMIZE ZORDER — Iceberg's `rewrite_data_files` with a z-order
    * sort strategy: re-cluster every live file's rows along the
    * bit-interleaved z-value of the `zorderBy` columns and re-tile
    * them into ~`targetBytes` files, committed as the SAME layout-only
    * `replace` snapshot as bin-packing [[optimize]] (old versions keep
    * reading the originals until vacuum; the change feed emits
    * nothing; incremental readers refuse to cross it like any
    * compaction). Unlike bin-packing — which preserves row clustering
    * and only merges small files — this is the maintenance op that
    * RESTORES multi-dimensional data skipping on a table whose
    * ingest order scattered the clustered dimensions: after the
    * rewrite each file's manifest min/max box is narrow on EVERY
    * z dimension, so conjunctive predicates on any of them prune at
    * plan time (ZOrderOptimizeSpec measures the survivor drop).
    *
    * Mechanics: per PARTITION TUPLE independently (merging across
    * tuples would orphan the per-file partition values), each
    * dimension min/max-normalizes over the group's own bounds into
    * B = min(16, 62/dims) bits, the per-row z-value interleaves the
    * dimension bits, and file boundaries come from a RANGE
    * repartition on the z-value (sampled boundaries — layout-only,
    * so sampling nondeterminism is invisible to readers). Numeric,
    * date, and timestamp dimensions only. Merge-on-read sidecars
    * (positions and equality keys) are applied and purged, and
    * sequence-number inheritance + rewrite validation follow the
    * bin-packing path exactly. Cost: one full read + one range
    * shuffle of the live data — the nightly-maintenance price, paid
    * to move every later scan from O(files) to O(matching box).
    */
  def optimizeZOrder(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, targetBytes: Long,
      zorderBy: Seq[String]): (Int, Int) = {
    import org.apache.spark.sql.functions._
    require(zorderBy.nonEmpty, "optimizeZOrder needs >= 1 column")
    require(zorderBy.size <= 4, s"z-order supports <= 4 dims, got $zorderBy")
    val snap = current(tableDir).getOrElse(
      throw new IllegalArgumentException(
        s"optimize requires a snapshot-logged table: $tableDir"))
    if (snap.files.isEmpty) return (0, 0)
    val pinnedSchema: Option[org.apache.spark.sql.types.StructType] =
      snap.schemaFile.map { name =>
        org.apache.spark.sql.types.DataType
          .fromJson(readSchemaSidecar(tableDir, name))
          .asInstanceOf[org.apache.spark.sql.types.StructType]
      }
    val needIds = pinnedSchema.exists(_.fields.exists(
      _.metadata.contains("parquet.field.id")))
    val rw = if (!needIds) spark else {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
      s2
    }
    val entryByName = snap.entriesByName
    val byPart: Seq[(Map[String, String], Seq[FileEntry])] =
      snap.entries.groupBy(_.parts).toSeq
        .sortBy(_._1.toSeq.sorted.mkString(","))
    val bits = math.min(16, 62 / zorderBy.size)
    val maxBucket = (1L << bits) - 1
    val id = java.util.UUID.randomUUID().toString.substring(0, 8)
    val written = Seq.newBuilder[String]
    val addedParts = Map.newBuilder[String, Map[String, String]]
    val seqHints = Map.newBuilder[String, Long]
    byPart.zipWithIndex.foreach { case ((tuple, entries), gi) =>
      val group = entries.map(_.name).sorted
      val sch = pinnedSchema.getOrElse(
        rw.read.option("mergeSchema", "true")
          .parquet(group.map(f => s"$tableDir/$f"): _*).schema)
      // dimension -> a LONG-space image preserving the column's order
      def dimLong(c: String): org.apache.spark.sql.Column = {
        import org.apache.spark.sql.types._
        val f = sch.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"z-order column $c not in table schema"))
        f.dataType match {
          case ByteType | ShortType | IntegerType | LongType |
               FloatType | DoubleType => col(c).cast("double")
          case DateType => unix_date(col(c)).cast("double")
          case TimestampType | TimestampNTZType =>
            unix_micros(col(c).cast("timestamp")).cast("double")
          case other => throw new IllegalArgumentException(
            s"z-order on $c: unsupported type $other (numeric/date/" +
              "timestamp only)")
        }
      }
      val base =
        if (entries.exists(e => e.deletes.nonEmpty ||
            snap.eqDeletesFor(e).nonEmpty))
          graft.catalog.BronzeMor.readWithDeletes(rw, tableDir, sch,
            entries, snap.eqDeletes)
        else rw.read.schema(sch)
          .parquet(group.map(f => s"$tableDir/$f"): _*)
      val cached = base.cache()
      try {
        // group-local bounds (one small agg job over the cached rows)
        val aggs = zorderBy.flatMap(c =>
          Seq(min(dimLong(c)), max(dimLong(c))))
        val mmRow = cached.agg(aggs.head, aggs.tail: _*).head()
        val bucketCols = zorderBy.zipWithIndex.map { case (c, i) =>
          val (mnAny, mxAny) = (mmRow.get(2 * i), mmRow.get(2 * i + 1))
          if (mnAny == null || mxAny == null) lit(0L)
          else {
            val mn = mnAny.asInstanceOf[Double]
            val mx = mxAny.asInstanceOf[Double]
            if (mx <= mn) lit(0L)
            else least(greatest(floor(
              (dimLong(c) - lit(mn)) / lit(mx - mn) * lit(maxBucket.toDouble))
              .cast("long"), lit(0L)), lit(maxBucket))
          }
        }
        val zval = (0 until bits).flatMap { j =>
          bucketCols.zipWithIndex.map { case (b, i) =>
            (shiftrightunsigned(b, j) % 2) *
              lit(1L << (j * zorderBy.size + i))
          }
        }.reduce(_ + _)
        val groupBytes = entries.map(e => e.bytes.getOrElse(
          Files.size(Paths.get(tableDir, e.name)))).sum
        val nFiles = math.max(1L,
          (groupBytes + targetBytes - 1) / targetBytes).toInt
        val stage = Paths.get(tableDir, s".optz-$id-t$gi")
        try cached.withColumn("__gz", zval)
          .repartitionByRange(nFiles, col("__gz"))
          .sortWithinPartitions(col("__gz"))
          .drop("__gz")
          .write.parquet(stage.toString)
        catch { case e: Throwable =>
          try graft.LocalFs.deleteTree(stage)
          catch { case _: Throwable => () }
          throw e
        }
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
        val groupSeq = entries.flatMap(_.seq).maxOption
        parts.zipWithIndex.foreach { case (p, i) =>
          val dest = s"part-optz-$id-t$gi-p$i.parquet"
          Files.move(p, Paths.get(tableDir, dest),
            StandardCopyOption.ATOMIC_MOVE)
          written += dest
          if (tuple.nonEmpty) addedParts += dest -> tuple
          groupSeq.foreach(sq => seqHints += dest -> sq)
        }
        graft.LocalFs.deleteTree(stage)
      } finally cached.unpersist()
    }
    val replaced = snap.files.toSet
    val applied = snap.eqDeletes.toSet
    val adds = written.result()
    commitRewrite(tableDir, "replace", replaced, adds,
      addedParts.result(),
      mkEqDeletes = (parent, _) =>
        parent.map(_.eqDeletes).getOrElse(Seq.empty)
          .filterNot(applied.contains),
      seqHints = seqHints.result(),
      scannedDeletes = replaced.toSeq.map(f =>
        f -> entryByName.get(f).map(_.deletes).getOrElse(Seq.empty))
        .toMap)
    (replaced.size, adds.size)
  }
}
