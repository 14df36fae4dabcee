package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.catalog.SnapshotLog

/** Snapshot semantics on bronze catalog tables — the Iceberg
  * table-format behaviors the reference's sink relies on (one atomic
  * snapshot per commit; snapshot-isolated reads; `VERSION AS OF` /
  * `TIMESTAMP AS OF` time travel; `rewrite_data_files` compaction;
  * `expire_snapshots` vacuum), proven on the rebuilt catalog. */
class TimeTravelSpec extends SparkSpec {

  private lazy val warehouse: String = bronzeWarehouse

  private def bronzeCatalog: graft.catalog.BronzeCatalog = {
    warehouse
    spark.sessionState.catalogManager.catalog("bronze")
      .asInstanceOf[graft.catalog.BronzeCatalog]
  }

  private def mkTable(name: String): String = {
    warehouse // register the bronze catalog before any SQL names it
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS bronze.tt")
    spark.sql(s"DROP TABLE IF EXISTS bronze.tt.$name")
    spark.sql(
      s"CREATE TABLE bronze.tt.$name (id BIGINT, batch INT) USING parquet")
    bronzeCatalog.tableDir(Seq("tt"), name)
  }

  test("each INSERT is one snapshot; VERSION AS OF reads any of them") {
    val dir = mkTable("versions")
    (1 to 3).foreach { b =>
      spark.sql(
        s"INSERT INTO bronze.tt.versions SELECT id, $b FROM range(${b * 10})")
    }
    // v0 = create (empty), v1..v3 = the three appends
    assert(SnapshotLog.versions(dir) == Seq(0L, 1L, 2L, 3L))
    assert(spark.table("bronze.tt.versions").count() == 60)
    assert(spark.sql(
      "SELECT COUNT(*) FROM bronze.tt.versions VERSION AS OF 0")
      .head().getLong(0) == 0)
    assert(spark.sql(
      "SELECT COUNT(*) FROM bronze.tt.versions VERSION AS OF 1")
      .head().getLong(0) == 10)
    assert(spark.sql(
      "SELECT COUNT(*) FROM bronze.tt.versions VERSION AS OF 2")
      .head().getLong(0) == 30)
    // old version sees only its batches, not just fewer rows
    assert(spark.sql(
      "SELECT MAX(batch) FROM bronze.tt.versions VERSION AS OF 2")
      .head().getInt(0) == 2)
    intercept[Exception] {
      spark.sql("SELECT * FROM bronze.tt.versions VERSION AS OF 99").collect()
    }
  }

  test("TIMESTAMP AS OF resolves to the latest snapshot at or before") {
    val dir = mkTable("tstravel")
    spark.sql("INSERT INTO bronze.tt.tstravel SELECT id, 1 FROM range(5)")
    val afterFirst = SnapshotLog.read(dir, 1).timestampMicros
    spark.sql("INSERT INTO bronze.tt.tstravel SELECT id, 2 FROM range(5)")
    val t = java.time.Instant.ofEpochMilli(afterFirst / 1000)
      .toString.replace("T", " ").stripSuffix("Z")
    assert(spark.sql(
      s"SELECT COUNT(*) FROM bronze.tt.tstravel TIMESTAMP AS OF '$t'")
      .head().getLong(0) == 5)
  }

  test("reads are snapshot-isolated: a pinned load never sees later appends") {
    mkTable("isolation")
    spark.sql("INSERT INTO bronze.tt.isolation SELECT id, 1 FROM range(20)")
    val pinned = spark.table("bronze.tt.isolation") // resolves v1 now
    assert(pinned.count() == 20)
    spark.sql("INSERT INTO bronze.tt.isolation SELECT id, 2 FROM range(20)")
    // the already-resolved DataFrame re-executes against ITS snapshot
    assert(pinned.count() == 20)
    // a fresh resolution sees the new snapshot
    assert(spark.table("bronze.tt.isolation").count() == 40)
  }

  test("OPTIMIZE compacts small files as a REPLACE snapshot; history intact") {
    val dir = mkTable("compact")
    (1 to 4).foreach { b =>
      spark.sql(
        s"INSERT INTO bronze.tt.compact SELECT id, $b FROM range(${b}000)")
    }
    val before = SnapshotLog.current(dir).get
    assert(before.files.size >= 4)
    val (compacted, created) =
      bronzeCatalog.optimizeTable(Seq("tt"), "compact", 1L << 30)
    assert(compacted >= 4 && created == 1)
    val after = SnapshotLog.current(dir).get
    assert(after.operation == "replace" && after.files.size <
      before.files.size)
    // same data through the compacted layout …
    assert(spark.table("bronze.tt.compact").count() == 10000)
    assert(spark.table("bronze.tt.compact")
      .groupBy("batch").count().collect().map(_.getLong(1)).sorted.toSeq ==
      Seq(1000L, 2000L, 3000L, 4000L))
    // … and the PRE-compaction snapshot still reads the original files
    assert(spark.sql(
      s"SELECT COUNT(*) FROM bronze.tt.compact VERSION AS OF ${before.version}")
      .head().getLong(0) == 10000)
  }

  test("VACUUM deletes only unreferenced files; expired versions die") {
    val dir = mkTable("vac")
    (1 to 3).foreach { b =>
      spark.sql(s"INSERT INTO bronze.tt.vac SELECT id, $b FROM range(1000)")
    }
    val smalls = SnapshotLog.current(dir).get.files // pre-compaction set
    bronzeCatalog.optimizeTable(Seq("tt"), "vac", 1L << 30)
    val preVacFiles = SnapshotLog.listDataFiles(dir)
    val deleted = bronzeCatalog.vacuumTable(Seq("tt"), "vac", retainLast = 1)
    // exactly the small originals die, the compacted file survives
    assert(deleted.toSet == smalls.toSet)
    assert(SnapshotLog.listDataFiles(dir) ==
      preVacFiles.filterNot(deleted.contains))
    assert(SnapshotLog.versions(dir).size == 1)
    assert(spark.table("bronze.tt.vac").count() == 3000)
    intercept[Exception] { // expired version no longer time-travelable
      spark.sql("SELECT * FROM bronze.tt.vac VERSION AS OF 1").collect()
    }
  }

  test("expireSnapshots(olderThan) expires by commit timestamp, retains current") {
    val dir = mkTable("expirets")
    (1 to 3).foreach { b =>
      spark.sql(
        s"INSERT INTO bronze.tt.expirets SELECT id, $b FROM range(100)")
      Thread.sleep(3) // commit stamps are millis-derived; force strict order
    }
    val vs = SnapshotLog.versions(dir) // CREATE snapshot + 3 appends
    assert(vs.size == 4)
    val cut = SnapshotLog.read(dir, vs(2)).timestampMicros
    // strictly-older-than the 2nd append's commit: create + 1st expire
    SnapshotLog.expireSnapshots(dir, cut)
    assert(SnapshotLog.versions(dir) == vs.drop(2))
    // appended files carried forward by v2/v3 — data intact
    assert(spark.table("bronze.tt.expirets").count() == 300)
    // far-future cutoff: everything but the CURRENT snapshot expires
    SnapshotLog.expireSnapshots(dir, Long.MaxValue)
    assert(SnapshotLog.versions(dir) == Seq(vs.last))
    assert(spark.table("bronze.tt.expirets").count() == 300)
    intercept[Exception] {
      spark.sql(s"SELECT * FROM bronze.tt.expirets VERSION AS OF ${vs.head}")
        .collect()
    }
  }

  test("metadata tables: history tracks every op, files audits the layout") {
    val dir = mkTable("meta")
    spark.sql("INSERT INTO bronze.tt.meta SELECT id, 1 FROM range(10)")
    spark.sql("INSERT INTO bronze.tt.meta SELECT id, 2 FROM range(20)")
    spark.sql("DELETE FROM bronze.tt.meta WHERE batch = 1 AND id < 5")
    bronzeCatalog.optimizeTable(Seq("tt"), "meta", 1L << 30)
    val hist = bronzeCatalog.historyTable(Seq("tt"), "meta").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    assert(hist.toSeq == Seq(
      (0L, "create", 0L), (1L, "append", 10L), (2L, "append", 30L),
      (3L, "delete", 25L), (4L, "replace", 25L)))
    // files audit: per-file rows sum to the table count, sizes real
    val files = bronzeCatalog.filesTable(Seq("tt"), "meta").collect()
    assert(files.map(_.getLong(1)).sum == 25L)
    assert(files.forall(_.getLong(2) > 0L))
    assert(files.map(_.getString(0)).toSet ==
      SnapshotLog.current(dir).get.files.toSet)
    // a file reaped OUTSIDE the vacuum protocol: the affected
    // versions audit as n_rows NULL + missing_files > 0, never a
    // silent undercount
    val victim = SnapshotLog.read(dir, 1).files.head
    Files.delete(Paths.get(dir, victim))
    val hist2 = bronzeCatalog.historyTable(Seq("tt"), "meta").collect()
    val v1 = hist2.find(_.getLong(0) == 1L).get
    assert(v1.isNullAt(3) && v1.getInt(4) == 1)
    // the compacted current version no longer references the victim
    val v4 = hist2.find(_.getLong(0) == 4L).get
    assert(!v4.isNullAt(3) && v4.getLong(3) == 25L && v4.getInt(4) == 0)
  }

  test("VACUUM reaps schema sidecars pinned only by expired versions") {
    val dir = mkTable("vacschema")
    spark.sql("INSERT INTO bronze.tt.vacschema SELECT id, 1 FROM range(5)")
    spark.sql("ALTER TABLE bronze.tt.vacschema ADD COLUMN note STRING")
    spark.sql(
      "INSERT INTO bronze.tt.vacschema SELECT id, 2, 'x' FROM range(5)")
    def sidecars(): Set[String] = {
      val d = java.nio.file.Paths.get(dir, "_graft_snapshots")
      val s = Files.list(d)
      try s.iterator.asScala.map(_.getFileName.toString)
        .filter(_.startsWith("schema-")).toSet
      finally s.close()
    }
    assert(sidecars().size == 2) // create-time pin + the evolved pin
    bronzeCatalog.vacuumTable(Seq("tt"), "vacschema", retainLast = 1)
    // only the current (evolved) pin survives; reads stay intact
    val left = sidecars()
    assert(left.size == 1)
    assert(SnapshotLog.current(dir).get.schemaFile.contains(left.head))
    assert(spark.table("bronze.tt.vacschema").count() == 10)
    assert(spark.table("bronze.tt.vacschema").columns.toSeq ==
      Seq("id", "batch", "note"))
  }

  test("tags: named refs resolve in VERSION AS OF and survive vacuum") {
    val dir = mkTable("tags")
    spark.sql("INSERT INTO bronze.tt.tags SELECT id, 1 FROM range(10)")
    bronzeCatalog.tagTable(Seq("tt"), "tags", "run-2026w33", 1L)
    spark.sql("INSERT INTO bronze.tt.tags SELECT id, 2 FROM range(20)")
    spark.sql("INSERT INTO bronze.tt.tags SELECT id, 3 FROM range(5)")
    // a tag name resolves through VERSION AS OF
    assert(spark.sql(
      "SELECT COUNT(*) FROM bronze.tt.tags VERSION AS OF 'run-2026w33'")
      .head().getLong(0) == 10)
    // tags are immutable; unknown names fail with the tag list
    intercept[IllegalArgumentException] {
      bronzeCatalog.tagTable(Seq("tt"), "tags", "run-2026w33", 2L)
    }
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM bronze.tt.tags VERSION AS OF 'nope'")
        .collect()
    }
    assert(e.getMessage.contains("run-2026w33"))
    // the refs metadata table lists every tag
    bronzeCatalog.tagTable(Seq("tt"), "tags", "other", 3L)
    assert(bronzeCatalog.refsTable(Seq("tt"), "tags").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("run-2026w33" -> 1L, "other" -> 3L))
    bronzeCatalog.dropTableTag(Seq("tt"), "tags", "other")
    // a tag name works as a STREAM's startingVersion: "the changes
    // made since the tagged state" (tag exclusive, like any offset)
    import org.apache.spark.sql.streaming.Trigger
    def streamFromTag(): Set[Long] = {
      val acc = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val q = spark.readStream.option("startingVersion", "run-2026w33")
        .table("bronze.tt.tags.changes")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select("_commit_version").collect()
            .foreach(r => acc.add(r.getLong(0)))
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      acc.asScala.toSet
    }
    assert(streamFromTag() == Set(2L, 3L)) // v1 itself excluded
    // vacuum to 1 snapshot: the TAGGED version (and its files) survive
    // the expiry horizon; untagged v2 dies
    bronzeCatalog.vacuumTable(Seq("tt"), "tags", retainLast = 1)
    assert(spark.sql(
      "SELECT COUNT(*) FROM bronze.tt.tags VERSION AS OF 'run-2026w33'")
      .head().getLong(0) == 10)
    intercept[Exception] {
      spark.sql("SELECT * FROM bronze.tt.tags VERSION AS OF 2").collect()
    }
    // the expired v2 is an interior GAP between the tagged island and
    // the retained tail: the change feed refuses to cross it with a
    // clear retention message, not a bare missing-manifest error
    val gap = intercept[Exception] { streamFromTag() }
    assert(gap.getMessage.contains("vacuum-expired") ||
      Option(gap.getCause).exists(_.getMessage.contains("vacuum-expired")))
    // dropping the tag releases it: the next vacuum reaps the version
    assert(bronzeCatalog.dropTableTag(Seq("tt"), "tags", "run-2026w33"))
    bronzeCatalog.vacuumTable(Seq("tt"), "tags", retainLast = 1)
    intercept[Exception] {
      spark.sql("SELECT * FROM bronze.tt.tags VERSION AS OF 1").collect()
    }
    assert(spark.table("bronze.tt.tags").count() == 35)
  }

  test("ROLLBACK steps current back, preserves history, feeds CDC") {
    val dir = mkTable("rb")
    spark.sql("INSERT INTO bronze.tt.rb SELECT id, 1 FROM range(10)")
    spark.sql("INSERT INTO bronze.tt.rb SELECT id + 10, 2 FROM range(5)")
    // the "bad ingest": roll the table back to v1
    bronzeCatalog.rollbackTable(Seq("tt"), "rb", 1L)
    assert(spark.table("bronze.tt.rb").count() == 10)
    assert(SnapshotLog.current(dir).get.operation == "rollback")
    // history preserved: the bad v2 is still time-travelable
    assert(spark.sql("SELECT COUNT(*) FROM bronze.tt.rb VERSION AS OF 2")
      .head().getLong(0) == 15)
    // life goes on after the rollback
    spark.sql("INSERT INTO bronze.tt.rb SELECT id + 20, 3 FROM range(3)")
    assert(spark.table("bronze.tt.rb").count() == 13)
    assert(spark.table("bronze.tt.rb")
      .filter("batch = 2").count() == 0)
    // incremental reads refuse to cross the rollback (re-exposed rows)
    intercept[IllegalArgumentException] {
      SnapshotLog.appendedFilesBetween(dir, 1, 4)
    }
    // the change feed nets it exactly: v2's rows retract
    val rows = spark.read.table("bronze.tt.rb.changes").collect()
      .map(r => (r.getString(2), r.getLong(3)))
    val v3net = rows.filter(_._2 == 3L)
      .map(t => if (t._1 == "insert") 1 else -1).sum
    assert(v3net == -5, s"rollback net should be -5, got $v3net")
    // rolling back to a non-past version refuses
    intercept[IllegalArgumentException] {
      bronzeCatalog.rollbackTable(Seq("tt"), "rb", 4L)
    }
    // vacuum after rollback: restored files are live via the new head
    bronzeCatalog.vacuumTable(Seq("tt"), "rb", retainLast = 2)
    assert(spark.table("bronze.tt.rb").count() == 13)
  }

  test("ROLLBACK across an ALTER restores that era's schema") {
    val dir = mkTable("rbalter")
    spark.sql("INSERT INTO bronze.tt.rbalter SELECT id, 1 FROM range(4)")
    spark.sql("ALTER TABLE bronze.tt.rbalter ADD COLUMN note STRING")
    spark.sql(
      "INSERT INTO bronze.tt.rbalter SELECT id, 2, 'x' FROM range(2)")
    bronzeCatalog.rollbackTable(Seq("tt"), "rbalter", 1L)
    // pre-ALTER era restored: no `note` column, 4 rows
    val t = spark.table("bronze.tt.rbalter")
    assert(t.columns.toSeq == Seq("id", "batch"))
    assert(t.count() == 4)
  }

  test("incremental read returns only appended files; refuses replaces") {
    val dir = mkTable("inc")
    (1 to 3).foreach { b =>
      spark.sql(s"INSERT INTO bronze.tt.inc SELECT id, $b FROM range(${b}0)")
    }
    val delta = SnapshotLog.appendedFilesBetween(dir, 1, 3)
    val rows = spark.read.schema("id BIGINT, batch INT")
      .parquet(delta.map(f => s"$dir/$f"): _*)
    assert(rows.count() == 50) // batches 2 (20) + 3 (30), not batch 1
    assert(rows.select("batch").distinct().collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(2, 3))
    // consuming nothing: same-version range is empty
    assert(SnapshotLog.appendedFilesBetween(dir, 3, 3).isEmpty)
    // a REPLACE snapshot (compaction) interleaves consumed rows under
    // new names — crossing one must refuse
    bronzeCatalog.optimizeTable(Seq("tt"), "inc", 1L << 30)
    intercept[IllegalArgumentException] {
      SnapshotLog.appendedFilesBetween(dir, 2, 4)
    }
    // restarting FROM the replace works again
    spark.sql("INSERT INTO bronze.tt.inc SELECT id, 9 FROM range(5)")
    val afterOpt = SnapshotLog.appendedFilesBetween(dir, 4, 5)
    assert(spark.read.schema("id BIGINT, batch INT")
      .parquet(afterOpt.map(f => s"$dir/$f"): _*).count() == 5)
  }

  test("ADD COLUMN evolves the schema; old files read NULLs, no rewrite") {
    val dir = mkTable("evolve")
    spark.sql("INSERT INTO bronze.tt.evolve SELECT id, 1 FROM range(10)")
    val filesBefore = SnapshotLog.current(dir).get.files
    spark.sql("ALTER TABLE bronze.tt.evolve ADD COLUMN note STRING")
    // pre-evolution files are untouched; the declared schema grew
    assert(SnapshotLog.current(dir).get.files == filesBefore)
    assert(spark.table("bronze.tt.evolve").columns.toSeq ==
      Seq("id", "batch", "note"))
    spark.sql(
      "INSERT INTO bronze.tt.evolve SELECT id, 2, 'n' || id FROM range(5)")
    val t = spark.table("bronze.tt.evolve")
    assert(t.count() == 15)
    assert(t.filter("note IS NULL").count() == 10) // old rows: NULL
    assert(t.filter("note = 'n3'").count() == 1)
    // duplicate names and narrowing type changes refuse
    intercept[Exception] {
      spark.sql("ALTER TABLE bronze.tt.evolve ADD COLUMN batch INT")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE bronze.tt.evolve ALTER COLUMN id TYPE INT")
    }
  }

  test("DROP COLUMN is metadata-only; a re-added name never resurrects") {
    val dir = mkTable("dropcol")
    spark.sql("INSERT INTO bronze.tt.dropcol SELECT id, 1 FROM range(10)")
    val preDrop = SnapshotLog.current(dir).get.version
    val filesBefore = SnapshotLog.current(dir).get.files
    spark.sql("ALTER TABLE bronze.tt.dropcol DROP COLUMN batch")
    // zero rewrite; the declared schema shrank
    assert(SnapshotLog.current(dir).get.files == filesBefore)
    assert(spark.table("bronze.tt.dropcol").columns.toSeq == Seq("id"))
    // VERSION AS OF a pre-drop snapshot still reads the column
    assert(spark.sql(s"SELECT batch FROM bronze.tt.dropcol " +
      s"VERSION AS OF $preDrop").head().getInt(0) == 1)
    // re-adding the NAME allocates a fresh field id: the old files'
    // dropped bytes must surface as NULL, never resurrect
    spark.sql("ALTER TABLE bronze.tt.dropcol ADD COLUMN batch INT")
    val t = spark.table("bronze.tt.dropcol")
    assert(t.columns.toSeq == Seq("id", "batch"))
    assert(t.filter("batch IS NOT NULL").count() == 0,
      "re-added column resurrected dropped values")
    // dropping the last remaining column refuses
    spark.sql("ALTER TABLE bronze.tt.dropcol DROP COLUMN batch")
    intercept[Exception] {
      spark.sql("ALTER TABLE bronze.tt.dropcol DROP COLUMN id")
    }
  }

  test("ALTER COLUMN TYPE widens: old int32 files read as the new type") {
    val dir = mkTable("widen")
    spark.sql("INSERT INTO bronze.tt.widen SELECT id, 7 FROM range(10)")
    val preWiden = SnapshotLog.current(dir).get.version
    val filesBefore = SnapshotLog.current(dir).get.files
    spark.sql("ALTER TABLE bronze.tt.widen ALTER COLUMN batch TYPE BIGINT")
    // metadata-only: no rewrite, old files widen at read time
    assert(SnapshotLog.current(dir).get.files == filesBefore)
    spark.sql(
      "INSERT INTO bronze.tt.widen SELECT id, 5000000000 FROM range(5)")
    val t = spark.table("bronze.tt.widen")
    assert(t.schema("batch").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(t.count() == 15)
    // mixed scan: old int32 pages + new int64 pages, one long column
    assert(t.agg(org.apache.spark.sql.functions.sum("batch"))
      .head().getLong(0) == 10 * 7L + 5 * 5000000000L)
    // time travel to the pre-widen version reads the INT of that time
    assert(spark.sql(s"SELECT batch FROM bronze.tt.widen " +
      s"VERSION AS OF $preWiden").schema("batch").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // narrowing refuses
    intercept[Exception] {
      spark.sql("ALTER TABLE bronze.tt.widen ALTER COLUMN batch TYPE INT")
    }
  }

  test("OPTIMIZE across an ADD COLUMN boundary keeps the evolved column") {
    val dir = mkTable("evopt")
    spark.sql("INSERT INTO bronze.tt.evopt SELECT id, 1 FROM range(10)")
    spark.sql("ALTER TABLE bronze.tt.evopt ADD COLUMN note STRING")
    spark.sql(
      "INSERT INTO bronze.tt.evopt SELECT id, 2, 'n' || id FROM range(5)")
    // the compaction bin mixes a pre-evolution file (no `note`) with a
    // post-evolution one; the rewrite must use the DECLARED schema or
    // footer inference from the pre-evolution file silently drops
    // `note` — permanent data loss once vacuum reaps the originals
    val (compacted, created) =
      bronzeCatalog.optimizeTable(Seq("tt"), "evopt", 1L << 30)
    assert(compacted >= 2 && created == 1)
    val t = spark.table("bronze.tt.evopt")
    assert(t.count() == 15)
    assert(t.filter("note IS NULL").count() == 10)
    assert(t.filter("note = 'n3'").count() == 1)
    // the rewritten file physically carries the column (no-schema read)
    val optFile = SnapshotLog.current(dir).get.files
      .filter(_.startsWith("part-opt-"))
    assert(optFile.size == 1)
    val raw = spark.read.parquet(s"$dir/${optFile.head}")
    assert(raw.columns.contains("note"))
    assert(raw.filter("note = 'n3'").count() == 1)
    // … and survives vacuuming the originals
    bronzeCatalog.vacuumTable(Seq("tt"), "evopt", retainLast = 1)
    assert(spark.table("bronze.tt.evopt").filter("note = 'n3'").count() == 1)
  }

  test("direct SnapshotLog.optimize resolves the pinned schema itself") {
    // the bare-API route (no catalog mediation, no schema argument):
    // optimize must read the snapshot's own schema sidecar — there is
    // no caller-supplied schema left to forget, and no inference path
    val dir = mkTable("evoptraw")
    spark.sql("INSERT INTO bronze.tt.evoptraw SELECT id, 1 FROM range(10)")
    spark.sql("ALTER TABLE bronze.tt.evoptraw ADD COLUMN note STRING")
    spark.sql(
      "INSERT INTO bronze.tt.evoptraw SELECT id, 2, 'n' || id FROM range(5)")
    val (compacted, created) = SnapshotLog.optimize(spark, dir, 1L << 30)
    assert(compacted >= 2 && created == 1)
    // the rewritten file physically carries the evolved column
    val optFile = SnapshotLog.current(dir).get.files
      .filter(_.startsWith("part-opt-"))
    assert(optFile.size == 1)
    val raw = spark.read.parquet(s"$dir/${optFile.head}")
    assert(raw.columns.contains("note"))
    assert(raw.filter("note = 'n3'").count() == 1)
    bronzeCatalog.vacuumTable(Seq("tt"), "evoptraw", retainLast = 1)
    assert(spark.table("bronze.tt.evoptraw").count() == 15)
    assert(spark.table("bronze.tt.evoptraw")
      .filter("note IS NULL").count() == 10)
  }

  test("optimize on a pin-less table merges footers, never drops a column") {
    // legacy tables (snapshot log, no schema sidecar): the rewrite
    // read is mergeSchema — the UNION of the bin's footers — so a
    // schema drift across files widens the compacted file instead of
    // silently truncating it to one footer's view
    import org.apache.spark.sql.functions._
    val dir = tmpDir("graft-optraw-")
    spark.range(10).select(col("id"), lit(1).as("batch"))
      .coalesce(1).write.mode("append").parquet(dir)
    spark.range(5).select(col("id"), lit(2).as("batch"),
        concat(lit("n"), col("id")).as("note"))
      .coalesce(1).write.mode("append").parquet(dir)
    SnapshotLog.commit(dir, "append")(identity) // seed log from listing
    assert(SnapshotLog.current(dir).get.schemaFile.isEmpty)
    val (compacted, created) = SnapshotLog.optimize(spark, dir, 1L << 30)
    assert(compacted == 2 && created == 1)
    // read the CURRENT snapshot's file set (originals linger on disk
    // for time travel until vacuumed)
    val cur = SnapshotLog.current(dir).get.files
    assert(cur.size == 1 && cur.head.startsWith("part-opt-"))
    val t = spark.read.parquet(s"$dir/${cur.head}")
    assert(t.columns.contains("note"))
    assert(t.filter("note = 'n3'").count() == 1)
    assert(t.count() == 15)
  }

  test("incremental read crosses ALTER snapshots cleanly (no files, no refusal)") {
    val dir = mkTable("incalter")
    spark.sql("INSERT INTO bronze.tt.incalter SELECT id, 1 FROM range(5)")
    val v1 = SnapshotLog.currentVersion(dir).get
    spark.sql("ALTER TABLE bronze.tt.incalter ADD COLUMN note STRING")
    spark.sql(
      "INSERT INTO bronze.tt.incalter SELECT id, 2, 'x' FROM range(5)")
    val v3 = SnapshotLog.currentVersion(dir).get
    // the alter snapshot adds no files and rewrites none: the delta
    // across it is exactly the second append
    val delta = SnapshotLog.appendedFilesBetween(dir, v1, v3)
    val rows = spark.read.schema("id BIGINT, batch INT, note STRING")
      .parquet(delta.map(f => s"$dir/$f"): _*)
    assert(rows.count() == 5)
    assert(rows.select("batch").distinct().head().getInt(0) == 2)
  }

  test("RENAME COLUMN is metadata-only: field ids keep old files resolving") {
    val dir = mkTable("rename")
    spark.sql("INSERT INTO bronze.tt.rename SELECT id, 1 FROM range(10)")
    val filesBefore = SnapshotLog.current(dir).get.files
    val preRenameV = SnapshotLog.currentVersion(dir).get
    spark.sql("ALTER TABLE bronze.tt.rename RENAME COLUMN batch TO load_no")
    // no data file was touched
    assert(SnapshotLog.current(dir).get.files == filesBefore)
    assert(spark.table("bronze.tt.rename").columns.toSeq ==
      Seq("id", "load_no"))
    // OLD files resolve through the field id: values, not NULLs
    assert(spark.table("bronze.tt.rename")
      .filter("load_no = 1").count() == 10)
    // appends under the new name coexist with pre-rename files
    spark.sql("INSERT INTO bronze.tt.rename SELECT id, 2 FROM range(5)")
    val t = spark.table("bronze.tt.rename")
    assert(t.count() == 15)
    assert(t.groupBy("load_no").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap == Map(1 -> 10L, 2 -> 5L))
    // time travel to a PRE-RENAME version reads with the OLD name
    val old = spark.sql(
      s"SELECT * FROM bronze.tt.rename VERSION AS OF $preRenameV")
    assert(old.columns.toSeq == Seq("id", "batch"))
    assert(old.filter("batch = 1").count() == 10)
    // destructive changes still refuse (int → string is not widening)
    intercept[Exception] {
      spark.sql(
        "ALTER TABLE bronze.tt.rename ALTER COLUMN load_no TYPE STRING")
    }
    // renaming onto an existing column refuses
    intercept[Exception] {
      spark.sql("ALTER TABLE bronze.tt.rename RENAME COLUMN load_no TO id")
    }
  }

  test("schema is pinned per snapshot: pre-ADD COLUMN versions lack the column") {
    val dir = mkTable("pinned")
    spark.sql("INSERT INTO bronze.tt.pinned SELECT id, 1 FROM range(5)")
    val v1 = SnapshotLog.currentVersion(dir).get
    spark.sql("ALTER TABLE bronze.tt.pinned ADD COLUMN note STRING")
    spark.sql(
      "INSERT INTO bronze.tt.pinned SELECT id, 2, 'n' || id FROM range(5)")
    // the old version reads with the OLD schema (Iceberg pins
    // schema-id per snapshot), not today's widened one
    assert(spark.sql(s"SELECT * FROM bronze.tt.pinned VERSION AS OF $v1")
      .columns.toSeq == Seq("id", "batch"))
    assert(spark.table("bronze.tt.pinned").columns.toSeq ==
      Seq("id", "batch", "note"))
  }

  test("DELETE FROM is copy-on-write: one snapshot, time travel intact") {
    val dir = mkTable("rowdel")
    (1 to 3).foreach { b =>
      spark.sql(s"INSERT INTO bronze.tt.rowdel SELECT id, $b FROM range(10)")
    }
    val pre = SnapshotLog.current(dir).get
    spark.sql("DELETE FROM bronze.tt.rowdel WHERE batch = 2 AND id >= 5")
    val post = SnapshotLog.current(dir).get
    assert(post.version == pre.version + 1 && post.operation == "delete")
    // matching rows gone, everything else intact
    val t = spark.table("bronze.tt.rowdel")
    assert(t.count() == 25)
    assert(t.filter("batch = 2").count() == 5)
    assert(t.filter("batch = 2 AND id >= 5").count() == 0)
    assert(t.filter("batch != 2").count() == 20)
    // VERSION AS OF the pre-delete snapshot still sees the rows
    assert(spark.sql(
      s"SELECT COUNT(*) FROM bronze.tt.rowdel VERSION AS OF ${pre.version}")
      .head().getLong(0) == 30)
    // copy-on-write is TARGETED: only files from the batch-2 append
    // (v2's delta) rewrote; every other append's files carry over
    val carried = pre.files.toSet.intersect(post.files.toSet)
    val batch2Files =
      SnapshotLog.read(dir, 2).files.toSet -- SnapshotLog.read(dir, 1).files
    val rewritten = pre.files.toSet -- carried
    assert(rewritten.nonEmpty && rewritten.subsetOf(batch2Files))
    assert(post.files.exists(_.startsWith("part-del-")))
    // delete with no matching rows commits nothing
    spark.sql("DELETE FROM bronze.tt.rowdel WHERE batch = 99")
    assert(SnapshotLog.currentVersion(dir).get == post.version)
    // NULL predicate rows survive (SQL DELETE semantics)
    spark.sql("ALTER TABLE bronze.tt.rowdel ADD COLUMN note STRING")
    spark.sql(
      "INSERT INTO bronze.tt.rowdel SELECT id, 4, 'x' FROM range(3)")
    spark.sql("DELETE FROM bronze.tt.rowdel WHERE note = 'x'")
    val t2 = spark.table("bronze.tt.rowdel")
    assert(t2.count() == 25) // 3 'x' rows died; 25 NULL-note rows live
    assert(t2.filter("note IS NOT NULL").count() == 0)
  }

  test("incremental and streaming reads refuse to cross a DELETE snapshot") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = mkTable("delstream")
    spark.sql("INSERT INTO bronze.tt.delstream SELECT id, 1 FROM range(10)")
    spark.sql("INSERT INTO bronze.tt.delstream SELECT id, 2 FROM range(10)")
    spark.sql("DELETE FROM bronze.tt.delstream WHERE batch = 1 AND id < 5")
    val delV = SnapshotLog.currentVersion(dir).get
    // incremental read across the delete refuses
    intercept[IllegalArgumentException] {
      SnapshotLog.appendedFilesBetween(dir, 1, delV)
    }
    // streaming read across it fails loudly, not silently
    val q = spark.readStream.option("startingVersion", "0")
      .table("bronze.tt.delstream")
      .writeStream.format("memory").queryName("delstream_sink")
      .option("checkpointLocation", tmpDir("delstream_ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    val e = intercept[Exception] { q.awaitTermination() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("DELETE snapshot")))
    // restarting FROM the delete version reads on cleanly
    spark.sql("INSERT INTO bronze.tt.delstream SELECT id, 3 FROM range(7)")
    val q2 = spark.readStream.option("startingVersion", delV.toString)
      .table("bronze.tt.delstream")
      .writeStream.format("memory").queryName("delstream_sink2")
      .option("checkpointLocation", tmpDir("delstream_ckpt2"))
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.table("delstream_sink2").count() == 7)
  }

  test("readStream.table consumes snapshots as micro-batches; restart resumes") {
    import org.apache.spark.sql.streaming.Trigger
    mkTable("srcstream")
    spark.sql("INSERT INTO bronze.tt.srcstream SELECT id, 1 FROM range(10)")
    spark.sql("INSERT INTO bronze.tt.srcstream SELECT id, 2 FROM range(20)")
    val ckpt = tmpDir("srcstream_ckpt")

    // memory sink cannot recover a checkpoint; foreachBatch can —
    // and is the realistic downstream-consumer shape anyway
    def runOnce(): Seq[(Int, Long)] = {
      val acc =
        new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
      val q = spark.readStream
        .option("startingVersion", "0") // full history, then the tail
        .table("bronze.tt.srcstream")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.groupBy("batch").count().collect()
            .foreach(r => acc.add(r.getInt(0) -> r.getLong(1)))
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      acc.asScala.toSeq
    }
    val got1 = runOnce()
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    assert(got1 == Map(1 -> 10L, 2 -> 20L))

    // restart from the checkpoint: ONLY the new snapshot is consumed
    spark.sql("INSERT INTO bronze.tt.srcstream SELECT id, 3 FROM range(5)")
    val got2 = runOnce()
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    assert(got2 == Map(3 -> 5L)) // batches 1/2 not re-read

    // admission control: maxVersionsPerTrigger=1 → one micro-batch
    // PER SNAPSHOT (3 appends + the empty create = 3 non-empty)
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = spark.readStream
      .option("startingVersion", "0").option("maxVersionsPerTrigger", "1")
      .table("bronze.tt.srcstream")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        if (df.count() > 0) batches.incrementAndGet(); ()
      }
      .option("checkpointLocation", tmpDir("srcstream_ckpt_mv"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches.get() == 3)
  }

  test("streaming read refuses to cross a REPLACE snapshot") {
    import org.apache.spark.sql.streaming.Trigger
    mkTable("srcrepl")
    spark.sql("INSERT INTO bronze.tt.srcrepl SELECT id, 1 FROM range(10)")
    spark.sql("INSERT INTO bronze.tt.srcrepl SELECT id, 2 FROM range(10)")
    bronzeCatalog.optimizeTable(Seq("tt"), "srcrepl", 1L << 30)
    val q = spark.readStream.option("startingVersion", "0")
      .table("bronze.tt.srcrepl")
      .writeStream.format("memory").queryName("srcrepl_sink")
      .option("checkpointLocation", tmpDir("srcrepl_ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    val e = intercept[Exception] { q.awaitTermination() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("REPLACE snapshot")))
    // a stream STARTED at the replace version reads on cleanly
    val q2 = spark.readStream.option("startingVersion", "3")
      .table("bronze.tt.srcrepl")
      .writeStream.format("memory").queryName("srcrepl_sink2")
      .option("checkpointLocation", tmpDir("srcrepl_ckpt2"))
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    spark.sql("INSERT INTO bronze.tt.srcrepl SELECT id, 4 FROM range(7)")
    val q3 = spark.readStream.option("startingVersion", "3")
      .table("bronze.tt.srcrepl")
      .writeStream.format("memory").queryName("srcrepl_sink3")
      .option("checkpointLocation", tmpDir("srcrepl_ckpt3"))
      .trigger(Trigger.AvailableNow()).start()
    q3.awaitTermination()
    assert(spark.table("srcrepl_sink3").count() == 7)
  }

  test("epoch replay retires the prior attempt by manifest, bytes intact") {
    val dir = tmpDir("replay")
    // crashed attempt: committed its epoch-5 snapshot with 3 part files
    val a1 = Seq("part-qX-e5-aAAAA-p0.parquet", "part-qX-e5-aAAAA-p1.parquet",
      "part-qX-e5-aAAAA-p2.parquet")
    a1.foreach(f => Files.writeString(Paths.get(dir, f), "bytes1"))
    SnapshotLog.commit(dir, "streaming-append")(_ ++ a1)
    val crashedVersion = SnapshotLog.currentVersion(dir).get
    // replay (new attempt, FEWER partitions) swaps the epoch in the
    // manifest — exactly what BronzeStreamingWrite.commit does
    val a2 = Seq("part-qX-e5-aBBBB-p0.parquet", "part-qX-e5-aBBBB-p1.parquet")
    a2.foreach(f => Files.writeString(Paths.get(dir, f), "bytes2"))
    SnapshotLog.commit(dir, "streaming-append")(parent =>
      parent.filterNot(_.startsWith("part-qX-e5-")) ++ a2)
    // current reads ONLY the replay's files; the crashed attempt's
    // snapshot still references ITS OWN files — and their bytes are
    // untouched on disk, so a pinned read stays consistent
    assert(SnapshotLog.current(dir).get.files.toSet == a2.toSet)
    val crashed = SnapshotLog.read(dir, crashedVersion)
    assert(crashed.files.toSet == a1.toSet)
    assert(a1.forall(f =>
      Files.readString(Paths.get(dir, f)) == "bytes1"))
    // vacuum (grace 0) reaps exactly the retired attempt's files
    val deleted = SnapshotLog.vacuum(dir, retainLast = 1, orphanGraceMs = 0L)
    assert(deleted.toSet == a1.toSet)
  }

  test("conflicting rewrites fail loudly instead of resurrecting rows") {
    val dir = mkTable("conflict")
    spark.sql("INSERT INTO bronze.tt.conflict SELECT id, 1 FROM range(10)")
    val victim = SnapshotLog.current(dir).get.files.head
    // a concurrent delete rewrites `victim` first …
    spark.sql(s"DELETE FROM bronze.tt.conflict WHERE id >= 0 AND batch = 1")
    // … so a rewrite computed against the OLD snapshot must refuse:
    // blindly committing would re-add content the delete removed
    intercept[java.util.ConcurrentModificationException] {
      SnapshotLog.commitRewrite(dir, "replace",
        replaced = Set(victim), added = Seq("part-stale.parquet"))
    }
    // disjoint rewrites still land: a pure append never conflicts
    spark.sql("INSERT INTO bronze.tt.conflict SELECT id, 2 FROM range(3)")
    assert(spark.table("bronze.tt.conflict").count() == 3)
  }

  test("snapshot commit is a filesystem CAS: racing committers serialize") {
    val dir = tmpDir("cas")
    Files.writeString(Paths.get(dir, "seed.txt"), "x") // not a data file
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 8).map { i =>
      new Thread(() => {
        try SnapshotLog.commit(dir, s"op$i")(parent =>
          parent + s"part-f$i.parquet")
        catch { case t: Throwable => errors.add(t) }
        ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"commit threw: ${errors.asScala.toSeq}")
    // all 8 commits landed, each with a distinct version, and the
    // final snapshot carries every file (no lost update)
    assert(SnapshotLog.versions(dir).size == 8)
    assert(SnapshotLog.current(dir).get.files.size == 8)
  }

  test("concurrent appenders racing OPTIMIZE: every row exactly once") {
    // the invariant a 100 TB multi-writer table lives on: whatever
    // interleaving the scheduler produces, appends that returned
    // SUCCESS are all present exactly once, and compactions (which
    // may lose their validation race and throw) never duplicate or
    // resurrect rows
    val dir = mkTable("stress")
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val appended = new java.util.concurrent.atomic.AtomicLong(0L)
    val writers = (0 until 4).map { w =>
      new Thread(() => {
        try (0 until 3).foreach { b =>
          val base = (w * 3 + b) * 10
          spark.sql(s"INSERT INTO bronze.tt.stress " +
            s"SELECT id + $base, $w FROM range(10)")
          appended.addAndGet(10L)
        } catch { case t: Throwable => errors.add(t) }
        ()
      })
    }
    val compactor = new Thread(() => {
      (1 to 4).foreach { _ =>
        try bronzeCatalog.optimizeTable(Seq("tt"), "stress", 1L << 30)
        catch {
          // losing the rewrite-validation race to a concurrent append
          // is the documented loud-failure path, not an error
          case _: java.util.ConcurrentModificationException => ()
          case t: Throwable => errors.add(t)
        }
        Thread.sleep(25)
      }
    })
    (writers :+ compactor).foreach(_.start())
    (writers :+ compactor).foreach(_.join())
    assert(errors.isEmpty, s"stress threw: ${errors.asScala.toSeq}")
    val rows = spark.table("bronze.tt.stress").collect()
      .map(_.getLong(0)).toSeq
    assert(rows.length == appended.get(), "row count drifted")
    assert(rows.distinct.length == rows.length, "duplicated rows")
    // ids form exactly the appended ranges: nothing lost, nothing
    // resurrected by a compaction that lost its race
    assert(rows.sorted == (0 until 12).flatMap(g =>
      (g * 10) until (g * 10 + 10)).map(_.toLong).sorted)
  }
}
