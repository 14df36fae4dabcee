package graft

import graft.catalog.SnapshotLog

/** SQL UPDATE / MERGE INTO on bronze snapshot tables — the group-based
  * copy-on-write path (`SupportsRowLevelOperations`): Spark plans the
  * rewrite, the table swaps affected files in ONE snapshot, old
  * versions keep reading the originals, and streaming/incremental
  * readers refuse to cross the rewrite like any REPLACE. */
class RowLevelOpsSpec extends SparkSpec {

  private lazy val warehouse: String = bronzeWarehouse

  private def bronzeCatalog: graft.catalog.BronzeCatalog = {
    warehouse
    spark.sessionState.catalogManager.catalog("bronze")
      .asInstanceOf[graft.catalog.BronzeCatalog]
  }

  private def mkTable(name: String): String = {
    warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS bronze.rl")
    spark.sql(s"DROP TABLE IF EXISTS bronze.rl.$name")
    spark.sql(
      s"CREATE TABLE bronze.rl.$name (id BIGINT, batch INT, amt DOUBLE) " +
        "USING parquet")
    bronzeCatalog.tableDir(Seq("rl"), name)
  }

  test("UPDATE is copy-on-write: one snapshot, targeted files, history intact") {
    val dir = mkTable("upd")
    (1 to 3).foreach { b =>
      spark.sql(s"INSERT INTO bronze.rl.upd " +
        s"SELECT id, $b, id * 1.5 FROM range(10)")
    }
    val pre = SnapshotLog.current(dir).get
    spark.sql(
      "UPDATE bronze.rl.upd SET amt = amt * 2, batch = 99 " +
        "WHERE batch = 2 AND id >= 5")
    val post = SnapshotLog.current(dir).get
    assert(post.version == pre.version + 1 && post.operation == "update")
    val t = spark.table("bronze.rl.upd")
    assert(t.count() == 30) // UPDATE never changes cardinality
    assert(t.filter("batch = 99").count() == 5)
    assert(t.filter("batch = 2").count() == 5) // id < 5 untouched
    // updated values are the assignments, untouched rows unchanged
    assert(t.filter("batch = 99 AND id = 7").collect()
      .head.getDouble(2) == 7 * 1.5 * 2)
    assert(t.filter("batch = 2 AND id = 3").collect()
      .head.getDouble(2) == 3 * 1.5)
    // only the files of the batch-2 append rewrote
    val batch2Files =
      SnapshotLog.read(dir, 2).files.toSet -- SnapshotLog.read(dir, 1).files
    val rewritten = pre.files.toSet -- post.files.toSet
    assert(rewritten.nonEmpty && rewritten.subsetOf(batch2Files))
    // VERSION AS OF the pre-update snapshot sees the original values
    assert(spark.sql(s"SELECT COUNT(*) FROM bronze.rl.upd " +
      s"VERSION AS OF ${pre.version} WHERE batch = 2")
      .head().getLong(0) == 10)
  }

  test("MERGE INTO: matched update + not-matched insert, one snapshot") {
    val dir = mkTable("mrg")
    spark.sql(
      "INSERT INTO bronze.rl.mrg SELECT id, 1, id * 1.0 FROM range(10)")
    val pre = SnapshotLog.current(dir).get
    spark.sql("DROP VIEW IF EXISTS mrg_src")
    spark.sql(
      "CREATE TEMP VIEW mrg_src AS " +
        "SELECT id * 2 AS id, CAST(id AS DOUBLE) AS delta FROM range(8)")
    spark.sql(
      """MERGE INTO bronze.rl.mrg t USING mrg_src s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET amt = t.amt + s.delta
        WHEN NOT MATCHED THEN INSERT (id, batch, amt)
          VALUES (s.id, 2, s.delta)""")
    val post = SnapshotLog.current(dir).get
    assert(post.version == pre.version + 1 && post.operation == "merge")
    val t = spark.table("bronze.rl.mrg")
    // targets 0,2,..,14 from source ids 0..14 step 2: ids 0..8 even
    // matched (5 rows: 0,2,4,6,8), 10,12,14 inserted
    assert(t.count() == 13)
    assert(t.filter("batch = 2").count() == 3)
    // matched row id=6: amt = 6.0 + delta(src id 6 = range id 3) = 9.0
    assert(t.filter("id = 6 AND batch = 1").collect()
      .head.getDouble(2) == 9.0)
    // unmatched target row untouched
    assert(t.filter("id = 7").collect().head.getDouble(2) == 7.0)
    // pre-merge version unchanged
    assert(spark.sql(s"SELECT COUNT(*) FROM bronze.rl.mrg " +
      s"VERSION AS OF ${pre.version}").head().getLong(0) == 10)
  }

  test("MERGE narrows to matched files via runtime group filtering") {
    val dir = mkTable("mrgnarrow")
    spark.sql(
      "INSERT INTO bronze.rl.mrgnarrow SELECT id, 1, id * 1.0 FROM range(10)")
    spark.sql("INSERT INTO bronze.rl.mrgnarrow " +
      "SELECT id + 100, 2, id * 1.0 FROM range(10)")
    val pre = SnapshotLog.current(dir).get
    val batch1Files =
      SnapshotLog.read(dir, 1).files.toSet -- SnapshotLog.read(dir, 0).files
    // source matches ONLY batch-2 keys (plus inserts new ones)
    spark.sql("DROP VIEW IF EXISTS mrgn_src")
    spark.sql("CREATE TEMP VIEW mrgn_src AS " +
      "SELECT id + 100 AS id, 7.0 AS delta FROM range(5) " +
      "UNION ALL SELECT 999, 1.0")
    spark.sql(
      """MERGE INTO bronze.rl.mrgnarrow t USING mrgn_src s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET amt = t.amt + s.delta
        WHEN NOT MATCHED THEN INSERT (id, batch, amt)
          VALUES (s.id, 3, s.delta)""")
    val post = SnapshotLog.current(dir).get
    // correctness: 5 matched rows bumped, one insert, batch 1 intact
    val t = spark.table("bronze.rl.mrgnarrow")
    assert(t.count() == 21)
    assert(t.filter("id = 102").collect().head.getDouble(2) == 9.0)
    assert(t.filter("id = 999").count() == 1)
    assert(t.filter("batch = 1 AND amt != (id * 1.0)").count() == 0)
    // THE POINT: the runtime group filter narrowed the rewrite to the
    // batch-2 files — every batch-1 file carried over BY NAME
    val rewritten = pre.files.toSet -- post.files.toSet
    assert(rewritten.nonEmpty, "merge rewrote nothing?")
    assert(rewritten.intersect(batch1Files).isEmpty,
      s"merge rewrote unmatched batch-1 files: " +
        s"${rewritten.intersect(batch1Files)}")
  }

  test("maxRewriteFiles cap: ops degrade to whole-candidate rewrite, same state") {
    // with the cap forced to 0 the matched-file-name list is never
    // collected on the driver; UPDATE/DELETE rewrite every candidate
    // file instead — final state must be identical to the uncapped twin
    def seed(t: String): String = {
      val d = mkTable(t)
      (1 to 3).foreach { b =>
        spark.sql(s"INSERT INTO bronze.rl.$t " +
          s"SELECT id, $b, id * 1.5 FROM range(10)")
      }
      d
    }
    def snap(t: String): Seq[String] =
      spark.table(s"bronze.rl.$t").orderBy("id", "batch")
        .collect().map(_.toString).toSeq
    val dir = seed("cap"); seed("capref")

    val pre = SnapshotLog.current(dir).get
    spark.conf.set(GraftConf.MaxRewriteFilesKey, "0")
    try {
      spark.sql("UPDATE bronze.rl.cap SET amt = amt * 2 " +
        "WHERE batch = 2 AND id >= 5")
    } finally spark.conf.unset(GraftConf.MaxRewriteFilesKey)
    spark.sql("UPDATE bronze.rl.capref SET amt = amt * 2 " +
      "WHERE batch = 2 AND id >= 5")
    assert(snap("cap") == snap("capref"),
      "capped UPDATE drifted from the uncapped twin")
    // the degrade actually happened: EVERY pre-existing file rewrote
    val post = SnapshotLog.current(dir).get
    assert(pre.files.toSet.intersect(post.files.toSet).isEmpty,
      "cap=0 UPDATE still narrowed to matched files")

    spark.conf.set(GraftConf.MaxRewriteFilesKey, "0")
    try spark.sql("DELETE FROM bronze.rl.cap WHERE batch = 1 AND id < 3")
    finally spark.conf.unset(GraftConf.MaxRewriteFilesKey)
    spark.sql("DELETE FROM bronze.rl.capref WHERE batch = 1 AND id < 3")
    assert(snap("cap") == snap("capref"),
      "capped DELETE drifted from the uncapped twin")

    // MERGE under the cap: runtime narrowing is Spark-side, state exact
    spark.sql("DROP VIEW IF EXISTS cap_src")
    spark.sql("CREATE TEMP VIEW cap_src AS " +
      "SELECT id AS id, 2 AS sbatch, 100.0 AS samt FROM range(3)")
    def mergeInto(t: String): Unit = spark.sql(
      s"""MERGE INTO bronze.rl.$t t USING cap_src s
         ON t.id = s.id AND t.batch = s.sbatch
         WHEN MATCHED THEN UPDATE SET amt = s.samt
         WHEN NOT MATCHED AND s.id = 0 THEN
           INSERT (id, batch, amt) VALUES (s.id, 9, s.samt)""")
    spark.conf.set(GraftConf.MaxRewriteFilesKey, "0")
    try mergeInto("cap")
    finally spark.conf.unset(GraftConf.MaxRewriteFilesKey)
    mergeInto("capref")
    assert(snap("cap") == snap("capref"),
      "capped MERGE drifted from the uncapped twin")
  }

  test("MERGE WHEN MATCHED THEN DELETE removes matched rows, one snapshot") {
    val dir = mkTable("mrgdel")
    spark.sql(
      "INSERT INTO bronze.rl.mrgdel SELECT id, 1, id * 1.0 FROM range(10)")
    val pre = SnapshotLog.current(dir).get
    spark.sql("DROP VIEW IF EXISTS mrgdel_src")
    spark.sql("CREATE TEMP VIEW mrgdel_src AS " +
      "SELECT id * 2 AS id, CAST(id AS DOUBLE) AS delta FROM range(8)")
    // conditional clause order matters: big matches delete, small bump
    spark.sql(
      """MERGE INTO bronze.rl.mrgdel t USING mrgdel_src s ON t.id = s.id
        WHEN MATCHED AND t.id >= 6 THEN DELETE
        WHEN MATCHED THEN UPDATE SET amt = t.amt + s.delta
        WHEN NOT MATCHED THEN INSERT (id, batch, amt)
          VALUES (s.id, 2, s.delta)""")
    val post = SnapshotLog.current(dir).get
    assert(post.version == pre.version + 1 && post.operation == "merge")
    val t = spark.table("bronze.rl.mrgdel")
    // matched: 0,2,4,6,8 → 6,8 deleted; 0,2,4 bumped; 10,12,14 inserted
    assert(t.count() == 10 - 2 + 3)
    assert(t.filter("id IN (6, 8)").count() == 0)
    assert(t.filter("id = 4").head().getDouble(2) == 4.0 + 2.0)
    assert(t.filter("batch = 2").count() == 3)
    // time travel: the pre-merge version still shows the deleted rows
    assert(spark.sql(s"SELECT COUNT(*) FROM bronze.rl.mrgdel " +
      s"VERSION AS OF ${pre.version}").head().getLong(0) == 10)
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE updates and deletes target-only rows") {
    val dir = mkTable("mrgbysrc")
    spark.sql(
      "INSERT INTO bronze.rl.mrgbysrc SELECT id, 1, id * 1.0 FROM range(10)")
    val pre = SnapshotLog.current(dir).get
    spark.sql("DROP VIEW IF EXISTS mrgbs_src")
    spark.sql("CREATE TEMP VIEW mrgbs_src AS " +
      "SELECT id AS id, 100.0 AS delta FROM range(4)")
    // rows 0..3 matched (bump); rows 4..9 not matched by source:
    // evens retire (DELETE), odds flagged (UPDATE batch = -1)
    spark.sql(
      """MERGE INTO bronze.rl.mrgbysrc t USING mrgbs_src s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET amt = t.amt + s.delta
        WHEN NOT MATCHED BY SOURCE AND t.id % 2 = 0 THEN DELETE
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET batch = -1""")
    val post = SnapshotLog.current(dir).get
    assert(post.version == pre.version + 1 && post.operation == "merge")
    val t = spark.table("bronze.rl.mrgbysrc")
    // deleted: 4,6,8 → 7 rows remain
    assert(t.count() == 7)
    assert(t.filter("id IN (4, 6, 8)").count() == 0)
    assert(t.filter("id = 2").head().getDouble(2) == 102.0)
    assert(t.filter("batch = -1").collect().map(_.getLong(0)).toSet ==
      Set(5L, 7L, 9L))
    assert(spark.sql(s"SELECT COUNT(*) FROM bronze.rl.mrgbysrc " +
      s"VERSION AS OF ${pre.version}").head().getLong(0) == 10)
  }

  test("by-source MERGE rewrites files with zero source matches") {
    // two appends → two file sets; the source matches ONLY batch-2
    // keys, but batch-1 rows are NOT MATCHED BY SOURCE and must flag.
    // If runtime group filtering wrongly narrowed the rewrite to
    // matched files (the plain-MERGE optimization), batch-1 files
    // would be skipped and their rows never updated.
    val dir = mkTable("mrgbsall")
    spark.sql(
      "INSERT INTO bronze.rl.mrgbsall SELECT id, 1, id * 1.0 FROM range(4)")
    spark.sql("INSERT INTO bronze.rl.mrgbsall " +
      "SELECT id + 100, 2, id * 1.0 FROM range(4)")
    spark.sql("DROP VIEW IF EXISTS mrgbsall_src")
    spark.sql("CREATE TEMP VIEW mrgbsall_src AS " +
      "SELECT id + 100 AS id, 9.0 AS delta FROM range(4)")
    spark.sql(
      """MERGE INTO bronze.rl.mrgbsall t USING mrgbsall_src s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET amt = t.amt + s.delta
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET batch = -1""")
    val t = spark.table("bronze.rl.mrgbsall")
    // every batch-1 row (files with ZERO source matches) flagged
    assert(t.filter("batch = -1").count() == 4)
    assert(t.filter("batch = 1").count() == 0)
    // matched rows bumped
    assert(t.filter("id = 102").head().getDouble(2) == 11.0)
    assert(t.count() == 8)
  }

  test("incremental read refuses to cross an UPDATE snapshot") {
    val dir = mkTable("updinc")
    spark.sql("INSERT INTO bronze.rl.updinc SELECT id, 1, 0.0 FROM range(5)")
    spark.sql("UPDATE bronze.rl.updinc SET amt = 1.0 WHERE id = 2")
    val v = SnapshotLog.currentVersion(dir).get
    intercept[IllegalArgumentException] {
      SnapshotLog.appendedFilesBetween(dir, 1, v)
    }
  }

  test("TRUNCATE TABLE empties via one delete snapshot; history intact") {
    val dir = mkTable("trunc")
    spark.sql("INSERT INTO bronze.rl.trunc SELECT id, 1, 0.0 FROM range(10)")
    val pre = SnapshotLog.currentVersion(dir).get
    spark.sql("TRUNCATE TABLE bronze.rl.trunc")
    assert(spark.table("bronze.rl.trunc").count() == 0)
    assert(spark.sql(
      s"SELECT COUNT(*) FROM bronze.rl.trunc VERSION AS OF $pre")
      .head().getLong(0) == 10)
    // still writable after truncate
    spark.sql("INSERT INTO bronze.rl.trunc SELECT id, 2, 1.0 FROM range(3)")
    assert(spark.table("bronze.rl.trunc").count() == 3)
  }

  test("UPDATE composes with RENAME COLUMN: old files rewrite under the new name") {
    val dir = mkTable("updren")
    spark.sql("INSERT INTO bronze.rl.updren SELECT id, 1, id * 1.0 FROM range(10)")
    spark.sql("ALTER TABLE bronze.rl.updren RENAME COLUMN amt TO price")
    // the UPDATE targets the renamed column; the affected file was
    // written under the OLD name and resolves through its field id
    spark.sql("UPDATE bronze.rl.updren SET price = price + 100 WHERE id < 3")
    val t = spark.table("bronze.rl.updren")
    assert(t.columns.toSeq == Seq("id", "batch", "price"))
    assert(t.filter("id = 1").collect().head.getDouble(2) == 101.0)
    assert(t.filter("id = 5").collect().head.getDouble(2) == 5.0)
    assert(SnapshotLog.current(dir).get.operation == "update")
  }

  test("concurrent ALTERs serialize through the snapshot CAS: no lost update") {
    mkTable("race")
    val cat = bronzeCatalog
    import org.apache.spark.sql.connector.catalog.{Identifier, TableChange}
    import org.apache.spark.sql.types.StringType
    val ident = Identifier.of(Array("rl"), "race")
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 6).map { i =>
      new Thread(() => {
        try cat.alterTable(ident, TableChange.addColumn(
          Array(s"extra$i"), StringType, true))
        catch { case t: Throwable => errors.add(t) }
        ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty,
      s"alter threw: ${scala.jdk.CollectionConverters
        .CollectionHasAsScala(errors).asScala.toSeq}")
    val cols = spark.table("bronze.rl.race").columns.toSet
    (1 to 6).foreach(i => assert(cols.contains(s"extra$i"),
      s"lost update: extra$i missing from $cols"))
  }

  test("serializable isolation fails a rewrite racing a matching append") {
    // the write-skew scenario snapshot isolation admits: an append of
    // predicate-MATCHING rows lands between a delete's scan and its
    // commit. At serializable, the commit must detect the late file
    // and refuse; a NON-matching late append must still commit.
    val dir = mkTable("ser")
    spark.sql("INSERT INTO bronze.rl.ser SELECT id, 1, id * 1.0 FROM range(6)")
    val scanned = SnapshotLog.current(dir).get // the operation's scan
    val replaced = scanned.files.toSet
    // "concurrent" append lands AFTER the scan (matching rows: batch=1)
    spark.sql("INSERT INTO bronze.rl.ser SELECT id + 10, 1, 0.5 FROM range(2)")
    // stage a (fake) rewritten survivor file like the delete would
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val stage = java.nio.file.Paths.get(tmpDir("ser-stage-"))
    spark.range(1).select(col("id"), lit(2).as("batch"),
      lit(0.0).as("amt")).coalesce(1).write.mode("overwrite")
      .parquet(stage.toString)
    val partName = "part-ser-test.parquet"
    val staged = {
      val l = java.nio.file.Files.list(stage)
      try l.iterator().asScala
        .find(_.getFileName.toString.startsWith("part-")).get
      finally l.close()
    }
    java.nio.file.Files.move(staged,
      java.nio.file.Paths.get(dir, partName))
    // matching late rows -> serializable commit refuses
    val e = intercept[java.util.ConcurrentModificationException] {
      SnapshotLog.commitRewriteSerializable(dir, "delete", replaced,
        Seq(partName), scanned.version,
        late => late) // conservative: everything conflicts
    }
    assert(e.getMessage.contains("serializable"))
    // a check that clears the late files commits fine
    val snap = SnapshotLog.commitRewriteSerializable(dir, "delete",
      replaced, Seq(partName), scanned.version, _ => Seq.empty)
    assert(snap.operation == "delete")
    assert(snap.files.contains(partName))
  }

  test("serializable conf: UPDATE commits clean and validates predicates") {
    val dir = mkTable("serconf")
    spark.sql(
      "INSERT INTO bronze.rl.serconf SELECT id, 1, id * 1.0 FROM range(8)")
    spark.conf.set(GraftConf.RowLevelIsolationKey, "serializable")
    try {
      // no concurrent writer: the statement must behave identically
      spark.sql(
        "UPDATE bronze.rl.serconf SET amt = amt + 1.0 WHERE id < 3")
      val t = spark.table("bronze.rl.serconf")
      assert(t.filter("id < 3 AND amt = id + 1.0").count() == 3)
      assert(SnapshotLog.current(dir).get.operation == "update")
      spark.sql("DELETE FROM bronze.rl.serconf WHERE id = 7")
      assert(spark.table("bronze.rl.serconf").count() == 7)
    } finally spark.conf.unset(GraftConf.RowLevelIsolationKey)
  }

  test("DELETE with an untranslatable predicate rewrites via the group path") {
    val dir = mkTable("delsub")
    spark.sql("INSERT INTO bronze.rl.delsub SELECT id, 1, id * 1.0 FROM range(10)")
    spark.sql(
      "INSERT INTO bronze.rl.delsub SELECT id, 2, id * 1.0 FROM range(10)")
    // subquery predicate: canDeleteWhere refuses, the row-level
    // rewrite path handles it
    spark.sql(
      """DELETE FROM bronze.rl.delsub WHERE id IN
        (SELECT id FROM bronze.rl.delsub WHERE batch = 2 AND id < 3)""")
    val t = spark.table("bronze.rl.delsub")
    assert(t.count() == 14) // ids 0,1,2 die in BOTH batches
    assert(t.filter("id < 3").count() == 0)
    assert(SnapshotLog.current(dir).get.operation == "delete")
  }
}
