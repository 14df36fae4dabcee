package graft

import java.nio.file.{Files, Paths}

import graft.catalog.{BronzeCatalog, SnapshotLog}
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.graftshim.shim
import org.apache.spark.sql.types.{DataType, StructType}

/** A bronze table reports its schema from the snapshot's pin, without
  * building a file index. It must be the schema Spark's `FileTable`
  * derives, by listing, from the same declared schema: every field
  * nullable, parquet field ids kept — for a plain table, after ADD and
  * RENAME COLUMN, `VERSION AS OF` an older pin, with partition
  * transforms, and in a legacy dir with no snapshot log. */
class SchemaIdentitySpec extends SparkSpec {

  private def catalog: BronzeCatalog = {
    bronzeWarehouse
    spark.sessionState.catalogManager.catalog("bronze")
      .asInstanceOf[BronzeCatalog]
  }

  private def mk(name: String, partitionedBy: String = ""): String = {
    bronzeWarehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS bronze.si")
    spark.sql(s"DROP TABLE IF EXISTS bronze.si.$name")
    spark.sql(s"CREATE TABLE bronze.si.$name (id BIGINT NOT NULL, v STRING, " +
      s"d DATE) USING parquet $partitionedBy")
    spark.sql(s"INSERT INTO bronze.si.$name " +
      "SELECT id, concat('v', id), DATE'2026-01-01' + CAST(id AS INT) FROM range(10)")
    catalog.tableDir(Seq("si"), name)
  }

  private def ident(name: String) = Identifier.of(Array("si"), name)

  /** The declared schema `snap` pins (the root sidecar without one). */
  private def pinned(dir: String, snap: Option[SnapshotLog.Snapshot]): StructType =
    DataType.fromJson(snap.flatMap(_.schemaFile) match {
      case Some(f) => SnapshotLog.readSchemaSidecar(dir, f)
      case None => Files.readString(Paths.get(dir, "_graft_schema.json"))
    }).asInstanceOf[StructType]

  /** What a listing-mode `FileTable` over `dir` reports for `declared`. */
  private def listed(dir: String, declared: StructType): StructType =
    shim.parquetTable(spark, "listed", dir, Some(declared)).schema()

  private def assertSame(dir: String, got: StructType,
      snap: Option[SnapshotLog.Snapshot]): Unit = {
    val want = listed(dir, pinned(dir, snap))
    assert(got === want)
    assert(got.fields.forall(f => f.nullable &&
      f.metadata.contains("parquet.field.id")))
  }

  test("a plain table") {
    val dir = mk("plain")
    assertSame(dir, catalog.loadTable(ident("plain")).schema(),
      SnapshotLog.current(dir))
  }

  test("after ADD COLUMN and RENAME COLUMN, and VERSION AS OF the older pin") {
    val dir = mk("evolve")
    val v0 = SnapshotLog.current(dir).get.version
    spark.sql("ALTER TABLE bronze.si.evolve ADD COLUMN note STRING")
    assertSame(dir, catalog.loadTable(ident("evolve")).schema(),
      SnapshotLog.current(dir))
    spark.sql("ALTER TABLE bronze.si.evolve RENAME COLUMN v TO label")
    val now = catalog.loadTable(ident("evolve")).schema()
    assertSame(dir, now, SnapshotLog.current(dir))
    assert(now.fieldNames.toSeq === Seq("id", "label", "d", "note"))
    val old = catalog.loadTable(ident("evolve"), v0.toString).schema()
    assertSame(dir, old, Some(SnapshotLog.read(dir, v0)))
    assert(old.fieldNames.toSeq === Seq("id", "v", "d"))
  }

  test("a table with partition transforms") {
    val dir = mk("parts", "PARTITIONED BY (bucket(4, id), days(d))")
    val t = catalog.loadTable(ident("parts"))
    assert(t.partitioning().length === 2)
    assertSame(dir, t.schema(), SnapshotLog.current(dir))
  }

  test("a legacy dir with no snapshot log") {
    val dir = mk("legacy")
    LocalFs.deleteTree(Paths.get(dir, "_graft_snapshots"))
    assert(SnapshotLog.current(dir).isEmpty)
    assertSame(dir, catalog.loadTable(ident("legacy")).schema(), None)
    assert(spark.table("bronze.si.legacy").count() === 10L)
  }
}
