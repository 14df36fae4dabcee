package graft

import graft.catalog.SnapshotLog
import org.apache.spark.sql.streaming.Trigger

/** Change-data-feed streaming read (`bronze.db.t.changes`): per-op
  * change typing, carryover cancellation, replace invisibility, and
  * checkpointed restart — the CDC consumer of the copy-on-write ops. */
class CdcStreamSpec extends SparkSpec {

  private lazy val warehouse: String = bronzeWarehouse

  private def bronzeCatalog: graft.catalog.BronzeCatalog = {
    warehouse
    spark.sessionState.catalogManager.catalog("bronze")
      .asInstanceOf[graft.catalog.BronzeCatalog]
  }

  private def mkTable(name: String): String = {
    warehouse
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS bronze.cdc")
    spark.sql(s"DROP TABLE IF EXISTS bronze.cdc.$name")
    spark.sql(
      s"CREATE TABLE bronze.cdc.$name (id BIGINT, amt DOUBLE) USING parquet")
    bronzeCatalog.tableDir(Seq("cdc"), name)
  }

  /** Drain the change feed from version 0 into a fresh memory sink;
    * returns (id, amt, _change_type, _commit_version) tuples. */
  private def drain(table: String, sink: String,
      checkpoint: Option[String] = None): Seq[(Long, Double, String, Long)] = {
    var w = spark.readStream.option("startingVersion", "0")
      .table(s"bronze.cdc.$table.changes")
      .writeStream.format("memory").queryName(sink)
      .trigger(Trigger.AvailableNow())
    checkpoint.foreach(c => w = w.option("checkpointLocation", c))
    val sq = w.start()
    sq.awaitTermination()
    spark.table(sink).collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getString(2), r.getLong(3))).toSeq
  }

  test("change feed types every op; replace emits nothing; nets are exact") {
    val dir = mkTable("ops")
    spark.sql("INSERT INTO bronze.cdc.ops SELECT id, id * 1.0 FROM range(10)")
    spark.sql(
      "INSERT INTO bronze.cdc.ops SELECT id + 10, id * 1.0 FROM range(5)")
    spark.sql("DELETE FROM bronze.cdc.ops WHERE id < 3")
    bronzeCatalog.optimizeTable(Seq("cdc"), "ops", 1L << 30) // replace
    spark.sql("UPDATE bronze.cdc.ops SET amt = amt + 100.0 WHERE id = 12")
    val rows = drain("ops", "cdc_ops")
    // v1/v2 appends: pure inserts with their commit versions
    assert(rows.filter(_._4 == 1L).forall(_._3 == "insert"))
    assert(rows.count(_._4 == 1L) == 10)
    assert(rows.filter(_._4 == 2L).forall(_._3 == "insert"))
    assert(rows.count(_._4 == 2L) == 5)
    // v3 delete: deleted ids appear as `delete`; carryover survivors
    // (same file as a deleted row) appear as delete+insert pairs
    val v3 = rows.filter(_._4 == 3L)
    assert(v3.exists(r => r._3 == "delete" && r._1 < 3))
    val v3net = v3.map(r => if (r._3 == "insert") 1 else -1).sum
    assert(v3net == -3, s"delete net should be -3, got $v3net")
    // v4 replace (compaction): INVISIBLE to the feed
    assert(rows.count(_._4 == 4L) == 0)
    // v5 update: before/after pair nets +100 on amt, 0 on rows
    val v5 = rows.filter(_._4 == 5L)
    assert(v5.nonEmpty)
    assert(v5.map(_._3).toSet.subsetOf(Set("update_before", "update_after")))
    assert(v5.map(r => if (r._3 == "update_after") 1 else -1).sum == 0)
    val v5amt = v5.map(r =>
      if (r._3 == "update_after") r._2 else -r._2).sum
    assert(math.abs(v5amt - 100.0) < 1e-9, s"update net amt: $v5amt")
    // the updated row's post-image is present verbatim
    assert(v5.contains((12L, 102.0, "update_after", 5L)))
    assert(v5.contains((12L, 2.0, "update_before", 5L)))
  }

  test("change feed resumes from its checkpoint without re-emission") {
    mkTable("resume")
    val ckpt = tmpDir("graft-cdc-ckpt-")
    // memory sink cannot recover a checkpoint; foreachBatch can —
    // and is the realistic CDC-consumer shape anyway
    def runOnce(): Seq[(Long, String, Long)] = {
      val acc = new java.util.concurrent
        .ConcurrentLinkedQueue[(Long, String, Long)]()
      val q = spark.readStream.option("startingVersion", "0")
        .table("bronze.cdc.resume.changes")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r =>
            acc.add((r.getLong(0), r.getString(2), r.getLong(3))))
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      acc.asScala.toSeq
    }
    spark.sql(
      "INSERT INTO bronze.cdc.resume SELECT id, id * 1.0 FROM range(6)")
    val first = runOnce()
    assert(first.size == 6 && first.forall(_._2 == "insert"))
    // more commits while the stream is down
    spark.sql(
      "INSERT INTO bronze.cdc.resume SELECT id + 6, id * 1.0 FROM range(2)")
    spark.sql("DELETE FROM bronze.cdc.resume WHERE id = 0")
    // restart from the SAME checkpoint: only the new versions emit
    val second = runOnce()
    assert(second.forall(_._3 >= 2L), s"re-emitted old versions: $second")
    assert(second.count(t => t._2 == "insert" && t._3 == 2L) == 2)
    assert(second.exists(t => t._1 == 0L && t._2 == "delete"))
    // net across both drains = current table state
    val netRows = first.size +
      second.map(t => if (t._2 == "insert") 1 else -1).sum
    assert(netRows.toLong == spark.table("bronze.cdc.resume").count())
  }

  test("batch read of .changes: full history or a version window") {
    mkTable("batchcdf")
    spark.sql(
      "INSERT INTO bronze.cdc.batchcdf SELECT id, id * 1.0 FROM range(4)")
    spark.sql(
      "INSERT INTO bronze.cdc.batchcdf SELECT id + 4, 1.0 FROM range(2)")
    spark.sql("DELETE FROM bronze.cdc.batchcdf WHERE id = 1")
    // full history (no options): every change row, v1..v3
    val all = spark.read.table("bronze.cdc.batchcdf.changes")
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
    assert(all.count(t => t._2 == "insert" && t._3 == 1L) == 4)
    assert(all.count(t => t._2 == "insert" && t._3 == 2L) == 2)
    assert(all.exists(t => t._1 == 1L && t._2 == "delete" && t._3 == 3L))
    // net across the feed = current table state
    assert(all.map(t => if (t._2 == "insert") 1 else -1).sum.toLong ==
      spark.table("bronze.cdc.batchcdf").count())
    // version window (startingVersion EXCLUSIVE, like the stream's
    // offset semantics): changes after v2 only
    val tail = spark.read.option("startingVersion", "2")
      .table("bronze.cdc.batchcdf.changes")
      .collect().map(r => (r.getString(2), r.getLong(3)))
    assert(tail.forall(_._2 == 3L))
    // bounded window: (0, 1] = just the first append
    val w1 = spark.read.option("startingVersion", "0")
      .option("endingVersion", "1")
      .table("bronze.cdc.batchcdf.changes").collect()
    assert(w1.length == 4 && w1.forall(_.getString(2) == "insert"))
  }
}
