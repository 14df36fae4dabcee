package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** s26 — PQ-codes compaction. The oracle gate proves serve-level
  * equality (compacted == the s24 two-phase twin, hash-exact); this
  * spec pins the MECHANISM:
  *
  *  - file-count collapse: after base + delta the codes table holds
  *    base AND delta segments (one small file per touched cid bucket
  *    per append); compaction bin-packs back to one file per bucket
  *    and removes every superseded segment;
  *  - layout-only: codes rows, dials, measured recall, and scope are
  *    unchanged by compaction;
  *  - the generation bumps, so a serving stream's PqIndexCache
  *    reloads (fresh file listing) on its next micro-batch instead of
  *    reading the deleted pre-compaction parts;
  *  - crash recovery: a kill BETWEEN the swap's DROP and RENAME
  *    leaves the new generation under the staging name as the only
  *    copy — re-running compaction completes the rename first (the
  *    shared swapCompact discipline, proven here for the codes
  *    table). */
class PqCompactionSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def dropIndexTables(): Unit =
    Seq("s18_pq_sc", "s18_pq_cells", "s18_pq_cb", "s18_pq_codes",
      "s18_pq_meta", "s18_pq_codes_next").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def buildIncremental(): Unit = {
    dropIndexTables()
    Similarity.persistPqIndex(spark, sf,
      Similarity.buildPqIndex(spark, sf,
        Some(col("vec_id") % 10 =!= 0)))
    // three "nights" of deltas (%30 ∈ {0,10,20} partitions the
    // %10==0 stripe exactly): each append fragments every touched
    // cid bucket by one more file — the state compaction exists for
    Seq(0, 10, 20).foreach(r =>
      Similarity.appendPqDelta(spark, sf, col("vec_id") % 30 === r))
  }

  private def snapshot(): Map[String, Array[String]] = Map(
    "codes" -> spark.table("s18_pq_codes")
      .orderBy(col("c_id")).collect().map(_.toString),
    "meta" -> spark.table("s18_pq_meta")
      .select(col("np"), col("sl"), col("cand_recall"), col("scope"))
      .collect().map(_.toString))

  test("compaction bin-packs the codes table, changes no row, and " +
      "bumps the generation") {
    buildIncremental()
    val before = snapshot()
    assert(before("meta").head.contains("incremental"))
    val genBefore = Similarity.PqTower.gen(spark)
    val filesBefore = spark.table("s18_pq_codes").inputFiles
    assert(filesBefore.length > 8,
      "setup failed: the delta appends landed no extra codes segments")

    Similarity.compactPqCodes(spark, sf)

    val files = spark.table("s18_pq_codes").inputFiles
    assert(files.length <= 8 && files.nonEmpty,
      s"expected at most one codes file per cid bucket, got " +
        s"${files.length}")
    assert(files.length < filesBefore.length)
    // every pre-compaction file is gone — the superseded generation
    // was removed, not left to double storage
    assert(filesBefore.toSet.intersect(files.toSet).isEmpty)

    val after = snapshot()
    before.foreach { case (name, rows) =>
      assert(after(name).sameElements(rows),
        s"compaction changed the $name table")
    }
    assert(Similarity.PqTower.gen(spark) === genBefore + 1L,
      "compaction must stamp a new generation or serving streams " +
        "keep reading the deleted pre-compaction file listing")
  }

  test("a crash between DROP and RENAME is recovered: re-running " +
      "compaction completes the interrupted swap, losing nothing") {
    buildIncremental()
    val want = snapshot()

    // reproduce the crash window by hand: stage the new generation,
    // drop the live table, kill before the rename — the staging
    // table now holds the ONLY copy
    val scanKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    spark.conf.set(scanKey, "false")
    try {
      spark.sql("DROP TABLE IF EXISTS s18_pq_codes_next")
      val cur = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("s18_pq_codes"))
        .location.getPath.stripSuffix("/")
      val next =
        if (cur.endsWith("-a")) cur.stripSuffix("-a") + "-b"
        else cur.stripSuffix("-b") + "-a"
      spark.table("s18_pq_codes")
        .write.mode("overwrite").option("path", next)
        .bucketBy(8, "cid").sortBy("cid")
        .saveAsTable("s18_pq_codes_next")
      spark.sql("DROP TABLE s18_pq_codes") // crash lands HERE
    } finally spark.conf.set(scanKey, "true")

    // re-run: recovery completes the rename before anything else,
    // then the pass compacts normally end-to-end
    Similarity.compactPqCodes(spark, sf)

    val got = snapshot()
    want.foreach { case (name, rows) =>
      assert(got(name).sameElements(rows),
        s"crash recovery lost rows in the $name table")
    }
    assert(spark.table("s18_pq_codes").inputFiles.length <= 8)
  }

  test("a compaction mid-stream is crossed without restart: the " +
      "serving cache reloads on the generation bump and answers " +
      "identically (layout-only)") {
    buildIncremental()
    val cache = new Similarity.PqIndexCache(spark)
    val qs = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("q_id"), col("embedding").as("av"))
    val before = Similarity
      .servePqBatch(spark, sf, qs, cache.current(spark))
      .orderBy(col("q_id")).collect()
    val genBefore = cache.lastGen

    Similarity.compactPqCodes(spark, sf)

    // next "micro-batch": the cache sees the bumped generation,
    // reloads with a fresh file listing, and the answers are the same
    val idx2 = cache.current(spark)
    assert(cache.lastGen === genBefore + 1L)
    val after = Similarity
      .servePqBatch(spark, sf, qs, idx2)
      .orderBy(col("q_id")).collect()
    assert(after.length === before.length && after.nonEmpty)
    after.zip(before).foreach { case (a, b) => assert(a === b) }
  }
}
