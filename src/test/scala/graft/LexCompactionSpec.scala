package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** s23 — lexical-index compaction. The oracle gate proves serve-level
  * equality (compacted == from-source, hash-exact); this spec pins the
  * MECHANISM:
  *
  *  - file-count collapse: after base + delta the postings table holds
  *    base AND delta segments; compaction leaves exactly ONE file per
  *    term-bucket (8), and the doc-lengths table bin-packs too;
  *  - layout-only: postings/df/dl/meta-scalars are row-for-row
  *    unchanged by compaction;
  *  - the generation bumps, so a serving stream's LexIndexCache
  *    reloads (fresh file listing) on its next micro-batch instead of
  *    reading the deleted pre-compaction parts;
  *  - crash recovery: a kill BETWEEN the swap's DROP and RENAME leaves
  *    the new generation under the staging name as the only copy —
  *    re-running compaction completes the rename first (the r14
  *    hazard: a defensive staging drop must never destroy the sole
  *    surviving generation). */
class LexCompactionSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def dropLexTables(): Unit =
    Seq("s21_lex_post", "s21_lex_df", "s21_lex_dl", "s21_lex_meta",
      "s21_lex_post_next", "s21_lex_dl_next")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def buildIncremental(): Unit = {
    dropLexTables()
    Similarity.persistLexIndex(spark, sf, col("doc_id") % 5 =!= 0,
      scope = "partial")
    Similarity.appendLexDelta(spark, sf, col("doc_id") % 5 === 0)
  }

  private def snapshot(): Map[String, Array[String]] = Map(
    "post" -> spark.table("s21_lex_post")
      .orderBy(col("doc_id"), col("term"))
      .collect().map(_.toString),
    "df" -> spark.table("s21_lex_df").orderBy(col("term"))
      .collect().map(_.toString),
    "dl" -> spark.table("s21_lex_dl").orderBy(col("doc_id"))
      .collect().map(_.toString),
    "meta" -> spark.table("s21_lex_meta")
      .select(col("nd"), col("tl"), col("scope"))
      .collect().map(_.toString))

  test("compaction bin-packs to one file per bucket, changes no row, " +
      "and bumps the generation") {
    buildIncremental()
    val before = snapshot()
    val genBefore = Similarity.LexTower.gen(spark)
    val postFilesBefore = spark.table("s21_lex_post").inputFiles
    val dlFilesBefore = spark.table("s21_lex_dl").inputFiles
    assert(postFilesBefore.length > 8,
      "setup failed: the delta append landed no extra postings segments")

    Similarity.compactLexIndex(spark, sf)

    val postFiles = spark.table("s21_lex_post").inputFiles
    assert(postFiles.length === 8,
      s"expected one postings file per bucket, got ${postFiles.length}")
    assert(spark.table("s21_lex_dl").inputFiles.length
      < dlFilesBefore.length)
    // every pre-compaction file is gone — the superseded generation
    // was removed, not left to double storage
    assert(postFilesBefore.toSet.intersect(postFiles.toSet).isEmpty)

    val after = snapshot()
    before.foreach { case (name, rows) =>
      assert(after(name).sameElements(rows),
        s"compaction changed the $name table")
    }
    assert(Similarity.LexTower.gen(spark) === genBefore + 1L,
      "compaction must stamp a new generation or serving streams " +
        "keep reading the deleted pre-compaction file listing")
  }

  test("a crash between DROP and RENAME is recovered: re-running " +
      "compaction completes the interrupted swap, losing nothing") {
    buildIncremental()
    val want = snapshot()

    // reproduce the crash window for the POSTINGS swap by hand:
    // stage the new generation, drop the live table, kill before the
    // rename — the staging table now holds the ONLY copy
    val scanKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    spark.conf.set(scanKey, "false")
    try {
      spark.sql("DROP TABLE IF EXISTS s21_lex_post_next")
      val cur = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("s21_lex_post"))
        .location.getPath.stripSuffix("/")
      val next =
        if (cur.endsWith("-a")) cur.stripSuffix("-a") + "-b"
        else cur.stripSuffix("-b") + "-a"
      spark.table("s21_lex_post")
        .write.mode("overwrite").option("path", next)
        .bucketBy(8, "term").sortBy("term")
        .saveAsTable("s21_lex_post_next")
      spark.sql("DROP TABLE s21_lex_post") // crash lands HERE
    } finally spark.conf.set(scanKey, "true")

    // re-run: recovery completes the rename before anything else,
    // then the pass compacts normally end-to-end
    Similarity.compactLexIndex(spark, sf)

    val got = snapshot()
    want.foreach { case (name, rows) =>
      assert(got(name).sameElements(rows),
        s"crash recovery lost rows in the $name table")
    }
    assert(spark.table("s21_lex_post").inputFiles.length === 8)
  }

  test("a compaction mid-stream is crossed without restart: the " +
      "serving stream reloads on the generation bump and answers " +
      "identically (layout-only)") {
    buildIncremental()
    val pq = Similarity.ensurePqIndex(spark, sf)
    val cache = new Similarity.LexIndexCache(spark)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val before = Similarity
      .hybridServeBatch(spark, sf, docs, pq, cache.current(spark))
      .orderBy(col("q_id"), col("rank")).collect()
    val genBefore = cache.lastGen

    Similarity.compactLexIndex(spark, sf)

    // next "micro-batch": the cache sees the bumped generation,
    // reloads with a fresh file listing, and the answers are the same
    val lex2 = cache.current(spark)
    assert(cache.lastGen === genBefore + 1L)
    val after = Similarity
      .hybridServeBatch(spark, sf, docs, pq, lex2)
      .orderBy(col("q_id"), col("rank")).collect()
    assert(after.length === before.length && after.nonEmpty)
    after.zip(before).foreach { case (a, b) => assert(a === b) }
  }
}
