package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Similarity

/** MID-STREAM refresh for the LEXICAL tower — the postings-index half
  * of the build-nightly/serve-continuously seam. The PQ tower's proof
  * is [[StreamIndexRefreshSpec]]; this spec is its twin for the BM25
  * side: while an st19-style hybrid serving stream runs, a "nightly"
  * s22 delta append lands new corpus documents in the postings index
  * and stamps a new generation; the stream must pick the new
  * generation up on the next micro-batch WITHOUT restarting, answer
  * every batch exactly against the lexical generation that was
  * current when it was served, and keep the exactly-once landing
  * across the swap.
  *
  * The mechanism under test is [[Similarity.LexIndexCache]]: the
  * steady-state micro-batch pays one 1-row generation probe on
  * `s21_lex_meta`; only a changed generation pays the full index
  * reload (the old per-batch `ensureLexIndex` walk — 4 table
  * refreshes + two meta reads — could never prove this seam because
  * it re-checked everything every batch AND would happily serve a
  * mid-append state; the generation stamp is written last, so a
  * served generation is always a complete one). */
class StreamLexRefreshSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def dropLexTables(): Unit =
    Seq("s21_lex_post", "s21_lex_df", "s21_lex_dl", "s21_lex_meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def stage(dir: String, name: String, modMs: Long,
      rows: DataFrame): Unit = {
    val tmp = s"$dir/_tmp_$name"
    rows.coalesce(1).write.mode("overwrite").parquet(tmp)
    val f = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    java.nio.file.Files.move(f,
      java.nio.file.Paths.get(s"$dir/$name.parquet"))
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$dir/$name.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(modMs))
  }

  test("a lexical delta append mid-stream is served from the NEXT " +
      "micro-batch, exactly-once, without restart") {
    dropLexTables()
    val pq = Similarity.ensurePqIndex(spark, sf)
    // generation 1 = "yesterday's" corpus: everything but today's
    // doc_id%5==2 stripe, complete in itself (scope full). THIS
    // stripe because it holds the documents that take lexical ranks
    // 1-2 for the one rare-term sampled query in batch 1 (doc_ids 82
    // and 12): the fusion cut keeps only the top-3, so a delta that
    // merely reshuffles lexical ranks >=4 is invisible in the served
    // rows — withholding tomorrow's rank-1 doc makes the swap
    // OBSERVABLE, not just mechanical.
    Similarity.persistLexIndex(spark, sf, col("doc_id") % 5 =!= 2)
    assert(Similarity.LexTower.gen(spark) === 1L)

    val input = tmpDir("lex-refresh-in")
    val out = tmpDir("lex-refresh-out")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val q1 = docs.filter(col("doc_id") < 250)
    val q2 = docs.filter(col("doc_id") >= 250)
    stage(input, "00", 1000000L, q1)
    stage(input, "01", 1060000L, q2)

    // gen-1 referees for BOTH halves, BEFORE anything swaps: batch 0
    // must equal the first; batch 1 must NOT equal the second (the
    // delta really changes answers — nd/tl shift every BM25 idf and
    // 50 new corpus docs enter the postings)
    val expect1 = Similarity
      .hybridServeBatch(spark, sf, q1, pq, Similarity.loadLexIndex(spark))
      .orderBy(col("q_id"), col("rank")).collect()
    val q2AtGen1 = Similarity
      .hybridServeBatch(spark, sf, q2, pq, Similarity.loadLexIndex(spark))
      .orderBy(col("q_id"), col("rank")).collect()
    assert(expect1.nonEmpty && q2AtGen1.nonEmpty)

    // ONE continuous stream, one file per micro-batch; after batch 0
    // lands, the "nightly" s22 append stamps generation 2 — the
    // stream is never stopped
    val pqCache = new Similarity.PqIndexCache(spark)
    val lexCache = new Similarity.LexIndexCache(spark)
    val genUsed = scala.collection.concurrent.TrieMap.empty[Long, Long]
    val schema = spark.read.parquet(s"$input/00.parquet").schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(input)
      .writeStream
      .option("checkpointLocation", tmpDir("lex-refresh-ckpt"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sess = batch.sparkSession
        val lex = lexCache.current(sess)
        genUsed(batchId) = lexCache.lastGen
        Similarity.hybridServeBatch(sess, sf, batch,
          pqCache.current(sess), lex)
          .write.mode("overwrite").parquet(s"$out/b$batchId")
        if (batchId == 0L) {
          Similarity.appendLexDelta(sess, sf, col("doc_id") % 5 === 2)
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    // the swap was picked up mid-stream: batch 0 served lexical gen 1,
    // batch 1 served gen 2 — no restart in between
    assert(genUsed(0L) === 1L, s"batch 0 used lex gen ${genUsed(0L)}")
    assert(genUsed(1L) === 2L,
      s"batch 1 used lex gen ${genUsed(1L)} — the appended generation " +
        "was not picked up without a restart")
    assert(Similarity.LexTower.gen(spark) === 2L)

    // every batch is exact against ITS OWN generation's batch serve
    val got1 = spark.read.parquet(s"$out/b0")
      .orderBy(col("q_id"), col("rank")).collect()
    assert(got1.length === expect1.length && got1.nonEmpty)
    got1.zip(expect1).foreach { case (a, b) => assert(a === b) }
    val expect2 = Similarity
      .hybridServeBatch(spark, sf, q2, pq, Similarity.loadLexIndex(spark))
      .orderBy(col("q_id"), col("rank")).collect()
    val got2 = spark.read.parquet(s"$out/b1")
      .orderBy(col("q_id"), col("rank")).collect()
    assert(got2.length === expect2.length && got2.nonEmpty)
    got2.zip(expect2).foreach { case (a, b) => assert(a === b) }
    // and the delta genuinely moved the answers: serving batch 1 from
    // the stale gen-1 index would have been WRONG
    assert(!got2.map(_.toString).sameElements(q2AtGen1.map(_.toString)),
      "the delta append changed nothing — the refresh is unobservable")

    // exactly-once across the swap: every sampled query answered once
    val perQ = spark.read.parquet(s"$out/*")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sampled = (expect1 ++ expect2).map(_.getLong(0)).distinct
    assert(perQ.keySet === sampled.toSet)
  }

  test("steady state pays the generation probe, not a reload: " +
      "unchanged generation keeps the SAME lex index object") {
    dropLexTables()
    Similarity.ensureLexIndex(spark, sf)
    val cache = new Similarity.LexIndexCache(spark)
    val first = cache.current(spark)
    assert(cache.current(spark) eq first,
      "unchanged generation re-loaded the lexical index")
    // a rebuild (gen bump) -> a fresh instance with the new scalars
    Similarity.persistLexIndex(spark, sf, col("doc_id") % 5 =!= 2)
    val second = cache.current(spark)
    assert(!(second eq first) && second.nd < first.nd)
  }
}
