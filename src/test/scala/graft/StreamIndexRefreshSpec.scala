package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Similarity

/** MID-STREAM index refresh — the build-nightly/serve-continuously
  * seam (the r16 VERDICT's missing item 2): while the st17-style
  * serving stream runs, a "nightly" job persists a NEW index
  * generation; the stream must pick the new generation up on the next
  * micro-batch WITHOUT restarting, answer every batch exactly against
  * the generation that was current when it was served (pre-swap
  * batches from gen 1, post-swap batches from gen 2 — each equal to
  * its generation's batch-side serve, row for row), and keep the
  * exactly-once landing across the swap.
  *
  * The mechanism under test is [[Similarity.PqIndexCache]]: the
  * steady-state micro-batch pays one 1-row generation probe on the
  * meta table; only a changed generation pays the full index reload.
  * (That probe is also why this works at all — the r16 per-batch
  * `loadPqIndex` was pure overhead AND would have masked this test's
  * point, while a load-once-before-writeStream design could never
  * refresh.) */
class StreamIndexRefreshSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def dropIndexTables(): Unit =
    Seq("s18_pq_sc", "s18_pq_cells", "s18_pq_cb", "s18_pq_codes",
      "s18_pq_meta").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def stage(dir: String, name: String, modMs: Long,
      rows: DataFrame): Unit = {
    val tmp = s"$dir/_tmp_$name"
    rows.coalesce(1).write.mode("overwrite").parquet(tmp)
    val f = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    java.nio.file.Files.move(f,
      java.nio.file.Paths.get(s"$dir/$name.parquet"))
    // distinct mtimes pin the micro-batch order (FileStreamSource
    // orders by timestamp): batch 0 = the pre-swap workload
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$dir/$name.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(modMs))
  }

  test("a new index generation persisted mid-stream is served from " +
      "the NEXT micro-batch, exactly-once, without restart") {
    dropIndexTables()
    Similarity.ensurePqIndex(spark, sf) // generation 1
    assert(Similarity.PqTower.gen(spark) === 1L)

    val input = tmpDir("idx-refresh-in")
    val out = tmpDir("idx-refresh-out")
    val odd = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("embedding"))
    val q1 = odd.filter(col("vec_id") < 250)
    val q2 = odd.filter(col("vec_id") >= 250)
    stage(input, "00", 1000000L, q1)
    stage(input, "01", 1060000L, q2)

    def qFrame(rows: DataFrame) = rows
      .select(col("vec_id").as("q_id"), col("embedding").as("av"))

    // gen-1 referee for the pre-swap batch, BEFORE anything swaps
    val expect1 = Similarity
      .servePqBatch(spark, sf, qFrame(q1), Similarity.loadPqIndex(spark))
      .collect()

    // ONE continuous stream, one file per micro-batch; after batch 0
    // is served and landed, the "nightly job" persists generation 2
    // under a pinned-nprobe dial — the stream is never stopped
    val cache = new Similarity.PqIndexCache(spark)
    val genUsed = scala.collection.concurrent.TrieMap.empty[Long, Long]
    val schema = spark.read.parquet(s"$input/00.parquet").schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(input)
      .select(col("vec_id").as("q_id"), col("embedding").as("av"))
      .writeStream
      .option("checkpointLocation", tmpDir("idx-refresh-ckpt"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sess = batch.sparkSession
        val idx = cache.current(sess)
        genUsed(batchId) = cache.lastGen
        Similarity.servePqBatch(sess, sf, batch, idx)
          .write.mode("overwrite").parquet(s"$out/b$batchId")
        if (batchId == 0L) {
          // the concurrent nightly rebuild: new generation, new dial
          sess.conf.set(GraftConf.IvfNprobeKey, "1")
          try Similarity.persistPqIndex(sess, sf,
            Similarity.buildPqIndex(sess, sf))
          finally sess.conf.unset(GraftConf.IvfNprobeKey)
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    // the swap was picked up mid-stream: batch 0 served gen 1,
    // batch 1 served gen 2 — no restart in between
    assert(genUsed(0L) === 1L, s"batch 0 used gen ${genUsed(0L)}")
    assert(genUsed(1L) === 2L,
      s"batch 1 used gen ${genUsed(1L)} — the new generation was " +
        "not picked up without a restart")
    assert(Similarity.PqTower.gen(spark) === 2L)

    // every batch is exact against ITS OWN generation's batch serve
    val got1 = spark.read.parquet(s"$out/b0")
      .orderBy(col("q_id")).collect()
    assert(got1.length === expect1.length && got1.length > 0)
    got1.zip(expect1).foreach { case (a, b) => assert(a === b) }
    val expect2 = Similarity
      .servePqBatch(spark, sf, qFrame(q2), Similarity.loadPqIndex(spark))
      .collect()
    val got2 = spark.read.parquet(s"$out/b1")
      .orderBy(col("q_id")).collect()
    assert(got2.length === expect2.length && got2.length > 0)
    got2.zip(expect2).foreach { case (a, b) => assert(a === b) }
    // and the gen-2 index really carries the new dial
    assert(Similarity.loadPqIndex(spark).np === 1)

    // exactly-once across the swap: every odd query answered once
    val qids = spark.read.parquet(s"$out/*")
      .select(col("q_id")).collect().map(_.getLong(0))
    assert(qids.distinct.length === qids.length)
    assert(qids.length === odd.count())
  }

  test("steady state pays the generation probe, not a reload: " +
      "unchanged generation keeps the SAME index object") {
    dropIndexTables()
    Similarity.ensurePqIndex(spark, sf)
    val cache = new Similarity.PqIndexCache(spark)
    val first = cache.current(spark)
    // same generation -> the cached instance, not a re-derived one
    assert(cache.current(spark) eq first,
      "unchanged generation re-loaded the index")
    // a new persist (gen bump) -> a fresh instance with the new dials
    spark.conf.set(GraftConf.IvfNprobeKey, "1")
    try Similarity.persistPqIndex(spark, sf,
      Similarity.buildPqIndex(spark, sf))
    finally spark.conf.unset(GraftConf.IvfNprobeKey)
    val second = cache.current(spark)
    assert(!(second eq first) && second.np === 1)
  }
}
