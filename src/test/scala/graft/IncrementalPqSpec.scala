package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** s24 — incremental PQ-codes maintenance. The oracle gate proves the
  * end-to-end semantics (serve from base-build + frozen-quantizer
  * append == the two-phase twin, hash-exact); this spec pins the
  * MECHANISM:
  *
  *  - the append APPENDS: every base codes segment survives
  *    byte-identical (the delta bucketed only itself through the
  *    catalog spec — s17/s22's discipline), and the appended rows
  *    make every delta vector servable;
  *  - the generation bumps and a serving cache picks the delta up
  *    without restart (the PqIndexCache contract extended to
  *    appends);
  *  - the scope guard: an incrementally-maintained index is NOT the
  *    from-scratch build (different training corpus), so
  *    ensurePqIndex treats scope "incremental" as stale and rebuilds
  *    a "full" one for the from-scratch-contract consumers. */
class IncrementalPqSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def dropIndexTables(): Unit =
    Seq("s18_pq_sc", "s18_pq_cells", "s18_pq_cb", "s18_pq_codes",
      "s18_pq_meta").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def md5Of(path: String): String = {
    val f = new java.io.File(new java.net.URI(path))
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(java.nio.file.Files.readAllBytes(f.toPath))
      .map("%02x".format(_)).mkString
  }

  test("the delta lands as a byte-level append and its vectors become " +
      "servable; the generation bump carries it into a serving cache") {
    dropIndexTables()
    Similarity.persistPqIndex(spark, sf,
      Similarity.buildPqIndex(spark, sf,
        Some(col("vec_id") % 10 =!= 0)))
    assert(Similarity.PqTower.gen(spark) === 1L)
    val cache = new Similarity.PqIndexCache(spark)
    val baseIdx = cache.current(spark)
    val baseFiles = spark.table("s18_pq_codes").inputFiles
      .map(p => p -> md5Of(p)).toMap
    assert(baseFiles.nonEmpty)
    val baseIds = spark.table("s18_pq_codes")
      .select(col("c_id")).collect().map(_.getLong(0)).toSet
    assert(!baseIds.exists(_ % 10 == 0), "base build leaked the delta")

    Similarity.appendPqDelta(spark, sf, col("vec_id") % 10 === 0)

    // every base segment survives byte-identical — the delta appended
    val afterFiles = spark.table("s18_pq_codes").inputFiles.toSet
    baseFiles.foreach { case (p, sum) =>
      assert(afterFiles.contains(p), s"base segment $p was rewritten")
      assert(md5Of(p) === sum, s"base segment $p changed bytes")
    }
    assert(afterFiles.size > baseFiles.size,
      "the delta landed no new segment")
    // and the codes table now covers the WHOLE even corpus
    val allIds = spark.table("s18_pq_codes")
      .select(col("c_id")).collect().map(_.getLong(0)).toSet
    val evenAll = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") % 2 === 0)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(allIds === evenAll)

    // the serving cache sees the bump and reloads — no restart; the
    // reloaded candidate map reaches the delta rows
    assert(Similarity.PqTower.gen(spark) === 2L)
    val refreshed = cache.current(spark)
    assert(!(refreshed eq baseIdx),
      "the append's generation bump did not refresh the cache")
    assert(refreshed.cellm.filter(col("c_id") % 10 === 0).count() > 0)
    // dials are the BASE build's (calibration belongs to the nightly
    // train, not the delta)
    assert(refreshed.np === baseIdx.np && refreshed.sl === baseIdx.sl)
  }

  private def stage(dir: String, name: String, modMs: Long,
      rows: org.apache.spark.sql.DataFrame): Unit = {
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

  test("a delta append mid-stream is served from the NEXT micro-batch " +
      "without restart — the vector-side twin of StreamLexRefreshSpec") {
    import org.apache.spark.sql.streaming.Trigger
    dropIndexTables()
    // gen 1 = "yesterday's" corpus: everything but today's stripe
    Similarity.persistPqIndex(spark, sf,
      Similarity.buildPqIndex(spark, sf,
        Some(col("vec_id") % 10 =!= 0)))
    assert(Similarity.PqTower.gen(spark) === 1L)

    val input = tmpDir("pq-append-in")
    val out = tmpDir("pq-append-out")
    val odd = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("embedding"))
    val q1 = odd.filter(col("vec_id") < 250)
    val q2 = odd.filter(col("vec_id") >= 250)
    stage(input, "00", 1000000L, q1)
    stage(input, "01", 1060000L, q2)
    def qFrame(rows: org.apache.spark.sql.DataFrame) = rows
      .select(col("vec_id").as("q_id"), col("embedding").as("av"))

    // gen-1 referees BEFORE the append: batch 0 must equal the first;
    // batch 1 must NOT equal the second (125 queries, 10% of the
    // corpus arrives — some answers must improve onto delta vectors)
    val expect1 = Similarity
      .servePqBatch(spark, sf, qFrame(q1), Similarity.loadPqIndex(spark))
      .orderBy(col("q_id")).collect()
    val q2AtGen1 = Similarity
      .servePqBatch(spark, sf, qFrame(q2), Similarity.loadPqIndex(spark))
      .orderBy(col("q_id")).collect()

    val cache = new Similarity.PqIndexCache(spark)
    val genUsed = scala.collection.concurrent.TrieMap.empty[Long, Long]
    val schema = spark.read.parquet(s"$input/00.parquet").schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(input)
      .select(col("vec_id").as("q_id"), col("embedding").as("av"))
      .writeStream
      .option("checkpointLocation", tmpDir("pq-append-ckpt"))
      .foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val sess = batch.sparkSession
        val idx = cache.current(sess)
        genUsed(batchId) = cache.lastGen
        Similarity.servePqBatch(sess, sf, batch, idx)
          .write.mode("overwrite").parquet(s"$out/b$batchId")
        if (batchId == 0L) {
          // the nightly delta lands WHILE the stream serves
          Similarity.appendPqDelta(sess, sf, col("vec_id") % 10 === 0)
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    assert(genUsed(0L) === 1L && genUsed(1L) === 2L,
      s"append not picked up without restart: $genUsed")
    val got1 = spark.read.parquet(s"$out/b0")
      .orderBy(col("q_id")).collect()
    assert(got1.length === expect1.length && got1.nonEmpty)
    got1.zip(expect1).foreach { case (a, b) => assert(a === b) }
    val expect2 = Similarity
      .servePqBatch(spark, sf, qFrame(q2), Similarity.loadPqIndex(spark))
      .orderBy(col("q_id")).collect()
    val got2 = spark.read.parquet(s"$out/b1")
      .orderBy(col("q_id")).collect()
    assert(got2.length === expect2.length && got2.nonEmpty)
    got2.zip(expect2).foreach { case (a, b) => assert(a === b) }
    assert(!got2.map(_.toString).sameElements(q2AtGen1.map(_.toString)),
      "the delta changed no answer — the refresh is unobservable")
  }

  test("scope guard: ensurePqIndex rebuilds over an incremental index " +
      "(the from-scratch contract), never serves it silently") {
    dropIndexTables()
    Similarity.persistPqIndex(spark, sf,
      Similarity.buildPqIndex(spark, sf,
        Some(col("vec_id") % 10 =!= 0)))
    Similarity.appendPqDelta(spark, sf, col("vec_id") % 10 === 0)
    assert(spark.table("s18_pq_meta").head()
      .getAs[String]("scope") === "incremental")
    val gBefore = Similarity.PqTower.gen(spark)
    Similarity.ensurePqIndex(spark, sf)
    val m = spark.table("s18_pq_meta").head()
    assert(m.getAs[String]("scope") === "full",
      "ensurePqIndex served the incremental index as the " +
        "from-scratch build")
    assert(m.getAs[Long]("gen") === gBefore + 1L)
  }
}
