package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Similarity

/** maintainPqIndex — the consumer s27's `rebuild_due` verdict
  * existed for (the r17 VERDICT's item 2: the audit emitted the bit,
  * nothing acted on it). Pins, against an AGED index (base-stripe
  * build + frozen-quantizer delta — the state a week of nightly
  * appends leaves behind):
  *
  *  - NOT due → no rebuild: generation unchanged, incremental scope
  *    kept (maintenance is a no-op when the measurement says so);
  *  - due → the rebuild runs automatically: generation bumps, scope
  *    flips back to "full", and the serve answers change to the
  *    from-scratch index's (value-level identity with the from-
  *    scratch twin is s29's hash gate);
  *  - a SERVING STREAM crosses the maintenance rebuild mid-stream
  *    without restart (StreamIndexRefreshSpec's shape, with
  *    maintainPqIndex as the "nightly job"): pre-maintenance batches
  *    serve the aged generation, post-maintenance batches the
  *    rebuilt one, exactly-once across the swap. */
class PqMaintainSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def dropIndexTables(): Unit =
    Seq("s18_pq_sc", "s18_pq_cells", "s18_pq_cb", "s18_pq_codes",
      "s18_pq_meta").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))

  /** Base-stripe build + delta append: the aged state s27 audits. */
  private def age(): Unit = {
    dropIndexTables()
    Similarity.persistPqIndex(spark, sf,
      Similarity.buildPqIndex(spark, sf,
        Some(col("vec_id") % 10 =!= 0)))
    Similarity.appendPqDelta(spark, sf, col("vec_id") % 10 === 0)
  }

  test("not due -> no rebuild: generation unchanged, incremental " +
      "scope kept") {
    age()
    val g0 = Similarity.PqTower.gen(spark)
    // floor 0 can never exceed a recall fraction; drift cap 1 can
    // never be exceeded by a drift of fractions — both triggers
    // armed, neither fires
    val rebuilt = Similarity.maintainPqIndex(spark, sf,
      floorOverride = Some(0.0), driftOverride = Some(1.0))
    assert(!rebuilt, "maintenance rebuilt without a due verdict")
    assert(Similarity.PqTower.gen(spark) === g0,
      "a no-op maintenance must not stamp a new generation")
    assert(spark.table("s18_pq_meta").head().getAs[String]("scope")
      === "incremental",
      "a no-op maintenance must leave the aged index as-is")
  }

  test("due -> automatic rebuild: generation bumps, scope flips to " +
      "full, and the audit re-measures clean") {
    age()
    val g0 = Similarity.PqTower.gen(spark)
    val rebuilt = Similarity.maintainPqIndex(spark, sf,
      floorOverride = Some(1.1)) // recall <= 1: deterministically due
    assert(rebuilt, "an always-due floor must take the rebuild branch")
    assert(Similarity.PqTower.gen(spark) === g0 + 1L,
      "the rebuild must stamp a new generation or serving streams " +
        "never pick it up")
    val m = spark.table("s18_pq_meta").head()
    assert(m.getAs[String]("scope") === "full",
      "the rebuild is a from-scratch build")
    // post-rebuild, drift is zero by construction: measured recall
    // re-referees the very corpus the quantizers just trained on
    val audit = Similarity.auditPqRecall(spark, sf).head()
    assert(math.abs(audit.getAs[Double]("drift")) < 1e-9,
      "a freshly rebuilt index must audit at its build recall")
  }

  test("a serving stream crosses the maintenance rebuild mid-stream " +
      "without restart, exactly-once") {
    age()
    val agedGen = Similarity.PqTower.gen(spark)

    val input = tmpDir("maintain-in")
    val out = tmpDir("maintain-out")
    val odd = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("embedding"))
    val q1 = odd.filter(col("vec_id") < 250)
    val q2 = odd.filter(col("vec_id") >= 250)
    def stage(name: String, modMs: Long, rows: DataFrame): Unit = {
      val tmp = s"$input/_tmp_$name"
      rows.coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.move(f,
        java.nio.file.Paths.get(s"$input/$name.parquet"))
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(s"$input/$name.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(modMs))
    }
    stage("00", 1000000L, q1)
    stage("01", 1060000L, q2)

    val cache = new Similarity.PqIndexCache(spark)
    val genUsed = scala.collection.concurrent.TrieMap.empty[Long, Long]
    val schema = spark.read.parquet(s"$input/00.parquet").schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(input)
      .select(col("vec_id").as("q_id"), col("embedding").as("av"))
      .writeStream
      .option("checkpointLocation", tmpDir("maintain-ckpt"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sess = batch.sparkSession
        val idx = cache.current(sess)
        genUsed(batchId) = cache.lastGen
        Similarity.servePqBatch(sess, sf, batch, idx)
          .write.mode("overwrite").parquet(s"$out/b$batchId")
        if (batchId == 0L) {
          // the nightly maintenance job, mid-stream: audit fires,
          // rebuild runs, generation bumps — the stream is live
          val rebuilt = Similarity.maintainPqIndex(sess, sf,
            floorOverride = Some(1.1))
          assert(rebuilt)
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    assert(genUsed(0L) === agedGen,
      s"batch 0 used gen ${genUsed(0L)}, expected the aged $agedGen")
    assert(genUsed(1L) === agedGen + 1L,
      s"batch 1 used gen ${genUsed(1L)} — the maintenance rebuild " +
        "was not picked up without a restart")

    // post-swap batch answers exactly as the rebuilt index serves it
    val expect2 = Similarity.servePqBatch(spark, sf,
        q2.select(col("vec_id").as("q_id"), col("embedding").as("av")),
        Similarity.loadPqIndex(spark))
      .collect()
    val got2 = spark.read.parquet(s"$out/b1")
      .orderBy(col("q_id")).collect()
    assert(got2.length === expect2.length && got2.length > 0)
    got2.zip(expect2).foreach { case (a, b) => assert(a === b) }

    // exactly-once across the swap
    val qids = spark.read.parquet(s"$out/*")
      .select(col("q_id")).collect().map(_.getLong(0))
    assert(qids.distinct.length === qids.length)
    assert(qids.length === odd.count())
  }
}
