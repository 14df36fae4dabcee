package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** The persisted-index freshness contract (the r16 ADVICE medium) and
  * the build-time candidate-recall gate.
  *
  * [[Similarity.ensurePqIndex]] used to judge freshness by a hashCode
  * path suffix alone: a conf override set AFTER an index was persisted
  * in the same session kept serving the stale dials (while the oracle
  * resolved the current override — a silent gate mismatch), a
  * persistent-metastore index from an older schema crashed the
  * filtered serves instead of rebuilding, and two corpus dirs could
  * hashCode-collide into reusing the wrong index. The fix persists the
  * full fingerprint in `s18_pq_meta` — the source stamp (corpus dir,
  * schema version and the listing of the `embeddings.parquet` files
  * the index was built from) and the resolved conf fingerprint — plus
  * a monotone GENERATION counter (what a serving stream watches for
  * nightly swaps) and the measured candidate recall, and compares all
  * of it.
  *
  * The recall gate: `spark.graft.minCandRecall` turns the calibration
  * sample's measured candidate recall into a LOUD build failure on
  * geometries that cannot meet target under the nprobe cost cap (the
  * documented isotropic worst case) — a deployer finds out from the
  * nightly build log, not from a silent production recall miss. */
class PqIndexMetaSpec extends SparkSpec {

  private def dropIndexTables(): Unit =
    Seq("s18_pq_sc", "s18_pq_cells", "s18_pq_cb", "s18_pq_codes",
      "s18_pq_meta").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))

  /** Synthetic isotropic corpus (same generator family as
    * ShortlistClampSpec, shrunk further — builds stay sub-second). */
  private def writeIsoCorpus(nVec: Int, tag: String): String = {
    val out = tmpDir(s"pqmeta_$tag")
    val ids = spark.range(0, nVec).select(col("id").as("vec_id"))
    def noise(dd: Int) =
      conv(substring(md5(concat(col("vec_id").cast("string"),
        lit(s"~$dd"))), 1, 8), 16, 10).cast("double") /
        lit(4294967296.0) - lit(0.5)
    val vec = array((0 until 64).map(noise): _*).cast("array<float>")
    ids.select(col("vec_id"), vec.as("embedding"),
        concat(lit("l"), (col("vec_id") % 3).cast("string")).as("label"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    out
  }

  test("persisted meta carries the full fingerprint, generation, " +
      "and measured candidate recall") {
    dropIndexTables()
    val dir = writeIsoCorpus(512, "fp")
    val idx = Similarity.ensurePqIndex(spark, dir)
    val meta = spark.table("s18_pq_meta")
    assert(Set("np", "sl", "corpus_dir", "conf_fp", "schema_ver",
      "gen", "cand_recall", "scope").subsetOf(meta.columns.toSet))
    assert(meta.head().getAs[String]("scope") === "full")
    val m = meta.head()
    assert(m.getAs[String]("corpus_dir") === dir)
    assert(m.getAs[String]("conf_fp") ===
      Similarity.pqConfFingerprint(spark))
    assert(m.getAs[Int]("schema_ver") === Similarity.PqMetaSchemaVer)
    assert(m.getAs[Long]("gen") === 1L)
    // candidate recall was MEASURED (the sample pass now runs
    // unconditionally) and round-trips through load
    val cr = m.getAs[Double]("cand_recall")
    assert(cr > 0.0 && cr <= 1.0, s"cand_recall $cr not measured")
    assert(idx.candRecall === cr)
    assert(Similarity.loadPqIndex(spark).candRecall === cr)
  }

  test("a conf override set AFTER the persist triggers a rebuild; " +
      "unchanged confs reuse the index") {
    dropIndexTables()
    val dir = writeIsoCorpus(512, "conf")
    Similarity.ensurePqIndex(spark, dir)
    assert(Similarity.PqTower.gen(spark) === 1L)
    // same corpus, same confs: NO rebuild (generation unchanged)
    Similarity.ensurePqIndex(spark, dir)
    assert(Similarity.PqTower.gen(spark) === 1L)
    // an nprobe override set after the persist: the old suffix check
    // called this fresh and served the stale dial — now it rebuilds
    // and the loaded index carries the override
    spark.conf.set(GraftConf.IvfNprobeKey, "2")
    try {
      val idx = Similarity.ensurePqIndex(spark, dir)
      assert(Similarity.PqTower.gen(spark) === 2L,
        "override did not trigger a rebuild")
      assert(idx.np === 2)
      // and unsetting it is ALSO a fingerprint change — back to the
      // calibrated dial, not the pinned one
      spark.conf.unset(GraftConf.IvfNprobeKey)
      Similarity.ensurePqIndex(spark, dir)
      assert(Similarity.PqTower.gen(spark) === 3L)
    } finally spark.conf.unset(GraftConf.IvfNprobeKey)
  }

  test("a different corpus dir is stale by exact string compare") {
    dropIndexTables()
    val dirA = writeIsoCorpus(512, "dirA")
    val dirB = writeIsoCorpus(512, "dirB")
    Similarity.ensurePqIndex(spark, dirA)
    val g1 = Similarity.PqTower.gen(spark)
    Similarity.ensurePqIndex(spark, dirB)
    assert(Similarity.PqTower.gen(spark) === g1 + 1L)
    assert(spark.table("s18_pq_meta").head()
      .getAs[String]("corpus_dir") === dirB)
    // and is then itself fresh
    Similarity.ensurePqIndex(spark, dirB)
    assert(Similarity.PqTower.gen(spark) === g1 + 1L)
  }

  test("an old-schema meta table or a codes table without the " +
      "attribute column is STALE, not a crash") {
    dropIndexTables()
    val dir = writeIsoCorpus(512, "legacy")
    // legacy (pre-v2) meta: dials only — a persistent metastore
    // carrying one of these must rebuild, not getAs-crash
    import spark.implicits._
    Seq((7, 96)).toDF("np", "sl").write.mode("overwrite")
      .option("path", tmpDir("pqmeta_legacy_tbl"))
      .saveAsTable("s18_pq_meta")
    Similarity.ensurePqIndex(spark, dir)
    assert(spark.table("s18_pq_meta").head()
      .getAs[Int]("schema_ver") === Similarity.PqMetaSchemaVer)
    // codes table stripped of `label` (an index persisted before
    // attributes existed): the filtered serves would require-crash on
    // it — ensurePqIndex must detect and rebuild instead
    val stripped = tmpDir("pqmeta_nolabel")
    spark.table("s18_pq_codes").drop("label")
      .write.mode("overwrite").parquet(stripped)
    spark.sql("DROP TABLE s18_pq_codes")
    spark.read.parquet(stripped).write
      .option("path", tmpDir("pqmeta_nolabel_tbl"))
      .saveAsTable("s18_pq_codes")
    val gBefore = Similarity.PqTower.gen(spark)
    val idx = Similarity.ensurePqIndex(spark, dir)
    assert(Similarity.PqTower.gen(spark) === gBefore + 1L,
      "label-less codes table was not treated as stale")
    assert(idx.cellm.columns.contains("label"))
  }

  test("minCandRecall gate: a geometry below the floor fails the " +
      "build loudly; a permissive floor passes") {
    dropIndexTables()
    // isotropic + pinned np=1 over 16 cells: the true NN survives the
    // gate for only a fraction of the sample — the documented
    // worst-case regime, shrunk to spec size
    val dir = writeIsoCorpus(2048, "gate")
    spark.conf.set(GraftConf.IvfCellsKey, "16")
    spark.conf.set(GraftConf.IvfNprobeKey, "1")
    try {
      spark.conf.set(GraftConf.MinCandRecallKey, "0.95")
      val ex = intercept[IllegalArgumentException] {
        Similarity.buildPqIndex(spark, dir)
      }
      assert(ex.getMessage.contains("candidate recall"),
        s"wrong failure: ${ex.getMessage}")
      // the same build under a permissive floor succeeds and reports
      // the measured value it was judged by
      spark.conf.set(GraftConf.MinCandRecallKey, "0.01")
      val idx = Similarity.buildPqIndex(spark, dir)
      assert(idx.candRecall >= 0.01 && idx.candRecall < 0.95,
        s"measured recall ${idx.candRecall} outside the regime the " +
          "gate test assumes")
    } finally {
      spark.conf.unset(GraftConf.IvfCellsKey)
      spark.conf.unset(GraftConf.IvfNprobeKey)
      spark.conf.unset(GraftConf.MinCandRecallKey)
    }
  }

  test("the conf validation itself is loud") {
    val dir = writeIsoCorpus(256, "val")
    spark.conf.set(GraftConf.MinCandRecallKey, "1.5")
    try {
      val ex = intercept[IllegalArgumentException] {
        Similarity.buildPqIndex(spark, dir)
      }
      assert(ex.getMessage.contains("minCandRecall"))
    } finally spark.conf.unset(GraftConf.MinCandRecallKey)
  }
}
