package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Maintenance, Multimodal, Similarity}

/** Maintenance.maintainIndexes — the unified nightly driver (r18
  * VERDICT item 4): ONE call keeps the vector (s18 PQ), lexical
  * (s21 BM25) and LSH-bucket (d10 bands) towers fresh, composing
  * each tower's ensure (fingerprint staleness + first-run build)
  * with its content audit → rebuild-when-due. Pins, end-to-end over
  * all three towers:
  *
  *  - FIRST RUN on an empty warehouse builds all three (the
  *    deployment's day-zero call is the same nightly call), and an
  *    immediate second run is a fleet-wide no-op — no generation
  *    moves without a reason;
  *  - CONTENT-STALE towers (fingerprint clean — the meta matches the
  *    session — but the corpus grew under the index) rebuild through
  *    the AUDIT path: `audit_due` true, generation bumped; the
  *    untouched vector tower stays put in the same call;
  *  - a GEOMETRY re-dial (minhash bands conf) marks the LSH index
  *    stale and ensure rebuilds it to the new geometry;
  *  - dial OVERRIDES are live on every tower at once (an impossible
  *    coverage/recall floor forces a full-fleet rebuild);
  *  - the persisted LSH index is CONTENT-IDENTICAL to the in-query
  *    corpus-band computation d10 ran before the tower existed (the
  *    equivalence that keeps d10's from-source oracle gating the
  *    tower). */
class MaintainIndexesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def dropAllTowers(): Unit =
    (Seq("s18_pq_sc", "s18_pq_cells", "s18_pq_cb", "s18_pq_codes",
      "s18_pq_meta") ++
      Seq("s21_lex_post", "s21_lex_df", "s21_lex_dl", "s21_lex_meta") ++
      Seq("d10_lsh_bands", "d10_lsh_hot", "d10_lsh_meta") ++
      Seq("m09_ph_bands", "m09_ph_cks", "m09_ph_meta"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def report(df: org.apache.spark.sql.DataFrame)
      : Map[String, (Boolean, Boolean, Long)] =
    df.collect().map(r => r.getAs[String]("tower") ->
      ((r.getAs[Boolean]("rebuilt"), r.getAs[Boolean]("audit_due"),
        r.getAs[Long]("gen")))).toMap

  test("first run builds all four towers; an immediate second run " +
      "is a fleet-wide no-op") {
    dropAllTowers()
    val r1 = report(Maintenance.maintainIndexes(spark, sf))
    assert(r1.keySet === Set("vector", "lexical", "lsh", "phash"))
    r1.foreach { case (tower, (rebuilt, due, gen)) =>
      assert(rebuilt, s"$tower must build on first run")
      assert(!due, s"a fresh $tower index must audit clean")
      assert(gen >= 1L, s"$tower must stamp a generation")
    }
    val r2 = report(Maintenance.maintainIndexes(spark, sf))
    r2.foreach { case (tower, (rebuilt, due, gen)) =>
      assert(!rebuilt && !due, s"$tower must no-op on a fresh state")
      assert(gen === r1(tower)._3,
        s"$tower generation must not move without a reason")
    }
  }

  test("content-stale lexical + lsh towers rebuild through the " +
      "audit; the fresh vector tower stays put in the same call") {
    dropAllTowers()
    Maintenance.maintainIndexes(spark, sf)
    // age: re-persist both towers over a sub-stripe while keeping
    // the fingerprint clean — lex claims scope "full" (the state a
    // corpus that GREW after a full build leaves), lsh has no scope
    // flag (its meta nd records the hole directly)
    Similarity.persistLexIndex(spark, sf,
      col("doc_id") % 5 =!= 0, scope = "full")
    Dedup.persistLshIndex(spark, sf, col("doc_id") % 7 =!= 0)
    Multimodal.persistPhashIndex(spark, sf, col("doc_id") % 7 =!= 0)
    val r = report(Maintenance.maintainIndexes(spark, sf))
    assert(r("lexical")._1 && r("lexical")._2,
      "a corpus hole the fingerprint can't see must rebuild " +
        "lexical through the audit")
    assert(r("lsh")._1 && r("lsh")._2,
      "an under-covered band index must rebuild through the audit")
    assert(r("phash")._1 && r("phash")._2,
      "an under-covered phash tower must rebuild through the audit")
    assert(!r("vector")._1 && !r("vector")._2,
      "the untouched vector tower must not rebuild")
    assert(!Similarity.auditLexStaleness(spark, sf)
      .head().getAs[Boolean]("rebuild_due"))
    val lsh = Dedup.auditLshCoverage(spark, sf).head()
    assert(!lsh.getAs[Boolean]("rebuild_due"))
    assert(lsh.getAs[Double]("coverage") === 1.0)
    assert(lsh.getAs[Long]("band_defects") === 0L)
    val ph = Multimodal.auditPhashCoverage(spark, sf).head()
    assert(!ph.getAs[Boolean]("rebuild_due"))
    assert(ph.getAs[Double]("coverage") === 1.0)
    assert(ph.getAs[Long]("defects") === 0L)
    assert(ph.getAs[Boolean]("geom_ok"))
  }

  test("a geometry re-dial marks the LSH index stale and ensure " +
      "rebuilds it to the new geometry") {
    dropAllTowers()
    Dedup.persistLshIndex(spark, sf)
    val key = graft.GraftConf.MinHashBandsKey
    try {
      spark.conf.set(key, "8")
      val a = Dedup.auditLshCoverage(spark, sf).head()
      assert(!a.getAs[Boolean]("geom_ok"),
        "the audit must see the re-dialed band count")
      assert(a.getAs[Boolean]("rebuild_due"))
      val g0 = Dedup.LshTower.gen(spark)
      Dedup.ensureLshIndex(spark, sf)
      assert(Dedup.LshTower.gen(spark) > g0,
        "ensure must rebuild on a geometry mismatch")
      val m = spark.table("d10_lsh_meta").head()
      assert(m.getAs[Int]("bands") === 8)
      assert(!Dedup.auditLshCoverage(spark, sf)
        .head().getAs[Boolean]("rebuild_due"))
    } finally spark.conf.unset(key)
  }

  test("dial overrides are live on every tower at once: impossible " +
      "floors force a full-fleet rebuild") {
    dropAllTowers()
    Maintenance.maintainIndexes(spark, sf)
    val r = report(Maintenance.maintainIndexes(spark, sf,
      pqFloorOverride = Some(1.1),
      lexMinCoverageOverride = Some(1.1),
      lshMinCoverageOverride = Some(1.1),
      phMinCoverageOverride = Some(1.1)))
    r.foreach { case (tower, (rebuilt, due, _)) =>
      assert(rebuilt && due,
        s"an impossible floor must force $tower to rebuild")
    }
  }

  test("d14's gate is load-bearing: the aged tower serves different " +
      "answers until the maintain rebuilds it") {
    dropAllTowers()
    Dedup.persistLshIndex(spark, sf, col("doc_id") % 7 =!= 0)
    val stale = Dedup.deltaDedupServe(spark, sf,
      spark.table("d10_lsh_bands")).collect()
    assert(Dedup.maintainLshIndex(spark, sf),
      "the 6/7-coverage tower must take the rebuild branch")
    val maintained = Dedup.deltaDedupServe(spark, sf,
      spark.table("d10_lsh_bands")).collect()
    assert(!stale.sameElements(maintained),
      "a probe against the index missing 1/7 of the corpus must " +
        "answer differently — otherwise d14's oracle gate can't " +
        "catch a silently-skipped rebuild")
    val fromScratch = Dedup.deltaDedupServe(spark, sf,
      Dedup.ensureLshIndex(spark, sf)).collect()
    assert(maintained.sameElements(fromScratch),
      "the maintained serve must equal the from-scratch serve")
  }

  test("m10's gate is load-bearing: the aged phash tower serves " +
      "different answers until the maintain rebuilds it, and the " +
      "maintained serve equals the from-scratch serve") {
    dropAllTowers()
    // sf0.01 — the driver's gate scale, where the %7 aging is
    // MEASURED to matter: corpus doc 98 (≡ 0 mod 7) is a tier-hit
    // partner of delta doc 290, so the aged index loses that hit.
    // (At sf0.001 the only partner is 467 ≡ 5 mod 7 — the aging
    // keeps it and stale == maintained, so the smaller dir cannot
    // pin this property.)
    val gateSf = "/root/testdata/sf0.01"
    def gate() = {
      Multimodal.PhTower.refresh(spark)
      val m = spark.table("m09_ph_meta").head()
      Multimodal.twoTierGateBatch(
        new Tables(spark, gateSf).documents
          .filter(col("doc_id") % 3 === 2)
          .filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"), col("text")),
        spark.table("m09_ph_bands"), spark.table("m09_ph_cks"),
        m.getAs[Int]("floor"), m.getAs[Int]("bands"))
        .orderBy(col("doc_id")).collect()
    }
    Multimodal.persistPhashIndex(spark, gateSf, col("doc_id") % 7 =!= 0)
    val stale = gate()
    assert(Multimodal.maintainPhashIndex(spark, gateSf),
      "the 6/7-coverage tower must take the rebuild branch")
    val maintained = gate()
    assert(!stale.sameElements(maintained),
      "a probe against the index missing 1/7 of the corpus must " +
        "answer differently — otherwise m10's oracle gate can't " +
        "catch a silently-skipped rebuild")
    Multimodal.ensurePhashIndex(spark, gateSf)
    assert(maintained.sameElements(gate()),
      "the maintained serve must equal the from-scratch serve")
  }

  test("the persisted LSH index is content-identical to the " +
      "in-query corpus-band computation it replaced") {
    dropAllTowers()
    val idx = Dedup.ensureLshIndex(spark, sf)
    val (hashes, bands) = Dedup.minhashGeometry(spark)
    val direct = Dedup.minhashBands(
      Dedup.minhashSigs(Dedup.cappedShingles(spark, sf)
        .filter(col("doc_id") % 5 =!= 0), hashes),
      hashes, bands)
    assert(idx.exceptAll(direct).isEmpty && direct.exceptAll(idx).isEmpty,
      "persisted bands must equal the from-source computation")
  }
}
