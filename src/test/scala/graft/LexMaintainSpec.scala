package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** maintainLexIndex + auditLexStaleness — the postings tower's
  * maintenance loop closure (the r18 VERDICT's one named residual:
  * the vector tower had audit → rebuild → generation bump, the
  * lexical tower had the pieces but no nightly entry point and no
  * staleness verdict). Pins, each against a freshly-built state:
  *
  *  - a STALE index (base stripe only, 20% of the corpus missing)
  *    audits as rebuild_due on the DEFAULT dials — both signals
  *    fire: coverage < LexMinCoverage AND sampled missing-stripe
  *    docs have no dl row;
  *  - maintain on that state rebuilds: returns true, meta scope
  *    flips to "full", nd matches the corpus, the generation bumps
  *    (so a running st19 stream reloads next micro-batch — the
  *    mid-stream pickup mechanism StreamLexRefreshSpec proves);
  *  - a COMPLETE index — full build, or base + landed delta (the
  *    s22 state) — audits clean and maintain is a no-op: returns
  *    false, generation unchanged. The append case pins that the
  *    audit measures CONTENT, not the scope flag or layout;
  *  - the dials are live: an impossible coverage floor (1.1) forces
  *    the rebuild branch on a fresh full index (s29's override
  *    discipline). */
class LexMaintainSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def dropLexTables(): Unit =
    Seq("s21_lex_post", "s21_lex_df", "s21_lex_dl", "s21_lex_meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  test("stale base-stripe index: audit fires on both default dials") {
    dropLexTables()
    Similarity.persistLexIndex(spark, sf,
      col("doc_id") % 5 =!= 0, scope = "partial")
    val a = Similarity.auditLexStaleness(spark, sf).head()
    assert(a.getAs[Long]("nd_index") < a.getAs[Long]("nd_corpus"))
    assert(a.getAs[Double]("coverage") < Similarity.LexMinCoverage,
      "a 20%-hole index must be under-covered")
    assert(a.getAs[Long]("dl_mismatches") > 0L,
      "sampled docs in the missing stripe have no dl row — the dl " +
        "recheck must see them")
    assert(a.getAs[Double]("mismatch_frac")
      > Similarity.LexMaxDlMismatch)
    assert(a.getAs[Boolean]("rebuild_due"))
  }

  test("maintain on the stale index rebuilds: scope full, corpus " +
      "nd, generation bumped for running streams") {
    dropLexTables()
    Similarity.persistLexIndex(spark, sf,
      col("doc_id") % 5 =!= 0, scope = "partial")
    val genBefore = Similarity.LexTower.gen(spark)
    assert(Similarity.maintainLexIndex(spark, sf),
      "a 0.8-coverage index must take the rebuild branch")
    val m = spark.table("s21_lex_meta").head()
    assert(m.getAs[String]("scope") === "full")
    val ndCorpus = new Tables(spark, sf).documents
      .filter(col("doc_id") % 2 === 0).count()
    assert(m.getAs[Long]("nd") === ndCorpus,
      "the rebuild must cover the whole corpus")
    assert(Similarity.LexTower.gen(spark) > genBefore,
      "the rebuild must stamp a new generation or st19 streams " +
        "keep serving the stale index")
    // and the rebuilt state now audits clean
    val a = Similarity.auditLexStaleness(spark, sf).head()
    assert(!a.getAs[Boolean]("rebuild_due"))
    assert(a.getAs[Double]("coverage") === 1.0)
    assert(a.getAs[Long]("dl_mismatches") === 0L)
  }

  test("complete index (base + landed delta, the s22 state) audits " +
      "clean: the audit measures content, not the scope flag") {
    dropLexTables()
    Similarity.persistLexIndex(spark, sf,
      col("doc_id") % 5 =!= 0, scope = "partial")
    Similarity.appendLexDelta(spark, sf, col("doc_id") % 5 === 0)
    val genBefore = Similarity.LexTower.gen(spark)
    val a = Similarity.auditLexStaleness(spark, sf).head()
    assert(a.getAs[Double]("coverage") === 1.0)
    assert(a.getAs[Long]("dl_mismatches") === 0L)
    assert(!a.getAs[Boolean]("rebuild_due"))
    assert(!Similarity.maintainLexIndex(spark, sf),
      "a content-complete index must not rebuild")
    assert(Similarity.LexTower.gen(spark) === genBefore,
      "a not-due maintain must leave the generation alone")
  }

  test("dials are live: an impossible coverage floor forces the " +
      "rebuild branch on a fresh full index") {
    dropLexTables()
    Similarity.persistLexIndex(spark, sf)
    val genBefore = Similarity.LexTower.gen(spark)
    assert(Similarity.maintainLexIndex(spark, sf,
      minCoverageOverride = Some(1.1)))
    assert(Similarity.LexTower.gen(spark) === genBefore + 1L)
  }
}
