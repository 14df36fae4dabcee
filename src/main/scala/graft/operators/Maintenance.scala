package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** THE nightly index-maintenance driver (the r18 VERDICT's item 4):
  * one entry point keeping every persisted serving tower fresh, so a
  * deployment's index upkeep is a single scheduled call instead of
  * three per-tower jobs whose relative order and dial sources each
  * operator had to document separately:
  *
  *   - VECTOR (s18 IVF-PQ): `ensurePqIndex` (build-if-absent or
  *     fingerprint-stale) then `maintainPqIndex` (s29 — measured
  *     recall audit → rebuild on floor/drift breach);
  *   - LEXICAL (s21 BM25 postings): `ensureLexIndex` then
  *     `maintainLexIndex` (s30 — coverage + sampled dl recheck);
  *   - LSH BUCKETS (d10 MinHash bands): `ensureLshIndex` then
  *     `maintainLshIndex` (coverage + geometry + sampled band
  *     recheck);
  *   - PHASH (st24's floored perceptual band index + sub-floor
  *     checksums): `ensurePhashIndex` then `maintainPhashIndex`
  *     (coverage + count-derived geometry + tier-aware sampled
  *     recheck — m10 proves the loop load-bearing).
  *
  * ENSURE catches fingerprint staleness (wrong corpus dir, re-dialed
  * geometry/serving confs, schema drift, a partial scope) and builds
  * when the tower does not exist yet — first-run robustness; the
  * AUDIT catches content staleness the fingerprint cannot see (the
  * corpus changed under an index whose meta still matches). Every
  * audit is bounded (sampled referee / counts — never a corpus
  * re-tokenization or re-shingling); every rebuild stamps a new
  * GENERATION, which running serving streams (st17/st18/st19) pick
  * up on their next micro-batch through their generation caches —
  * no restart (`PqMaintainSpec` / `StreamLexRefreshSpec` prove the
  * mid-stream swap per tower).
  *
  * DIAL PRECEDENCE (uniform across towers): an explicit override
  * argument > the session conf (vector tower only:
  * `spark.graft.minCandRecall` / `spark.graft.maxRecallDrift`) > the
  * compiled default (`LexMinCoverage`/`LexMaxDlMismatch`,
  * `LshMinCoverage`/`LshMaxBandDefect`). An unset vector dial
  * disables that trigger (-1), matching `maintainPqIndex` run
  * standalone.
  *
  * COMPACTION is deliberately NOT in this loop: `compactPqCodes`
  * (s26) and `compactLexIndex` (s23) are layout-only OPTIMIZE passes
  * with their own single-writer maintenance-window contract, run on
  * fragmentation pressure rather than nightly (CONFIGURATION.md's
  * "append nightly, compact weekly" cadence).
  *
  * Returns one row per tower — (tower, rebuilt, audit_due, gen) —
  * where `rebuilt` is a generation-stamp comparison around the call
  * (true whether the ENSURE or the AUDIT path rebuilt) and
  * `audit_due` is the content-audit verdict alone. */
object Maintenance {

  private def genOf(read: => Long): Long =
    try read catch { case _: Exception => 0L } // tower not built yet

  def maintainIndexes(s: SparkSession, d: String,
      pqFloorOverride: Option[Double] = None,
      pqDriftOverride: Option[Double] = None,
      lexMinCoverageOverride: Option[Double] = None,
      lexMaxDlMismatchOverride: Option[Double] = None,
      lshMinCoverageOverride: Option[Double] = None,
      lshMaxBandDefectOverride: Option[Double] = None,
      phMinCoverageOverride: Option[Double] = None,
      phMaxDefectOverride: Option[Double] = None): DataFrame = {
    val pqG0 = genOf(Similarity.PqTower.gen(s))
    val lexG0 = genOf(Similarity.LexTower.gen(s))
    val lshG0 = genOf(Dedup.LshTower.gen(s))
    val phG0 = genOf(Multimodal.PhTower.gen(s))
    Similarity.ensurePqIndex(s, d)
    Similarity.ensureLexIndex(s, d)
    Dedup.ensureLshIndex(s, d)
    Multimodal.ensurePhashIndex(s, d)
    val pqDue = Similarity.maintainPqIndex(s, d,
      pqFloorOverride, pqDriftOverride)
    val lexDue = Similarity.maintainLexIndex(s, d,
      lexMinCoverageOverride, lexMaxDlMismatchOverride)
    val lshDue = Dedup.maintainLshIndex(s, d,
      lshMinCoverageOverride, lshMaxBandDefectOverride)
    val phDue = Multimodal.maintainPhashIndex(s, d,
      phMinCoverageOverride, phMaxDefectOverride)
    val pqG1 = Similarity.PqTower.gen(s)
    val lexG1 = Similarity.LexTower.gen(s)
    val lshG1 = Dedup.LshTower.gen(s)
    val phG1 = Multimodal.PhTower.gen(s)
    import s.implicits._
    Seq(
      ("vector", pqG1 != pqG0, pqDue, pqG1),
      ("lexical", lexG1 != lexG0, lexDue, lexG1),
      ("lsh", lshG1 != lshG0, lshDue, lshG1),
      ("phash", phG1 != phG0, phDue, phG1))
      .toDF("tower", "rebuilt", "audit_due", "gen")
  }
}
