package graft.operators

import graft.{GraftConf, QueryDef, Tables}
import graft.TopK.topKPerKey
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftshim.{shim => graftshim}

/** Similarity search over the `embeddings` table (64-dim float
  * vectors): brute-force cosine top-k (correctness baseline), random-
  * hyperplane LSH bucketing (the scale path), and cosine near-dup
  * pairs for embedding-based dedup.
  *
  * Determinism: every dot product / norm is a LEFT-TO-RIGHT fold in
  * double precision (`aggregate` in Spark, `list_sum(list_transform)`
  * in DuckDB) — bit-identical across engines, verified empirically.
  * float→double casts are exact; the final divide is one IEEE op.
  *
  * Scale design: brute-force is O(n²·dim) — correct but only for the
  * verification tier. The LSH variant buckets vectors by 8 deterministic
  * hyperplane signs (md5-derived coefficients, no RNG state to ship),
  * then searches within buckets: the join is shuffle-bounded on the
  * bucket key, which is how the same code survives 10⁹ vectors (add
  * multi-probe for recall). At 100 TB, replace the self-join's
  * broadcast decision with bucketed storage on `bucket`.
  */
object Similarity {

  /** Static hyperplane count used ONLY by the spec-twin expression
    * builders ([[bucketExprHof]], [[weightsLit]]) as their default
    * argument — queries use the ADAPTIVE default below. */
  private[graft] val LshHyperplanes = 8

  /** RECALL-MOTIVATED adaptive hyperplane default: the smallest H
    * whose 2^H bucket space holds the corpus at <= 64 vectors per
    * bucket — H = bit-length((n-1) / 64), clamped to [2, 62].
    * Integer-exact so the DuckDB oracle's SQL twin
    * (`length(format('{:b}', (COUNT(*)-1) // 64))`) derives the SAME
    * H from the same corpus with no floating-log edge cases.
    *
    * Why occupancy 64 and not "many buckets": recall is the budget
    * being spent. Multi-probe (<= 1 flipped plane) recovers a
    * neighbor only if it shares H or H-1 plane signs; for the test
    * corpus's similarity band that chance falls ~0.65^H, so the old
    * fixed H=8 over 500 vectors measured recall@1 ~0.11-0.22 — a
    * bucket-count-motivated default. At occupancy 64 the candidate
    * set stays O(64·(H+1)) per query (constant per query, H grows
    * with log n — the same 100 TB shape) while measured recall@1 on
    * the test corpus rises to the dashboard's asserted band.
    * Override at runtime with `spark.graft.lshHyperplanes`. */
  private[graft] def adaptiveHyperplanes(n: Long): Int = {
    val q = math.max(0L, (n - 1) / 64)
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(q)
    math.min(62, math.max(2, bits))
  }

  /** One corpus count per sf dir per JVM (footer-count scale) feeds
    * the adaptive geometry — an ANN index build legitimately knows
    * its corpus size. */
  private val corpusCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def corpusCount(s: SparkSession, d: String): Long =
    corpusCountCache.computeIfAbsent(d,
      _ => new Tables(s, d).embeddings.count()).longValue()

  private def lshHyperplanes(s: SparkSession, d: String): Int = {
    val h = GraftConf.int(s, GraftConf.LshHyperplanesKey,
      adaptiveHyperplanes(corpusCount(s, d)))
    require(h > 0 && h <= 62,
      s"${GraftConf.LshHyperplanesKey} must be in [1, 62] (bucket packs " +
        s"into a signed long), got $h")
    h
  }

  /** Independent hash-table count DEFAULT for multi-table LSH
    * amplification (s10): recall of an AND-of-H-planes table is pᴴ per
    * pair (p = 1 − θ/π); OR-ing r independent tables lifts it to
    * 1 − (1 − pᴴ)ʳ at r× the bucketing/join cost — the standard
    * production dial when a similarity band (like this corpus's
    * 0.4–0.5) sits below single-table recall. Override at runtime with
    * `spark.graft.lshTables`. */
  private[graft] val LshTables = 3

  private def lshTables(s: SparkSession): Int = {
    val r = GraftConf.int(s, GraftConf.LshTablesKey, LshTables)
    require(r > 0 && r <= 32,
      s"${GraftConf.LshTablesKey} must be in [1, 32], got $r")
    r
  }

  /** The session whose confs the SQL-twin generators consult:
    * thread-local active session first, DEFAULT session as fallback —
    * a twin materialized from a non-query thread (scheduled oracle
    * dump, test harness) must still see the override, or it would
    * silently re-derive the adaptive default and reintroduce exactly
    * the cross-engine drift the override-pinning fixes. */
  private def sessionForOracle: Option[SparkSession] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)

  /** Table count for the s10 SQL twin, override-aware like [[hCte]]:
    * the oracle must bucket with the same r the Spark side used. */
  private def resolvedLshTables: Int =
    sessionForOracle.map(lshTables).getOrElse(LshTables)

  /** Embedding dimensionality of the `embeddings` table. */
  private[graft] val VecDim = 64

  /** Binary-quantization signature width DEFAULT (s14): one sign bit
    * per leading coordinate, packed into `bits/32` 32-bit words (words,
    * not one 64-bit long, because a signed 2^63 term overflows DuckDB's
    * checked BIGINT sum — and hamming over words is identical). Must be
    * a multiple of 32 and at most the vector dimensionality — a bit
    * beyond the last coordinate would always read 0 and dilute the
    * distance. Override at runtime with `spark.graft.bqBits`. */
  private[graft] val BqBits = 64

  /** Hamming-shortlist size DEFAULT (s14): how many code-space
    * candidates per query get rescored at full precision. The cheap
    * recall dial — rescore cost is linear in it, and the code-space
    * scan cost doesn't depend on it at all. 64 measures recall@3 = 1.0
    * on the test corpus (BinaryQuantRecallSpec; 16 measured only 0.50).
    * Override at runtime with `spark.graft.bqShortlist`. */
  private[graft] val BqShortlist = 64

  private def bqBits(s: SparkSession): Int = {
    val b = GraftConf.int(s, GraftConf.BqBitsKey, BqBits)
    require(b > 0 && b % 32 == 0 && b <= VecDim,
      s"${GraftConf.BqBitsKey} must be a positive multiple of 32 " +
        s"<= $VecDim (one sign bit per coordinate), got $b")
    b
  }

  private def bqShortlist(s: SparkSession): Int = {
    val k = GraftConf.int(s, GraftConf.BqShortlistKey, BqShortlist)
    require(k > 0, s"${GraftConf.BqShortlistKey} must be positive, got $k")
    k
  }

  /** Truncated-cosine shortlist DEFAULT (s07/s09): per-query
    * candidates surviving the coarse 16-dim pass into the
    * full-dimension rerank. RECALL-MOTIVATED like [[BqShortlist]]:
    * 8 measured recall@1 = 0.21-0.22 on the test corpus (the 16-dim
    * coarse ranking misorders the true neighbor out of a tight
    * shortlist); 64 lifts both tiers into the dashboard's asserted
    * band at linear-in-64 rerank cost per query, while the coarse
    * scan cost is unchanged. Override at runtime with
    * `spark.graft.truncShortlist`. */
  private[graft] val TruncShortlist = 64

  /** ADC shortlist FLOOR (s12): product-quantization candidates
    * surviving the asymmetric-distance pass into the exact L2 rerank
    * — the same cheap recall dial as [[BqShortlist]] /
    * [[TruncShortlist]]. The EFFECTIVE size is auto-calibrated per
    * corpus like nprobe (see [[pickShortlist]]): a fixed 96 held
    * recall on the test corpus but lost 20% of in-candidate true NNs
    * at ×100 clustered density (96 of nprobe·64 = 448 near-identical
    * candidates: measured 0.777 end-to-end vs 0.979 candidate-stage;
    * 224 recovered 0.947). 96 stays as the floor so no corpus ever
    * reranks fewer than the r13 default. `spark.graft.pqShortlist`
    * pins a fixed size (override-aware in the oracle). */
  private[graft] val PqShortlist = 96

  /** The pinned shortlist when `spark.graft.pqShortlist` is set
    * (validated), else None → auto-calibrate. */
  private def pqShortlistOverride(s: SparkSession): Option[Int] =
    s.conf.getOption(GraftConf.PqShortlistKey).map { raw =>
      val k = raw.trim.toInt
      require(k > 0,
        s"${GraftConf.PqShortlistKey} must be positive, got $k")
      k
    }

  /** Shortlist term for the s12 twin: the pinned override as a
    * literal when set, else the calibrated size from the twin's own
    * `slcalib` CTE. */
  private def resolvedShortlistSql: String =
    sessionForOracle.flatMap(pqShortlistOverride)
      .map(_.toString).getOrElse("(SELECT sl FROM slcalib)")

  /** Order-statistic shortlist from the calibration sample's ADC
    * ranks of the true NN among its query's candidates (same exact
    * integer-ceil percentile as [[pickNprobe]]), floored at
    * [[PqShortlist]] and otherwise UNCAPPED. There is deliberately
    * no a-priori budget cap: each rank is the true NN's observed
    * position inside a REAL candidate set, so the percentile is
    * already bounded by actual candidate-set sizes — the sample
    * itself is the budget evidence. Any formula cap can only
    * truncate: nprobe·64 silently broke the recall contract once
    * [[adaptiveIvfCells]] saturated at 4096 cells (corpus ≳ 262k
    * vectors — every ×100 probe, the r14 ADVICE medium), and even
    * nprobe·ceil(n/k) (mean occupancy) truncates queries that
    * probed above-average cells (measured: 4 in-candidate true NNs
    * lost at pct 100 on a 16-cell/occupancy-128 corpus). Capping at
    * the max observed sample rank — the only bound that never
    * truncates — is identical to not capping, since the percentile
    * never exceeds the max. Queries whose true NN is not in the
    * candidate set drop out upstream (no shortlist recovers them —
    * nprobe binds). */
  private[graft] def pickShortlist(ranks: Seq[Long], pct: Int): Int =
    if (ranks.isEmpty) PqShortlist
    else {
      val need = math.max(1, (ranks.length * pct + 99) / 100)
      val sl = math.max(PqShortlist.toLong, ranks.sorted.apply(need - 1))
      // the uncapped order statistic is a Long (candidate sets reach
      // ~4n/√k — past Int range for n ≳ 3×10¹⁰ vectors): fail LOUDLY
      // instead of letting toInt wrap negative, where the r <= sl
      // shortlist filter would silently drop every candidate
      require(sl <= Int.MaxValue.toLong,
        s"calibrated ADC shortlist $sl overflows Int — the corpus " +
          "geometry needs a deeper candidate gate than a 32-bit " +
          "shortlist can rank (raise nprobe/cells so observed ranks " +
          "shrink, or partition the serve)")
      sl.toInt
    }

  /** IVF probe-width FLOOR (s12): the minimum nearest-cell count each
    * query ADC-scans. The EFFECTIVE width is auto-calibrated per
    * corpus (see [[calibrateNprobe]]) and clamped to
    * [IvfNprobe, [[nprobeCap]]]; `spark.graft.ivfNprobe` pins a fixed
    * width instead (override-aware in the oracle). 7 was the r9-r13
    * fixed default — kept as the floor so no corpus ever probes fewer
    * cells than before, and a fixed 7 of adaptive k is exactly the
    * silent recall decay the calibration replaces. */
  private[graft] val IvfNprobe = 7

  /** The pinned probe width when `spark.graft.ivfNprobe` is set
    * (validated), else None → auto-calibrate. */
  private def ivfNprobeOverride(s: SparkSession): Option[Int] =
    s.conf.getOption(GraftConf.IvfNprobeKey).map { raw =>
      val p = raw.trim.toInt
      require(p > 0 && p <= 4096,
        s"${GraftConf.IvfNprobeKey} must be in [1, 4096], got $p")
      p
    }

  /** Cost cap for the calibrated nprobe: 4·ceil(√k) cells, i.e.
    * per-query ADC candidates stay ≤ ~4·√k·64 codes and the scanned
    * corpus fraction SHRINKS as 4/√k while n grows. A corpus whose
    * geometry cannot meet the recall target under that budget
    * (isotropic embeddings — the documented worst case, where no
    * sublinear gate works) calibrates ONTO the cap: the decay is
    * measured and bounded instead of silent. */
  private[graft] def nprobeCap(k: Int): Int =
    math.max(IvfNprobe, 4 * math.ceil(math.sqrt(k.toDouble)).toInt)

  /** Expected nprobe-calibration sample size (queries): large enough
    * that the percentile estimate is ±~2%, small enough that the
    * exact-NN referee (|sample|·n distance evals) rides the s12 run
    * unnoticed at any corpus size. */
  private[graft] val CalibSample = 256L

  private def recallTargetPct(s: SparkSession): Int = {
    val p = GraftConf.int(s, GraftConf.IvfRecallTargetPctKey, 90)
    require(p >= 1 && p <= 100,
      s"${GraftConf.IvfRecallTargetPctKey} must be in [1, 100], got $p")
    p
  }

  /** Recall-target percentile for the s12 twin, override-aware like
    * [[resolvedLshTables]]. */
  private def resolvedRecallTargetPct: Int =
    sessionForOracle.map(recallTargetPct).getOrElse(90)

  /** Probe-width term for the s12 twin: the pinned override as a
    * literal when `spark.graft.ivfNprobe` is set, else the calibrated
    * width from the twin's own `calib` CTE — the oracle re-derives
    * the default from the same data, no literal to drift. */
  private def resolvedNprobeSql: String =
    sessionForOracle.flatMap(ivfNprobeOverride)
      .map(_.toString).getOrElse("(SELECT np FROM calib)")

  /** Order-statistic nprobe from the calibration sample's IN-GATE
    * cellranks: the smallest probe width that would have recovered
    * the true NN for `pct`% of the RECOVERABLE sample (exact
    * integer-ceil order statistic — never an interpolated percentile,
    * the cross-engine determinism rule), clamped to
    * [[[IvfNprobe]], cap]. Queries whose true-NN cell lies OUTSIDE
    * the wSup super-cell gate are excluded, not sentinel-maxed: no
    * nprobe recovers them at any cost (the gate, not the probe width,
    * is their binding constraint — raise `spark.graft.ivfSuperProbe`
    * for those), so letting them drive nprobe to the cap would
    * multiply the scan cost for zero recall gain. Measured at ×10 on
    * the isotropic corpus: in-gate ranks concentrate at the top of
    * the ordering (the true NN is close, so its cell centroid ranks
    * early), and cap-probing bought +0.00 recall@1 over the in-gate
    * percentile at 7× the cost. */
  private[graft] def pickNprobe(ranks: Seq[Long], pct: Int,
      cap: Int): Int =
    if (ranks.isEmpty) IvfNprobe
    else {
      val need = math.max(1, (ranks.length * pct + 99) / 100)
      val np0 = ranks.sorted.apply(need - 1)
      math.max(IvfNprobe.toLong, math.min(cap.toLong, np0)).toInt
    }

  /** AUTO-CALIBRATE the s12 probe width against the corpus geometry:
    * an E[[[CalibSample]]]-query md5-Bernoulli sample gets its EXACT
    * nearest corpus neighbor (the one brute-force cost — |sample|·n
    * distance evals, bounded by the fixed sample size), each true NN
    * routes to its cell through the SAME two-level gate the serving
    * path uses, and the rank of that cell in the query's gated cell
    * ordering is precisely the nprobe that query needed. nprobe :=
    * the [[recallTargetPct]]-th percentile of those ranks,
    * cap-clamped — clustered corpora (the deployment case) calibrate
    * low, isotropic ones hit the cap. Deterministic end-to-end (md5
    * gate, [[l2d]] distances, id tie-breaks) and replicated
    * CTE-for-CTE in the twin, so both engines derive the same width
    * from the same data. Collected EAGERLY (≤ sample-size rows) and
    * embedded as a literal — the p07 lesson: a lazy width frame would
    * re-run this chain at every downstream materialization. */
  private[graft] def calibrateNprobe(s: SparkSession, qs: DataFrame,
      corpus: DataFrame, scCent: DataFrame, cellCent: DataFrame,
      nQ: Long, k: Int, wSup: Int): Int = {
    val (sq, nn) = calibSampleNN(qs, corpus, nQ)
    calibrateNprobeFrom(s, rankedCells(sq, scCent, cellCent, wSup),
      nn, corpus, scCent, cellCent, k, wSup)
  }

  /** The FULL gated cell ordering of each sample query: every cell
    * the wSup super-cell gate admits, ranked by (cd, cid) — computed
    * ONCE per build and shared by BOTH dial calibrations (nprobe
    * reads the true NN's cellrank; the shortlist calibration's probe
    * set is `cellrank <= np`). The twin has always read its single
    * `sqrank` CTE from both calibrations; this is the Scala side
    * matching that shape — one routing chain over the sample instead
    * of two. Same gate and ordering as [[routeToCells]], with the
    * rank kept instead of consumed by a topN filter. */
  private[graft] def rankedCells(sq: DataFrame, scCent: DataFrame,
      cellCent: DataFrame, wSup: Int): DataFrame = {
    // r19: the full gated ordering is the routing projection with the
    // rank kept — posexplode position + 1 IS the old ROW_NUMBER
    // (array order is (cd, cid) ascending), with zero exchanges
    val g = collectGeom(scCent, cellCent, wSup)
    val ranked = graftshim.column(graft.functions.IvfRouteRanked(
      graftshim.expression(col("av")), g, 0))
    sq.select(col("q_id"),
        posexplode(ranked).as(Seq("__pos", "__rt")))
      .select(col("q_id"), col("__rt.cid").as("cid"),
        col("__rt.cd").as("cd"),
        (col("__pos") + 1).cast("int").as("cellrank"))
  }

  /** The calibration sample (E[[[CalibSample]]] md5-gated queries)
    * and its exact nearest corpus neighbors — the one brute-force
    * pass, shared by BOTH serving calibrations (nprobe and
    * shortlist). */
  private[graft] def calibSampleNN(qs: DataFrame, corpus: DataFrame,
      nQ: Long): (DataFrame, DataFrame) = {
    graft.functions.VectorFunctions.register(qs.sparkSession)
    // driver-side threshold, not hash·n in the plan (the twoLevelTrain
    // overflow lesson): hash < (C·2³² − 1)/nQ + 1  ⟺  hash·nQ < C·2³²
    val sampThresh = (CalibSample * 4294967296L - 1L) / nQ + 1L
    val sq = qs.filter(
      conv(substring(md5(concat(lit("s12c:"),
        col("q_id").cast("string"))), 1, 8), 16, 10).cast("long")
        < lit(sampThresh))
    // argmin via min(struct(qd, c_id)) — lexicographic field-wise
    // compare, so it IS the (qd ASC, c_id ASC) first row, but with
    // map-side partial aggregation instead of a full sort of the
    // |sample|·n cross product (the twin keeps its ROW_NUMBER form —
    // answer-identical)
    val nn = corpus.crossJoin(broadcast(sq))
      .withColumn("qd", l2d("av", "bv"))
      .groupBy(col("q_id"))
      .agg(min(struct(col("qd"), col("c_id"))).as("mn"))
      .select(col("q_id"), col("mn.c_id").as("c_id"))
    (sq, nn)
  }

  private[graft] def calibrateNprobeFrom(s: SparkSession,
      sqRanked: DataFrame, nn: DataFrame, corpus: DataFrame,
      scCent: DataFrame, cellCent: DataFrame, k: Int,
      wSup: Int): Int = {
    val cap = nprobeCap(k)
    // the true NN's cell: route just the ≤|sample| NN vectors — same
    // function, same gate, topN=1 ⇒ identical to the full-corpus
    // ccell assignment for those ids (the twin joins its ccell CTE)
    val nnCell = routeToCells(
      nn.select(col("c_id")).distinct().join(corpus, "c_id"),
      "c_id", "bv", scCent, cellCent, wSup, 1)
      .select(col("c_id"), col("cid").as("nn_cid"))
    // the query's gated cell ordering arrives pre-ranked
    // ([[rankedCells]] — shared with the shortlist calibration)
    val ranked = sqRanked
      .select(col("q_id").as("rq"), col("cid"), col("cellrank"))
    val qcell = nn.join(nnCell, "c_id")
    // INNER join: gate-missed queries (true-NN cell outside the wSup
    // super-cells) drop out — see [[pickNprobe]] for why they must
    // not drive the width
    val ranks = qcell.join(ranked,
        qcell("q_id") === ranked("rq") &&
          col("nn_cid") === ranked("cid"))
      .select(col("cellrank").cast("long").as("r"))
      .collect().map(_.getLong(0)).toIndexedSeq
    pickNprobe(ranks, recallTargetPct(s), cap)
  }

  /** The probe width s12 will use on corpus `d` under the session
    * confs — the pinned override if set, else a fresh calibration
    * run. Exposed for probes and specs (RecallProbe,
    * NprobeCalibrationSpec); s12 itself calibrates inline. */
  private[graft] def effectiveNprobe(s: SparkSession, d: String): Int =
    ivfNprobeOverride(s).getOrElse {
      val e = vecs(s, d)
      val corpus = e.filter(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("c_id"), col("v").as("bv"))
      val qs = e.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("q_id"), col("v").as("av"))
      val n = corpusEvenCount(s, d)
      val k = ivfCells(s, d)
      val (scCent0, cellCent0) = twoLevelTrain(corpus, "s12s:", n, k)
      val scCent = scCent0.cache()
      val cellCent = cellCent0.cache()
      // calibration-only caches: release them once the width is a
      // collected literal, or a long-lived session pins them forever
      try calibrateNprobe(s, qs, corpus, scCent, cellCent,
        corpusOddCount(s, d), k, ivfSuperProbe(s))
      finally {
        scCent.unpersist(false)
        cellCent.unpersist(false)
      }
    }

  /** Adaptive IVF cell count (s12): occupancy-64 cells like
    * [[adaptiveHyperplanes]] (cells grow with n, per-cell candidate
    * cost constant), clamped to [8, 4096] — the floor keeps a
    * several-cell structure on demo corpora; the cap bounds the
    * broadcast centroid table at ~2 MB of doubles (raise via
    * `spark.graft.ivfCells` past ~256k vectors; the two-level
    * quantizer keeps assignment O(√k) per vector at any k). Derived
    * from the CORPUS (even vec_ids) count with the same integer-exact
    * formula in both engines. The r12 clamp was 256, which froze k
    * while n grew — candidate volume then grew O(n²/k); measured
    * 316 s at ×100 (see PLANS.md, retained for contrast). */
  private[graft] def adaptiveIvfCells(nCorpus: Long): Int =
    math.min(4096L, math.max(8L, nCorpus / 64)).toInt

  /** Super-cell probe width (s12): how many of the ceil(√k) level-1
    * super-cells a vector's cell search descends into. Assignment
    * cost per vector is K1 + w·(k/K1) ≈ (1+w)·√k instead of the flat
    * scan's k; w > 1 recovers vectors whose true nearest cell sits
    * just across a super-cell boundary. 3 holds the measured recall@1
    * band on the test corpus (RecallDashboardSpec); on demo corpora
    * K1 ≤ 3 so every super-cell is probed and routing is exhaustive.
    * Override with `spark.graft.ivfSuperProbe` (oracle caveat as
    * [[IvfCellsKey]]: the shipped oracle bakes the default). */
  private[graft] val IvfSuperProbe = 3

  private def ivfSuperProbe(s: SparkSession): Int = {
    val w = GraftConf.int(s, GraftConf.IvfSuperProbeKey, IvfSuperProbe)
    require(w > 0 && w <= 64,
      s"${GraftConf.IvfSuperProbeKey} must be in [1, 64], got $w")
    w
  }

  /** Coarse-quantizer training-sample budget (s12): expected sample
    * size is TrainPerCell·k vectors (md5-threshold Bernoulli over
    * vec_id — deterministic, no global sort, identical in both
    * engines), so training cost is O(k^1.5) for the two-level Lloyd
    * rounds instead of the full corpus's n·k. 16 per cell estimates
    * a 64-occupancy cell's mean from a quarter of its mass — recall
    * measured unchanged vs full-corpus training on the test corpus. */
  private[graft] val IvfTrainPerCell = 16L

  /** s20 hybrid retrieval: E[sampled query docs] for the md5-Bernoulli
    * query sample — bounds the vector verification leg at
    * |sample|·corpus regardless of corpus size. */
  private[graft] val HybridSampleE = 32L

  /** s28 index-backed MMR: E[sampled queries] for its own
    * md5-Bernoulli gate over the odd (query-side) vec_ids — the
    * serving-batch shape (s21's discipline; a deployment passes its
    * live query batch instead). Salt "mmr:" keeps the sample
    * independent of the hybrid one. */
  private[graft] val MmrSampleE = 32L

  /** MMR candidate depth: the top-k cosine (s15) / exact-reranked
    * (s28) candidates the greedy fold diversifies over. */
  private[graft] val MmrCandidates = 16

  /** MMR picks per query. */
  private[graft] val MmrPickK = 5

  /** Lexical staleness audit (s31): E[sampled docs] for the
    * dl-recheck md5-Bernoulli gate over corpus (even) doc_ids.
    * Salt "lexa:" keeps it independent of the hybrid query sample. */
  private[graft] val LexAuditSample = 256L

  /** Rebuild dials for [[maintainLexIndex]]: minimum fraction of the
    * current corpus the index must cover (meta nd / corpus doc
    * count), and the maximum fraction of sampled docs whose stored
    * length disagrees with a fresh tokenization. */
  private[graft] val LexMinCoverage = 0.98
  private[graft] val LexMaxDlMismatch = 0.02

  /** Dedicated daemon pool for the build's overlapped background
    * chains (the calibration referee). NOT `ExecutionContext.global`:
    * that shared fixed-size pool is where two concurrent index
    * builds' blocking `collect()`s (nightly maintainIndexes + a
    * stream-triggered rebuild) could starve each other; a cached pool
    * grows a thread per in-flight referee and reaps idle ones. */
  private lazy val buildEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-pq-build-referee")
        t.setDaemon(true)
        t
      }))

  private val evenCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def corpusEvenCount(s: SparkSession, d: String): Long =
    evenCountCache.computeIfAbsent(d, _ =>
      new Tables(s, d).embeddings
        .filter(col("vec_id") % 2 === 0).count()).longValue()

  private val oddCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** QUERY-side count (odd vec_ids) — the calibration sample's
    * Bernoulli denominator. */
  private def corpusOddCount(s: SparkSession, d: String): Long =
    oddCountCache.computeIfAbsent(d, _ =>
      new Tables(s, d).embeddings
        .filter(col("vec_id") % 2 === 1).count()).longValue()

  private val docsOddCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Odd-doc count — the hybrid sample's Bernoulli denominator,
    * cached per (dir, JVM) like the vector counts above so the st19
    * steady-state micro-batch pays a map lookup, not a count job. */
  private def docsOddCount(s: SparkSession, d: String): Long =
    docsOddCache.computeIfAbsent(d, _ =>
      new Tables(s, d).documents
        .filter(col("doc_id") % 2 === 1).count()).longValue()

  private def ivfCells(s: SparkSession, d: String): Int =
    ivfCellsFor(s, corpusEvenCount(s, d))

  /** k for a corpus of n vectors (conf override honored) — split out
    * so a GATED base build (s24) sizes its cell count from the gated
    * corpus, exactly as the twin's `kk` CTE does from its gated
    * count. */
  private def ivfCellsFor(s: SparkSession, n: Long): Int = {
    val k = GraftConf.int(s, GraftConf.IvfCellsKey,
      adaptiveIvfCells(n))
    require(k >= 2 && k <= 65536,
      s"${GraftConf.IvfCellsKey} must be in [2, 65536], got $k")
    k
  }

  /** Coarse-pass truncation width (s07/s09): leading coordinates of
    * the embedding scored in stage 1 ("matryoshka" first pass). 16
    * measured recall@1 = 0.22 on the test corpus even with a wide
    * shortlist — the 16-dim cosine misranks the true neighbor too
    * often; 32 (half the vector, half the coarse IO/arithmetic of a
    * full scan) lifts the two-stage tiers into the dashboard's
    * asserted band together with [[TruncShortlist]]. */
  private[graft] val TruncDims = 32

  private def truncShortlist(s: SparkSession): Int = {
    val k = GraftConf.int(s, GraftConf.TruncShortlistKey, TruncShortlist)
    require(k > 0, s"${GraftConf.TruncShortlistKey} must be positive, got $k")
    k
  }

  /** (vec_id, v: array<float>, nrm: double). The norm (and later the
    * dots) run through the native codegen'd [[graft.functions.VectorNorm]]
    * / [[graft.functions.VectorDot]] expressions — identical arithmetic
    * to the HOF fold, ~10× faster on the O(n²) pair scan. */
  private def vecs(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    graft.functions.VectorFunctions.registerLshBucket(
      s, hyperplaneWeights(lshHyperplanes(s, d)))
    new Tables(s, d).embeddings
      .withColumn("nrm", expr("vec_norm(embedding)"))
      .select(col("vec_id"), col("embedding").as("v"), col("nrm"))
  }

  private val vecsSql =
    """SELECT vec_id, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
       FROM (SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             FROM embeddings)"""

  /** dot(a.v, b.v): native expression, exact left-to-right fold. */
  private val dotExpr = "vec_dot(av, bv)"

  private val dotSql =
    "list_sum(list_transform(list_zip(a.v, b.v), t -> t[1] * t[2]))"

  /** Hyperplane coefficients, precomputed ONCE on the driver: w[p][dd]
    * = md5("p:dd")-derived uniform in [-0.5, 0.5). Bit-identical to
    * the in-query md5 derivation the DuckDB oracle still uses (JVM MD5
    * = Spark `md5` = DuckDB `md5`; hex→long→double scaling is exact),
    * but evaluated 1× instead of LshHyperplanes × VecDim md5 calls PER
    * ROW — the difference between a constant-folded literal and 512
    * hashes per vector in the hot path. */
  private val weightsCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Seq[Seq[Double]]]()

  private[graft] def hyperplaneWeights(
      h: Int = LshHyperplanes): Seq[Seq[Double]] =
    weightsCache.computeIfAbsent(h, _ =>
      Seq.tabulate(h, VecDim) { (p, dd) =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$p:$dd".getBytes("UTF-8")).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex.take(8), 16).toDouble / 4294967296.0 - 0.5
      })

  /** Hyperplane family for TABLE t of the multi-table amplification
    * (s10): table 0 is the base family ([[hyperplaneWeights]] — so one
    * table degenerates to the s02/s05 bucketing); table t > 0 derives
    * from md5("t<t>:<p>:<dd>") — independent, deterministic, no RNG
    * state to ship, mirrored in the oracle's SQL md5. */
  private val tableWeightsCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Seq[Seq[Double]]]()

  private[graft] def tableWeights(t: Int,
      h: Int = LshHyperplanes): Seq[Seq[Double]] =
    if (t == 0) hyperplaneWeights(h)
    else tableWeightsCache.computeIfAbsent((t, h), _ =>
      Seq.tabulate(h, VecDim) { (p, dd) =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"t$t:$p:$dd".getBytes("UTF-8")).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex.take(8), 16).toDouble / 4294967296.0 - 0.5
      })

  /** SQL literal of [[hyperplaneWeights]]: array(array(w00, ...), ...).
    * Doubles are rendered in full precision via Java's shortest-
    * round-trip Double.toString. Only the HOF twin ([[bucketExprHof]],
    * spec-only) still embeds this. */
  private[graft] def weightsLit(h: Int = LshHyperplanes): String =
    hyperplaneWeights(h)
      .map(_.map(w => s"${w}d").mkString("array(", ", ", ")"))
      .mkString("array(", ", ", ")")

  /** Random-hyperplane bucket id (shared by s02/s05): sign of v·w_p for
    * the configured md5-derived hyperplanes, packed into a bucket int.
    * Native codegen'd [[graft.functions.VectorLshBucket]] — same
    * left-to-right double fold as the oracle's list_sum; the r3 HOF
    * formulation ([[bucketExprHof]]) evaluated interpreted and
    * re-walked its 512-double literal per row. */
  private lazy val bucketExpr = "vec_lsh_bucket(v)"

  /** The HOF formulation bucketExpr replaced, kept ONLY so specs can
    * assert bit-identical per-row equivalence with the native
    * expression (the oracle derives the same weights a third way, via
    * md5 in SQL). */
  private[graft] def bucketExprHof(h: Int = LshHyperplanes): String =
    s"""aggregate(
         transform(sequence(0, ${h - 1}), p ->
           CASE WHEN aggregate(
             zip_with(v, element_at(${weightsLit(h)}, p + 1),
               (x, w) -> x * w),
             cast(0.0 as double), (acc, x) -> acc + x) > 0
           THEN cast(pow(2, p) as bigint) ELSE cast(0 as bigint) END),
         cast(0 as bigint), (acc, x) -> acc + x)"""

  /** Multi-probe set: own bucket + one flip per hyperplane. */
  private def probeExpr(h: Int = LshHyperplanes): String =
    s"""concat(array(bucket),
         transform(sequence(0, ${h - 1}), p ->
           bucket ^ shiftleft(cast(1 as bigint), p)))"""

  /** s17's index-lifecycle phases, package-visible so
    * `PersistedIndexSpec` can snapshot the index files BETWEEN them
    * (the O(|delta|) maintenance proof: base files byte-identical
    * across the append). */
  private[graft] def s17IndexPath(d: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_s17-" +
      Integer.toHexString(d.hashCode)

  private def deleteDir(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
    }
  }

  private[graft] def s17BuildBase(s: SparkSession, d: String): Unit = {
    // idempotent across lifecycles: clear any compaction generation a
    // previous run left behind (the live table may point at one)
    s.sql("DROP TABLE IF EXISTS s17_corpus_idx")
    deleteDir(s"${s17IndexPath(d)}-a")
    deleteDir(s"${s17IndexPath(d)}-b")
    val e = vecs(s, d).withColumn("bucket", expr(bucketExpr))
    // last night's index: the even stripe minus today's arrivals
    e.filter(col("vec_id") % 2 === 0 && col("vec_id") % 10 =!= 0)
      .select(col("vec_id").as("c_id"), col("v").as("bv"),
        col("nrm").as("nrm_c"), col("bucket").as("bucket_c"))
      .write.mode("overwrite").option("path", s17IndexPath(d))
      .bucketBy(8, "bucket_c")
      .saveAsTable("s17_corpus_idx")
  }

  /** OPTIMIZE pass for the incremental index: every nightly
    * [[s17AppendDelta]] lands one new small file per (task, bucket),
    * so a year of deltas reads as hundreds of tiny files per bucket.
    * Compaction bin-packs each bucket back to ONE file WITHOUT a
    * shuffle: with auto-bucketed-scan forced on, the read of the
    * bucketed table is one partition per bucket, so the bucketed
    * rewrite streams bucket j's files into a single new bucket-j
    * file — per-bucket merge I/O, zero exchange, the same property
    * the probe relies on. The rewrite lands as a sibling GENERATION
    * directory (-a/-b alternating) under a staging table name, then
    * swaps via drop + rename — a single-writer maintenance window,
    * like every OPTIMIZE in the w-series — and the superseded
    * generation's files are removed. Probe answers and the
    * zero-exchange corpus side are unchanged (`PersistedIndexSpec`,
    * plus the s17 gate which now runs build→append→compact→probe
    * through the DuckDB oracle).
    *
    * Crash recovery: the DROP→RENAME swap is two statements, not one
    * atomic operation. A crash BEFORE the drop leaves the live table
    * untouched (re-run compaction; the defensive drop below clears
    * the orphaned staging table). A crash BETWEEN drop and rename
    * leaves no live `s17_corpus_idx` — the new generation's files
    * survive under the staging name as the ONLY copy, and re-running
    * compaction detects that window below and COMPLETES the
    * interrupted rename before anything else (in particular before
    * the defensive staging DROP, which would otherwise destroy the
    * sole surviving generation — the r14 ADVICE hazard). No rebuild
    * needed in either window (`PersistedIndexSpec` kills the swap
    * mid-window and re-runs). */
  private[graft] def s17Compact(s: SparkSession, d: String): Unit = {
    val cat = s.sessionState.catalog
    val liveId =
      org.apache.spark.sql.catalyst.TableIdentifier("s17_corpus_idx")
    val stagingId =
      org.apache.spark.sql.catalyst.TableIdentifier("s17_corpus_idx_next")
    // crash recovery FIRST: staging exists + live missing == a crash
    // landed between the DROP and the RENAME of a previous swap, and
    // the staging table holds the only surviving generation
    if (!cat.tableExists(liveId) && cat.tableExists(stagingId)) {
      s.sql("ALTER TABLE s17_corpus_idx_next RENAME TO s17_corpus_idx")
    }
    val curLoc = cat.getTableMetadata(liveId).location
    val base = s17IndexPath(d)
    val next =
      if (curLoc.getPath.stripSuffix("/").endsWith("-a")) s"$base-b"
      else s"$base-a"
    val scanKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = s.conf.get(scanKey, "true")
    // force the bucketed scan (the auto mode drops it when no join or
    // aggregate exploits the distribution — a plain rewrite doesn't)
    s.conf.set(scanKey, "false")
    // a prior crash after the staging write can leave an orphaned
    // staging table whose metadata saveAsTable would trip over —
    // clear it before writing the new generation
    s.sql("DROP TABLE IF EXISTS s17_corpus_idx_next")
    try {
      s.table("s17_corpus_idx")
        .write.mode("overwrite").option("path", next)
        .bucketBy(8, "bucket_c")
        .saveAsTable("s17_corpus_idx_next")
    } finally s.conf.set(scanKey, prev)
    s.sql("DROP TABLE s17_corpus_idx")
    s.sql("ALTER TABLE s17_corpus_idx_next RENAME TO s17_corpus_idx")
    deleteDir(curLoc.getPath)
  }

  /** Nightly maintenance: bucket ONLY the delta and append through
    * the table's bucket spec — insertInto routes the new files into
    * the same 8-bucket layout (the catalog spec, not the data path,
    * owns the bucketing). Idempotence: callers re-running the whole
    * lifecycle rebuild the base first (mode overwrite above). */
  private[graft] def s17AppendDelta(s: SparkSession, d: String): Unit =
    vecs(s, d).withColumn("bucket", expr(bucketExpr))
      .filter(col("vec_id") % 2 === 0 && col("vec_id") % 10 === 0)
      .select(col("vec_id").as("c_id"), col("v").as("bv"),
        col("nrm").as("nrm_c"), col("bucket").as("bucket_c"))
      .write.mode("append").insertInto("s17_corpus_idx")

  /** The serving probe over whatever `s17_corpus_idx` currently
    * holds — shared by the s17 QueryDef and by `PersistedIndexSpec`
    * (which calls it directly after its own build/append phases, so
    * the plan assertion doesn't pay a second index build). */
  private[graft] def s17Probe(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d).withColumn("bucket", expr(bucketExpr))
    val corpus = s.table("s17_corpus_idx")
    val qs = e.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("q_id"), col("v").as("av"),
        col("nrm").as("nrm_q"), col("bucket"))
      .withColumn("probe", explode(expr(probeExpr(lshHyperplanes(s, d)))))
    topKPerKey(qs.join(corpus, col("probe") === col("bucket_c"))
        .withColumn("cos_sim", expr(dotExpr) / (col("nrm_q") * col("nrm_c"))),
        Seq(col("q_id")), Seq(col("cos_sim").desc, col("c_id")), 1, "r")
      .select(col("q_id"), col("c_id"), col("cos_sim"))
      .orderBy(col("q_id"))
  }


  /** The `hh` CTE supplying the hyperplane count H to the SQL twins.
    * Default: the ADAPTIVE formula, derived in SQL from the corpus
    * count with the same integer-exact arithmetic as
    * [[adaptiveHyperplanes]] — both engines compute the same H from
    * the same data, no literal to drift. When the session carries a
    * `spark.graft.lshHyperplanes` OVERRIDE at oracle-materialization
    * time, the twin pins that resolved H as a literal instead, so the
    * cross-engine hash gate stays valid under the production dial
    * (queries re-materialize per access — [[queries]] is a def). */
  private def hCte: String =
    sessionForOracle
      .flatMap(s => s.conf.getOption(GraftConf.LshHyperplanesKey))
      .map(_.trim.toInt) match {
      case Some(h) =>
        // same [1, 62] validation the Spark side (lshHyperplanes)
        // applies — an out-of-range override must fail HERE, not be
        // silently embedded as a literal that overflows the BIGINT
        // bucket sum in DuckDB
        require(h >= 1 && h <= 62,
          s"${GraftConf.LshHyperplanesKey} must be in [1, 62] (bucket " +
            s"packs into a signed long), got $h")
        s"hh AS (SELECT $h AS h)"
      case None =>
        """hh AS (SELECT LEAST(62, GREATEST(2,
            length(format('{:b}', (COUNT(*) - 1) // 64)))) AS h FROM e0)"""
    }

  /** DuckDB twins of [[bucketExpr]] / [[probeExpr]] as CTE fragments
    * over e0 (= $vecsSql); H supplied by [[hCte]] (override-aware). */
  private[graft] def bucketedSqlCtes(): String =
    s"""$hCte,
        e AS (SELECT vec_id, v, nrm,
            CAST(list_sum(list_transform(
              generate_series(0, (SELECT h FROM hh) - 1), p ->
              CASE WHEN list_sum(list_transform(generate_series(0, ${VecDim - 1}), dd ->
                v[dd + 1] * (('0x' || substr(md5(p || ':' || dd), 1, 8))::BIGINT
                  / 4294967296.0 - 0.5))) > 0
              THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END)) AS BIGINT)
              AS bucket
          FROM e0),
        probed AS (SELECT vec_id, v, nrm, bucket,
                     unnest(list_prepend(bucket,
                       list_transform(
                         generate_series(0, (SELECT h FROM hh) - 1), p ->
                         xor(bucket, CAST(pow(2, p) AS BIGINT))))) AS probe
                   FROM e)"""

  /** DuckDB twin of the s10 multi-table candidate generation + exact
    * cosine verify; table 0's weights are the base family, table t > 0
    * derives from md5('t<t>:<p>:<dd>') — same strings the Scala
    * [[tableWeights]] hashes. Each table probes its own bucket plus
    * every 1-bit flip, mirroring the Spark side. */
  private[graft] def multiTableSql(r: Int = resolvedLshTables): String =
    s"""WITH e0 AS ($vecsSql),
        $hCte,
        keyed AS (SELECT vec_id, t,
            CAST(list_sum(list_transform(
              generate_series(0, (SELECT h FROM hh) - 1), p ->
              CASE WHEN list_sum(list_transform(generate_series(0, ${VecDim - 1}), dd ->
                v[dd + 1] * (('0x' || substr(md5(
                  CASE WHEN t = 0 THEN p || ':' || dd
                       ELSE 't' || t || ':' || p || ':' || dd END), 1, 8))::BIGINT
                  / 4294967296.0 - 0.5))) > 0
              THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END)) AS BIGINT) AS b
          FROM e0, UNNEST(generate_series(0, ${r - 1})) AS tt(t)),
        probed AS (SELECT vec_id, t,
                     unnest(list_prepend(b,
                       list_transform(
                         generate_series(0, (SELECT h FROM hh) - 1), p ->
                         xor(b, CAST(pow(2, p) AS BIGINT))))) AS probe
                   FROM keyed),
        cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
                 FROM probed x JOIN keyed y
                   ON x.t = y.t AND x.probe = y.b AND x.vec_id < y.vec_id)
        SELECT c.id_a, c.id_b, $dotSql / (a.nrm * b.nrm) AS cos_sim
        FROM cand c
        JOIN e0 a ON a.vec_id = c.id_a
        JOIN e0 b ON b.vec_id = c.id_b
        WHERE $dotSql / (a.nrm * b.nrm) >= 0.4
        ORDER BY c.id_a, c.id_b"""

  /** s05's verified near-dup pair relation (id_a < id_b, cos ≥ 0.4):
    * multi-probe LSH bucket join for candidates, exact cosine on the
    * DISTINCT candidate set only. Shared by s05 (pairs) and d09
    * (connected components over the same graph). */
  private def bucketedNearDupPairs(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d).withColumn("bucket", expr(bucketExpr))
    val cand = e.select(col("vec_id").as("id_a"), col("bucket"))
      .withColumn("probe", explode(expr(probeExpr(lshHyperplanes(s, d)))))
      .join(e.select(col("vec_id").as("id_b"),
        col("bucket").as("bucket_b")),
        col("probe") === col("bucket_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val v2 = vecs(s, d)
    cand
      .join(v2.select(col("vec_id").as("id_a"), col("v").as("av"),
        col("nrm").as("nrm_a")), "id_a")
      .join(v2.select(col("vec_id").as("id_b"), col("v").as("bv"),
        col("nrm").as("nrm_b")), "id_b")
      .withColumn("cos_sim", expr(dotExpr) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos_sim") >= 0.4)
  }

  // ---------- st16's shared pieces: the persisted-index build and
  // the probe-side preparation, written once so the STREAMING serving
  // query (st16) provably runs the same code as the batch one ----------

  /** Build the persisted LSH-bucket index (s13's layout — even-id
    * corpus, bucketed+sorted on the bucket key at write time) under
    * `table`. The bucket shuffle is paid HERE, once; probes join it
    * with zero exchange on the corpus side. */
  private[graft] def buildBucketIndex(s: SparkSession, d: String,
      table: String): Unit = {
    val e = vecs(s, d).withColumn("bucket", expr(bucketExpr))
    val idxPath = s"${System.getProperty("java.io.tmpdir")}/graft_$table-" +
      Integer.toHexString(d.hashCode)
    e.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("c_id"), col("v").as("bv"),
        col("nrm").as("nrm_c"), col("bucket").as("bucket_c"))
      .write.mode("overwrite").option("path", idxPath)
      .bucketBy(8, "bucket_c").sortBy("bucket_c")
      .saveAsTable(table)
  }

  /** Turn any (vec_id, embedding) frame — batch OR a streaming
    * micro-batch — into exploded multi-probe rows (q_id, av, nrm_q,
    * probe): the bucket/probe expressions are stateless codegen'd
    * scalars, so the identical code plans inside a streaming query.
    * Registers the session's vector functions as a side effect. */
  private[graft] def probeRows(s: SparkSession, d: String,
      df: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    graft.functions.VectorFunctions.registerLshBucket(
      s, hyperplaneWeights(lshHyperplanes(s, d)))
    df.select(col("vec_id").as("q_id"),
        col("embedding").as("av"),
        expr("vec_norm(embedding)").as("nrm_q"),
        expr("vec_lsh_bucket(embedding)").as("bucket"))
      .withColumn("probe", explode(expr(probeExpr(lshHyperplanes(s, d)))))
  }

  /** The query-vs-corpus top-1 oracle (s11/s13's text) — also st16's:
    * the streaming serving run must equal the batch serving answer. */
  private[graft] def queryVsCorpusOracleSql: String =
    s"""WITH e0 AS ($vecsSql),
        ${bucketedSqlCtes()},
        cand AS (SELECT a.vec_id AS q_id, b.vec_id AS c_id,
            list_sum(list_transform(list_zip(a.v, b.v), t -> t[1] * t[2]))
              / (a.nrm * b.nrm) AS cos_sim
          FROM probed a JOIN e b ON a.probe = b.bucket
          WHERE a.vec_id % 2 = 1 AND b.vec_id % 2 = 0)
        SELECT q_id, c_id, cos_sim FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY cos_sim DESC, c_id) AS r FROM cand)
        WHERE r = 1 ORDER BY q_id"""

  // ---------- shared two-level coarse quantizer (s12 IVF gate, d13
  // SemDeDup clustering) ----------

  /** Exact L2² between two array columns — floats cast to double
    * BEFORE subtracting, strict left-to-right fold: bit-identical to
    * the DuckDB twins' `list_sum(list_transform(list_zip(...)))`.
    * Since r19 this is the native codegen'd
    * [[graft.functions.VectorL2Sq]] — identical arithmetic (and
    * identical NULL semantics on length mismatch) to the
    * `aggregate(zip_with(...))` HOF it replaces, but a tight
    * primitive loop instead of interpreted lambda dispatch on the
    * |sample|·n calibration referee and the shortlist rerank
    * (guide §4; the s01 vec_dot lesson). Callers must have
    * registered [[graft.functions.VectorFunctions]] (every path
    * through [[vecs]] has). */
  private def l2d(a: String, c: String) = expr(s"vec_l2sq($a, $c)")

  /** Floor-quantized exact mean of column `x` (s08's recipe): BIGINT
    * sums are exact and associative, so Spark's parallel partials and
    * the oracle's sequential sum agree to the bit. */
  private def quantMean = (sum(expr(
    "cast(floor(cast(x as double) * 1e10 + 0.5d) as bigint)"))
    .cast("double") / lit(1e10) / count(lit(1))).as("cval")

  /** Any float/double element sequence from a collected Row →
    * Array[Double] (the expressions' per-element widening,
    * driver-side). */
  private def rowVec(xs: Seq[Any]): Vector[Double] =
    xs.iterator.map {
      case f: Float => f.toDouble
      case d: Double => d
      case other => other.asInstanceOf[Number].doubleValue()
    }.toVector

  /** Empty LocalRelation with a (id cols…, vec) shape. */
  private def emptyCentDf(s: SparkSession,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.createDataFrame(new java.util.ArrayList[Row](), schema)

  private def centSchema(fields: (String, org.apache.spark.sql.types.DataType)*) =
    org.apache.spark.sql.types.StructType(fields.map { case (nm, dt) =>
      org.apache.spark.sql.types.StructField(nm, dt)
    })

  private val VecDT =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.DoubleType)
  private val LongDT = org.apache.spark.sql.types.LongType

  /** Sample-trained TWO-LEVEL coarse quantizer: one Lloyd round
    * derives ceil(√k) super-centroids from the k1 lowest-id members
    * of a deterministic md5-Bernoulli sample (E[|samp|] = 16·k), then
    * ceil(k/K1) cells seed + Lloyd-refine within each super-cell —
    * training cost O(k^1.5) on the sample, never n·k over the corpus.
    * `corpus` must expose (c_id, bv); returns (super-centroids
    * (scid, sc), cell centroids (cid, scid, c)). Shared by s12 (IVF
    * gate) and d13 (SemDeDup clustering); each caller salts its own
    * sample so the structures are independent.
    *
    * Since r19 the training runs EAGERLY over the CACHED sample and
    * the returned frames are LocalRelations of the collected
    * centroids (≤ k + ceil(√k) rows — bounded by construction, the
    * same rows the old lazy chains shipped through broadcast
    * exchanges): the r18 shape re-scanned the corpus once per
    * consumer of `samp` (six md5-gated full scans at 100 TB) and
    * dragged a ~10-exchange training DAG under every downstream
    * materialization; now the corpus is scanned ONCE for the sample,
    * the three argmin assignments are exchange-free
    * [[graft.functions.VecNearestId]]/[[graft.functions.VecNearestIdInGroup]]
    * projections (identical fold arithmetic and (d, id) tie-breaks —
    * the twins keep their ROW_NUMBER form), and downstream consumers
    * see constant-folded local relations instead of the training
    * lineage. */
  private[graft] def twoLevelTrain(corpus: DataFrame, salt: String,
      n: Long, k: Int): (DataFrame, DataFrame) = {
    import scala.jdk.CollectionConverters._
    val s = corpus.sparkSession
    graft.functions.VectorFunctions.register(s)
    val k1 = math.ceil(math.sqrt(k.toDouble)).toInt
    val cps = (k + k1 - 1) / k1
    val scSchema = centSchema("scid" -> LongDT, "sc" -> VecDT)
    val cellSchema =
      centSchema("cid" -> LongDT, "scid" -> LongDT, "c" -> VecDT)
    // Sample gate compares the 32-bit hash against a DRIVER-side
    // threshold instead of multiplying hash*n in the plan: past
    // ~2.1e9 corpus vectors the product wraps negative in signed
    // 64-bit (rows would spuriously pass) while DuckDB would raise —
    // hash*n < C  ⟺  hash ≤ (C-1)/n for non-negative integers, so
    // the sampled set is bit-identical to the product form.
    val sampThresh = (IvfTrainPerCell * 4294967296L * k - 1L) / n + 1L
    // ONE distributed job: the md5-Bernoulli sample gate scans the
    // corpus and ships ONLY the bounded sample (E[16·k] ≤ 65k rows ×
    // VecDim doubles ≈ 34 MB worst case) to the driver. r19 cached
    // the sample and ran the seed pick plus three Lloyd passes as
    // ~9 sequential sample-sized Spark jobs — pure per-job scheduling
    // wall (~90 ms each) over a relation this small; r20 runs the
    // Lloyd math driver-side over the collected rows. Bit-identical
    // by construction: the argmin assignments call the SAME
    // IvfFunctions.nearestIdx the VecNearestId/VecNearestIdInGroup
    // expressions evaluate, and the centroid means are the same
    // order-free quantized-BIGINT sums (quantMean's exact arithmetic,
    // reproduced element-for-element in quantMeanLocal —
    // TwoLevelTrainSpec pins frame equality against the r19 chain).
    val sampRows = corpus.filter(
        conv(substring(md5(concat(lit(salt),
          col("c_id").cast("string"))), 1, 8), 16, 10).cast("long")
          < lit(sampThresh))
      .select(col("c_id"), col("bv"))
      .collect()
      .map(r => (r.getLong(0), rowVec(r.getSeq[Any](1))))
      .sortBy(_._1)
    if (sampRows.isEmpty)
      return (emptyCentDf(s, scSchema), emptyCentDf(s, cellSchema))
    // Lloyd seeds: the k1 lowest-id sample members (rows sorted)
    val seeds1 = sampRows.take(k1)
    val seedIds = seeds1.map(_._1)
    val seedVecs = seeds1.map(_._2.toArray)
    // pass 1: assign every sample row to its nearest seed, then the
    // quantized mean per (scid, dim) — the super-centroids
    val asg1 = sampRows.map { case (cId, v) =>
      (seedIds(graft.functions.IvfFunctions
        .nearestIdx(v.toArray, seedIds, seedVecs)), cId, v)
    }
    val scCentRows: Array[(Long, Vector[Double])] = asg1
      .groupBy(_._1).toArray.sortBy(_._1)
      .map { case (scid, xs) => (scid, quantMeanLocal(xs.map(_._3))) }
    // pass 2: re-assign to the trained super-centroids
    val scIds = scCentRows.map(_._1)
    val scVecs = scCentRows.map(_._2.toArray)
    val asg2 = sampRows.map { case (cId, v) =>
      (scIds(graft.functions.IvfFunctions
        .nearestIdx(v.toArray, scIds, scVecs)), cId, v)
    }
    // cell seeds: the cps lowest-id members of each super-cell
    // (rows are c_id-sorted, so take(cps) is the ROW_NUMBER ≤ cps
    // window of the r19 chain)
    val bySc = asg2.groupBy(_._1)
    val seedsBySc: Map[Long, (Array[Long], Array[Array[Double]])] =
      bySc.map { case (g, xs) =>
        val sub = xs.sortBy(_._2).take(cps)
        g -> (sub.map(_._2), sub.map(_._3.toArray))
      }
    // pass 3: assign within the own super-cell's seeds, then the
    // quantized mean per (cid, dim) — the cell centroids
    val cellCentRows: Array[(Long, Long, Vector[Double])] = asg2
      .map { case (scid, cId, v) =>
        val (ids, cents) = seedsBySc(scid)
        (ids(graft.functions.IvfFunctions
          .nearestIdx(v.toArray, ids, cents)), scid, cId, v)
      }
      .groupBy(t => (t._1, t._2)).toArray
      .sortBy { case ((cid, scid), _) => (scid, cid) }
      .map { case ((cid, scid), xs) =>
        (cid, scid, quantMeanLocal(xs.map(_._4)))
      }
    val scDf = s.createDataFrame(
      scCentRows.map(t => Row(t._1, t._2)).toSeq.asJava, scSchema)
    val cellDf = s.createDataFrame(
      cellCentRows.map(t => Row(t._1, t._2, t._3)).toSeq.asJava,
      cellSchema)
    (scDf, cellDf)
  }

  /** Driver-side twin of [[quantMean]], op for op: per dimension,
    * Σ CAST(FLOOR(x·1e10 + 0.5) AS BIGINT) (exact, order-free) cast
    * to double, ÷ 1e10, ÷ count — the identical three IEEE steps, so
    * a centroid computed here is bit-equal to the r19 aggregation's
    * (and to the DuckDB twins'). */
  private def quantMeanLocal(members: Seq[Vector[Double]]): Vector[Double] = {
    val dim = members.head.length
    Vector.tabulate(dim) { dd =>
      var sum = 0L
      members.foreach { v =>
        sum += math.floor(v(dd) * 1e10 + 0.5).toLong
      }
      sum.toDouble / 1e10 / members.length
    }
  }

  /** Driver-collected routing geometry from (possibly LocalRelation,
    * possibly table-backed) centroid frames — bounded by the cell
    * clamp (≤ 4096 + ceil(√k) rows), the same rows every routing
    * join already shipped through the driver as a broadcast. */
  private[graft] def collectGeom(scCent: DataFrame, cellCent: DataFrame,
      wSup: Int): graft.functions.IvfGeom = {
    val scRows = scCent.select(col("scid"), col("sc")).collect()
    val cellRows =
      cellCent.select(col("cid"), col("scid"), col("c")).collect()
    graft.functions.IvfGeom(
      scRows.map(_.getLong(0)).toVector,
      scRows.map(r => rowVec(r.getSeq[Any](1))).toVector,
      cellRows.map(_.getLong(0)).toVector,
      cellRows.map(_.getLong(1)).toVector,
      cellRows.map(r => rowVec(r.getSeq[Any](2))).toVector,
      wSup)
  }

  /** Route vectors to their `topN` L2-nearest cells through the `wSup`
    * nearest super-cells — (K1 + wSup·k/K1) ≈ (1+w)·√k distance evals
    * per vector vs a flat scan's k. `v` must expose (`idCol`,
    * `vecCol`); returns (`idCol`, cid, cd) with cd = exact L2² to the
    * chosen cell centroid (rank ≤ topN per id, ties by cid).
    *
    * Since r19 the routing is ONE exchange-free projection
    * ([[graft.functions.IvfRouteRanked]] over the driver-collected
    * bounded geometry — the same centroid rows the old chain
    * broadcast): the r18 shape paid crossJoin→window→join→window/
    * groupBy, i.e. TWO full-relation exchanges per routed relation —
    * the dominant shuffles of the whole PQ family at 100 TB and pure
    * stage-scheduling wall at bench scale. Same per-pair fold
    * arithmetic, same (d, id) tie-breaks; vectors whose admitted
    * super-cells hold no cells drop exactly like the old inner
    * join. */
  private[graft] def routeToCells(v: DataFrame, idCol: String,
      vecCol: String, scCent: DataFrame, cellCent: DataFrame,
      wSup: Int, topN: Int): DataFrame =
    routeWithGeom(v, idCol, vecCol, collectGeom(scCent, cellCent, wSup),
      topN)

  private[graft] def routeWithGeom(v: DataFrame, idCol: String,
      vecCol: String, g: graft.functions.IvfGeom,
      topN: Int): DataFrame = {
    val ranked = graftshim.column(graft.functions.IvfRouteRanked(
      graftshim.expression(col(vecCol)), g, topN))
    if (topN == 1)
      v.withColumn("__rt",
          when(size(ranked) >= 1, element_at(ranked, 1)))
        .filter(col("__rt").isNotNull)
        .select(col(idCol), col("__rt.cid").as("cid"),
          col("__rt.cd").as("cd"))
    else
      v.select(col(idCol),
          posexplode(ranked).as(Seq("__pos", "__rt")))
        .select(col(idCol), col("__rt.cid").as("cid"),
          col("__rt.cd").as("cd"))
  }

  // ---------- IVF-PQ build/serve (s12 inline; s18 persisted) ----------

  private val PqM = 4
  private val PqSub = VecDim / PqM // 16

  /** Serving artifacts of one built IVF-PQ index: the two calibrated
    * dials (nprobe, shortlist — index METADATA, decided at build time
    * from the corpus geometry) plus the frames the serve path joins:
    * routing centroids, the per-corpus-row (cid, codes) map, the
    * trained codebook, and the per-cell ADC term table. */
  private[graft] final case class PqIndex(np: Int, sl: Int,
      scCent: DataFrame, cellCent: DataFrame, cellm: DataFrame,
      cb1f: DataFrame, clut: DataFrame, candRecall: Double = -1.0) {
    // routing geometry, collected once per (index instance, wSup) —
    // the steady-state serving streams hold one PqIndex per
    // generation (PqIndexCache), so a micro-batch pays a map lookup,
    // not a re-collect
    @transient private lazy val geomMemo =
      new java.util.concurrent.ConcurrentHashMap[Int, graft.functions.IvfGeom]()
    private[graft] def geom(wSup: Int): graft.functions.IvfGeom =
      geomMemo.computeIfAbsent(wSup,
        w => collectGeom(scCent, cellCent, w))
    // the 256-row codebook, collected once per index instance — the
    // serving streams hold one instance per generation, so a
    // micro-batch's qlut projection pays a field read, not a scan job
    @transient private[graft] lazy val codebook: graft.functions.PqCodebook =
      collectCodebook(cb1f)
  }

  /** s18_pq_meta schema version: bump whenever the meta/codes table
    * shape changes (v2 added the freshness fingerprint + generation +
    * measured candidate recall, and the codes table's label column;
    * v3 the SCOPE — "full" for a from-scratch build, "incremental"
    * once [[appendPqDelta]] has extended it with frozen quantizers).
    * [[ensurePqIndex]] treats any other version — including a
    * pre-versioning meta table from a persistent metastore — as
    * stale and rebuilds. */
  private[graft] val PqMetaSchemaVer = 3

  /** Every session conf that changes what a PQ build would produce or
    * how the oracle resolves its twin, flattened to one comparable
    * string — the index-freshness fingerprint persisted in
    * s18_pq_meta. A conf override set AFTER an index was persisted in
    * the same session (or an index persisted under different dials in
    * a persistent metastore) must trigger a rebuild, or the "fresh"
    * index serves stale dials while the oracle resolves the current
    * override (the r16 ADVICE medium). */
  private[graft] def pqConfFingerprint(s: SparkSession): String =
    Seq(GraftConf.IvfNprobeKey, GraftConf.PqShortlistKey,
        GraftConf.IvfRecallTargetPctKey, GraftConf.IvfSuperProbeKey,
        GraftConf.IvfCellsKey, GraftConf.MinCandRecallKey)
      .map(k => s"$k=${s.conf.getOption(k).map(_.trim).getOrElse("")}")
      .mkString(";")

  /** The build-time candidate-recall floor when
    * `spark.graft.minCandRecall` is set (validated), else None →
    * measure-and-persist only, never gate. */
  private def minCandRecall(s: SparkSession): Option[Double] =
    s.conf.getOption(GraftConf.MinCandRecallKey).map { raw =>
      val f = raw.trim.toDouble
      require(f > 0.0 && f <= 1.0,
        s"${GraftConf.MinCandRecallKey} must be in (0, 1], got $f")
      f
    }

  private def maxRecallDrift(s: SparkSession): Option[Double] =
    s.conf.getOption(GraftConf.MaxRecallDriftKey).map { raw =>
      val f = raw.trim.toDouble
      require(f >= 0.0 && f < 1.0,
        s"${GraftConf.MaxRecallDriftKey} must be in [0, 1), got $f")
      f
    }

  /** The two audit-trigger confs as SQL literals for the s27 twin
    * (−1.0 = unset, i.e. report-only) — resolved at oracle
    * materialization like every override-aware dial. NOT part of
    * [[pqConfFingerprint]]: they gate the AUDIT's verdict, not the
    * index contents, so changing them never makes a persisted index
    * stale. */
  private def resolvedMinCandRecallLit: String =
    sessionForOracle.flatMap(minCandRecall).map(_.toString)
      .getOrElse("-1.0")
  private def resolvedMaxRecallDriftLit: String =
    sessionForOracle.flatMap(maxRecallDrift).map(_.toString)
      .getOrElse("-1.0")

  /** Driver-collected PQ codebook from a (m, c, cv) frame — 256
    * bounded rows, the same rows the LUT/encode joins broadcast. */
  private def collectCodebook(cb1f: DataFrame): graft.functions.PqCodebook = {
    val rows = cb1f.select(col("m"), col("c"), col("cv")).collect()
    val byM = rows.groupBy(_.getInt(0))
    graft.functions.PqCodebook(Vector.tabulate(PqM) { m =>
      byM.getOrElse(m, Array.empty[Row]).sortBy(_.getInt(1))
        .map(r => (r.getInt(1), r.getSeq[Double](2).toVector)).toVector
    })
  }

  /** Per-QUERY 256-entry positional ADC LUT of −2·q_m·e_m (the
    * query-dependent term of the decomposed residual distance).
    * r19: one [[graft.functions.PqQlut]] projection per query row
    * (bit-identical kk-ordered array) instead of the
    * explode→join→groupBy chain — two exchanges fewer per serve, and
    * the query relation is never multiplied ×256. */
  private def pqQlut(qsF: DataFrame, cb1f: DataFrame): DataFrame =
    pqQlutWith(qsF, collectCodebook(cb1f))

  private def pqQlutWith(qsF: DataFrame,
      cb: graft.functions.PqCodebook): DataFrame =
    qsF.select(col("q_id"),
      graftshim.column(graft.functions.PqQlut(
        graftshim.expression(col("av")), cb, PqSub)).as("qpl"))

  /** Per-CELL 256-entry table of 2·c_m·e_m + |e_m|² (the
    * cell-dependent term) — k·256 entries total, broadcastable.
    * r19: a [[graft.functions.PqClut]] projection over the bounded
    * cell-centroid frame. */
  private def pqClut(cellCent: DataFrame, cb1f: DataFrame): DataFrame =
    pqClutWith(cellCent, collectCodebook(cb1f))

  private def pqClutWith(cellCent: DataFrame,
      cb: graft.functions.PqCodebook): DataFrame =
    cellCent.select(col("cid"),
      graftshim.column(graft.functions.PqClut(
        graftshim.expression(col("c")), cb, PqSub)).as("cpl"))

  /** The decomposed residual ADC scorer: adist = cd + Σ qlut[code_m]
    * + Σ clut[code_m], fixed left-assoc order in both engines.
    * Expects (q_id, cid, cd, c_id, code0..3). */
  private def adcScore(df: DataFrame, qlut: DataFrame,
      clut: DataFrame): DataFrame = df
    .join(qlut, "q_id")
    .join(broadcast(clut), "cid")
    .withColumn("adist",
      col("cd")
        + element_at(col("qpl"), (col("code0") + 1).cast("int"))
        + element_at(col("qpl"), (col("code1") + 65).cast("int"))
        + element_at(col("qpl"), (col("code2") + 129).cast("int"))
        + element_at(col("qpl"), (col("code3") + 193).cast("int"))
        + element_at(col("cpl"), (col("code0") + 1).cast("int"))
        + element_at(col("cpl"), (col("code1") + 65).cast("int"))
        + element_at(col("cpl"), (col("code2") + 129).cast("int"))
        + element_at(col("cpl"), (col("code3") + 193).cast("int")))

  /** BUILD the IVF-PQ index over corpus `d`: train the two-level
    * coarse quantizer, route every corpus vector to its cell, train
    * residual codebooks and encode (see the s12 QueryDef comment for
    * the full design + citations), and calibrate BOTH serving dials
    * from one E[256]-query exact-NN sample. Everything downstream of
    * the source parquet is deterministic, so a rebuild IS the index
    * (what lets s18's twin recompute it from source). */
  /** Build an IVF-PQ index. With `corpusGate` set (s24's nightly
    * BASE build), the gated slice is the whole world: training,
    * calibration (sample referee, dials, measured candidate recall),
    * cell sizing, and the encoded codes all see only the gated rows —
    * [[appendPqDelta]] then brings the index up to date with the
    * frozen quantizers. The default (no gate) is the full build every
    * other consumer uses, byte-identical to before. */
  private[graft] def buildPqIndex(s: SparkSession, d: String,
      corpusGate: Option[org.apache.spark.sql.Column] = None)
      : PqIndex = {
    import scala.jdk.CollectionConverters._
    val e = vecs(s, d)
    val corpus0 = e.filter(col("vec_id") % 2 === 0)
    val corpus = corpusGate.map(corpus0.filter).getOrElse(corpus0)
      .select(col("vec_id").as("c_id"), col("v").as("bv"))
    val qs = e.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("q_id"), col("v").as("av"))
    val n = corpusGate.fold(corpusEvenCount(s, d))(_ => corpus.count())
    val k = ivfCellsFor(s, n)
    val wSup = ivfSuperProbe(s)
    // one E[256]-query exact-NN sample calibrates BOTH serving
    // dials: nprobe (cell-rank percentile) and the ADC shortlist
    // (ADC-rank percentile, once the codebooks exist below). The
    // sample is bounded — collect it and the referee verdict (the
    // brute-force pass stays distributed: it scans the corpus), and
    // the nprobe calibration is pure driver math over the collected
    // geometry (same IvfGeom.ranked the serving expressions run).
    // The referee needs NO geometry, so it runs CONCURRENTLY with
    // the training AND codebook chains (guide §2.6 — overlap
    // independent jobs): its query-count + sample-collect + corpus
    // scan back-fill executors the driver-eager foreground jobs
    // leave idle, and the collected verdict is awaited only where
    // the nprobe calibration (just before the shortlist pass — the
    // first true consumer) needs it. r19 awaited right after
    // training, serializing the referee's corpus pass against the
    // cb0/cb1 codebook jobs; it also ran on ExecutionContext.global,
    // whose shared pool two concurrent builds' blocking collect()s
    // could starve — buildEc is a dedicated unbounded daemon pool.
    implicit val ec: scala.concurrent.ExecutionContext = buildEc
    val refereeF = scala.concurrent.Future {
      val sampThresh =
        (CalibSample * 4294967296L - 1L) / corpusOddCount(s, d) + 1L
      val sqF = qs.filter(
        conv(substring(md5(concat(lit("s12c:"),
          col("q_id").cast("string"))), 1, 8), 16, 10).cast("long")
          < lit(sampThresh))
      val sqRows = sqF.collect()
        .map(r => (r.getLong(0), rowVec(r.getSeq[Any](1))))
      val sqLocal = s.createDataFrame(
        sqRows.map(t => Row(t._1, t._2)).toSeq.asJava,
        centSchema("q_id" -> LongDT, "av" -> VecDT))
      // the exact-NN referee: ONE corpus pass; min(struct) carries
      // the NN's vector out so its cell routes driver-side without a
      // second corpus join (the (qd, c_id) prefix is already unique,
      // so the extra field never tips the lexicographic argmin)
      val nnRows =
        if (sqRows.isEmpty) Array.empty[Row]
        else corpus.crossJoin(broadcast(sqLocal))
          .withColumn("qd", l2d("av", "bv"))
          .groupBy(col("q_id"))
          .agg(min(struct(col("qd"), col("c_id"), col("bv"))).as("mn"))
          .select(col("q_id"), col("mn.c_id").as("c_id"),
            col("mn.bv").as("bv"))
          .collect()
      (sqRows, sqLocal, nnRows)
    }
    // twoLevelTrain (r19): eager, LocalRelation centroids — the
    // bounded geometry is collected ONCE and every downstream
    // routing/residual/encode step becomes an exchange-free
    // projection over one corpus scan (see the function's Scaladoc)
    val (scCent, cellCent) = twoLevelTrain(corpus, "s12s:", n, k)
    val geom = collectGeom(scCent, cellCent, wSup)
    // RESIDUAL encoding (IVFADC, Jégou et al.): rv = bv −
    // cell_centroid, double precision (float→double exact; centroid
    // doubles bit-identical across engines by the quantMean
    // contract). r19: the cell assignment AND the residual are one
    // projection over the corpus scan — the r18 chain paid a groupBy
    // exchange (routing argmin) plus a join exchange (centroid
    // re-attach) over the full corpus for what is a per-row function
    // of the bounded geometry.
    val routedCol = graftshim.column(graft.functions.IvfRouteRanked(
      graftshim.expression(col("bv")), geom, 1))
    val residCol = graftshim.column(graft.functions.IvfResidual(
      graftshim.expression(col("bv")),
      graftshim.expression(col("cid")), geom))
    val routed = corpus
      .withColumn("__rt",
        when(size(routedCol) >= 1, element_at(routedCol, 1)))
      .filter(col("__rt").isNotNull)
      .select(col("c_id"), col("__rt.cid").as("cid"), col("bv"))
      .withColumn("rv", residCol)
      .select(col("c_id"), col("cid"), col("rv"))
    // codebook init: residual sub-vectors of the 64 lowest-id corpus
    // vectors; entry ids DENSE 0..63 (the positional-LUT contract)
    val cb0Rows = routed.select(col("c_id"), col("rv"))
      .orderBy(col("c_id")).limit(64).collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toVector)
    val cb0 = graft.functions.PqCodebook(Vector.tabulate(PqM)(m =>
      cb0Rows.toVector.zipWithIndex.map { case (rv, c) =>
        (c, rv.slice(m * PqSub, m * PqSub + PqSub))
      }))
    // one Lloyd round per sub-space over the corpus residuals: the
    // init-codebook argmin is a pq_encode projection (the r18 chain
    // exploded ×4, crossJoined ×64 and re-joined the residuals — two
    // more full-corpus exchanges); the floor-quantized mean stays a
    // distributed aggregation (exact + associative BIGINT sums), its
    // 256-row result collected and merged with the init entries
    // driver-side
    val enc0 = graftshim.column(graft.functions.PqEncodeCodes(
      graftshim.expression(col("rv")), cb0, PqSub))
    val cb1Rows = routed
      .withColumn("cs", enc0)
      .withColumn("m", explode(expr(s"sequence(0, ${PqM - 1})")))
      .select(col("m"),
        element_at(col("cs"), col("m") + 1).as("c"),
        posexplode(expr(s"slice(rv, m * $PqSub + 1, $PqSub)"))
          .as(Seq("dd", "x")))
      .groupBy(col("m"), col("c"), col("dd"))
      .agg((sum(expr(
        "cast(floor(cast(x as double) * 1e10 + 0.5d) as bigint)"))
        .cast("double") / lit(1e10) / count(lit(1))).as("cval"))
      .groupBy(col("m"), col("c"))
      .agg(expr(
        """transform(sort_array(collect_list(struct(dd, cval))),
           t -> t.cval)""").as("cv"))
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toVector))
      .toMap
    // empty Lloyd groups keep their init sub-vector (the old
    // left-join + coalesce), so codes stay DENSE in 0..|cb0|
    val cb1f = graft.functions.PqCodebook(Vector.tabulate(PqM)(m =>
      cb0.entries(m).map { case (c, cvi) =>
        (c, cb1Rows.getOrElse((m, c), cvi))
      }))
    val cb1fDf = s.createDataFrame(
      (for { m <- 0 until PqM; (c, cv) <- cb1f.entries(m) }
        yield Row(m, c, cv)).asJava,
      centSchema(
        "m" -> org.apache.spark.sql.types.IntegerType,
        "c" -> org.apache.spark.sql.types.IntegerType,
        "cv" -> VecDT))
    val encodeCol = graftshim.column(graft.functions.PqEncodeCodes(
      graftshim.expression(col("rv")), cb1f, PqSub))
    // the carried (cid, codes) candidate map: corpus scan →
    // projection, no joins — cached, it IS the in-memory index
    val cellm = routed
      .withColumn("cs", encodeCol)
      .select(Seq(col("c_id"), col("cid")) ++
        (0 until PqM).map(m =>
          element_at(col("cs"), m + 1).as(s"code$m")): _*)
      .cache()
    val clut = pqClutWith(cellCent, cb1f).cache()
    // ---- shortlist calibration: the sample's candidates through
    // the FULL serving scorer (≤ |sample|·np·max-occupancy rows; the
    // qlut here is SAMPLE-only) → the ADC rank each true NN actually
    // landed at → order-statistic percentile. Gate-missed queries
    // drop at the inner join (nprobe, not the shortlist, binds
    // them). Runs UNCONDITIONALLY (even under a pqShortlist
    // override) since r17: |ranks| / |sample| IS the measured
    // candidate recall — the ceiling on end-to-end recall —
    // persisted as index metadata and optionally gated by
    // spark.graft.minCandRecall, so a corpus whose geometry can't
    // meet target under the nprobe cost cap fails the NIGHTLY BUILD
    // instead of silently missing recall in production. The pass is
    // one E[256]-query sample — noise next to the build. ----
    // the referee verdict is needed from HERE on (np feeds the
    // sample routing): await it only now, so the cb0/cb1/encode
    // foreground jobs above overlapped its corpus pass
    val (sqRows, sqLocal, nnRows) = scala.concurrent.Await
      .result(refereeF, scala.concurrent.duration.Duration.Inf)
    val nnLocal = s.createDataFrame(
      nnRows.map(r => Row(r.getLong(0), r.getLong(1))).toSeq.asJava,
      centSchema("q_id" -> LongDT, "c_id" -> LongDT))
    val qvById = sqRows.toMap
    val np = ivfNprobeOverride(s).getOrElse {
      // in-gate cellrank of each sample query's true NN — the same
      // single routing implementation the expressions evaluate,
      // invoked on the driver over ≤ |sample| vectors
      val ranks = nnRows.toIndexedSeq.flatMap { r =>
        geom.route1(rowVec(r.getSeq[Any](2)).toArray).flatMap {
          case (_, nnCid) =>
            val ranked = geom.ranked(qvById(r.getLong(0)).toArray)
            val i = ranked.indexWhere(_._2 == nnCid)
            if (i >= 0) Some((i + 1).toLong) else None
        }
      }
      pickNprobe(ranks, recallTargetPct(s), nprobeCap(k))
    }
    val sampleRanked = graftshim.column(graft.functions.IvfRouteRanked(
      graftshim.expression(col("av")), geom, np))
    val sprobes = sqLocal
      .select(col("q_id"),
        posexplode(sampleRanked).as(Seq("__pos", "__rt")))
      .select(col("q_id"), col("__rt.cid").as("cid"),
        col("__rt.cd").as("cd"))
    val wTop = Window.partitionBy(col("q_id"))
      .orderBy(col("adist"), col("c_id"))
    val sranked = adcScore(broadcast(sprobes).join(cellm, "cid")
        .select(col("q_id"), col("cid"), col("cd"), col("c_id"),
          col("code0"), col("code1"), col("code2"),
          col("code3")),
        broadcast(pqQlutWith(sqLocal, cb1f)), clut)
      .withColumn("r", row_number().over(wTop))
      .select(col("q_id"), col("c_id"), col("r"))
    val ranks = broadcast(nnLocal).join(sranked, Seq("q_id", "c_id"))
      .select(col("r").cast("long").as("r"))
      .collect().map(_.getLong(0)).toIndexedSeq
    val sqCount = sqRows.length.toLong
    val candRecall =
      if (sqCount == 0L) -1.0 else ranks.length.toDouble / sqCount
    val sl = pqShortlistOverride(s)
      .getOrElse(pickShortlist(ranks, recallTargetPct(s)))
    // the minCandRecall gate releases the carried cache on the
    // failure path — the caller never receives an index to unpersist
    minCandRecall(s).foreach { floor =>
      if (!(candRecall < 0.0 || candRecall >= floor)) {
        Seq(cellm, clut).foreach(_.unpersist(false))
        throw new IllegalArgumentException(
          f"requirement failed: IVF-PQ build gate: measured candidate " +
            f"recall $candRecall%.3f (true NNs surviving the nprobe " +
            f"gate, E[$CalibSample]-query sample) is below " +
            f"${GraftConf.MinCandRecallKey} = $floor%.3f — this corpus " +
            "geometry cannot meet the recall target under the " +
            "calibrated probe budget (the isotropic worst case). Raise " +
            "spark.graft.ivfSuperProbe / spark.graft.ivfNprobe, lower " +
            "the floor, or serve this corpus from the exact/LSH path " +
            "(see CONFIGURATION.md, IVF recall geometry)")
      }
    }
    PqIndex(np, sl, scCent, cellCent, cellm, cb1fDf, clut, candRecall)
  }

  /** PQ-encode residual vectors against a trained codebook:
    * (c_id, code0..code3), argmin per sub-vector via the
    * partial-aggregating min(struct(dist, c)) (lexicographic ⇒ the
    * (dist ASC, c ASC) first row; the twins keep ROW_NUMBER —
    * answer-identical). Shared by the full build and the incremental
    * delta append (s24): a delta row's codes are a PURE PER-ROW
    * function of the frozen codebook, which is what makes the append
    * equal to "train on base, encode everything" — the contract the
    * s24 twin recomputes. */
  private def pqEncode(res: DataFrame, cb1f: DataFrame): DataFrame = {
    // r19: one pq_encode projection per row (same per-sub-space
    // argmin fold and smallest-c tie-break as the old
    // explode→crossJoin→groupBy×2 chain — two exchanges and a ×256
    // row blow-up, gone)
    val enc = graftshim.column(graft.functions.PqEncodeCodes(
      graftshim.expression(col("rv")), collectCodebook(cb1f), PqSub))
    res.withColumn("cs", enc)
      .select(Seq(col("c_id")) ++ (0 until PqM).map(m =>
        element_at(col("cs"), m + 1).as(s"code$m")): _*)
  }

  /** INCREMENTAL PQ-codes maintenance (s24) — the nightly delta
    * discipline for the vector tower's MAIN index (s17 gave it to the
    * LSH bucket index, s22 to the postings tower): today's delta
    * vectors route and PQ-encode against the PERSISTED quantizers
    * (coarse centroids, cell centroids, codebook — all FROZEN; the
    * exact per-row functions the base build applied to its own rows)
    * and land as a bucketed APPEND through the codes table's catalog
    * spec; base segments stay byte-identical. Work is O(|delta|·√k)
    * — routing + encoding the delta, never a corpus re-pass and
    * never retraining. The dials and the measured candidate recall
    * stay the base build's: calibration belongs to the nightly
    * TRAIN, not the delta (exactly what the s24 twin recomputes —
    * train + calibrate on base, encode all).
    *
    * The meta generation bumps (serving streams pick the delta up on
    * the next micro-batch via [[PqIndexCache]] — no restart) and the
    * scope flips to "incremental": an incrementally-maintained index
    * intentionally differs from a from-scratch rebuild (different
    * training corpus ⇒ different centroids), so [[ensurePqIndex]]
    * treats it as stale and rebuilds for the consumers that demand
    * the from-scratch contract, while explicit serve paths
    * ([[loadPqIndex]], the caches) serve it as-is. */
  private[graft] def appendPqDelta(s: SparkSession, d: String,
      deltaGate: org.apache.spark.sql.Column): Unit = {
    val idx = loadPqIndex(s)
    val delta = vecs(s, d)
      .filter(col("vec_id") % 2 === 0).filter(deltaGate)
      .select(col("vec_id").as("c_id"), col("v").as("bv"))
    val dcell = routeToCells(delta, "c_id", "bv", idx.scCent,
      idx.cellCent, ivfSuperProbe(s), 1).select(col("c_id"), col("cid"))
    val cellVec = idx.cellCent.select(col("cid"), col("c").as("cvec"))
    val dres = delta.join(dcell, "c_id")
      .join(broadcast(cellVec), "cid")
      .select(col("c_id"), col("cid"),
        expr("zip_with(bv, cvec, (x, w) -> cast(x as double) - w)")
          .as("rv"))
    val attrs = new Tables(s, d).embeddings
      .select(col("vec_id").as("c_id"), col("label"))
    val cols = s.table("s18_pq_codes").columns
    dcell.join(pqEncode(dres, idx.cb1f), "c_id")
      .join(attrs, "c_id")
      .select(cols.map(col).toIndexedSeq: _*)
      .write.mode("append").insertInto("s18_pq_codes")
    val m = s.table("s18_pq_meta").head()
    import s.implicits._
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_s18_pq_meta-" +
      Integer.toHexString(d.hashCode)
    Seq((m.getAs[Int]("np"), m.getAs[Int]("sl"),
        m.getAs[String]("corpus_dir"), m.getAs[String]("conf_fp"),
        m.getAs[Int]("schema_ver"), m.getAs[Long]("gen") + 1L,
        m.getAs[Double]("cand_recall"), "incremental"))
      .toDF("np", "sl", "corpus_dir", "conf_fp", "schema_ver",
        "gen", "cand_recall", "scope")
      .write.mode("overwrite").option("path", p)
      .saveAsTable("s18_pq_meta")
  }

  /** PQ-CODES COMPACTION (s26) — the OPTIMIZE step that closes the
    * vector tower's maintenance loop (build s18, append s24, now
    * compact), completing the symmetry: the LSH bucket index (s17)
    * and the postings tower (s23) already had theirs. Each
    * [[appendPqDelta]] lands one small file per touched cid bucket;
    * after a week of nightly deltas the serve path's bucketed scan
    * pays per-file open cost on dozens of fragments per bucket.
    * Compaction rewrites the codes table back to ONE file per cid
    * bucket (the bucketed scan is forced OFF for the read so the
    * small fragments coalesce into few tasks — few tasks × 8 buckets
    * = 8 files) and swaps the new generation in via the shared
    * drop+rename discipline ([[swapCompact]]) with its crash-window
    * recovery. Layout-only: no row changes, dials/recall/scope stay
    * the meta's; the generation bump makes a serving stream's
    * [[PqIndexCache]] reload off the new file listing on its next
    * micro-batch instead of reading the deleted fragments. */
  private[graft] def compactPqCodes(s: SparkSession, d: String): Unit = {
    refreshIndexTables(s, Seq("s18_pq_codes", "s18_pq_meta"))
    val scanKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = s.conf.get(scanKey, "true")
    val superseded = {
      s.conf.set(scanKey, "false")
      try swapCompact(s, "s18_pq_codes", () => bumpPqGen(s, d),
        (df, path, staging) =>
          df.write.mode("overwrite").option("path", path)
            .bucketBy(8, "cid").sortBy("cid").saveAsTable(staging))
      finally s.conf.set(scanKey, prev)
    }
    // stamp the bumped generation BEFORE deleting the superseded
    // files (see swapCompact's Scaladoc): a crash in between leaves
    // the old generation readable for any cache still holding it
    bumpPqGen(s, d)
    deleteDir(superseded)
  }

  /** Rewrite `s18_pq_meta` with gen+1, all other fields verbatim —
    * the cache-invalidation stamp shared by [[compactPqCodes]]'s
    * normal path and [[swapCompact]]'s crash recovery. */
  private def bumpPqGen(s: SparkSession, d: String): Unit = {
    val m = s.table("s18_pq_meta").head()
    import s.implicits._
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_s18_pq_meta-" +
      Integer.toHexString(d.hashCode)
    Seq((m.getAs[Int]("np"), m.getAs[Int]("sl"),
        m.getAs[String]("corpus_dir"), m.getAs[String]("conf_fp"),
        m.getAs[Int]("schema_ver"), m.getAs[Long]("gen") + 1L,
        m.getAs[Double]("cand_recall"), m.getAs[String]("scope")))
      .toDF("np", "sl", "corpus_dir", "conf_fp", "schema_ver",
        "gen", "cand_recall", "scope")
      .write.mode("overwrite").option("path", p)
      .saveAsTable("s18_pq_meta")
  }

  /** RECALL-DRIFT AUDIT (s27) — the measured trigger behind
    * CONFIGURATION.md's "append nightly, rebuild weekly or on
    * measured drift": re-run the build's own E[256]-query candidate-
    * recall measurement against the CURRENT index generation and the
    * CURRENT corpus truth. As frozen-quantizer deltas (s24)
    * accumulate vectors the centroids never trained on, the fraction
    * of true nearest neighbors that survive the nprobe gate decays —
    * this is that number, re-measured, next to the build-time
    * `cand_recall` it started from. One row out: sample size, hits,
    * measured recall, build recall, the drift, and `rebuild_due` —
    * true when the [[GraftConf.MinCandRecallKey]] floor or the
    * [[GraftConf.MaxRecallDriftKey]] ceiling (when set) is breached,
    * so the nightly maintenance job can branch append-vs-rebuild on a
    * measurement instead of a calendar. Cost: the |sample|·n exact
    * referee (the same bounded pass every build pays) + |sample|
    * routings — noise next to the append it accompanies. */
  private[graft] def auditPqRecall(s: SparkSession, d: String,
      floorOverride: Option[Double] = None,
      driftOverride: Option[Double] = None): DataFrame = {
    val idx = loadPqIndex(s)
    val e = vecs(s, d)
    val corpus = e.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("c_id"), col("v").as("bv"))
    val qs = e.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("q_id"), col("v").as("av"))
    // the exact referee runs against the FULL current corpus — truth
    // moves with the data, which is exactly what the build-time
    // number (frozen at train time, gated to the base stripe) no
    // longer reflects after appends
    val (sq, nn) = calibSampleNN(qs, corpus, corpusOddCount(s, d))
    val probed = rankedCells(sq, idx.scCent, idx.cellCent,
        ivfSuperProbe(s))
      .filter(col("cellrank") <= idx.np)
      .select(col("q_id"), col("cid"))
    // the true NN's cell comes from the PERSISTED codes table — the
    // map the serve path actually scans, deltas included
    val nnCell = nn
      .join(idx.cellm.select(col("c_id"), col("cid")), "c_id")
    val hit = nnCell.join(probed, Seq("q_id", "cid"))
    val m = s.table("s18_pq_meta").head()
    // explicit thresholds (maintainPqIndex's callers) win over the
    // session dials; -1 = that trigger disabled, like the conf path
    val floor = floorOverride.orElse(minCandRecall(s)).getOrElse(-1.0)
    val driftMax = driftOverride.orElse(maxRecallDrift(s)).getOrElse(-1.0)
    sq.agg(count(lit(1)).as("n_sample"))
      .crossJoin(broadcast(hit.agg(count(lit(1)).as("hits"))))
      .withColumn("measured_recall",
        col("hits").cast("double") / col("n_sample").cast("double"))
      .withColumn("build_recall",
        lit(m.getAs[Double]("cand_recall")))
      .withColumn("drift", col("build_recall") - col("measured_recall"))
      .withColumn("rebuild_due",
        (lit(floor) >= 0.0 && col("measured_recall") < lit(floor)) ||
          (lit(driftMax) >= 0.0 && col("drift") > lit(driftMax)))
      .select(col("n_sample"), col("hits"), col("measured_recall"),
        col("build_recall"), col("drift"), col("rebuild_due"))
  }

  /** CLOSE THE DRIFT-AUDIT LOOP (s29; the r17 VERDICT's item 2):
    * run [[auditPqRecall]]'s measured audit against the CURRENT
    * index generation and, when `rebuild_due`, rebuild from scratch
    * and persist — the generation bump carries the fresh index into
    * running serving streams ([[PqIndexCache]]) on their next
    * micro-batch, no restart. This is the consumer the audit's
    * verdict bit existed for: the nightly maintenance job calls this
    * instead of reading the report by hand, and "append nightly,
    * rebuild weekly or on measured drift" (CONFIGURATION.md) becomes
    * one entry point. Thresholds default to the session dials
    * (`spark.graft.minCandRecall` / `spark.graft.maxRecallDrift`);
    * explicit overrides exist for callers that branch on a policy of
    * their own. Returns whether a rebuild ran. The audit read is ONE
    * bounded row (a planning read, not a data path); the rebuild is
    * the same build+persist every nightly full build pays. */
  private[graft] def maintainPqIndex(s: SparkSession, d: String,
      floorOverride: Option[Double] = None,
      driftOverride: Option[Double] = None): Boolean = {
    val due = auditPqRecall(s, d, floorOverride, driftOverride)
      .head().getAs[Boolean]("rebuild_due")
    if (due) persistPqIndex(s, d, buildPqIndex(s, d))
    due
  }

  /** s27's twin: the s24 two-phase chain (train + calibrate on the
    * base stripe, encode corpus-wide) supplies the index state; the
    * audit CTEs re-referee the calibration sample against the FULL
    * corpus (`annref` — the only ungated exact-NN pass in the
    * family) and count survivors of the calibrated nprobe gate.
    * `build_recall` is |slranks|/|sq| — the exact quantity
    * [[buildPqIndex]] measured and persisted. */
  private[graft] def pqDriftOracleSql: String =
    matCtes(s"""WITH ${pqChainCtes(filtered = false, trainPred = "{id} % 10 <> 0")},
      annref AS (SELECT q_id, c_id FROM (
          SELECT q.q_id, c.c_id,
            ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
              list_sum(list_transform(list_zip(q.av, c.bv),
                z -> (z[1] - z[2]) * (z[1] - z[2]))) ASC, c.c_id) AS rn
          FROM sq q, corpus c)
        WHERE rn = 1),
      hitq AS (SELECT n.q_id FROM annref n
        JOIN ccell cl ON cl.c_id = n.c_id
        JOIN sprobes p ON p.q_id = n.q_id AND p.cid = cl.cid),
      agg AS (SELECT (SELECT COUNT(*) FROM sq) AS n_sample,
          (SELECT COUNT(*) FROM hitq) AS hits,
          (SELECT COUNT(*) FROM slranks) AS bhits)
      SELECT n_sample, hits,
        CAST(hits AS DOUBLE) / n_sample AS measured_recall,
        CAST(bhits AS DOUBLE) / n_sample AS build_recall,
        CAST(bhits AS DOUBLE) / n_sample
          - CAST(hits AS DOUBLE) / n_sample AS drift,
        ($resolvedMinCandRecallLit >= 0
           AND CAST(hits AS DOUBLE) / n_sample
               < $resolvedMinCandRecallLit)
        OR ($resolvedMaxRecallDriftLit >= 0
            AND CAST(bhits AS DOUBLE) / n_sample
                - CAST(hits AS DOUBLE) / n_sample
                > $resolvedMaxRecallDriftLit) AS rebuild_due
      FROM agg""")

  /** SERVE the query half of corpus `d` against a built (or loaded)
    * [[PqIndex]]: route each query to its np nearest cells, ADC-score
    * the members (4 small ints per candidate), keep the top-sl, exact
    * L2 rerank. No training, no calibration — the dials ride the
    * index. */
  private[graft] def servePq(s: SparkSession, d: String,
      idx: PqIndex): DataFrame = {
    val e = vecs(s, d)
    servePqFor(s,
      e.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("q_id"), col("v").as("av")),
      e.filter(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("c_id"), col("v").as("bv")),
      idx)
  }

  /** One micro-batch of query vectors (q_id, av) against the
    * persisted index — the st17 streaming-serve entry: corpus rerank
    * rows come from `d`, everything else from the loaded index.
    * Per-query answers are independent, so micro-batch slicing
    * cannot change the union of the batches' answers. */
  private[graft] def servePqBatch(s: SparkSession, d: String,
      qs: DataFrame, idx: PqIndex): DataFrame =
    servePqFor(s, qs,
      vecs(s, d).filter(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("c_id"), col("v").as("bv")),
      idx)

  /** One micro-batch of FILTERED queries (q_id, av, label) — the st18
    * streaming-serve entry. The query's attribute arrives WITH the
    * query (the production shape: callers scope their own requests);
    * the corpus side's attribute rides the persisted codes table
    * ([[persistPqIndex]]), so the gate is batch-labels ⋈ index scan —
    * the n-row source table is only read for the rerank vectors,
    * exactly like the unfiltered batch serve. */
  private[graft] def servePqBatchFiltered(s: SparkSession, d: String,
      qs: DataFrame, idx: PqIndex): DataFrame = {
    require(idx.cellm.columns.contains("label"),
      "filtered serving needs a PERSISTED index (attributes ride the " +
        "codes table) — load it via ensurePqIndex/loadPqIndex")
    val qlab = qs.select(col("q_id"), col("label").as("qlabel"))
    servePqFor(s, qs.select(col("q_id"), col("av")),
      vecs(s, d).filter(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("c_id"), col("v").as("bv")),
      idx,
      scored => scored
        .join(qlab, "q_id")
        .filter(col("qlabel") === col("label"))
        .drop("qlabel", "label"))
  }

  private def servePqFor(s: SparkSession, qs: DataFrame,
      corpus: DataFrame, idx: PqIndex,
      candGate: DataFrame => DataFrame = identity): DataFrame =
    servePqRanked(s, qs, corpus, idx, candGate, 1)
      .select(col("q_id"), col("c_id"), col("l2sq"))
      .orderBy(col("q_id"))

  /** The PQ serve chain with the final exact-rerank rank KEPT and cut
    * at `topK` instead of argmin-consumed: (q_id, r, c_id, l2sq), one
    * row per (query, rank ≤ topK). topK = 1 is the s12/s18/s19 family
    * (via [[servePqFor]]); topK = 10 is s21's index-backed vector
    * retrieval leg — same routing, same ADC shortlist, same exact
    * rerank, just returning the head of the reranked list rather than
    * its first element. */
  private[graft] def servePqRanked(s: SparkSession, qs: DataFrame,
      corpus: DataFrame, idx: PqIndex,
      candGate: DataFrame => DataFrame, topK: Int): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val wSup = ivfSuperProbe(s)
    val probes = routeWithGeom(qs, "q_id", "av", idx.geom(wSup),
        idx.np)
      .select(col("q_id"), col("cid"), col("cd"))
    // a persisted index may carry filterable attributes in the codes
    // table (persistPqIndex) — keep them in the candidate frame so a
    // candGate can filter on them; unfiltered serves never reference
    // them and Catalyst prunes the column at the scan
    val attrCols = idx.cellm.columns.toSeq
      .filterNot(Set("c_id", "cid", "code0", "code1", "code2", "code3"))
      .map(col)
    val cand = probes.join(idx.cellm, "cid")
      .select(Seq(col("q_id"), col("cid"), col("cd"), col("c_id"),
        col("code0"), col("code1"), col("code2"), col("code3")) ++
        attrCols: _*)
    // candGate filters the ADC-scored candidate set BEFORE the
    // shortlist rank (s19: predicate-constrained search) — the rank
    // is then over ELIGIBLE candidates only, so the shortlist depth
    // buys matching candidates instead of being eaten by filtered-out
    // ones (the post-filter-the-candidates shape of filtered ANN)
    val shortlist = topKPerKey(candGate(
        adcScore(cand, pqQlutWith(qs, idx.codebook), idx.clut)),
        Seq(col("q_id")), Seq(col("adist"), col("c_id")), idx.sl, "r")
      .select(col("q_id"), col("c_id"))
    // stage 2: EXACT L2 rerank of the ADC shortlist only — native
    // codegen'd fold (identical arithmetic to the HOF it replaces)
    val l2 = "vec_l2sq(av, bv)"
    topKPerKey(shortlist
        .join(qs.select(col("q_id"), col("av")), "q_id")
        .join(corpus.select(col("c_id"), col("bv")), "c_id")
        .withColumn("l2sq", expr(l2)),
        Seq(col("q_id")), Seq(col("l2sq"), col("c_id")), topK, "r")
      .select(col("q_id"), col("r"), col("c_id"), col("l2sq"))
  }

  /** PERSIST a built index (s18): centroids, codebook, and the
    * (c_id, cid, codes) map as catalog tables — the big codes table
    * bucketed on cid so the serve-time membership join reads the
    * corpus side with NO exchange (w02/s13 discipline: the shuffle is
    * paid once at build). The calibrated dials are index METADATA.
    *
    * Filterable ATTRIBUTES (here: `label`) are folded into the codes
    * table at persist time — one n-row join paid once per nightly
    * build — so predicate-scoped serving (s19) gates candidates with
    * a COLUMN FILTER on the index scan instead of re-joining the
    * source table per query batch. Attributes are a property of the
    * PERSISTED index: the inline-built `PqIndex.cellm` doesn't carry
    * them (s12's hash-gated build chain stays untouched), and
    * unfiltered serves never read the column (Catalyst prunes it at
    * the scan). */
  private[graft] def persistPqIndex(s: SparkSession, d: String,
      idx: PqIndex): Unit = {
    def save(dfx: DataFrame, table: String,
        bucketCol: Option[String]): Unit = {
      val p = s"${System.getProperty("java.io.tmpdir")}/graft_$table-" +
        Integer.toHexString(d.hashCode)
      val w = dfx.write.mode("overwrite").option("path", p)
      bucketCol match {
        case Some(bc) => w.bucketBy(8, bc).sortBy(bc).saveAsTable(table)
        case None => w.saveAsTable(table)
      }
    }
    val attrs = new Tables(s, d).embeddings
      .select(col("vec_id").as("c_id"), col("label"))
    save(idx.scCent, "s18_pq_sc", None)
    save(idx.cellCent, "s18_pq_cells", None)
    save(idx.cb1f, "s18_pq_cb", None)
    save(idx.cellm.join(attrs, "c_id"), "s18_pq_codes", Some("cid"))
    import s.implicits._
    // meta = dials + the FRESHNESS FINGERPRINT (exact corpus dir,
    // resolved build/serve confs, schema version — what
    // [[ensurePqIndex]] compares; the r16 ADVICE medium: a hashCode
    // path suffix ignored conf overrides and could collide between
    // dirs) + a GENERATION counter (monotone per persist — what a
    // serving stream watches to pick up a nightly rebuild without
    // restart) + the measured candidate recall (deployer-facing
    // geometry evidence; -1 = unmeasured, i.e. a loaded-then-
    // re-persisted index).
    val prevGen: Long = try {
      val mt = s.table("s18_pq_meta")
      if (mt.columns.contains("gen")) mt.head().getAs[Long]("gen")
      else 0L
    } catch { case _: Exception => 0L }
    save(Seq((idx.np, idx.sl, d, pqConfFingerprint(s),
        PqMetaSchemaVer, prevGen + 1L, idx.candRecall, "full"))
      .toDF("np", "sl", "corpus_dir", "conf_fp", "schema_ver",
        "gen", "cand_recall", "scope"),
      "s18_pq_meta", None)
    // the rebuild re-pointed the codes table at its base path; a
    // prior compaction may have left the previous live data under a
    // -a/-b generation dir, now orphaned (persistLexIndex's
    // idempotence discipline — without this, the NEXT compaction
    // mistakes the stale sibling for a crash orphan). Cleared only
    // AFTER the meta stamp above: a cache still holding the old
    // generation re-probes and lands on the fresh build before the
    // old files disappear.
    val codesBase =
      s"${System.getProperty("java.io.tmpdir")}/graft_s18_pq_codes-" +
        Integer.toHexString(d.hashCode)
    deleteDir(s"$codesBase-a"); deleteDir(s"$codesBase-b")
  }

  /** Load the persisted index back (s18): dials from the meta table,
    * frames from the catalog; clut re-derives from the saved
    * centroids + codebook (k·256 rows — cheaper to recompute than to
    * store per generation). */
  /** Drop any cached file listing for the persisted index tables:
    * a rebuild OVERWRITES them in place (possibly from another
    * session — the nightly job next to a serving stream), and a
    * reader holding the pre-overwrite listing would FAILED_READ_FILE
    * on the deleted parts. Listing-only invalidation — tables are a
    * handful of files; the next read re-lists one directory each. */
  private def refreshIndexTables(s: SparkSession,
      tables: Seq[String]): Unit =
    tables.foreach { t =>
      try s.catalog.refreshTable(t)
      catch { case _: Exception => () } // missing table: nothing cached
    }

  private[graft] def loadPqIndex(s: SparkSession): PqIndex = {
    refreshIndexTables(s, Seq("s18_pq_sc", "s18_pq_cells", "s18_pq_cb",
      "s18_pq_codes", "s18_pq_meta"))
    val meta = s.table("s18_pq_meta").head()
    val cellCent = s.table("s18_pq_cells")
    val cb1f = s.table("s18_pq_cb")
    PqIndex(meta.getAs[Int]("np"), meta.getAs[Int]("sl"),
      s.table("s18_pq_sc"), cellCent, s.table("s18_pq_codes"), cb1f,
      pqClut(cellCent, cb1f), meta.getAs[Double]("cand_recall"))
  }

  /** The persisted index's GENERATION stamp alone — one 1-row read
    * of the meta table. The steady-state per-micro-batch freshness
    * probe for the serving streams (st17/st18): reload the full
    * index only when this changes (a nightly rebuild/compaction
    * swapped a new generation in), instead of re-deriving the k·256
    * clut every batch (the r16 ADVICE low). */
  private[graft] def loadPqMetaGen(s: SparkSession): Long = {
    refreshIndexTables(s, Seq("s18_pq_meta"))
    s.table("s18_pq_meta").head().getAs[Long]("gen")
  }

  /** Generation-cached handle on the persisted PQ index for the
    * serving streams (st17/st18): the steady-state micro-batch pays
    * ONE 1-row meta read (the generation probe) instead of a full
    * index reload + k·256 clut re-derivation per batch (the r16
    * ADVICE low), while a nightly rebuild/append that persists a new
    * generation is picked up on the NEXT micro-batch without
    * restarting the stream — the build-nightly/serve-continuously
    * seam (`StreamIndexRefreshSpec` proves the swap mid-stream).
    * Synchronized: foreachBatch epochs are sequential per query, but
    * two serving streams may share one cache. */
  private[graft] final class PqIndexCache(s0: SparkSession) {
    private var cached: (Long, PqIndex) =
      (loadPqMetaGen(s0), loadPqIndex(s0))
    def current(sess: SparkSession): PqIndex = synchronized {
      val g = loadPqMetaGen(sess)
      if (g != cached._1) cached = (g, loadPqIndex(sess))
      cached._2
    }
    /** Generation of the index the LAST `current()` call served —
      * observability for specs and ops dashboards. */
    def lastGen: Long = synchronized(cached._1)
  }

  /** Serve-only entry for the scale probe: answer the query workload
    * from the LAST-persisted s18 index — no training, no calibration,
    * no persist. This is the steady-state cost a deployment pays per
    * query batch once the nightly build has run. */
  private[graft] def servePersisted(s: SparkSession, d: String): DataFrame =
    servePq(s, d, loadPqIndex(s))

  /** Load the persisted index when one is FRESH for this corpus AND
    * this session's dials, else build + persist one. Freshness is the
    * FULL persisted fingerprint, compared field by field: exact
    * corpus-dir string (not a hashCode suffix — collisions between
    * dirs would silently serve the wrong index), the resolved conf
    * fingerprint (an ivfNprobe/pqShortlist/recall-pct/minCandRecall
    * override set AFTER the persist must rebuild, or the index serves
    * stale dials while the oracle resolves the current override — the
    * r16 ADVICE medium), the meta schema version, and the codes
    * table's attribute column (an old-schema index without `label`
    * would crash the filtered serves instead of rebuilding). The
    * serve-shaped queries (s18 serve-only, s19, st18) share this so a
    * session pays at most one build per (corpus, dials). */
  private[graft] def ensurePqIndex(s: SparkSession, d: String): PqIndex = {
    val cat = s.sessionState.catalog
    def exists(t: String) = cat.tableExists(
      org.apache.spark.sql.catalyst.TableIdentifier(t))
    val metaCols = Set("np", "sl", "corpus_dir", "conf_fp",
      "schema_ver", "gen", "cand_recall", "scope")
    refreshIndexTables(s, Seq("s18_pq_meta", "s18_pq_codes"))
    val fresh = exists("s18_pq_codes") && exists("s18_pq_meta") && {
      val mt = s.table("s18_pq_meta")
      metaCols.subsetOf(mt.columns.toSet) && {
        val m = mt.head()
        m.getAs[String]("corpus_dir") == d &&
          m.getAs[String]("conf_fp") == pqConfFingerprint(s) &&
          m.getAs[Int]("schema_ver") == PqMetaSchemaVer &&
          // an incrementally-maintained index (s24) is intentionally
          // NOT the from-scratch build — different training corpus,
          // different centroids. ensure's contract is "the
          // deterministic full-build twin", so anything but a "full"
          // scope rebuilds (explicit serve paths use loadPqIndex)
          m.getAs[String]("scope") == "full" &&
          s.table("s18_pq_codes").columns.contains("label")
      }
    }
    if (!fresh) persistPqIndex(s, d, buildPqIndex(s, d))
    loadPqIndex(s)
  }

  /** FILTERED ANN (s19): each query searches only corpus vectors
    * satisfying a predicate — here `label = <the query's own label>`,
    * the retrieval shape every metadata-scoped vector search runs
    * (tenant, language, licence, time-range scoping). Composition,
    * not a new index: route and ADC-score against the UNFILTERED
    * index (the dials ride the plain build), drop non-matching
    * candidates BEFORE the shortlist rank so the calibrated depth is
    * spent on eligible candidates, then exact-rerank the survivors.
    * Queries whose probed cells hold no matching candidate drop out
    * (both engines identically). Scale shape: the corpus-side label
    * RIDES THE PERSISTED CODES TABLE ([[persistPqIndex]] folds
    * attributes in at build time), so the gate is a column filter on
    * the index scan plus one join against the QUERY batch's labels —
    * never a per-serve join with the n-row source table
    * (`FilteredAnnSpec` pins the plan: no extra source scan vs the
    * unfiltered serve). Requires a loaded index ([[ensurePqIndex]]);
    * inline-built indexes don't carry attributes. */
  private[graft] def servePqFilteredByLabel(s: SparkSession, d: String,
      idx: PqIndex): DataFrame = {
    require(idx.cellm.columns.contains("label"),
      "filtered serving needs a PERSISTED index (attributes ride the " +
        "codes table) — load it via ensurePqIndex/loadPqIndex")
    val e = vecs(s, d)
    val qlab = new Tables(s, d).embeddings
      .select(col("vec_id").as("q_id"), col("label").as("qlabel"))
    servePqFor(s,
      e.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("q_id"), col("v").as("av")),
      e.filter(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("c_id"), col("v").as("bv")),
      idx,
      scored => scored
        .join(qlab, "q_id")
        .filter(col("qlabel") === col("label"))
        .drop("qlabel", "label"))
  }

  /** The s12/s18 oracle twin (a DEF — conf-dependent terms resolve at
    * materialization): the full deterministic chain train → route →
    * residual-encode → calibrate both dials → decomposed-ADC serve,
    * CTE-for-CTE against the source parquet. s18 shares it verbatim:
    * a deterministic build means serving from the persisted index
    * must answer exactly what an inline rebuild answers. */
  private[graft] def pqOracleSql: String = pqOracleSqlFor(filtered = false)

  /** s19's twin: the same chain with the label gate applied to the
    * scored candidates BEFORE the shortlist rank (CTE-for-CTE with
    * [[servePqFilteredByLabel]]'s candGate). */
  private[graft] def pqFilteredOracleSql: String =
    pqOracleSqlFor(filtered = true)

  private def pqOracleSqlFor(filtered: Boolean,
      trainPred: String = ""): String =
    matCtes(s"""WITH ${pqChainCtes(filtered, trainPred)}
        SELECT q_id, c_id, l2sq FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY l2sq, c_id) AS r FROM rer)
        WHERE r = 1 ORDER BY q_id""")

  /** Rewrite every plain CTE in an oracle to `AS MATERIALIZED`.
    *
    * DuckDB executes a plain CTE by INLINING its definition at every
    * reference site. The PQ chain is deeply self-referential (e0,
    * samp, corpus, sccent, … are each referenced several times by
    * later CTEs), so inlining multiplies combinatorially: the r18
    * driver sweep saw the s28 twin run 1,433 s at sf0.01 — with every
    * CTE materialized the SAME query runs in ~1.5 s (measured, and
    * row-identical). A pure execution hint: results are unchanged,
    * and the driver's comparer runs DuckDB, which supports the
    * standard `name AS MATERIALIZED (…)` syntax. Idempotent (an
    * already-rewritten `AS MATERIALIZED (` no longer matches), and
    * safe for this family's SQL by inspection: every ` name AS (`
    * here is a CTE definition (column aliases bind postfix, UNNEST
    * aliases carry column lists, no WINDOW clauses), and the one
    * recursive member (`WITH RECURSIVE s(qid, step, picked) AS (` in
    * [[mmrOracleTailSql]]) declares a column list so the `)` before
    * ` AS (` keeps it out of the match. */
  private[graft] def matCtes(sql: String): String =
    sql.replaceAll("""(\b\w+) AS \(""", "$1 AS MATERIALIZED (")

  /** s24's twin: the SAME chain with training + calibration gated to
    * the base stripe ({id} % 10 <> 0) while encode + serve cover the
    * whole corpus — "train on base, encode all", exactly what the
    * frozen-quantizer delta append produces. */
  private[graft] def pqIncrementalOracleSql: String =
    pqOracleSqlFor(filtered = false, trainPred = "{id} % 10 <> 0")

  /** The full deterministic IVF-PQ oracle chain as a COMPOSABLE CTE
    * block — train → route → residual-encode → calibrate both dials →
    * decomposed-ADC score → shortlist → EXACT rerank — ending at
    * `rer` (q_id, c_id, l2sq): every shortlisted candidate of every
    * query with its exact distance. [[pqOracleSqlFor]] takes the
    * per-query argmin (the s12/s18/s19/st17/st18 family);
    * [[hybridIndexedOracleSql]] takes the top-10 of the sampled
    * hybrid queries instead (s21's vector leg). */
  private def pqChainCtes(filtered: Boolean,
      trainPred: String = ""): String = {
    // `trainPred` ("{id} % 10 <> 0"-style, empty = whole corpus)
    // gates ONLY the training + calibration phases — the sample the
    // quantizers train on, the cell-count derivation, the exact-NN
    // calibration referee, the codebook init/means, and the
    // shortlist-calibration candidate membership. Encode + serve
    // CTEs stay corpus-wide: routing, residuals, and codes are pure
    // per-row functions of the frozen quantizers, so gating the
    // train side IS the incremental-append semantics (s24). With the
    // default empty pred the emitted SQL is byte-identical to the
    // ungated chain — no cost to the existing family.
    def tp(idRef: String): String =
      if (trainPred.isEmpty) ""
      else " AND " + trainPred.replace("{id}", idRef)
    def tpw(idRef: String): String =
      if (trainPred.isEmpty) ""
      else " WHERE " + trainPred.replace("{id}", idRef)
    // the filtered variant ranks the shortlist over ELIGIBLE
    // candidates only: label-match against the query's own label,
    // joined from the source table (the engine side joins the same
    // n-row attribute frame)
    val eligibleCte =
      if (filtered)
        """,
        labs AS (SELECT vec_id, label FROM embeddings),
        eligible AS (SELECT sc.q_id, sc.c_id, sc.adist
          FROM scored sc
          JOIN labs ql ON ql.vec_id = sc.q_id
          JOIN labs cl ON cl.vec_id = sc.c_id
          WHERE cl.label = ql.label)"""
      else ""
    val shortSrc = if (filtered) "eligible" else "scored"
    s"""e0 AS ($vecsSql),
        nn AS (SELECT COUNT(*) AS n FROM e0
               WHERE vec_id % 2 = 0${tp("vec_id")}),
        kk AS (SELECT LEAST(4096, GREATEST(8, n // 64)) AS k FROM nn),
        k1k AS (SELECT CAST(CEIL(SQRT(k)) AS BIGINT) AS k1 FROM kk),
        cpsk AS (SELECT ((SELECT k FROM kk) + k1 - 1) // k1 AS cps
                 FROM k1k),
        corpus AS (SELECT vec_id AS c_id, v AS bv FROM e0
                   WHERE vec_id % 2 = 0),
        qs AS (SELECT vec_id AS q_id, v AS av FROM e0
               WHERE vec_id % 2 = 1),
        samp AS (SELECT c_id, bv FROM corpus
          WHERE ('0x' || substr(md5('s12s:' || c_id), 1, 8))::BIGINT
                < (${IvfTrainPerCell * 4294967296L} * (SELECT k FROM kk)
                   - 1) // (SELECT n FROM nn) + 1${tp("c_id")}),
        seeds1 AS (SELECT c_id AS scid, bv AS sc FROM (
            SELECT c_id, bv, ROW_NUMBER() OVER (ORDER BY c_id) AS rn
            FROM samp)
          WHERE rn <= (SELECT k1 FROM k1k)),
        asg1 AS (SELECT c_id, scid FROM (
            SELECT sa.c_id, s1.scid,
              ROW_NUMBER() OVER (PARTITION BY sa.c_id ORDER BY
                list_sum(list_transform(list_zip(sa.bv, s1.sc),
                  z -> (z[1] - z[2]) * (z[1] - z[2]))) ASC, s1.scid) AS rn
            FROM samp sa, seeds1 s1)
          WHERE rn = 1),
        scdims AS (SELECT a.scid, t.dd,
            CAST(CAST(SUM(CAST(floor(sa.bv[t.dd + 1] * 1e10 + 0.5)
              AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e10 / COUNT(*) AS cval
          FROM asg1 a JOIN samp sa USING (c_id),
            UNNEST(generate_series(0, ${VecDim - 1})) AS t(dd)
          GROUP BY a.scid, t.dd),
        sccent AS (SELECT scid, list(cval ORDER BY dd) AS sc
                   FROM scdims GROUP BY scid),
        asg2 AS (SELECT c_id, scid FROM (
            SELECT sa.c_id, s1.scid,
              ROW_NUMBER() OVER (PARTITION BY sa.c_id ORDER BY
                list_sum(list_transform(list_zip(sa.bv, s1.sc),
                  z -> (z[1] - z[2]) * (z[1] - z[2]))) ASC, s1.scid) AS rn
            FROM samp sa, sccent s1)
          WHERE rn = 1),
        subseeds AS (SELECT a.c_id AS cid, a.scid, sa.bv AS cseed
          FROM (SELECT c_id, scid, ROW_NUMBER() OVER (
                  PARTITION BY scid ORDER BY c_id) AS rn FROM asg2) a
          JOIN samp sa ON sa.c_id = a.c_id
          WHERE a.rn <= (SELECT cps FROM cpsk)),
        asg3 AS (SELECT c_id, cid, scid FROM (
            SELECT a.c_id, ss.cid, a.scid,
              ROW_NUMBER() OVER (PARTITION BY a.c_id ORDER BY
                list_sum(list_transform(list_zip(sa.bv, ss.cseed),
                  z -> (z[1] - z[2]) * (z[1] - z[2]))) ASC, ss.cid) AS rn
            FROM asg2 a
            JOIN samp sa ON sa.c_id = a.c_id
            JOIN subseeds ss ON ss.scid = a.scid)
          WHERE rn = 1),
        celldims AS (SELECT a.cid, a.scid, t.dd,
            CAST(CAST(SUM(CAST(floor(sa.bv[t.dd + 1] * 1e10 + 0.5)
              AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e10 / COUNT(*) AS cval
          FROM asg3 a JOIN samp sa USING (c_id),
            UNNEST(generate_series(0, ${VecDim - 1})) AS t(dd)
          GROUP BY a.cid, a.scid, t.dd),
        cellcent AS (SELECT cid, scid, list(cval ORDER BY dd) AS c
                     FROM celldims GROUP BY cid, scid),
        corpsc AS (SELECT c_id, bv, scid FROM (
            SELECT cr.c_id, cr.bv, s1.scid,
              ROW_NUMBER() OVER (PARTITION BY cr.c_id ORDER BY
                list_sum(list_transform(list_zip(cr.bv, s1.sc),
                  z -> (z[1] - z[2]) * (z[1] - z[2]))) ASC, s1.scid) AS rn
            FROM corpus cr, sccent s1)
          WHERE rn <= ${IvfSuperProbe}),
        ccell AS (SELECT c_id, cid FROM (
            SELECT cs.c_id, cc.cid,
              ROW_NUMBER() OVER (PARTITION BY cs.c_id ORDER BY
                list_sum(list_transform(list_zip(cs.bv, cc.c),
                  z -> (z[1] - z[2]) * (z[1] - z[2]))) ASC, cc.cid) AS rn
            FROM corpsc cs JOIN cellcent cc USING (scid))
          WHERE rn = 1),
        -- nprobe auto-calibration (CTE-for-CTE twin of
        -- calibrateNprobe): sampled queries -> exact NN -> NN's cell
        -- (via ccell) -> rank in the query's gated cell ordering ->
        -- order-statistic percentile, cap-clamped
        npcap AS (SELECT GREATEST(${IvfNprobe},
            4 * CAST(CEIL(SQRT(k)) AS BIGINT)) AS cap FROM kk),
        nqq AS (SELECT COUNT(*) AS nq FROM qs),
        sq AS (SELECT q_id, av FROM qs
          WHERE ('0x' || substr(md5('s12c:' || q_id), 1, 8))::BIGINT
                < ${CalibSample * 4294967296L - 1L}
                  // (SELECT nq FROM nqq) + 1),
        snn AS (SELECT q_id, c_id FROM (
            SELECT q.q_id, c.c_id,
              ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
                list_sum(list_transform(list_zip(q.av, c.bv),
                  z -> (z[1] - z[2]) * (z[1] - z[2]))) ASC, c.c_id) AS rn
            FROM sq q, corpus c${tpw("c.c_id")})
          WHERE rn = 1),
        sqsc AS (SELECT q_id, av, scid FROM (
            SELECT q.q_id, q.av, s1.scid,
              ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
                list_sum(list_transform(list_zip(q.av, s1.sc),
                  z -> (z[1] - z[2]) * (z[1] - z[2]))) ASC, s1.scid) AS rn
            FROM sq q, sccent s1)
          WHERE rn <= ${IvfSuperProbe}),
        sqrank AS (SELECT q_id, cid, cd, ROW_NUMBER() OVER (
              PARTITION BY q_id ORDER BY cd, cid) AS cellrank
          FROM (SELECT qc.q_id, cc.cid,
              list_sum(list_transform(list_zip(qc.av, cc.c),
                z -> (z[1] - z[2]) * (z[1] - z[2]))) AS cd
            FROM sqsc qc JOIN cellcent cc USING (scid))),
        crs AS (SELECT r.cellrank
          FROM snn n
          JOIN ccell cl ON cl.c_id = n.c_id
          JOIN sqrank r ON r.q_id = n.q_id AND r.cid = cl.cid),
        calib AS (SELECT GREATEST(${IvfNprobe},
            LEAST((SELECT cap FROM npcap), COALESCE(
              (SELECT cellrank
               FROM (SELECT cellrank,
                   ROW_NUMBER() OVER (ORDER BY cellrank) AS rn,
                   COUNT(*) OVER () AS cnt FROM crs)
               WHERE rn = GREATEST(1,
                 (cnt * ${resolvedRecallTargetPct} + 99) // 100)),
              ${IvfNprobe}))) AS np),
        qsc AS (SELECT q_id, av, scid FROM (
            SELECT q.q_id, q.av, s1.scid,
              ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
                list_sum(list_transform(list_zip(q.av, s1.sc),
                  z -> (z[1] - z[2]) * (z[1] - z[2]))) ASC, s1.scid) AS rn
            FROM qs q, sccent s1)
          WHERE rn <= ${IvfSuperProbe}),
        probes AS (SELECT q_id, cid, cd FROM (
            SELECT qc.q_id, cc.cid,
              list_sum(list_transform(list_zip(qc.av, cc.c),
                z -> (z[1] - z[2]) * (z[1] - z[2]))) AS cd,
              ROW_NUMBER() OVER (PARTITION BY qc.q_id ORDER BY
                list_sum(list_transform(list_zip(qc.av, cc.c),
                  z -> (z[1] - z[2]) * (z[1] - z[2]))) ASC, cc.cid) AS rn
            FROM qsc qc JOIN cellcent cc USING (scid))
          WHERE rn <= ${resolvedNprobeSql}),
        cand AS (SELECT p.q_id, p.cid, p.cd, cc.c_id
                 FROM probes p JOIN ccell cc USING (cid)),
        -- RESIDUAL encoding (IVFADC): rv = bv - cell_centroid; PQ
        -- trains/codes on residuals, the ADC LUT is per (query,
        -- probed cell) from the query's own residual
        cres AS (SELECT cr.c_id, cl.cid,
            list_transform(list_zip(cr.bv, cc.c),
              z -> z[1] - z[2]) AS rv
          FROM corpus cr JOIN ccell cl USING (c_id)
          JOIN cellcent cc USING (cid)),
        cb0 AS (SELECT rn - 1 AS c, rv AS cv FROM (
            SELECT rv,
              ROW_NUMBER() OVER (ORDER BY c_id) AS rn
            FROM cres${tpw("c_id")})
          WHERE rn <= 64),
        cbinit AS (SELECT mm.m, ct.c,
            list_slice(ct.cv, mm.m * 16 + 1, mm.m * 16 + 16) AS cvi
          FROM UNNEST(generate_series(0, 3)) AS mm(m), cb0 ct),
        casg AS (SELECT c_id, m, c FROM (
            SELECT cr.c_id, mm.m, ct.c,
              ROW_NUMBER() OVER (PARTITION BY cr.c_id, mm.m ORDER BY
                list_sum(list_transform(
                  list_zip(list_slice(cr.rv, mm.m * 16 + 1, mm.m * 16 + 16),
                           list_slice(ct.cv, mm.m * 16 + 1, mm.m * 16 + 16)),
                  z -> (z[1] - z[2]) * (z[1] - z[2]))) ASC, ct.c) AS rn
            FROM cres cr, UNNEST(generate_series(0, 3)) AS mm(m),
              cb0 ct${tpw("cr.c_id")})
          WHERE rn = 1),
        cbdims AS (SELECT a.m, a.c, t.dd,
            CAST(CAST(SUM(CAST(floor(cr.rv[a.m * 16 + t.dd + 1] * 1e10 + 0.5)
              AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e10 / COUNT(*) AS cval
          FROM casg a JOIN cres cr ON cr.c_id = a.c_id,
            UNNEST(generate_series(0, 15)) AS t(dd)
          GROUP BY a.m, a.c, t.dd),
        cb1 AS (SELECT m, c, list(cval ORDER BY dd) AS cv
                FROM cbdims GROUP BY m, c),
        cb1f AS (SELECT i.m, i.c, COALESCE(t.cv, i.cvi) AS cv
                 FROM cbinit i LEFT JOIN cb1 t USING (m, c)),
        codes AS (SELECT c_id, m, c AS code FROM (
            SELECT cr.c_id, cb.m, cb.c,
              ROW_NUMBER() OVER (PARTITION BY cr.c_id, cb.m ORDER BY
                list_sum(list_transform(
                  list_zip(list_slice(cr.rv, cb.m * 16 + 1, cb.m * 16 + 16),
                           cb.cv),
                  z -> (z[1] - z[2]) * (z[1] - z[2]))) ASC, cb.c) AS rn
            FROM cres cr, cb1f cb)
          WHERE rn = 1),
        cp AS (SELECT c_id,
            MIN(CASE WHEN m = 0 THEN code END) AS code0,
            MIN(CASE WHEN m = 1 THEN code END) AS code1,
            MIN(CASE WHEN m = 2 THEN code END) AS code2,
            MIN(CASE WHEN m = 3 THEN code END) AS code3
          FROM codes GROUP BY c_id),
        -- decomposed residual ADC: adist = cd − 2·q·e + (2·c·e+|e|²)
        -- as a per-QUERY LUT + a per-CELL LUT + the router's cd —
        -- both 256-entry lists positional by m*64+c (codes dense
        -- 0..63 by the cb1f coalesce)
        qlut AS (SELECT q.q_id, cb.m, cb.c,
            list_sum(list_transform(
              list_zip(list_slice(q.av, cb.m * 16 + 1, cb.m * 16 + 16),
                       cb.cv),
              z -> -2.0 * z[1] * z[2])) AS pdist
          FROM qs q, cb1f cb),
        qlutflat AS MATERIALIZED (SELECT q_id,
            list(pdist ORDER BY m * 64 + c) AS qpl
          FROM qlut GROUP BY q_id),
        clut AS (SELECT cc.cid, cb.m, cb.c,
            list_sum(list_transform(
              list_zip(list_slice(cc.c, cb.m * 16 + 1, cb.m * 16 + 16),
                       cb.cv),
              z -> 2.0 * z[1] * z[2] + z[2] * z[2])) AS pdist
          FROM cellcent cc, cb1f cb),
        clutflat AS MATERIALIZED (SELECT cid,
            list(pdist ORDER BY m * 64 + c) AS cpl
          FROM clut GROUP BY cid),
        -- shortlist calibration (CTE-for-CTE twin of the Scala
        -- chain): the sample's candidates through the FULL serving
        -- scorer -> ADC rank of each true NN -> order-statistic
        -- percentile, floored at 96 and otherwise UNCAPPED (ranks
        -- are observed positions inside real candidate sets, so any
        -- formula cap only truncates -- nprobe*64 broke the recall
        -- contract past k-saturation, the r14 ADVICE medium)
        sprobes AS (SELECT q_id, cid, cd FROM sqrank
          WHERE cellrank <= ${resolvedNprobeSql}),
        sscored AS (SELECT sp.q_id, cc2.c_id,
            (((((((sp.cd
              + qpl[CAST(cp.code0 + 1 AS INT)])
              + qpl[CAST(cp.code1 + 65 AS INT)])
              + qpl[CAST(cp.code2 + 129 AS INT)])
              + qpl[CAST(cp.code3 + 193 AS INT)])
              + cpl[CAST(cp.code0 + 1 AS INT)])
              + cpl[CAST(cp.code1 + 65 AS INT)])
              + cpl[CAST(cp.code2 + 129 AS INT)])
              + cpl[CAST(cp.code3 + 193 AS INT)] AS adist
          FROM sprobes sp
          JOIN ccell cc2 USING (cid)
          JOIN cp ON cp.c_id = cc2.c_id
          JOIN qlutflat USING (q_id)
          JOIN clutflat USING (cid)${tpw("cc2.c_id")}),
        sranked AS (SELECT q_id, c_id, ROW_NUMBER() OVER (
            PARTITION BY q_id ORDER BY adist, c_id) AS r
          FROM sscored),
        slranks AS (SELECT r.r FROM snn n
          JOIN sranked r ON r.q_id = n.q_id AND r.c_id = n.c_id),
        slcalib AS (SELECT GREATEST(${PqShortlist}, COALESCE(
              (SELECT rr
               FROM (SELECT r AS rr,
                   ROW_NUMBER() OVER (ORDER BY r) AS rn2,
                   COUNT(*) OVER () AS cnt FROM slranks)
               WHERE rn2 = GREATEST(1,
                 (cnt * ${resolvedRecallTargetPct} + 99) // 100)),
              ${PqShortlist})) AS sl),
        scored AS MATERIALIZED (SELECT cand.q_id, cand.c_id,
            (((((((cand.cd
              + qpl[CAST(cp.code0 + 1 AS INT)])
              + qpl[CAST(cp.code1 + 65 AS INT)])
              + qpl[CAST(cp.code2 + 129 AS INT)])
              + qpl[CAST(cp.code3 + 193 AS INT)])
              + cpl[CAST(cp.code0 + 1 AS INT)])
              + cpl[CAST(cp.code1 + 65 AS INT)])
              + cpl[CAST(cp.code2 + 129 AS INT)])
              + cpl[CAST(cp.code3 + 193 AS INT)] AS adist
          FROM cand JOIN cp USING (c_id)
          JOIN qlutflat USING (q_id)
          JOIN clutflat USING (cid))$eligibleCte,
        short AS (SELECT q_id, c_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
              ORDER BY adist, c_id) AS r FROM $shortSrc)
          WHERE r <= ${resolvedShortlistSql}),
        rer AS (SELECT s.q_id, s.c_id,
            list_sum(list_transform(list_zip(a.v, b.v),
              t -> (t[1] - t[2]) * (t[1] - t[2]))) AS l2sq
          FROM short s
          JOIN e0 a ON a.vec_id = s.q_id
          JOIN e0 b ON b.vec_id = s.c_id)"""
  }

  /** The hybrid sample + BM25 lexical-leg CTE block, ending at
    * `lextop` (q_id, doc_id, rank over ALL scored corpus docs; the
    * fusion filters rank ≤ 10). Shared verbatim by the s20 and s21
    * twins. The scored CTE is named `lsc` so the block composes with
    * [[pqChainCtes]] (which owns `scored`). */
  private def hybridLexCtesSql: String =
    s"""qn AS (SELECT COUNT(*) AS nodd FROM documents
            WHERE doc_id % 2 = 1),
        th AS (SELECT ${HybridSampleE * 4294967296L - 1L} // nodd + 1
               AS th FROM qn),
        qd AS (SELECT doc_id AS q_id,
            string_split_regex(lower(trim(text)), '\\s+') AS qtoks
          FROM documents
          WHERE doc_id % 2 = 1
            AND ('0x' || substr(md5('hyb:' || doc_id), 1, 8))::BIGINT
                < (SELECT th FROM th)),
        ctok AS (SELECT doc_id,
            unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
          FROM documents WHERE doc_id % 2 = 0),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM ctok GROUP BY doc_id),
        stats AS (SELECT COUNT(*) AS nd, SUM(dl) AS tl FROM dl),
        qset AS (SELECT DISTINCT q_id, unnest(qtoks) AS term FROM qd),
        post AS (SELECT doc_id, term FROM ctok
          WHERE term IN (SELECT DISTINCT term FROM qset)),
        dfT AS (SELECT term, COUNT(DISTINCT doc_id) AS df
          FROM post GROUP BY term),
        qtc AS (SELECT q.q_id, q.term, d.df FROM qset q
          JOIN dfT d USING (term) WHERE d.df <= 100),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM post
          GROUP BY doc_id, term),
        lsc AS (SELECT qtc.q_id, tf.doc_id,
            CAST(floor(
              (((CAST(nd AS DOUBLE) - CAST(df AS DOUBLE)) + 0.5)
                  / (CAST(df AS DOUBLE) + 0.5) *
                ((CAST(tf AS DOUBLE) * 2.2) /
                  (CAST(tf AS DOUBLE) + 1.2 * (0.25 +
                    0.75 * (CAST(dl AS DOUBLE) /
                      (CAST(tl AS DOUBLE) / CAST(nd AS DOUBLE)))))))
                * 100000000.0) AS BIGINT) AS c
          FROM tf JOIN qtc USING (term) JOIN dl USING (doc_id)
            CROSS JOIN stats),
        lex AS (SELECT q_id, doc_id, SUM(c) AS lex_scaled
          FROM lsc GROUP BY q_id, doc_id),
        lextop AS (SELECT q_id, doc_id, ROW_NUMBER() OVER (
            PARTITION BY q_id ORDER BY lex_scaled DESC, doc_id) AS rank
          FROM lex)"""

  /** Integer-RRF fusion tail: consumes `lextop` and `vectop`
    * (q_id, doc_id, rank), emits the final top-3 SELECT. Shared by
    * the s20 and s21 twins. */
  private def hybridFuseSql: String =
    """fused AS (SELECT q_id, doc_id, CAST(SUM(c) AS BIGINT)
            AS rrf_scaled
          FROM (
            SELECT q_id, doc_id,
              CAST(100000000 // (60 + rank) AS BIGINT) AS c
            FROM lextop WHERE rank <= 10
            UNION ALL
            SELECT q_id, doc_id,
              CAST(100000000 // (60 + rank) AS BIGINT) AS c
            FROM vectop WHERE rank <= 10)
          GROUP BY q_id, doc_id)
        SELECT q_id, rank, doc_id, rrf_scaled FROM (
          SELECT q_id, doc_id, rrf_scaled, ROW_NUMBER() OVER (
            PARTITION BY q_id ORDER BY rrf_scaled DESC, doc_id) AS rank
          FROM fused)
        WHERE rank <= 3 ORDER BY q_id, rank"""

  /** s20's twin: lexical CTEs + the EXACT vector leg + RRF fusion. */
  private def hybridExactOracleSql: String =
    matCtes(s"""WITH $hybridLexCtesSql,
        e0 AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        qv AS (SELECT e.vec_id AS q_id, e.v AS av
          FROM e0 e JOIN qd ON qd.q_id = e.vec_id),
        cv AS (SELECT vec_id AS doc_id, v AS bv FROM e0
          WHERE vec_id % 2 = 0),
        vd AS (SELECT qv.q_id, cv.doc_id,
            list_sum(list_transform(list_zip(qv.av, cv.bv),
              t -> (t[1] - t[2]) * (t[1] - t[2]))) AS l2
          FROM cv, qv),
        vectop AS (SELECT q_id, doc_id, ROW_NUMBER() OVER (
            PARTITION BY q_id ORDER BY l2, doc_id) AS rank FROM vd),
        $hybridFuseSql""")

  /** s21's twin: the FULL deterministic IVF-PQ chain (the persisted
    * index is a deterministic rebuild — s18's staleness contract)
    * composed with the lexical CTEs; the vector leg is each sampled
    * query's top-10 exact-reranked shortlist candidates from `rer`.
    * Filtering `rer` to the sampled queries before the rank is
    * answer-identical to serving only those queries (per-query
    * answers are independent), which is what the engine does. */
  private[graft] def hybridIndexedOracleSql: String =
    matCtes(s"""WITH ${pqChainCtes(filtered = false)},
        $hybridLexCtesSql,
        vectop AS (SELECT r.q_id, r.c_id AS doc_id, ROW_NUMBER() OVER (
            PARTITION BY r.q_id ORDER BY r.l2sq, r.c_id) AS rank
          FROM rer r JOIN qd ON qd.q_id = r.q_id),
        $hybridFuseSql""")

  // ----------------------------------------------------------------
  // hybrid retrieval (s20/s21): one shared query sample, one shared
  // BM25 lexical leg, one shared integer-RRF fusion — s20 pairs them
  // with the EXACT vector referee (bounded |sample|·n verification
  // tier), s21 with the PERSISTED s18 index (the deployment leg whose
  // per-query cost is independent of corpus size on clustered
  // geometry).

  /** Tokenized documents + the E[[[HybridSampleE]]] md5-Bernoulli
    * query-doc sample (tiny — broadcast everywhere downstream). */
  private def hybridDocsAndQueries(s: SparkSession,
      d: String): (DataFrame, DataFrame) = {
    val t = new Tables(s, d)
    val docs = t.documents.select(col("doc_id"),
      split(lower(trim(col("text"))), "\\s+").as("toks"))
    val thresh = (HybridSampleE * 4294967296L - 1L) /
      math.max(1L, docsOddCount(s, d)) + 1L
    val qdocs = docs.filter(col("doc_id") % 2 === 1)
      .filter(conv(substring(md5(concat(lit("hyb:"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
        < lit(thresh))
      .select(col("doc_id").as("q_id"), col("toks").as("qtoks"))
    (docs, qdocs)
  }

  /** BM25 lexical leg: top-10 corpus docs per sampled query. Moves
    * only the postings of the sampled queries' terms (broadcast
    * semi-join prunes the corpus token scan; the df-cap bounds
    * fan-out — the d03 shingleDfCap argument); contributions are
    * floor-quantized BIGINTs (t15's determinism discipline). Returns
    * (q_id, doc_id, rank ≤ 10). */
  private def hybridLexTop(docs: DataFrame,
      qdocs: DataFrame): DataFrame = {
    val ctok = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), explode(col("toks")).as("term"))
    val dl = ctok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("nd"), sum(col("dl")).as("tl"))
    val qset = qdocs
      .select(col("q_id"), explode(col("qtoks")).as("term"))
      .distinct()
    val post = ctok.join(broadcast(qset.select(col("term")).distinct()),
      Seq("term"))
    val dfT = post.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val qtc = qset.join(broadcast(dfT.filter(col("df") <= 100)),
      Seq("term"))
    val tf = post.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val scored = tf.join(broadcast(qtc), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("q_id"), col("doc_id"),
        bm25Contrib(col("nd"), col("tl")).as("c"))
    topKPerKey(scored.groupBy(col("q_id"), col("doc_id"))
        .agg(sum(col("c")).as("lex_scaled")),
        Seq(col("q_id")), Seq(col("lex_scaled").desc, col("doc_id")), 10,
        "rank")
      .select(col("q_id"), col("doc_id"), col("rank"))
  }

  /** The persisted LEXICAL retrieval index — the BM25 tower's
    * build/serve split, symmetric to the PQ tower's s18: (doc, term,
    * tf) postings BUCKETED ON term, per-doc lengths, per-term
    * document frequencies, and the two corpus scalars (nd, tl) as
    * metadata. Everything is a deterministic projection of the
    * documents table, so serving from the saved tables answers
    * exactly what an inline recompute answers (the s18 staleness
    * argument — which is why s21/st19's oracle is unchanged by it)
    * while the serve stops re-tokenizing the corpus per query batch:
    * at 100 TB, tokenize once nightly, serve from columnar postings.
    * nd/tl ride as LITERALS at serve (one fewer broadcast than the
    * from-docs path's 1-row stats crossJoin). */
  private[graft] final case class LexIndex(post: DataFrame,
      dfT: DataFrame, dl: DataFrame, nd: Long, tl: Long)

  /** v2 added the monotone GENERATION counter (the same mid-stream
    * refresh contract the PQ meta carries): a v1 meta has no `gen`,
    * so the schema bump rebuilds it rather than serving a table the
    * generation probe can't read. */
  private[graft] val LexMetaSchemaVer = 2

  private def lexPath(d: String, table: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_$table-" +
      Integer.toHexString(d.hashCode)

  private def lexSave(s: SparkSession, d: String, dfx: DataFrame,
      table: String, bucketCol: Option[String]): Unit = {
    val p = lexPath(d, table)
    val w = dfx.write.mode("overwrite").option("path", p)
    bucketCol match {
      case Some(bc) => w.bucketBy(8, bc).sortBy(bc).saveAsTable(table)
      case None => w.saveAsTable(table)
    }
  }

  /** Tokenize the corpus side of `d` (even doc_ids) gated by
    * `docGate`, yielding the lexical index's two base frames. */
  private def lexFrames(s: SparkSession, d: String,
      docGate: org.apache.spark.sql.Column)
      : (DataFrame, DataFrame) = {
    val ctok = new Tables(s, d).documents
      .filter(col("doc_id") % 2 === 0)
      .filter(docGate)
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
    (ctok.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf")),
      ctok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl")))
  }

  /** Build + persist the lexical index over `docGate`-selected corpus
    * docs. `scope` = "full" marks a complete index (what
    * [[ensureLexIndex]] will serve); a nightly-base build passes
    * "partial" and [[appendLexDelta]] flips it to "full" once the
    * delta has landed — an interrupted incremental build is then
    * stale, never silently served. */
  private[graft] def persistLexIndex(s: SparkSession, d: String,
      docGate: org.apache.spark.sql.Column = lit(true),
      scope: String = "full"): Unit = {
    val (tf0, dl0) = lexFrames(s, d, docGate)
    val tf = tf0.cache() // feeds postings AND df — one tokenization
    val dl = dl0.cache() // feeds the dl table AND the stats row
    lexSave(s, d, tf, "s21_lex_post", Some("term"))
    lexSave(s, d, tf.groupBy(col("term")).agg(count(lit(1)).as("df")),
      "s21_lex_df", Some("term"))
    lexSave(s, d, dl, "s21_lex_dl", None)
    val st = dl.agg(count(lit(1)).as("nd"),
      coalesce(sum(col("dl")), lit(0L)).as("tl")).head()
    tf.unpersist(false); dl.unpersist(false)
    import s.implicits._
    lexSave(s, d,
      Seq((st.getLong(0), st.getLong(1), d, LexMetaSchemaVer, scope,
        lexPrevGen(s) + 1L))
        .toDF("nd", "tl", "corpus_dir", "schema_ver", "scope", "gen"),
      "s21_lex_meta", None)
    // the rebuild re-pointed each table at its base path; a prior
    // compaction may have left the previous live data under a -a/-b
    // generation dir, now orphaned (s17BuildBase's idempotence
    // discipline). Cleared only AFTER the meta stamp above — a cache
    // still holding the old generation re-probes and lands on the
    // fresh build before the old files disappear (the same ordering
    // [[swapCompact]]'s delete-after-meta contract mandates).
    Seq("s21_lex_post", "s21_lex_dl").foreach { t =>
      deleteDir(s"${lexPath(d, t)}-a"); deleteDir(s"${lexPath(d, t)}-b")
    }
  }

  /** Generation the current lex meta carries, 0 when absent/legacy —
    * every meta write stamps prevGen + 1 so the serving streams'
    * generation probe sees rebuilds, delta appends, and compactions
    * alike as "the index moved". */
  private def lexPrevGen(s: SparkSession): Long =
    try {
      refreshIndexTables(s, Seq("s21_lex_meta"))
      val mt = s.table("s21_lex_meta")
      if (mt.columns.contains("gen")) mt.head().getAs[Long]("gen")
      else 0L
    } catch { case _: Exception => 0L }

  /** INCREMENTAL lexical-index maintenance — s17's nightly-delta
    * discipline for the postings tower: today's `deltaGate` docs
    * tokenize ONLY THEMSELVES. Postings and doc-lengths are pure
    * bucketed APPENDS through the table's catalog spec (base segment
    * files untouched — `IncrementalLexSpec` pins it); per-term
    * document frequencies merge ADDITIVELY (df is a sum of disjoint
    * doc sets), O(|delta terms| + |df table|) staged through a
    * temp dir because the merge reads the table it replaces; the two
    * corpus scalars add. Work is O(|delta| + |vocabulary|), never a
    * corpus re-tokenization — and the result must be
    * INDISTINGUISHABLE from a from-scratch build, which is exactly
    * what s22's oracle gate proves (the twin recomputes from
    * source). */
  private[graft] def appendLexDelta(s: SparkSession, d: String,
      deltaGate: org.apache.spark.sql.Column): Unit = {
    val (tfD0, dlD0) = lexFrames(s, d, deltaGate)
    val tfD = tfD0.cache()
    val dlD = dlD0.cache()
    tfD.select(col("doc_id"), col("term"), col("tf"))
      .write.mode("append").insertInto("s21_lex_post")
    dlD.select(col("doc_id"), col("dl"))
      .write.mode("append").insertInto("s21_lex_dl")
    val merged = s.table("s21_lex_df")
      .unionByName(tfD.groupBy(col("term")).agg(count(lit(1)).as("df")))
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
    val stage = java.nio.file.Files
      .createTempDirectory("graft_lex_dfmerge").toString
    merged.write.mode("overwrite").parquet(stage)
    lexSave(s, d, s.read.parquet(stage), "s21_lex_df", Some("term"))
    val stD = dlD.agg(count(lit(1)).as("nd"),
      coalesce(sum(col("dl")), lit(0L)).as("tl")).head()
    tfD.unpersist(false); dlD.unpersist(false)
    val m = s.table("s21_lex_meta").head()
    import s.implicits._
    lexSave(s, d,
      Seq((m.getAs[Long]("nd") + stD.getLong(0),
        m.getAs[Long]("tl") + stD.getLong(1), d, LexMetaSchemaVer,
        "full", m.getAs[Long]("gen") + 1L))
        .toDF("nd", "tl", "corpus_dir", "schema_ver", "scope", "gen"),
      "s21_lex_meta", None)
  }

  /** OPTIMIZE pass for the incremental lexical index (s23) — s17's
    * compaction discipline on the postings tower: every nightly
    * [[appendLexDelta]] lands one new small file per (task, bucket)
    * in `s21_lex_post` and a few in `s21_lex_dl`, so a year of deltas
    * reads as hundreds of tiny files per bucket. Compaction bin-packs
    * the postings back to ONE file per term-bucket WITHOUT a shuffle
    * (bucketed scan forced on → one partition per bucket → the
    * bucketed rewrite streams bucket j's files into a single new
    * bucket-j file), and the doc-lengths table coalesces (also
    * shuffle-free). Each rewrite lands as a sibling GENERATION dir
    * (-a/-b alternating) under a staging table name, swaps via
    * drop + rename, and the superseded generation's files are
    * removed — a single-writer maintenance window, like every
    * OPTIMIZE in the w-series. The meta GENERATION is stamped +1
    * after the swap, so a serving stream's [[LexIndexCache]] reloads
    * (and re-lists files) on its next micro-batch instead of reading
    * the deleted parts. Answers are unchanged — compaction is
    * layout-only, which is exactly what the s23 gate proves (the
    * compacted index must still hash-match the from-source oracle).
    *
    * Crash recovery (the r14/r16 hazard class, handled exactly like
    * [[s17Compact]]): a crash BETWEEN a table's DROP and RENAME
    * leaves the new generation under the staging name as the ONLY
    * copy; re-running compaction completes the interrupted rename
    * FIRST — before the defensive staging drop that would otherwise
    * destroy the sole surviving generation (`LexCompactionSpec` kills
    * the swap mid-window and re-runs). */
  private[graft] def compactLexIndex(s: SparkSession, d: String): Unit = {
    val scanKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = s.conf.get(scanKey, "true")
    val superseded = {
      s.conf.set(scanKey, "false")
      try Seq(
        swapCompact(s, "s21_lex_post", () => bumpLexGen(s, d),
          (df, path, staging) =>
            df.write.mode("overwrite").option("path", path)
              .bucketBy(8, "term").sortBy("term").saveAsTable(staging)),
        swapCompact(s, "s21_lex_dl", () => bumpLexGen(s, d),
          (df, path, staging) =>
            df.coalesce(8).write.mode("overwrite").option("path", path)
              .saveAsTable(staging)))
      finally s.conf.set(scanKey, prev)
    }
    // gen bump BEFORE the superseded dirs go (swapCompact's contract
    // — same crash-window discipline as compactPqCodes)
    bumpLexGen(s, d)
    superseded.foreach(deleteDir)
  }

  /** Rewrite `s21_lex_meta` with gen+1, all other fields verbatim —
    * shared by [[compactLexIndex]]'s normal path and
    * [[swapCompact]]'s crash recovery. */
  private def bumpLexGen(s: SparkSession, d: String): Unit = {
    val m = s.table("s21_lex_meta").head()
    import s.implicits._
    lexSave(s, d,
      Seq((m.getAs[Long]("nd"), m.getAs[Long]("tl"),
        m.getAs[String]("corpus_dir"), m.getAs[Int]("schema_ver"),
        m.getAs[String]("scope"), m.getAs[Long]("gen") + 1L))
        .toDF("nd", "tl", "corpus_dir", "schema_ver", "scope", "gen"),
      "s21_lex_meta", None)
  }

  /** LEXICAL STALENESS AUDIT (s31) — BM25 has no recall to drift, but
    * its GLOBAL statistics do: nd and avgdl are frozen into the meta
    * at build/append time and the per-doc lengths live in the dl
    * table, so deletes, edits, or a nightly append that never ran
    * leave the index describing a corpus that no longer exists. The
    * audit measures exactly that, at bounded cost (the s27
    * discipline: sampled referee, never a corpus re-tokenization):
    *   - COVERAGE: meta nd vs a corpus doc COUNT — a parquet
    *     count(*), no tokenization;
    *   - DL RECHECK: an E[[[LexAuditSample]]] md5-Bernoulli doc
    *     sample is re-tokenized and its lengths compared against the
    *     stored dl rows (a missing row counts as a mismatch) —
    *     catches edits and holes the count can't see.
    * One row out; `rebuild_due` fires on either dial. */
  private[graft] def auditLexStaleness(s: SparkSession, d: String,
      minCoverageOverride: Option[Double] = None,
      maxDlMismatchOverride: Option[Double] = None): DataFrame = {
    refreshIndexTables(s, Seq("s21_lex_dl", "s21_lex_meta"))
    // 1-row meta read + one corpus count: bounded planning reads
    val ndIndex = s.table("s21_lex_meta").head().getAs[Long]("nd")
    val minCov = minCoverageOverride.getOrElse(LexMinCoverage)
    val maxMism = maxDlMismatchOverride.getOrElse(LexMaxDlMismatch)
    val corpus = new Tables(s, d).documents
      .filter(col("doc_id") % 2 === 0)
    val ndCorpus = corpus.count()
    val thresh = (LexAuditSample * 4294967296L - 1L) /
      math.max(1L, ndCorpus) + 1L
    val dlNow = corpus
      .filter(conv(substring(md5(concat(lit("lexa:"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
        < lit(thresh))
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("dl_now"))
    val dlIdx = s.table("s21_lex_dl")
      .select(col("doc_id"), col("dl").as("dl_idx"))
    dlNow.join(dlIdx, Seq("doc_id"), "left")
      .agg(count(lit(1)).as("n_sample"),
        coalesce(sum(when(col("dl_idx").isNull
            || col("dl_idx") =!= col("dl_now"), 1L).otherwise(0L)),
          lit(0L)).as("dl_mismatches"))
      .select(lit(ndIndex).as("nd_index"),
        lit(ndCorpus).as("nd_corpus"),
        col("n_sample"), col("dl_mismatches"),
        (lit(ndIndex).cast("double") / lit(ndCorpus).cast("double"))
          .as("coverage"),
        (col("dl_mismatches").cast("double")
          / col("n_sample").cast("double")).as("mismatch_frac"),
        ((lit(ndIndex).cast("double") / lit(ndCorpus).cast("double"))
            < lit(minCov)
          || (col("dl_mismatches").cast("double")
            / col("n_sample").cast("double")) > lit(maxMism))
          .as("rebuild_due"))
  }

  /** NIGHTLY LEXICAL MAINTENANCE (s30) — [[maintainPqIndex]]'s shape
    * for the postings tower, closing its maintenance loop: audit →
    * rebuild-when-due. The rebuild is a full [[persistLexIndex]]
    * (tokenize-once build + generation bump), so running st19
    * streams pick the fresh index up on their next micro-batch via
    * [[LexIndexCache]] without restart. Compaction (s23) stays its
    * own OPTIMIZE entry, exactly as s26 does for the PQ tower. */
  private[graft] def maintainLexIndex(s: SparkSession, d: String,
      minCoverageOverride: Option[Double] = None,
      maxDlMismatchOverride: Option[Double] = None): Boolean = {
    val due = auditLexStaleness(s, d, minCoverageOverride,
      maxDlMismatchOverride).head().getAs[Boolean]("rebuild_due")
    if (due) persistLexIndex(s, d)
    due
  }

  /** s31's twin: the index's dl table is modelled from source under
    * the same doc gate the engine built with (doc_id % 5 <> 0), the
    * sampled docs re-tokenized corpus-wide; coverage and mismatch
    * fractions are per-row IEEE doubles of exact longs. */
  private[graft] def lexAuditOracleSql: String =
    matCtes(s"""WITH corpus0 AS (SELECT doc_id, text FROM documents
            WHERE doc_id % 2 = 0),
        ndc AS (SELECT COUNT(*) AS nd_corpus FROM corpus0),
        ndi AS (SELECT COUNT(*) AS nd_index FROM corpus0
            WHERE doc_id % 5 <> 0),
        dlnow AS (SELECT doc_id, COUNT(*) AS dl_now FROM (
            SELECT doc_id, unnest(string_split_regex(
                lower(trim(text)), '\\s+')) AS term
            FROM corpus0
            WHERE ('0x' || substr(md5('lexa:' || doc_id), 1, 8))::BIGINT
                  < ${LexAuditSample * 4294967296L - 1L}
                    // (SELECT nd_corpus FROM ndc) + 1)
          GROUP BY doc_id),
        dlidx AS (SELECT doc_id, COUNT(*) AS dl_idx FROM (
            SELECT doc_id, unnest(string_split_regex(
                lower(trim(text)), '\\s+')) AS term
            FROM corpus0 WHERE doc_id % 5 <> 0)
          GROUP BY doc_id),
        cmp AS (SELECT COUNT(*) AS n_sample,
            CAST(COALESCE(SUM(CASE WHEN i.dl_idx IS NULL
                OR i.dl_idx <> c.dl_now THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS dl_mismatches
          FROM dlnow c LEFT JOIN dlidx i USING (doc_id))
        SELECT nd_index, nd_corpus, n_sample, dl_mismatches,
          CAST(nd_index AS DOUBLE) / CAST(nd_corpus AS DOUBLE)
            AS coverage,
          CAST(dl_mismatches AS DOUBLE) / CAST(n_sample AS DOUBLE)
            AS mismatch_frac,
          (CAST(nd_index AS DOUBLE) / CAST(nd_corpus AS DOUBLE)
              < $LexMinCoverage)
            OR (CAST(dl_mismatches AS DOUBLE)
              / CAST(n_sample AS DOUBLE) > $LexMaxDlMismatch)
            AS rebuild_due
        FROM cmp, ndi, ndc""")

  /** One table's generation swap: rewrite `live` into the sibling
    * generation dir via `write(frame, nextPath, stagingName)`, then
    * DROP + RENAME. Recovery for the drop/rename window runs FIRST
    * (see [[compactLexIndex]]).
    *
    * Returns the SUPERSEDED generation's dir instead of deleting it:
    * the caller deletes it only AFTER stamping the bumped meta
    * generation (the r17 ADVICE low on [[compactPqCodes]] — a crash
    * between the swap and the meta write used to leave the new
    * layout under the OLD generation, so a serving [[PqIndexCache]]
    * never saw a gen change and kept a file listing pointing at
    * deleted fragments). With delete-after-meta, a crash anywhere in
    * the window leaves the old files on disk and the serving cache
    * either at (old gen, old files) or (new gen, new files) — both
    * readable.
    *
    * RE-RUNNING a crashed compaction (the r18 ADVICE residual): if
    * the prior run died AFTER its swap but BEFORE its meta bump, the
    * orphaned sibling dir this run must clear IS the superseded old
    * generation — and a serving cache that never saw a gen change may
    * still hold its file listing. So when an orphan exists, the
    * recovery path invokes `bumpGen` FIRST (forcing caches onto the
    * already-live layout on their next lookup) and only then deletes
    * the orphan. For the benign orphan shapes (a crash before the
    * swap leaves the UNSWAPPED new copy, which no cache ever listed)
    * the extra bump is a harmless spurious reload of the unchanged
    * live layout — gen is an opaque monotonic counter. The normal
    * path (no orphan) never bumps here. */
  private def swapCompact(s: SparkSession, live: String,
      bumpGen: () => Unit,
      write: (DataFrame, String, String) => Unit): String = {
    val cat = s.sessionState.catalog
    val staging = live + "_next"
    val liveId = org.apache.spark.sql.catalyst.TableIdentifier(live)
    val stagingId = org.apache.spark.sql.catalyst.TableIdentifier(staging)
    if (!cat.tableExists(liveId) && cat.tableExists(stagingId)) {
      s.sql(s"ALTER TABLE $staging RENAME TO $live")
    }
    val cur = cat.getTableMetadata(liveId).location.getPath
      .stripSuffix("/")
    val base = cur.stripSuffix("-a").stripSuffix("-b")
    val next = if (cur.endsWith("-a")) s"$base-b" else s"$base-a"
    // a prior crash after the staging write leaves an orphaned staging
    // table whose metadata saveAsTable would trip over
    s.sql(s"DROP TABLE IF EXISTS $staging")
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(next))) {
      bumpGen()
      deleteDir(next)
    }
    write(s.table(live), next, staging)
    s.sql(s"DROP TABLE $live")
    s.sql(s"ALTER TABLE $staging RENAME TO $live")
    cur
  }

  private[graft] def loadLexIndex(s: SparkSession): LexIndex = {
    refreshIndexTables(s, Seq("s21_lex_post", "s21_lex_df",
      "s21_lex_dl", "s21_lex_meta"))
    val m = s.table("s21_lex_meta").head()
    LexIndex(s.table("s21_lex_post"), s.table("s21_lex_df"),
      s.table("s21_lex_dl"), m.getAs[Long]("nd"), m.getAs[Long]("tl"))
  }

  /** Load the persisted lexical index when one is fresh for this
    * corpus (exact dir string + schema version — no serving dials
    * exist for the lexical tower, so the fingerprint is smaller than
    * the PQ one), else build + persist. */
  private[graft] def ensureLexIndex(s: SparkSession, d: String): LexIndex = {
    val cat = s.sessionState.catalog
    def exists(t: String) = cat.tableExists(
      org.apache.spark.sql.catalyst.TableIdentifier(t))
    refreshIndexTables(s, Seq("s21_lex_meta"))
    val metaCols =
      Set("nd", "tl", "corpus_dir", "schema_ver", "scope", "gen")
    val fresh = exists("s21_lex_post") && exists("s21_lex_meta") && {
      val mt = s.table("s21_lex_meta")
      metaCols.subsetOf(mt.columns.toSet) && {
        val m = mt.head()
        m.getAs[String]("corpus_dir") == d &&
          m.getAs[Int]("schema_ver") == LexMetaSchemaVer &&
          // a base-only build whose delta never landed is STALE — an
          // interrupted incremental job must rebuild, never serve half
          m.getAs[String]("scope") == "full"
      }
    }
    if (!fresh) persistLexIndex(s, d)
    loadLexIndex(s)
  }

  /** The lexical index's GENERATION stamp alone — one 1-row read of
    * the meta table, the steady-state per-micro-batch freshness probe
    * for the streamed hybrid serve's lexical tower (the exact twin of
    * [[loadPqMetaGen]] on the vector tower). */
  private[graft] def loadLexMetaGen(s: SparkSession): Long = {
    refreshIndexTables(s, Seq("s21_lex_meta"))
    s.table("s21_lex_meta").head().getAs[Long]("gen")
  }

  /** Generation-cached handle on the persisted lexical index for the
    * serving streams (st19): the steady-state micro-batch pays ONE
    * 1-row meta read instead of the full [[ensureLexIndex]] freshness
    * walk (4 table refreshes + two meta reads) per batch, while a
    * nightly rebuild, delta append (s22), or compaction that stamps a
    * new generation is picked up on the NEXT micro-batch without
    * restarting the stream — [[StreamLexRefreshSpec]] proves the swap
    * mid-stream, completing for the lexical tower what
    * [[StreamIndexRefreshSpec]] proved for the PQ tower. Synchronized
    * for the same reason as [[PqIndexCache]]. */
  private[graft] final class LexIndexCache(s0: SparkSession) {
    private var cached: (Long, LexIndex) =
      (loadLexMetaGen(s0), loadLexIndex(s0))
    def current(sess: SparkSession): LexIndex = synchronized {
      val g = loadLexMetaGen(sess)
      if (g != cached._1) cached = (g, loadLexIndex(sess))
      cached._2
    }
    /** Generation of the index the LAST `current()` call served. */
    def lastGen: Long = synchronized(cached._1)
  }

  /** One micro-batch of hybrid queries (doc_id, text) against the
    * persisted indexes — the st19 streaming entry AND s21's
    * whole-table batch (s21 passes the full documents table as one
    * "batch"). BOTH towers serve from nightly-built tables: the
    * vector leg from the PQ index, the lexical leg from the postings
    * index (query terms ⋈ bucketed postings — the corpus is never
    * re-tokenized at serve). The md5 sample gate, both legs, and the
    * fusion are one code path; per-query answers are independent of
    * batch slicing (df/nd/tl are corpus-wide constants; each query's
    * legs read only its own terms and embedding), so the union of
    * micro-batch answers equals the batch answer and ONE oracle
    * gates both. */
  private[graft] def hybridServeBatch(s: SparkSession, d: String,
      batch: DataFrame, idx: PqIndex, lex: LexIndex): DataFrame = {
    // the sample threshold derives from the STATIC odd-doc count —
    // batch-independent (every slicing gates the same query set) and
    // cached per (dir, JVM), so a steady-state micro-batch pays a
    // map lookup, not a count job
    val thresh = (HybridSampleE * 4294967296L - 1L) /
      math.max(1L, docsOddCount(s, d)) + 1L
    val qdocs = batch
      .filter(col("doc_id") % 2 === 1)
      .filter(conv(substring(md5(concat(lit("hyb:"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
        < lit(thresh))
      .select(col("doc_id").as("q_id"),
        split(lower(trim(col("text"))), "\\s+").as("qtoks"))
    val lexTop = hybridLexTopServed(lex, qdocs)
    val e = vecs(s, d)
    val qv = e.select(col("vec_id").as("q_id"), col("v").as("av"))
      .join(broadcast(qdocs.select(col("q_id"))), Seq("q_id"))
    val cv = e.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("c_id"), col("v").as("bv"))
    val vecTop = servePqRanked(s, qv, cv, idx, identity, 10)
      .select(col("q_id"), col("c_id").as("doc_id"),
        col("r").as("rank"))
    hybridFuse(lexTop, vecTop)
  }

  /** The lexical leg served from the PERSISTED postings index:
    * identical BM25 values to [[hybridLexTop]] (df of a term is the
    * same whether counted from all postings or from the query-term
    * slice; nd/tl are the same scalars, here embedded as literals),
    * but the corpus side is the bucketed postings/df tables — no
    * tokenization scan at serve. */
  private def hybridLexTopServed(lex: LexIndex,
      qdocs: DataFrame): DataFrame = {
    val qset = qdocs
      .select(col("q_id"), explode(col("qtoks")).as("term"))
      .distinct()
    val qtc = lex.dfT.join(broadcast(qset), Seq("term"))
      .filter(col("df") <= 100)
      .select(col("q_id"), col("term"), col("df"))
    val scored = lex.post.join(broadcast(qtc), Seq("term"))
      .join(lex.dl, Seq("doc_id"))
      .select(col("q_id"), col("doc_id"),
        bm25Contrib(lit(lex.nd), lit(lex.tl)).as("c"))
    topKPerKey(scored.groupBy(col("q_id"), col("doc_id"))
        .agg(sum(col("c")).as("lex_scaled")),
        Seq(col("q_id")), Seq(col("lex_scaled").desc, col("doc_id")), 10,
        "rank")
      .select(col("q_id"), col("doc_id"), col("rank"))
  }

  /** The floor-quantized BM25 contribution of one (query-term, doc)
    * posting — the SAME expression in both lexical paths (from-docs
    * and persisted-index), expecting columns tf, df, dl and the
    * corpus scalars as columns/literals. */
  private def bm25Contrib(nd: org.apache.spark.sql.Column,
      tl: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(
      (((nd.cast("double") - col("df").cast("double"))
          + lit(0.5)) / (col("df").cast("double") + lit(0.5)) *
        ((col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") + lit(1.2) * (lit(0.25) +
            lit(0.75) * (col("dl").cast("double") /
              (tl.cast("double") / nd.cast("double")))))))
        * lit(100000000.0)).cast("long")

  /** Reciprocal-rank fusion (Cormack et al.) of two
    * (q_id, doc_id, rank ≤ 10) legs — INTEGER-exact
    * 1e8 div (60+rank) terms summed as BIGINTs, top-3 kept. Rank-only
    * fusion needs no score calibration, which is the point. */
  private def hybridFuse(lexTop: DataFrame,
      vecTop: DataFrame): DataFrame = {
    val rrfTerm = expr("CAST(100000000 div (60 + rank) AS BIGINT)")
    val fused = lexTop.select(col("q_id"), col("doc_id"),
        rrfTerm.as("c"))
      .unionByName(vecTop.select(col("q_id"), col("doc_id"),
        rrfTerm.as("c")))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("c")).as("rrf_scaled"))
    topKPerKey(fused, Seq(col("q_id")),
        Seq(col("rrf_scaled").desc, col("doc_id")), 3, "rank")
      .select(col("q_id"), col("rank"), col("doc_id"),
        col("rrf_scaled"))
      .orderBy(col("q_id"), col("rank"))
  }

  // ----------------------------------------------------------------
  // MMR diversity rerank (s15/s28): ONE shared greedy stage over a
  // packed per-query candidate array — s15 feeds it the all-pairs
  // verification candidates (the exactness referee), s28 the
  // persisted index's exact-reranked top-16 (the deployment shape).
  // Sharing the fold AND its oracle tail keeps the two tiers
  // definitionally identical: only candidate GENERATION differs.

  /** Pack per-query MMR candidates (qid, r, id_b, cos_q, bv, nrm_b —
    * r any deterministic per-query rank) into one array row per
    * query: the bounded frame the sequential greedy fold evaluates
    * per ROW, distributed across queries with zero extra shuffle. */
  private[graft] def mmrPack(cand: DataFrame): DataFrame =
    cand.groupBy(col("qid"))
      .agg(sort_array(collect_list(struct(col("r"), col("id_b"),
        col("cos_q"), col("bv"), col("nrm_b")))).as("cands"))

  /** The MMR greedy selection (Carbonell & Goldstein 1998) over a
    * [[mmrPack]]ed frame: pick [[MmrPickK]] of the candidates
    * maximizing λ·rel(q,c) − (1−λ)·max_{p∈picked} sim(c,p), λ=0.7.
    * One nested higher-order `aggregate` (5 steps × ≤16 argmax scans
    * × 64-dim native vec_dot) per query row. Determinism: argmax
    * uses the total order (score DESC, id ASC); scores are the same
    * left-to-right double folds both engines compute, so the DuckDB
    * unrolled-step twin ([[mmrOracleTailSql]]) picks identical ids;
    * per-rank scores are recomputed post-hoc from the picked prefix
    * (same max over the same set = same IEEE double) on both sides. */
  private[graft] def mmrSelect(packed: DataFrame): DataFrame = {
    // sim(c, p) and the MMR score of candidate c against a picked
    // id set, as SQL fragments (c, picked in lambda scope)
    val sim = "vec_dot(c.bv, p.bv) / (c.nrm_b * p.nrm_b)"
    val msim = s"""coalesce(aggregate(
        filter(cands, p -> array_contains(picked, p.id_b)),
        cast(null as double),
        (m, p) -> CASE WHEN m IS NULL OR $sim > m THEN $sim ELSE m END),
      cast(0.0 as double))"""
    val sc = s"cast(0.7 as double) * c.cos_q" +
      s" - cast(0.3 as double) * $msim"
    // pick count capped at the candidate count (r18 ADVICE: an
    // under-populated query — possible for s28's index-served tier
    // when probed cells are tiny — would otherwise exhaust the
    // argmax and append NULL sel_ids the oracle's inner joins drop,
    // a row-count divergence; mmrPack guarantees size(cands) >= 1 so
    // the sequence bound never inverts)
    val selExpr = s"""aggregate(
        sequence(1, least($MmrPickK, size(cands))),
        cast(array() as array<bigint>),
        (picked, step) -> array_append(picked,
          aggregate(
            filter(cands, c -> NOT array_contains(picked, c.id_b)),
            cast(null as struct<id: bigint, sc: double>),
            (best, c) -> CASE
              WHEN best IS NULL OR $sc > best.sc
                OR ($sc = best.sc AND c.id_b < best.id)
              THEN named_struct('id', c.id_b, 'sc', $sc)
              ELSE best END,
            best -> best.id)))"""
    // post-hoc per-rank score from the picked prefix (oracle twin
    // recomputes identically from its unrolled pick table)
    val selv = "filter(cands, c -> c.id_b = sel_id)[0]"
    val psim = s"vec_dot($selv.bv, p.bv) / ($selv.nrm_b * p.nrm_b)"
    val pmsim = s"""coalesce(aggregate(
        filter(cands, p -> array_contains(slice(picked, 1, pos), p.id_b)),
        cast(null as double),
        (m, p) -> CASE WHEN m IS NULL OR $psim > m THEN $psim ELSE m END),
      cast(0.0 as double))"""
    packed.withColumn("picked", expr(selExpr))
      .select(col("qid"), col("cands"), col("picked"),
        posexplode(col("picked")).as(Seq("pos", "sel_id")))
      .select(col("qid"), (col("pos") + 1).cast("long").as("rank"),
        col("sel_id"),
        expr(s"$selv.cos_q").as("relevance"),
        (expr(s"cast(0.7 as double) * $selv.cos_q")
          - expr(s"cast(0.3 as double) * $pmsim")).as("mmr_score"))
      .orderBy(col("qid"), col("rank"))
  }

  /** [[mmrSelect]]'s oracle tail, CTE-for-CTE: expects a `cand` CTE
    * (qid, id_b, cos_q) — the packed candidates — and a vector CTE
    * `vecCte` (vec_id, v, nrm) for the pairwise sims; emits csim →
    * [[MmrPickK]] UNROLLED greedy steps → post-hoc per-rank rescore,
    * ending at the final SELECT.
    *
    * The greedy is unrolled into plain join/window CTEs instead of a
    * recursive CTE with correlated subqueries (the r18 shape) for
    * two reasons, both measured at sf0.01: (1) the recursive twin
    * cost the r18 driver sweep 1,433 s — the plausible cause of the
    * empty CORRECTNESS_r18.json — while the unrolled+materialized
    * one runs in ~2 s; (2) DuckDB 1.0 MISEXECUTES the recursive
    * pattern over materialized inputs (run-to-run nondeterministic
    * picks), so it cannot share a sweep with [[matCtes]]. Step t
    * mirrors the engine fold exactly: drop picked candidates
    * (anti-join), per-candidate max-sim against the picked prefix,
    * argmax of 0.7·rel − 0.3·msim under the (score DESC, id ASC)
    * total order. A query with fewer than [[MmrPickK]] candidates
    * runs dry (its mrem goes empty, no row picked) — the same cap
    * [[mmrSelect]]'s least()-bounded fold applies. */
  private def mmrOracleTailSql(vecCte: String,
      candCte: String = "cand"): String = {
    val sb = new StringBuilder
    sb.append(s"""csim AS (SELECT c1.qid, c1.id_b AS id_x, c2.id_b AS id_y,
            $dotSql / (a.nrm * b.nrm) AS sim
          FROM $candCte c1 JOIN $candCte c2
            ON c1.qid = c2.qid AND c1.id_b <> c2.id_b
          JOIN $vecCte a ON a.vec_id = c1.id_b
          JOIN $vecCte b ON b.vec_id = c2.id_b),
        mpick1 AS (SELECT qid, CAST(1 AS BIGINT) AS rank, id_b AS sel_id
          FROM (SELECT qid, id_b, ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY CAST(0.7 AS DOUBLE) * cos_q DESC, id_b) AS rn
            FROM $candCte) WHERE rn = 1),
        macc1 AS (SELECT * FROM mpick1)""")
    for (t <- 2 to MmrPickK) {
      val p = t - 1
      sb.append(s""",
        mrem$t AS (SELECT c.qid, c.id_b, c.cos_q
          FROM $candCte c LEFT JOIN macc$p pk
            ON pk.qid = c.qid AND pk.sel_id = c.id_b
          WHERE pk.qid IS NULL),
        mms$t AS (SELECT c.qid, c.id_b, MAX(cs.sim) AS msim
          FROM mrem$t c
          JOIN macc$p pk ON pk.qid = c.qid
          JOIN csim cs ON cs.qid = c.qid AND cs.id_x = c.id_b
            AND cs.id_y = pk.sel_id
          GROUP BY c.qid, c.id_b),
        mpick$t AS (SELECT qid, CAST($t AS BIGINT) AS rank,
            id_b AS sel_id
          FROM (SELECT c.qid, c.id_b, ROW_NUMBER() OVER (
              PARTITION BY c.qid ORDER BY
                CAST(0.7 AS DOUBLE) * c.cos_q
                  - CAST(0.3 AS DOUBLE) * COALESCE(m.msim,
                      CAST(0.0 AS DOUBLE)) DESC, c.id_b) AS rn
            FROM mrem$t c LEFT JOIN mms$t m
              ON m.qid = c.qid AND m.id_b = c.id_b)
          WHERE rn = 1),
        macc$t AS (SELECT * FROM macc$p
          UNION ALL SELECT * FROM mpick$t)""")
    }
    sb.append(s""",
        prior_sim AS (SELECT a.qid, a.rank, MAX(cs.sim) AS msim
          FROM macc$MmrPickK a JOIN macc$MmrPickK b
            ON b.qid = a.qid AND b.rank < a.rank
          JOIN csim cs ON cs.qid = a.qid AND cs.id_x = a.sel_id
            AND cs.id_y = b.sel_id
          GROUP BY a.qid, a.rank)
        SELECT pk.qid, pk.rank, pk.sel_id, c.cos_q AS relevance,
          CAST(0.7 AS DOUBLE) * c.cos_q
            - CAST(0.3 AS DOUBLE) * COALESCE(ps.msim, CAST(0.0 AS DOUBLE))
            AS mmr_score
        FROM macc$MmrPickK pk
        JOIN $candCte c ON c.qid = pk.qid AND c.id_b = pk.sel_id
        LEFT JOIN prior_sim ps ON ps.qid = pk.qid AND ps.rank = pk.rank
        ORDER BY pk.qid, pk.rank""")
    sb.toString
  }

  /** The E[[[MmrSampleE]]] md5-Bernoulli gate over odd (query-side)
    * vec_ids — s28's batch workload and st23's stream share it, so
    * the two serve the same queries and one oracle gates both. */
  private[graft] def mmrQueryGate(s: SparkSession, d: String): Column = {
    val thresh = (MmrSampleE * 4294967296L - 1L) /
      math.max(1L, corpusOddCount(s, d)) + 1L
    (col("vec_id") % 2 === 1) &&
      (conv(substring(md5(concat(lit("mmr:"),
        col("vec_id").cast("string"))), 1, 8), 16, 10).cast("long") <
        lit(thresh))
  }

  /** One batch of MMR queries (q_id, av) against a built/loaded
    * index — s28's whole-sample batch AND the st23 streaming entry:
    * candidates from [[servePqRanked]] (top-[[MmrCandidates]] exact
    * rerank), cosine relevance recomputed from the source vectors on
    * the 16-row candidate frame, then the SHARED greedy fold.
    * Per-query answers are independent of batch slicing (the index,
    * corpus vectors, and the fold read nothing across queries), so
    * the union of micro-batches equals the batch serve and one SQL
    * gates both. */
  private[graft] def mmrServeBatch(s: SparkSession, d: String,
      qs: DataFrame, idx: PqIndex): DataFrame = {
    val e = vecs(s, d)
    val cv = e.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("c_id"), col("v").as("bv"))
    val cand = servePqRanked(s, qs, cv, idx, identity, MmrCandidates)
      .join(e.select(col("vec_id").as("c_id"), col("v").as("bv"),
        col("nrm").as("nrm_b")), "c_id")
      .join(e.select(col("vec_id").as("q_id"), col("v").as("av"),
        col("nrm").as("nrm_a")), "q_id")
      .select(col("q_id").as("qid"), col("r"),
        col("c_id").as("id_b"),
        (expr(dotExpr) / (col("nrm_a") * col("nrm_b"))).as("cos_q"),
        col("bv"), col("nrm_b"))
    mmrSelect(mmrPack(cand))
  }

  /** s28's twin: the full deterministic IVF-PQ chain supplies the
    * candidate tier — each sampled query's top-[[MmrCandidates]]
    * exact-reranked shortlist candidates from `rer`, with cosine
    * relevance recomputed from the source vectors — composed with
    * the SAME MMR tail as s15. Filtering `rer` to the sampled
    * queries before the rank is answer-identical to serving only
    * those queries (per-query answers are independent), which is
    * what the engine does. */
  private[graft] def mmrIndexedOracleSql: String =
    matCtes(s"""WITH ${pqChainCtes(filtered = false)},
        mnq AS (SELECT COUNT(*) AS n FROM qs),
        mq AS (SELECT q_id FROM qs
          WHERE ('0x' || substr(md5('mmr:' || q_id), 1, 8))::BIGINT
                < ${MmrSampleE * 4294967296L - 1L}
                  // (SELECT n FROM mnq) + 1),
        mcand AS (SELECT rr.q_id AS qid, rr.c_id AS id_b,
            $dotSql / (a.nrm * b.nrm) AS cos_q
          FROM (SELECT r.q_id, r.c_id, ROW_NUMBER() OVER (
                  PARTITION BY r.q_id ORDER BY r.l2sq, r.c_id) AS rk
                FROM rer r JOIN mq ON mq.q_id = r.q_id) rr
          JOIN e0 a ON a.vec_id = rr.q_id
          JOIN e0 b ON b.vec_id = rr.c_id
          WHERE rr.rk <= $MmrCandidates),
        ${mmrOracleTailSql("e0", "mcand")}""")

  // ----------------------------------------------------------------
  // One Lloyd (k-means) round from the 8 lowest-id seeds — s08's
  // trained coarse quantizer, SHARED with p05's cluster-balanced
  // sample (the r17 VERDICT item 3: p05's "swap in s08's
  // Lloyd-trained centroids" comment is now this call).

  /** Cosine-affinity hard assignment of every vector in `e`
    * (vec_id, v, nrm) to its nearest centroid in `cents`
    * (cid, c: array<double>, cnrm): broadcast affinity + per-vector
    * argmax under the (cs DESC, cid) total order. */
  private[graft] def lloydAssign(e: DataFrame,
      cents: DataFrame): DataFrame = {
    val aff = e.crossJoin(broadcast(cents))
      .withColumn("cs", expr(
        """aggregate(zip_with(v, c, (x, w) -> x * w),
           cast(0.0 as double), (acc, x) -> acc + x)""")
        / (col("nrm") * col("cnrm")))
    topKPerKey(aff, Seq(col("vec_id")), Seq(col("cs").desc, col("cid")), 1,
        "rn")
      .select(col("vec_id"), col("cid"), col("cs"))
  }

  /** ONE Lloyd refinement of the 8 lowest-id seed vectors over `e` →
    * trained centroids (cid, c, cnrm). The update's per-dimension
    * means are quantized with an EXPLICIT floor(x·1e10 + 0.5) (s06's
    * trick) instead of a DECIMAL cast: engines' decimal rounding
    * modes disagree exactly when a float's terminating binary
    * expansion lands on a half-quantum boundary, while floor+IEEE
    * multiply are bit-identical everywhere. BIGINT sums are exact
    * and associative → safe under partial aggregation — which is
    * what lets an ITERATIVE float algorithm be hash-checked at all
    * (any ulp drift would flip argmax assignments). */
  private[graft] def lloydCentroids(e: DataFrame): DataFrame = {
    // init: the 8 lowest-id vectors (cast to double once, so both
    // rounds use the same lloydAssign)
    val cent0 = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"),
        expr("transform(v, x -> cast(x as double))").as("c"),
        col("nrm").as("cnrm"))
    lloydAssign(e, cent0).join(e, "vec_id")
      .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("cid"), col("dim"))
      .agg((sum(expr(
        "cast(floor(cast(x as double) * 1e10 + 0.5d) as bigint)"))
        .cast("double") / lit(1e10) / count(lit(1))).as("cval"))
      .groupBy(col("cid"))
      .agg(expr(
        """transform(sort_array(collect_list(struct(dim, cval))),
           t -> t.cval)""").as("c"))
      .withColumn("cnrm", expr(
        """sqrt(aggregate(transform(c, x -> x * x),
           cast(0.0 as double), (acc, x) -> acc + x))"""))
  }

  /** The Lloyd chain as composable oracle CTEs (cent0 → asg0 → dims
    * → cent1) over a vector CTE `vecCte` (vec_id, v, nrm) —
    * CTE-for-CTE with [[lloydCentroids]]; s08 and p05 share it so
    * the trained geometry cannot drift between the two twins. */
  private[graft] def lloydCtesSql(vecCte: String): String =
    s"""cent0 AS (SELECT vec_id AS cid, v AS c, nrm AS cnrm
             FROM $vecCte WHERE vec_id < 8),
        asg0 AS (SELECT vec_id, cid FROM (
            SELECT e.vec_id, c0.cid,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                list_sum(list_transform(list_zip(e.v, c0.c), t -> t[1] * t[2]))
                  / (e.nrm * c0.cnrm) DESC, c0.cid) AS rn
            FROM $vecCte e, cent0 c0)
          WHERE rn = 1),
        dims AS (SELECT a.cid, dd,
            CAST(CAST(SUM(CAST(floor(e.v[dd + 1] * 1e10 + 0.5) AS BIGINT))
              AS BIGINT) AS DOUBLE) / 1e10 / COUNT(*) AS cval
          FROM asg0 a JOIN $vecCte e ON e.vec_id = a.vec_id,
            UNNEST(generate_series(0, ${VecDim - 1})) AS t(dd)
          GROUP BY a.cid, dd),
        cent1 AS (SELECT cid, list(cval ORDER BY dd) AS c,
            sqrt(list_sum(list_transform(list(cval ORDER BY dd),
              x -> x * x))) AS cnrm
          FROM dims GROUP BY cid)"""

  // a DEF, not a val: the oracle SQL twins resolve session conf
  // overrides (lshHyperplanes/lshTables) at materialization time, so
  // the map must rebuild per access, not freeze at class load
  def queries: Seq[QueryDef] = Seq(

    // ----- s01: brute-force cosine top-3 neighbors per vector.
    // VERIFICATION TIER: O(n²·dim) cartesian product — the exactness
    // baseline the bucketed paths (s02/s04) are judged against, never
    // the plan to run at scale. Headline slot belongs to s02.
    QueryDef(
      "s01_cosine_topk",
      (s, d) => {
        val e = vecs(s, d)
        val pairs = e.select(col("vec_id").as("id_a"), col("v").as("av"),
            col("nrm").as("nrm_a"))
          .crossJoin(e.select(col("vec_id").as("id_b"), col("v").as("bv"),
            col("nrm").as("nrm_b")))
          .filter(col("id_a") =!= col("id_b"))
          .withColumn("cos_sim", expr(dotExpr) / (col("nrm_a") * col("nrm_b")))
        topKPerKey(pairs, Seq(col("id_a")),
            Seq(col("cos_sim").desc, col("id_b")), 3, "rank")
          .select(col("id_a"), col("rank"), col("id_b"), col("cos_sim"))
          .orderBy(col("id_a"), col("rank"))
      },
      Some(s"""WITH e AS ($vecsSql),
        pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                    $dotSql / (a.nrm * b.nrm) AS cos_sim
                  FROM e a JOIN e b ON a.vec_id <> b.vec_id)
        SELECT id_a, rank, id_b, cos_sim FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a
            ORDER BY cos_sim DESC, id_b) AS rank FROM pairs)
        WHERE rank <= 3 ORDER BY id_a, rank""")),

    // ----- s02: LSH-bucketed nearest neighbor (the scale path; the
    // headline ANN query). LshHyperplanes md5-derived hyperplanes →
    // 2^H-bucket space; MULTI-PROBE: each query probes its own bucket
    // plus the H hamming-1 buckets (one flipped hyperplane sign), so
    // vectors alone in their bucket still find neighbors — recall
    // recovery at (H+1)× probe rows on the query side only. The
    // candidate join still shuffles on the bucket key (never
    // all-pairs); probe keys are distinct by construction so no
    // candidate dedup is needed.
    QueryDef(
      "s02_cosine_lsh_bucketed",
      (s, d) => {
        val e = vecs(s, d).withColumn("bucket", expr(bucketExpr))
        // probe set = own bucket + H one-bit flips (all distinct keys)
        val probed = e.select(col("vec_id").as("id_a"), col("v").as("av"),
            col("nrm").as("nrm_a"), col("bucket"))
          .withColumn("probe", explode(expr(probeExpr(lshHyperplanes(s, d)))))
        val pairs = probed
          .join(e.select(col("vec_id").as("id_b"), col("v").as("bv"),
            col("nrm").as("nrm_b"), col("bucket").as("bucket_b")),
            col("probe") === col("bucket_b"))
          .filter(col("id_a") =!= col("id_b"))
          .withColumn("cos_sim", expr(dotExpr) / (col("nrm_a") * col("nrm_b")))
        topKPerKey(pairs, Seq(col("id_a")),
            Seq(col("cos_sim").desc, col("id_b")), 1, "rank")
          .select(col("id_a"), col("bucket"), col("id_b"), col("cos_sim"))
          .orderBy(col("id_a"))
      },
      Some(s"""WITH e0 AS ($vecsSql),
        ${bucketedSqlCtes()},
        pairs AS (SELECT a.vec_id AS id_a, a.bucket, b.vec_id AS id_b,
                    $dotSql / (a.nrm * b.nrm) AS cos_sim
                  FROM probed a JOIN e b
                    ON a.probe = b.bucket AND a.vec_id <> b.vec_id)
        SELECT id_a, bucket, id_b, cos_sim FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a
            ORDER BY cos_sim DESC, id_b) AS rank FROM pairs)
        WHERE rank = 1 ORDER BY id_a"""),
      headline = true),

    // ----- s03: embedding-cosine near-dup pairs (the "semantic dedup"
    // tier of a training-data pipeline). Threshold 0.4 on this corpus
    // (max observed pair ≈ 0.51; nothing sits near the cut).
    // VERIFICATION TIER: all-pairs scan is the exactness baseline the
    // bucketed scale path (s05) is measured against.
    QueryDef(
      "s03_embedding_neardup",
      (s, d) => {
        val e = vecs(s, d)
        e.select(col("vec_id").as("id_a"), col("v").as("av"),
            col("nrm").as("nrm_a"))
          .crossJoin(e.select(col("vec_id").as("id_b"), col("v").as("bv"),
            col("nrm").as("nrm_b")))
          .filter(col("id_a") < col("id_b"))
          .withColumn("cos_sim", expr(dotExpr) / (col("nrm_a") * col("nrm_b")))
          .filter(col("cos_sim") >= 0.4)
          .select(col("id_a"), col("id_b"), col("cos_sim"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH e AS ($vecsSql)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          $dotSql / (a.nrm * b.nrm) AS cos_sim
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE $dotSql / (a.nrm * b.nrm) >= 0.4
        ORDER BY id_a, id_b""")),

    // ----- s04: IVF-style ANN — the other scale path besides LSH.
    // "Training-free" coarse quantizer: the 8 lowest-id vectors act as
    // centroids; every vector is assigned to its nearest centroid
    // (inverted lists), each query probes its 2 nearest centroids and
    // scores only those lists. At 10⁹ vectors the assigned lists are
    // bucketed storage and the probe join shuffles on centroid id —
    // candidate scoring is |lists probed| not O(n).
    QueryDef(
      "s04_ivf_ann",
      (s, d) => {
        val e = vecs(s, d)
        val cents = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("v").as("cv"),
            col("nrm").as("cnrm"))
        val affinity = e.crossJoin(broadcast(cents))
          .withColumn("cs",
            expr("vec_dot(v, cv)") / (col("nrm") * col("cnrm")))
        def nearest(k: Int) = topKPerKey(affinity, Seq(col("vec_id")),
          Seq(col("cs").desc, col("cid")), k, "rn")
        val assigned = nearest(1)
          .select(col("vec_id").as("cand_id"), col("cid").as("assigned_cid"))
        val probes = nearest(2)
          .select(col("vec_id").as("q_id"), col("cid").as("probe_cid"))
        val cand = probes
          .join(assigned, col("probe_cid") === col("assigned_cid"))
          .filter(col("q_id") =!= col("cand_id"))
          .select(col("q_id"), col("cand_id")).distinct()
        val scored = cand
          .join(e.select(col("vec_id").as("q_id"), col("v").as("av"),
            col("nrm").as("nrm_a")), "q_id")
          .join(e.select(col("vec_id").as("cand_id"), col("v").as("bv"),
            col("nrm").as("nrm_b")), "cand_id")
          .withColumn("cos_sim", expr(dotExpr) / (col("nrm_a") * col("nrm_b")))
        topKPerKey(scored, Seq(col("q_id")),
            Seq(col("cos_sim").desc, col("cand_id")), 1, "rank")
          .select(col("q_id"), col("cand_id").as("nn_id"), col("cos_sim"))
          .orderBy(col("q_id"))
      },
      Some(s"""WITH e AS ($vecsSql),
        cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM e
                 WHERE vec_id < 8),
        affinity AS (SELECT e.vec_id, cent.cid,
            list_sum(list_transform(list_zip(e.v, cent.cv), t -> t[1] * t[2]))
              / (e.nrm * cent.cnrm) AS cs
          FROM e, cent),
        ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY cs DESC, cid) AS rn FROM affinity),
        assigned AS (SELECT vec_id AS cand_id, cid AS assigned_cid
                     FROM ranked WHERE rn = 1),
        probes AS (SELECT vec_id AS q_id, cid AS probe_cid
                   FROM ranked WHERE rn <= 2),
        cand AS (SELECT DISTINCT q_id, cand_id
                 FROM probes JOIN assigned ON probe_cid = assigned_cid
                 WHERE q_id <> cand_id),
        scored AS (SELECT c.q_id, c.cand_id,
            list_sum(list_transform(list_zip(qa.v, qb.v), t -> t[1] * t[2]))
              / (qa.nrm * qb.nrm) AS cos_sim
          FROM cand c
          JOIN e qa ON qa.vec_id = c.q_id
          JOIN e qb ON qb.vec_id = c.cand_id)
        SELECT q_id, cand_id AS nn_id, cos_sim FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY cos_sim DESC, cand_id) AS rank FROM scored)
        WHERE rank = 1 ORDER BY q_id""")),

    // ----- s05: near-dup pairs through the BUCKETED scale path — the
    // scale-tier twin of s03 (which stays the exact all-pairs
    // baseline). Same multi-probe bucket join as s02, then the cosine
    // threshold over DISTINCT candidate pairs only; the oracle mirrors
    // the probe-set semantics exactly, so this is hash-checked, not
    // recall-waved-away. On this corpus the "near dups" sit at a weak
    // cos ≈ 0.4–0.5 where single-table 8-plane LSH recall is ~10% of
    // s03's pairs — honest and measured (NearDupRecallSpec); at real
    // dedup thresholds (≥ 0.8) sign-agreement per plane → recall
    // climbs steeply, and production would amplify with multiple
    // independent hash tables (union of per-table candidate sets, same
    // join shape per table).
    QueryDef(
      "s05_neardup_lsh_bucketed",
      (s, d) => bucketedNearDupPairs(s, d)
        .select(col("id_a"), col("id_b"), col("cos_sim"))
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH e0 AS ($vecsSql),
        ${bucketedSqlCtes()},
        cand AS (SELECT DISTINCT p.vec_id AS id_a, b.vec_id AS id_b
                 FROM probed p JOIN e b
                   ON p.probe = b.bucket AND p.vec_id < b.vec_id)
        SELECT c.id_a, c.id_b, $dotSql / (a.nrm * b.nrm) AS cos_sim
        FROM cand c
        JOIN e a ON a.vec_id = c.id_a
        JOIN e b ON b.vec_id = c.id_b
        WHERE $dotSql / (a.nrm * b.nrm) >= 0.4
        ORDER BY c.id_a, c.id_b""")),

    // ----- s10: MULTI-TABLE LSH amplification — the production recall
    // fix for s05's weak similarity band: r INDEPENDENT hyperplane
    // families, each with s05's own multi-probe, OR-ed together. One
    // table (the base family) reproduces s05 exactly; every further
    // table lifts per-pair recall as 1 − (1 − p_probe)^r at r× the
    // (linear) bucketing cost. Candidates come from ONE probe-vs-
    // bucket join keyed (table, bucket) — shuffle-bounded, never O(n²)
    // — and exact cosine is applied to candidates only, so output is a
    // strict subset of exact s03 and a superset of s05
    // (NearDupRecallSpec measures the recall climb). Table count is
    // the `spark.graft.lshTables` runtime conf.
    QueryDef(
      "s10_neardup_multitable",
      (s, d) => {
        val h = lshHyperplanes(s, d)
        val r = lshTables(s)
        (0 until r).foreach(t => graft.functions.VectorFunctions
          .registerLshBucketAs(s, s"vec_lsh_bucket_t$t", tableWeights(t, h)))
        val e = vecs(s, d)
        val bucketCols = (0 until r).map(t =>
          expr(s"vec_lsh_bucket_t$t(v)").as(s"bk$t"))
        val eb = e.select(col("vec_id") +: bucketCols: _*)
        // probe side: per table, own bucket + every 1-bit flip
        val probeKeys = (0 until r).map(t =>
          s"""transform(
                concat(array(bk$t), transform(sequence(0, ${h - 1}),
                  p -> bk$t ^ shiftleft(cast(1 as bigint), p))),
                b -> named_struct('t', $t, 'b', b))""")
          .mkString("concat(", ", ", ")")
        val probes = eb.select(col("vec_id").as("id_a"),
          explode(expr(probeKeys)).as("k"))
        val builds = eb.select(col("vec_id").as("id_b"),
          explode(expr((0 until r).map(t =>
            s"named_struct('t', $t, 'b', bk$t)")
            .mkString("array(", ", ", ")"))).as("k"))
        val cand = probes
          .join(builds,
            probes("k") === builds("k") && col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"))
          .distinct()
        val v2 = vecs(s, d)
        cand
          .join(v2.select(col("vec_id").as("id_a"), col("v").as("av"),
            col("nrm").as("nrm_a")), "id_a")
          .join(v2.select(col("vec_id").as("id_b"), col("v").as("bv"),
            col("nrm").as("nrm_b")), "id_b")
          .withColumn("cos_sim", expr(dotExpr) / (col("nrm_a") * col("nrm_b")))
          .filter(col("cos_sim") >= 0.4)
          .select(col("id_a"), col("id_b"), col("cos_sim"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(multiTableSql())),

    // ----- d09: SEMANTIC dedup — the embedding-space twin of the
    // lexical d07/d08: connected components over the VERIFIED
    // embedding near-dup graph (s05's bucketed candidate pairs, exact
    // cosine ≥ 0.4), each vector labeled with its cluster and whether
    // it is the kept representative (min vec_id = the converged
    // label). This is the dedup that catches paraphrases lexical
    // shingles miss. Scale shape = s05's bounded bucket join for the
    // edges + d07's one-shuffle-per-round min-label propagation with
    // per-round lineage truncation; the driver loop reads only a
    // scalar changed-count. Oracle: the same fixpoint as a recursive
    // reachability CTE over the probe-mirrored pair set.
    QueryDef(
      "d09_semantic_dedup",
      (s, d) => {
        val pairs = bucketedNearDupPairs(s, d)
          .select(col("id_a"), col("id_b"))
        val edges = pairs
          .select(col("id_a").as("src"), col("id_b").as("dst"))
          .union(pairs
            .select(col("id_b").as("src"), col("id_a").as("dst")))
          .cache()
        val nodes = vecs(s, d).select(col("vec_id").as("doc_id"))
        val labels = Dedup.propagateLabels(nodes, edges)._1
        edges.unpersist()
        labels
          .select(col("doc_id").as("vec_id"), col("cluster_id"),
            (col("doc_id") === col("cluster_id")).as("kept"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH RECURSIVE e0 AS ($vecsSql),
        ${bucketedSqlCtes()},
        cand AS (SELECT DISTINCT p.vec_id AS id_a, b.vec_id AS id_b
                 FROM probed p JOIN e b
                   ON p.probe = b.bucket AND p.vec_id < b.vec_id),
        pairs AS (SELECT c.id_a, c.id_b
          FROM cand c
          JOIN e a ON a.vec_id = c.id_a
          JOIN e b ON b.vec_id = c.id_b
          WHERE $dotSql / (a.nrm * b.nrm) >= 0.4),
        edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION ALL
                  SELECT id_b, id_a FROM pairs),
        reach(src, dst) AS (
          SELECT vec_id, vec_id FROM e0
          UNION
          SELECT r.src, ed.dst FROM reach r JOIN edges ed ON r.dst = ed.src),
        lbl AS (SELECT src AS vec_id, MIN(dst) AS cluster_id
                FROM reach GROUP BY src)
        SELECT vec_id, cluster_id, vec_id = cluster_id AS kept
        FROM lbl ORDER BY vec_id""")),

    // ----- d13: SemDeDup — CLUSTER-GATED semantic dedup (Abbas et
    // al. 2023, arXiv:2303.09540, public): k-means-cluster the
    // corpus, compare pairs only WITHIN a cluster, and of each
    // cosine-≥-ε pair drop the member NEARER its cluster centroid —
    // the anti-prototype keep rule (far-from-centroid examples carry
    // the cluster's diversity; the near-centroid one is the
    // redundant prototype). Differs from d09 on both axes: the gate
    // is a trained partition (occupancy-64 k-means cells via the
    // shared [[twoLevelTrain]]/[[routeToCells]] backbone — sampled
    // training, O(√k) routing) rather than an LSH family, and the
    // keep rule selects for diversity rather than min-id. The
    // accepted approximation is the paper's: a dup pair split across
    // cluster boundaries is missed (SemDedupSpec quantifies pair
    // recall vs s03's exact pairs and proves the drop rule exact on
    // the co-clustered ones).
    // Scale: pair work is bounded by occupancy² per cell (64² at the
    // adaptive k), linear in n; training O(k^1.5) on the sample;
    // routing (1+w)·√k per vector — the d13 twin of s12's serving
    // math, reused verbatim.
    QueryDef(
      "d13_semdedup",
      (s, d) => {
        val e = vecs(s, d)
        val corpus = e.select(col("vec_id").as("c_id"),
          col("v").as("bv"), col("nrm"))
        val n = corpusCount(s, d)
        val k = adaptiveIvfCells(n)
        val (scCent, cellCent) =
          twoLevelTrain(corpus.select(col("c_id"), col("bv")),
            "d13s:", n, k)
        // cached: the routed assignment feeds BOTH self-join sides
        // and the final projection — uncached, the whole training +
        // routing chain would re-evaluate three times (d10/d11's
        // in-query cache discipline)
        val asgn = routeToCells(corpus, "c_id", "bv",
          scCent, cellCent, ivfSuperProbe(s), 1).cache()
        val sides = asgn.join(corpus, "c_id")
        val aSide = sides.select(col("c_id").as("id_a"), col("cid"),
          col("cd").as("cd_a"), col("bv").as("av"),
          col("nrm").as("nrm_a"))
        val bSide = sides.select(col("c_id").as("id_b"), col("cid"),
          col("cd").as("cd_b"), col("bv"), col("nrm").as("nrm_b"))
        val victims = aSide.join(bSide,
            aSide("cid") === bSide("cid") && col("id_a") < col("id_b"))
          .withColumn("cos_sim",
            expr("vec_dot(av, bv)") / (col("nrm_a") * col("nrm_b")))
          .filter(col("cos_sim") >= 0.4)
          // of each in-cluster dup pair the NEARER-to-centroid member
          // drops; exact-distance tie -> the smaller id drops
          .select(when(col("cd_a") < col("cd_b"), col("id_a"))
            .when(col("cd_b") < col("cd_a"), col("id_b"))
            .otherwise(col("id_a")).as("victim"))
          .distinct()
        asgn.join(victims, asgn("c_id") === victims("victim"), "left")
          .select(col("c_id").as("vec_id"), col("cid"),
            col("cd").as("cent_l2"), col("victim").isNull.as("kept"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH e0 AS ($vecsSql),
        nn AS (SELECT COUNT(*) AS n FROM e0),
        kk AS (SELECT LEAST(4096, GREATEST(8, n // 64)) AS k FROM nn),
        k1k AS (SELECT CAST(CEIL(SQRT(k)) AS BIGINT) AS k1 FROM kk),
        cpsk AS (SELECT ((SELECT k FROM kk) + k1 - 1) // k1 AS cps
                 FROM k1k),
        corpus AS (SELECT vec_id AS c_id, v AS bv, nrm FROM e0),
        samp AS (SELECT c_id, bv FROM corpus
          WHERE ('0x' || substr(md5('d13s:' || c_id), 1, 8))::BIGINT
                < (${IvfTrainPerCell * 4294967296L} * (SELECT k FROM kk)
                   - 1) // (SELECT n FROM nn) + 1),
        seeds1 AS (SELECT c_id AS scid, bv AS sc FROM (
            SELECT c_id, bv, ROW_NUMBER() OVER (ORDER BY c_id) AS rn
            FROM samp)
          WHERE rn <= (SELECT k1 FROM k1k)),
        asg1 AS (SELECT c_id, scid FROM (
            SELECT sa.c_id, s1.scid,
              ROW_NUMBER() OVER (PARTITION BY sa.c_id ORDER BY
                list_sum(list_transform(list_zip(sa.bv, s1.sc),
                  z -> (z[1] - z[2]) * (z[1] - z[2]))) ASC, s1.scid) AS rn
            FROM samp sa, seeds1 s1)
          WHERE rn = 1),
        scdims AS (SELECT a.scid, t.dd,
            CAST(CAST(SUM(CAST(floor(sa.bv[t.dd + 1] * 1e10 + 0.5)
              AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e10 / COUNT(*) AS cval
          FROM asg1 a JOIN samp sa USING (c_id),
            UNNEST(generate_series(0, ${VecDim - 1})) AS t(dd)
          GROUP BY a.scid, t.dd),
        sccent AS (SELECT scid, list(cval ORDER BY dd) AS sc
                   FROM scdims GROUP BY scid),
        asg2 AS (SELECT c_id, scid FROM (
            SELECT sa.c_id, s1.scid,
              ROW_NUMBER() OVER (PARTITION BY sa.c_id ORDER BY
                list_sum(list_transform(list_zip(sa.bv, s1.sc),
                  z -> (z[1] - z[2]) * (z[1] - z[2]))) ASC, s1.scid) AS rn
            FROM samp sa, sccent s1)
          WHERE rn = 1),
        subseeds AS (SELECT a.c_id AS cid, a.scid, sa.bv AS cseed
          FROM (SELECT c_id, scid, ROW_NUMBER() OVER (
                  PARTITION BY scid ORDER BY c_id) AS rn FROM asg2) a
          JOIN samp sa ON sa.c_id = a.c_id
          WHERE a.rn <= (SELECT cps FROM cpsk)),
        asg3 AS (SELECT c_id, cid, scid FROM (
            SELECT a.c_id, ss.cid, a.scid,
              ROW_NUMBER() OVER (PARTITION BY a.c_id ORDER BY
                list_sum(list_transform(list_zip(sa.bv, ss.cseed),
                  z -> (z[1] - z[2]) * (z[1] - z[2]))) ASC, ss.cid) AS rn
            FROM asg2 a
            JOIN samp sa ON sa.c_id = a.c_id
            JOIN subseeds ss ON ss.scid = a.scid)
          WHERE rn = 1),
        celldims AS (SELECT a.cid, a.scid, t.dd,
            CAST(CAST(SUM(CAST(floor(sa.bv[t.dd + 1] * 1e10 + 0.5)
              AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e10 / COUNT(*) AS cval
          FROM asg3 a JOIN samp sa USING (c_id),
            UNNEST(generate_series(0, ${VecDim - 1})) AS t(dd)
          GROUP BY a.cid, a.scid, t.dd),
        cellcent AS (SELECT cid, scid, list(cval ORDER BY dd) AS c
                     FROM celldims GROUP BY cid, scid),
        corpsc AS (SELECT c_id, bv, scid FROM (
            SELECT cr.c_id, cr.bv, s1.scid,
              ROW_NUMBER() OVER (PARTITION BY cr.c_id ORDER BY
                list_sum(list_transform(list_zip(cr.bv, s1.sc),
                  z -> (z[1] - z[2]) * (z[1] - z[2]))) ASC, s1.scid) AS rn
            FROM corpus cr, sccent s1)
          WHERE rn <= ${IvfSuperProbe}),
        asgn AS MATERIALIZED (SELECT c_id, cid, cd FROM (
            SELECT cs.c_id, cc.cid,
              list_sum(list_transform(list_zip(cs.bv, cc.c),
                z -> (z[1] - z[2]) * (z[1] - z[2]))) AS cd,
              ROW_NUMBER() OVER (PARTITION BY cs.c_id ORDER BY
                list_sum(list_transform(list_zip(cs.bv, cc.c),
                  z -> (z[1] - z[2]) * (z[1] - z[2]))) ASC, cc.cid) AS rn
            FROM corpsc cs JOIN cellcent cc USING (scid))
          WHERE rn = 1),
        pairs AS (SELECT * FROM (
            SELECT a.c_id AS id_a, b.c_id AS id_b,
              a.cd AS cd_a, b.cd AS cd_b,
              list_sum(list_transform(list_zip(ea.v, eb.v),
                t -> t[1] * t[2])) / (ea.nrm * eb.nrm) AS cos_sim
            FROM asgn a JOIN asgn b
              ON a.cid = b.cid AND a.c_id < b.c_id
            JOIN e0 ea ON ea.vec_id = a.c_id
            JOIN e0 eb ON eb.vec_id = b.c_id)
          WHERE cos_sim >= 0.4),
        victims AS (SELECT DISTINCT
            CASE WHEN cd_a < cd_b THEN id_a
                 WHEN cd_b < cd_a THEN id_b
                 ELSE id_a END AS victim
          FROM pairs)
        SELECT a.c_id AS vec_id, a.cid, a.cd AS cent_l2,
          v.victim IS NULL AS kept
        FROM asgn a LEFT JOIN victims v ON v.victim = a.c_id
        ORDER BY vec_id"""),
      headline = true),

    // ----- s11: QUERY-vs-CORPUS retrieval — the production serving
    // shape the self-join queries (s02/s05) stand in for: an INDEXED
    // corpus (even vec_ids, bucketed once) probed by a SEPARATE query
    // workload (odd vec_ids) through the same multi-probe bucket join,
    // top-1 by exact cosine. At 100 TB the corpus side is bucketed
    // STORAGE (write-time partitioning on the bucket key) and queries
    // stream through it: per query, work = occupancy × (H+1) probes —
    // independent of corpus size. Queries whose probe set finds no
    // corpus row drop out (the honest miss; raise probes/tables for
    // coverage).
    QueryDef(
      "s11_corpus_retrieval",
      (s, d) => {
        val e = vecs(s, d).withColumn("bucket", expr(bucketExpr))
        val corpus = e.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id").as("c_id"), col("v").as("bv"),
            col("nrm").as("nrm_c"), col("bucket").as("bucket_c"))
        val qs = e.filter(col("vec_id") % 2 === 1)
          .select(col("vec_id").as("q_id"), col("v").as("av"),
            col("nrm").as("nrm_q"), col("bucket"))
          .withColumn("probe", explode(expr(probeExpr(lshHyperplanes(s, d)))))
        topKPerKey(qs.join(corpus, col("probe") === col("bucket_c"))
            .withColumn("cos_sim",
              expr(dotExpr) / (col("nrm_q") * col("nrm_c"))),
            Seq(col("q_id")), Seq(col("cos_sim").desc, col("c_id")), 1, "r")
          .select(col("q_id"), col("c_id"), col("cos_sim"))
          .orderBy(col("q_id"))
      },
      Some(s"""WITH e0 AS ($vecsSql),
        ${bucketedSqlCtes()},
        cand AS (SELECT a.vec_id AS q_id, b.vec_id AS c_id,
            list_sum(list_transform(list_zip(a.v, b.v), t -> t[1] * t[2]))
              / (a.nrm * b.nrm) AS cos_sim
          FROM probed a JOIN e b ON a.probe = b.bucket
          WHERE a.vec_id % 2 = 1 AND b.vec_id % 2 = 0)
        SELECT q_id, c_id, cos_sim FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY cos_sim DESC, c_id) AS r FROM cand)
        WHERE r = 1 ORDER BY q_id""")),

    // ----- s12: IVF + PRODUCT QUANTIZATION + ADC + exact rerank —
    // the memory-side scale story the other ANN queries don't cover.
    // The serving shape is classic IVF-PQ; since r13 the coarse
    // quantizer is TWO-LEVEL and SAMPLE-TRAINED (the r12 flat design
    // measured 316 s clamped / 425 s unclamped at ×100 — quadratic in
    // either regime; both numbers retained in PLANS.md):
    //   index build: an adaptive-K coarse quantizer (K = occupancy-64
    //     cells, clamp [8, 4096]) trained on a bounded md5-Bernoulli
    //     SAMPLE (~16 vectors per cell in expectation): one Lloyd
    //     round derives K1 = ceil(√K) super-centroids from the K1
    //     lowest-id sample seeds, then ceil(K/K1) cells seed + train
    //     within each super-cell — training cost O(K^1.5) on the
    //     sample, never n·K over the corpus. Every corpus vector then
    //     routes through its IvfSuperProbe (3) nearest super-cells to
    //     its L2-nearest cell: (1+w)·√K distance evals per vector
    //     instead of the flat scan's K. Each corpus vector's RESIDUAL
    //     (bv − cell_centroid — since r14; the absolute-vector r13
    //     design could not rank within a dense cluster mode and
    //     collapsed to 0.368 end-to-end recall at ×100 clustered)
    //     compresses to M=4 sub-space codes against 64-entry
    //     codebooks (init: residual sub-vectors of the 64 lowest-id
    //     corpus vectors; one Lloyd round per sub-space over the
    //     corpus residuals — empty entries keep their init
    //     sub-vector, so codes stay DENSE in 0..63, the
    //     positional-LUT contract).
    //   query: route through the same super-cells to the nprobe
    //     (auto-calibrated — [[calibrateNprobe]]; floor 7, cap
    //     4·ceil(√k)) L2-nearest cells and score ONLY their members
    //     ASYMMETRICALLY — the residual distance DECOMPOSES as
    //     |q−(centroid+entry)|² = |q−centroid|² − 2·q·entry +
    //     (2·centroid·entry + |entry|²), i.e. the router's cd + one
    //     per-QUERY 256-entry LUT + one per-CELL 256-entry broadcast
    //     table; candidates carry 4 small ints and the scan never
    //     touches corpus floats. Cells grow
    //     with n at occupancy 64, so the candidate set stays
    //     ~nprobe·64 per query at ANY corpus size — what lets a
    //     10⁹-vector index serve from RAM at 100 TB. The ADC
    //     top-shortlist (auto-calibrated like nprobe, from the ADC
    //     rank each sampled true NN landed at; floor 96, otherwise
    //     UNCAPPED — observed ranks are already bounded by real
    //     candidate-set sizes, and the removed nprobe·64 formula cap
    //     only ever truncated; see [[pickShortlist]]) then rerank
    //     exactly at full precision.
    // Centroid/codebook joins broadcast (≤ 4096 cells + ceil(√K)
    // super-centroids + 4×64 codebook rows); the cell-membership join
    // shuffles on cid; the LUTs apply in one q_id-keyed join plus one
    // cid-keyed broadcast (the r12 four-join chain shuffled the
    // candidate set four times). All
    // argmins tie-break on id and all training means are
    // floor(x·1e10+0.5) BIGINT sums (exact + associative), so both
    // engines derive bit-identical centroids, codes, and candidates.
    // Measured recall@1 vs exact L2 on an ISOTROPIC test corpus — the
    // worst case for a partition gate — is asserted by
    // RecallDashboardSpec (≥ 0.85 floor); clustered real embeddings
    // recover more per probe.
    QueryDef(
      "s12_pq_adc",
      (s, d) => servePq(s, d, buildPqIndex(s, d)),
      Some(pqOracleSql),
      headline = true),

    // ----- s18: the PERSISTED IVF-PQ index — s12's build/serve split
    // at the deployment boundary. Build trains, encodes, and
    // CALIBRATES ONCE, then persists: centroids + codebook + the
    // (c_id, cid, code0..3) map (bucketed on cid — the serve-time
    // membership join reads the corpus side with NO exchange, the
    // w02/s13 pay-the-shuffle-at-write discipline) + the calibrated
    // dials as a META table. Serve routes queries against the SAVED
    // tables: no training, no calibration, no brute-force sample —
    // per-query cost is routing + nprobe·64 ADC lookups + the
    // shortlist rerank. This is the shape a 100 TB deployment runs
    // (nightly build, continuous serve); s12 keeps the inline
    // build+serve as the self-contained reference. The oracle is
    // s12's twin VERBATIM: the build chain is deterministic from the
    // source parquet, so serving from the saved index must answer
    // exactly what an inline rebuild answers — which doubles as the
    // staleness gate (doubles round-trip parquet bit-exactly; any
    // saved-vs-rebuilt drift would hash-mismatch).
    QueryDef(
      "s18_pq_persisted",
      (s, d) => {
        persistPqIndex(s, d, buildPqIndex(s, d))
        servePq(s, d, loadPqIndex(s))
      },
      Some(pqOracleSql)),

    // ----- s18 SERVE-ONLY: the steady-state deployment shape (nightly
    // build, continuous serve) as its own gated + BENCHED query. The
    // fn reuses an index already persisted FOR THIS CORPUS (table
    // location carries the corpus-dir fingerprint — an index persisted
    // for another dir is stale and rebuilt) and otherwise pays one
    // build; under Bench's min-of-N reps the rebuild lands in rep 1
    // and the min reports the pure serve wall — the 2.2 ms/query path
    // the docs tell deployers to run, previously guarded only by the
    // scale harness (r15 VERDICT "What's missing" #1). Oracle: s12's
    // twin verbatim — a deterministic build means serving from the
    // saved index answers exactly what an inline rebuild answers.
    QueryDef(
      "s18_pq_serve_only",
      (s, d) => servePq(s, d, ensurePqIndex(s, d)),
      Some(pqOracleSql),
      headline = true),

    // ----- s19: FILTERED ANN — metadata-scoped vector search (each
    // query retrieves only corpus vectors with ITS OWN label: the
    // tenant/language/licence scoping every production retrieval
    // layer needs). Composition over the unfiltered s18 index: the
    // candidate gate drops non-matching candidates BEFORE the
    // shortlist rank, so the calibrated depth buys eligible
    // candidates (see servePqFilteredByLabel for the full shape and
    // the attributes-in-the-index note for 100 TB). Oracle: the s12
    // twin with the same gate CTE — hash-exact like the rest of the
    // PQ family.
    QueryDef(
      "s19_filtered_ann",
      (s, d) => servePqFilteredByLabel(s, d, ensurePqIndex(s, d)),
      Some(pqFilteredOracleSql)),

    // ----- s20: HYBRID RETRIEVAL — reciprocal-rank fusion of a
    // lexical leg (t15's rational BM25 over the query doc's own
    // df-capped terms) and a vector leg (exact L2 over the query
    // doc's embedding), the two-tower shape RAG data curation and
    // retrieval evaluation actually run: lexical catches exact
    // terminology, vectors catch paraphrase, RRF (Cormack et al.:
    // score = Σ 1/(60+rank)) fuses without score calibration because
    // it only consumes RANKS. Determinism: BM25 contributions are
    // floor-quantized BIGINTs (t15's discipline), the L2 fold is the
    // bit-exact zip_with/list_zip pair, RRF terms are INTEGER
    // division 1e8//(60+rank) summed as BIGINTs — every comparison
    // that decides a rank is exact in both engines. Scale shape: the
    // query side is an E[32] md5-Bernoulli sample (broadcast
    // everywhere); the lexical leg moves only the postings of
    // query terms (broadcast semi-join prunes the scan) with the
    // df-cap bounding fan-out; the vector leg is the bounded
    // verification tier (|sample|·n, like the s12 calibration
    // referee) — s21 IS the deployment twin that serves that leg
    // from the persisted s18 index; the fusion frame is ≤ 20 rows
    // per query.
    QueryDef(
      "s20_hybrid_rrf",
      (s, d) => {
        val t = new Tables(s, d)
        val (docs, qdocs) = hybridDocsAndQueries(s, d)
        // lexical leg: postings of the sampled docs' distinct terms
        // only (df-capped at 100 — stopword-like terms are weak
        // retrieval evidence AND the join fan-out bound, the d03
        // shingleDfCap argument); shared with s21
        val lexTop = hybridLexTop(docs, qdocs)

        // vector leg: exact L2 of the sampled queries' embeddings
        // against the even corpus (doc_id == vec_id by construction)
        // — the bounded |sample|·n VERIFICATION tier; s21 is the
        // index-backed deployment leg
        val e = t.embeddings.select(col("vec_id"), col("embedding"))
        val qv = e.select(col("vec_id").as("q_id"),
            col("embedding").as("av"))
          .join(qdocs.select(col("q_id")), Seq("q_id"))
        val cv = e.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id").as("doc_id"), col("embedding").as("bv"))
        val l2 =
          """aggregate(zip_with(av, bv,
               (x, y) -> (cast(x as double) - cast(y as double))
                       * (cast(x as double) - cast(y as double))),
             cast(0.0 as double), (acc, x) -> acc + x)"""
        val vecTop = topKPerKey(cv.crossJoin(broadcast(qv))
            .withColumn("l2", expr(l2)),
            Seq(col("q_id")), Seq(col("l2"), col("doc_id")), 10, "rank")
          .select(col("q_id"), col("doc_id"), col("rank"))

        hybridFuse(lexTop, vecTop)
      },
      Some(hybridExactOracleSql)),

    // ----- s21: HYBRID RETRIEVAL OVER THE PERSISTED INDEX — s20's
    // promised deployment shape, shipped: the vector leg serves from
    // the s18 IVF-PQ index (route → decomposed ADC → calibrated
    // shortlist → exact top-10 rerank) instead of the |sample|·n
    // brute-force referee, so per-query vector cost is independent
    // of corpus size on clustered geometry (routing + ~nprobe·64 ADC
    // lookups + the rerank) and the query set no longer needs to be
    // sample-bounded. Lexical leg and integer-RRF fusion are s20's
    // verbatim (shared helpers). Oracle: the s12 twin's full
    // deterministic chain composed with the lexical CTEs — the
    // persisted index IS a deterministic rebuild (s18's staleness
    // contract), so the twin recomputes it from source and ranks the
    // top-10 exact-reranked shortlist candidates of each sampled
    // query. s20 stays gated as the exactness referee for the
    // vector leg.
    QueryDef(
      "s21_hybrid_indexed",
      (s, d) => hybridServeBatch(s, d,
        new Tables(s, d).documents.select(col("doc_id"), col("text")),
        ensurePqIndex(s, d), ensureLexIndex(s, d)),
      Some(hybridIndexedOracleSql)),

    // ----- s22: INCREMENTAL LEXICAL-INDEX MAINTENANCE — the nightly
    // delta discipline (s17 for the LSH index, d10 for the dedup
    // bands, now the postings tower): a base build over everything
    // but today's stripe, then the delta tokenizes ONLY ITSELF —
    // postings/lengths land as pure bucketed appends (base segments
    // byte-untouched), per-term document frequencies merge
    // additively, the corpus scalars add; work is O(|delta| +
    // |vocabulary|), never a corpus re-tokenization. The gate is the
    // strongest one available: the full hybrid serve from the
    // INCREMENTALLY-assembled index must hash-match the oracle that
    // recomputes everything from source — incremental ==
    // from-scratch, to the bit. A half-landed increment can never be
    // served: the base build marks the meta scope "partial" and only
    // the delta's landing flips it to "full" (ensureLexIndex treats
    // anything else as stale). Table-level equality + the
    // no-base-rewrite file pin live in IncrementalLexSpec.
    QueryDef(
      "s22_incremental_lex",
      (s, d) => {
        persistLexIndex(s, d, col("doc_id") % 5 =!= 0,
          scope = "partial")
        appendLexDelta(s, d, col("doc_id") % 5 === 0)
        hybridServeBatch(s, d,
          new Tables(s, d).documents.select(col("doc_id"), col("text")),
          ensurePqIndex(s, d), loadLexIndex(s))
      },
      Some(hybridIndexedOracleSql)),

    // ----- s23: LEXICAL-INDEX COMPACTION — the OPTIMIZE step that
    // closes the postings tower's maintenance loop (build s21, append
    // s22, now compact): after the nightly delta lands its small
    // bucketed files, compaction bin-packs every term-bucket back to
    // ONE file (bucketed scan forced → zero exchange) and swaps the
    // new generation in via the s17 drop+rename discipline with crash
    // recovery. Compaction is LAYOUT-ONLY, so the gate is the
    // strongest available: the full hybrid serve from the compacted
    // index must still hash-match the oracle that recomputes the
    // index from source — one more consumer of the s21 twin (build →
    // append → compact → serve, all gated by one SQL). File-count
    // collapse, byte-level data equality, the crash window, and the
    // generation bump that lets a serving stream cross the swap are
    // pinned in LexCompactionSpec.
    QueryDef(
      "s23_lex_compaction",
      (s, d) => {
        persistLexIndex(s, d, col("doc_id") % 5 =!= 0,
          scope = "partial")
        appendLexDelta(s, d, col("doc_id") % 5 === 0)
        compactLexIndex(s, d)
        hybridServeBatch(s, d,
          new Tables(s, d).documents.select(col("doc_id"), col("text")),
          ensurePqIndex(s, d), loadLexIndex(s))
      },
      Some(hybridIndexedOracleSql)),

    // ----- s24: INCREMENTAL PQ-CODES MAINTENANCE — the nightly delta
    // discipline for the vector tower's MAIN index (s17 gave it to
    // the LSH bucket index, s22 to the postings tower; the IVF-PQ
    // index was the one whose nightly job was still a full rebuild):
    // a base build trains, calibrates, and encodes everything but
    // today's vec_id%10==0 stripe; the delta then routes + PQ-encodes
    // against the FROZEN persisted quantizers and appends through the
    // codes table's bucket spec — O(|delta|·√k) work, no retraining,
    // no corpus re-pass, base segments untouched. Serving picks the
    // appended rows up as ordinary codes-table rows (the candidate
    // map IS the table), and the meta generation bump carries the
    // delta into running streams (PqIndexCache). The gate is the
    // TWO-PHASE twin: the oracle recomputes train+calibrate on the
    // base stripe and encode+serve over the whole corpus — the exact
    // function the append implements, hash-checked end to end (an
    // incremental index is NOT the from-scratch build, so its meta
    // scope flips to "incremental" and ensurePqIndex rebuilds for the
    // from-scratch-contract consumers). Mechanism pins (byte-level
    // append, scope guard, gen bump, mid-stream pickup) live in
    // IncrementalPqSpec.
    QueryDef(
      "s24_incremental_pq",
      (s, d) => {
        persistPqIndex(s, d,
          buildPqIndex(s, d, Some(col("vec_id") % 10 =!= 0)))
        appendPqDelta(s, d, col("vec_id") % 10 === 0)
        servePersisted(s, d)
      },
      Some(pqIncrementalOracleSql)),

    // ----- s25: HARD-NEGATIVE MINING — the contrastive-training data
    // op every retrieval/embedding trainer runs nightly: for each
    // query with a KNOWN positive (here the adjacent even vector,
    // q−1 — the stand-in for a click/label pair), retrieve the
    // index's top candidates, EXCLUDE the positive, and emit the
    // top-10 negatives with their exact distances, the margin to the
    // positive, and the `hard` bit (negative closer than the
    // positive — the examples that actually move a contrastive
    // loss). Composition, not a new index: the candidates are
    // servePqRanked's exact-reranked shortlist over the persisted
    // s18 index cut at 11 (the positive occupies at most one slot),
    // so per-query cost is the s18 serve cost; the positive distance
    // is ONE equi-self-join on vec_id (pairs are adjacent ids).
    // Exclusion-before-rank equals rank-then-exclude here because
    // the positive appears at most once — the twin filters `rer`
    // (all shortlisted candidates) then ranks, the engine cuts at 11
    // then drops the positive and re-ranks; identical top-10s.
    // Margin/hard are IEEE-exact: both engines subtract the same
    // zip_with-fold doubles.
    QueryDef(
      "s25_hard_negatives",
      (s, d) => {
        val idx = ensurePqIndex(s, d)
        val e = vecs(s, d)
        val qv = e.filter(col("vec_id") % 2 === 1)
          .select(col("vec_id").as("q_id"), col("v").as("av"))
        val cv = e.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id").as("c_id"), col("v").as("bv"))
        val l2 =
          """aggregate(zip_with(av, bv,
               (x, y) -> (cast(x as double) - cast(y as double))
                       * (cast(x as double) - cast(y as double))),
             cast(0.0 as double), (acc, x) -> acc + x)"""
        val pos = qv.join(
            e.select((col("vec_id") + lit(1L)).as("q_id"),
              col("v").as("bv")), "q_id")
          .select(col("q_id"), expr(l2).as("pos_l2sq"))
        topKPerKey(servePqRanked(s, qv, cv, idx, identity, 11)
            .filter(col("c_id") =!= col("q_id") - lit(1L)),
            Seq(col("q_id")), Seq(col("r")), 10, "neg_rank")
          .join(pos, "q_id")
          .select(col("q_id"), col("neg_rank"), col("c_id"),
            col("l2sq"),
            (col("l2sq") - col("pos_l2sq")).as("margin"),
            (col("l2sq") < col("pos_l2sq")).as("hard"))
          .orderBy(col("q_id"), col("neg_rank"))
      },
      Some(matCtes(s"""WITH ${pqChainCtes(filtered = false)},
        pos AS (SELECT a.vec_id AS q_id,
            list_sum(list_transform(list_zip(a.v, b.v),
              t -> (t[1] - t[2]) * (t[1] - t[2]))) AS pos_l2sq
          FROM e0 a JOIN e0 b ON b.vec_id = a.vec_id - 1
          WHERE a.vec_id % 2 = 1),
        negs AS (SELECT q_id, c_id, l2sq,
            ROW_NUMBER() OVER (PARTITION BY q_id
              ORDER BY l2sq, c_id) AS neg_rank
          FROM rer WHERE c_id <> q_id - 1)
        SELECT n.q_id, neg_rank, c_id, l2sq,
          l2sq - pos_l2sq AS margin, l2sq < pos_l2sq AS hard
        FROM negs n JOIN pos ON pos.q_id = n.q_id
        WHERE neg_rank <= 10 ORDER BY n.q_id, neg_rank"""))),

    // ----- s26: PQ-CODES COMPACTION — the OPTIMIZE step for the
    // vector tower's main index, completing the maintenance symmetry
    // (LSH: s17 compacts; lexical: s23 compacts; the PQ codes table
    // fragmented one small file per bucket per nightly s24 append
    // with nothing to bin-pack it back). Same lifecycle as s23: base
    // build (today's stripe withheld), delta append against the
    // frozen quantizers, COMPACT, serve. Compaction is LAYOUT-ONLY,
    // so the gate is the strongest available: the serve from the
    // compacted index must still hash-match the s24 two-phase twin
    // that recomputes train+calibrate on the base stripe and
    // encode+serve over the whole corpus — one more consumer of one
    // SQL (build → append → compact → serve, all gated). File-count
    // collapse, row-level equality, the crash window, and the
    // generation bump that carries the swap into running streams are
    // pinned in PqCompactionSpec.
    QueryDef(
      "s26_pq_compaction",
      (s, d) => {
        persistPqIndex(s, d,
          buildPqIndex(s, d, Some(col("vec_id") % 10 =!= 0)))
        appendPqDelta(s, d, col("vec_id") % 10 === 0)
        compactPqCodes(s, d)
        servePersisted(s, d)
      },
      Some(pqIncrementalOracleSql)),

    // ----- s27: RECALL-DRIFT AUDIT — the measurement that turns
    // "rebuild weekly" into "rebuild when the data says so". The s24
    // scale probes measured the trade offline (incremental −2.3 pt
    // recall@1 vs a from-scratch rebuild at ×100); a deployment needs
    // that number ONLINE, about ITS index, after every append: s27
    // re-runs the build's own candidate-recall measurement (exact-NN
    // referee over the E[256] calibration sample, this time against
    // the FULL current corpus — truth moves with the data) through
    // the persisted index's routing and codes table, and emits the
    // measured recall next to the build-time number plus a
    // rebuild_due verdict gated by spark.graft.minCandRecall (abs
    // floor) / spark.graft.maxRecallDrift (drop ceiling). Lifecycle
    // under the gate: base build (today's stripe withheld), frozen-
    // quantizer append, AUDIT — the exact state the nightly
    // maintenance job branches on. Both trigger directions + the
    // conf validation are pinned in PqDriftAuditSpec.
    QueryDef(
      "s27_recall_drift_audit",
      (s, d) => {
        persistPqIndex(s, d,
          buildPqIndex(s, d, Some(col("vec_id") % 10 =!= 0)))
        appendPqDelta(s, d, col("vec_id") % 10 === 0)
        auditPqRecall(s, d)
      },
      Some(pqDriftOracleSql)),

    // ----- s29: the MAINTENANCE LOOP CLOSED — audit → rebuild →
    // serve (the consumer s27's rebuild_due verdict existed for; the
    // r17 VERDICT's item 2). Lifecycle under the gate: age the index
    // exactly as s27 does (base-stripe build + frozen-quantizer
    // delta — the state a week of nightly appends leaves behind),
    // then maintainPqIndex with an ALWAYS-DUE floor (recall is a
    // fraction ≤ 1, so floor 1.1 deterministically takes the rebuild
    // branch at every scale factor — the measurement-driven
    // both-directions behavior is PqMaintainSpec's pin, not
    // hash-checkable: real drift varies with the corpus), then serve
    // from whatever the maintenance left behind. The gate proves the
    // REBUILD actually happened: serving must hash-match the
    // FROM-SCRATCH twin, which the incremental index it replaced
    // does NOT (s24's two-phase twin is a different chain) — a
    // maintain that silently skipped the rebuild fails the oracle.
    QueryDef(
      "s29_maintained_serve",
      (s, d) => {
        persistPqIndex(s, d,
          buildPqIndex(s, d, Some(col("vec_id") % 10 =!= 0)))
        appendPqDelta(s, d, col("vec_id") % 10 === 0)
        val rebuilt = maintainPqIndex(s, d, floorOverride = Some(1.1))
        require(rebuilt,
          "an always-due floor must take the rebuild branch")
        servePq(s, d, loadPqIndex(s))
      },
      Some(pqOracleSql)),

    // ----- s30: LEXICAL MAINTENANCE LOOP CLOSED — s29's shape for
    // the postings tower, the r18 verdict's one named residual: a
    // STALE index (base stripe only — the nightly append never ran,
    // so 20% of the corpus is missing and nd/df/avgdl are all wrong)
    // is audited, found under-covered by the DEFAULT dials, and
    // REBUILT by the one nightly entry point; the hybrid serve then
    // hash-matches the from-scratch twin. A maintain that silently
    // skipped the rebuild would serve the 0.8-coverage index — wrong
    // BM25 statistics for every query — and fail the oracle, so the
    // gate needs no threshold override at all.
    QueryDef(
      "s30_lex_maintained_serve",
      (s, d) => {
        persistLexIndex(s, d, col("doc_id") % 5 =!= 0,
          scope = "partial")
        val rebuilt = maintainLexIndex(s, d)
        require(rebuilt,
          "a 0.8-coverage index must audit as rebuild_due")
        hybridServeBatch(s, d,
          new Tables(s, d).documents
            .select(col("doc_id"), col("text")),
          ensurePqIndex(s, d), loadLexIndex(s))
      },
      Some(hybridIndexedOracleSql)),

    // ----- s31: LEXICAL STALENESS AUDIT — s27's shape for the
    // postings tower: the audit itself, oracle-gated. State = the
    // stale base-stripe index; the twin models the stored dl table
    // from source under the same doc gate and re-tokenizes the
    // sampled docs corpus-wide, so every column (counts, IEEE
    // ratios, the verdict) is recomputed independently.
    QueryDef(
      "s31_lex_staleness_audit",
      (s, d) => {
        persistLexIndex(s, d, col("doc_id") % 5 =!= 0,
          scope = "partial")
        auditLexStaleness(s, d)
      },
      Some(lexAuditOracleSql)),

    // ----- s08: IVF with a TRAINED coarse quantizer — one Lloyd
    // (k-means) refinement of s04's training-free centroids, written
    // entirely in DataFrame ops: assign (argmax cosine), update
    // (per-dimension mean over the assigned set), re-assign — the
    // chain now SHARED with p05 (lloydAssign/lloydCentroids; see
    // their Scaladoc for the floor-quantized determinism contract).
    // At scale each round is: one broadcast of k centroids + one
    // shuffle keyed (cluster, dim) — the standard distributed
    // k-means shape; more rounds = a driver loop like d07's.
    QueryDef(
      "s08_ivf_kmeans",
      (s, d) => {
        val e = vecs(s, d)
        lloydAssign(e, lloydCentroids(e))
          .select(col("vec_id"), col("cid"), col("cs").as("cos_sim"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH e AS ($vecsSql),
        ${lloydCtesSql("e")}
        SELECT vec_id, cid, cos_sim FROM (
          SELECT e.vec_id, c1.cid,
            list_sum(list_transform(list_zip(e.v, c1.c), t -> t[1] * t[2]))
              / (e.nrm * c1.cnrm) AS cos_sim,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              list_sum(list_transform(list_zip(e.v, c1.c), t -> t[1] * t[2]))
                / (e.nrm * c1.cnrm) DESC, c1.cid) AS rn
          FROM e, cent1 c1)
        WHERE rn = 1 ORDER BY vec_id""")),

    // ----- s07: two-stage retrieval — rank with CHEAP truncated
    // vectors (first TruncDims=32 of 64 dims, 2× less arithmetic/IO; the
    // "matryoshka" first pass), then rerank ONLY the top-truncShortlist (default 64) shortlist
    // with full-dimension cosine and keep the best.
    // VERIFICATION TIER: stage-1 is an exact all-pairs truncated scan —
    // the baseline s09 (the index-backed scale path) is measured
    // against, exactly as s01 is for s02 and s03 is for s05.
    QueryDef(
      "s07_truncated_rerank",
      (s, d) => {
        val e = vecs(s, d)
          .withColumn("v16", expr(s"slice(v, 1, $TruncDims)"))
          .withColumn("nrm16", expr("vec_norm(v16)"))
        val coarse = e.select(col("vec_id").as("id_a"),
            col("v16").as("a16"), col("nrm16").as("na16"))
          .crossJoin(e.select(col("vec_id").as("id_b"),
            col("v16").as("b16"), col("nrm16").as("nb16")))
          .filter(col("id_a") =!= col("id_b"))
          .withColumn("cos16",
            expr("vec_dot(a16, b16)") / (col("na16") * col("nb16")))
        val shortlist = topKPerKey(coarse, Seq(col("id_a")),
            Seq(col("cos16").desc, col("id_b")), truncShortlist(s), "r")
          .select(col("id_a"), col("id_b"))
        val full = vecs(s, d)
        topKPerKey(shortlist
            .join(full.select(col("vec_id").as("id_a"), col("v").as("av"),
              col("nrm").as("nrm_a")), "id_a")
            .join(full.select(col("vec_id").as("id_b"), col("v").as("bv"),
              col("nrm").as("nrm_b")), "id_b")
            .withColumn("cos_full",
              expr(dotExpr) / (col("nrm_a") * col("nrm_b"))),
            Seq(col("id_a")), Seq(col("cos_full").desc, col("id_b")), 1, "r")
          .select(col("id_a"), col("id_b"), col("cos_full"))
          .orderBy(col("id_a"))
      },
      Some(s"""WITH e0 AS ($vecsSql),
        e AS (SELECT vec_id, v, nrm, v[1:${TruncDims}] AS v16,
                sqrt(list_sum(list_transform(v[1:${TruncDims}], x -> x * x))) AS nrm16
              FROM e0),
        coarse AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            list_sum(list_transform(list_zip(a.v16, b.v16), t -> t[1] * t[2]))
              / (a.nrm16 * b.nrm16) AS cos16
          FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        shortlist AS (SELECT id_a, id_b FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a
              ORDER BY cos16 DESC, id_b) AS r FROM coarse)
          WHERE r <= ${TruncShortlist}),
        rer AS (SELECT c.id_a, c.id_b,
            list_sum(list_transform(list_zip(a.v, b.v), t -> t[1] * t[2]))
              / (a.nrm * b.nrm) AS cos_full
          FROM shortlist c
          JOIN e a ON a.vec_id = c.id_a
          JOIN e b ON b.vec_id = c.id_b)
        SELECT id_a, id_b, cos_full FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a
            ORDER BY cos_full DESC, id_b) AS r FROM rer)
        WHERE r = 1 ORDER BY id_a""")),

    // ----- s09: INDEX-BACKED two-stage retrieval — s07 with the
    // coarse stage riding the LSH bucket index instead of an all-pairs
    // scan. Stage 1: the same multi-probe bucket join as s02 (bucket
    // computed ONCE on the full vector; candidate generation shuffles
    // on the bucket key, never O(n²)), but scored with the CHEAP
    // TruncDims-dim truncated cosine — the coarse pass touches half of each
    // candidate's floats. Stage 2: full-dimension rerank of only the
    // per-query top-`truncShortlist` (default 64) shortlist. This is the 100 TB shape end-to-end:
    // |candidates| bounded by bucket occupancy × (H+1) probes,
    // truncated columns as the coarse columnar read, full vectors
    // touched for |shortlist| rows per query. Recall vs the exact
    // two-stage baseline (s07) is measured in TruncatedRerankSpec.
    QueryDef(
      "s09_indexed_rerank",
      (s, d) => {
        val e = vecs(s, d)
          .withColumn("bucket", expr(bucketExpr))
          .withColumn("v16", expr(s"slice(v, 1, $TruncDims)"))
          .withColumn("nrm16", expr("vec_norm(v16)"))
        // stage 1: multi-probe LSH candidates, truncated-cosine ranked
        val probed = e.select(col("vec_id").as("id_a"),
            col("v16").as("a16"), col("nrm16").as("na16"), col("bucket"))
          .withColumn("probe", explode(expr(probeExpr(lshHyperplanes(s, d)))))
        val coarse = probed
          .join(e.select(col("vec_id").as("id_b"), col("v16").as("b16"),
            col("nrm16").as("nb16"), col("bucket").as("bucket_b")),
            col("probe") === col("bucket_b"))
          .filter(col("id_a") =!= col("id_b"))
          .withColumn("cos16",
            expr("vec_dot(a16, b16)") / (col("na16") * col("nb16")))
        val shortlist = topKPerKey(coarse, Seq(col("id_a")),
            Seq(col("cos16").desc, col("id_b")), truncShortlist(s), "r")
          .select(col("id_a"), col("id_b"))
        // stage 2: full-dim rerank of the shortlist only
        val full = vecs(s, d)
        topKPerKey(shortlist
            .join(full.select(col("vec_id").as("id_a"), col("v").as("av"),
              col("nrm").as("nrm_a")), "id_a")
            .join(full.select(col("vec_id").as("id_b"), col("v").as("bv"),
              col("nrm").as("nrm_b")), "id_b")
            .withColumn("cos_full",
              expr(dotExpr) / (col("nrm_a") * col("nrm_b"))),
            Seq(col("id_a")), Seq(col("cos_full").desc, col("id_b")), 1, "r")
          .select(col("id_a"), col("id_b"), col("cos_full"))
          .orderBy(col("id_a"))
      },
      Some(s"""WITH e0 AS ($vecsSql),
        ${bucketedSqlCtes()},
        coarse AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            list_sum(list_transform(list_zip(a.v[1:${TruncDims}], b.v[1:${TruncDims}]),
              t -> t[1] * t[2]))
              / (sqrt(list_sum(list_transform(a.v[1:${TruncDims}], x -> x * x)))
                 * sqrt(list_sum(list_transform(b.v[1:${TruncDims}], x -> x * x))))
              AS cos16
          FROM probed a JOIN e b
            ON a.probe = b.bucket AND a.vec_id <> b.vec_id),
        shortlist AS (SELECT id_a, id_b FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a
              ORDER BY cos16 DESC, id_b) AS r FROM coarse)
          WHERE r <= ${TruncShortlist}),
        rer AS (SELECT c.id_a, c.id_b,
            list_sum(list_transform(list_zip(a.v, b.v), t -> t[1] * t[2]))
              / (a.nrm * b.nrm) AS cos_full
          FROM shortlist c
          JOIN e a ON a.vec_id = c.id_a
          JOIN e b ON b.vec_id = c.id_b)
        SELECT id_a, id_b, cos_full FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a
            ORDER BY cos_full DESC, id_b) AS r FROM rer)
        WHERE r = 1 ORDER BY id_a""")),

    // ----- s06: symmetric int8 quantization of the embedding column —
    // the 4× compression step a 100 TB ANN index applies before
    // storage (scale = max|x|/127 per vector, round-half-up, clamp).
    // Everything is per-row and codegen'd; max-folds are order-
    // independent (no float summation), round is an explicit
    // floor(x/scale + 0.5) so engine rounding modes can't diverge.
    QueryDef(
      "s06_int8_quantization",
      (s, d) => new Tables(s, d).embeddings
        .select(col("vec_id"), col("embedding").as("v"))
        .withColumn("scale", expr(
          """greatest(aggregate(v, cast(0.0 as double),
               (a, x) -> greatest(a, abs(cast(x as double)))), 1e-12d)
             / 127.0d"""))
        .withColumn("q", expr(
          """transform(v, x -> cast(greatest(-127.0d, least(127.0d,
               floor(cast(x as double) / scale + 0.5d))) as bigint))"""))
        .select(col("vec_id"), col("scale"),
          expr("aggregate(q, cast(0 as bigint), (a, x) -> a + x)")
            .as("q_sum"),
          expr("""aggregate(zip_with(v, q,
              (x, qq) -> abs(cast(x as double) - qq * scale)),
            cast(0.0 as double), (a, e) -> greatest(a, e))""")
            .as("max_abs_err"),
          expr("size(filter(q, x -> abs(x) = 127))").cast("long")
            .as("n_saturated"))
        .orderBy(col("vec_id")),
      Some("""SELECT vec_id, scale,
          CAST(list_sum(q) AS BIGINT) AS q_sum,
          list_aggregate(list_transform(list_zip(v, q),
            t -> abs(t[1] - t[2] * scale)), 'max') AS max_abs_err,
          CAST(len(list_filter(q, x -> abs(x) = 127)) AS BIGINT)
            AS n_saturated
        FROM (SELECT vec_id, v, scale,
            list_transform(v, x -> CAST(greatest(-127.0, least(127.0,
              floor(x / scale + 0.5))) AS BIGINT)) AS q
          FROM (SELECT vec_id, v,
              greatest(list_aggregate(list_transform(v, x -> abs(x)),
                'max'), 1e-12) / 127.0 AS scale
            FROM (SELECT vec_id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings)))
        ORDER BY vec_id""")),

    // ----- s13: PERSISTED BUCKET INDEX — s11's "at 100 TB the corpus
    // is bucketed STORAGE" claim made literal: the corpus half is
    // WRITTEN bucketed (and sorted) on its LSH bucket id, and the
    // serving probe join reads it back through the layout — the
    // corpus side plans with NO Exchange (its write-time bucketing IS
    // the join distribution; asserted in `PersistedIndexSpec`), only
    // the tiny exploded query side shuffles to align. Semantically
    // identical to s11 (same oracle): what changes is WHERE the
    // corpus shuffle happens — once, at index-build time, instead of
    // on every serving run. This is the decision that turns a
    // 10⁹-vector ANN serving workload scan-bound: nightly index
    // build pays one bucket shuffle; every query batch thereafter
    // probes for free.
    QueryDef(
      "s13_persisted_bucket_index",
      (s, d) => {
        val e = vecs(s, d).withColumn("bucket", expr(bucketExpr))
        val idxPath = s"${System.getProperty("java.io.tmpdir")}/graft_s13-" +
          Integer.toHexString(d.hashCode)
        e.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id").as("c_id"), col("v").as("bv"),
            col("nrm").as("nrm_c"), col("bucket").as("bucket_c"))
          .write.mode("overwrite").option("path", idxPath)
          .bucketBy(8, "bucket_c").sortBy("bucket_c")
          .saveAsTable("s13_corpus_idx")
        val corpus = s.table("s13_corpus_idx")
        val qs = e.filter(col("vec_id") % 2 === 1)
          .select(col("vec_id").as("q_id"), col("v").as("av"),
            col("nrm").as("nrm_q"), col("bucket"))
          .withColumn("probe", explode(expr(probeExpr(lshHyperplanes(s, d)))))
        topKPerKey(qs.join(corpus, col("probe") === col("bucket_c"))
            .withColumn("cos_sim",
              expr(dotExpr) / (col("nrm_q") * col("nrm_c"))),
            Seq(col("q_id")), Seq(col("cos_sim").desc, col("c_id")), 1, "r")
          .select(col("q_id"), col("c_id"), col("cos_sim"))
          .orderBy(col("q_id"))
      },
      Some(s"""WITH e0 AS ($vecsSql),
        ${bucketedSqlCtes()},
        cand AS (SELECT a.vec_id AS q_id, b.vec_id AS c_id,
            list_sum(list_transform(list_zip(a.v, b.v), t -> t[1] * t[2]))
              / (a.nrm * b.nrm) AS cos_sim
          FROM probed a JOIN e b ON a.probe = b.bucket
          WHERE a.vec_id % 2 = 1 AND b.vec_id % 2 = 0)
        SELECT q_id, c_id, cos_sim FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY cos_sim DESC, c_id) AS r FROM cand)
        WHERE r = 1 ORDER BY q_id""")),

    // ----- s17: INCREMENTAL INDEX MAINTENANCE — d10's nightly-delta
    // discipline applied to the ANN serving index: the persisted
    // bucket index (s13) must GROW as the corpus does, and rebuilding
    // it is a full corpus shuffle a nightly pipeline cannot re-pay.
    // Here the index is built from last night's corpus, and today's
    // delta computes ONLY ITS OWN buckets and APPENDS through the
    // table's bucket spec (insertInto routes the new files into the
    // same 8-bucket layout — the catalog spec, not the data path,
    // owns the bucketing) — maintenance work is O(|delta|), base
    // index files are never rewritten (byte-identical before/after,
    // asserted in PersistedIndexSpec), and the very next probe joins
    // the UNION exchange-free exactly as before. After the append,
    // the OPTIMIZE pass ([[s17Compact]]) bin-packs each bucket's
    // accumulated small files back to one — shuffle-free (bucketed
    // scan in, bucketed write out) — so the gated result also proves
    // compaction answer-preserving through the DuckDB oracle.
    // Answers equal a from-scratch full index (same oracle as s13's
    // construction over the whole even stripe).
    QueryDef(
      "s17_incremental_index",
      (s, d) => {
        s17BuildBase(s, d)
        s17AppendDelta(s, d)
        s17Compact(s, d)
        s17Probe(s, d)
      },
      Some(s"""WITH e0 AS ($vecsSql),
        ${bucketedSqlCtes()},
        cand AS (SELECT a.vec_id AS q_id, b.vec_id AS c_id,
            list_sum(list_transform(list_zip(a.v, b.v), t -> t[1] * t[2]))
              / (a.nrm * b.nrm) AS cos_sim
          FROM probed a JOIN e b ON a.probe = b.bucket
          WHERE a.vec_id % 2 = 1 AND b.vec_id % 2 = 0)
        SELECT q_id, c_id, cos_sim FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY cos_sim DESC, c_id) AS r FROM cand)
        WHERE r = 1 ORDER BY q_id""")),

    // ----- s14: BINARY QUANTIZATION + HAMMING RESCORING — the third
    // compression point on the accuracy/memory curve (int8 = s06,
    // PQ = s12, 1-bit = here): each vector compresses to its leading
    // `spark.graft.bqBits` SIGN BITS (default 64), packed as bits/32
    // 32-bit words (words, not one 64-bit long, because a signed 2^63
    // term overflows DuckDB's checked BIGINT sum — and hamming over
    // words is identical). Signatures build through the native
    // codegen'd `vec_signbits` (graft.functions.VectorSignBits) — a
    // tight loop inside whole-stage codegen, not an interpreted
    // per-row lambda ×64: at 10⁹ vectors the index pass is the one
    // place BQ touches every float. The coarse stage is the
    // production BQ shape: a LINEAR SCAN OVER CODES — the tiny
    // broadcast query set against 8 bytes per corpus vector, 32× less
    // memory traffic than floats, cheap XOR+popcount per pair — then
    // only the per-query `spark.graft.bqShortlist` hamming candidates
    // (default 64; the cheap recall dial, rescore cost linear in it)
    // are rescored at full precision. At 10⁹ vectors the code table
    // is ~8 GB (RAM-resident) while the floats stay on disk; the scan
    // parallelizes per-partition with zero shuffle, and the rerank
    // reads |shortlist| full vectors, not the corpus. Gated exactly:
    // sign bits, hamming, and the rerank are all deterministic.
    QueryDef(
      "s14_binary_quantization",
      (s, d) => {
        val words = bqBits(s) / 32
        val shortlist = bqShortlist(s)
        val e = (0 until words).foldLeft(vecs(s, d))((df, j) =>
          df.withColumn(s"h$j", expr(s"vec_signbits(v, ${32 * j})")))
        val corpus = e.filter(col("vec_id") % 251 =!= 0)
          .select(col("vec_id").as("c_id") +: col("v").as("bv") +:
            col("nrm").as("nrm_c") +:
            (0 until words).map(j => col(s"h$j").as(s"h${j}_c")): _*)
        val qs = e.filter(col("vec_id") % 251 === 0)
          .select(col("vec_id").as("q_id") +: col("v").as("av") +:
            col("nrm").as("nrm_q") +:
            (0 until words).map(j => col(s"h$j").as(s"h${j}_q")): _*)
        val hamming = (0 until words)
          .map(j => expr(s"bit_count(h${j}_c ^ h${j}_q)"))
          .reduce(_ + _)
        val codeShortlist = topKPerKey(
          corpus.crossJoin(broadcast(qs)) // labeled: code scan, 8 q-rows
            .withColumn("hamming", hamming),
          Seq(col("q_id")), Seq(col("hamming"), col("c_id")), shortlist, "hr")
        topKPerKey( // full-precision rerank
            codeShortlist.withColumn("cos_sim",
              expr(dotExpr) / (col("nrm_q") * col("nrm_c"))),
            Seq(col("q_id")), Seq(col("cos_sim").desc, col("c_id")), 3, "rank")
          .select(col("q_id"), col("rank"), col("c_id"), col("hamming"),
            col("cos_sim"))
          .orderBy(col("q_id"), col("rank"))
      },
      Some {
        // oracle at the DEFAULT geometry (the conf knobs are verified
        // against brute force in ScaleKnobsSpec, like MinHash/SimHash)
        val sigCols = (0 until BqBits / 32).map(j =>
          s"""CAST(list_sum(list_transform(range(32), i ->
              CASE WHEN v[i + ${32 * j + 1}] >= 0
                THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT)
              AS h$j""").mkString(",\n            ")
        val hamSql = (0 until BqBits / 32)
          .map(j => s"bit_count(xor(a.h$j, b.h$j))").mkString(" + ")
        s"""WITH e0 AS ($vecsSql),
        sigs AS (
          SELECT vec_id, v, nrm,
            $sigCols
          FROM e0),
        ham AS (
          SELECT a.vec_id AS q_id, a.v AS qa, a.nrm AS nrm_q,
            b.vec_id AS c_id, b.v AS ca, b.nrm AS nrm_c,
            $hamSql AS hamming
          FROM sigs a, sigs b
          WHERE a.vec_id % 251 = 0 AND b.vec_id % 251 <> 0),
        short AS (
          SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
              ORDER BY hamming, c_id) AS hr FROM ham)
          WHERE hr <= $BqShortlist),
        rer AS (
          SELECT q_id, c_id, hamming,
            list_sum(list_transform(list_zip(qa, ca), t -> t[1] * t[2]))
              / (nrm_q * nrm_c) AS cos_sim
          FROM short)
        SELECT q_id, rank, c_id, hamming, cos_sim FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY cos_sim DESC, c_id) AS rank FROM rer)
        WHERE rank <= 3 ORDER BY q_id, rank"""
      }),

    // ----- s15: MMR DIVERSITY-AWARE top-k — the rerank retrieval
    // pipelines run between ANN and the consumer: greedily pick 5 of
    // the top-16 cosine candidates so near-duplicate hits stop
    // crowding out coverage (see mmrSelect for the fold and its
    // determinism contract). Candidate generation here is the
    // verification-tier all-pairs scan (s01's role) — s28 IS the
    // deployment twin whose candidates come from the persisted s18
    // index; the MMR stage is shared verbatim.
    QueryDef(
      "s15_mmr_diverse_topk",
      (s, d) => {
        val e = vecs(s, d)
        val cand = e.filter(col("vec_id") % 25 === 0)
          .select(col("vec_id").as("qid"), col("v").as("av"),
            col("nrm").as("nrm_a"))
          .crossJoin(e.select(col("vec_id").as("id_b"), col("v").as("bv"),
            col("nrm").as("nrm_b")))
          .filter(col("qid") =!= col("id_b"))
          .withColumn("cos_q", expr(dotExpr) / (col("nrm_a") * col("nrm_b")))
        mmrSelect(mmrPack(topKPerKey(cand, Seq(col("qid")),
          Seq(col("cos_q").desc, col("id_b")), MmrCandidates, "r")))
      },
      Some(matCtes(s"""WITH e AS ($vecsSql),
        cand0 AS (SELECT a.vec_id AS qid, b.vec_id AS id_b,
            $dotSql / (a.nrm * b.nrm) AS cos_q
          FROM (SELECT * FROM e WHERE vec_id % 25 = 0) a
          JOIN e b ON a.vec_id <> b.vec_id),
        cand AS (SELECT qid, id_b, cos_q FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY cos_q DESC, id_b) AS r FROM cand0)
          WHERE r <= $MmrCandidates),
        ${mmrOracleTailSql("e")}"""))),

    // ----- s28: MMR OVER THE PERSISTED INDEX — s15's promised
    // deployment shape, shipped (the s20→s21 discipline applied to
    // the diversity rerank; the last "at scale swap in the index"
    // comment in the repo is now code): candidate generation is
    // servePqRanked over the s18 IVF-PQ index — route → decomposed
    // ADC → calibrated shortlist → exact top-16 rerank — for an
    // E[32] md5-Bernoulli query batch, so per-query candidate cost
    // is independent of corpus size on clustered geometry and NO
    // corpus-side cross join exists anywhere in the plan
    // (MmrIndexedSpec pins it). Cosine relevance is recomputed from
    // the source vectors for the 16-row candidate set (one tiny
    // equi-join); the greedy fold and the oracle tail are s15's
    // SHARED machinery — only candidate generation differs, which is
    // the point. Oracle: the s12-twin chain's `rer` ranked to
    // top-16 per sampled query, then the same unrolled greedy steps.
    QueryDef(
      "s28_mmr_indexed",
      (s, d) => {
        val idx = ensurePqIndex(s, d)
        val qv = vecs(s, d).filter(mmrQueryGate(s, d))
          .select(col("vec_id").as("q_id"), col("v").as("av"))
        mmrServeBatch(s, d, qv, idx)
      },
      Some(mmrIndexedOracleSql)),

    // ----- s16: GROUP CENTROIDS via the typed Aggregator API — the
    // representative-vector pass every clustering/mixture step needs
    // (s04/s08 compute theirs inline; this is the REUSABLE custom
    // aggregate). Mechanism coverage: Aggregator[IN, BUF, OUT] +
    // functions.udaf — the documented public custom-agg surface —
    // with floor-quantized exact Long accumulation so partial/merge
    // order cannot change the answer (see VecCentroid). One
    // map-side-combinable shuffle; the exchange carries one 8·dims-
    // byte buffer per (group, partition), never the vectors.
    QueryDef(
      "s16_centroid_udaf",
      (s, d) => {
        val e = new Tables(s, d).embeddings
          .withColumn("v", col("embedding").cast("array<double>"))
        val dims = e.selectExpr("size(v)").head().getInt(0)
        graft.functions.VecCentroid.register(s, dims)
        e.withColumn("grp", (col("vec_id") % 4).cast("long"))
          .groupBy(col("grp"))
          .agg(count(lit(1)).as("n"),
            expr("vec_centroid(v)").as("c"))
          .select(col("grp"), col("n"),
            element_at(col("c"), 1).as("c0"),
            element_at(col("c"), 2).as("c1"),
            element_at(col("c"), 3).as("c2"),
            element_at(col("c"), 4).as("c3"))
          .orderBy(col("grp"))
      },
      Some("""SELECT vec_id % 4 AS grp, COUNT(*) AS n,
          CAST(SUM(CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 1000000.0)
            AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 / COUNT(*) AS c0,
          CAST(SUM(CAST(FLOOR(CAST(embedding[2] AS DOUBLE) * 1000000.0)
            AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 / COUNT(*) AS c1,
          CAST(SUM(CAST(FLOOR(CAST(embedding[3] AS DOUBLE) * 1000000.0)
            AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 / COUNT(*) AS c2,
          CAST(SUM(CAST(FLOOR(CAST(embedding[4] AS DOUBLE) * 1000000.0)
            AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 / COUNT(*) AS c3
        FROM embeddings GROUP BY 1 ORDER BY 1"""))
  )
}
