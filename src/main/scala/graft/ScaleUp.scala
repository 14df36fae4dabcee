package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SCALE-UP VALIDATION RUN (on demand, not driver-gated): builds a
  * ×K corpus from an sf dir as K ISOMETRIC copies and re-times the
  * headline dedup/similarity/text queries on it.
  *
  * Why isometric copies: a naive ×K replication makes every document
  * K-way duplicated — candidate pairs then grow quadratically in K by
  * CONSTRUCTION and the measurement says nothing about the engine.
  * Instead each copy c applies a structure-preserving bijection:
  *
  *   - documents: every whitespace token t maps to md5(c:t) (copy 0
  *     keeps the original) — token renaming is BIJECTIVE per copy, so
  *     shingle-set Jaccard inside a copy is EXACTLY the original
  *     corpus's, while cross-copy vocabularies are disjoint;
  *   - embeddings: dims permute by d → (a·d + b) mod 64 (a odd ⇒ a
  *     bijection) with md5-derived sign flips — an orthogonal
  *     transform, so cosine inside a copy is EXACTLY preserved and
  *     cross-copy cosines are noise.
  *
  * Ground-truth near-dup/similar pairs therefore scale EXACTLY ×K,
  * and (pairs found at ×K) / (K × pairs found at ×1) is a direct
  * recall-retention measure for the adaptive geometry (H, bands, df
  * caps) under scale — the formulas are scale-free iff it stays ~1
  * while wall time stays ~linear.
  *
  * Usage: `sbt "runMain graft.ScaleUp [sfDir] [K]"`; prints one JSON
  * line per query: name, rows at ×1, rows at ×K, wall seconds at ×1
  * and ×K.
  */
object ScaleUp {

  private val Queries =
    Seq("d03_minhash_lsh", "d04_simhash", "t01_token_stats",
      "s02_cosine_lsh_bucketed",
      // r12 additions: PQ+ADC retrieval, corpus line dedup, BM25,
      // and the equality-upsert write path (orders-driven)
      "s12_pq_adc", "t13_line_dedup", "t15_bm25_retrieval",
      "w19_equality_upsert",
      // late-r12: paragraph-granularity fuzzy dedup + the hashed
      // linear quality classifier (pure projection — its signal here
      // is wall-time linearity)
      "d11_paragraph_neardup", "t17_quality_classifier",
      // session 3: star-contraction components — cluster count is ×K
      // exact under isometric copies (components replicate per copy,
      // zero cross-copy edges); rounds stay constant, per-round work
      // scales linearly
      "d12_cc_star_contraction",
      // exact-substring spans: within-copy window equality is
      // preserved by the bijective token renaming, cross-copy
      // vocabularies are disjoint — dup-token totals are ×K exact
      "t19_substring_dedup",
      // r13: CCNet perplexity terciles — the per-copy bigram LMs are
      // vocabulary-disjoint, so every copy's fluency scores replicate
      // the original's exactly and the kept-count scales ~×K (small
      // boundary wobble from cross-copy rank ties + the md5 gate on
      // shifted ids)
      "p07_perplexity_partition",
      // r13: the full ANN index LIFECYCLE (build -> delta append ->
      // compaction -> exchange-free probe) — the nightly maintenance
      // path, timed end-to-end; probe rows are one per query vector
      "s17_incremental_index",
      // r13: SemDeDup — cluster-gated semantic dedup; within-copy
      // cosine structure is isometry-preserved, so dropped counts
      // track the per-copy dup population; clusters retrain on the
      // mixed corpus, so retention is a RECALL-retention of the
      // cluster gate (like d03's), not a structural 1.0
      "d13_semdedup",
      // r13: the composed curation funnel (quality + canonical dedup
      // + decontamination + sampling in <= 2 shuffles) — measured by
      // kept-count (see Measures: a bare count() would let the
      // optimizer eliminate the whole funnel)
      "p01_curation_pipeline",
      // r13: the O(|delta|) claim, probed — incremental delta-vs-
      // corpus dedup over the persisted band index; within-copy
      // delta pairs scale ×K (the copy shift is ≡ 0 mod 5, so every
      // copy keeps the same delta stripe)
      "d10_incremental_dedup",
      // r13: streaming ANN serving — index build on the ×K corpus +
      // the staged query stream probing it; answered-query count is
      // the probe-hit rate under the adaptive-H geometry (s02's
      // retention logic, streaming machinery on top). First run pays
      // the embeddings staging split like st02.
      "st16_stream_ann_serving",
      // r13: the streaming probe — sliding-window agg over ×K events
      // (key-shifted copies, timestamps unchanged: the window set is
      // constant while every window's count scales ×K exactly). The
      // first run on a fresh corpus pays the one-time staging split;
      // re-run to time the steady state.
      "st02_stream_sliding_window",
      // r14: the RocksDB state-store probes — the one axis the matrix
      // never measured. Key cardinality grows ∝ corpus (user_id /
      // event_id are copy-shifted), so state rows must scale ×K while
      // wall time stays linear; each row also records PEAK state rows
      // and state-store bytes from StateOperatorProgress (see
      // stateMetrics below). st03: session windows per user on
      // RocksDB; st04: dropDuplicatesWithinWatermark (watermark-
      // bounded eviction — peak is mid-stream, not final); st09:
      // transformWithState + ValueState running-max (mandatory
      // RocksDB).
      "st03_stream_session_window", "st04_stream_dedup",
      "st09_transform_with_state",
      // r14: PageRank — the ITERATIVE-JOIN kernel probed at scale
      // (6 rounds of edge⋈rank shuffles; the shape that dies first
      // when lineage or shuffle volume misbehaves). The ×K graph is
      // K disjoint copies, so ranks replicate per copy at 1/K scale
      // and the above-average-rank node count (the measure) is ×K
      // exact; wall must stay linear in edges.
      "q82_pagerank",
      // r14: the persisted IVF-PQ index — the build+persist+serve
      // lifecycle rides the generic path (like s17's), and the row
      // ALSO times a second serve-only pass against the tables the
      // first pass just persisted (serve_sec_x1/_xk below): the
      // amortization claim a persisted index exists for is that the
      // per-batch serving cost excludes training and calibration,
      // so serve-only must be a small, linearly-scaling fraction of
      // the lifecycle wall
      "s18_pq_persisted",
      // r16: hybrid retrieval — the lexical leg moves only query-term
      // postings (df-capped fan-out) and the vector leg is bounded by
      // the E[32] query sample, so the whole fusion must scale
      // linearly in corpus size; the probe pins that claim
      "s20_hybrid_rrf",
      // r17: hybrid retrieval over the PERSISTED index — the first
      // timed pass pays the index build (lifecycle); the row also
      // times a steady-state re-run (serve_sec: lexical postings +
      // indexed vector serve, no build) and the VECTOR LEG ALONE
      // (vecleg_sec: routing + ADC + rerank for the E[32] sample —
      // the per-query cost that must stay ~flat across decades on
      // this geometry, the claim s21 replaced s20's |sample|·n
      // brute-force leg to earn)
      "s21_hybrid_indexed",
      // r17 session 2: the INCREMENTAL maintenance probes — each
      // row's lifecycle pass runs base-build + delta + serve through
      // the generic timer, and a special branch re-stages the base to
      // time THE DELTA STEP ALONE (append_sec / compact_sec): the
      // quantity whose scaling the incremental discipline exists for
      // (O(|delta|·√k) for the PQ append; per-bucket merge I/O for
      // the lexical compaction)
      "s24_incremental_pq",
      "s23_lex_compaction",
      // r17 session 3: the PQ codes-table compaction (s26 — the
      // bin-pack must stay corpus-size-independent at fixed bucket
      // count, like s23's) and the recall-drift audit (s27 — the
      // audit wall is the |sample|·n referee, linear in n; the
      // MEASURED drift at each decade is the number the op exists
      // to surface: how much candidate recall the frozen-quantizer
      // append actually costs at that scale)
      "s26_pq_compaction",
      "s27_recall_drift_audit",
      // r17 session 3: perceptual media dedup — the per-copy token
      // renaming is character-deterministic, so a tail-edit near-dup
      // pair's shared PREFIX BLOCKS stay byte-aligned inside every
      // copy (within-copy pair structure preserved) while cross-copy
      // block contents are unrelated md5s (hash-luck tail only, the
      // d04 population the adaptive bands exist to shed); wall must
      // stay linear — signature pass + banded join at occupancy
      // n/2^bandBits
      "m08_perceptual_dedup",
      // r19 session 2: the entropy-floored two-tier rework of m08 —
      // pair rows are the signal itself: the perceptual tier must
      // stay luck-free at every decade (the ×100 floor-ladder
      // measured ZERO cross-copy pairs at the rule's floor), so the
      // count tracks true within-copy structure only. Retention is
      // NOT ×K-exact: the md5 token renaming lengthens copies
      // (ScaleUp copies are not char-isometric), so more copy docs
      // clear the ×K floor than originals clear the ×1 floor —
      // cross-decade it reads as a bounded O(1) ratio plus wall
      // linearity, never the m08 tail's super-linear blowup
      "m09_perceptual_two_tier",
      // r17 session 3: token-budget mixture — the WindowGroupLimit
      // claim probed: the budget is constant, so kept rows are
      // ~constant across decades (retention ~1/K by design) and the
      // WALL is the signal — the rank prune keeps the per-language
      // sort+shuffle budget-bounded, so time_ratio must stay far
      // below K (the tokenize+rank scan is the only linear term)
      "p09_token_budget_mix",
      // r17 session 2: DSIR importance resampling — hash+score is
      // map-only, models are 256-row broadcasts, so wall must stay
      // linear; kept-count retention reads as cross-decade STABILITY
      // (copies share the model, so per-copy weights approximate the
      // original's rather than replicate exactly — p01's signal
      // logic, not an exact ×K invariant)
      "p08_dsir_resample",
      // r18: MMR over the persisted index — the lifecycle pass pays
      // the index build; the row also times a steady-state re-run
      // (serve_sec: candidate serve from the persisted index + the
      // per-row greedy fold for the E[32] sample — the per-query
      // cost that must stay ~flat across decades, the claim s28
      // replaced s15's all-pairs candidate tier to earn)
      "s28_mmr_indexed",
      // r19: the lexical staleness audit + nightly maintain — the
      // audit alone is a doc count + an E[256] sampled re-tokenize
      // (lexaudit_sec must stay ~flat across decades: the sample is
      // constant-size); the maintain pays audit + one tokenize-once
      // full rebuild (s21's build class — linear), then re-audits
      // clean
      "s31_lex_staleness_audit")

  /** What a query's "found" count IS for retention purposes, when a
    * plain row count is structurally trivial (one row per doc): d11
    * reports one row per document, but the scale-sensitive quantity
    * is the DROPPED-paragraph total — within-copy near-dup paragraph
    * pairs are ×K exact under the isometric build, so drops must
    * scale ×K too. */
  private def sumOf(c: String)(df: DataFrame): Long = {
    val r = df.agg(sum(col(c))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0) // sum of an empty frame is null
  }

  private val Measures: Map[String, DataFrame => Long] = Map(
    "d11_paragraph_neardup" -> sumOf("n_dropped") _,
    "t19_substring_dedup" -> sumOf("dup_tokens") _,
    // a plain count() would let Catalyst ELIMINATE the funnel's left
    // join and every projection (verified: 0.75 s for 450k docs);
    // filtering on final_keep forces quality + canonical dedup +
    // decontamination + sampling to actually run. Retention reads as
    // the renamed-copy pass rate (token renaming zeroes the stopword/
    // punctuation signals uniformly, so every copy c >= 1 keeps the
    // same length-qualified subset) — the signal is its CROSS-DECADE
    // STABILITY plus wall-time linearity, not 1.0.
    "p01_curation_pipeline" ->
      ((df: DataFrame) => df.filter(col("final_keep")).count()),
    // the scale-sensitive quantity is how many dups the cluster gate
    // catches (rows are one-per-vector, structurally ×K)
    "d13_semdedup" ->
      ((df: DataFrame) => df.filter(!col("kept")).count()),
    "p07_perplexity_partition" ->
      ((df: DataFrame) => df.filter(col("keep")).count()),
    // one row per doc is structurally ×K; the scale-sensitive
    // quantity is the resample's kept count (model mixing across
    // copies makes this a stability signal, not an exact invariant)
    "p08_dsir_resample" ->
      ((df: DataFrame) => df.filter(col("keep")).count()),
    // windows are fixed by the (unchanged) time span; the ×K-exact
    // quantity is the total event-window memberships
    "st02_stream_sliding_window" -> sumOf("n") _,
    // one row per part is structurally ×K; the rank STRUCTURE is the
    // scale-sensitive quantity — disjoint copies replicate each
    // copy's rank distribution at 1/K scale, so the count of nodes
    // above the mean rank is ×K exact iff the iterative chain holds
    "q82_pagerank" -> ((df: DataFrame) => {
      val cached = df.cache()
      // integer-exact above-the-mean count: quantize ranks the way
      // the query itself quantizes (1e12 BIGINT — Σq ≈ 1e12 and
      // q·n ≤ ~2e18 both fit a long) and compare n·q_i > Σq. The r19
      // probe took avg() over doubles, whose partition-order
      // sensitivity flipped the threshold by 1 ulp at ×100 and read
      // retention 0.99990 on bit-identical ranks; this measure is
      // order-free, so identical ranks give retention exactly 1.0.
      val q = floor(col("pagerank") * lit(1e12) + lit(0.5)).cast("long")
      val r = cached.agg(sum(q).as("sq"), count(lit(1)).as("cnt")).head()
      val (sq, cnt) = (r.getLong(0), r.getLong(1))
      val n = cached.filter(q * lit(cnt) > lit(sq)).count()
      cached.unpersist()
      n
    }))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(10)
    // optional: "key=v,key=v" session-conf overrides (the scale
    // dials), and a query-name substring filter
    val confs = args.lift(2).toSeq.flatMap(_.split(",")).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(ck, cv) if ck.nonEmpty => Some(ck -> cv)
        case _ => None
      }
    }
    val only = args.lift(3)
    val spark = Harness.session("graft-scaleup")
    spark.sparkContext.setLogLevel("WARN")

    confs.foreach { case (ck, cv) => spark.conf.set(ck, cv) }

    // comma-separated substring filter (matching Verify's contract);
    // validated BEFORE the ×K build so a typo'd filter fails in
    // milliseconds, not after minutes of corpus construction — and a
    // matched-nothing run can't overwrite scaleup_out.json with []
    val selected = Queries.filter(q =>
      only.forall(_.split(",").exists(p => p.nonEmpty && q.contains(p))))
    require(selected.nonEmpty,
      s"no query matches filter ${only.getOrElse("")} — " +
        s"available: ${Queries.mkString(", ")}")

    val outDir = s"${System.getProperty("java.io.tmpdir")}/graft_scaleup_x$k"
    build(spark, sfDir, outDir, k)

    // PEAK state across the run's micro-batches (rows and store bytes
    // summed over state operators per batch, then maxed over batches):
    // watermark-evicting shapes (st04) peak mid-stream, so the final
    // batch under-reports the store a 100 TB deployment must size for.
    def stateMetrics(): Option[(Long, Long)] = {
      val perBatch = graft.streaming.StreamingOps.lastProgress.get()
        .filter(_.stateOperators.nonEmpty)
        .map(p => (p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum))
      if (perBatch.isEmpty) None
      else Some((perBatch.map(_._1).max, perBatch.map(_._2).max))
    }

    val results = selected.map { name =>
      val fn = SparkEntry.queries(name)
      val measure = Measures.getOrElse(name, (df: DataFrame) => df.count())
      // the incremental-maintenance probes: re-stage the base
      // (untimed) and time THE DELTA STEP ALONE — the generic
      // lifecycle pass can't separate it from the build it rides on
      def deltaOnly(dir: String): String =
        if (name == "s24_incremental_pq") {
          import graft.operators.Similarity
          spark.catalog.clearCache()
          Similarity.persistPqIndex(spark, dir,
            Similarity.buildPqIndex(spark, dir,
              Some(col("vec_id") % 10 =!= 0)))
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          Similarity.appendPqDelta(spark, dir, col("vec_id") % 10 === 0)
          val t = (System.nanoTime() - t0) / 1e9
          s""","append_sec":$t"""
        } else if (name == "s26_pq_compaction") {
          import graft.operators.Similarity
          spark.catalog.clearCache()
          Similarity.persistPqIndex(spark, dir,
            Similarity.buildPqIndex(spark, dir,
              Some(col("vec_id") % 10 =!= 0)))
          Similarity.appendPqDelta(spark, dir, col("vec_id") % 10 === 0)
          val filesBefore = spark.table("s18_pq_codes").inputFiles.length
          val t0 = System.nanoTime()
          Similarity.compactPqCodes(spark, dir)
          val t = (System.nanoTime() - t0) / 1e9
          val filesAfter = spark.table("s18_pq_codes").inputFiles.length
          s""","compact_sec":$t,"codes_files_before":$filesBefore""" +
            s""","codes_files_after":$filesAfter"""
        } else if (name == "s27_recall_drift_audit") {
          import graft.operators.Similarity
          spark.catalog.clearCache()
          Similarity.persistPqIndex(spark, dir,
            Similarity.buildPqIndex(spark, dir,
              Some(col("vec_id") % 10 =!= 0)))
          Similarity.appendPqDelta(spark, dir, col("vec_id") % 10 === 0)
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          val r = Similarity.auditPqRecall(spark, dir).head()
          val t = (System.nanoTime() - t0) / 1e9
          s""","audit_sec":$t""" +
            s""","measured_recall":${r.getAs[Double]("measured_recall")}""" +
            s""","build_recall":${r.getAs[Double]("build_recall")}""" +
            s""","audit_drift":${r.getAs[Double]("drift")}"""
        } else if (name == "s23_lex_compaction") {
          import graft.operators.Similarity
          spark.catalog.clearCache()
          Similarity.persistLexIndex(spark, dir,
            col("doc_id") % 5 =!= 0, scope = "partial")
          Similarity.appendLexDelta(spark, dir, col("doc_id") % 5 === 0)
          val filesBefore = spark.table("s21_lex_post").inputFiles.length
          val t0 = System.nanoTime()
          Similarity.compactLexIndex(spark, dir)
          val t = (System.nanoTime() - t0) / 1e9
          val filesAfter = spark.table("s21_lex_post").inputFiles.length
          s""","compact_sec":$t,"post_files_before":$filesBefore""" +
            s""","post_files_after":$filesAfter"""
        } else ""
      def time(dir: String): (Double, Long, Option[(Long, Long)]) = {
        spark.catalog.clearCache()
        graft.streaming.StreamingOps.lastProgress.set(Nil)
        val t0 = System.nanoTime()
        val n = measure(fn(spark, dir))
        ((System.nanoTime() - t0) / 1e9, n, stateMetrics())
      }
      // serve-only pass for the persisted-index probe: must run
      // immediately after its decade's lifecycle run, while the
      // persisted tables belong to THAT corpus
      def serveOnly(dir: String): String =
        if (name == "s21_hybrid_indexed") {
          // steady state: the timed lifecycle run just persisted the
          // index for THIS corpus, so a re-run is lexical + indexed
          // vector serve with no build
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          val n = measure(fn(spark, dir))
          val t = (System.nanoTime() - t0) / 1e9
          // the vector leg alone: top-10 indexed serve of the E[32]
          // hybrid sample — per-query cost must stay ~flat across
          // decades (routing + ~nprobe·64 ADC lookups + rerank)
          spark.catalog.clearCache()
          val idx = graft.operators.Similarity.loadPqIndex(spark)
          val e = spark.read.parquet(s"$dir/embeddings.parquet")
          val nOdd = e.filter(col("vec_id") % 2 === 1).count()
          val thresh = (graft.operators.Similarity.HybridSampleE
            * 4294967296L - 1L) / math.max(1L, nOdd) + 1L
          val qv = e.filter(col("vec_id") % 2 === 1)
            .filter(conv(substring(md5(concat(lit("hyb:"),
              col("vec_id").cast("string"))), 1, 8), 16, 10)
              .cast("long") < lit(thresh))
            .select(col("vec_id").as("q_id"), col("embedding").as("av"))
          val cv = e.filter(col("vec_id") % 2 === 0)
            .select(col("vec_id").as("c_id"), col("embedding").as("bv"))
          val tv0 = System.nanoTime()
          val nv = graft.operators.Similarity
            .servePqRanked(spark, qv, cv, idx, identity, 10).count()
          val tv = (System.nanoTime() - tv0) / 1e9
          s""","serve_sec":$t,"serve_rows":$n""" +
            s""","vecleg_sec":$tv,"vecleg_rows":$nv"""
        } else if (name == "s28_mmr_indexed") {
          // steady state: the timed lifecycle run just ensured the
          // index for THIS corpus — a re-run is candidate serve +
          // the per-row MMR fold, no build
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          val n = measure(fn(spark, dir))
          val t = (System.nanoTime() - t0) / 1e9
          s""","serve_sec":$t,"serve_rows":$n"""
        } else if (name == "s31_lex_staleness_audit") {
          // the timed lifecycle run left the aged (base-stripe)
          // index for THIS corpus: time the audit ALONE (doc count +
          // E[256] sampled re-tokenize — near-flat across decades),
          // then the maintain (audit + full rebuild — linear), then
          // prove the rebuilt state audits clean
          import graft.operators.Similarity
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          val a = Similarity.auditLexStaleness(spark, dir).head()
          val t = (System.nanoTime() - t0) / 1e9
          val tm0 = System.nanoTime()
          val rebuilt = Similarity.maintainLexIndex(spark, dir)
          val tm = (System.nanoTime() - tm0) / 1e9
          val clean = !Similarity.auditLexStaleness(spark, dir)
            .head().getAs[Boolean]("rebuild_due")
          s""","lexaudit_sec":$t""" +
            s""","lexaudit_cov":${a.getAs[Double]("coverage")}""" +
            s""","maintain_sec":$tm,"rebuilt":$rebuilt""" +
            s""","post_clean":$clean"""
        } else if (name != "s18_pq_persisted") "" else {
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          val n = graft.operators.Similarity.servePersisted(spark, dir)
            .count()
          val t = (System.nanoTime() - t0) / 1e9
          // the filtered serve (s19) against the SAME persisted
          // index: its steady-state cost should track the unfiltered
          // serve (same routing + ADC volume; the gate only thins
          // the shortlist rank's input)
          spark.catalog.clearCache()
          val tf0 = System.nanoTime()
          val nf = graft.operators.Similarity.servePqFilteredByLabel(
            spark, dir, graft.operators.Similarity.loadPqIndex(spark))
            .count()
          val tf = (System.nanoTime() - tf0) / 1e9
          s""","serve_sec":$t,"serve_rows":$n""" +
            s""","filtered_sec":$tf,"filtered_rows":$nf"""
        }
      val (t1, n1, st1) = time(sfDir)
      val serve1 = serveOnly(sfDir) + deltaOnly(sfDir)
      val (tk, nk, stk) = time(outDir)
      val servek = serveOnly(outDir) + deltaOnly(outDir)
      def decade(j: String, suffix: String): String = j
        .replace("serve_sec", s"serve_sec_$suffix")
        .replace("serve_rows", s"serve_rows_$suffix")
        .replace("filtered_sec", s"filtered_sec_$suffix")
        .replace("filtered_rows", s"filtered_rows_$suffix")
        .replace("vecleg_sec", s"vecleg_sec_$suffix")
        .replace("vecleg_rows", s"vecleg_rows_$suffix")
        .replace("append_sec", s"append_sec_$suffix")
        .replace("compact_sec", s"compact_sec_$suffix")
        .replace("post_files_before", s"post_files_before_$suffix")
        .replace("post_files_after", s"post_files_after_$suffix")
        .replace("codes_files_before", s"codes_files_before_$suffix")
        .replace("codes_files_after", s"codes_files_after_$suffix")
        .replace("audit_sec", s"audit_sec_$suffix")
        .replace("measured_recall", s"measured_recall_$suffix")
        .replace("build_recall", s"build_recall_$suffix")
        .replace("audit_drift", s"audit_drift_$suffix")
        // NOTE: no "lexaudit_sec" rule — the "audit_sec" rule above
        // already rewrites it as a substring (a second rule would
        // double-suffix it)
        .replace("lexaudit_cov", s"lexaudit_cov_$suffix")
        .replace("maintain_sec", s"maintain_sec_$suffix")
        .replace("\"rebuilt\"", s""""rebuilt_$suffix"""")
        .replace("post_clean", s"post_clean_$suffix")
      val serveJson =
        if (serve1.isEmpty) ""
        else decade(serve1, "x1") + decade(servek, "xk")
      val stateJson = (st1, stk) match {
        case (Some((r1, b1)), Some((rk, bk))) =>
          s""","state_rows_x1":$r1,"state_bytes_x1":$b1,""" +
            s""""state_rows_xk":$rk,"state_bytes_xk":$bk,""" +
            s""""state_rows_ratio":${rk.toDouble / math.max(1L, r1)}"""
        case _ => ""
      }
      val json = s"""{"query":"$name","k":$k,""" +
        s""""rows_x1":$n1,"rows_xk":$nk,""" +
        s""""retention":${nk.toDouble / (k * math.max(1L, n1))},""" +
        s""""sec_x1":$t1,"sec_xk":$tk,""" +
        s""""time_ratio":${tk / math.max(1e-9, t1)}$stateJson$serveJson}"""
      println(json)
      System.err.println(json)
      json
    }
    mergeIntoMatrix(results, selected.map(n => (n, k)).toSet)
    spark.stop()
  }

  /** MERGE probe rows into the committed matrix rather than
    * overwrite: a filtered run updates its own (query, k) rows and
    * leaves every other probe's evidence in place. Prior entries that
    * fail to parse (older format, hand edits) are KEPT verbatim —
    * the merge must never lose evidence it cannot read; a whole-file
    * parse failure aborts loudly instead of silently replacing the
    * matrix. Shared with [[SkewProbe]]. */
  private[graft] def mergeIntoMatrix(results: Seq[String],
      fresh: Set[(String, Int)]): Unit = {
    val outPath = java.nio.file.Paths.get("scaleup_out.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def keyOf(json: String): Option[(String, Int)] =
      try {
        val n = mapper.readTree(json)
        val (q, kk) = (n.get("query"), n.get("k"))
        if (q == null || kk == null) None else Some((q.asText(), kk.asInt()))
      } catch { case _: Exception => None }
    val prior =
      if (!java.nio.file.Files.isRegularFile(outPath)) Seq.empty[String]
      else {
        val arr = mapper.readTree(java.nio.file.Files.readString(outPath))
        require(arr != null && arr.isArray,
          s"$outPath exists but is not a JSON array — refusing to " +
            "overwrite it; move it aside to rebuild the matrix")
        (0 until arr.size).map(i => arr.get(i).toString)
      }
    // entries whose (query, k) key cannot be parsed are kept verbatim
    // (the merge must never lose evidence it cannot read) — but warn,
    // because a re-run of the same probe in a newer format would then
    // leave TWO rows for one (query, k) with no other signal
    prior.filter(p => keyOf(p).isEmpty).foreach(p =>
      System.err.println(s"scaleup merge: keeping unparseable entry " +
        s"verbatim (possible duplicate key in the matrix): " +
        p.linesIterator.next().take(120)))
    val merged =
      prior.filterNot(p => keyOf(p).exists(fresh.contains)) ++ results
    java.nio.file.Files.writeString(outPath,
      merged.mkString("[", ",\n", "]\n"))
  }

  /** Write the ×K isometric corpus (documents + embeddings) to
    * `outDir`, skipping the build when it already exists with a
    * completion marker for this (sfDir, K). */
  def build(spark: SparkSession, sfDir: String, outDir: String,
      k: Int): Unit = {
    val marker = java.nio.file.Paths.get(outDir, "_COMPLETE")
    // v4: corpus also carries ×K lineitem + part (the q82 PageRank
    // probe — K disjoint copies of the co-purchase graph); v3 added
    // ×K events (st02); v2 added ×K orders (w19)
    val stamp = s"$sfDir|$k|v4|${graft.streaming.StreamingOps
      .sourceFingerprint(sfDir)}"
    if (java.nio.file.Files.exists(marker) &&
        java.nio.file.Files.readString(marker) == stamp) return
    val t = new Tables(spark, sfDir)
    val copies = spark.range(0, k).toDF("c")

    // disjoint-copies guard: every shifted key below rides a FIXED
    // 1e8-per-copy shift. TPC-H orderkeys are sparse (≈4× rowcount),
    // so past sf≈25 a source key exceeds 1e8 and copy c's keys would
    // silently interleave with copy c+1's — cross-copy edges that
    // corrupt the exact-×K invariants every probe relies on (q82's
    // disjoint graphs, w19's key cardinality, retention counts). Fail
    // LOUDLY here instead: one cheap max() per keyed table (column
    // pruning makes each a single-column scan).
    val shift = 100000000L
    Seq(
      ("documents.doc_id", t.documents.agg(max(col("doc_id")))),
      ("embeddings.vec_id", t.embeddings.agg(max(col("vec_id")))),
      ("orders.o_orderkey", t.orders.agg(max(col("o_orderkey")))),
      ("events.event_id", t.events.agg(max(col("event_id")))),
      ("events.user_id", t.events.agg(max(col("user_id")))),
      ("lineitem.l_orderkey", t.lineitem.agg(max(col("l_orderkey")))),
      ("lineitem.l_partkey", t.lineitem.agg(max(col("l_partkey")))),
      ("lineitem.l_suppkey", t.lineitem.agg(max(col("l_suppkey")))),
      ("part.p_partkey", t.part.agg(max(col("p_partkey"))))
    ).foreach { case (name, df) =>
      // coalesce(-1): an EMPTY source table has a NULL max — that
      // passes explicitly (no keys can collide) instead of throwing a
      // bare NPE out of getLong before the descriptive require fires
      val mx = df.select(coalesce(col(df.columns(0)).cast("long"),
          lit(-1L)))
        .collect()(0).getLong(0)
      require(mx < shift,
        s"scaleup build: max($name) = $mx >= the $shift per-copy key " +
          "shift — ×K copies would no longer be disjoint (source sf " +
          "too large for the fixed shift); derive a bigger shift " +
          "before building")
    }

    // documents: bijective per-copy token renaming (copy 0 verbatim)
    val docs = t.documents.crossJoin(broadcast(copies))
      .select(
        (col("doc_id") + col("c") * 100000000L).as("doc_id"),
        when(col("c") === 0, col("text")).otherwise(
          array_join(transform(split(col("text"), "\\s+"),
            tok => concat(lit("t"),
              substring(md5(concat(col("c"), lit(":"), tok)), 1, 8))),
            " ")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    docs.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")

    // embeddings: per-copy orthogonal transform (dim permutation by
    // (a·d + b) mod dim with odd a, md5 sign flips)
    val dim = 64
    val emb = t.embeddings.crossJoin(broadcast(copies))
      .select(
        (col("vec_id") + col("c") * 100000000L).as("vec_id"),
        when(col("c") === 0, col("embedding")).otherwise(
          transform(sequence(lit(0), lit(dim - 1)), d => {
            // src index: the inverse permutation is just another
            // affine map; using the forward map on the TARGET index
            // is itself a bijection, which is all isometry needs
            val src = (d * (col("c") * 2 + 3) + col("c") * 7) % dim
            val sign = when(
              conv(substring(md5(concat(col("c"), lit("#"), d)), 1, 4),
                16, 10).cast("long") % 2 === 0, 1.0f).otherwise(-1.0f)
            element_at(col("embedding"), (src + 1).cast("int")) * sign
          }).cast("array<float>")).as("embedding"),
        col("label"))
    emb.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")

    // orders: per-copy key shift (the w19 upsert probe keys on
    // o_orderkey; value columns ride along unchanged — upsert
    // throughput needs key cardinality, not text isometry)
    val ord = t.orders.crossJoin(broadcast(copies))
      .select((col("o_orderkey") + col("c") * 100000000L)
        .as("o_orderkey") +:
        t.orders.columns.filter(_ != "o_orderkey").map(col): _*)
    ord.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/orders.parquet")

    // events: per-copy key shift on event_id/user_id; ts, type, value
    // ride along unchanged — the sliding-window probe needs volume
    // per window, and an unchanged time span keeps the window set
    // constant so per-window counts are ×K exact
    val ev = t.events.crossJoin(broadcast(copies))
      .select((col("event_id") + col("c") * 100000000L).as("event_id"),
        col("ts"),
        (col("user_id") + col("c") * 100000000L).as("user_id"),
        col("event_type"), col("value"), col("props"))
    ev.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/events.parquet")

    // lineitem + part: per-copy key shifts on orderkey/partkey/
    // suppkey (the q82 probe's co-purchase graph becomes K DISJOINT
    // copies of the original — orderkeys never collide across copies,
    // so no cross-copy edges; PageRank structure replicates exactly
    // while N grows ×K)
    val liK = t.lineitem.crossJoin(broadcast(copies))
      .select(
        (col("l_orderkey") + col("c") * 100000000L).as("l_orderkey") +:
          (col("l_partkey") + col("c") * 100000000L).as("l_partkey") +:
          (col("l_suppkey") + col("c") * 100000000L).as("l_suppkey") +:
          t.lineitem.columns.filterNot(
            Set("l_orderkey", "l_partkey", "l_suppkey")).map(col): _*)
    liK.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/lineitem.parquet")
    val partK = t.part.crossJoin(broadcast(copies))
      .select((col("p_partkey") + col("c") * 100000000L)
        .as("p_partkey") +:
        t.part.columns.filter(_ != "p_partkey").map(col): _*)
    partK.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/part.parquet")

    java.nio.file.Files.writeString(marker, stamp)
  }
}
