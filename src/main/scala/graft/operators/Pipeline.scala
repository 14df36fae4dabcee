package graft.operators

import graft.{QueryDef, Tables}
import graft.TopK.topKPerKey
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftshim.{shim => graftshim}

/** The composed END-TO-END curation pipeline — the deliverable a
  * training-data team actually runs nightly, assembled from the
  * already-verified stage operators:
  *
  *   quality score (t02) → canonical dedup (t04/d05 fingerprint) →
  *   benchmark decontamination (t10) → blocklist scrub (t08) →
  *   stratified sampling (t09)
  *
  * Output is the full per-document FUNNEL: one diagnostic pass-bit per
  * stage (each computed independently over the corpus, the way
  * production funnels log per-stage acceptance) plus `final_keep` —
  * their conjunction, the rows that ship — and the scrubbed-text md5
  * for the survivors' payload lineage.
  *
  * Scale shape (the whole pipeline, at 100 TB):
  *   - quality, scrub, sample: per-row projections, fused into the
  *     scan pass by codegen — zero shuffles;
  *   - canonical dedup: ONE shuffle on the 16-byte fingerprint
  *     (window-min per fingerprint group);
  *   - decontamination: eval-side 5-gram set BROADCASTS (benchmarks
  *     are KBs); train side explodes map-side and never shuffles;
  *   - final assembly: joins on doc_id co-partition after the
  *     fingerprint exchange.
  * Nothing here is super-linear in corpus size.
  */
object Pipeline {

  private val toksExpr = "split(lower(trim(text)), '\\\\s+')"
  private val stoplist = "('the','a','of','and','to','in','is','it')"
  private val blockPat = "\\b(slow|error|big)\\b"
  // sits at the corpus's median score, so the gate genuinely splits
  // (≈52% pass at sf0.01) instead of passing or dropping everything
  private val QualityThreshold = 0.44

  /** p06's per-stratum quotas. The map-side prune literal is the MAX
    * of these by construction — a hand-repeated literal smaller than
    * a raised quota would silently truncate that stratum (the DuckDB
    * gate would catch it, but only at gate time). Declared BEFORE
    * `queries`: the oracle SQL interpolates them eagerly at object
    * init. */
  private[graft] val EnQuota = 100L
  private[graft] val OtherQuota = 40L
  private[graft] val MaxQuota = math.max(EnQuota, OtherQuota)

  /** p09's total token budget — the unit a training-run mixture is
    * actually specified in. Declared BEFORE `queries` (the p03
    * trap): the oracle SQL interpolates it eagerly at object init.
    * Doubles as the rank-prune literal: every doc has ≥ 1 token, so
    * a doc at per-language rank > budget can never satisfy
    * `cum_before < budget` — the WindowGroupLimit bound that keeps
    * the shuffle budget-bounded instead of corpus-bounded. */
  private[graft] val TokenBudget = 50000L

  val queries: Seq[QueryDef] = Seq(

    // ----- p01: the curation funnel over the training stripe
    // (doc_id % 10 != 0; the % 10 == 0 stripe is the held-out
    // benchmark that decontamination guards against).
    QueryDef(
      "p01_curation_pipeline",
      (s, d) => {
        graft.functions.Generators.register(s)
        val all = new Tables(s, d).documents
        val corpus = all.filter(col("doc_id") % 10 =!= 0)

        // stage 1+4+5 per-row columns: quality, scrub, sample gate
        val base = corpus
          .withColumn("toks", expr(toksExpr))
          .withColumn("n_tok", size(col("toks")))
          .withColumn("stop_ratio",
            expr(s"size(filter(toks, t -> t IN $stoplist))").cast("double")
              / col("n_tok"))
          .withColumn("punct_ratio",
            (length(col("text"))
              - length(regexp_replace(col("text"), "[.,;:!?]", "")))
              .cast("double") / length(col("text")))
          .withColumn("len_prior",
            least(lit(1.0), col("n_tok").cast("double") / lit(100.0)))
          .withColumn("quality_score",
            col("stop_ratio") * lit(0.5)
              + (lit(1.0) - col("punct_ratio")) * lit(0.3)
              + col("len_prior") * lit(0.2))
          .withColumn("fp",
            md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
          .withColumn("scrubbed_md5",
            md5(regexp_replace(col("text"), blockPat, "[BLOCKED]")))
          .withColumn("sampled",
            conv(substring(md5(concat(lit("samp:"),
              col("doc_id").cast("string"))), 1, 7), 16, 10).cast("long")
              % 100 < when(col("lang") === "en", 30L).otherwise(100L))

        // stage 2: canonical dedup — min doc_id per fingerprint
        val withCanon = base.withColumn("is_canonical",
          col("doc_id") === min(col("doc_id"))
            .over(Window.partitionBy(col("fp"))))

        // stage 3: decontamination vs the eval stripe (t10's shape;
        // corpus grams stay raw — dedup happens after the broadcast
        // join where only contaminated grams survive)
        def grams(df: org.apache.spark.sql.DataFrame) = df
          .select(col("doc_id"), expr("ngrams(text, 5)"))
          .select(col("doc_id"), md5(col("ngram")).as("g"))
        val evalG = grams(all.filter(col("doc_id") % 10 === 0))
          .select(col("g")).distinct()
        val contaminated = grams(corpus)
          .join(broadcast(evalG), "g")
          .select(col("doc_id")).distinct()
          .withColumn("hit", lit(true))

        withCanon
          .join(contaminated, Seq("doc_id"), "left")
          .withColumn("decontam_ok", col("hit").isNull)
          .withColumn("passed_quality",
            col("quality_score") >= QualityThreshold)
          .select(col("doc_id"), col("lang"), col("quality_score"),
            col("passed_quality"), col("is_canonical"),
            col("decontam_ok"), col("sampled"),
            (col("passed_quality") && col("is_canonical")
              && col("decontam_ok") && col("sampled")).as("final_keep"),
            col("scrubbed_md5"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH corpus AS (
          SELECT doc_id, lang, text FROM documents WHERE doc_id % 10 <> 0),
        q AS (SELECT doc_id, lang, text,
            stop_ratio * 0.5 + (1.0 - punct_ratio) * 0.3 + len_prior * 0.2
              AS quality_score,
            md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
            md5(regexp_replace(text, '$blockPat', '[BLOCKED]', 'g'))
              AS scrubbed_md5,
            ('0x' || substr(md5('samp:' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
              % 100 < CASE WHEN lang = 'en' THEN 30 ELSE 100 END AS sampled
          FROM (SELECT doc_id, lang, text,
              CAST(len(list_filter(toks, t -> t IN $stoplist)) AS DOUBLE)
                / n_tok AS stop_ratio,
              CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
                AS DOUBLE) / length(text) AS punct_ratio,
              least(1.0, CAST(n_tok AS DOUBLE) / 100.0) AS len_prior
            FROM (SELECT doc_id, lang, text,
                    string_split_regex(lower(trim(text)), '\\s+') AS toks,
                    len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tok
                  FROM corpus))),
        canon AS (SELECT doc_id,
            doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS is_canonical
          FROM q),
        grams AS (SELECT DISTINCT doc_id,
            md5(array_to_string(toks[i:i+4], ' ')) AS g
          FROM (SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\\s+') AS toks
                FROM documents),
               UNNEST(generate_series(1, len(toks) - 4)) AS u(i)),
        contaminated AS (SELECT DISTINCT tr.doc_id
          FROM (SELECT doc_id, g FROM grams WHERE doc_id % 10 <> 0) tr
          JOIN (SELECT g FROM grams WHERE doc_id % 10 = 0) ev USING (g))
        SELECT q.doc_id, q.lang, q.quality_score,
          q.quality_score >= $QualityThreshold AS passed_quality,
          c.is_canonical,
          con.doc_id IS NULL AS decontam_ok,
          q.sampled,
          (q.quality_score >= $QualityThreshold AND c.is_canonical
            AND con.doc_id IS NULL AND q.sampled) AS final_keep,
          q.scrubbed_md5
        FROM q
        JOIN canon c ON c.doc_id = q.doc_id
        LEFT JOIN contaminated con ON con.doc_id = q.doc_id
        ORDER BY q.doc_id""")),

    // ----- p02: SEQUENCE PACKING — the concatenate-and-chop step
    // that turns curated documents into fixed-budget training
    // sequences (GPT-style packing at document granularity): within
    // each md5-dealt shard (w03's deterministic deal), documents are
    // concatenated in doc_id order and chopped at 2048-token
    // boundaries; a document belongs to the pack its FIRST token
    // falls in. A single global running sum would be inherently
    // sequential — one partition, no parallelism at 100 TB — so the
    // running sum is PER SHARD (one window partition each, 8-way
    // here, N-way in production), making packing embarrassingly
    // parallel while staying bit-deterministic. One shuffle on the
    // shard key; the pack rollup rides the same partitioning.
    QueryDef(
      "p02_sequence_pack",
      (s, d) => new Tables(s, d).documents
        .select(col("doc_id"),
          size(expr(toksExpr)).cast("long").as("n_tok"))
        .withColumn("shard",
          (conv(substring(md5(concat(lit("shard:"),
            col("doc_id").cast("string"))), 1, 7), 16, 10)
            .cast("long") % 8).cast("int"))
        .withColumn("cum", sum(col("n_tok")).over(
          Window.partitionBy(col("shard")).orderBy(col("doc_id"))))
        .withColumn("pack_id", expr("(cum - n_tok) div 2048"))
        .groupBy(col("shard"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("shard"), col("pack_id")),
      Some("""WITH toksn AS (
          SELECT doc_id,
            CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)
              AS n_tok
          FROM documents),
        dealt AS (SELECT doc_id, n_tok,
            CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)),
              1, 7))::BIGINT % 8 AS INT) AS shard
          FROM toksn),
        packed AS (SELECT shard, doc_id, n_tok,
            CAST((SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id)
              - n_tok) // 2048 AS BIGINT) AS pack_id
          FROM dealt)
        SELECT shard, pack_id, COUNT(*) AS n_docs,
          CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
          MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM packed GROUP BY shard, pack_id ORDER BY shard, pack_id""")),

    // ----- p03: DOMAIN MIXTURE weights — temperature-based sampling
    // across languages (the multilingual-corpus alpha-sampling rule:
    // weight proportional to n^alpha with alpha = 0.5, so low-resource
    // domains are upsampled relative to their share). Cross-engine
    // determinism: sqrt is IEEE-correctly-rounded in both engines, the
    // weight is then FLOORED to an integer at 1e6 scale (floor is
    // exact; no decimal rounding-mode dependence), integer weights sum
    // exactly in any order, and every ratio is a single double
    // division.
    // Scale: one hash aggregate over the corpus to 5 rows, then
    // arithmetic on the 5-row side — the scalar total is a broadcast,
    // not a shuffle.
    QueryDef(
      "p03_domain_mixture",
      (s, d) => {
        val perLang = new Tables(s, d).documents
          .withColumn("toks", expr(toksExpr))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(size(col("toks")).cast("long")).as("n_tokens"))
          .withColumn("w_scaled",
            floor(sqrt(col("n_docs").cast("double")) * lit(1e6))
              .cast("long"))
        val total = perLang.agg(sum(col("w_scaled")).as("w_total"))
        perLang.crossJoin(total) // 5x1 scalar combine
          .withColumn("sample_share",
            col("w_scaled").cast("double") / col("w_total"))
          .withColumn("docs_per_epoch",
            floor(col("sample_share") * lit(100000.0)).cast("long"))
          .select(col("lang"), col("n_docs"), col("n_tokens"),
            col("w_scaled"), col("sample_share"), col("docs_per_epoch"))
          .orderBy(col("lang"))
      },
      Some("""WITH per_lang AS (
          SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(len(string_split_regex(lower(trim(text)), '\s+')))
              AS BIGINT) AS n_tokens
          FROM documents GROUP BY lang),
        weighted AS (
          SELECT lang, n_docs, n_tokens,
            CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1e6) AS BIGINT)
              AS w_scaled
          FROM per_lang)
        SELECT lang, n_docs, n_tokens, w_scaled,
          CAST(w_scaled AS DOUBLE)
            / (SELECT CAST(sum(w_scaled) AS BIGINT) FROM weighted)
            AS sample_share,
          CAST(floor(CAST(w_scaled AS DOUBLE)
            / (SELECT CAST(sum(w_scaled) AS BIGINT) FROM weighted)
            * 100000.0) AS BIGINT) AS docs_per_epoch
        FROM weighted ORDER BY lang"""))
  ,

    // ----- p04: TRAIN/VAL/TEST SPLIT + NEAR-DUP LEAKAGE AUDIT — the
    // split step every training pipeline runs, plus the check t10's
    // exact n-gram decontamination can't make: a VAL/TEST document
    // whose near-duplicate sits in TRAIN leaks the answer even though
    // no exact n-gram crosses. Assignment is a deterministic hash
    // split on document identity (md5('split:'||doc_id) first hex
    // digit: 0-b train 12/16, c-d val 2/16, e-f test 2/16 — no RNG
    // state to ship, any engine re-derives it); the audit joins the
    // VERIFIED near-dup pair relation (d02's df-capped shingle
    // jaccard >= 0.5) against both endpoints' splits and rolls up
    // counts per unordered split pair. Cross-split rows with
    // n_pairs > 0 are the leakage report; the fixes are d08's scrub
    // (drop the dups) or p10's by-CLUSTER re-assignment (keep them,
    // quarantined to one side of the eval boundary) — both shipped.
    // Scale: the pair relation is the d02 machinery (linear, df-cap
    // bounded); the split column is a per-row projection; the rollup
    // is 6 groups. Nothing new shuffles at 100 TB.
    QueryDef(
      "p04_split_leakage",
      (s, d) => {
        val splitExpr = expr(
          """CASE WHEN substring(md5(concat('split:',
               cast(doc_id as string))), 1, 1) < 'c' THEN 'train'
             WHEN substring(md5(concat('split:',
               cast(doc_id as string))), 1, 1) < 'e' THEN 'val'
             ELSE 'test' END""")
        val splits = new Tables(s, d).documents
          .select(col("doc_id"), splitExpr.as("split"))
        val sizes = splits.groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"))
        val pairs = Dedup.jaccardPairs(s, d)
          .filter(col("jaccard") >= 0.5)
          .join(splits.select(col("doc_id").as("id_a"),
            col("split").as("sa")), "id_a")
          .join(splits.select(col("doc_id").as("id_b"),
            col("split").as("sb")), "id_b")
          .groupBy(least(col("sa"), col("sb")).as("split_a"),
            greatest(col("sa"), col("sb")).as("split_b"))
          .agg(count(lit(1)).as("n_pairs"))
        import s.implicits._
        val combos = Seq("test", "train", "val")
          .combinations(2).map(c => (c(0), c(1))).toSeq
          .++(Seq(("test", "test"), ("train", "train"), ("val", "val")))
          .toDF("split_a", "split_b")
        combos
          .join(pairs, Seq("split_a", "split_b"), "left")
          .join(sizes.withColumnRenamed("split", "split_a")
            .withColumnRenamed("n_docs", "n_docs_a"), "split_a")
          .join(sizes.withColumnRenamed("split", "split_b")
            .withColumnRenamed("n_docs", "n_docs_b"), "split_b")
          .select(col("split_a"), col("split_b"),
            col("n_docs_a"), col("n_docs_b"),
            coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
            (col("split_a") =!= col("split_b")
              && coalesce(col("n_pairs"), lit(0L)) > 0).as("leaky"))
          .orderBy(col("split_a"), col("split_b"))
      },
      Some(s"""WITH ${Dedup.jaccardPairsSql()},
        splits AS (SELECT doc_id,
            CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1)
                   < 'c' THEN 'train'
                 WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1)
                   < 'e' THEN 'val'
                 ELSE 'test' END AS split
          FROM documents),
        sizes AS (SELECT split, COUNT(*) AS n_docs FROM splits
                  GROUP BY split),
        sp AS (SELECT LEAST(a.split, b.split) AS split_a,
            GREATEST(a.split, b.split) AS split_b, COUNT(*) AS n_pairs
          FROM jac j
          JOIN splits a ON a.doc_id = j.id_a
          JOIN splits b ON b.doc_id = j.id_b
          WHERE j.jaccard >= 0.5
          GROUP BY 1, 2),
        combos(split_a, split_b) AS (VALUES
          ('test', 'train'), ('test', 'val'), ('train', 'val'),
          ('test', 'test'), ('train', 'train'), ('val', 'val'))
        SELECT c.split_a, c.split_b, sa.n_docs AS n_docs_a,
          sb.n_docs AS n_docs_b,
          CAST(COALESCE(sp.n_pairs, 0) AS BIGINT) AS n_pairs,
          c.split_a <> c.split_b AND COALESCE(sp.n_pairs, 0) > 0 AS leaky
        FROM combos c
        JOIN sizes sa ON sa.split = c.split_a
        JOIN sizes sb ON sb.split = c.split_b
        LEFT JOIN sp ON sp.split_a = c.split_a AND sp.split_b = c.split_b
        ORDER BY c.split_a, c.split_b""")),

    // ----- p05: CLUSTER-BALANCED SAMPLE — diversity-aware subset
    // selection over the embedding space (the SemDeDup-adjacent
    // "don't let one dense mode dominate the sample" step): every
    // vector is assigned to its nearest of 8 LLOYD-TRAINED centroids
    // (s08's one-round k-means, shared via Similarity.lloydCentroids
    // — the r17 VERDICT item 3: on skewed embedding distributions
    // untrained seed centroids made "cluster-balanced" closer to
    // "hash-balanced"; trained means track the actual modes), then
    // each cluster contributes an EQUAL quota of 16, picked by
    // deterministic md5 order (t09's RNG-free discipline). A plain
    // md5 sample of the same total size would apportion by cluster
    // mass; the quota caps every mode at 16. ClusterBalanceSpec pins
    // the balance property on a skewed synthetic mode.
    // Scale: one extra broadcast round for the training pass
    // (centroids broadcast, k tiny; the update is one shuffle keyed
    // (cluster, dim)); assignment stays map-side; the per-cluster
    // pick is rank<=quota over the cid key — Spark's WindowGroupLimit
    // pushes the top-k down map-side, so the 8-key skew never
    // materializes a full per-cluster sort.
    QueryDef(
      "p05_cluster_balanced_sample",
      (s, d) => {
        graft.functions.VectorFunctions.register(s)
        val e = new Tables(s, d).embeddings
          .withColumn("nrm", expr("vec_norm(embedding)"))
          .select(col("vec_id"), col("embedding").as("v"), col("nrm"))
        val assigned = graft.operators.Similarity
          .lloydAssign(e, graft.operators.Similarity.lloydCentroids(e))
          .select(col("vec_id"), col("cid"),
            md5(concat(lit("p05:"), col("vec_id").cast("string")))
              .as("gate"))
        topKPerKey(assigned, Seq(col("cid")),
            Seq(col("gate"), col("vec_id")), 16, "pick_rank")
          .select(col("cid"), col("pick_rank").cast("long").as("pick_rank"),
            col("vec_id"))
          .orderBy(col("cid"), col("pick_rank"))
      },
      Some(s"""WITH e AS (SELECT vec_id, v,
            sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
          FROM (SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings)),
        ${graft.operators.Similarity.lloydCtesSql("e")},
        assigned AS (SELECT vec_id, cid,
            md5('p05:' || CAST(vec_id AS VARCHAR)) AS gate
          FROM (SELECT e.vec_id, c1.cid,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                list_sum(list_transform(list_zip(e.v, c1.c),
                  t -> t[1] * t[2])) / (e.nrm * c1.cnrm) DESC,
                c1.cid) AS rn
            FROM e, cent1 c1)
          WHERE rn = 1)
        SELECT cid, CAST(pick_rank AS BIGINT) AS pick_rank, vec_id FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY cid
            ORDER BY gate, vec_id) AS pick_rank FROM assigned)
        WHERE pick_rank <= 16 ORDER BY cid, pick_rank""")),

    // ----- p06: EXACT-QUOTA stratified sample — the mixture contract
    // a training run actually signs ("exactly 100 en docs, exactly 40
    // per other language"), which t09's Bernoulli hash-gate cannot
    // honor (it delivers rate·n only in expectation). Per stratum,
    // rank documents by a salted md5 (deterministic, reproducible,
    // uncorrelated with any content attribute) and keep rank ≤ quota;
    // strata smaller than their quota surface whole.
    // Scale: ONE shuffle on the stratum key; Spark's WindowGroupLimit
    // prunes to quota rows per stratum MAP-SIDE before the exchange,
    // so the shuffle carries O(|strata| · quota), not the corpus —
    // the same physical shape as q66/p05 (verified in PLANS.md §q66).
    // The md5 rank also makes the sample STABLE under corpus append:
    // a new document displaces at most one incumbent per stratum,
    // never reshuffles the whole sample (rand() reshuffles every run).
    QueryDef(
      "p06_exact_quota_sample",
      (s, d) => {
        val docs = new Tables(s, d).documents
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("gate"), col("doc_id"))
        // the rank prune must compare against a LITERAL (the max
        // quota) for InferWindowGroupLimit to fire — a rank <= column
        // predicate plans a full per-stratum sort+shuffle; the exact
        // per-stratum quota then filters the pruned survivors
        // (QuotaSampleSpec asserts the WindowGroupLimit is present).
        // The literal is DERIVED ([[MaxQuota]]), so raising a quota
        // can never silently truncate the sample.
        docs
          .withColumn("gate",
            md5(concat(lit("quota:"), col("doc_id").cast("string"))))
          .withColumn("quota",
            when(col("lang") === "en", EnQuota).otherwise(OtherQuota))
          .withColumn("samp_rank", row_number().over(w).cast("long"))
          .filter(col("samp_rank") <= MaxQuota &&
            col("samp_rank") <= col("quota"))
          .select(col("lang"), col("samp_rank"), col("doc_id"))
          .orderBy(col("lang"), col("samp_rank"))
      },
      Some(s"""SELECT lang, samp_rank, doc_id FROM (
          SELECT lang, doc_id,
            CAST(ROW_NUMBER() OVER (PARTITION BY lang
              ORDER BY md5('quota:' || CAST(doc_id AS VARCHAR)), doc_id)
              AS BIGINT) AS samp_rank,
            CASE WHEN lang = 'en' THEN $EnQuota ELSE $OtherQuota END AS quota
          FROM documents)
        WHERE samp_rank <= quota
        ORDER BY lang, samp_rank""")),

    // ----- p09: TOKEN-BUDGET MIXTURE SAMPLE — the mixture contract
    // in the unit a training run is actually specified in: TOKENS,
    // not documents (p03 derives per-domain shares, p06 honors doc
    // quotas; a "1B-token en / 200M-token fr" spec is neither). Each
    // language's integer-exact budget is its p03-style temperature
    // share of [[TokenBudget]] (w ∝ floor(√n_docs·1e6), budget =
    // B·w div Σw — BIGINT arithmetic both engines); within each
    // language, docs rank by the salted-md5 stable order (p06's
    // discipline: reproducible, content-uncorrelated, append-stable)
    // and the greedy prefix fills the budget — a doc ships iff the
    // tokens BEFORE it leave budget room (the p02 packing
    // convention: the boundary doc ships, overshoot < one doc).
    // Scale: every doc has ≥ 1 token, so rank > budget can never
    // ship — the rank ≤ B literal prune (p06's WindowGroupLimit
    // shape) bounds the per-language sort+shuffle by the BUDGET, not
    // the corpus; the running token sum then evaluates over the
    // pruned prefix only (identical values: pruning keeps a rank
    // prefix). Budgets are a 5×1 scalar combine broadcast back.
    QueryDef(
      "p09_token_budget_mix",
      (s, d) => {
        // the rank prune only rewrites to a WindowGroupLimit when the
        // literal is at or below the optimizer threshold (default
        // 1000) — the HARNESS session defaults raise it to
        // [[TokenBudget]] ([[graft.Harness.session]];
        // CONFIGURATION.md "Token-budget mixtures"). The builder
        // itself never mutates session conf (a r17 ADVICE item: a
        // silent in-builder set leaked an altered optimizer threshold
        // into every later query's plan). Without the conf the plan
        // is still CORRECT, just corpus-bounded instead of
        // budget-bounded; TokenBudgetSpec pins both properties.
        val docs = new Tables(s, d).documents
          .select(col("doc_id"), col("lang"),
            size(expr(toksExpr)).cast("long").as("n_tok"))
        val perLang = docs.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("w_scaled",
            floor(sqrt(col("n_docs").cast("double")) * lit(1e6))
              .cast("long"))
        val budgets = perLang
          .crossJoin(perLang.agg(sum(col("w_scaled")).as("w_total")))
          .select(col("lang"),
            expr(s"(cast($TokenBudget as bigint) * w_scaled)" +
              " div w_total").as("budget"))
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("gate"), col("doc_id"))
        docs
          .withColumn("gate",
            md5(concat(lit("budget:"), col("doc_id").cast("string"))))
          .withColumn("samp_rank", row_number().over(w).cast("long"))
          .filter(col("samp_rank") <= lit(TokenBudget))
          .withColumn("cum_tok",
            sum(col("n_tok")).over(w.rowsBetween(
              Window.unboundedPreceding, Window.currentRow)))
          .join(broadcast(budgets), "lang")
          .filter(col("cum_tok") - col("n_tok") < col("budget"))
          .select(col("lang"), col("samp_rank"), col("doc_id"),
            col("n_tok"), col("cum_tok"), col("budget"))
          .orderBy(col("lang"), col("samp_rank"))
      },
      Some(s"""WITH docs AS (SELECT doc_id, lang,
            CAST(len(string_split_regex(lower(trim(text)), '\\s+'))
              AS BIGINT) AS n_tok,
            md5('budget:' || CAST(doc_id AS VARCHAR)) AS gate
          FROM documents),
        per_lang AS (SELECT lang, count(*) AS n_docs
          FROM docs GROUP BY lang),
        wts AS (SELECT lang,
            CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1e6) AS BIGINT)
              AS w_scaled
          FROM per_lang),
        bud AS (SELECT lang,
            (CAST($TokenBudget AS BIGINT) * w_scaled)
              // (SELECT CAST(SUM(w_scaled) AS BIGINT) FROM wts)
              AS budget
          FROM wts),
        ranked AS (SELECT lang, doc_id, n_tok,
            CAST(ROW_NUMBER() OVER (PARTITION BY lang
              ORDER BY gate, doc_id) AS BIGINT) AS samp_rank,
            CAST(SUM(n_tok) OVER (PARTITION BY lang
              ORDER BY gate, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_tok
          FROM docs)
        SELECT r.lang, samp_rank, doc_id, n_tok, cum_tok, b.budget
        FROM ranked r JOIN bud b ON b.lang = r.lang
        WHERE cum_tok - n_tok < b.budget
        ORDER BY r.lang, samp_rank""")),

    // ----- p10: LEAKAGE-FREE CLUSTER SPLIT — the FIX p04's audit
    // report points at ("re-assignment by CLUSTER (d07) instead of
    // by doc"), now built: assignment hashes the near-dup CLUSTER's
    // identity (d07's converged min-label) instead of the document's,
    // so every member of a near-dup cluster lands in the SAME split
    // and cross-split near-dup leakage is zero BY CONSTRUCTION — not
    // by scrubbing after the fact (d08's alternative drops the dups;
    // this keeps them but quarantines the cluster to one side of the
    // eval boundary, the choice that preserves training tokens).
    // Output is p04's audit matrix verbatim so the two reports
    // diff directly: same schema, cross-split n_pairs now 0 and
    // leaky false on every row (ClusterSplitSpec pins both, plus
    // that p04's by-doc split genuinely leaks on the same corpus).
    // Scale: d07's propagation (linear rounds over the verified edge
    // relation, already probed), one hash projection, the same
    // 6-group rollup; singleton docs are their own cluster, so the
    // split stays ~12/2/2 sixteenths.
    QueryDef(
      "p10_cluster_split",
      (s, d) => {
        val docsIds = new Tables(s, d).documents.select(col("doc_id"))
        val edges = Dedup.nearDupEdges(s, d).cache()
        val labels = Dedup.propagateLabels(docsIds, edges)._1
        edges.unpersist()
        val splitExpr = expr(
          """CASE WHEN substring(md5(concat('split:',
               cast(cluster_id as string))), 1, 1) < 'c' THEN 'train'
             WHEN substring(md5(concat('split:',
               cast(cluster_id as string))), 1, 1) < 'e' THEN 'val'
             ELSE 'test' END""")
        val splits = labels.select(col("doc_id"), splitExpr.as("split"))
        val sizes = splits.groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"))
        val pairs = Dedup.jaccardPairs(s, d)
          .filter(col("jaccard") >= 0.5)
          .join(splits.select(col("doc_id").as("id_a"),
            col("split").as("sa")), "id_a")
          .join(splits.select(col("doc_id").as("id_b"),
            col("split").as("sb")), "id_b")
          .groupBy(least(col("sa"), col("sb")).as("split_a"),
            greatest(col("sa"), col("sb")).as("split_b"))
          .agg(count(lit(1)).as("n_pairs"))
        import s.implicits._
        val combos = Seq("test", "train", "val")
          .combinations(2).map(c => (c(0), c(1))).toSeq
          .++(Seq(("test", "test"), ("train", "train"), ("val", "val")))
          .toDF("split_a", "split_b")
        combos
          .join(pairs, Seq("split_a", "split_b"), "left")
          .join(sizes.withColumnRenamed("split", "split_a")
            .withColumnRenamed("n_docs", "n_docs_a"), "split_a")
          .join(sizes.withColumnRenamed("split", "split_b")
            .withColumnRenamed("n_docs", "n_docs_b"), "split_b")
          .select(col("split_a"), col("split_b"),
            col("n_docs_a"), col("n_docs_b"),
            coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
            (col("split_a") =!= col("split_b")
              && coalesce(col("n_pairs"), lit(0L)) > 0).as("leaky"))
          .orderBy(col("split_a"), col("split_b"))
      },
      Some(s"""WITH RECURSIVE ${Dedup.jaccardPairsSql()},
        edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM jac
                    WHERE jaccard >= 0.5
                  UNION ALL
                  SELECT id_b, id_a FROM jac WHERE jaccard >= 0.5),
        reach(src, dst) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        lbl AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
                FROM reach GROUP BY src),
        splits AS (SELECT doc_id,
            CASE WHEN substr(md5('split:'
                   || CAST(cluster_id AS VARCHAR)), 1, 1)
                   < 'c' THEN 'train'
                 WHEN substr(md5('split:'
                   || CAST(cluster_id AS VARCHAR)), 1, 1)
                   < 'e' THEN 'val'
                 ELSE 'test' END AS split
          FROM lbl),
        sizes AS (SELECT split, COUNT(*) AS n_docs FROM splits
                  GROUP BY split),
        sp AS (SELECT LEAST(a.split, b.split) AS split_a,
            GREATEST(a.split, b.split) AS split_b, COUNT(*) AS n_pairs
          FROM jac j
          JOIN splits a ON a.doc_id = j.id_a
          JOIN splits b ON b.doc_id = j.id_b
          WHERE j.jaccard >= 0.5
          GROUP BY 1, 2),
        combos(split_a, split_b) AS (VALUES
          ('test', 'train'), ('test', 'val'), ('train', 'val'),
          ('test', 'test'), ('train', 'train'), ('val', 'val'))
        SELECT c.split_a, c.split_b, sa.n_docs AS n_docs_a,
          sb.n_docs AS n_docs_b,
          CAST(COALESCE(sp.n_pairs, 0) AS BIGINT) AS n_pairs,
          c.split_a <> c.split_b AND COALESCE(sp.n_pairs, 0) > 0 AS leaky
        FROM combos c
        JOIN sizes sa ON sa.split = c.split_a
        JOIN sizes sb ON sb.split = c.split_b
        LEFT JOIN sp ON sp.split_a = c.split_a AND sp.split_b = c.split_b
        ORDER BY c.split_a, c.split_b""")),

    // ----- p07: PERPLEXITY-TERCILE PARTITION — CCNet's language-model
    // quality bucketing (Wenzek et al. 2020, public): score every doc
    // with the corpus-trained LM (t18's bigram fluency, shared code),
    // split the corpus into head/middle/tail TERCILES of the score
    // distribution, keep head whole, sample middle at 50% (md5 gate,
    // reproducible), drop tail — the standard head+middle training
    // mix. Terciles are EXACT ORDER STATISTICS, not interpolated
    // percentiles: the rank-⌊n/3⌋ and rank-⌊2n/3⌋ (fluency, doc_id)
    // elements are located by a histogram pass, extracted by
    // ordering only the ONE bucket that holds them, and embedded as
    // plan LITERALS; interpolation would be engine-specific
    // float arithmetic (the w18 lesson), order statistics are exact
    // in both. Ties split by doc_id, so tercile SIZES are exactly
    // ⌊n/3⌋ / ⌊2n/3⌋−⌊n/3⌋ / rest, deterministically.
    // Scale: the fluency chain is t18's two map-side-combinable
    // shuffles; the thresholds cost one histogram aggregation plus
    // a single-bucket top-r over the cached scores; assignment is a
    // broadcast compare. No global sort, no global window, and no
    // GlobalLimit concentrating O(n) rows in one partition.
    QueryDef(
      "p07_perplexity_partition",
      (s, d) => {
        val fl = graft.operators.TextAnalysis.lmFluencyScores(s, d)
          .select(col("doc_id"), col("fluency")).cache()
        // exact rank-k selection WITHOUT concentrating k rows
        // anywhere AND without a min/max pre-pass: bucket by the top
        // 16 bits of the ORDER-PRESERVING bit image of fluency
        // (DoubleSortableBits — exact bit manipulation, provably
        // monotone, value-independent), so ONE aggregation job yields
        // the histogram, n (Σ counts — exact), and each bucket's
        // [min, max]. r19 paid a separate min/max job only to
        // parameterize value-uniform buckets; any deterministic
        // MONOTONE bucketing locates the same k-th (fluency, doc_id)
        // element, so the oracle's plain ROW_NUMBER derivation still
        // matches bit-for-bit. Only the ONE bucket holding the k-th
        // element is ordered; a bucket wider than RefineRows (sixteen
        // sortable-bit buckets per binade — possible only at extreme
        // scale or near-constant scores) is first narrowed by ONE
        // value-uniform sub-histogram over its recorded [min, max],
        // so no GlobalLimit ever concentrates more than ~RefineRows
        // rows (degenerate all-equal buckets excepted — r19's
        // value-uniform buckets concentrated those identically).
        val bitsCol = graftshim.column(graft.functions.DoubleSortableBits(
          graftshim.expression(col("fluency"))))
        val bCol = shiftright(bitsCol, 48)
        val hist = fl.groupBy(bCol.as("b"))
          .agg(count(lit(1)).as("cnt"), min(col("fluency")).as("mn"),
            max(col("fluency")).as("mx"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
            r.getDouble(3)))
          .sortBy(_._1)
        val n = hist.map(_._2).sum
        val RefineRows = 1L << 21
        // thresholds collect EAGERLY while fl is cached, then embed
        // as LITERALS — no broadcast join in the plan, and the
        // fluency chain is never re-evaluated at execution time.
        // Both tercile extractions ride ONE union'd job (r19 — the
        // r18 shape paid one driver barrier per threshold): each
        // branch is the same single-bucket top-r argmax, tagged by
        // its k so the collected rows map back.
        def rankBranch(k: Long): Option[org.apache.spark.sql.DataFrame] =
          if (k < 1) None
          else {
            var cum = 0L
            val (bStar, before0, cnt, bmn, bmx) = hist.collectFirst {
              case (b, c, mn, mx) if { cum += c; cum >= k } =>
                (b, cum - c, c, mn, mx)
            }.get
            val inB = fl.filter(bCol === bStar)
            val (scope, before) =
              if (cnt <= RefineRows || !(bmx > bmn)) (inB, before0)
              else {
                // scale-only refinement: value-uniform sub-histogram
                // over the hot bucket's recorded [min, max] (the r19
                // bucketing, scoped to one bucket)
                val B = 65536
                val sb = least(lit(B - 1), floor((col("fluency") - lit(bmn))
                  / (lit(bmx) - lit(bmn)) * lit(B))).cast("int")
                val sub = inB.groupBy(sb.as("sb")).count().collect()
                  .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
                var c2 = before0
                val (sbStar, sbBefore) = sub.collectFirst {
                  case (b2, c) if { c2 += c; c2 >= k } => (b2, c2 - c)
                }.get
                (inB.filter(sb === sbStar), sbBefore)
              }
            Some(scope
              .orderBy(col("fluency"), col("doc_id"))
              .limit((k - before).toInt)
              .agg(max(struct(col("fluency"), col("doc_id"))).as("t"))
              .select(lit(k).as("k"), col("t.fluency"), col("t.doc_id")))
          }
        val branches =
          Seq(n / 3, 2L * n / 3).distinct.flatMap(rankBranch)
        val thByK: Map[Long, (Double, Long)] =
          if (branches.isEmpty) Map.empty
          else branches.reduce(_.unionAll(_)).collect()
            .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2)))
            .toMap
        val t1 = thByK.get(n / 3)
        val t2 = thByK.get(2L * n / 3)
        def leTh(t: Option[(Double, Long)]) = t match {
          case Some((f, id)) => col("fluency") < lit(f) ||
            (col("fluency") === lit(f) && col("doc_id") <= lit(id))
          case None => lit(false)
        }
        fl.withColumn("bucket",
            when(leTh(t1), "tail")
            .when(leTh(t2), "middle")
            .otherwise("head"))
          .withColumn("keep", col("bucket") === "head" ||
            (col("bucket") === "middle" &&
              conv(substring(md5(concat(lit("ppl:"),
                col("doc_id").cast("string"))), 1, 7), 16, 10)
                .cast("long") % 100 < 50))
          .select(col("doc_id"), col("fluency"), col("bucket"),
            col("keep"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH ${graft.operators.TextAnalysis.lmFluencySqlCtes},
        fl AS (SELECT doc_id, tot / n_bigrams AS fluency FROM sc),
        nn AS (SELECT COUNT(*) AS n FROM fl),
        ranked AS (SELECT fluency, doc_id,
            ROW_NUMBER() OVER (ORDER BY fluency, doc_id) AS rn
          FROM fl),
        t1 AS (SELECT fluency AS f1, doc_id AS d1 FROM ranked
               WHERE rn = (SELECT n // 3 FROM nn)),
        t2 AS (SELECT fluency AS f2, doc_id AS d2 FROM ranked
               WHERE rn = (SELECT 2 * n // 3 FROM nn))
        SELECT f.doc_id, f.fluency,
          CASE WHEN d1 IS NOT NULL AND (f.fluency < f1
                 OR (f.fluency = f1 AND f.doc_id <= d1)) THEN 'tail'
               WHEN d2 IS NOT NULL AND (f.fluency < f2
                 OR (f.fluency = f2 AND f.doc_id <= d2)) THEN 'middle'
               ELSE 'head' END AS bucket,
          CASE WHEN d1 IS NOT NULL AND (f.fluency < f1
                 OR (f.fluency = f1 AND f.doc_id <= d1)) THEN FALSE
               WHEN d2 IS NOT NULL AND (f.fluency < f2
                 OR (f.fluency = f2 AND f.doc_id <= d2))
                 THEN ('0x' || substr(md5('ppl:' || f.doc_id), 1, 7))::BIGINT
                        % 100 < 50
               ELSE TRUE END AS keep
        FROM fl f LEFT JOIN t1 ON TRUE LEFT JOIN t2 ON TRUE
        ORDER BY f.doc_id"""),
      headline = true)
  ,

    // ----- p08: DSIR IMPORTANCE RESAMPLING — "Data Selection for
    // Language Models via Importance Resampling" (Xie et al. 2023,
    // arXiv:2302.03169, public): select raw-pool documents that look
    // like a small TARGET domain by scoring each document under a
    // hashed bag-of-words model of target vs raw, then resampling
    // with probability proportional to the importance weight. Target
    // here = the `lang = 'en'` slice (the high-quality-domain
    // stand-in); the raw model is the whole corpus. Every token
    // hashes to one of B=256 buckets (md5, the engine-portable hash
    // discipline), each bucket carries the add-1-smoothed probability
    // ratio r_b = (tc+1)(rtot+B) / ((rc+1)(ttot+B)), and a document's
    // weight is w = Σ (r_b − 1) over its tokens — the FIRST-ORDER
    // TAYLOR of the paper's Σ ln r_b at r=1 (ln r = (r−1) + O((r−1)²),
    // and hashed-bucket ratios sit near 1 by construction), kept
    // because ln() is not identically rounded across engines (t15's
    // unlogged-idf discipline): each ratio is ONE IEEE division of
    // exact-count products, floor-quantized to 1e-6, centered, and
    // summed as exact BIGINTs. The resample is integer-exact
    // Bernoulli with acceptance AFFINE in the weight — accept iff
    // u·(w_max−w_min) < (w−w_min)·2³², u the doc's 32-bit md5
    // uniform — the ln-free stand-in for the paper's exp(w)/Z
    // (monotone in w, so the selection ORDERING is the paper's; no
    // RNG state, any engine re-derives it; thresholding w_scaled
    // directly gives the paper's no-noise top-k variant).
    // Scale shape at 100 TB: tokenize+hash is map-only; the bucket
    // models are B=256-row aggregates with map-side partials that
    // BROADCAST back; the per-doc score is one doc_id-keyed
    // aggregation (map-side combinable); the global max and totals
    // are 1-row scalar combines. One data-sized shuffle total,
    // nothing super-linear.
    QueryDef(
      "p08_dsir_resample",
      (s, d) => {
        val bk = dsirBuckets(new Tables(s, d).documents)
          .cache() // feeds both models AND the per-doc score
        val sc = dsirWeights(bk, dsirModelFrom(bk))
        val mm = sc.agg(min(col("w_scaled")).as("wmin"),
          max(col("w_scaled")).as("wmax"))
        sc.crossJoin(broadcast(mm)) // 1-row global min/max
          .select(col("doc_id"), col("n_tok"), col("w_scaled"),
            dsirKeep(col("wmin"), col("wmax")).as("keep"))
          .orderBy(col("doc_id"))
      },
      Some(dsirOracleSql))
  )

  private val DsirB = 256L

  /** (doc_id, lang, b): every token of `docs` hashed to its DSIR
    * model bucket (md5 — the engine-portable hash). Shared by the
    * batch resample (p08) and the streaming admission gate (st21):
    * the model side feeds [[dsirModelFrom]]; the scoring side feeds
    * [[dsirWeights]] per document batch. */
  private[graft] def dsirBuckets(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), col("lang"),
        explode(expr(toksExpr)).as("term"))
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(concat(lit("dsir:"), col("term"))),
          1, 7), 16, 10).cast("long") % lit(DsirB)).as("b"))

  /** The 256-row DSIR bucket model from a CORPUS bucket frame:
    * centered, floor-quantized target/raw probability ratios
    * (p08's Scaladoc has the arithmetic contract). */
  private[graft] def dsirModelFrom(bk: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val rc = bk.groupBy(col("b")).agg(count(lit(1)).as("rcnt"))
    val tc = bk.filter(col("lang") === "en")
      .groupBy(col("b")).agg(count(lit(1)).as("tcnt"))
    val tot = bk.agg(count(lit(1)).as("rtot"),
      count(when(col("lang") === "en", 1)).as("ttot"))
    rc.join(tc, Seq("b"), "left")
      .na.fill(0L, Seq("tcnt"))
      .crossJoin(broadcast(tot)) // 1-row totals
      .select(col("b"), (floor(
        ((col("tcnt") + lit(1L)).cast("double")
          * (col("rtot") + lit(DsirB)).cast("double"))
        / ((col("rcnt") + lit(1L)).cast("double")
          * (col("ttot") + lit(DsirB)).cast("double"))
        * lit(1e6)).cast("long") - lit(1000000L)).as("lr"))
  }

  /** (doc_id, n_tok, w_scaled) for the documents in `bk`, scored
    * against a (broadcast) bucket model. */
  private[graft] def dsirWeights(bk: org.apache.spark.sql.DataFrame,
      model: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    bk.join(broadcast(model), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(col("lr")).as("w_scaled"))

  /** The integer-exact Bernoulli acceptance bit (affine in w; p08's
    * Scaladoc): expects a `doc_id` and `w_scaled` column in scope. */
  private[graft] def dsirKeep(wmin: org.apache.spark.sql.Column,
      wmax: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(concat(lit("dsirU:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long") * (wmax - wmin) <
      (col("w_scaled") - wmin) * lit(4294967296L)

  /** p08's DuckDB twin — also gates st21 (the streamed gate scores
    * each arriving doc against the same corpus-static model, so
    * per-doc answers are slicing-independent). A DEF, not a val: the
    * `queries` val above captures it at object init, BEFORE a val
    * declared down here would be assigned (the p03 trap — a val here
    * ships `Some(null)` as the oracle). */
  private[graft] def dsirOracleSql: String = """WITH tok AS (
          SELECT doc_id, lang,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
          FROM documents),
        bk AS (SELECT doc_id, lang,
            ('0x' || substr(md5('dsir:' || term), 1, 7))::BIGINT % 256
              AS b
          FROM tok),
        rc AS (SELECT b, COUNT(*) AS rcnt FROM bk GROUP BY b),
        tc AS (SELECT b, COUNT(*) AS tcnt FROM bk WHERE lang = 'en'
          GROUP BY b),
        tot AS (SELECT COUNT(*) AS rtot,
            COUNT(*) FILTER (lang = 'en') AS ttot FROM bk),
        model AS (SELECT b, CAST(floor(
            (CAST(COALESCE(tcnt, 0) + 1 AS DOUBLE)
              * CAST(rtot + 256 AS DOUBLE))
            / (CAST(rcnt + 1 AS DOUBLE) * CAST(ttot + 256 AS DOUBLE))
            * 1e6) AS BIGINT) - 1000000 AS lr
          FROM rc LEFT JOIN tc USING (b) CROSS JOIN tot),
        sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
            CAST(SUM(lr) AS BIGINT) AS w_scaled
          FROM bk JOIN model USING (b) GROUP BY doc_id),
        mm AS (SELECT MIN(w_scaled) AS wmin, MAX(w_scaled) AS wmax
          FROM sc)
        SELECT doc_id, n_tok, w_scaled,
          ('0x' || substr(md5('dsirU:' || CAST(doc_id AS VARCHAR)),
            1, 8))::BIGINT * (wmax - wmin)
            < (w_scaled - wmin) * 4294967296 AS keep
        FROM sc CROSS JOIN mm ORDER BY doc_id"""
}
