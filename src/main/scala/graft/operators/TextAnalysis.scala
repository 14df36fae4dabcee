package graft.operators

import graft.{GraftConf, QueryDef, Tables}
import graft.TopK.topKPerKey
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.LongType

/** Text-analysis operators for an LLM training-data pipeline, over the
  * `documents` table: token statistics, quality scoring, language-ID
  * (marker-word heuristic), and document fingerprinting.
  *
  * All per-document — embarrassingly parallel, no shuffle except the
  * explode+agg passes; at 100 TB these scale linearly with input and
  * are bounded by the parquet scan.
  *
  * Determinism: tokenization is `split(lower(trim(text)), '\s+')` in
  * both engines (Java regex and RE2 agree on \s+); integer counts are
  * exact; ratio divisions are single IEEE double ops.
  */
object TextAnalysis {

  /** tokens column expression shared by the queries below. */
  private val toksExpr = "split(lower(trim(text)), '\\\\s+')"

  /** Per-doc corpus-trained bigram fluency (t18's score):
    * (doc_id, n_bigrams, fluency) for every doc with ≥ 2 tokens.
    * Shared by t18 (threshold filter) and p07 (CCNet-style
    * perplexity-tercile partition). Two map-side-combinable shuffles
    * (bigram and unigram counts) + one per-doc aggregation; the
    * per-bigram probabilities sum position-ordered so the mean is
    * bit-identical cross-engine. */
  private[operators] def lmFluencyScores(s: SparkSession,
      d: String): DataFrame = {
    val big = new Tables(s, d).documents
      .withColumn("toks", expr(toksExpr))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(0, size(toks) - 2),
           i -> struct(toks[i] AS w1, toks[i+1] AS w2))"""))
        .as(Seq("pos", "bg")))
      .select(col("doc_id"), col("pos"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c2 = big.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    val c1 = big.groupBy(col("w1"))
      .agg(count(lit(1)).as("c1"))
    big.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .withColumn("p", col("c2").cast("double") / col("c1"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sort_array(collect_list(struct(col("pos"), col("p"))))
          .as("ps"))
      .select(col("doc_id"), col("n_bigrams"),
        (expr("""aggregate(ps, cast(0.0 as double),
           (acc, x) -> acc + x.p)""") / col("n_bigrams"))
          .as("fluency"))
  }

  /** DuckDB twin of [[lmFluencyScores]] as a CTE chain ending in
    * `sc(doc_id, n_bigrams, tot)` (fluency = tot / n_bigrams). */
  private[operators] val lmFluencySqlCtes: String =
    """toks AS (
          SELECT doc_id,
            string_split_regex(lower(trim(text)), '\s+') AS tk
          FROM documents),
        big AS (SELECT doc_id, i AS pos, tk[i+1] AS w1, tk[i+2] AS w2
          FROM toks, UNNEST(generate_series(0, len(tk) - 2)) AS u(i)
          WHERE len(tk) >= 2),
        c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY 1, 2),
        c1 AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY 1),
        sc AS (SELECT b.doc_id, COUNT(*) AS n_bigrams,
            list_sum(list(CAST(c2.c2 AS DOUBLE) / c1.c1
              ORDER BY b.pos)) AS tot
          FROM big b
          JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
          JOIN c1 ON c1.w1 = b.w1
          GROUP BY b.doc_id)"""
  private val stoplist = "('the','a','of','and','to','in','is','it')"

  /** t17's hashed-linear quality scorer as a reusable STAGE: adds
    * n_toks/wsum/score/keep to any frame with a `text` column and
    * drops token-less rows. A stateless codegen'd projection, so it
    * runs unchanged as a Structured Streaming stage — st14 gates the
    * document INGEST stream with exactly this frame. */
  private[graft] def qualityClassified(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val feats = 1024
    // per-token integer weight: bucket = low 10 bits of md5(tok),
    // weight = md5('w:'||bucket) scaled into [-1000, 1000]
    val wExpr =
      s"""aggregate(transform($toksExpr, t ->
            cast(conv(substring(md5(concat('w:',
              cast(conv(substring(md5(t), 1, 4), 16, 10) % $feats
                as string))), 1, 8), 16, 10) % 2001 - 1000
              as bigint)),
          cast(0 as bigint), (acc, x) -> acc + x)"""
    df.withColumn("n_toks", size(expr(toksExpr)).cast("long"))
      .filter(col("n_toks") >= 1)
      .withColumn("wsum", expr(wExpr))
      .withColumn("score",
        col("wsum").cast("double") / (col("n_toks") * 1000.0d))
      .withColumn("keep", col("score") > 0.0d)
  }

  /** The session whose confs the SQL-twin generator consults —
    * Similarity/Dedup's discipline: active first, default fallback. */
  private def sessionForOracle: Option[SparkSession] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)

  /** t13's boilerplate threshold as the SQL twin should embed it —
    * override-aware: a session `spark.graft.lineDedupDf` at
    * materialization time wins, else the default 3. */
  private def resolvedLineDedupDf: Int =
    sessionForOracle
      .map(s => GraftConf.int(s, GraftConf.LineDedupDfKey, 3))
      .getOrElse(3)

  // a DEF, not a val: the override-aware twin (t13) must re-resolve
  // session confs at materialization time, not freeze at class load
  def queries: Seq[QueryDef] = Seq(

    // ----- t01: token counting — whitespace tokens and a word-regex
    // token count (a cheap BPE-ish proxy), plus average token length.
    QueryDef(
      "t01_token_stats",
      (s, d) => new Tables(s, d).documents
        .withColumn("toks", expr(toksExpr))
        .select(
          col("doc_id"),
          size(col("toks")).cast(LongType).as("n_ws_tokens"),
          size(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
            .cast(LongType).as("n_alpha_tokens"),
          length(col("text")).cast(LongType).as("n_chars"),
          (expr("aggregate(transform(toks, t -> length(t)), 0, (acc, x) -> acc + x)")
            .cast("double") / size(col("toks"))).as("avg_token_len"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
          CAST(len(toks) AS BIGINT) AS n_ws_tokens,
          CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT)
            AS n_alpha_tokens,
          CAST(length(text) AS BIGINT) AS n_chars,
          CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
            / len(toks) AS avg_token_len
        FROM (SELECT doc_id, text,
                string_split_regex(lower(trim(text)), '\s+') AS toks
              FROM documents)
        ORDER BY doc_id"""),
      headline = true),

    // ----- t02: quality scoring — stopword ratio, punctuation ratio,
    // length prior; one weighted score per document.
    QueryDef(
      "t02_quality_score",
      (s, d) => new Tables(s, d).documents
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
        .select(col("doc_id"), col("n_tok").cast(LongType).as("n_tok"),
          col("stop_ratio"), col("punct_ratio"), col("len_prior"),
          (col("stop_ratio") * lit(0.5)
            + (lit(1.0) - col("punct_ratio")) * lit(0.3)
            + col("len_prior") * lit(0.2)).as("quality_score"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
          stop_ratio, punct_ratio, len_prior,
          stop_ratio * 0.5 + (1.0 - punct_ratio) * 0.3 + len_prior * 0.2
            AS quality_score
        FROM (SELECT doc_id, n_tok,
            CAST(len(list_filter(toks, t -> t IN $stoplist)) AS DOUBLE)
              / n_tok AS stop_ratio,
            CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
              AS DOUBLE) / length(text) AS punct_ratio,
            least(1.0, CAST(n_tok AS DOUBLE) / 100.0) AS len_prior
          FROM (SELECT doc_id, text,
                  string_split_regex(lower(trim(text)), '\\s+') AS toks,
                  len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tok
                FROM documents))
        ORDER BY doc_id""")),

    // ----- t03: language-ID — marker-word voting (n-gram-heuristic
    // family). Explode tokens, broadcast-join a tiny marker dim, take
    // the argmax language per doc (ties broken by language code).
    // At scale: the marker dim broadcasts; one shuffle on doc_id.
    QueryDef(
      "t03_lang_id",
      (s, d) => {
        val spark = s
        import spark.implicits._
        val docs = new Tables(s, d).documents
        val markers = Seq(
          ("the", "en"), ("a", "en"), ("fast", "en"), ("value", "en"),
          ("data", "de"), ("hash", "de"), ("batch", "de"),
          ("stream", "fr"), ("merge", "fr"), ("line", "fr"),
          ("query", "es"), ("sort", "es"), ("filter", "es"),
          ("spark", "zh"), ("window", "zh"), ("scan", "zh"))
          .toDF("marker", "marker_lang")
        val votes = docs
          .select(col("doc_id"), explode(expr(toksExpr)).as("tok"))
          .join(broadcast(markers), col("tok") === col("marker"))
          .groupBy(col("doc_id"), col("marker_lang"))
          .agg(count(lit(1)).as("votes"))
        val top = topKPerKey(votes, Seq(col("doc_id")),
            Seq(col("votes").desc, col("marker_lang")), 1, "rn")
          .select(col("doc_id"), col("marker_lang").as("pred_lang"),
            col("votes"))
        docs.select(col("doc_id"), col("lang").as("true_lang"))
          .join(top, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("pred_lang"), lit("und")).as("pred_lang"),
            coalesce(col("votes"), lit(0L)).as("votes"),
            col("true_lang"),
            (coalesce(col("pred_lang"), lit("und")) === col("true_lang"))
              .as("is_match"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH markers(marker, marker_lang) AS (VALUES
          ('the','en'),('a','en'),('fast','en'),('value','en'),
          ('data','de'),('hash','de'),('batch','de'),
          ('stream','fr'),('merge','fr'),('line','fr'),
          ('query','es'),('sort','es'),('filter','es'),
          ('spark','zh'),('window','zh'),('scan','zh')),
        tok AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
                FROM documents),
        votes AS (SELECT doc_id, marker_lang, COUNT(*) AS votes
                  FROM tok JOIN markers ON tok = marker
                  GROUP BY doc_id, marker_lang),
        top AS (SELECT doc_id, marker_lang AS pred_lang, votes FROM (
                  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                    ORDER BY votes DESC, marker_lang) AS rn FROM votes)
                WHERE rn = 1)
        SELECT d.doc_id,
          COALESCE(top.pred_lang, 'und') AS pred_lang,
          COALESCE(top.votes, 0) AS votes,
          d.lang AS true_lang,
          COALESCE(top.pred_lang, 'und') = d.lang AS is_match
        FROM documents d LEFT JOIN top ON d.doc_id = top.doc_id
        ORDER BY d.doc_id""")),

    // ----- t04: document fingerprinting — md5 of the whitespace-
    // normalized text (exact fingerprint) and of the sorted token bag
    // (order-insensitive fingerprint; catches shuffled near-dups).
    QueryDef(
      "t04_fingerprint",
      (s, d) => new Tables(s, d).documents
        .withColumn("norm",
          regexp_replace(lower(trim(col("text"))), "\\s+", " "))
        .select(
          col("doc_id"),
          md5(col("norm")).as("fp_exact"),
          md5(expr("array_join(array_sort(split(norm, ' ')), ' ')"))
            .as("fp_bag"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
          md5(norm) AS fp_exact,
          md5(array_to_string(list_sort(string_split(norm, ' ')), ' '))
            AS fp_bag
        FROM (SELECT doc_id,
                regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
              FROM documents)
        ORDER BY doc_id""")),

    // ----- t06: most distinctive term per document — the TF-IDF idea
    // with a division-exact score (tf/df is ONE IEEE divide, identical
    // across engines; a log-based idf would risk ulp drift). Two
    // shuffles — (doc, term) for tf, (term) for df — then a window on
    // doc_id; all linear in corpus size, the corpus-statistics join
    // shape every retrieval pipeline needs.
    QueryDef(
      "t06_distinctive_terms",
      (s, d) => {
        val tok = new Tables(s, d).documents
          .select(col("doc_id"), explode(expr(toksExpr)).as("term"))
        val tf = tok.groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
        val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        topKPerKey(tf.join(df, "term")
            .withColumn("score", col("tf").cast("double") / col("df")),
            Seq(col("doc_id")), Seq(col("score").desc, col("term")), 1, "rn")
          .select(col("doc_id"), col("term"), col("tf"), col("df"),
            col("score"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tok AS (
          SELECT doc_id,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
          FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1)
        SELECT doc_id, term, tf, df, score FROM (
          SELECT tf.doc_id, tf.term, tf.tf, df.df,
            CAST(tf.tf AS DOUBLE) / df.df AS score,
            ROW_NUMBER() OVER (PARTITION BY tf.doc_id
              ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, tf.term) AS rn
          FROM tf JOIN df USING (term))
        WHERE rn = 1 ORDER BY doc_id""")),

    // ----- t07: corpus vocabulary statistics — total/distinct tokens,
    // hapax legomena, type-token ratio, and coverage of the top-10
    // terms: the data-quality dashboard numbers for a training corpus.
    // Two aggregations over one token explode; the ratio divisions are
    // single IEEE ops over exact integer counts.
    QueryDef(
      "t07_vocab_stats",
      (s, d) => {
        val tok = new Tables(s, d).documents
          .select(explode(expr(toksExpr)).as("term"))
        val counts = tok.groupBy(col("term")).agg(count(lit(1)).as("tf"))
        val top10 = topKPerKey(counts, Seq(),
            Seq(col("tf").desc, col("term")), 10, "rn")
          .agg(sum(col("tf")).as("top10_tokens"))
        counts.agg(
            sum(col("tf")).as("total_tokens"),
            count(lit(1)).as("vocab_size"),
            count_if(col("tf") === 1).as("n_hapax"))
          .crossJoin(top10)
          .select(col("total_tokens"), col("vocab_size"), col("n_hapax"),
            (col("vocab_size").cast("double") / col("total_tokens"))
              .as("type_token_ratio"),
            (col("top10_tokens").cast("double") / col("total_tokens"))
              .as("top10_coverage"))
      },
      Some("""WITH tok AS (
          SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
          FROM documents),
        counts AS (SELECT term, COUNT(*) AS tf FROM tok GROUP BY term),
        top10 AS (SELECT SUM(tf) AS top10_tokens FROM (
          SELECT tf, ROW_NUMBER() OVER (ORDER BY tf DESC, term) AS rn
          FROM counts) WHERE rn <= 10)
        SELECT CAST(SUM(tf) AS BIGINT) AS total_tokens,
          COUNT(*) AS vocab_size,
          CAST(COUNT_IF(tf = 1) AS BIGINT) AS n_hapax,
          CAST(COUNT(*) AS DOUBLE) / CAST(SUM(tf) AS BIGINT)
            AS type_token_ratio,
          CAST((SELECT top10_tokens FROM top10) AS DOUBLE)
            / CAST(SUM(tf) AS BIGINT) AS top10_coverage
        FROM counts""")),

    // ----- t08: blocklist filtering + redaction — the safety-scrub
    // stage of a training-data pipeline: count blocklisted-term hits
    // per document (word-boundary regex, so 'slow' never matches
    // inside 'slowly'), decide keep/drop, and REDACT the hits; the
    // redacted text is verified via its md5, which proves the
    // replacement is byte-identical, not just counted. Per-document,
    // shuffle-free; the same shape scrubs PII (emails/phones) with the
    // pattern swapped.
    QueryDef(
      "t08_blocklist_scrub",
      (s, d) => {
        val pat = "\\b(slow|error|big)\\b"
        new Tables(s, d).documents
          .withColumn("n_blocked", regexp_count(col("text"), lit(pat)))
          .withColumn("scrubbed",
            regexp_replace(col("text"), pat, "[BLOCKED]"))
          .select(col("doc_id"), col("n_blocked").cast("long").as("n_blocked"),
            (col("n_blocked") === 0).as("is_clean"),
            md5(col("scrubbed")).as("scrubbed_md5"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
          CAST(len(regexp_extract_all(text, '\b(slow|error|big)\b'))
            AS BIGINT) AS n_blocked,
          len(regexp_extract_all(text, '\b(slow|error|big)\b')) = 0
            AS is_clean,
          md5(regexp_replace(text, '\b(slow|error|big)\b', '[BLOCKED]', 'g'))
            AS scrubbed_md5
        FROM documents ORDER BY doc_id""")),

    // ----- t09: STRATIFIED SAMPLING — deterministic hash-gated
    // downsampling per language, the rebalancing step a training-data
    // pipeline runs between scrub and tokenize (here: dominant `en`
    // kept at 30%, minority languages at 100%). The gate is an
    // md5-derived uniform bucket, NOT rand(): reproducible across
    // runs/engines, stable under re-partitioning, and at 100 TB it
    // needs no shuffle at all — a per-row projection + filter that
    // pushes past the scan. Oracle mirrors the same md5 arithmetic.
    QueryDef(
      "t09_stratified_sample",
      (s, d) => new Tables(s, d).documents
        .withColumn("bucket",
          conv(substring(md5(concat(lit("samp:"),
            col("doc_id").cast("string"))), 1, 7), 16, 10).cast("long")
            % 100)
        .withColumn("rate",
          when(col("lang") === "en", 30L).otherwise(100L))
        .select(col("doc_id"), col("lang"), col("bucket"),
          (col("bucket") < col("rate")).as("sampled"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, lang, bucket, bucket < rate AS sampled
        FROM (SELECT doc_id, lang,
            ('0x' || substr(md5('samp:' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
              % 100 AS bucket,
            CASE WHEN lang = 'en' THEN 30 ELSE 100 END AS rate
          FROM documents)
        ORDER BY doc_id""")),

    // ----- t10: BENCHMARK DECONTAMINATION — the n-gram-overlap scrub
    // every serious training run applies before the data ships (the
    // GPT-3 appendix-C shape): any training document sharing a word
    // 5-gram with a held-out eval document (here the doc_id % 10 == 0
    // stripe) is flagged. Shape at 100 TB: the eval side is tiny by
    // construction (benchmarks are KBs, corpora are TBs) — its
    // DISTINCT 5-gram set BROADCASTS, so the train side never
    // shuffles: explode → hash → broadcast-hash-join → one shuffle
    // on doc_id for the per-doc rollup. Joining on md5(ngram) keeps
    // the broadcast map compact (16 bytes/key vs arbitrary-length
    // text). Clean docs surface with zero counts via the left join —
    // the decontaminated corpus is `WHERE keep`.
    QueryDef(
      "t10_decontaminate",
      (s, d) => {
        graft.functions.Generators.register(s)
        val docs = new Tables(s, d).documents
        def grams(df: org.apache.spark.sql.DataFrame) = df
          .select(col("doc_id"), expr("ngrams(text, 5)"))
          .select(col("doc_id"), md5(col("ngram")).as("g"))
        // train grams stay RAW — pre-deduplicating them would shuffle
        // the biggest intermediate in the query; the per-doc DISTINCT
        // is folded into the count_distinct aggregation AFTER the
        // broadcast join, where only contaminated grams survive. The
        // tiny eval side dedups before broadcast.
        val trainG = grams(docs.filter(col("doc_id") % 10 =!= 0))
        val evalG = grams(docs.filter(col("doc_id") % 10 === 0))
          .withColumnRenamed("doc_id", "eval_id").distinct()
        val hits = trainG.join(broadcast(evalG), "g")
          .groupBy(col("doc_id"))
          .agg(count_distinct(col("g")).as("n_shared_ngrams"),
            count_distinct(col("eval_id")).as("n_eval_docs"))
        docs.filter(col("doc_id") % 10 =!= 0).select(col("doc_id"))
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_shared_ngrams"), lit(0L)).as("n_shared_ngrams"),
            coalesce(col("n_eval_docs"), lit(0L)).as("n_eval_docs"),
            (coalesce(col("n_shared_ngrams"), lit(0L)) === 0).as("keep"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH grams AS (
          SELECT DISTINCT doc_id,
            md5(array_to_string(toks[i:i+4], ' ')) AS g
          FROM (SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\s+') AS toks
                FROM documents),
               UNNEST(generate_series(1, len(toks) - 4)) AS u(i)),
        hits AS (
          SELECT tr.doc_id,
            COUNT(DISTINCT tr.g) AS n_shared_ngrams,
            COUNT(DISTINCT ev.eval_id) AS n_eval_docs
          FROM (SELECT doc_id, g FROM grams WHERE doc_id % 10 <> 0) tr
          JOIN (SELECT doc_id AS eval_id, g FROM grams
                WHERE doc_id % 10 = 0) ev USING (g)
          GROUP BY tr.doc_id)
        SELECT d.doc_id,
          CAST(COALESCE(h.n_shared_ngrams, 0) AS BIGINT) AS n_shared_ngrams,
          CAST(COALESCE(h.n_eval_docs, 0) AS BIGINT) AS n_eval_docs,
          COALESCE(h.n_shared_ngrams, 0) = 0 AS keep
        FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
        LEFT JOIN hits h USING (doc_id)
        ORDER BY d.doc_id""")),

    // ----- t11: BLOOM-PREFILTERED DECONTAMINATION — same answer as
    // t10, restructured for the regime where the eval-side n-gram set
    // outgrows a comfortable exact broadcast (a full eval-suite union
    // is 10⁸+ distinct 5-grams; 16-byte keys + hash-map overhead ≈
    // several GB per executor, while a 1%-fpp bloom is ~10 bits/entry
    // — 20–30× smaller). Stage 1 prefilters the TB-scale train grams
    // with the codegen'd `bloom_might_contain` INSIDE the scan
    // projection — no join, no shuffle, survivors ≈ true hits +
    // fpp·|train grams|. Stage 2 runs the exact broadcast join ONLY
    // on the survivors, killing bloom false positives, so the output
    // is bit-identical to t10 and shares its oracle. Same
    // candidates-then-exact-verify discipline as the LSH paths
    // (d03/s05): approximate structure narrows, exact logic decides.
    QueryDef(
      "t11_decontaminate_bloom",
      (s, d) => {
        graft.functions.Generators.register(s)
        val docs = new Tables(s, d).documents
        def grams(df: org.apache.spark.sql.DataFrame) = df
          .select(col("doc_id"), expr("ngrams(text, 5)"))
          .select(col("doc_id"), md5(col("ngram")).as("g"))
        val trainG = grams(docs.filter(col("doc_id") % 10 =!= 0))
        val evalG = grams(docs.filter(col("doc_id") % 10 === 0))
          .withColumnRenamed("doc_id", "eval_id").distinct()
        val bloom = graft.functions.BloomFunctions.buildBloom(
          evalG, "g", expectedItems = 1L << 20, fpp = 0.01)
        graft.functions.BloomFunctions.registerMightContain(
          s, "graft_bloom_eval", bloom)
        val candidates = trainG.filter(expr("graft_bloom_eval(g)"))
        val hits = candidates.join(broadcast(evalG), "g")
          .groupBy(col("doc_id"))
          .agg(count_distinct(col("g")).as("n_shared_ngrams"),
            count_distinct(col("eval_id")).as("n_eval_docs"))
        docs.filter(col("doc_id") % 10 =!= 0).select(col("doc_id"))
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_shared_ngrams"), lit(0L)).as("n_shared_ngrams"),
            coalesce(col("n_eval_docs"), lit(0L)).as("n_eval_docs"),
            (coalesce(col("n_shared_ngrams"), lit(0L)) === 0).as("keep"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH grams AS (
          SELECT DISTINCT doc_id,
            md5(array_to_string(toks[i:i+4], ' ')) AS g
          FROM (SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\s+') AS toks
                FROM documents),
               UNNEST(generate_series(1, len(toks) - 4)) AS u(i)),
        hits AS (
          SELECT tr.doc_id,
            COUNT(DISTINCT tr.g) AS n_shared_ngrams,
            COUNT(DISTINCT ev.eval_id) AS n_eval_docs
          FROM (SELECT doc_id, g FROM grams WHERE doc_id % 10 <> 0) tr
          JOIN (SELECT doc_id AS eval_id, g FROM grams
                WHERE doc_id % 10 = 0) ev USING (g)
          GROUP BY tr.doc_id)
        SELECT d.doc_id,
          CAST(COALESCE(h.n_shared_ngrams, 0) AS BIGINT) AS n_shared_ngrams,
          CAST(COALESCE(h.n_eval_docs, 0) AS BIGINT) AS n_eval_docs,
          COALESCE(h.n_shared_ngrams, 0) = 0 AS keep
        FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
        LEFT JOIN hits h USING (doc_id)
        ORDER BY d.doc_id""")),

    // ----- t12: CONTEXT-WINDOW CHUNKING — the tokenize-adjacent step
    // that turns variable-length documents into fixed-size training
    // windows: 96-token chunks on a 64-token stride (32-token overlap
    // so no boundary context is lost). Pure per-row explode — no
    // shuffle, fused into the scan; ~n/64 chunks per document, output
    // size linear in corpus tokens. Each chunk ships with its md5 so
    // the downstream loader can verify payload integrity without
    // re-reading text.
    QueryDef(
      "t12_context_chunks",
      (s, d) => new Tables(s, d).documents
        .withColumn("toks", expr(toksExpr))
        .withColumn("n", size(col("toks")))
        .withColumn("chunk_start", explode(expr("sequence(1, n, 64)")))
        .select(col("doc_id"), col("chunk_start").cast("long").as("chunk_start"),
          least(lit(96), col("n") - col("chunk_start") + 1)
            .cast("long").as("n_chunk_tokens"),
          md5(array_join(slice(col("toks"), col("chunk_start"), lit(96)), " "))
            .as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_start")),
      Some("""SELECT doc_id, CAST(chunk_start AS BIGINT) AS chunk_start,
          CAST(LEAST(96, n - chunk_start + 1) AS BIGINT) AS n_chunk_tokens,
          md5(array_to_string(toks[chunk_start:chunk_start + 95], ' '))
            AS chunk_md5
        FROM (SELECT doc_id, toks, len(toks) AS n
              FROM (SELECT doc_id,
                      string_split_regex(lower(trim(text)), '\s+') AS toks
                    FROM documents)),
          UNNEST(generate_series(1, n, 64)) AS g(chunk_start)
        ORDER BY doc_id, chunk_start""")),

    // ----- t13: corpus-level LINE dedup — the C4/RefinedWeb
    // boilerplate-removal pass, reshaped to this corpus's single-line
    // docs: the "line" is a non-overlapping 4-token segment. A segment
    // appearing in >= K distinct documents (K =
    // spark.graft.lineDedupDf, default 3) is boilerplate (nav bars,
    // cookie banners, license headers at web scale) and every
    // occurrence is scrubbed from every document; the scrubbed text is
    // md5-verified, proving the rewrite.
    // Scale: one shuffle on the segment key for the df count, the
    // hot-mark join shuffles on the same key (AQE broadcasts the hot
    // side when it is small — at real boilerplate rates |hot| <=
    // |segments|/K), and one doc_id shuffle reassembles. No sorts
    // outside the bounded per-doc sort_array.
    QueryDef(
      "t13_line_dedup",
      (s, d) => {
        val k = GraftConf.int(s, GraftConf.LineDedupDfKey, 3)
        val segs = new Tables(s, d).documents
          .withColumn("toks", expr(toksExpr))
          .withColumn("start", explode(expr("sequence(1, size(toks), 4)")))
          .select(col("doc_id"), col("start"),
            array_join(slice(col("toks"), col("start"), lit(4)), " ")
              .as("seg"))
        val hot = segs.groupBy(col("seg"))
          .agg(countDistinct(col("doc_id")).as("seg_df"))
          .filter(col("seg_df") >= lit(k))
          .select(col("seg"), lit(true).as("is_hot"))
        segs.join(hot, Seq("seg"), "left")
          .withColumn("is_hot", coalesce(col("is_hot"), lit(false)))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).cast(LongType).as("n_segments"),
            sum(when(col("is_hot"), 1L).otherwise(0L)).as("n_removed"),
            sort_array(collect_list(
              struct(col("start"), col("seg"), col("is_hot")))).as("sg"))
          .select(col("doc_id"), col("n_segments"), col("n_removed"),
            md5(array_join(
              expr("transform(filter(sg, x -> NOT x.is_hot), x -> x.seg)"),
              " ")).as("scrubbed_md5"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH segs AS (
          SELECT doc_id, g AS start, array_to_string(toks[g:g+3], ' ') AS seg
          FROM (SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\\s+') AS toks
                FROM documents),
            UNNEST(generate_series(1, len(toks), 4)) AS t(g)),
        hot AS (
          SELECT seg FROM (SELECT seg, count(DISTINCT doc_id) AS seg_df
                           FROM segs GROUP BY seg)
          WHERE seg_df >= $resolvedLineDedupDf),
        marked AS (
          SELECT s.doc_id, s.start, s.seg, h.seg IS NOT NULL AS is_hot
          FROM segs s LEFT JOIN hot h ON s.seg = h.seg)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
          CAST(sum(CASE WHEN is_hot THEN 1 ELSE 0 END) AS BIGINT)
            AS n_removed,
          md5(coalesce(string_agg(seg, ' ' ORDER BY start)
            FILTER (WHERE NOT is_hot), '')) AS scrubbed_md5
        FROM marked GROUP BY doc_id ORDER BY doc_id""")),

    // ----- t14: within-document REPETITION filters — the Gopher
    // quality rules (Rae et al. 2021, table A1): duplicate-word
    // fraction, most-frequent-2-gram fraction, duplicate-3-gram
    // fraction, and the conjunctive keep bit. Everything is an exact
    // integer ratio, so the keep thresholds compare deterministically.
    // Scale: per-document only — the n-gram explodes shuffle on
    // doc_id and nothing else; linear in corpus size.
    QueryDef(
      "t14_repetition_filter",
      (s, d) => {
        graft.functions.Generators.register(s)
        val docs = new Tables(s, d).documents
        val words = docs
          .withColumn("toks", expr(toksExpr))
          .select(col("doc_id"),
            size(col("toks")).cast(LongType).as("n_tok"),
            size(array_distinct(col("toks"))).cast(LongType)
              .as("n_distinct_tok"))
          .withColumn("dup_word_frac",
            lit(1.0) - col("n_distinct_tok").cast("double") / col("n_tok"))
        val top2 = docs
          .select(col("doc_id"), expr("ngrams(text, 2)"))
          .groupBy(col("doc_id"), col("ngram"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(max(col("c")).as("top2_count"),
            sum(col("c")).as("n_2grams"))
          .select(col("doc_id"),
            (col("top2_count").cast("double") / col("n_2grams"))
              .as("top_2gram_frac"))
        val d3 = docs
          .select(col("doc_id"), expr("ngrams(text, 3)"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_3grams"),
            countDistinct(col("ngram")).as("n_distinct_3grams"))
          .select(col("doc_id"),
            (lit(1.0) - col("n_distinct_3grams").cast("double")
              / col("n_3grams")).as("dup_3gram_frac"))
        words.join(top2, Seq("doc_id")).join(d3, Seq("doc_id"))
          .withColumn("keep",
            col("dup_word_frac") <= lit(0.55)
              && col("top_2gram_frac") <= lit(0.04)
              && col("dup_3gram_frac") <= lit(0.05))
          .orderBy(col("doc_id"))
      },
      Some("""WITH base AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
          FROM documents),
        words AS (
          SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
            CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tok,
            1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
              AS dup_word_frac
          FROM base),
        g2 AS (
          SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram
          FROM base, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)),
        top2 AS (
          SELECT doc_id,
            CAST(max(c) AS DOUBLE) / sum(c) AS top_2gram_frac
          FROM (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2)
          GROUP BY doc_id),
        g3 AS (
          SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram
          FROM base, UNNEST(generate_series(1, len(toks) - 2)) AS u(i)),
        d3 AS (
          SELECT doc_id,
            1.0 - CAST(count(DISTINCT gram) AS DOUBLE) / count(*)
              AS dup_3gram_frac
          FROM g3 GROUP BY doc_id)
        SELECT doc_id, n_tok, n_distinct_tok, dup_word_frac,
          top_2gram_frac, dup_3gram_frac,
          dup_word_frac <= 0.55 AND top_2gram_frac <= 0.04
            AND dup_3gram_frac <= 0.05 AS keep
        FROM words JOIN top2 USING (doc_id) JOIN d3 USING (doc_id)
        ORDER BY doc_id""")),

    // ----- t15: BM25 LEXICAL RETRIEVAL — the inverted-index scoring
    // pass (query routing, RAG retrieval, near-dup triage all ride
    // it). Shape at 100 TB: the QUERY side is tiny and BROADCASTS;
    // the corpus side moves only the postings of query terms (the
    // broadcast semi-join prunes everything else at the scan), then
    // one (query, doc) shuffle for the per-document score rollup and
    // a WindowGroupLimit top-k per query. The corpus-wide statistics
    // (doc count, total length) are one scalar row, broadcast back.
    //
    // Determinism: the classic BM25 idf is ln((N-df+.5)/(df+.5)) —
    // but ln() is not guaranteed identically rounded across engines,
    // so this variant keeps the RATIONAL idf (the same ratio, unlogged:
    // monotone in df, so per-term ordering is preserved; a deployment
    // swaps ln in if it wants the classic scale). Every per-term
    // contribution is floor-quantized to 1e-8 and summed as exact
    // BIGINTs — associative, partial-aggregation-safe, and
    // bit-identical in DuckDB (the s08/q75 discipline).
    QueryDef(
      "t15_bm25_retrieval",
      (s, d) => {
        import s.implicits._
        val qterms = Seq(
          (1, "hash"), (1, "join"),
          (2, "stream"), (2, "window"),
          (3, "sort"), (3, "merge"),
          (4, "filter"), (4, "scan"), (4, "column"),
          (5, "customer"), (5, "order"), (5, "value"))
          .toDF("query_id", "term")
        val tok = new Tables(s, d).documents
          .select(col("doc_id"), explode(expr(toksExpr)).as("term"))
        val dl = tok.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("dl"))
        val stats = dl.agg(count(lit(1)).as("nd"),
          sum(col("dl")).as("tl")) // one scalar row
        val tf = tok.join(broadcast(qterms.select(col("term")).distinct()),
            Seq("term")) // postings of query terms only
          .groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
        val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val scored = tf
          .join(broadcast(qterms), Seq("term"))
          .join(dl, Seq("doc_id"))
          .join(broadcast(dfT), Seq("term"))
          .crossJoin(broadcast(stats)) // 1-row stats
          .select(col("query_id"), col("doc_id"),
            floor(
              (((col("nd").cast("double") - col("df").cast("double"))
                  + lit(0.5)) / (col("df").cast("double") + lit(0.5)) *
                ((col("tf").cast("double") * lit(2.2)) /
                  (col("tf").cast("double") + lit(1.2) * (lit(0.25) +
                    lit(0.75) * (col("dl").cast("double") /
                      (col("tl").cast("double") / col("nd").cast("double")))))))
                * lit(100000000.0)).cast("long").as("c"))
        val perDoc = scored.groupBy(col("query_id"), col("doc_id"))
          .agg(sum(col("c")).as("score_scaled"))
        topKPerKey(perDoc, Seq(col("query_id")),
            Seq(col("score_scaled").desc, col("doc_id")), 3, "rank")
          .select(col("query_id"), col("rank"), col("doc_id"),
            (col("score_scaled").cast("double") / lit(100000000.0))
              .as("score"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH q AS (
          SELECT * FROM (VALUES
            (1, 'hash'), (1, 'join'),
            (2, 'stream'), (2, 'window'),
            (3, 'sort'), (3, 'merge'),
            (4, 'filter'), (4, 'scan'), (4, 'column'),
            (5, 'customer'), (5, 'order'), (5, 'value'))
            AS t(query_id, term)),
        tok AS (
          SELECT doc_id,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
          FROM documents),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
        stats AS (SELECT COUNT(*) AS nd, SUM(dl) AS tl FROM dl),
        tf AS (
          SELECT doc_id, term, COUNT(*) AS tf FROM tok
          WHERE term IN (SELECT DISTINCT term FROM q)
          GROUP BY doc_id, term),
        dfT AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        scored AS (
          SELECT q.query_id, tf.doc_id,
            CAST(floor(
              (((CAST(nd AS DOUBLE) - CAST(df AS DOUBLE)) + 0.5)
                  / (CAST(df AS DOUBLE) + 0.5) *
                ((CAST(tf AS DOUBLE) * 2.2) /
                  (CAST(tf AS DOUBLE) + 1.2 * (0.25 +
                    0.75 * (CAST(dl AS DOUBLE) /
                      (CAST(tl AS DOUBLE) / CAST(nd AS DOUBLE)))))))
                * 100000000.0) AS BIGINT) AS c
          FROM tf JOIN q USING (term) JOIN dl USING (doc_id)
            JOIN dfT USING (term) CROSS JOIN stats),
        per_doc AS (
          SELECT query_id, doc_id, SUM(c) AS score_scaled
          FROM scored GROUP BY query_id, doc_id),
        ranked AS (
          SELECT query_id, doc_id, score_scaled,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY score_scaled DESC, doc_id) AS rank
          FROM per_doc)
        SELECT query_id, rank, doc_id,
          CAST(score_scaled AS DOUBLE) / 100000000.0 AS score
        FROM ranked WHERE rank <= 3
        ORDER BY query_id, rank""")),

    // ----- t16: PII REDACTION — the scrub every released training
    // corpus runs (emails, phone numbers, IPv4 addresses → typed
    // placeholder tokens), as three chained regexp_replace passes the
    // optimizer fuses into ONE codegen'd projection per row — no
    // shuffle, no UDF; at 100 TB this is a pure map over the scan.
    // The synthetic corpus carries no organic PII, so the query
    // INJECTS deterministic doc_id-derived PII first (same derivation
    // in the oracle) — the gate then proves detection counts,
    // redacted-text digests, and zero residual matches agree
    // cross-engine, i.e. the scrub semantics themselves are what is
    // hash-checked. Patterns avoid lookarounds (RE2-safe) so Java
    // regex and DuckDB RE2 agree by construction.
    QueryDef(
      "t16_pii_redaction",
      (s, d) => {
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phone = "\\d{3}-\\d{3}-\\d{4}"
        val ip = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
        val dirty = new Tables(s, d).documents
          .select(col("doc_id"), concat(col("text"),
            lit(" contact user"), col("doc_id"), lit("@example.com or "),
            lpad((col("doc_id") % 900 + 100).cast("string"), 3, "0"),
            lit("-"),
            lpad((col("doc_id") % 789 + 111).cast("string"), 3, "0"),
            lit("-"),
            lpad((col("doc_id") % 9000 + 1000).cast("string"), 4, "0"),
            lit(" ip "), (col("doc_id") % 256).cast("string"), lit("."),
            ((col("doc_id") * 7) % 256).cast("string"), lit("."),
            ((col("doc_id") * 13) % 256).cast("string"), lit("."),
            ((col("doc_id") * 31) % 256).cast("string")).as("t"))
        val redacted = dirty.select(col("doc_id"),
          (regexp_count(col("t"), lit(email)) +
            regexp_count(col("t"), lit(ip)) +
            regexp_count(col("t"), lit(phone))).as("n_pii"),
          regexp_replace(
            regexp_replace(
              regexp_replace(col("t"), email, "<EMAIL>"),
              ip, "<IP>"),
            phone, "<PHONE>").as("clean"))
        redacted.select(col("doc_id"), col("n_pii"),
          (regexp_count(col("clean"), lit(email)) +
            regexp_count(col("clean"), lit(ip)) +
            regexp_count(col("clean"), lit(phone))).as("n_residual"),
          md5(col("clean")).as("clean_md5"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH dirty AS (
          SELECT doc_id, text || ' contact user' || doc_id
            || '@example.com or '
            || lpad(CAST(doc_id % 900 + 100 AS VARCHAR), 3, '0') || '-'
            || lpad(CAST(doc_id % 789 + 111 AS VARCHAR), 3, '0') || '-'
            || lpad(CAST(doc_id % 9000 + 1000 AS VARCHAR), 4, '0')
            || ' ip ' || CAST(doc_id % 256 AS VARCHAR)
            || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
            || '.' || CAST((doc_id * 13) % 256 AS VARCHAR)
            || '.' || CAST((doc_id * 31) % 256 AS VARCHAR) AS t
          FROM documents),
        redacted AS (
          SELECT doc_id,
            CAST(len(regexp_extract_all(t,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
              + len(regexp_extract_all(t,
                '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}'))
              + len(regexp_extract_all(t, '\d{3}-\d{3}-\d{4}'))
              AS BIGINT) AS n_pii,
            regexp_replace(
              regexp_replace(
                regexp_replace(t,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                  '<EMAIL>', 'g'),
                '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g'),
              '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g') AS clean
          FROM dirty)
        SELECT doc_id, n_pii,
          CAST(len(regexp_extract_all(clean,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
            + len(regexp_extract_all(clean,
              '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}'))
            + len(regexp_extract_all(clean, '\d{3}-\d{3}-\d{4}'))
            AS BIGINT) AS n_residual,
          md5(clean) AS clean_md5
        FROM redacted ORDER BY doc_id""")),

    // ----- t17: MODEL-BASED QUALITY CLASSIFIER — the fasttext-style
    // linear scorer production pipelines run after the heuristic
    // filters (GPT-3's quality classifier, LLaMA's wiki-ref model):
    // hashed bag-of-words features (token -> md5 -> one of 1024
    // buckets) dotted with a shipped weight table, normalized by
    // length, thresholded into a keep bit. The "trained model" here
    // is a deterministic md5-derived weight per bucket — the SHAPE is
    // the deliverable: at 100 TB this is ONE codegen'd projection
    // (per-row HOF aggregate over the token array, no shuffle, no
    // UDF), and swapping real learned weights in changes only the
    // lookup. INTEGER weights ([-1000, 1000], exact in both engines)
    // summed as longs keep the score cross-engine exact: one final
    // division per row is a single IEEE op.
    QueryDef(
      "t17_quality_classifier",
      (s, d) => qualityClassified(new Tables(s, d).documents)
        .select(col("doc_id"), col("n_toks"), col("wsum"),
          col("score"), col("keep"))
        .orderBy(col("doc_id")),
      Some("""WITH tok AS (
          SELECT doc_id,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
          FROM documents),
        scored AS (
          SELECT doc_id, COUNT(*) AS n_toks,
            CAST(SUM(('0x' || substr(md5('w:' ||
                CAST(('0x' || substr(md5(t), 1, 4))::BIGINT % 1024
                  AS VARCHAR)), 1, 8))::BIGINT % 2001 - 1000)
              AS BIGINT) AS wsum
          FROM tok GROUP BY doc_id)
        SELECT doc_id, n_toks, wsum,
          CAST(wsum AS DOUBLE) / (n_toks * 1000.0) AS score,
          CAST(wsum AS DOUBLE) / (n_toks * 1000.0) > 0.0 AS keep
        FROM scored WHERE n_toks >= 1 ORDER BY doc_id""")),

    // ----- t18: CORPUS-TRAINED LM FLUENCY — the CCNet-style language-
    // model filter, with the LM trained on the corpus ITSELF in the
    // same job (the two-pass train-then-score shape t17's fixed
    // weights sidestep): pass 1 aggregates bigram MLE counts
    // c(w1,w2)/c(w1·), pass 2 scores each document by its mean
    // conditional bigram probability — how predictable its
    // transitions are under corpus statistics: templated/repeated
    // phrasing scores high, common words in unusual orders score
    // low. (Self-trained MLE caveat: a doc of globally-UNIQUE tokens
    // trivially scores 1.0 — c(w1)=c(w1,w2)=1; production trains the
    // reference LM on a held-out clean corpus instead. The two-pass
    // train-then-score SHAPE is the deliverable; swapping the count
    // relation for a shipped one changes only the join source.)
    // Keep cut 0.0345 sits at the corpus median (~0.030-0.049 span),
    // so the gate genuinely splits.
    // Scale: two map-side-combinable count shuffles on the bigram/
    // unigram key, one join back on the same key (co-partitioned
    // with the c2 exchange), one doc_id rollup — all linear; the
    // per-doc probability fold runs over a sort_array'd bounded
    // array. Determinism: each probability is ONE IEEE division of
    // exact counts; the per-doc sum is an ORDERED (position-
    // ascending) left-to-right fold in both engines, the vec_dot
    // discipline.
    QueryDef(
      "t18_lm_fluency",
      (s, d) => {
        lmFluencyScores(s, d)
          .withColumn("keep", col("fluency") > 0.0345d)
          .select(col("doc_id"), col("n_bigrams"), col("fluency"),
            col("keep"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $lmFluencySqlCtes
        SELECT doc_id, n_bigrams, tot / n_bigrams AS fluency,
          tot / n_bigrams > 0.0345 AS keep
        FROM sc ORDER BY doc_id""")),

    // ----- t19: EXACT-SUBSTRING dedup spans — the repeated-span
    // detector from "Deduplicating Training Data Makes Language
    // Models Better" (Lee et al. 2021, public): any token window
    // appearing verbatim in ≥2 DISTINCT documents marks a duplicated
    // region; overlapping window hits merge into MAXIMAL per-doc
    // spans (gaps-and-islands), the unit a surgical scrub removes.
    // Complements the fuzzy tiers: d03/d04 find near-dup DOCUMENTS,
    // d11 near-dup paragraphs, t13 hot LINES — t19 finds verbatim
    // RUNS at token granularity regardless of any segment boundary.
    // Window = 8 tokens (corpus docs are ~60 tokens; production uses
    // 50 on long docs — the plan is identical, only the literal
    // changes). Shape at 100 TB: window explode is map-only and
    // linear in corpus tokens (windows are md5'd to 16-byte keys
    // immediately — the raw window text never shuffles); the df agg
    // carries map-side partials; the hot set (windows with cross-doc
    // df ≥ 2) is bounded by truly-duplicated content and broadcasts
    // through the CONF-GATED hint (spark.graft.candBroadcastLimit,
    // d03's discipline: an explicit broadcast hint is honored
    // unconditionally by Spark — AQE never demotes it — so the
    // overflow escape must be the hint NOT being applied, falling
    // back to a plain shuffle join with identical output); the
    // island merge is ONE doc_id exchange whose per-doc sort is
    // bounded by doc length.
    QueryDef(
      "t19_substring_dedup",
      (s, d) => {
        val W = 8
        val toks = new Tables(s, d).documents
          .withColumn("t", expr(toksExpr))
          .filter(size(col("t")) >= W)
        val wins = toks
          .withColumn("pos", explode(expr(s"sequence(1, size(t) - ${W - 1})")))
          .select(col("doc_id"), col("pos"),
            md5(array_join(slice(col("t"), col("pos"), lit(W)), " ")).as("h"))
          .cache()
        val hot = wins.groupBy(col("h"))
          .agg(countDistinct(col("doc_id")).as("wdf"))
          .filter(col("wdf") >= 2)
          .select(col("h"))
        val hits = wins.join(Dedup.gateBroadcast(s, hot), "h")
          .select(col("doc_id"), col("pos")).distinct()
        val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        val islands = hits
          .withColumn("brk",
            when(col("pos") > coalesce(lag(col("pos"), 1).over(w),
              lit(-1000000)) + (W - 1), 1L).otherwise(0L))
          .withColumn("island", sum(col("brk")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        islands.groupBy(col("doc_id"), col("island"))
          .agg(min(col("pos")).as("st"), (max(col("pos")) + (W - 1)).as("en"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_dup_spans"),
            sum(col("en") - col("st") + 1).cast(LongType).as("dup_tokens"),
            max(col("en") - col("st") + 1).cast(LongType).as("longest_span"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (
          SELECT doc_id,
            string_split_regex(lower(trim(text)), '\s+') AS t
          FROM documents),
        wins AS (
          SELECT doc_id, i AS pos, md5(array_to_string(t[i:i+7], ' ')) AS h
          FROM toks, UNNEST(generate_series(1, len(t) - 7)) AS g(i)
          WHERE len(t) >= 8),
        hot AS (
          SELECT h FROM wins GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
        hits AS (
          SELECT DISTINCT w.doc_id, w.pos FROM wins w JOIN hot USING (h)),
        isl AS (
          SELECT doc_id, pos,
            CASE WHEN pos > COALESCE(LAG(pos) OVER (
                PARTITION BY doc_id ORDER BY pos), -1000000) + 7
              THEN 1 ELSE 0 END AS brk
          FROM hits),
        isl2 AS (
          SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id
            ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS island
          FROM isl),
        spans AS (
          SELECT doc_id, island, MIN(pos) AS st, MAX(pos) + 7 AS en
          FROM isl2 GROUP BY doc_id, island)
        SELECT doc_id, COUNT(*) AS n_dup_spans,
          CAST(SUM(en - st + 1) AS BIGINT) AS dup_tokens,
          CAST(MAX(en - st + 1) AS BIGINT) AS longest_span
        FROM spans GROUP BY doc_id ORDER BY doc_id"""))
  )
}
