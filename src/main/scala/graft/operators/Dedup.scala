package graft.operators

import graft.{CorpusStats, GraftConf, IndexTower, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for an LLM training-data pipeline, over the
  * `documents` table: exact (hash-groupBy), n-gram Jaccard, MinHash+LSH
  * (shingle → minhash → band → bucket-join), and SimHash.
  *
  * Scale design (100 TB): every variant is shuffle-bounded —
  *   - exact: one shuffle on text-hash;
  *   - jaccard/minhash: explode shingles (linear in corpus size), join
  *     on shingle/band key (the classic skew point — a stopword-like
  *     shingle fans out; mitigated by dropping shingles whose doc-
  *     frequency exceeds a cap, exactly what production MinHash does);
  *   - simhash: linear signature pass + band-bucket join.
  * Nothing is O(n²) except the tiny verified-candidate set.
  *
  * Determinism: signatures are md5-derived (identical hex in Spark and
  * DuckDB); jaccard is integer-count division (single IEEE double op).
  */
object Dedup {

  private val toksExpr = "split(lower(trim(text)), '\\\\s+')"

  /** DISTINCT word-3-gram shingles per doc of any frame with
    * (doc_id, text) — st15 applies it to streaming micro-batches. */
  private[graft] def shinglesOf(df: DataFrame): DataFrame =
    df.withColumn("toks", expr(toksExpr))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        """array_distinct(transform(sequence(0, size(toks) - 3),
           i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))"""))
        .as("shingle"))

  /** DISTINCT word-3-gram shingles per doc: (doc_id, shingle). */
  private def shingles(s: SparkSession, d: String): DataFrame =
    shinglesOf(new Tables(s, d).documents)

  /** Doc-frequency cap DEFAULT: a shingle appearing in more than this
    * many documents is stopword-like similarity evidence AND the
    * quadratic skew point of the shingle self-join (one hot key fans
    * out df² pairs). Dropping capped shingles bounds every shingle-key
    * join group at df ≤ cap — the property that keeps d02/d03 linear
    * at 100 TB. Applied identically in the DuckDB oracles. Override at
    * runtime with `spark.graft.shingleDfCap`.
    */
  private[graft] val ShingleDfCap = 100

  private[graft] def shingleDfCap(s: SparkSession): Int =
    GraftConf.int(s, GraftConf.ShingleDfCapKey, ShingleDfCap)

  /** Df cap the SQL twins should embed: a session override at
    * oracle-materialization time wins (queries is a def — twins
    * re-materialize per access), else the static default — the same
    * override-awareness discipline as [[resolvedSimHashBits]]; a
    * baked 100 against an overridden Spark side would silently
    * invalidate the hash gate. */
  private def resolvedShingleDfCap: Int =
    sessionForOracle.map(shingleDfCap).getOrElse(ShingleDfCap)

  /** SimHash geometry: a 60-bit signature (15 md5 hex chars per
    * token) split into bands; banding is lossless for hamming ≤
    * bands-1 (pigeonhole: ≤ bands-1 flipped bits can dirty at most
    * bands-1 of the bands, so at least one band matches exactly).
    * The band count doubles as the NEAR-DUP THRESHOLD, and that is
    * the knob that must TIGHTEN with corpus size: the ×10 scale-up
    * measured pair retention 3.83× super-linear at a fixed hamming ≤
    * 3 — the tail is hash-luck collisions between long unrelated
    * docs (Zipf-convergent tf vectors compress their angles), a
    * population that grows faster than n while true near-dups grow
    * with n. [[adaptiveSimHashBands]] derives bands from the corpus
    * count exactly the way s02 derives LSH hyperplanes; with it, the
    * ×10 run holds retention ≈ 0.99 (scaleup_out.json). Overrides:
    * `spark.graft.simhashBits` (multiple of 4, ≤ 60: md5-hex-derived)
    * and `spark.graft.simhashBands` (must divide bits) — the DuckDB
    * oracle twin is override-aware like s02's hCte.
    */
  private[graft] val SimHashBits = 60
  private[graft] val SimHashBands = 4

  /** Largest band count b ≤ 4 dividing `bits` whose per-band bucket
    * space 2^(bits/b) holds the corpus at occupancy ≤ 1/4
    * (2^(bits/b) ≥ 4n): recall (threshold = b-1) is spent only while
    * the band key space dwarfs the corpus; as n grows past each
    * boundary the threshold tightens by one. 60-bit default: ≤ 8,192
    * docs → 4 bands (hamming ≤ 3), ≤ 262,144 → 3 (≤ 2), ≤ 2.7e8 → 2
    * (≤ 1), beyond → 1 (exact signature match). Integer-exact so the
    * DuckDB twin derives the SAME bands from COUNT(*). */
  private[graft] def adaptiveSimHashBands(bits: Int, n: Long): Int =
    (4 to 1 by -1).find { b =>
      bits % b == 0 && {
        val e = bits / b
        e >= 62 || (1L << e) >= 4L * n
      }
    }.getOrElse(1)

  /** The doc count feeds the adaptive geometry — a dedup pass
    * legitimately knows its corpus size. */
  private[graft] def docCount(s: SparkSession, d: String): Long =
    CorpusStats.count(s, s"$d/documents.parquet")

  private def simHashBits(s: SparkSession): Int = {
    val b = GraftConf.int(s, GraftConf.SimHashBitsKey, SimHashBits)
    require(b > 0 && b <= 60 && b % 4 == 0,
      s"${GraftConf.SimHashBitsKey} must be a positive multiple of 4 <= 60, got $b")
    b
  }

  private def simHashBands(s: SparkSession, d: String): Int = {
    val bits = simHashBits(s)
    // precedence: explicit band override > recall-first policy pin
    // (bands = 4, hamming ≤ 3 at any corpus size) > adaptive rule
    val bands = GraftConf.int(s, GraftConf.SimHashBandsKey,
      if (GraftConf.bool(s, GraftConf.SimHashRecallFirstKey, false))
        SimHashBands
      else adaptiveSimHashBands(bits, docCount(s, d)))
    require(bands > 0 && bits % bands == 0,
      s"${GraftConf.SimHashBandsKey} must divide $bits, got $bands")
    bands
  }

  /** Shingles with stopword-like (df > cap) shingles removed.
    * Shape: aggregate df per shingle (map-side partial combine, so the
    * shuffle carries (shingle, count) not full rows), keep only the
    * HOT side (df > cap) — bounded by total-occurrences/cap, so small
    * at the default cap — and left-anti join it against the shingle
    * relation. The hot side carries NO broadcast hint: size-based
    * planning (AQE) broadcasts it when it is actually small and falls
    * back to a shuffled anti-join when a tiny configured cap (or a
    * pathological corpus) makes it large — a forced hint would OOM the
    * driver exactly there. No sort anywhere: the r3 count-window
    * variant sorted the entire exploded shingle relation inside each
    * hash partition, which at sf0.1 was 26% of the whole bench (7.8 s)
    * and at 100 TB is a spill machine. The explode is evaluated twice
    * (df pass + anti-join probe), but it is map-only and cheaper than
    * the sort; callers cache the capped OUTPUT, which both d02/d03
    * reuse ≥ 3×.
    * Mirrors the oracle's QUALIFY COUNT(*) OVER (PARTITION BY shingle).
    */
  private[graft] def cappedShingles(s: SparkSession, d: String): DataFrame =
    shingles(s, d).join(hotShingles(s, d), Seq("shingle"), "left_anti")
      .select(col("doc_id"), col("shingle"))

  /** The HOT side alone — the df > cap shingle set (bounded by
    * total-occurrences/cap). Derived inside [[cappedShingles]] for
    * the batch passes and PERSISTED as the tower's `d10_lsh_hot`
    * table so the streaming gate (st15) can cap each micro-batch's
    * shingles without re-tokenizing the corpus per run. */
  private[graft] def hotShingles(s: SparkSession, d: String): DataFrame =
    shingles(s, d).groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > shingleDfCap(s))
      .select(col("shingle"))

  private[graft] def shinglesSql(cap: Int = resolvedShingleDfCap): String =
    s"""SELECT doc_id, shingle FROM (
         SELECT DISTINCT doc_id,
           toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
         FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
               FROM documents) t,
              UNNEST(generate_series(1, len(toks) - 2)) AS u(i)
         WHERE len(toks) >= 3)
       QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= $cap"""

  /** Candidate-pair jaccard over the shingle relation (SQL twin below). */
  private[operators] def jaccardPairs(s: SparkSession, d: String): DataFrame = {
    val sh = cappedShingles(s, d).cache()
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle")
          && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(cnt.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("n", "n_a"), "id_a")
      .join(cnt.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("n", "n_b"), "id_b")
      .withColumn("jaccard",
        col("n_common").cast("double")
          / (col("n_a") + col("n_b") - col("n_common")))
  }

  private[graft] def jaccardPairsSql(cap: Int = resolvedShingleDfCap): String =
    s"""sh AS (${shinglesSql(cap)}),
       cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
                 FROM sh a JOIN sh b
                   ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
       jac AS (SELECT id_a, id_b, n_common,
                 CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) AS jaccard
               FROM inter
               JOIN cnt ca ON ca.doc_id = id_a
               JOIN cnt cb ON cb.doc_id = id_b)"""

  /** (doc_id, s0..s{H-1}, n): ONE md5 per shingle (the expensive
    * part), then H min-hashes via cheap universal hashing
    * ((a·h+b) mod p), all in a single map-side-combinable aggregation
    * — no H× row explosion, one shuffle of (doc, H buffers); the
    * shingle count rides the same buffers. Shared by d03 (exact
    * verify) and d06 (sketch estimate). H defaults to 16 and is the
    * `spark.graft.minhashHashes` runtime conf at the query layer. */
  private[graft] def minhashSigs(sh: DataFrame, hashes: Int = 16): DataFrame = {
    val hashed = sh.withColumn("h",
      conv(substring(md5(col("shingle")), 1, 7), 16, 10).cast("long"))
    val sigCols = (0 until hashes).map(i =>
      min((lit(1000003L + 2 * i) * col("h") + lit(7919L * i + 1))
        % lit(2147483647L)).as(s"s$i")) :+
      count(lit(1)).as("n")
    hashed.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
  }

  /** (doc_id, n, band, band_key) — one row per document per LSH band;
    * band_key format matches the oracle's string_agg("NN:sig" ORDER BY
    * seed). The per-doc shingle count `n` RIDES ALONG from the
    * signature aggregation: candidates carry both endpoints' counts
    * out of the band join, so the verify tail never joins a
    * corpus-scale count relation (the r12 fix — the count relation is
    * O(corpus) and neither broadcasting it nor re-broadcasting the
    * computed verify intermediates survives 100 TB). Shared by the
    * self-join candidates (d03/d06) and the delta-vs-corpus probe
    * (d10, where the persisted index stores n per row). */
  private[graft] def minhashBands(sigs: DataFrame, hashes: Int = 16,
      bands: Int = 4): DataFrame = {
    require(hashes % bands == 0 && hashes <= 100,
      s"minhash bands ($bands) must divide hashes ($hashes <= 100)")
    val rows = hashes / bands
    val bandCols = (0 until bands).map { b =>
      concat_ws("|", (rows * b until rows * b + rows).map(i =>
        concat(lit(f"$i%02d:"), col(s"s$i").cast("string"))): _*).as(s"b$b")
    }
    val stackArgs = (0 until bands).map(b => s"$b, b$b").mkString(", ")
    sigs.select(col("doc_id") +: col("n") +: bandCols: _*)
      .selectExpr("doc_id", "n",
        s"stack($bands, $stackArgs) AS (band, band_key)")
  }

  /** DISTINCT (id_a, id_b, n_a, n_b) LSH candidates: `bands` bands ×
    * hashes/bands rows, endpoint shingle counts carried through (n is
    * functionally dependent on the id, so the distinct is still
    * per-pair). The band count is the recall/precision dial — runtime
    * conf `spark.graft.minhashBands` at the query layer. */
  private[graft] def minhashCands(sigs: DataFrame, hashes: Int = 16,
      bands: Int = 4): DataFrame = {
    val bandsDf = minhashBands(sigs, hashes, bands)
    bandsDf.as("x")
      .join(bandsDf.as("y"),
        col("x.band") === col("y.band")
          && col("x.band_key") === col("y.band_key")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        col("x.n").as("n_a"), col("y.n").as("n_b"))
      .distinct()
  }

  /** Broadcast a candidate-scale relation, or degrade to a plain
    * shuffle join above the conf'd row cap
    * ([[GraftConf.CandBroadcastLimitKey]]): the candidate sets the
    * verify joins probe the corpus with are normally tiny, but a
    * high-dup corpus at 100 TB can outgrow the driver's broadcast
    * limit. Default −1 broadcasts unconditionally (no counting job);
    * with a cap set, the relation is cached, counted once, and the
    * hint applied only at or below the cap — the downstream join
    * reuses the cached rows either way, so output is bit-identical
    * (ScaleKnobsSpec forces the cap to 0 and diffs). */
  private[operators] def gateBroadcast(s: SparkSession, df: DataFrame): DataFrame = {
    val limit = GraftConf.int(s, GraftConf.CandBroadcastLimitKey, -1)
    if (limit < 0) broadcast(df)
    else {
      val c = df.cache()
      if (c.count() <= limit) broadcast(c) else c
    }
  }

  /** The (hashes, bands) geometry in effect for a session. */
  private[graft] def minhashGeometry(s: SparkSession): (Int, Int) =
    (GraftConf.int(s, GraftConf.MinHashHashesKey, 16),
      GraftConf.int(s, GraftConf.MinHashBandsKey, 4))

  // --------------------------------------------------------------------
  // The persisted LSH BUCKET TOWER (d10's corpus band index, promoted
  // from a per-run tmpdir write to the same persisted-table discipline
  // as the PQ (s18) and lexical (s21) towers): build once nightly,
  // probe per delta batch, audit + rebuild-when-due through
  // `Maintenance.maintainIndexes`. The index stores one row per
  // (corpus doc, band) — (doc_id, n, band, band_key) — so work at
  // probe time scales with |delta| · bands, never |corpus|².

  /** v2 added the source stamp. */
  private[graft] val LshMetaSchemaVer = 2
  private[graft] val LshAuditSample = 256L

  /** Staleness dials (compile-time defaults; callers owning a policy
    * pass overrides — the s29/s30 precedence discipline). Coverage is
    * meta `nd` vs a live corpus-stripe count; band defects are
    * sampled docs whose persisted row count differs from the
    * geometry's band count (a torn/partial write). */
  private[graft] val LshMinCoverage = 0.98
  private[graft] val LshMaxBandDefect = 0.02

  /** The persisted band index (d10) over `documents`. */
  private[graft] val LshTower = new IndexTower("d10_lsh_meta",
    Seq("d10_lsh_bands", "d10_lsh_hot"), "documents", LshMetaSchemaVer)

  /** The historical-corpus stripe the index covers (d10's split:
    * doc_id % 5 == 0 is "today's ingest", the rest is the corpus). */
  private def lshStripe(s: SparkSession, d: String): DataFrame =
    new Tables(s, d).documents.filter(col("doc_id") % 5 =!= 0)

  /** Build + persist the corpus band index: MinHash signatures over
    * the df-capped shingle relation (the cap is computed corpus-wide,
    * exactly as d10's oracle defines it — at production scale the
    * delta stripe is a vanishing fraction of the df counts), LSH
    * bands stacked one row per (doc, band). The meta row freezes the
    * doc count and the (hashes, bands) GEOMETRY the index answers
    * for — a session that re-dials the geometry is asking a different
    * recall question, so [[ensureLshIndex]]/[[auditLshCoverage]]
    * treat a geometry mismatch as stale. `docGate` exists for specs
    * and backfills that index a sub-stripe (the meta's nd records
    * what was actually indexed, so the coverage audit sees the
    * hole). */
  private[graft] def persistLshIndex(s: SparkSession, d: String,
      docGate: org.apache.spark.sql.Column = lit(true)): Unit = {
    val (hashes, bands) = minhashGeometry(s)
    LshTower.save(s, d,
      minhashBands(
        minhashSigs(cappedShingles(s, d)
          .filter(col("doc_id") % 5 =!= 0).filter(docGate), hashes),
        hashes, bands),
      "d10_lsh_bands")
    // the hot-shingle list RIDES IN THE BUNDLE: the streaming gate
    // (st15) caps each micro-batch's shingles against it, so the
    // corpus is never re-tokenized at serve; derived corpus-wide,
    // exactly as cappedShingles derives it for the batch passes
    LshTower.save(s, d, hotShingles(s, d), "d10_lsh_hot")
    val nd = lshStripe(s, d).filter(docGate).count()
    import s.implicits._
    LshTower.writeMeta(s, d,
      Seq((nd, hashes, bands)).toDF("nd", "hashes", "bands"))
  }

  /** Load the persisted band index when one is fresh for this corpus
    * AND this session's geometry dials, else build + persist. Fresh
    * means the tower's source stamp matches the current files of
    * `documents.parquet` and the meta's (hashes, bands) geometry is
    * the session's. */
  private[graft] def ensureLshIndex(s: SparkSession, d: String): DataFrame = {
    val (hashes, bands) = minhashGeometry(s)
    val fresh = LshTower.fresh(s, d)(m =>
      m.getAs[Int]("hashes") == hashes && m.getAs[Int]("bands") == bands)
    if (!fresh) persistLshIndex(s, d)
    s.table("d10_lsh_bands")
  }

  /** LSH STALENESS AUDIT — the band tower's `auditLexStaleness`
    * twin, at bounded cost (never a corpus re-shingling):
    *   - COVERAGE: meta `nd` vs a live corpus-stripe count (a parquet
    *     count) — catches appends that never landed and deletes;
    *   - GEOMETRY: the meta's frozen (hashes, bands) vs the session
    *     dials — a re-dialed session needs a rebuilt index;
    *   - BAND RECHECK: an E[[[LshAuditSample]]] md5-Bernoulli doc
    *     sample's persisted rows must number exactly `bands` per doc
    *     present — catches torn/partial band writes.
    * A sampled doc ABSENT from the index is not a defect: a doc with
    * under 3 tokens (or all-capped shingles) legitimately has no
    * signature, and telling those apart from a hole needs the
    * corpus-wide df-cap scan a bounded audit can't pay. Content
    * EDITS are likewise out of scope here — over the same
    * `documents` source they surface in the lexical tower's dl
    * recheck, and count drift lands in coverage. One row out;
    * `rebuild_due` fires on any of the three dials. */
  private[graft] def auditLshCoverage(s: SparkSession, d: String,
      minCoverageOverride: Option[Double] = None,
      maxBandDefectOverride: Option[Double] = None): DataFrame = {
    LshTower.refresh(s)
    val m = s.table("d10_lsh_meta").head()
    val ndIndex = m.getAs[Long]("nd")
    val (hashes, bands) = minhashGeometry(s)
    val geomOk = m.getAs[Int]("hashes") == hashes &&
      m.getAs[Int]("bands") == bands
    val minCov = minCoverageOverride.getOrElse(LshMinCoverage)
    val maxDef = maxBandDefectOverride.getOrElse(LshMaxBandDefect)
    val stripe = lshStripe(s, d)
    val ndCorpus = stripe.count()
    val thresh = (LshAuditSample * 4294967296L - 1L) /
      math.max(1L, ndCorpus) + 1L
    val sample = stripe
      .filter(conv(substring(md5(concat(lit("lsha:"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
        < lit(thresh))
      .select(col("doc_id"))
    s.table("d10_lsh_bands")
      .join(broadcast(sample), Seq("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("nrows"))
      .agg(count(lit(1)).as("n_sample"),
        coalesce(sum(when(col("nrows") =!= bands, 1L).otherwise(0L)),
          lit(0L)).as("band_defects"))
      .select(lit(ndIndex).as("nd_index"),
        lit(ndCorpus).as("nd_corpus"),
        col("n_sample"), col("band_defects"),
        (lit(ndIndex).cast("double") / lit(ndCorpus).cast("double"))
          .as("coverage"),
        coalesce(col("band_defects").cast("double")
          / nullif(col("n_sample").cast("double"), lit(0.0)), lit(0.0))
          .as("defect_frac"),
        lit(geomOk).as("geom_ok"),
        ((lit(ndIndex).cast("double") / lit(ndCorpus).cast("double"))
            < lit(minCov)
          || coalesce(col("band_defects").cast("double")
            / nullif(col("n_sample").cast("double"), lit(0.0)),
            lit(0.0)) > lit(maxDef)
          || lit(!geomOk)).as("rebuild_due"))
  }

  /** NIGHTLY LSH MAINTENANCE — `maintainPqIndex`'s shape for the
    * band tower: audit → rebuild-when-due. The rebuild is a full
    * [[persistLshIndex]] with a generation bump, so the next d10
    * probe ([[ensureLshIndex]]) reads the fresh index. Returns
    * whether a rebuild ran. */
  private[graft] def maintainLshIndex(s: SparkSession, d: String,
      minCoverageOverride: Option[Double] = None,
      maxBandDefectOverride: Option[Double] = None): Boolean = {
    val due = auditLshCoverage(s, d, minCoverageOverride,
      maxBandDefectOverride).head().getAs[Boolean]("rebuild_due")
    if (due) persistLshIndex(s, d)
    due
  }

  /** d10's delta-vs-corpus probe + exact-jaccard verify tail, served
    * from a given band index frame (d10 passes the ensured tower;
    * d14 the tower a maintain just rebuilt). The delta computes only
    * ITS OWN signatures and probes with a broadcast join — work
    * scales with |delta|, never |corpus|²; the corpus is scanned,
    * not shuffled. Endpoint shingle counts ride inside the
    * candidates (the persisted index stores n per row; the delta
    * side carries its own) — the verify tail joins NO corpus-scale
    * count relation (the per-doc count of the whole corpus is
    * itself O(corpus) and must neither broadcast nor shuffle
    * nightly). */
  private[graft] def deltaDedupServe(s: SparkSession, d: String,
      idx: DataFrame): DataFrame = {
    val (hashes, bands) = minhashGeometry(s)
    val sh = cappedShingles(s, d).cache()
    val deltaBands = minhashBands(
      minhashSigs(sh.filter(col("doc_id") % 5 === 0), hashes),
      hashes, bands)
    val cands = idx.as("c")
      .join(broadcast(deltaBands.as("q")),
        col("c.band") === col("q.band")
          && col("c.band_key") === col("q.band_key"))
      .select(col("q.doc_id").as("delta_id"),
        col("c.doc_id").as("corpus_id"),
        col("q.n").as("n_q"), col("c.n").as("n_c"))
      .distinct()
    val qSide = gateBroadcast(s, cands)
      .join(sh, col("delta_id") === col("doc_id"))
      .select(col("delta_id"), col("corpus_id"), col("n_q"),
        col("n_c"), col("shingle"))
    val scored = qSide
      .join(sh.as("b"), qSide("shingle") === col("b.shingle")
        && col("b.doc_id") === qSide("corpus_id"))
      .groupBy(col("delta_id"), col("corpus_id"), col("n_q"),
        col("n_c"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard", col("n_common").cast("double")
        / (col("n_q") + col("n_c") - col("n_common")))
      .filter(col("jaccard") >= 0.5)
    val perDelta = scored.groupBy(col("delta_id"))
      .agg(count(lit(1)).as("n_corpus_dups"),
        max(col("jaccard")).as("best_jaccard"))
    new Tables(s, d).documents.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("delta_id"))
      .join(perDelta, Seq("delta_id"), "left")
      .select(col("delta_id"),
        coalesce(col("n_corpus_dups"), lit(0L)).as("n_corpus_dups"),
        coalesce(col("best_jaccard"), lit(0.0)).as("best_jaccard"),
        (coalesce(col("n_corpus_dups"), lit(0L)) === 0).as("is_new"))
      .orderBy(col("delta_id"))
  }

  /** d10's (and d14's) from-source twin: bands over the full
    * df-capped shingle relation, delta-vs-corpus candidates, exact
    * jaccard ≥ 0.5 verify, one row per delta doc. */
  private def d10OracleSql: String =
    s"""WITH ${jaccardPairsSql()},
        ${minhashCtesSql()},
        cands_x AS (SELECT DISTINCT q.doc_id AS delta_id,
            c.doc_id AS corpus_id
          FROM bands q JOIN bands c
            ON q.band = c.band AND q.band_key = c.band_key
          WHERE q.doc_id % 5 = 0 AND c.doc_id % 5 <> 0),
        hits AS (SELECT delta_id, corpus_id, j.jaccard
          FROM cands_x
          JOIN jac j ON j.id_a = LEAST(delta_id, corpus_id)
                    AND j.id_b = GREATEST(delta_id, corpus_id)
          WHERE j.jaccard >= 0.5),
        per AS (SELECT delta_id, COUNT(*) AS n_corpus_dups,
            MAX(jaccard) AS best_jaccard
          FROM hits GROUP BY delta_id)
        SELECT d.doc_id AS delta_id,
          CAST(COALESCE(p.n_corpus_dups, 0) AS BIGINT) AS n_corpus_dups,
          COALESCE(p.best_jaccard, 0.0) AS best_jaccard,
          COALESCE(p.n_corpus_dups, 0) = 0 AS is_new
        FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
        LEFT JOIN per p ON p.delta_id = d.doc_id
        ORDER BY delta_id"""

  /** DuckDB twins of [[minhashSigs]]/[[minhashCands]] as CTEs over `sh`
    * (expects `sh` bound by [[jaccardPairsSql]] or [[shinglesSql]]).
    * Parameterized by the same geometry knobs; the SHIPPED oracles use
    * the defaults — a deployment overriding the confs re-derives its
    * oracle with this generator. */
  private[graft] def minhashCtesSql(hashes: Int = 16, bands: Int = 4): String = {
    val rows = hashes / bands
    s"""hashed AS (SELECT doc_id,
                     ('0x' || substr(md5(shingle), 1, 7))::BIGINT AS h
                   FROM sh),
        sigs AS (SELECT doc_id, seed,
                   MIN(((1000003 + 2 * seed) * h + 7919 * seed + 1)
                       % 2147483647) AS sig
                 FROM hashed, UNNEST(generate_series(0, ${hashes - 1})) AS t(seed)
                 GROUP BY doc_id, seed),
        bands AS (SELECT doc_id, seed // $rows AS band,
                    string_agg(lpad(CAST(seed AS VARCHAR), 2, '0') || ':' || sig,
                               '|' ORDER BY seed) AS band_key
                  FROM sigs GROUP BY doc_id, seed // $rows),
        cands AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
                  FROM bands x JOIN bands y
                    ON x.band = y.band AND x.band_key = y.band_key
                       AND x.doc_id < y.doc_id)"""
  }

  // a DEF like Similarity's: the d04 oracle twin is override-aware
  // (bandsCte consults the session at materialization time), so the
  // QueryDefs must re-materialize per access, not pin at class load
  def queries: Seq[QueryDef] = Seq(

    // ----- d01: exact dedup via content hash. One shuffle on the
    // md5; keeps the lowest doc_id per content group.
    QueryDef(
      "d01_exact_dedup",
      (s, d) => new Tables(s, d).documents
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_copies"))
        .orderBy(col("keep_id")),
      Some("""SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id,
          COUNT(*) AS n_copies
        FROM documents GROUP BY md5(text) ORDER BY keep_id""")),

    // ----- d05: exact dedup after CANONICALIZATION — lowercase, trim,
    // collapse whitespace, strip punctuation — so trivially-reformatted
    // copies hash together (the normalization step production dedup
    // runs before d01's raw hash; same one-shuffle shape).
    QueryDef(
      "d05_canonical_dedup",
      (s, d) => new Tables(s, d).documents
        .withColumn("canon", regexp_replace(
          regexp_replace(lower(trim(col("text"))), "[^a-z0-9\\s]", ""),
          "\\s+", " "))
        .groupBy(md5(col("canon")).as("canon_hash"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_copies"),
          min(length(col("canon"))).cast("long").as("canon_len"))
        .orderBy(col("keep_id")),
      Some("""SELECT md5(canon) AS canon_hash, MIN(doc_id) AS keep_id,
          COUNT(*) AS n_copies,
          CAST(MIN(length(canon)) AS BIGINT) AS canon_len
        FROM (SELECT doc_id, regexp_replace(regexp_replace(
                lower(trim(text)), '[^a-z0-9\s]', '', 'g'),
                '\s+', ' ', 'g') AS canon
              FROM documents)
        GROUP BY md5(canon) ORDER BY keep_id""")),

    // ----- d02: n-gram Jaccard near-dup pairs. Shingle join →
    // candidate pairs → exact jaccard ≥ 0.5 (the corpus is cleanly
    // bimodal: planted near-dups sit at ≥0.8, noise below 0.1).
    QueryDef(
      "d02_ngram_jaccard",
      (s, d) => jaccardPairs(s, d)
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"), col("n_common"), col("jaccard"))
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH ${jaccardPairsSql()}
        SELECT id_a, id_b, n_common, jaccard FROM jac
        WHERE jaccard >= 0.5 ORDER BY id_a, id_b""")),

    // ----- d03: MinHash + LSH. 16 md5-derived min-hashes per doc,
    // 4 bands × 4 rows; docs sharing a band key become candidates;
    // candidates are verified with exact jaccard. The band join is
    // the only shuffle that matters at scale — O(corpus), not O(n²).
    QueryDef(
      "d03_minhash_lsh",
      (s, d) => {
        val (hashes, bands) = minhashGeometry(s)
        val sh = cappedShingles(s, d).cache()
        val sigs = minhashSigs(sh, hashes)
        val cands = minhashCands(sigs, hashes, bands)
        // verify ONLY the candidates: broadcast the (tiny) candidate
        // set against the shingle relation instead of computing
        // jaccard for every shingle-sharing pair in the corpus. The
        // per-doc shingle counts RIDE INSIDE the candidate rows
        // (carried out of the band join from the signature agg), so
        // the verify tail touches NO corpus-scale relation besides
        // the two sh probes — no count joins, nothing corpus-sized
        // broadcast, no computed intermediate re-broadcast. The one
        // candidate broadcast is gated by candBroadcastLimit.
        val aSide = gateBroadcast(s, cands)
          .join(sh, col("id_a") === col("doc_id"))
          .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
            col("shingle"))
        aSide
          .join(sh.as("b"), aSide("shingle") === col("b.shingle")
            && col("b.doc_id") === aSide("id_b"))
          .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
          .agg(count(lit(1)).as("n_common"))
          .withColumn("jaccard", col("n_common").cast("double")
            / (col("n_a") + col("n_b") - col("n_common")))
          .filter(col("jaccard") >= 0.5)
          .select(col("id_a"), col("id_b"), col("jaccard"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH ${jaccardPairsSql()},
        ${minhashCtesSql()}
        SELECT c.id_a, c.id_b, j.jaccard
        FROM cands c JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
        WHERE j.jaccard >= 0.5 ORDER BY c.id_a, c.id_b"""),
      headline = true),

    // ----- d06: sketch-only jaccard ESTIMATE — seed-agreement fraction
    // of the two 16-hash signatures, per LSH candidate pair. This is
    // the 100 TB fast path: ranking/thresholding near-dups WITHOUT
    // re-touching the shingle relation (d03's exact verify) — the
    // estimator and its exact counterpart are both hash-checked, so
    // the estimate really is `agreements / 16` in both engines
    // (integer-by-16 division: one exact IEEE op).
    QueryDef(
      "d06_minhash_estimate",
      (s, d) => {
        val (hashes, bands) = minhashGeometry(s)
        val sh = cappedShingles(s, d)
        val sigs = minhashSigs(sh, hashes).cache()
        val cands = minhashCands(sigs, hashes, bands)
        val renameA = (0 until hashes).map(i => col(s"s$i").as(s"sa$i")) :+
          col("doc_id").as("id_a")
        val renameB = (0 until hashes).map(i => col(s"s$i").as(s"sb$i")) :+
          col("doc_id").as("id_b")
        val agree = (0 until hashes).map(i =>
          when(col(s"sa$i") === col(s"sb$i"), 1L).otherwise(0L))
          .reduce(_ + _)
        gateBroadcast(s, gateBroadcast(s, cands)
          .join(sigs.select(renameA: _*), "id_a"))
          .join(sigs.select(renameB: _*), "id_b")
          .withColumn("n_agree", agree)
          .select(col("id_a"), col("id_b"), col("n_agree"),
            (col("n_agree").cast("double") / hashes.toDouble).as("est_jaccard"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH ${jaccardPairsSql()},
        ${minhashCtesSql()}
        SELECT c.id_a, c.id_b,
          CAST(SUM(CASE WHEN a.sig = b.sig THEN 1 ELSE 0 END) AS BIGINT)
            AS n_agree,
          SUM(CASE WHEN a.sig = b.sig THEN 1 ELSE 0 END) / 16.0
            AS est_jaccard
        FROM cands c
        JOIN sigs a ON a.doc_id = c.id_a
        JOIN sigs b ON b.doc_id = c.id_b AND b.seed = a.seed
        GROUP BY c.id_a, c.id_b
        ORDER BY c.id_a, c.id_b""")),

    // ----- d07: near-dup CLUSTERS — the step that turns pairwise
    // matches into "keep one representative per group": connected
    // components over the verified pair graph, by iterative min-label
    // propagation (label(x) ← min(label(x), min of neighbors'
    // labels) until fixpoint — Pregel's shape in plain DataFrame ops;
    // each round is one shuffle on the edge key). The driver loop
    // only checks a scalar changed-count per round; iteration count
    // is the component diameter (dedup clusters are shallow — 2-3
    // rounds here). The DuckDB oracle computes the same fixpoint with
    // a recursive CTE (min over the reachable set).
    QueryDef(
      "d07_dedup_clusters",
      (s, d) => {
        val docs = new Tables(s, d).documents.select(col("doc_id"))
        val edges = nearDupEdges(s, d).cache()
        val labels = propagateLabels(docs, edges)._1
        edges.unpersist()
        labels.groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n_members"),
            max(col("doc_id")).as("max_member"))
          .orderBy(col("cluster_id"))
      },
      Some(s"""WITH RECURSIVE ${jaccardPairsSql()},
        edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM jac
                    WHERE jaccard >= 0.5
                  UNION ALL
                  SELECT id_b, id_a FROM jac WHERE jaccard >= 0.5),
        reach(src, dst) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        lbl AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
                FROM reach GROUP BY src)
        SELECT cluster_id, COUNT(*) AS n_members,
          MAX(doc_id) AS max_member
        FROM lbl GROUP BY cluster_id ORDER BY cluster_id""")),

    // ----- d12: the SAME clusters by LARGE-STAR/SMALL-STAR star
    // contraction (O(log n) rounds; see ccLargeSmallStar) — the
    // algorithm a 100 TB component search runs when components can be
    // DEEP (duplicate cascades, quote chains), where d07's one-hop-
    // per-round propagation would pay diameter rounds. Same verified
    // near-dup edge relation, same fixpoint, same oracle: the two
    // implementations hash-check against the identical recursive-CTE
    // answer, so the algorithmic swap is provably answer-preserving.
    QueryDef(
      "d12_cc_star_contraction",
      (s, d) => {
        val docs = new Tables(s, d).documents.select(col("doc_id"))
        val edges = nearDupEdges(s, d).cache()
        val labels = ccLargeSmallStar(docs, edges)._1
        edges.unpersist()
        labels.groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n_members"),
            max(col("doc_id")).as("max_member"))
          .orderBy(col("cluster_id"))
      },
      Some(s"""WITH RECURSIVE ${jaccardPairsSql()},
        edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM jac
                    WHERE jaccard >= 0.5
                  UNION ALL
                  SELECT id_b, id_a FROM jac WHERE jaccard >= 0.5),
        reach(src, dst) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        lbl AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
                FROM reach GROUP BY src)
        SELECT cluster_id, COUNT(*) AS n_members,
          MAX(doc_id) AS max_member
        FROM lbl GROUP BY cluster_id ORDER BY cluster_id""")),

    // ----- d08: the SCRUB — the deliverable a dedup pipeline actually
    // ships: per document, its cluster and whether it is the KEPT
    // representative (min doc_id per near-dup cluster — which IS the
    // converged label, so no extra pass). The kept=true rows are the
    // deduplicated training corpus; kept=false rows are the drop list
    // with full lineage (which cluster absorbed them). Same scale
    // shape as d07 plus one broadcast-sized join back to documents.
    QueryDef(
      "d08_dedup_scrub",
      (s, d) => {
        val docsFull = new Tables(s, d).documents
        val edges = nearDupEdges(s, d).cache()
        val labels = propagateLabels(docsFull.select(col("doc_id")), edges)._1
        edges.unpersist()
        docsFull.select(col("doc_id"), col("n_chars"))
          .join(labels, "doc_id")
          .select(col("doc_id"), col("cluster_id"),
            (col("doc_id") === col("cluster_id")).as("kept"),
            col("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE ${jaccardPairsSql()},
        edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM jac
                    WHERE jaccard >= 0.5
                  UNION ALL
                  SELECT id_b, id_a FROM jac WHERE jaccard >= 0.5),
        reach(src, dst) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        lbl AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
                FROM reach GROUP BY src)
        SELECT d.doc_id, l.cluster_id, d.doc_id = l.cluster_id AS kept,
          d.n_chars
        FROM documents d JOIN lbl l ON l.doc_id = d.doc_id
        ORDER BY d.doc_id""")),

    // ----- d04: SimHash — SimHashBits-bit signature from md5 token
    // hashes, majority vote per bit position, then near-dup pairs at
    // hamming distance ≤ SimHashBands-1. Signature pass is linear; the
    // candidate join is banded (below). The signature is WIDE (60 bits,
    // 15-bit bands → 32,768 buckets per band) precisely so the band-key
    // space grows past the corpus: a 16-value key space (the r2 nibble
    // design) kept candidate pairs at O(n²/32) no matter how big n got.
    QueryDef(
      "d04_simhash",
      (s, d) => {
        val bands = simHashBands(s, d)
        // banded candidate join instead of the O(n²) cross join:
        // hamming ≤ bands-1 means at most bands-1 differing bits across
        // `bands` equal-width bands, so (pigeonhole) at least one band
        // is identical — banding is LOSSLESS for this threshold. The
        // join shuffles on (band, chunk); chunk cardinality 2^bandBits
        // per band keeps bucket occupancy ~n/2^bandBits — the knob that
        // must grow with log n.
        val bandBits = simHashBits(s) / bands
        val sigC = simhashSignatures(s, d).cache()
        val banded = sigC
          .withColumn("band", explode(expr(s"sequence(0, ${bands - 1})")))
          .withColumn("chunk", expr(
            s"(simhash div cast(pow(2, band * $bandBits) as bigint)) % ${1L << bandBits}"))
        banded.as("a")
          .join(banded.as("b"),
            col("a.band") === col("b.band")
              && col("a.chunk") === col("b.chunk")
              && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
            col("a.simhash").as("simhash_a"), col("b.simhash").as("simhash_b"))
          .distinct()
          .withColumn("hamming",
            bit_count(col("simhash_a").bitwiseXOR(col("simhash_b")))
              .cast("long"))
          .filter(col("hamming") <= bands - 1)
          .select(col("id_a"), col("id_b"), col("simhash_a"),
            col("simhash_b"), col("hamming"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(simhashOracleSql()),
      headline = true),

    // ----- d10: INCREMENTAL dedup — today's ingest (the doc_id % 5
    // == 0 stripe) checked against the historical corpus WITHOUT a
    // corpus self-join. This is the shape a production pipeline runs
    // nightly: the corpus MinHash band index is PERSISTED
    // ([[ensureLshIndex]] — built once per (corpus, geometry), kept
    // fresh by `Maintenance.maintainIndexes`' audit → rebuild loop),
    // and each new batch only computes ITS OWN signatures and probes
    // the index with a broadcast join — work scales with |delta|,
    // never |corpus|²; the corpus is scanned, not shuffled.
    // Candidates are verified with exact jaccard (d03's
    // candidates-then-exact-verify discipline). Output: one row per
    // delta doc with its corpus-duplicate count, best jaccard, and
    // the is_new admission bit.
    QueryDef(
      "d10_incremental_dedup",
      (s, d) => deltaDedupServe(s, d, ensureLshIndex(s, d)),
      Some(d10OracleSql)),

    // ----- d14: the LSH tower's MAINTENANCE GATE — s29/s30's
    // always-due-lifecycle discipline for the band index: the
    // QueryDef ages the tower FOR REAL (a base-only build whose
    // nightly append never landed — 1/7 of the corpus stripe
    // missing, the meta's nd recording the hole), runs
    // maintainLshIndex on the DEFAULT dials (coverage 0.857 < 0.98
    // must fire), and serves d10's delta probe from whatever the
    // maintain left behind. The oracle is d10's from-source twin
    // VERBATIM (the selfcheck memoizes the shared string), so a
    // maintain that silently skipped the rebuild would probe an
    // index missing 1/7 of the corpus — every hit against the
    // missing stripe disappears — and fail the hash gate.
    QueryDef(
      "d14_lsh_maintained_dedup",
      (s, d) => {
        persistLshIndex(s, d, col("doc_id") % 7 =!= 0)
        maintainLshIndex(s, d)
        LshTower.refresh(s)
        deltaDedupServe(s, d, s.table("d10_lsh_bands"))
      },
      Some(d10OracleSql)),

    // ----- d11: PARAGRAPH-granularity fuzzy dedup — the RefinedWeb/
    // Dolma pass that document-level dedup (d03) misses: boilerplate
    // and quoted passages REPEATED ACROSS otherwise-distinct
    // documents. The "paragraph" on this single-line corpus is a
    // non-overlapping 32-token window (t12/t13's segmentation
    // convention); each paragraph gets its own MinHash signature over
    // its word-3-gram shingles, LSH banding yields candidate
    // paragraph pairs, exact jaccard >= 0.5 verifies, and the scrub
    // keeps the FIRST occurrence (min packed id = lexicographic
    // (doc_id, start) — the deterministic distributed stand-in for
    // sequential keep-first: a paragraph is dropped iff it verifies
    // against ANY earlier paragraph, dropped or not). Output is the
    // shipped deliverable: per doc, paragraph counts and the md5 of
    // the scrubbed text.
    // Scale: identical shape to d03 — linear explodes, df-capped
    // shingles, band-key join, gated-broadcast verify of only the
    // candidates — just keyed by paragraph (the relation is ~3x the
    // doc count here, corpus-linear always). Paragraph ids pack as
    // doc_id * 2^32 + token_start (safe to 2^31 docs x 2^32 tokens).
    QueryDef(
      "d11_paragraph_neardup",
      (s, d) => {
        val (hashes, bands) = minhashGeometry(s)
        val cap = shingleDfCap(s)
        val paras = new Tables(s, d).documents
          .withColumn("toks", expr(toksExpr))
          .withColumn("start", explode(expr("sequence(1, size(toks), 32)")))
          .select(col("doc_id"), col("start").cast("long").as("start"),
            array_join(slice(col("toks"), col("start"), lit(32)), " ")
              .as("ptext"))
          // paragraph key: fixed-width zero-padded string, NOT the
          // r12 bit-packing doc_id·2^32+start — that multiply
          // overflows BIGINT once doc_id ≥ 2^31 (found live by the
          // ×100 scale probe, whose copy-shifted ids reach ~10^10;
          // real 100 TB corpora pass 2^31 ids routinely). Padding
          // keeps the string order identical to the numeric order,
          // so candidate orientation (id_a < id_b) is unchanged.
          .withColumn("pid",
            concat(lpad(col("doc_id").cast("string"), 19, "0"),
              lit(":"), lpad(col("start").cast("string"), 10, "0")))
        val psh0 = paras
          .withColumn("ptoks", split(col("ptext"), " "))
          .filter(size(col("ptoks")) >= 3)
          .select(col("pid").as("doc_id"), explode(expr(
            """array_distinct(transform(sequence(0, size(ptoks) - 3),
               i -> concat(ptoks[i], ' ', ptoks[i+1], ' ', ptoks[i+2])))"""))
            .as("shingle"))
        val hot = psh0.groupBy(col("shingle"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") > cap)
          .select(col("shingle"))
        val psh = psh0.join(hot, Seq("shingle"), "left_anti")
          .select(col("doc_id"), col("shingle")).cache()
        val cands = minhashCands(minhashSigs(psh, hashes), hashes, bands)
        val aSide = gateBroadcast(s, cands)
          .join(psh, col("id_a") === col("doc_id"))
          .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
            col("shingle"))
        val dropped = aSide
          .join(psh.as("b"), aSide("shingle") === col("b.shingle")
            && col("b.doc_id") === aSide("id_b"))
          .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
          .agg(count(lit(1)).as("n_common"))
          .filter(col("n_common").cast("double")
            / (col("n_a") + col("n_b") - col("n_common")) >= 0.5)
          .select(col("id_b").as("pid")).distinct()
          .withColumn("is_dup", lit(true))
        paras.join(dropped, Seq("pid"), "left")
          .withColumn("is_dup", coalesce(col("is_dup"), lit(false)))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_paras"),
            sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dropped"),
            sort_array(collect_list(
              struct(col("start"), col("ptext"), col("is_dup")))).as("pg"))
          .select(col("doc_id"), col("n_paras"), col("n_dropped"),
            md5(array_join(
              expr("transform(filter(pg, x -> NOT x.is_dup), x -> x.ptext)"),
              " ")).as("scrubbed_md5"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH paras AS (
          SELECT doc_id, CAST(g AS BIGINT) AS start,
            lpad(CAST(doc_id AS VARCHAR), 19, '0') || ':'
              || lpad(CAST(g AS VARCHAR), 10, '0') AS pid,
            array_to_string(toks[g:g+31], ' ') AS ptext
          FROM (SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\\s+') AS toks
                FROM documents),
            UNNEST(generate_series(1, len(toks), 32)) AS t(g)),
        sh AS (
          SELECT pid AS doc_id, shingle FROM (
            SELECT DISTINCT pid,
              ptoks[i] || ' ' || ptoks[i+1] || ' ' || ptoks[i+2] AS shingle
            FROM (SELECT pid, string_split(ptext, ' ') AS ptoks FROM paras) t,
              UNNEST(generate_series(1, len(ptoks) - 2)) AS u(i)
            WHERE len(ptoks) >= 3)
          QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= $resolvedShingleDfCap),
        ${minhashCtesSql()},
        cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        ver AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_common
          FROM cands c
          JOIN sh a ON a.doc_id = c.id_a
          JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
          GROUP BY 1, 2),
        dropped AS (SELECT DISTINCT v.id_b AS pid
          FROM ver v
          JOIN cnt ca ON ca.doc_id = v.id_a
          JOIN cnt cb ON cb.doc_id = v.id_b
          WHERE CAST(v.n_common AS DOUBLE)
            / (ca.n + cb.n - v.n_common) >= 0.5)
        SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras,
          CAST(SUM(CASE WHEN dr.pid IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped,
          md5(coalesce(string_agg(p.ptext, ' ' ORDER BY p.start)
            FILTER (WHERE dr.pid IS NULL), '')) AS scrubbed_md5
        FROM paras p LEFT JOIN dropped dr ON dr.pid = p.pid
        GROUP BY p.doc_id ORDER BY p.doc_id"""))
  )

  /** Iterative min-label propagation to a fixpoint — connected
    * components in plain DataFrame ops (Pregel's shape: each round is
    * one shuffle on the edge key; the driver sees only a scalar
    * changed-count). Each round's labels are lineage-truncated with a
    * LAZY `localCheckpoint`: every round references the previous
    * labels TWICE (neighbor-min + self), so an un-truncated plan
    * doubles per round — exponential tree growth, quadratic-plus
    * re-planning on a deep-diameter component. The checkpoint pins
    * each round as a materialized RDD; the changed-count that gates
    * the loop materializes it anyway, so truncation costs no extra
    * job, and plan depth stays O(1) in the round count (DeepChainSpec
    * drives a diameter-16 chain through this loop and asserts it).
    * Dedup graphs themselves converge in 2-3 rounds. On a multi-
    * executor cluster set `spark.graft.ccReliableCheckpoint=true`
    * (see [[ccTruncate]]) — localCheckpoint blocks die with their
    * executor and the truncated lineage cannot recompute.
    *
    * `nodes`: one `doc_id` per vertex; `edges`: (src, dst),
    * symmetrized. Returns (labels (doc_id, cluster_id), rounds). */
  /** Per-round lineage control for the iterative CC loops. Default:
    * lazy `localCheckpoint` — fastest, but executor-local blocks die
    * with their executor and truncated lineage cannot recompute, so a
    * lost executor mid-iteration kills the whole job. With
    * `spark.graft.ccReliableCheckpoint=true`, every
    * `spark.graft.ccCheckpointInterval`-th round (default 1 = each)
    * checkpoints to reliable storage under
    * `spark.graft.ccCheckpointDir` instead; in-between rounds keep
    * full lineage (cache only), so recovery after an executor loss
    * recomputes at most interval−1 rounds from the last durable
    * checkpoint — the standard hardening for long iterative jobs at
    * 100 TB. All three variants return a persisted frame the loop's
    * gating count materializes; labels are bit-identical either way
    * (`DeepChainSpec`/`LargeSmallStarSpec` assert it). */
  private def ccTruncate(df: DataFrame, round: Int): DataFrame = {
    val s = df.sparkSession
    if (!GraftConf.bool(s, GraftConf.CcReliableCheckpointKey, false))
      df.localCheckpoint(false)
    else {
      val every = GraftConf.int(s, GraftConf.CcCheckpointIntervalKey, 1)
      require(every > 0,
        s"${GraftConf.CcCheckpointIntervalKey} must be positive, got $every")
      if (round % every == 0) {
        val dir = GraftConf.string(s, GraftConf.CcCheckpointDirKey, "")
        if (dir.nonEmpty) {
          // The context's checkpoint dir is global and sticky (Spark
          // appends a UUID subdir per set), so decide from the
          // CONTEXT itself whether it already points under the
          // configured dir — a JVM-global "applied" flag would
          // survive a context restart (leaving the fresh context with
          // no dir at all) and race between concurrent sessions with
          // different dirs.
          val wanted = new org.apache.hadoop.fs.Path(dir).toUri.getPath
          val already = s.sparkContext.getCheckpointDir.exists { cur =>
            val curP = new org.apache.hadoop.fs.Path(cur)
            (Option(curP.getParent).toSeq :+ curP)
              .exists(_.toUri.getPath == wanted)
          }
          if (!already) s.sparkContext.setCheckpointDir(dir)
        } else require(s.sparkContext.getCheckpointDir.nonEmpty,
          s"${GraftConf.CcReliableCheckpointKey} needs " +
            s"${GraftConf.CcCheckpointDirKey} (or a SparkContext " +
            "checkpoint dir) pointing at reliable storage")
        df.checkpoint(false)
      } else df.cache()
    }
  }

  /** Failure-injection hook for the CC loops, called with the 1-based
    * round number at the TOP of each propagation round — BEFORE the
    * round's plan re-reads the previous round's truncated labels.
    * `CcFailureInjectionSpec` points it at a block-manager wipe to
    * prove the `ccReliableCheckpoint` recovery path actually recovers
    * (and that the default localCheckpoint path actually cannot).
    * Production value is a no-op; never set outside tests. */
  @volatile private[graft] var ccRoundHook: Int => Unit = _ => ()

  private[graft] def propagateLabels(nodes: DataFrame,
      edges: DataFrame): (DataFrame, Int) = {
    var labels = nodes.withColumn("cluster_id", col("doc_id")).cache()
    var changed = 1L
    var round = 0
    while (changed > 0) {
      round += 1
      ccRoundHook(round)
      val nbrMin = edges
        .join(labels.withColumnRenamed("doc_id", "nid"),
          col("dst") === col("nid"))
        .groupBy(col("src")).agg(min(col("cluster_id")).as("nbr_min"))
      val next = ccTruncate(labels
        .join(nbrMin, labels("doc_id") === nbrMin("src"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"),
            coalesce(col("nbr_min"), col("cluster_id")))
            .as("cluster_id")), round)
      changed = next.as("n")
        .join(labels.withColumnRenamed("cluster_id", "old"), "doc_id")
        .filter(col("cluster_id") =!= col("old")).count()
      labels.unpersist()
      labels = next
    }
    (labels, round)
  }

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR
    * rounds — the O(log n)-round algorithm (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", 2014; public),
    * vs [[propagateLabels]]' O(diameter) rounds. On dedup graphs
    * (shallow clusters) the two cost the same; on a long-chain
    * component — duplicate CASCADES, quote chains, template drift —
    * min-label propagation pays one round PER HOP while star
    * contraction halves the component's height every other round.
    * `LargeSmallStarSpec` drives both over a diameter-256 chain:
    * 257 rounds vs 9.
    *
    * Each round is two grouped aggregations + two co-keyed joins over
    * the CURRENT edge set (which only ever shrinks toward one edge
    * per non-root node) — no step touches anything corpus-quadratic,
    * and per-round [[ccTruncate]] bounds lineage exactly as in
    * [[propagateLabels]] (reliable checkpointing under the same
    * `spark.graft.ccReliableCheckpoint` dial). Convergence is an
    * exact set comparison — count equality + an empty `except`
    * probe — and the probe is LOAD-BEARING: the folklore
    * cheaper check (stop when the canonical edge count stops
    * shrinking) is WRONG for this contraction — on a chain, a round
    * rewires every edge while the count stays constant, so
    * count-only stops a round early with off-by-a-generation labels
    * (measured r18; [[ccContractionRound]] is split out so
    * `LargeSmallStarSpec` pins the counterexample). One anti-join
    * per round over the shrinking edge set is the price of a true
    * fixpoint witness.
    *
    * large-star: per center u over the SYMMETRIZED edges, m =
    * min(N(u) ∪ {u}); every STRICTLY LARGER neighbor re-links to m.
    * small-star: per larger endpoint u of each edge, m = min of its
    * smaller neighbors; u and all its smaller neighbors except m
    * re-link to m. Both preserve connectivity; the fixpoint is a
    * star per component centered at its minimum id.
    *
    * Returns (labels (doc_id, cluster_id), rounds) — cluster_id is
    * the component minimum, identical to [[propagateLabels]]. */
  /** Canonicalize an edge frame to distinct (u > v) self-loop-free
    * pairs — the invariant every contraction round consumes and
    * re-establishes. */
  private def ccCanon(df: DataFrame): DataFrame = df
    .select(greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v"))
    .filter(col("u") =!= col("v"))
    .distinct()

  /** ONE large-star + small-star contraction round over a canonical
    * edge set — [[ccLargeSmallStar]]'s loop body, split out so
    * `LargeSmallStarSpec` can pin the r18 counterexample: on a chain
    * this round rewires EVERY edge while the canonical edge COUNT
    * stays constant, so a count plateau is NOT a fixpoint witness —
    * the loop's exact `except` probe is. */
  private[graft] def ccContractionRound(cur: DataFrame,
      round: Int): DataFrame = {
    // large-star
    val sym = cur.select(col("u").as("c"), col("v").as("n"))
      .union(cur.select(col("v").as("c"), col("u").as("n")))
    val lMins = sym.groupBy(col("c"))
      .agg(min(col("n")).as("nm"))
      .select(col("c"), least(col("nm"), col("c")).as("m"))
    val large = sym.filter(col("n") > col("c"))
      .join(lMins, "c")
      .select(col("n").as("u"), col("m").as("v"))
    // small-star over the large-star output (edges already (u > v))
    val ls = ccCanon(large)
    val sMins = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
    val linked = ls.join(sMins, "u")
    ccTruncate(ccCanon(
        linked.filter(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v"))
        .union(linked.select(col("u"), col("m").as("v")))), round)
  }

  private[graft] def ccLargeSmallStar(nodes: DataFrame,
      edges0: DataFrame): (DataFrame, Int) = {
    var cur = ccTruncate(ccCanon(edges0
        .select(col("src").as("u"), col("dst").as("v"))), 0)
    cur.cache()
    var nCur = cur.count() // carried across rounds: next round's |cur|
    var rounds = 0
    var done = nCur == 0L
    while (!done) {
      rounds += 1
      val next = ccContractionRound(cur, rounds)
      next.cache()
      val nNext = next.count()
      done = nCur == nNext && next.except(cur).isEmpty
      cur.unpersist()
      cur = next
      nCur = nNext
    }
    val roots = cur.groupBy(col("u")).agg(min(col("v")).as("root"))
    val labels = nodes
      .join(roots, nodes("doc_id") === roots("u"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("doc_id")).as("cluster_id"))
    (labels, rounds)
  }

  /** d07's edge relation: the verified near-dup pairs (same predicate
    * as d02), symmetrized. private[graft]: p10's leakage-free cluster
    * split reuses the exact edge builder its clusters derive from. */
  private[graft] def nearDupEdges(s: SparkSession, d: String): DataFrame = {
    val pairs = jaccardPairs(s, d)
      .filter(col("jaccard") >= 0.5)
      .select(col("id_a"), col("id_b"))
    pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
  }

  /** (doc_id, simhash) at the session's configured signature width —
    * all bit-balances in one aggregation pass (`bits` conditional sums
    * over the token hash): one shuffle of (doc, `bits` buffers)
    * instead of a `bits`× row explosion. Exposed so ScaleKnobsSpec can
    * brute-force-verify the banded join at alternate geometries. */
  private[graft] def simhashSignatures(s: SparkSession, d: String): DataFrame = {
    val bits = simHashBits(s)
    val balCols = (0 until bits).map(b =>
      sum(when(expr(s"(h div ${1L << b}) % 2") === 1, 1).otherwise(-1))
        .as(s"bal$b"))
    val simhashExpr = (0 until bits).map(b =>
      when(col(s"bal$b") > 0, lit(1L << b)).otherwise(0L))
      .reduce(_ + _)
    new Tables(s, d).documents
      .select(col("doc_id"), explode(expr(toksExpr)).as("tok"))
      .withColumn("h",
        conv(substring(md5(col("tok")), 1, bits / 4), 16, 10).cast("long"))
      .groupBy(col("doc_id"))
      .agg(balCols.head, balCols.tail: _*)
      .select(col("doc_id"), simhashExpr.cast("long").as("simhash"))
  }

  /** The session whose confs the SQL-twin generator consults —
    * same discipline as Similarity's [[Similarity.sessionForOracle]]:
    * active first, default as fallback, so a twin materialized from a
    * non-query thread still sees the override. */
  private def sessionForOracle: Option[SparkSession] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)

  /** The `geom` CTE supplying the band count (= hamming threshold +
    * 1) to the d04 SQL twin — override-aware like s02's hCte: with
    * `spark.graft.simhashBands` set at oracle-materialization time
    * the resolved value pins as a literal; otherwise the twin derives
    * the SAME [[adaptiveSimHashBands]] from COUNT(*) in SQL, with the
    * per-band bucket-space thresholds precomputed as integer literals
    * for the generator's `bits` (no floating pow in either engine). */
  private def bandsCte(bits: Int): String =
    sessionForOracle
      .flatMap(s => s.conf.getOption(GraftConf.SimHashBandsKey))
      .map(_.trim.toInt) match {
      case Some(b) =>
        require(b > 0 && bits % b == 0,
          s"${GraftConf.SimHashBandsKey} must divide $bits, got $b")
        s"geom AS (SELECT $b AS bands)"
      case None if sessionForOracle.exists(s =>
          GraftConf.bool(s, GraftConf.SimHashRecallFirstKey, false)) =>
        // recall-first policy: same literal pin as an explicit
        // override — bands = 4 regardless of corpus count
        s"geom AS (SELECT $SimHashBands AS bands)"
      case None =>
        val cases = (4 to 2 by -1).filter(bits % _ == 0).map { b =>
          val e = bits / b
          val cap = if (e >= 62) Long.MaxValue else 1L << e
          s"WHEN $cap >= 4 * (SELECT COUNT(*) FROM documents) THEN $b"
        }.mkString(" ")
        s"geom AS (SELECT (CASE $cases ELSE 1 END) AS bands)"
    }

  /** Signature width the SQL twin should embed: a session
    * `spark.graft.simhashBits` override at oracle-materialization
    * time wins (queries is a def — twins re-materialize per access),
    * else the static default. Without this the Spark side would
    * compute override-width signatures while the twin stayed at 60 —
    * exactly the silent gate-invalidation [[bandsCte]] already
    * guards against for the band count. */
  private def resolvedSimHashBits: Int =
    sessionForOracle
      .flatMap(s => s.conf.getOption(GraftConf.SimHashBitsKey))
      .map(_.trim.toInt) match {
      case Some(b) =>
        require(b > 0 && b <= 60 && b % 4 == 0,
          s"${GraftConf.SimHashBitsKey} must be a positive multiple " +
            s"of 4 <= 60, got $b")
        b
      case None => SimHashBits
    }

  /** DuckDB twin of d04 (bits from [[resolvedSimHashBits]] —
    * override-aware; bands from [[bandsCte]] — adaptive or
    * override-pinned). */
  private[graft] def simhashOracleSql(
      bits: Int = resolvedSimHashBits): String =
    s"""WITH ${bandsCte(bits)},
        tok AS (
          SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
          FROM documents),
        th AS (SELECT doc_id,
                 ('0x' || substr(md5(tok), 1, ${bits / 4}))::BIGINT AS h
               FROM tok),
        bits AS (SELECT doc_id, bit,
                   SUM(CASE WHEN (h // CAST(pow(2, bit) AS BIGINT)) % 2 = 1
                       THEN 1 ELSE -1 END) AS balance
                 FROM th, UNNEST(generate_series(0, ${bits - 1})) AS t(bit)
                 GROUP BY doc_id, bit),
        sig AS (SELECT doc_id,
                  CAST(SUM(CASE WHEN balance > 0
                    THEN CAST(pow(2, bit) AS BIGINT) ELSE 0 END) AS BIGINT)
                    AS simhash
                FROM bits GROUP BY doc_id)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          a.simhash AS simhash_a, b.simhash AS simhash_b,
          CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash))
          <= (SELECT bands FROM geom) - 1
        ORDER BY id_a, id_b"""
}
