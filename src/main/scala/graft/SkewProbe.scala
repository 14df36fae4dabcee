package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SKEWED-CLUSTER probe for d13 SemDeDup (on demand, not
  * driver-gated): the ×K isometric corpus is ISOTROPIC by
  * construction, which exercises the occupancy² pair bound only in
  * its best case — real embedding corpora cluster, and a heavy mode
  * is exactly what could blow a cell past the occupancy budget and
  * turn the within-cell self-join quadratic.
  *
  * The probe plants a heavy cluster: a deterministic md5 gate picks
  * `ModePct`% of the ×K corpus's vectors and replaces them with
  * `mode + 0.1·noise` (mode = one fixed md5-derived direction; noise
  * per (vec_id, dim), also md5 — fully deterministic, no RNG state).
  * Those vectors are mutually cosine ≈ 0.95+, i.e. one huge genuine
  * near-dup cluster holding 20% of the corpus mass.
  *
  * What the k-means backbone should do with it: the training sample
  * sees ~20% of its mass in the mode, so Lloyd allocates ~20% of the
  * k cells there and per-cell occupancy stays near the adaptive
  * budget — the pair work then stays bounded even though a fifth of
  * the corpus is one semantic cluster. The probe MEASURES that claim
  * instead of assuming it: it runs the full d13 query on the skewed
  * corpus (wall + dropped count) and independently routes the corpus
  * through the shared quantizer to print the per-cell OCCUPANCY
  * histogram (mean / p50 / p99 / max and the top cells), plus the
  * occupancy² pair-work total, then merges one
  * `d13_semdedup_skew` row into `scaleup_out.json`.
  *
  * Usage: `sbt "runMain graft.SkewProbe [sfDir] [K]"`.
  */
object SkewProbe {

  private val ModePct = 20
  private val VecDim = 64

  /** Deterministic direction for the planted mode: md5("mode:d")
    * uniform in [-0.5, 0.5) per dimension. */
  private def modeDir: IndexedSeq[Double] =
    (0 until VecDim).map { dd =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"mode:$dd".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16).toDouble / 4294967296.0 - 0.5
    }

  /** Rewrite `srcDir/embeddings.parquet` into `dstDir` with ModePct%
    * of vectors collapsed onto the mode (+0.1·noise); a [[Derived]]
    * directory of that source file. */
  private def buildSkew(spark: SparkSession, srcDir: String,
      dstDir: String): Unit =
    Derived.dir(dstDir, s"skew|$ModePct|v1",
        Seq(s"$srcDir/embeddings.parquet")) { out =>
      val m = modeDir
      val inMode =
        (conv(substring(md5(concat(lit("skew:"),
          col("vec_id").cast("string"))), 1, 8), 16, 10).cast("long")
          % 100) < ModePct
      val skewed = array((0 until VecDim).map { dd =>
        lit(m(dd)) + (conv(substring(md5(concat(col("vec_id")
          .cast("string"), lit(s"#$dd"))), 1, 8), 16, 10).cast("double")
          / lit(4294967296.0) - lit(0.5)) * lit(0.1)
      }: _*).cast("array<float>")
      spark.read.parquet(s"$srcDir/embeddings.parquet")
        .select(col("vec_id"),
          when(inMode, skewed).otherwise(col("embedding")).as("embedding"),
          col("label"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(100)
    val spark = Harness.session("graft-skewprobe")
    spark.sparkContext.setLogLevel("WARN")

    val xkDir = s"${System.getProperty("java.io.tmpdir")}/graft_scaleup_x$k"
    ScaleUp.build(spark, sfDir, xkDir, k)
    val skewDir =
      s"${System.getProperty("java.io.tmpdir")}/graft_scaleup_skew_x$k"
    buildSkew(spark, xkDir, skewDir)

    val fn = SparkEntry.queries("d13_semdedup")
    def dropped(df: DataFrame): Long = df.filter(!col("kept")).count()
    def time(dir: String): (Double, Long) = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val n = dropped(fn(spark, dir))
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val (t1, n1) = time(sfDir)    // unskewed ×1 baseline
    val (tk, nk) = time(skewDir)  // skewed ×K

    // occupancy histogram through the SAME backbone d13 routes with
    val corpus = spark.read.parquet(s"$skewDir/embeddings.parquet")
      .select(col("vec_id").as("c_id"), col("embedding").as("bv"))
    val n = corpus.count()
    val cells = graft.operators.Similarity
      .adaptiveIvfCells(n)
    val (scCent, cellCent) = graft.operators.Similarity
      .twoLevelTrain(corpus, "d13s:", n, cells)
    val occ = graft.operators.Similarity
      .routeToCells(corpus, "c_id", "bv", scCent, cellCent, 3, 1)
      .groupBy(col("cid")).agg(count(lit(1)).as("occ"))
      .select(col("occ")).collect().map(_.getLong(0)).sorted
    val pairWork = occ.map(o => o * (o - 1) / 2).sum
    def pct(p: Int): Long = occ(((occ.length - 1).toLong * p / 100).toInt)
    val json = s"""{"query":"d13_semdedup_skew","k":$k,""" +
      s""""rows_x1":$n1,"rows_xk":$nk,""" +
      s""""retention":${nk.toDouble / (k * math.max(1L, n1))},""" +
      s""""sec_x1":$t1,"sec_xk":$tk,""" +
      s""""time_ratio":${tk / math.max(1e-9, t1)},""" +
      s""""mode_pct":$ModePct,"n_cells":${occ.length},""" +
      s""""occ_mean":${n.toDouble / math.max(1, occ.length)},""" +
      s""""occ_p50":${pct(50)},"occ_p99":${pct(99)},""" +
      s""""occ_max":${occ.last},""" +
      s""""occ_top5":${occ.takeRight(5).mkString("[", ",", "]")},""" +
      s""""pair_work":$pairWork}"""
    println(json)
    System.err.println(json)
    ScaleUp.mergeIntoMatrix(Seq(json), Set(("d13_semdedup_skew", k)))
    spark.stop()
  }
}
