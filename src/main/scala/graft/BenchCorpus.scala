package graft

/** Materialize a COMPLETE ×K bench corpus directory — the documented
  * `SPARK_GRAFT_SF_DIR` sweep mode: at sf0.1 every bench query sits
  * at the per-job scheduling floor (the r19 verdict's 8-vs-32-core
  * ratios all read ≈1), so core-scaling evidence needs an SF where
  * the data term is visible. The fact tables come from
  * [[ScaleUp.build]] (the probes' isometric ×K construction: disjoint
  * key shifts, per-copy token renaming / orthogonal transforms); the
  * dimension tables the probes don't scale (customer, supplier,
  * nation, region) are copied verbatim so the directory satisfies the
  * full [[Tables]] layout. Shifted fact keys only match dimension
  * rows of copy 0, so the dimension-joining relational queries
  * (q03/q05) under-join at ×K — they are sub-second floor queries
  * either way; the scaling evidence lives in the documents-,
  * embeddings- and events-driven heavies, which scale exactly.
  *
  * Usage: `sbt "runMain graft.BenchCorpus [sfDir] [k]"`, then
  * `SPARK_GRAFT_SF_DIR=<printed dir> SPARK_GRAFT_CPUS=... sbt
  * "runMain graft.Bench"`. */
object BenchCorpus {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(10)
    val outDir =
      s"${System.getProperty("java.io.tmpdir")}/graft_scaleup_x$k"
    val spark = Harness.session("graft-benchcorpus")
    spark.sparkContext.setLogLevel("WARN")
    ScaleUp.build(spark, sfDir, outDir, k)
    Seq("customer", "supplier", "nation", "region").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    println(s"BENCH_CORPUS_DIR=$outDir")
    spark.stop()
  }
}
