package graft

/** Dump `.explain("formatted")` of declared queries to files — the
  * optimization rounds' plan-evidence artifact
  * (`plans/r19/<query>_{before,after}.txt`). Usage:
  * `sbt "runMain graft.PlanDump <sfDir> <outDir> <suffix> <q1,q2,…> [exec]`.
  * With `exec`, the query is executed first (collect) so the dump is
  * the FINAL adaptive plan with `[codegen id : n]` annotations —
  * the evidence for whole-stage-codegen membership claims; without
  * it the dump is the initial `isFinalPlan=false` plan.
  * Streaming-only queries (no batch plan) are skipped. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("plans/r19")
    val suffix = args.lift(2).getOrElse("before")
    val names = args.lift(3).map(_.split(",").toSeq)
      .getOrElse(SparkEntry.headlines.map(_.name))
    val exec = args.lift(4).contains("exec")
    val spark = Harness.session("graft-plandump")
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        if (exec) df.collect() // drive AQE to the final plan
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        System.err.println(s"[plandump] wrote $name ($suffix)")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
