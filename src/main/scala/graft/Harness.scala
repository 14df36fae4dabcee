package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every main (Bench, Verify, PlanDump,
  * ScaleUp and the probes) and the spec base get the same local
  * session, so a plan measured by one is the plan checked by another. */
object Harness {

  /** `SPARK_GRAFT_CPUS`, else every core this JVM sees. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** local[cpus] with cpus shuffle partitions, UTC, no UI. Rank-literal
    * prunes up to p09's token budget rewrite to map-side
    * WindowGroupLimits (semantics-preserving; a session default so no
    * QueryDef has to mutate session conf — TokenBudgetSpec pins it). */
  def session(app: String, cpus: Int = defaultCpus): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.windowGroupLimitThreshold",
        operators.Pipeline.TokenBudget.toString)
      .getOrCreate()
}
