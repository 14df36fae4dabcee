package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** d07's label-propagation loop on a graph dedup never produces but a
  * general component search does: a planted CHAIN of diameter 16.
  * Min-label propagation moves the minimum one hop per round, so the
  * loop must run ~diameter rounds — this is where unbounded lineage
  * would bite (each round's plan nests the previous one). The periodic
  * localCheckpoint keeps the final plan depth independent of the round
  * count; this spec proves convergence, round count, AND the bounded
  * plan. */
class DeepChainSpec extends SparkSpec {

  import spark.implicits._

  test("diameter-16 chain converges with bounded plan depth") {
    val n = 17 // chain 0-1-2-...-16, diameter 16
    val nodes = spark.range(0, n).toDF("doc_id")
    val fwd = (0 until n - 1).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))

    val (labels, rounds) = Dedup.propagateLabels(nodes, edges)
    val out = labels.collect().map(r => (r.getLong(0), r.getLong(1)))

    // one component, labeled by its minimum member
    assert(out.length == n)
    assert(out.forall(_._2 == 0L), s"unconverged labels: ${out.filterNot(_._2 == 0L).take(5).toSeq}")

    // min-label propagation is one hop per round: diameter rounds to
    // reach the far end + one no-change round to detect the fixpoint
    assert(rounds >= 16 && rounds <= 17, s"rounds = $rounds")

    // lineage is truncated: each round references the previous labels
    // twice, so an un-truncated plan DOUBLES per round (2^17 nodes
    // here); with per-round localCheckpoint the final plan is one
    // round of operators over materialized scans
    val planLines = labels.queryExecution.optimizedPlan.treeString.linesIterator.size
    assert(planLines < 60, s"optimized plan has $planLines lines — lineage not truncated")
    labels.unpersist()
  }

  test("ccReliableCheckpoint: identical labels, durable dir populated") {
    // the 100 TB hardening: with the knob on, every interval-th round
    // checkpoints to reliable storage (a lost executor recomputes at
    // most interval-1 rounds instead of killing the job, since
    // localCheckpoint's truncated lineage cannot recompute)
    val n = 17
    val nodes = spark.range(0, n).toDF("doc_id")
    val fwd = (0 until n - 1).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))

    val (base, baseRounds) = Dedup.propagateLabels(nodes, edges)
    val baseOut = base.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    base.unpersist()

    val dir = java.nio.file.Paths.get(tmpDir("graft_cc_ckpt"))
    try {
      spark.conf.set(GraftConf.CcReliableCheckpointKey, "true")
      spark.conf.set(GraftConf.CcCheckpointDirKey, dir.toString)
      // interval 2 exercises BOTH paths: reliable rounds and the
      // lineage-kept (cache-only) rounds in between
      spark.conf.set(GraftConf.CcCheckpointIntervalKey, "2")
      val (rel, relRounds) = Dedup.propagateLabels(nodes, edges)
      val relOut = rel.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      rel.unpersist()
      assert(relOut == baseOut) // labels identical under either mode
      assert(relRounds == baseRounds)
      // durable artifacts actually landed under the CONFIGURED dir
      val walk = java.nio.file.Files.walk(dir)
      val files = try walk.filter(java.nio.file.Files.isRegularFile(_)).count()
        finally walk.close()
      assert(files > 0, s"no checkpoint files under $dir")
    } finally {
      spark.conf.unset(GraftConf.CcReliableCheckpointKey)
      spark.conf.unset(GraftConf.CcCheckpointDirKey)
      spark.conf.unset(GraftConf.CcCheckpointIntervalKey)
      // clean the durable dir so the suite leaves no residue
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }
}
