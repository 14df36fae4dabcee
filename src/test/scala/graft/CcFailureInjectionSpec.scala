package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.TestShims

/** Failure injection for the iterative-CC hardening dial: destroy
  * every executor-held RDD block MID-ITERATION (the single-JVM moral
  * equivalent of losing the executor) and prove both halves of the
  * `spark.graft.ccReliableCheckpoint` contract —
  *
  *   1. the DEFAULT per-round `localCheckpoint` path dies: its
  *      truncated lineage cannot recompute the lost blocks, so the
  *      next round's job aborts (this is exactly why the dial
  *      exists);
  *   2. the RELIABLE path recovers: the previous rounds live as files
  *      under the durable checkpoint dir, cache-only in-between
  *      rounds recompute from lineage that bottoms out at those
  *      files, and the loop converges to labels IDENTICAL to an
  *      uninjected run.
  *
  * The injection rides [[Dedup.ccRoundHook]], called at the top of
  * each round before the round's plan re-reads the previous labels.
  * Chain graph as in `DeepChainSpec` — deep enough (diameter 16) that
  * round 5 is genuinely mid-iteration. */
class CcFailureInjectionSpec extends SparkSpec {

  import spark.implicits._

  private val n = 17

  private def chain = {
    val nodes = spark.range(0, n).toDF("doc_id")
    val fwd = (0 until n - 1).map(i => (i.toLong, i.toLong + 1))
      .toDF("src", "dst")
    (nodes, fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst"))))
  }

  /** Arm the hook to wipe the block manager ONCE, at `atRound`. */
  private def armWipe(atRound: Int): Unit = {
    var fired = false
    Dedup.ccRoundHook = r =>
      if (r == atRound && !fired) {
        fired = true
        val dropped = TestShims.dropAllRddBlocks(spark.sparkContext)
        assert(dropped > 0, "injection dropped no blocks — nothing was tested")
      }
  }

  test("default localCheckpoint path CANNOT survive block loss") {
    val (nodes, edges) = chain
    armWipe(5)
    try {
      val e = intercept[Exception] {
        val (labels, _) = Dedup.propagateLabels(nodes, edges)
        labels.collect() // not reached: the round-5 count aborts first
      }
      // the failure must be the documented one — a truncated-lineage
      // checkpoint block that no longer exists, not some other crash
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(msgs.toLowerCase.contains("block"),
        s"expected a lost-checkpoint-block failure, got: $msgs")
    } finally Dedup.ccRoundHook = _ => ()
  }

  test("ccReliableCheckpoint path RECOVERS with identical labels") {
    val (nodes, edges) = chain
    // uninjected baseline (default path, no hook)
    val (base, baseRounds) = Dedup.propagateLabels(nodes, edges)
    val baseOut = base.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    base.unpersist()

    val dir = java.nio.file.Paths.get(tmpDir("graft_cc_inject"))
    try {
      spark.conf.set(GraftConf.CcReliableCheckpointKey, "true")
      spark.conf.set(GraftConf.CcCheckpointDirKey, dir.toString)
      // interval 2: the wiped round-5 plan sits on a CACHE-ONLY round
      // whose lineage must replay from the round-4 durable files —
      // the at-most-interval-minus-one-rounds recovery claim, not
      // just a read of the latest checkpoint
      spark.conf.set(GraftConf.CcCheckpointIntervalKey, "2")
      armWipe(5)
      val (rel, relRounds) = try Dedup.propagateLabels(nodes, edges)
        finally Dedup.ccRoundHook = _ => ()
      val relOut = rel.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      rel.unpersist()
      assert(relOut == baseOut,
        "labels diverged after mid-iteration block loss")
      assert(relRounds == baseRounds)
    } finally {
      spark.conf.unset(GraftConf.CcReliableCheckpointKey)
      spark.conf.unset(GraftConf.CcCheckpointDirKey)
      spark.conf.unset(GraftConf.CcCheckpointIntervalKey)
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }
}
