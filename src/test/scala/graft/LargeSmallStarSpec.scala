package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** d12's star-contraction component search vs d07's min-label
  * propagation: identical labels on every graph, but rounds scale
  * O(log n) vs O(diameter). A diameter-256 chain is the adversarial
  * shape (duplicate cascades / quote chains produce exactly this):
  * propagation needs ~257 rounds; alternating large-star/small-star
  * halves the component height every other round and lands in ~9. */
class LargeSmallStarSpec extends SparkSpec {

  import spark.implicits._

  private def chain(n: Int) = {
    val nodes = spark.range(0, n).toDF("doc_id")
    val fwd = (0 until n - 1).map(i => (i.toLong, i.toLong + 1))
      .toDF("src", "dst")
    val edges = fwd.union(
      fwd.select(col("dst").as("src"), col("src").as("dst")))
    (nodes, edges)
  }

  test("star contraction: logarithmic rounds on a diameter-256 chain") {
    val n = 257
    val (nodes, edges) = chain(n)

    val (labels, rounds) = Dedup.ccLargeSmallStar(nodes, edges)
    val out = labels.collect().map(r => (r.getLong(0), r.getLong(1)))

    assert(out.length == n)
    assert(out.forall(_._2 == 0L),
      s"unconverged: ${out.filterNot(_._2 == 0L).take(5).toSeq}")
    // log2(257) ≈ 8; each (large, small) round at least halves the
    // height, plus the fixpoint-detection round
    assert(rounds <= 12, s"rounds = $rounds — not logarithmic")
  }

  test("ccReliableCheckpoint: star contraction identical under the knob") {
    val n = 65 // enough rounds to cross several checkpoint intervals
    val (nodes, edges) = chain(n)
    val (base, baseRounds) = Dedup.ccLargeSmallStar(nodes, edges)
    val baseOut = base.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dir = java.nio.file.Paths.get(tmpDir("graft_cc_ckpt_star"))
    try {
      spark.conf.set(GraftConf.CcReliableCheckpointKey, "true")
      spark.conf.set(GraftConf.CcCheckpointDirKey, dir.toString)
      spark.conf.set(GraftConf.CcCheckpointIntervalKey, "3")
      val (rel, relRounds) = Dedup.ccLargeSmallStar(nodes, edges)
      val relOut = rel.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(relOut == baseOut)
      assert(relRounds == baseRounds)
      val walk = java.nio.file.Files.walk(dir)
      val files = try walk.filter(java.nio.file.Files.isRegularFile(_)).count()
        finally walk.close()
      assert(files > 0, s"no checkpoint files under $dir")
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

  test("labels agree with propagateLabels on a multi-component graph") {
    // two chains (0..5, 10..13), one star (20 center of 21..24),
    // two singletons (30, 31), plus a triangle (40,41,42)
    val nodes = (0L to 5L) ++ (10L to 13L) ++ (20L to 24L) ++
      Seq(30L, 31L) ++ (40L to 42L)
    val fwd = (0 until 5).map(i => (i.toLong, i + 1L)) ++
      (10 until 13).map(i => (i.toLong, i + 1L)) ++
      (21 to 24).map(i => (20L, i.toLong)) ++
      Seq((40L, 41L), (41L, 42L), (40L, 42L))
    val nodesDf = nodes.toDF("doc_id")
    val fwdDf = fwd.toDF("src", "dst")
    val edges = fwdDf.union(
      fwdDf.select(col("dst").as("src"), col("src").as("dst")))

    val star = Dedup.ccLargeSmallStar(nodesDf, edges)._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val prop = Dedup.propagateLabels(nodesDf, edges)._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

    assert(star == prop, s"diverged: ${star.toSeq.diff(prop.toSeq).take(5)}")
    assert(star(31L) == 31L && star(24L) == 20L && star(42L) == 40L)
  }

  test("property: labels equal driver-side union-find on random graphs") {
    val rnd = new scala.util.Random(42) // fixed seed — deterministic
    for (trial <- 1 to 8) {
      val n = 2 + rnd.nextInt(50)
      val p = rnd.nextDouble() * 0.08
      val edgeSeq = for {
        a <- 0 until n; b <- a + 1 until n if rnd.nextDouble() < p
      } yield (a.toLong, b.toLong)

      // independent referee: driver-side union-find → min-id labels
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x
        else { parent(x) = find(parent(x)); parent(x) }
      edgeSeq.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(ra) = rb
      }
      val minOfRoot = (0 until n).groupBy(find).map {
        case (r, members) => r -> members.min.toLong
      }
      val expected = (0 until n)
        .map(i => i.toLong -> minOfRoot(find(i))).toMap

      val nodes = spark.range(0, n).toDF("doc_id")
      val edges =
        if (edgeSeq.isEmpty) Seq.empty[(Long, Long)].toDF("src", "dst")
        else edgeSeq.toDF("src", "dst")
      val got = Dedup.ccLargeSmallStar(nodes, edges)._1
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == expected,
        s"trial $trial (n=$n, |E|=${edgeSeq.size}): " +
          s"${got.toSeq.diff(expected.toSeq).take(5)}")
    }
  }

  test("the exact except probe is load-bearing: a chain round rewires " +
      "every edge at CONSTANT canonical edge count — count-only " +
      "convergence (the MapReduce-CC folklore check) would stop a " +
      "round early with wrong labels (measured r18 refutation)") {
    // canonical chain edges (u > v): (i+1, i), 128 of them
    val cur = (0 until 128).map(i => (i + 1L, i.toLong)).toDF("u", "v")
    val next = Dedup.ccContractionRound(cur, 1)
    assert(next.count() === cur.count(),
      "the plateau: the contraction round keeps the canonical count")
    assert(!next.except(cur).isEmpty,
      "…while rewiring edges — the plateau is NOT a fixpoint, so a " +
        "count-only check would declare convergence on non-star " +
        "labels (this is why ccLargeSmallStar pays the except probe)")
    // the exact loop, by contrast, contracts the chain fully
    val (nodes, edges) = chain(129)
    val labels = Dedup.ccLargeSmallStar(nodes, edges)._1.collect()
    assert(labels.forall(_.getLong(1) == 0L))
  }

  test("empty edge set: every node is its own component, zero rounds") {
    val nodes = spark.range(0, 5).toDF("doc_id")
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val (labels, rounds) = Dedup.ccLargeSmallStar(nodes, edges)
    assert(rounds == 0)
    val out = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.forall(p => p._1 == p._2))
  }
}
