package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal

/** m09 — entropy-floored two-tier perceptual dedup. The oracle gate
  * proves the end-to-end pair set; this spec pins the pieces the
  * gate can't isolate:
  *
  *  - the floor rule's occupancy semantics (2^f ≥ 4n², capped at
  *    grid fill) at its integer boundaries;
  *  - the MECHANISM the design rests on (the premise of the wide-grid
  *    refutation, PLANS.md r19 item 7): a sub-grid payload fills only its own
  *    nb prefix positions, so its signature carries at most nb bits
  *    of entropy and is IDENTICAL under any wider grid — grid width
  *    is inert below grid fill;
  *  - the tier split on the gated query: every perceptual pair is
  *    floor-cleared and threshold-bounded, every exact pair is
  *    sub-floor and bit-identical. */
class PerceptualTwoTierSpec extends SparkSpec {

  test("entropy floor: smallest f with 2^f >= 4n^2, capped at grid fill") {
    // boundary pairs around exact powers: 4n^2 = 2^f exactly at n = 2^k
    assert(Multimodal.entropyFloorBlocks(1) === 2) // 4 = 2^2
    assert(Multimodal.entropyFloorBlocks(16) === 10) // 1024 = 2^10
    assert(Multimodal.entropyFloorBlocks(17) === 11) // 1156 > 2^10
    // the sf0.1 / x100 decades' floors, as measured by the ladder
    assert(Multimodal.entropyFloorBlocks(1666) === 24)
    assert(Multimodal.entropyFloorBlocks(166666) === 37)
    // cap: beyond n = 2^29 the rule would demand more than the grid
    assert(Multimodal.entropyFloorBlocks(600000000L)
      === Multimodal.PHashBits)
    // rule invariant below the cap: 2^f holds 4n^2, 2^(f-1) does not
    Seq(3L, 166L, 1666L, 166666L).foreach { n =>
      val f = Multimodal.entropyFloorBlocks(n)
      assert((1L << f) >= 4 * n * n && (1L << (f - 1)) < 4 * n * n,
        s"floor $f not minimal for n=$n")
    }
  }

  test("sub-grid signatures are prefix-bounded: grid width is inert " +
      "below grid fill") {
    import spark.implicits._
    // 20 full blocks -> 320 chars: fills positions 0..19 only
    val docs = Seq((1L, ("word soup here! " * 20).take(320)),
      (2L, ("zq7w vp9k mx2j! " * 20).take(320))).toDF("doc_id", "text")
    val sigs = Multimodal.perceptualHashesOf(docs).collect()
    sigs.foreach { r =>
      val nb = r.getAs[Int]("nb")
      assert(nb === 20)
      val ph = r.getAs[Long]("phash")
      assert(ph >= 0 && ph < (1L << nb),
        s"sub-grid doc set a bit beyond its $nb prefix positions: $ph")
      // a wider grid maps block j to the SAME position j (j < 60 <
      // any wider grid), so this prefix signature is what any width
      // produces — the entropy a wider grid promises does not exist
    }
  }

  test("twoTierGateBatch routes each doc to exactly one tier and " +
      "emits honest admission bits") {
    import spark.implicits._
    import graft.operators.Dedup
    val longBase = ("spark table row " * 40).take(640) // 40 blocks
    val corpus = Seq(
      (2L, longBase), // tier doc
      (7L, "tiny payload"), // sub-floor doc
      (12L, ("other words go " * 40).take(640))).toDF("doc_id", "text")
    val floor = 30 // between the tiny and the 40-block docs
    val sigs = Multimodal.perceptualHashesOf(corpus)
    val bands = Dedup.adaptiveSimHashBands(Multimodal.PHashBits, 2L)
    val tierIdx = Multimodal.bandedPhashOfSigs(
      sigs.filter(col("nb") >= floor), bands)
    val subIdx = corpus.join(sigs.filter(col("nb") < floor), "doc_id")
      .select(md5(col("text")).as("ck"))
    val batch = Seq(
      (100L, longBase + "EXTRA-TAIL-16chr"), // tail-edit of doc 2
      (101L, "tiny payload"), // exact copy of sub-floor doc 7
      (102L, "unseen tiny"), // sub-floor, new
      // tier-sized NEW content — blocks must be DISTINCT: a 16-char
      // periodic filler makes every block identical, so each position
      // folds the same bit and the signature degenerates to 0/all-ones
      // — colliding with any other periodic filler's (a planted-data
      // trap, not an operator property)
      (103L, Seq.tabulate(40)(i => f"frsh blk $i%06d! ").mkString.take(640))
    ).toDF("doc_id", "text")
    val out = Multimodal
      .twoTierGateBatch(batch, tierIdx, subIdx, floor, bands)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("tier"), r.getAs[Long]("n_dups"),
          r.getAs[Boolean]("is_new"))).toMap
    assert(out(100L) === (("perceptual", 1L, false)),
      "tail-edited copy must be caught by the floored banded probe")
    assert(out(101L) === (("exact", 1L, false)),
      "bit-identical sub-floor payload must be caught by checksum")
    assert(out(102L) === (("exact", 0L, true)))
    assert(out(103L) === (("perceptual", 0L, true)))
  }

  test("gated query: tier split respects floor, threshold, and " +
      "bit-identity") {
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("m09_perceptual_two_tier")(spark, sf)
      .collect()
    val docs = new Tables(spark, sf).documents
      .filter(col("doc_id") % 3 === 2)
      .select(col("doc_id"),
        greatest(lit(1), expr("cast((length(text) + 15) div 16 as int)"))
          .as("nb"),
        md5(col("text")).as("ck"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("nb"), r.getAs[String]("ck"))).toMap
    val n = docs.size.toLong
    val floor = Multimodal.entropyFloorBlocks(n)
    out.foreach { r =>
      val (a, b) = (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))
      assert(a < b, "pair id ordering")
      r.getAs[String]("tier") match {
        case "perceptual" =>
          assert(docs(a)._1 >= floor && docs(b)._1 >= floor,
            s"perceptual pair ($a,$b) below floor $floor")
          assert(r.getAs[Long]("hamming") <= 3,
            "hamming beyond any adaptive threshold")
        case "exact" =>
          assert(docs(a)._1 < floor && docs(b)._1 < floor,
            s"exact pair ($a,$b) at/above floor $floor")
          assert(docs(a)._2 === docs(b)._2,
            s"exact pair ($a,$b) not bit-identical")
          assert(r.getAs[Long]("hamming") === 0L)
        case t => fail(s"unknown tier $t")
      }
    }
  }
}
