package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.TopK.topKPerKey

/** `topKPerKey` must be the hand-written per-key top-k it replaced:
  * `row_number()` over the key/order window, then `rank <= k`. Frames
  * are generated with heavily tied scores (3 values) and a unique id
  * as the tie-break, so the order is total within a key and the
  * answer is fully determined — the contract the helper documents. */
class TopKPerKeySpec extends SparkSpec {
  import spark.implicits._

  private val key = Seq(col("g"))
  private val order = Seq(col("score").desc, col("id"))

  /** (g, score, id) rows: 1-4 keys, scores in 0..2, ids unique. */
  private def frames(seed: Long, n: Int): Seq[Seq[(Int, Int, Long)]] = {
    val gen = for {
      rows <- Gen.choose(0, 40)
      keys <- Gen.choose(1, 4)
      gs <- Gen.listOfN(rows, Gen.choose(0, keys - 1))
      scores <- Gen.listOfN(rows, Gen.choose(0, 2))
    } yield gs.zip(scores).zipWithIndex.map { case ((g, s), i) =>
      (g, s, 1000L - 7L * i)
    }
    (0 until n).flatMap(i => gen(Gen.Parameters.default, Seed(seed + i)))
  }

  private def handWritten(df: DataFrame, key: Seq[Column], k: Int) =
    df.withColumn("rank",
        row_number().over(Window.partitionBy(key: _*).orderBy(order: _*)))
      .filter(col("rank") <= k)

  private def rows(df: DataFrame): Seq[Row] =
    df.select(col("g"), col("rank"), col("id"), col("score")).collect()
      .toSeq.sortBy(r => (r.getInt(0), r.getInt(1)))

  /** k = 1, every 1 < k < the largest group, and k >= every group. */
  private def ks(data: Seq[(Int, Int, Long)]): Seq[Int] = {
    val biggest = data.groupBy(_._1).values.map(_.size).maxOption
      .getOrElse(0)
    (Seq(1) ++ (2 until biggest) ++ Seq(biggest, biggest + 3)).distinct
  }

  test("per key: equals the hand-written window form row for row, " +
      "and the independent sort-and-take model") {
    frames(17L, 12).foreach { data =>
      val df = data.toDF("g", "score", "id")
      ks(data).foreach { k =>
        val got = rows(topKPerKey(df, key, order, k, "rank"))
        assert(got === rows(handWritten(df, key, k)), s"k=$k on $data")
        val model = data.groupBy(_._1).toSeq.flatMap { case (g, grp) =>
          grp.sortBy { case (_, s, id) => (-s, id) }.take(k).zipWithIndex
            .map { case ((_, s, id), i) => Row(g, i + 1, id, s) }
        }.sortBy(r => (r.getInt(0), r.getInt(1)))
        assert(got === model, s"k=$k on $data")
      }
    }
  }

  test("global form (key = Seq()) equals the hand-written global window") {
    frames(29L, 8).foreach { data =>
      val df = data.toDF("g", "score", "id")
      Seq(1, 5, data.size, data.size + 1).filter(_ > 0).distinct.foreach { k =>
        assert(rows(topKPerKey(df, Seq(), order, k, "rank")) ===
          rows(handWritten(df, Seq(), k)), s"k=$k on $data")
      }
    }
  }

  test("an empty frame stays empty and keeps its schema plus the rank") {
    val empty = Seq.empty[(Int, Int, Long)].toDF("g", "score", "id")
    val top = topKPerKey(empty, key, order, 3, "rank")
    assert(top.collect().isEmpty)
    assert(top.columns.toSeq === Seq("g", "score", "id", "rank"))
  }

  test("k up to windowGroupLimitThreshold plans the map-side " +
      "WindowGroupLimit prune; above it the plan has none") {
    val threshold = spark.conf
      .get("spark.sql.optimizer.windowGroupLimitThreshold").toInt
    // an RDD-backed frame has no maxRows, so the optimizer cannot skip
    // the prune as pointless on a small known-size relation
    val df = spark.sparkContext
      .parallelize((0 until 20).map(i => (i % 3, i % 2, i.toLong)))
      .toDF("g", "score", "id")
    def plan(k: Int) = topKPerKey(df, key, order, k, "rank")
      .queryExecution.executedPlan.toString
    Seq(1, 10, threshold).foreach { k =>
      assert(plan(k).contains("WindowGroupLimit"), s"k=$k:\n${plan(k)}")
    }
    assert(!plan(threshold + 1).contains("WindowGroupLimit"))
  }
}
