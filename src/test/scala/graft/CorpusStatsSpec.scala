package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.{Multimodal, Similarity}

/** `CorpusStats` sizes adaptive geometry from counts cached per path
  * AND file listing. A corpus that grows inside one JVM must re-size
  * the geometry exactly as a fresh copy of the grown files does (the
  * DuckDB twins re-derive it from a live COUNT(*)); an unchanged path
  * must not rerun its count job; and rewrites must replace the path's
  * one entry instead of piling up beside it. */
class CorpusStatsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** A fresh sf dir holding a copy of `table` under `d` — a path no
    * statistic has been computed for. */
  private def freshCopy(d: String, table: String): String = {
    val to = tmpDir("corpus-copy")
    val src = Paths.get(d, table)
    Files.walk(src).forEach(p =>
      Files.copy(p, Paths.get(to, table).resolve(src.relativize(p))))
    to
  }

  private def answers(q: String, d: String): Seq[Row] =
    SparkEntry.queries(q)(spark, d).collect().toSeq

  test("LSH geometry follows a corpus grown across a hyperplane boundary") {
    assert(Similarity.adaptiveHyperplanes(200) === 2)
    assert(Similarity.adaptiveHyperplanes(300) === 3)
    val d = tmpDir("corpus-grow-emb")
    val path = s"$d/embeddings.parquet"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    emb.filter(col("vec_id") < 200).write.parquet(path)
    val small = answers("s02_cosine_lsh_bucketed", d)
    emb.filter(col("vec_id") >= 200 && col("vec_id") < 300)
      .write.mode("append").parquet(path)
    val grown = answers("s02_cosine_lsh_bucketed", d)
    val fresh = answers("s02_cosine_lsh_bucketed", freshCopy(d,
      "embeddings.parquet"))
    assert(small.size === 200 && fresh.size === 300)
    assert(grown === fresh)
  }

  test("m09's entropy floor follows a video stripe grown across a " +
      "floor boundary") {
    import spark.implicits._
    // floor(4 videos) = 6 blocks, floor(5 videos) = 7 blocks: the
    // identical 6-block pair (2, 5) moves from the perceptual tier to
    // the exact tier when the fifth video lands
    assert(Multimodal.entropyFloorBlocks(4) === 6)
    assert(Multimodal.entropyFloorBlocks(5) === 7)
    def long(i: Int) = (s"video $i payload words, " * 12).take(160)
    val pair = ("six block payload " * 6).take(96)
    val d = tmpDir("corpus-grow-docs")
    val path = s"$d/documents.parquet"
    Seq((0L, "text doc"), (1L, "text doc"), (2L, pair), (5L, pair),
        (8L, long(8)), (11L, long(11)))
      .toDF("doc_id", "text").write.parquet(path)
    val small = answers("m09_perceptual_two_tier", d)
    Seq((14L, long(14))).toDF("doc_id", "text")
      .write.mode("append").parquet(path)
    val grown = answers("m09_perceptual_two_tier", d)
    val fresh = answers("m09_perceptual_two_tier", freshCopy(d,
      "documents.parquet"))
    assert(!small.contains(Row(2L, 5L, "exact", 0L)))
    assert(fresh.contains(Row(2L, 5L, "exact", 0L)), fresh.mkString(", "))
    assert(grown === fresh)
  }

  test("a repeated count on an unchanged directory runs no Spark job") {
    val path = tmpDir("corpus-count") + "/t.parquet"
    spark.range(100).write.parquet(path)
    assert(CorpusStats.count(spark, path, col("id") % 2 === 0) === 50L)
    @volatile var jobs = 0
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
            Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some("corpus-stats-marker") => markerSeen = true
          case _ => jobs += 1
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      (1 to 3).foreach(_ =>
        assert(CorpusStats.count(spark, path, col("id") % 2 === 0) === 50L))
      // listener events arrive in order: once the marker job is seen,
      // every job the counts started has been delivered
      sc.setJobGroup("corpus-stats-marker", "marker")
      spark.range(1).collect()
      val deadline = System.currentTimeMillis() + 20000
      while (!markerSeen && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(markerSeen)
      assert(jobs === 0, s"$jobs jobs")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("rewrites of one path leave one entry holding the latest counts") {
    val root = tmpDir("corpus-rewrite")
    val path = s"$root/t.parquet"
    (1 to 5).foreach { n =>
      spark.range(n * 10).write.mode("overwrite").parquet(path)
      assert(CorpusStats.count(spark, path) === n * 10L)
      assert(CorpusStats.count(spark, path, col("id") >= n) === n * 9L)
      assert(CorpusStats.footerSchema(path).containsField("id"))
    }
    assert(CorpusStats.held(root) === Map(path -> 2))
  }
}
