package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, Similarity}

/** The four persisted index towers (s18 IVF-PQ over `embeddings`; s21
  * BM25, d10 LSH bands and m09 perceptual hash over `documents`)
  * follow their source files: after a table is rewritten in place, a
  * query answers as it does on a fresh copy of the rewritten file, and
  * a repeat call on unchanged files rebuilds nothing. */
class IndexFreshnessSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** A fresh dir holding byte copies of `tables` from `from`. */
  private def copyOf(from: String, tables: Seq[String]): String = {
    val to = tmpDir("freshness-copy")
    tables.foreach { t =>
      val src = Paths.get(from, s"$t.parquet")
      Files.walk(src).forEach(p =>
        Files.copy(p, Paths.get(to, s"$t.parquet").resolve(src.relativize(p))))
    }
    to
  }

  /** Rewrites `<d>/<table>.parquet` in place to the rows of the
    * original whose `key` is not divisible by 3. */
  private def rewrite(d: String, table: String, key: String): Unit =
    spark.read.parquet(s"$sf/$table.parquet").filter(col(key) % 3 =!= 0)
      .write.mode("overwrite").parquet(s"$d/$table.parquet")

  private def run(query: String, d: String): Seq[Row] =
    SparkEntry.queries(query)(spark, d).collect().toSeq

  /** `query` on copy `d` after `table` is rewritten answers as it does
    * on a fresh copy of the rewritten tables. */
  private def followsRewrite(query: String, tables: Seq[String],
      table: String, key: String): Unit = {
    val d = copyOf(sf, tables)
    run(query, d)
    rewrite(d, table, key)
    val after = run(query, d)
    val expected = run(query, copyOf(d, tables))
    val stale = after.diff(expected)
    assert(stale.isEmpty && after.size == expected.size,
      s"${stale.size} of ${after.size} rows differ from a fresh copy " +
        s"(${expected.size} rows), e.g. ${stale.take(3).mkString(", ")}")
  }

  test("s18 follows an embeddings.parquet rewritten in place") {
    followsRewrite("s18_pq_serve_only", Seq("embeddings"), "embeddings",
      "vec_id")
  }

  test("s21 follows a documents.parquet rewritten in place") {
    followsRewrite("s21_hybrid_indexed", Seq("documents", "embeddings"),
      "documents", "doc_id")
  }

  test("d10 and m09 rebuild exactly once after documents.parquet is " +
      "rewritten") {
    val d = copyOf(sf, Seq("documents"))
    Dedup.ensureLshIndex(spark, d)
    Multimodal.ensurePhashIndex(spark, d)
    val lsh0 = Dedup.LshTower.gen(spark)
    val ph0 = Multimodal.PhTower.gen(spark)
    rewrite(d, "documents", "doc_id")
    Dedup.ensureLshIndex(spark, d)
    Multimodal.ensurePhashIndex(spark, d)
    assert(Dedup.LshTower.gen(spark) === lsh0 + 1L)
    assert(Multimodal.PhTower.gen(spark) === ph0 + 1L)
  }

  test("a repeat ensure on unchanged files keeps every tower's " +
      "generation") {
    val d = copyOf(sf, Seq("documents", "embeddings"))
    def ensureAll(): Seq[Long] = {
      Similarity.ensurePqIndex(spark, d)
      Similarity.ensureLexIndex(spark, d)
      Dedup.ensureLshIndex(spark, d)
      Multimodal.ensurePhashIndex(spark, d)
      Seq(Similarity.PqTower, Similarity.LexTower, Dedup.LshTower,
        Multimodal.PhTower).map(_.gen(spark))
    }
    val gens = ensureAll()
    assert(ensureAll() === gens)
  }
}
