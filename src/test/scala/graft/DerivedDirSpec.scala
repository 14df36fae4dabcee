package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** `Derived.dir` holds the on-disk fixtures the k* and st* queries and
  * the ×K probes read. Each must follow its source files when they are
  * rewritten in place, a build that dies must publish nothing, and an
  * unchanged source must cost no Spark job. */
class DerivedDirSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** A fresh dir holding byte copies of `tables` from `from`. */
  private def copyOf(from: String, tables: Seq[String]): String = {
    val to = tmpDir("derived-copy")
    tables.foreach { t =>
      val src = Paths.get(from, s"$t.parquet")
      Files.walk(src).forEach(p =>
        Files.copy(p, Paths.get(to, s"$t.parquet").resolve(src.relativize(p))))
    }
    to
  }

  private def k01(d: String): Seq[Row] =
    SparkEntry.queries("k01_kafka_batch_ingest")(spark, d).collect().toSeq

  test("k01 follows an orders.parquet rewritten in place") {
    val d = copyOf(sf, Seq("orders"))
    var fresh = ""
    try {
      val before = k01(d)
      spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_orderkey") % 2 === 0)
        .write.mode("overwrite").parquet(s"$d/orders.parquet")
      val after = k01(d)
      fresh = copyOf(d, Seq("orders"))
      val expected = k01(fresh)
      assert(expected.size < before.size)
      assert(after === expected)
    } finally Seq(d, fresh).filter(_.nonEmpty).foreach(x =>
      LocalFs.deleteTree(Paths.get(Derived.under("graft_broker_", x))))
  }

  test("the ×K corpus follows a rewritten documents.parquet") {
    import spark.implicits._
    val src = copyOf(sf, Seq("documents", "embeddings", "orders",
      "events", "lineitem", "part"))
    val out = tmpDir("derived-xk")
    def ids(path: String) =
      spark.read.parquet(path).select("doc_id").as[Long].collect().sorted
    ScaleUp.build(spark, src, out, 2)
    assert(ids(s"$out/documents.parquet").length ===
      2 * ids(s"$sf/documents.parquet").length)
    spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$src/documents.parquet")
    ScaleUp.build(spark, src, out, 2)
    val kept = ids(s"$src/documents.parquet")
    assert(ids(s"$out/documents.parquet") ===
      (kept ++ kept.map(_ + 100000000L)).sorted)
  }

  test("a build that throws half-way publishes nothing") {
    val root = tmpDir("derived-crash")
    val src = s"$root/src.parquet"
    spark.range(20).write.parquet(src)
    def build(d: String): Unit =
      spark.read.parquet(src).filter(col("id") % 3 === 0)
        .write.parquet(s"$d/t.parquet")
    def rows(d: String) =
      spark.read.parquet(s"$d/t.parquet").orderBy("id").collect().toSeq
    val out = s"$root/out"
    val ex = intercept[IllegalStateException] {
      Derived.dir(out, "v1", Seq(src)) { d =>
        spark.range(3).write.parquet(s"$d/t.parquet")
        throw new IllegalStateException("build died")
      }
    }
    assert(ex.getMessage === "build died")
    assert(!Files.exists(Paths.get(out)))
    assert(new java.io.File(root).list().toSeq === Seq("src.parquet"))
    // what a build killed without unwinding leaves: a partial dir at
    // `out`, no stamp
    spark.range(3).write.parquet(s"$out/t.parquet")
    Derived.dir(out, "v1", Seq(src))(build)
    val clean = Derived.dir(s"$root/clean", "v1", Seq(src))(build)
    assert(rows(out) === rows(clean))
    assert(rows(out).size === 7)
  }

  test("a second call on unchanged sources starts no Spark job") {
    val root = tmpDir("derived-reuse")
    val src = s"$root/src.parquet"
    spark.range(10).write.parquet(src)
    val out = s"$root/out"
    var builds = 0
    def derive(): String = Derived.dir(out, "v1", Seq(src)) { d =>
      builds += 1
      spark.read.parquet(src).write.parquet(s"$d/t.parquet")
    }
    derive()
    @volatile var jobs = 0
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
            Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some("derived-dir-marker") => markerSeen = true
          case _ => jobs += 1
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      (1 to 3).foreach(_ => assert(derive() === out))
      // listener events arrive in order: once the marker job is seen,
      // every job the calls started has been delivered
      sc.setJobGroup("derived-dir-marker", "marker")
      spark.range(1).collect()
      val deadline = System.currentTimeMillis() + 20000
      while (!markerSeen && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(markerSeen)
      assert(jobs === 0, s"$jobs jobs")
      assert(builds === 1)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
