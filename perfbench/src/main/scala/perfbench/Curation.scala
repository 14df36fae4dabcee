package perfbench

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** `curation`: the nightly LLM-data pass. One operation is one pass of
  * the four operator calls through `SparkEntry.queries` — p01 curation
  * funnel, d03 MinHash LSH, d13 semantic dedup, s12 PQ build + ADC
  * search — each result written to parquet, where the DuckDB oracle
  * comparison reads it. The corpus is fixed
  * (its own seed), so `--seed` drives only the ingest workloads. */
object Curation {
  /** Corpus size: the scale of the sf0.1 test tables. */
  val Docs = 5000
  val Vectors = 2000
  private val CorpusSeed = 42L
  /** Parquet files per table, as a scaled bench corpus is spread. */
  private val FilesPerTable = 8

  /** (query, per-layer metric name) in pass order. */
  val Calls: Seq[(String, String)] = Seq(
    "p01_curation_pipeline" -> "pipeline.funnel_s",
    "d03_minhash_lsh" -> "dedup.minhash_s",
    "d13_semdedup" -> "dedup.semdedup_s",
    "s12_pq_adc" -> "similarity.pq_adc_s")

  private val Vocab = ("the a of and to in is it data spark stream batch table row " +
    "column key value hash join merge sort scan filter group agg order line part " +
    "customer query vector fast slow big small error").split(" ")
  private val Langs = Seq("en" -> 0.41, "zh" -> 0.15, "de" -> 0.14, "fr" -> 0.15, "es" -> 0.15)

  /** Writes the corpus: documents with planted exact and near
    * duplicates, and clustered unit-norm 64-d embeddings with planted
    * near-duplicate vectors. */
  def writeCorpus(spark: SparkSession, dir: String): Unit = {
    val rnd = new scala.util.Random(CorpusSeed)
    def lang(): String = {
      var u = rnd.nextDouble()
      Langs.find { case (_, w) => u -= w; u < 0 }.map(_._1).getOrElse("en")
    }
    val texts = ArrayBuffer.empty[String]
    val docs = (0 until Docs).map { id =>
      val u = rnd.nextDouble()
      val text =
        if (texts.nonEmpty && u < 0.01) texts(rnd.nextInt(texts.size)).toUpperCase
        else if (texts.nonEmpty && u < 0.05) {
          val words = texts(rnd.nextInt(texts.size)).split(" ")
          (1 to 1 + rnd.nextInt(2)).foreach(_ => words(rnd.nextInt(words.length)) =
            Vocab(rnd.nextInt(Vocab.length)))
          words.mkString(" ")
        } else (1 to 8 + rnd.nextInt(80)).map { _ =>
          val w = Vocab(rnd.nextInt(Vocab.length))
          if (rnd.nextDouble() < 0.05) w + (if (rnd.nextBoolean()) "," else ".") else w
        }.mkString(" ")
      texts += text
      Row(id.toLong, text, lang(), s"src${id % 20}", text.length.toLong)
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))

    val dim = 64
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val centers = Array.fill(10)(unit(Array.fill(dim)(rnd.nextGaussian())))
    val vecs = ArrayBuffer.empty[Array[Double]]
    val embs = (0 until Vectors).map { id =>
      val label = rnd.nextInt(centers.length)
      val v =
        if (vecs.nonEmpty && rnd.nextDouble() < 0.05)
          unit(vecs(rnd.nextInt(vecs.size)).map(_ + 0.01 * rnd.nextGaussian()))
        else unit(centers(label).map(_ + 0.25 * rnd.nextGaussian()))
      vecs += v
      Row(id.toLong, v.map(_.toFloat).toSeq, label)
    }
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))

    def write(rows: Seq[Row], schema: StructType, name: String): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, FilesPerTable), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    write(docs, docSchema, "documents")
    write(embs, embSchema, "embeddings")
  }

  private final case class Call(metric: String, ms: Double, startMs: Long, endMs: Long)

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val (corpus, setupS) = setupReps(3) { i =>
      val d = dir(s"corpus-$i")
      writeCorpus(spark, d)
      d
    }
    phase("setup")
    val fns = Calls.map { case (q, m) => (q, m, SparkEntry.queries(q)) }

    // The operation is the nightly job itself: one pass in a fresh JVM,
    // each result written to parquet, where the oracle comparison reads
    // it after the session is gone.
    val resultDir = dir("results")
    var attempted = 0
    var failed = 0
    Files.writeString(work.resolve("oracle.json"), Json(Map(
      "corpus" -> corpus, "results" -> resultDir,
      "oracle_sql" -> Calls.map { case (q, _) => q -> SparkEntry.oracleSql(q) }.toMap)))

    /** One pass; None when a call throws. */
    def pass(traced: Boolean, sink: String => DataFrame => Unit): Option[Seq[Call]] = {
      attempted += 1
      try Some(fns.map { case (q, m, fn) =>
        spark.catalog.clearCache()
        def call(): Unit = sink(q)(fn(spark, corpus))
        val t0 = System.currentTimeMillis()
        val (_, ms) = timeMs(if (traced) spans(q)(call()) else call())
        Call(m, ms, t0, System.currentTimeMillis())
      })
      catch { case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] curation pass failed: $e")
        None
      }
    }
    val toParquet = (q: String) => (df: DataFrame) =>
      df.write.mode("overwrite").parquet(s"$resultDir/$q")
    val toNoop = (_: String) => (df: DataFrame) =>
      df.write.format("noop").mode("overwrite").save()

    resetHeapPeak()
    val engine = if (ctx.traced) Some(new EngineTrace(spark)) else None
    engine.foreach(_.attach(true))
    val nightly = pass(ctx.traced, toParquet)
    engine.foreach(_.attach(false))
    val peakMb = heapPeakMb()
    phase("measured")
    // traced runs also time two warm passes, traced and then untraced,
    // for the tracing overhead; the JIT still speeds up warm passes, so
    // the difference is an upper bound
    val layer = engine.map { eng =>
      eng.attach(true)
      val traced = pass(traced = true, toNoop)
      eng.attach(false)
      val plain = pass(traced = false, toNoop)
      val overhead = for (t <- traced; p <- plain) yield t.map(_.ms).sum - p.map(_.ms).sum
      traceLayers(eng, nightly.toSeq) + ("trace.overhead_ms" -> overhead.getOrElse(0.0))
    }.getOrElse(Map.empty)
    val passMs = nightly.map(_.map(_.ms).sum).toSeq
    val e2e =
      if (passMs.isEmpty) Map.empty[String, Double]
      else Map("setup_s" -> setupS,
        "throughput_records_per_s" -> Stats.median(passMs.map(ms => (Docs + Vectors) * 1e3 / ms)))
    Outcome(attempted, failed, passMs.nonEmpty, e2e,
      Metrics.layer(layer + ("jvm.peak_heap_mb" -> peakMb)),
      Map("peak_heap_mb" -> peakMb, "documents" -> Docs, "embeddings" -> Vectors,
        "pass_ms" -> passMs, "call_ms" -> nightly.map(_.map(c => c.metric -> c.ms).toMap),
        "oracle" -> work.resolve("oracle.json").toString))
  }

  private def traceLayers(engine: EngineTrace, traced: Seq[Seq[Call]]): Map[String, Double] = {
    val calls = traced.flatten
    val perOperator = Calls.flatMap { case (_, m) =>
      val mine = calls.filter(_.metric == m)
      val stats = mine.map { c =>
        val js = engine.jobsIn(c.startMs, c.endMs)
        (c.ms / 1e3, js.size.toDouble, js.map(_.shuffleWriteBytes).sum.toDouble,
          js.map(_.spillBytes).sum.toDouble,
          Stats.uncovered((c.startMs, c.endMs), js.map(j => (j.startMs, j.endMs))) / 1e3)
      }
      def med(f: ((Double, Double, Double, Double, Double)) => Double) =
        if (stats.isEmpty) 0.0 else Stats.median(stats.map(f))
      Seq(m -> med(_._1), s"$m.jobs" -> med(_._2), s"$m.shuffle_bytes" -> med(_._3),
        s"$m.spill_bytes" -> med(_._4), s"$m.driver_idle_s" -> med(_._5))
    }
    val passJobs = traced.flatMap(p => engine.jobsIn(p.head.startMs, p.last.endMs))
    perOperator.toMap ++ EngineTotals.of(passJobs).perOp(traced.size)
  }
}
