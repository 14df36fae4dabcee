package graft

/** st16 (streaming ANN serving): the continuous-query run over the
  * persisted bucket index must equal s11's batch serving answer
  * ROW FOR ROW — the COMPLETE-mode max-of-(cos, −id) aggregation is
  * associative, so micro-batch slicing (3 staged files, one per
  * trigger) cannot change the top-1. This is the in-engine twin of
  * the oracle identity (st16 ships s11's SQL verbatim). */
class StreamAnnServingSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("streaming serving equals batch serving row for row") {
    try {
      val streamed = SparkEntry.queries("st16_stream_ann_serving")(spark, sf)
        .collect()
      val batch = SparkEntry.queries("s11_corpus_retrieval")(spark, sf)
        .collect()
      assert(streamed.length == batch.length && streamed.length > 0)
      streamed.zip(batch).foreach { case (a, b) => assert(a == b) }

      // the run really was MULTI-batch: the staged query stream is 3
      // files replayed one per trigger (maxFilesPerTrigger = 1)
      val dirs = new java.io.File(System.getProperty("java.io.tmpdir"))
        .listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("graft_embstream_"))
      assert(dirs.nonEmpty, "no staged embedding stream dir")
      assert(dirs.exists(d => d.listFiles()
        .count(_.getName.endsWith(".parquet")) == 3))
    } finally {
      spark.sql("DROP TABLE IF EXISTS st16_corpus_idx")
    }
  }
}
