package graft

import org.apache.spark.sql.graftshim.shim

/** On-demand micro-benchmark of the two per-file decoders behind the
  * bronze MOR/streaming readers: parquet-mr row materialization (the
  * pre-r11 path, kept as fallback) vs Spark's vectorized reader with
  * rows iterated off columnar batches (the current path). Run:
  * `sbt "Test/runMain graft.MorDecodeBench"`. */
object MorDecodeBench {
  def main(args: Array[String]): Unit = {
    val s = Harness.session("graft-mordecodebench", 4)
    s.sparkContext.setLogLevel("WARN")
    val dir = java.nio.file.Files.createTempDirectory("morbench").toString
    s.range(0, 2000000).selectExpr("id",
      "cast(id % 97 as int) as i",
      "cast(id as double)/3.0 as d",
      "concat('s-', id % 1000) as str")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val f = {
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try st.filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst.get.toString
      finally st.close()
    }
    val schema = s.read.parquet(dir).schema
    def time(label: String)(mk: () => shim.RowFileReader): Unit =
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        val r = mk()
        var n = 0L
        var row = r.read()
        while (row != null) { n += 1; row = r.read() }
        r.close()
        println(f"MORBENCH $label rep$i rows=$n ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    time("parquet-mr-rows") { () =>
      val mr = shim.rowParquetReader(f, schema)
      new shim.RowFileReader {
        override def read() = mr.read()
        override def close() = mr.close()
      }
    }
    time("vectorized-rows") { () => shim.vectorizedRowFileReader(f, schema) }
    s.stop()
  }
}
