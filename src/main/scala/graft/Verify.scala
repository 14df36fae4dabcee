package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 3) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [nameFilter,…]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val outDir = args(1)
    // optional dev-loop filter: only dump queries whose name contains
    // one of the comma-separated substrings (driver always passes 2 args)
    val keep: String => Boolean =
      if (args.length == 3) { val pats = args(2).split(",").toSeq
        (n: String) => pats.exists(n.contains)
      } else (_: String) => true
    val spark = Harness.session("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      spark.catalog.clearCache() // don't let one query's cache() starve the next
      // delete any PRIOR run's dump first: mode(overwrite) only
      // replaces it on success, so a query that THROWS would leave a
      // stale result behind for the comparer to green-light — a
      // failure must leave nothing (the comparer then reports the
      // query missing instead of silently passing old bytes)
      LocalFs.deleteTree(Paths.get(outDir, name))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
