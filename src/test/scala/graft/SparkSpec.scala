package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, lazily created). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Harness.session(getClass.getSimpleName, 4)

  def tmpDir(prefix: String): String = SparkSpec.tmpDir(prefix)

  /** Register-once bronze catalog for the SHARED session: the session
    * caches the catalog instance on first use, while foreachBatch
    * clones re-instantiate it from conf — so every suite must use the
    * same registration or conf and cache diverge. Returns the
    * effective warehouse dir. */
  def bronzeWarehouse: String = SparkSpec.synchronized {
    spark.conf.getOption("spark.sql.catalog.bronze.warehouse") match {
      case Some(w) => w
      case None =>
        val w = tmpDir("bronze_wh")
        graft.pipeline.BronzeIngest.registerBronzeCatalog(spark, w)
        w
    }
  }
}

object SparkSpec {

  /** A fresh directory under `java.io.tmpdir`, deleted when the JVM
    * exits (not at suite end: suites of one forked JVM share the
    * bronze warehouse dir). */
  def tmpDir(prefix: String): String = LocalFs.scratch(prefix)
}
