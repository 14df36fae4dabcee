package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.scalatest.funsuite.AnyFunSuite

/** A derived directory (a staged stream, the sim-broker, a ×K corpus)
  * must track the CONTENT of its source files, not just their path:
  * the testdata is regenerated in place between runs, and a path-only
  * key would silently replay stale staged files. Each case derives a
  * directory from one `events.parquet` and records whether the call
  * built it or reused it: the stamp (version + file listing) is the
  * fingerprint. */
class StagingCacheSpec extends AnyFunSuite {

  private def mkSource(): String = {
    val dir = SparkSpec.tmpDir("staging_fp")
    Files.write(Paths.get(s"$dir/events.parquet"), Array[Byte](1, 2, 3))
    dir
  }

  /** Whether deriving `$dir/staged` from `$dir/events.parquet` ran the
    * build. */
  private def rebuilt(dir: String): Boolean = {
    var built = false
    Derived.dir(s"$dir/staged", "v1", Seq(s"$dir/events.parquet")) { out =>
      built = true
      Files.write(Paths.get(out, "00.parquet"), Array[Byte](0))
    }
    built
  }

  test("fingerprint changes when the source file is rewritten") {
    val dir = mkSource()
    val f = Paths.get(s"$dir/events.parquet")
    assert(rebuilt(dir))
    // same content+mtime → same stamp (reuse)
    assert(!rebuilt(dir))
    // regen: new bytes, new mtime → new stamp (restage)
    Files.write(f, Array[Byte](9, 9, 9, 9))
    Files.setLastModifiedTime(f,
      FileTime.fromMillis(Files.getLastModifiedTime(f).toMillis + 60000L))
    assert(rebuilt(dir))
  }

  test("fingerprint changes on mtime alone (same size)") {
    val dir = mkSource()
    val f = Paths.get(s"$dir/events.parquet")
    assert(rebuilt(dir))
    Files.setLastModifiedTime(f,
      FileTime.fromMillis(Files.getLastModifiedTime(f).toMillis + 60000L))
    assert(rebuilt(dir))
  }

  test("fingerprint covers directory-shaped parquet sources") {
    val dir = SparkSpec.tmpDir("staging_fp_dir")
    val sub = Paths.get(s"$dir/events.parquet")
    Files.createDirectories(sub)
    Files.write(sub.resolve("part-0.parquet"), Array[Byte](1))
    assert(rebuilt(dir))
    assert(!rebuilt(dir))
    Files.write(sub.resolve("part-1.parquet"), Array[Byte](2))
    assert(rebuilt(dir))
  }
}
