package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.catalog.SnapshotLog
import org.scalatest.funsuite.AnyFunSuite

/** Snapshot-manifest scaling: commits write O(delta) manifest bytes,
  * not O(table) — the v2 segmented format reuses unchanged manifest
  * segments across snapshots (Iceberg's manifest-list shape), with
  * size-tiered consolidation bounding both segment count and total
  * rewrite work (each entry is rewritten O(log table) times over the
  * table's life). The old inline format rewrote the ENTIRE file list
  * into every v<N>.json: N commits of d files cost Θ(N²·d) manifest
  * entries — a commit-latency and driver-memory ceiling at millions
  * of files. */
class ManifestScalingSpec extends AnyFunSuite {

  private def tmpDir(prefix: String): String = SparkSpec.tmpDir(prefix)

  test("append commits reuse segments: total manifest work is near-linear") {
    val dir = tmpDir("mscale")
    val commits = 300
    val perCommit = 2
    (0 until commits).foreach { i =>
      val added = (0 until perCommit).map(j => s"part-c$i-$j.parquet")
      // names only — the files need not exist; scraping degrades to
      // bare entries, which is exactly the metadata-cost shape we
      // want to measure
      SnapshotLog.commit(dir, "append")(_ ++ added)
    }
    val totalFiles = commits * perCommit
    val cur = SnapshotLog.current(dir).get
    assert(cur.files.size == totalFiles)
    assert(cur.version == commits - 1)

    val logd = Paths.get(dir, "_graft_snapshots")
    val listing = {
      val s = Files.list(logd)
      try s.iterator.asScala.map(_.getFileName.toString).toSeq
      finally s.close()
    }
    // 1) snapshot HEADERS stay O(#segments), never O(#files): the
    //    biggest v<N>.json must be far below one-entry-per-file size
    val maxHeader = listing.filter(_.matches("v\\d+\\.json"))
      .map(n => Files.size(logd.resolve(n))).max
    assert(maxHeader < 4096,
      s"snapshot header grew to $maxHeader bytes — inline file list?")
    // 2) TOTAL manifest entries ever written (all segment files,
    //    including ones only historical snapshots reference) is
    //    near-linear in file count — not the Θ(commits²·d) ≈ 90k of
    //    the inline format. Size-tiered merging bounds it by
    //    O(files · log(files)).
    val segEntries = listing.filter(_.startsWith("m-")).map { n =>
      val json = Files.readString(logd.resolve(n))
      "\"f\":".r.findAllIn(json).length
    }.sum
    assert(segEntries < totalFiles * 12,
      s"wrote $segEntries manifest entries for $totalFiles files — " +
        "segment reuse is not bounding commit cost")
    // 3) every historical snapshot still resolves exactly
    assert(SnapshotLog.read(dir, 0).files.size == perCommit)
    assert(SnapshotLog.read(dir, commits / 2).files.size ==
      (commits / 2 + 1) * perCommit)
    // 4) the current snapshot's segment count is bounded by the
    //    consolidation cap, not the commit count
    assert(cur.segments.size <= 64,
      s"segment count ${cur.segments.size} exceeded the cap")
  }

  test("removals rewrite only the touched segments") {
    val dir = tmpDir("mrw")
    (0 until 40).foreach { i =>
      SnapshotLog.commit(dir, "append")(_ + s"part-$i.parquet")
    }
    val before = SnapshotLog.current(dir).get.segments.map(_.name).toSet
    // delete one file: every segment NOT containing it must be reused
    // by name in the next snapshot
    val victim = "part-7.parquet"
    SnapshotLog.commit(dir, "delete")(_ - victim)
    val after = SnapshotLog.current(dir).get
    val untouched = before.intersect(after.segments.map(_.name).toSet)
    assert(untouched.nonEmpty, "no segment was reused across a removal")
    assert(!after.files.contains(victim))
    // the victim's old segment is still referenced by the PARENT
    // snapshot — time travel is intact
    assert(SnapshotLog.read(dir, 39).files.contains(victim))
  }

  test("vacuum reaps segments referenced only by expired snapshots") {
    val dir = tmpDir("mvac")
    (0 until 10).foreach { i =>
      Files.writeString(Paths.get(dir, s"part-$i.parquet"), "x")
      SnapshotLog.commit(dir, "append")(_ + s"part-$i.parquet")
    }
    // rewrite everything into one file: old segments become
    // expired-only references after vacuum
    Files.writeString(Paths.get(dir, "part-all.parquet"), "y")
    SnapshotLog.commit(dir, "replace")(_ => Set("part-all.parquet"))
    val logd = Paths.get(dir, "_graft_snapshots")
    def segs(): Set[String] = {
      val s = Files.list(logd)
      try s.iterator.asScala.map(_.getFileName.toString)
        .filter(_.startsWith("m-")).toSet
      finally s.close()
    }
    val beforeCount = segs().size
    SnapshotLog.vacuum(dir, retainLast = 1, orphanGraceMs = 0L)
    val kept = segs()
    assert(kept.size < beforeCount,
      "vacuum did not reap expired-only segments")
    // exactly the current snapshot's segments survive (grace 0)
    assert(kept == SnapshotLog.current(dir).get.segments.map(_.name).toSet)
    assert(SnapshotLog.current(dir).get.files == Seq("part-all.parquet"))
  }
}
