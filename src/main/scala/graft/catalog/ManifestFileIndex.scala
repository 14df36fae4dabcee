package graft.catalog

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.{PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.graftshim.shim
import org.apache.spark.sql.types.StructType

/** The file index of a pinned bronze snapshot, read from its manifest
  * instead of the filesystem — the table-side twin of Spark's
  * `MetadataLogFileIndex`, which does the same for the file sink's
  * `_spark_metadata` log. A `ParquetTable` over an explicit file list
  * otherwise builds an `InMemoryFileIndex`: one `exists` per file, and
  * above `spark.sql.sources.parallelPartitionDiscovery.threshold` paths
  * a Spark job with one listing task per file, on every load of a
  * table whose file count only grows.
  *
  * Each leaf `FileStatus` comes from its entry: length from `bytes`,
  * modification time from `mtime`. An entry lacking either (manifests
  * from before `mtime` was recorded, name-only entries) costs one local
  * stat, never a job. The partition spec is empty: bronze data files
  * sit flat in the table dir and their partition tuples live in the
  * manifest. Root paths are the files themselves, in `entries` order,
  * as the listing index had them, so scans split and order files the
  * same way. */
final class ManifestFileIndex(spark: SparkSession, dir: String,
    entries: Seq[SnapshotLog.FileEntry])
    extends PartitioningAwareFileIndex(spark, Map.empty, None) {

  // built on first use: a scan that stats-prunes to a narrower file
  // list never stats the files it dropped
  private lazy val statuses: Array[FileStatus] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(hadoopConf)
    val qualified = fs.makeQualified(root)
    val blockSize = fs.getDefaultBlockSize(qualified)
    entries.map { e =>
      val (len, mtime) = (e.bytes, e.mtime) match {
        case (Some(b), Some(m)) => (b, m)
        case _ =>
          val a = Files.readAttributes(Paths.get(dir, e.name),
            classOf[BasicFileAttributes])
          (a.size, a.lastModifiedTime.toMillis)
      }
      new FileStatus(len, false, 1, blockSize, mtime,
        new Path(qualified, e.name))
    }.toArray
  }

  override lazy val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap.from(statuses.iterator.map(s => s.getPath -> s))

  override lazy val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    statuses.groupBy(_.getPath.getParent)

  override def rootPaths: Seq[Path] = statuses.toSeq.map(_.getPath)

  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec

  override def allFiles(): Seq[FileStatus] =
    statuses.toSeq.filter(matchPathPattern)

  /** A snapshot's file set is immutable: nothing to re-read. */
  override def refresh(): Unit = ()

  // equal over the same files, as `InMemoryFileIndex` is over the same
  // root paths: two loads of one snapshot plan equal (reusable) scans
  override def equals(other: Any): Boolean = other match {
    case m: ManifestFileIndex => rootPaths.toSet == m.rootPaths.toSet
    case _ => false
  }

  override def hashCode(): Int = rootPaths.toSet.hashCode
}

object ManifestFileIndex {

  /** A V2 parquet table over `entries` (files of `dir`, in scan
    * order) whose file index is a [[ManifestFileIndex]]: building it,
    * its schema and its scans lists nothing. */
  def table(spark: SparkSession, name: String, dir: String,
      entries: Seq[SnapshotLog.FileEntry], schema: StructType): Table =
    shim.parquetTableFiles(spark, name, entries.map(e => s"$dir/${e.name}"),
      schema, new ManifestFileIndex(spark, dir, entries))
}
