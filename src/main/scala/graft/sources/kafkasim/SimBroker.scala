package graft.sources.kafkasim

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, FileInputStream, FileOutputStream, RandomAccessFile}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.{ArrayBuffer, ArrayBuilder}

/** A minimal on-disk stand-in for a Kafka cluster: topics with numbered
  * partitions, each partition an append-only log of (key, value,
  * timestamp) records addressed by offset, stored as base-offset-named
  * segment files (the same layout idea as Kafka's log dir).
  *
  * Layout: `<root>/<topic>-<partition>/segment-<baseOffset20d>.log`,
  * each beside its sparse offset index `segment-<baseOffset20d>.index`.
  * Record framing per `.log` entry:
  *   [keyLen: int, -1=null][key][valueLen: int][value][timestampMs: long]
  * `.index` layout (Kafka's sparse offset index, fixed-width entries):
  *   [recordCount: long] then one entry per [[IndexInterval]] records,
  *   [relativeOffset: int][bytePosition: long], entry k describing the
  *   record at relative offset k × IndexInterval. An entry's file
  *   position is computed from the offset, so a lookup is one read.
  *
  * Publish order: `append` writes both files under dot-temp names
  * (`.segment-….log.tmp`, `.segment-….index.tmp`), renames the index
  * into place and then the log. Listings only see `segment-*.log`, so
  * every visible segment is complete, immutable and already indexed: a
  * reader never meets a half-written record.
  *
  * Costs: `latest` reads the last segment's record count from its index
  * (O(1) in the log's size). `read` seeks to the index entry at or below
  * `from`, skips the records before `from` without materializing them,
  * and stops at `until` or the segment's end, so a range costs its own
  * records plus fewer than IndexInterval skipped ones.
  *
  * Retention expiry (`expireThrough`) deletes whole segments below the
  * requested offset — exactly how Kafka retention creates the
  * "earliest offset moved past the consumer's checkpoint" data-loss
  * scenario the reference's four monitors exist to detect.
  *
  * Thread-safety: single-writer per partition (like a broker's log);
  * readers are positional and independent, and safe beside the writer.
  */
object SimBroker {

  /** Version of the on-disk segment format (2: `.log` + `.index`,
    * staged publish). Built brokers carry it in their stamp, so a
    * broker written by an older build is rebuilt rather than misread. */
  val FormatVersion: Int = 2

  /** Records between two index entries: a seek lands at most this many
    * records before the requested offset. */
  val IndexInterval: Int = 1024
  private val IndexHeaderBytes = 8L
  private val IndexEntryBytes = 12L

  final case class SimRecord(partition: Int, offset: Long,
      key: Array[Byte], value: Array[Byte], timestampMs: Long)

  private def partDir(root: String, topic: String, partition: Int): Path =
    Paths.get(root, s"$topic-$partition")

  private def segPath(dir: Path, base: Long): Path =
    dir.resolve(f"segment-$base%020d.log")

  private def indexPath(dir: Path, base: Long): Path =
    dir.resolve(f"segment-$base%020d.index")

  private def stagedPath(p: Path): Path =
    p.resolveSibling(s".${p.getFileName}.tmp")

  def createTopic(root: String, topic: String, partitions: Int): Unit =
    (0 until partitions).foreach { p =>
      Files.createDirectories(partDir(root, topic, p))
    }

  /** All topics present under the broker root (dir names are
    * `<topic>-<partition>`), for `subscribePattern` resolution. */
  def listTopics(root: String): Seq[String] = {
    val rootPath = Paths.get(root)
    if (!Files.isDirectory(rootPath)) return Seq.empty
    val s = Files.list(rootPath)
    try {
      val buf = ArrayBuffer.empty[String]
      val it = s.iterator()
      while (it.hasNext) {
        val name = it.next().getFileName.toString
        val i = name.lastIndexOf('-')
        if (i > 0 && name.substring(i + 1).nonEmpty
            && name.substring(i + 1).forall(_.isDigit))
          buf += name.substring(0, i)
      }
      buf.distinct.sorted.toSeq
    } finally s.close()
  }

  def partitions(root: String, topic: String): Seq[Int] = {
    val rootPath = Paths.get(root)
    if (!Files.isDirectory(rootPath)) return Seq.empty
    val s = Files.list(rootPath)
    try {
      val buf = ArrayBuffer.empty[Int]
      val it = s.iterator()
      while (it.hasNext) {
        val name = it.next().getFileName.toString
        if (name.startsWith(s"$topic-")) {
          val suffix = name.stripPrefix(s"$topic-")
          if (suffix.nonEmpty && suffix.forall(_.isDigit)) buf += suffix.toInt
        }
      }
      buf.sorted.toSeq
    } finally s.close()
  }

  /** Append a batch as one new segment; returns the batch's base offset.
    * An empty batch publishes nothing: a visible segment is never
    * replaced, so readers may rely on it staying as they found it. */
  def append(root: String, topic: String, partition: Int,
      records: Seq[(Option[Array[Byte]], Array[Byte], Long)]): Long = {
    val dir = partDir(root, topic, partition)
    Files.createDirectories(dir)
    val base = latest(root, topic, partition)
    if (records.isEmpty) return base
    val (log, index) = (segPath(dir, base), indexPath(dir, base))
    val (logStage, indexStage) = (stagedPath(log), stagedPath(index))
    try {
      val positions = ArrayBuilder.make[Long]
      var pos = 0L
      var n = 0L
      val out = new DataOutputStream(new BufferedOutputStream(
        new FileOutputStream(logStage.toFile), 1 << 16))
      try records.foreach { case (key, value, ts) =>
        if (n % IndexInterval == 0) positions += pos
        key match {
          case Some(k) => out.writeInt(k.length); out.write(k)
          case None    => out.writeInt(-1)
        }
        out.writeInt(value.length); out.write(value)
        out.writeLong(ts)
        pos += 16L + key.fold(0)(_.length) + value.length
        n += 1
      } finally out.close()
      val ix = new DataOutputStream(new BufferedOutputStream(
        new FileOutputStream(indexStage.toFile)))
      try {
        ix.writeLong(n)
        positions.result().iterator.zipWithIndex.foreach { case (p, k) =>
          ix.writeInt(k * IndexInterval); ix.writeLong(p)
        }
      } finally ix.close()
      // the index first: a visible `.log` always has its index beside it
      Files.move(indexStage, index, StandardCopyOption.ATOMIC_MOVE)
      Files.move(logStage, log, StandardCopyOption.ATOMIC_MOVE)
    } finally {
      Files.deleteIfExists(logStage)
      Files.deleteIfExists(indexStage)
    }
    base
  }

  /** Earliest retained offset (base of the first surviving segment). */
  def earliest(root: String, topic: String, partition: Int): Long =
    sortedBases(partDir(root, topic, partition)).headOption.getOrElse(0L)

  /** Next offset to be produced (end of the log): the last segment's
    * base plus the record count its index holds. */
  def latest(root: String, topic: String, partition: Int): Long = {
    val dir = partDir(root, topic, partition)
    sortedBases(dir).lastOption.fold(0L)(b => b + recordCount(dir, b))
  }

  /** Read [from, until) for one partition, in offset order. The reader
    * opens only the segments the range overlaps, seeks within the first
    * through its index and stops at `until`, so N contiguous splits of
    * a range read each record once, plus fewer than [[IndexInterval]]
    * skipped records per split. Close the reader to release its open
    * segment early; it closes itself once exhausted. */
  def read(root: String, topic: String, partition: Int,
      from: Long, until: Long): RangeReader =
    new RangeReader(partDir(root, topic, partition), partition, from, until)

  /** Simulate retention: drop whole segments whose records all sit
    * below `offset`. The new earliest is the base of the first
    * surviving segment. */
  def expireThrough(root: String, topic: String, partition: Int,
      offset: Long): Unit = {
    val dir = partDir(root, topic, partition)
    sortedBases(dir).foreach { base =>
      if (base + recordCount(dir, base) <= offset) {
        // the log first, so that no listed segment is without its index
        Files.delete(segPath(dir, base))
        Files.delete(indexPath(dir, base))
      }
    }
  }

  /** The records of one partition's range, read segment by segment
    * with O(1) reader memory and no per-record work beyond decoding the
    * records it returns. The segment listing is taken once, at
    * construction: segments published later are not read. */
  final class RangeReader private[SimBroker] (dir: Path, partition: Int,
      from: Long, until: Long) extends Iterator[SimRecord] with AutoCloseable {

    private val bases = sortedBases(dir)
    // the next segment to open: the last one starting at or below `from`
    private var si = math.max(0, bases.lastIndexWhere(_ <= from))
    private var in: DataInputStream = _
    private var offset = 0L // offset of the next record in `in`
    private var stop = 0L // end of the open segment's part of the range
    private var done = false

    override def hasNext: Boolean = {
      while (!done && offset >= stop) {
        closeSegment()
        if (si < bases.length && bases(si) < until) { openSegment(si); si += 1 }
        else done = true
      }
      !done
    }

    override def next(): SimRecord = {
      if (!hasNext) throw new NoSuchElementException("range end")
      val keyLen = in.readInt()
      val key = if (keyLen < 0) null else {
        val k = new Array[Byte](keyLen); in.readFully(k); k
      }
      val value = new Array[Byte](in.readInt())
      in.readFully(value)
      val r = SimRecord(partition, offset, key, value, in.readLong())
      offset += 1
      r
    }

    override def close(): Unit = { closeSegment(); done = true }

    private def closeSegment(): Unit =
      if (in != null) { in.close(); in = null }

    private def openSegment(i: Int): Unit = {
      val base = bases(i)
      val lo = math.max(from, base)
      val nextBase = if (i + 1 < bases.length) Some(bases(i + 1)) else None
      var entry = 0L
      var pos = 0L
      nextBase match {
        // a non-final segment read from its base ends where the next
        // one starts: its index is not needed
        case Some(nb) if lo == base => stop = math.min(until, nb)
        case _ =>
          val ix = new RandomAccessFile(indexPath(dir, base).toFile, "r")
          try {
            stop = math.min(until, nextBase.getOrElse(base + ix.readLong()))
            if (lo < stop && lo > base) {
              val k = (lo - base) / IndexInterval
              ix.seek(IndexHeaderBytes + k * IndexEntryBytes)
              entry = ix.readInt().toLong
              pos = ix.readLong()
              if (entry != k * IndexInterval) throw new IllegalStateException(
                s"${indexPath(dir, base)}: entry $k holds offset $entry")
            }
          } finally ix.close()
      }
      if (lo >= stop) { offset = stop; return }
      offset = base + entry
      val file = new FileInputStream(segPath(dir, base).toFile)
      if (pos > 0) file.getChannel.position(pos)
      in = new DataInputStream(new BufferedInputStream(file, 1 << 16))
      while (offset < lo) {
        val keyLen = in.readInt()
        if (keyLen > 0) in.skipNBytes(keyLen.toLong)
        in.skipNBytes(in.readInt() + 8L)
        offset += 1
      }
    }
  }

  // ---- internals ----

  /** Base offsets of the partition's visible segments, ascending. */
  private def sortedBases(dir: Path): IndexedSeq[Long] = {
    if (!Files.isDirectory(dir)) return IndexedSeq.empty
    val s = Files.list(dir)
    try {
      val buf = ArrayBuffer.empty[Long]
      val it = s.iterator()
      while (it.hasNext) {
        val name = it.next().getFileName.toString
        if (name.startsWith("segment-") && name.endsWith(".log"))
          buf += name.stripPrefix("segment-").stripSuffix(".log").toLong
      }
      buf.sorted.toIndexedSeq
    } finally s.close()
  }

  private def recordCount(dir: Path, base: Long): Long = {
    val ix = new DataInputStream(new FileInputStream(indexPath(dir, base).toFile))
    try ix.readLong() finally ix.close()
  }
}
