package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.pipeline.BronzeIngest
import graft.sources.kafkasim.SimBroker
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** kafkasim's segment index and staged publish: reads concurrent with
  * `append` see only whole segments, a seek read returns exactly its
  * range wherever the range falls relative to the index entries, and a
  * bounded batch ingest reads each record once. */
class SegmentIndexSpec extends SparkSpec {

  private val Interval = SimBroker.IndexInterval

  /** Record `i` of a partition: every third key null, value lengths
    * varying, so that skipping has to follow the framing. */
  private def record(i: Long): (Option[Array[Byte]], Array[Byte], Long) =
    (if (i % 3 == 0) None else Some(s"k$i".getBytes("UTF-8")),
      (s"v$i-" + "x" * (i % 17).toInt).getBytes("UTF-8"), 1000L + i)

  private def rows(it: Iterator[SimBroker.SimRecord]) =
    it.map(r => (r.offset, Option(r.key).map(new String(_, "UTF-8")),
      new String(r.value, "UTF-8"), r.timestampMs)).toVector

  private def expected(from: Long, until: Long) =
    (from until until).map { i =>
      val (k, v, ts) = record(i)
      (i, k.map(new String(_, "UTF-8")), new String(v, "UTF-8"), ts)
    }.toVector

  test("reads concurrent with append never see a torn segment") {
    val root = tmpDir("torn")
    SimBroker.createTopic(root, "t", 1)
    val value = Array.fill[Byte](40)('v')
    val writing = new AtomicBoolean(true)
    // a slow producer: each segment's records are generated while the
    // append writes them, so some segment is mid-write most of the time
    val writer = new Thread(() => {
      val deadline = System.nanoTime() + 2000000000L
      var next = 0L
      try while (System.nanoTime() < deadline) {
        val base = next
        SimBroker.append(root, "t", 0, LazyList.tabulate(2000) { i =>
          if (i % 250 == 249) Thread.sleep(1)
          (None, value, base + i)
        })
        next += 2000
      } finally writing.set(false)
    })
    val problems = ArrayBuffer.empty[String]
    var reads = 0
    writer.start()
    try while ((writing.get() || reads == 0) && problems.isEmpty) {
      try {
        val e = SimBroker.earliest(root, "t", 0)
        val l = SimBroker.latest(root, "t", 0)
        var expect = e
        SimBroker.read(root, "t", 0, e, l).foreach { r =>
          if (r.offset != expect || r.timestampMs != expect)
            problems += s"read($e, $l): offset ${r.offset} " +
              s"(timestamp ${r.timestampMs}) where $expect was due"
          expect += 1
        }
        if (expect != l)
          problems += s"read($e, $l) returned ${expect - e} records"
        reads += 1
      } catch { case t: Throwable => problems += t.toString }
    } finally writer.join()
    assert(problems.isEmpty, s"after $reads whole reads: ${problems.take(3)}")
    assert(reads > 1)
  }

  test("seek reads return exactly their range on, beside and between index entries") {
    val root = tmpDir("seek")
    SimBroker.createTopic(root, "t", 1)
    // four segments, each spanning several index entries
    val sizes = Seq(3000, 2500, 4100, 700)
    val bases = sizes.scanLeft(0L)(_ + _)
    sizes.zip(bases).foreach { case (n, base) =>
      assert(SimBroker.append(root, "t", 0, (base until base + n).map(record)) == base)
    }
    val end = bases.last
    assert(SimBroker.latest(root, "t", 0) == end)

    val b1 = bases(1)
    val b2 = bases(2)
    val ranges = Seq(
      0L -> end,                                      // whole log
      Interval.toLong -> 2L * Interval,               // entry to entry
      (Interval - 1L) -> (2L * Interval + 1),         // one outside each entry
      (Interval + 1L) -> (2L * Interval - 1),         // one inside each entry
      1500L -> 1700L,                                 // mid-segment, no entry
      (b1 + Interval) -> (b1 + Interval + 1),         // one record, on an entry
      (b1 + Interval - 1) -> (b1 + Interval),         // one record, before it
      (b2 - 1) -> (b2 + 1),                           // across a boundary
      (Interval + 7L) -> (end - 5),                   // across all four segments
      (b2 + 3 * Interval + 5) -> (end + 100),         // past the end
      500L -> 500L,                                   // empty
      end -> (end + 10),                              // empty, at the end
      900L -> 100L)                                   // until below from
    ranges.foreach { case (from, until) =>
      val want = expected(from, math.min(until, end).max(from))
      assert(rows(SimBroker.read(root, "t", 0, from, until)) == want,
        s"read($from, $until)")
    }

    // a reader abandoned mid-range releases its segment on close
    val partial = SimBroker.read(root, "t", 0, 10, end)
    assert(rows(partial.take(3)) == expected(10, 13))
    partial.close()
    assert(!partial.hasNext)

    // retention deletes each expired segment's index with its log
    SimBroker.expireThrough(root, "t", 0, b2)
    assert(SimBroker.earliest(root, "t", 0) == b2)
    assert(SimBroker.latest(root, "t", 0) == end)
    val left = Files.list(Paths.get(root, "t-0")).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(left == Seq(b2, bases(3)).flatMap(b =>
      Seq(f"segment-$b%020d.log", f"segment-$b%020d.index")).toSet)
    assert(rows(SimBroker.read(root, "t", 0, 0, b2 + 10)) == expected(b2, b2 + 10))
  }

  test("32 contiguous splits read the same records, in order, as one whole-range read") {
    val root = tmpDir("splits")
    SimBroker.createTopic(root, "t", 3)
    (0 until 3).foreach { p =>
      var base = 0L
      Seq(2500, 3100, 900).foreach { n =>
        SimBroker.append(root, "t", p, (base until base + n).map(record))
        base += n
      }
    }
    def scan(minPartitions: Option[Int]) = {
      val r = spark.read.format("kafkasim")
        .option("path", root).option("subscribe", "t")
      minPartitions.fold(r)(m => r.option("minPartitions", m.toString)).load()
    }
    val whole = scan(None)
    val split = scan(Some(32))
    assert(whole.rdd.getNumPartitions == 3)
    assert(split.rdd.getNumPartitions >= 32)
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("partition", "offset", "CAST(key AS STRING)",
        "CAST(value AS STRING)", "timestamp").collect().map(_.toSeq).toSeq
    val a = collect(whole)
    assert(a.size == 3 * 6500)
    assert(collect(split) == a)
  }

  test("batchJobToTable reads its range once, in one job, and counts it") {
    bronzeWarehouse
    val root = tmpDir("onepass")
    val orders = (0 until 600).map(i =>
      graft.pipeline.OrderEventProducer.Order(s"o$i", i * 0.5, "2024-01-01"))
    graft.pipeline.OrderEventProducer.produce(root, "orders", 3, orders)

    var jobs = 0
    val stages = scala.collection.mutable.Set.empty[Int]
    var recordsRead = 0L
    @volatile var markerSeen = false
    val listener = new SparkListener {
      private def group(p: java.util.Properties) =
        Option(p).flatMap(q => Option(q.getProperty("spark.jobGroup.id")))
      override def onJobStart(e: SparkListenerJobStart): Unit =
        group(e.properties) match {
          case Some("onepass") => jobs += 1; stages ++= e.stageIds
          case Some("onepass-marker") => markerSeen = true
          case _ => ()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          recordsRead += e.taskMetrics.inputMetrics.recordsRead
    }
    spark.sparkContext.addSparkListener(listener)
    val sc = spark.sparkContext
    try {
      sc.setJobGroup("onepass", "batchJobToTable")
      val n = BronzeIngest.batchJobToTable(spark, root, "orders",
        "earliest", "latest", "bronze.db.onepass")
      // listener events arrive in order: once the marker job is seen,
      // every event of the call before it has been delivered
      sc.setJobGroup("onepass-marker", "marker")
      spark.range(1).collect()
      val deadline = System.currentTimeMillis() + 20000
      while (!markerSeen && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(markerSeen)
      assert(n == 600)
      assert(spark.table("bronze.db.onepass").count() == 600)
      assert(jobs == 1, s"$jobs jobs")
      assert(recordsRead == 600, s"$recordsRead input records for 600 committed")

      // an empty range commits nothing and still reports its count
      sc.setJobGroup("onepass-empty", "empty range")
      assert(BronzeIngest.batchJobToTable(spark, root, "orders",
        "latest", "latest", "bronze.db.onepass") == 0L)
      assert(spark.table("bronze.db.onepass").count() == 600)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      spark.sql("DROP TABLE IF EXISTS bronze.db.onepass")
    }
  }
}
