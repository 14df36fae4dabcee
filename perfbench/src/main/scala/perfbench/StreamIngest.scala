package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.pipeline.BronzeIngest
import graft.sources.kafkasim.{KafkaSimSource, SimBroker}
import graft.streaming.monitors.StreamingLossListener
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** `stream`: the reference's production job. `readStream(kafkasim)` →
  * `BronzeIngest.decode` → `writeStream.toTable("bronze.db.orders")`
  * with the default trigger, the reference's `StreamingLossListener`
  * attached, and one producer thread appending seeded OrderEvents on an
  * open-loop schedule at a fixed rate. When the query dies it is
  * restarted from the same checkpoint — the reference's recovery
  * contract — and the dead micro-batch is counted. */
object StreamIngest {
  /** The producer appends every `AppendEveryMs` (a Kafka producer's
    * linger), each append one segment on the next partition in turn. */
  val AppendEveryMs = 20L
  /** 2 000 records per append offers 100 000 records/s, half the highest
    * rate the job was measured to sustain on a 4-core host (README.md,
    * "Offered rate"). */
  val RecordsPerAppend = 2000
  val OfferedPerS: Double = RecordsPerAppend * 1000.0 / AppendEveryMs
  /** A catch-up backlog is one second of offered traffic, appended while
    * the query is down. */
  val CatchUpAppends: Int = (1000 / AppendEveryMs).toInt
  val CatchUpRecords: Int = CatchUpAppends * RecordsPerAppend
  /** Retained history the job starts on, committed during set-up. */
  val HistoryPerPartition = 10000
  private val WarmupS = 2.0
  private val SetupReps = 3
  private val MaxRestarts = 20
  private val WarmupCatchUps = 2
  private val MinCatchUps = 6

  /** One completed micro-batch, from its progress event. */
  final case class Batch(batchId: Long, endMs: Long,
      durations: Map[String, Long], rows: Long, ends: Map[Int, Long])

  /** One producer append: when it was due, when it ran, and the
    * partition end offset it produced. */
  final case class Append(dueMs: Double, startMs: Double, appendMs: Double,
      partition: Int, end: Long)

  /** Collects the measured query's completed batches. */
  final class ProgressLog extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[(String, Batch)]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      if (d.contains("addBatch")) {
        val ends = p.sources.headOption.flatMap(s => Option(s.endOffset))
          .map(KafkaSimSource.parseOffsetJson).getOrElse(Map.empty)
          .collect { case ((Orders.Topic, part), off) => part -> off }
        val endMs = java.time.Instant.parse(p.timestamp).toEpochMilli +
          d.getOrElse("triggerExecution", 0L)
        batches.add(p.id.toString ->
          Batch(p.batchId, endMs, d, p.numInputRows, ends))
      }
    }
    def of(queryId: String): Seq[Batch] =
      batches.asScala.collect { case (`queryId`, b) => b }.toSeq.sortBy(_.endMs)
  }

  /** Times the reference's loss listener on the listener bus. */
  final class TimedLossListener(inner: StreamingLossListener) extends StreamingQueryListener {
    val callMs = new ConcurrentLinkedQueue[Double]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      inner.onQueryStarted(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      inner.onQueryTerminated(e)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val t0 = System.nanoTime()
      inner.onQueryProgress(e)
      callMs.add((System.nanoTime() - t0) / 1e6)
    }
  }

  def run(ctx: Ctx): Outcome = {
    import ctx._
    import Orders.{Partitions, Topic}
    val progress = new ProgressLog
    spark.streams.addListener(progress)

    def start(root: String, ckpt: String, table: String): StreamingQuery = {
      val wire = spark.readStream.format("kafkasim")
        .option("path", root).option("subscribe", Topic)
        .option("startingOffsets", "earliest").load()
      BronzeIngest.decode(spark, wire)
        .withColumn("source", lit(null).cast("string"))
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .toTable(table)
    }

    def covers(b: Batch, target: Map[Int, Long]): Boolean =
      target.forall { case (p, end) => b.ends.getOrElse(p, 0L) >= end }

    def committedCovers(q: StreamingQuery, target: Map[Int, Long]): Boolean =
      progress.of(q.id.toString).lastOption.exists(covers(_, target))

    def awaitCovered(q: StreamingQuery, target: Map[Int, Long], timeoutS: Double): Boolean = {
      val end = System.nanoTime() + (timeoutS * 1e9).toLong
      while (!committedCovers(q, target) && q.isActive && System.nanoTime() < end)
        Thread.sleep(5)
      committedCovers(q, target)
    }

    // set-up: topic with retained history, bronze table, the query
    // started and caught up on the history
    val ((root, ckpt, gen, firstQuery), setupS) = setupReps(SetupReps) { i =>
      val root = dir(s"broker-$i")
      val ckpt = work.resolve(s"ckpt-$i").toString
      val ns = if (i == SetupReps) "db" else s"setup$i"
      val table = s"bronze.$ns.orders"
      val gen = new Orders(seed)
      SimBroker.createTopic(root, Topic, Partitions)
      val history = (0 until Partitions).map { p =>
        p -> (SimBroker.append(root, Topic, p, gen.batch(HistoryPerPartition, 0L)) +
          HistoryPerPartition)
      }.toMap
      BronzeIngest.ensureBronzeTable(spark, table)
      val q = start(root, ckpt, table)
      require(awaitCovered(q, history, 60), s"query did not catch up on the history: ${q.exception}")
      if (i < SetupReps) q.stop()
      (root, ckpt, gen, q)
    }
    phase("setup")
    val table = "bronze.db.orders"
    val tableDir = Orders.tableDir(spark, "orders")
    // traced runs wrap the loss listener from the start, so no progress
    // event goes unchecked
    val loss = new StreamingLossListener(root)
    val timedLoss = new TimedLossListener(loss)
    spark.streams.addListener(if (ctx.traced) timedLoss else loss)
    val engine = if (ctx.traced) Some(new EngineTrace(spark)) else None
    def traceOn(on: Boolean): Unit = engine.foreach(_.attach(on))

    // the open-loop producer
    val appends = new ConcurrentLinkedQueue[Append]()
    @volatile var producerError: Option[Throwable] = None
    def nowMs(): Double = {
      val t = java.time.Instant.now()
      t.getEpochSecond * 1e3 + t.getNano / 1e6
    }
    val t0Ms = nowMs() + 50
    val warmEndMs = t0Ms + WarmupS * 1e3
    val windowEndMs = warmEndMs + seconds * 1e3
    val ends = Array.fill(Partitions)(HistoryPerPartition.toLong)
    def target: Map[Int, Long] = (0 until Partitions).map(p => p -> ends(p)).toMap
    val producer = new Thread(() => {
      try {
        var k = 0L
        while (t0Ms + k * AppendEveryMs < windowEndMs) {
          val due = t0Ms + k * AppendEveryMs
          var now = nowMs()
          while (now < due) {
            Thread.sleep(math.max(0L, (due - now).toLong))
            now = nowMs()
          }
          val p = (k % Partitions).toInt
          val recs = gen.batch(RecordsPerAppend, now.toLong)
          val s0 = System.nanoTime()
          val base = SimBroker.append(root, Topic, p, recs)
          val ms = (System.nanoTime() - s0) / 1e6
          ends(p) = base + RecordsPerAppend
          appends.add(Append(due, now, ms, p, ends(p)))
          k += 1
        }
      } catch { case e: Throwable => producerError = Some(e) }
    }, "perfbench-producer")

    var q = firstQuery
    val queryId = q.id.toString // persists across restarts from the checkpoint
    var restarts = 0
    var deaths = List.empty[String]
    def keepAlive(): Unit = if (!q.isActive && restarts < MaxRestarts) {
      deaths ::= q.exception.map(_.getMessage.linesIterator.take(1).mkString).getOrElse("stopped")
      restarts += 1
      q = start(root, ckpt, table)
    }
    /** Waits until every produced record is committed, restarting the
      * query whenever it dies. */
    def drain(target: Map[Int, Long], timeoutS: Double): Boolean = {
      val end = System.nanoTime() + (timeoutS * 1e9).toLong
      while (!committedCovers(q, target) && System.nanoTime() < end && restarts < MaxRestarts) {
        keepAlive()
        Thread.sleep(5)
      }
      committedCovers(q, target)
    }

    resetHeapPeak()
    var filesAtWarm = TableFiles.Empty
    var warm = false
    producer.start()
    while (producer.isAlive) {
      keepAlive()
      if (!warm && System.currentTimeMillis() >= warmEndMs) {
        traceOn(true)
        filesAtWarm = TableFiles.of(tableDir)
        warm = true
      }
      Thread.sleep(10)
    }
    phase("measured")
    val produced = appends.asScala.toSeq
    val filesAtEnd = TableFiles.of(tableDir)
    val filesAtEndMs = System.currentTimeMillis()
    val backlog = {
      val committed = progress.of(queryId).lastOption.map(_.ends).getOrElse(Map.empty)
      (0 until Partitions).map(p => ends(p) - committed.getOrElse(p, 0L)).sum
    }
    val drained = drain(target, 60)
    traceOn(false)
    val peakMb = heapPeakMb()
    phase("drained")

    // catch-up: the query is stopped, one second of traffic is appended
    // while it is down, and it is restarted from its checkpoint. One op
    // is the drain of that backlog, from restart to the end of the
    // micro-batch that commits it; None when it failed or the query died.
    var catchUpOps = 0
    def catchUp(traced: Boolean): Option[Double] = {
      catchUpOps += 1
      q.stop()
      (0 until CatchUpAppends).foreach { k =>
        val p = k % Partitions
        ends(p) = SimBroker.append(root, Topic, p,
          gen.batch(RecordsPerAppend, System.currentTimeMillis())) + RecordsPerAppend
      }
      val goal = target
      traceOn(traced)
      val deathsBefore = restarts
      val t0 = System.currentTimeMillis()
      def body(): Boolean = { q = start(root, ckpt, table); drain(goal, 60) }
      val ok = if (traced) spans("catch-up")(body()) else body()
      traceOn(false)
      progress.of(queryId).find(covers(_, goal))
        .filter(_ => ok && restarts == deathsBefore).map(_.endMs - t0.toDouble)
    }
    // untimed catch-ups warm the restart path; traced runs then
    // alternate untraced and traced ops ABBA, for the tracing overhead
    final case class CatchUp(ms: Double, traced: Boolean)
    val catchUps = scala.collection.mutable.ArrayBuffer.empty[CatchUp]
    var catchUpFailed =
      (1 to WarmupCatchUps).count(_ => drained && catchUp(traced = false).isEmpty)
    val catchUpEnd = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0
    while (drained && (n < MinCatchUps || System.nanoTime() < catchUpEnd)) {
      val traced = ctx.traced && (n % 4 == 1 || n % 4 == 2)
      catchUp(traced) match {
        case Some(ms) => catchUps += CatchUp(ms, traced)
        case None => catchUpFailed += 1
      }
      n += 1
    }
    phase("caught-up")
    val committedAll = committedCovers(q, target)
    q.stop()
    // traced runs also probe the read path over the whole topic
    val readPath = engine.map { e =>
      traceOn(true)
      try Backfill.readPath(ctx, e, root, gen.produced) finally traceOn(false)
    }.getOrElse(Map.empty)
    spark.streams.removeListener(progress)
    spark.streams.removeListener(if (ctx.traced) timedLoss else loss)

    // attribution and gates
    val batches = progress.of(queryId)
    val measured = produced.filter(_.dueMs >= warmEndMs)
    val cover = Stats.attribute(measured.map(a => Map(a.partition -> a.end)),
      batches.map(_.ends))
    val latency = measured.zip(cover).collect { case (a, Some(i)) => batches(i).endMs - a.dueMs }
    val got = Orders.ledgers(spark, Seq(table))(table)
    val expected = (gen.produced, gen.produced, gen.centsSum)
    val gates = List(
      Option.when(producerError.nonEmpty)(s"producer failed: ${producerError.get}"),
      Option.when(!drained || !committedAll)(
        s"stream did not commit every produced record ($restarts restarts)"),
      Option.when(got != expected)(s"$table (rows, ids, cents) $got, expected $expected"),
      Option.when(loss.events.nonEmpty)(s"loss listener reported ${loss.events.size} events"),
      Option.when(cover.exists(_.isEmpty))("an append no committed batch covers")).flatten

    val windowBatches = batches.filter(b => b.endMs >= warmEndMs && b.endMs <= windowEndMs)
    val batchAttempts = windowBatches.size + restarts
    val plainMs = catchUps.filterNot(_.traced).map(_.ms).toSeq
    val e2e =
      if (plainMs.isEmpty) Map.empty[String, Double]
      else Map("setup_s" -> setupS,
        "throughput_records_per_s" -> Stats.median(plainMs.map(ms => CatchUpRecords * 1e3 / ms)))

    val layer = engine.map { eng =>
      val jobsByBatch = eng.all.filter(j => j.endMs >= 0 && j.batchId.nonEmpty)
        .groupBy(j => j.batchId.get)
      val tb = windowBatches.filter(b => jobsByBatch.contains(b.batchId))
      def dur(k: String) = if (windowBatches.isEmpty) 0.0
        else Stats.median(windowBatches.map(_.durations.getOrElse(k, 0L).toDouble))
      val commitS = tb.map { b =>
        (b.endMs - b.durations.getOrElse("commitOffsets", 0L) -
          jobsByBatch(b.batchId).map(_.endMs).max) / 1e3 }
      val files = filesAtEnd.minus(filesAtWarm)
      val committing = batches.filter(b => b.endMs > warmEndMs && b.endMs <= filesAtEndMs)
      val tracedMs = catchUps.filter(_.traced).map(_.ms).toSeq
      Map(
        "kafkasim.append_ms" -> Stats.median(measured.map(_.appendMs)),
        "stream.trigger_ms" -> dur("triggerExecution"),
        "stream.latest_offset_ms" -> dur("latestOffset"),
        "stream.query_planning_ms" -> dur("queryPlanning"),
        "stream.add_batch_ms" -> dur("addBatch"),
        "stream.wal_commit_ms" -> dur("walCommit"),
        "stream.commit_offsets_ms" -> dur("commitOffsets"),
        "stream.rows_per_batch" ->
          (if (windowBatches.isEmpty) 0.0 else Stats.median(windowBatches.map(_.rows.toDouble))),
        "stream.producer_late_ms" -> {
          val late = measured.map(a => a.startMs - a.dueMs)
          Stats.percentile(late, 95).getOrElse(if (late.isEmpty) 0.0 else late.max)
        },
        "stream.latency_p50_ms" -> Stats.percentile(latency, 50).getOrElse(0.0),
        "stream.latency_p95_ms" -> Stats.percentile(latency, 95).getOrElse(0.0),
        "stream.latency_samples" -> latency.size.toDouble,
        "stream.backlog_records" -> backlog.toDouble,
        "stream.batch_failure_ratio" ->
          (if (batchAttempts == 0) 0.0 else restarts.toDouble / batchAttempts),
        "monitors.listener_ms" -> {
          val c = timedLoss.callMs.asScala.toSeq
          if (c.isEmpty) 0.0 else Stats.median(c)
        },
        "monitors.loss_events" -> loss.events.size.toDouble,
        "trace.overhead_ms" -> (if (tracedMs.isEmpty || plainMs.isEmpty) 0.0
          else Stats.median(tracedMs) - Stats.median(plainMs))) ++
        Metrics.catalog(files, committing.size, committing.map(_.rows).sum,
          if (commitS.isEmpty) 0.0 else Stats.median(commitS)) ++
        EngineTotals.of(tb.flatMap(b => jobsByBatch(b.batchId))).perOp(tb.size) ++
        readPath
    }.getOrElse(Map.empty)

    // the user-level operations are the measured appends, each of which
    // must be committed once, and the catch-ups
    Outcome(measured.size + catchUpOps, cover.count(_.isEmpty) + catchUpFailed,
      gates.isEmpty && plainMs.nonEmpty, e2e,
      Metrics.layer(layer + ("jvm.peak_heap_mb" -> peakMb)),
      Map("peak_heap_mb" -> peakMb, "offered_records_per_s" -> OfferedPerS, "append_every_ms" -> AppendEveryMs,
        "records_per_append" -> RecordsPerAppend, "catch_up_records" -> CatchUpRecords,
        "history_records" -> HistoryPerPartition * Partitions,
        "produced_records" -> gen.produced, "committed" -> got._1,
        "catch_up_ms" -> catchUps.map(_.ms).toSeq, "catch_ups_failed" -> catchUpFailed,
        "latency_samples" -> latency.size,
        "latency_p50_ms" -> Stats.percentile(latency, 50).getOrElse(0.0),
        "latency_p95_ms" -> Stats.percentile(latency, 95).getOrElse(0.0),
        "batches" -> windowBatches.size,
        "restarts" -> restarts, "deaths" -> deaths,
        "backlog_records" -> backlog, "gate_failures" -> gates))
  }
}
