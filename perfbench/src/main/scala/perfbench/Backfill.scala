package perfbench

import graft.pipeline.BronzeIngest
import graft.sources.kafkasim.SimBroker

/** `backfill`: a consumer replaying retained history after an outage.
  * Each operation is one `BronzeIngest.batchJobToTable` call, earliest
  * → latest, over a seeded 3-partition `orders` topic whose partitions
  * are one segment each (what Kafka's default 1 GiB `segment.bytes`
  * gives at this volume), into a fresh bronze table. The topic is sized
  * so that the per-record scan, decode and write outweigh the per-call
  * costs (planning, two jobs, the commit) while three set-ups and the
  * gate still fit the run budget. */
object Backfill {
  val RecordsPerPartition = 250000
  private val WarmupOps = 2

  private final case class Op(table: String, returned: Long, ms: Double, startMs: Long,
      endMs: Long, traced: Boolean, filesBefore: TableFiles)

  def run(ctx: Ctx): Outcome = {
    import ctx._
    import Orders.{Partitions, Topic}

    val ((root, gen), setupS) = setupReps(3) { i =>
      val root = dir(s"broker-$i")
      val gen = new Orders(seed)
      SimBroker.createTopic(root, Topic, Partitions)
      (0 until Partitions).foreach { p =>
        SimBroker.append(root, Topic, p, gen.batch(RecordsPerPartition, 0L))
      }
      (root, gen)
    }
    val expected = (gen.produced, gen.produced, gen.centsSum)
    phase("setup")

    var opNo = 0
    var failed = 0
    val done = scala.collection.mutable.ArrayBuffer.empty[Op]

    def op(traced: Boolean): Unit = {
      opNo += 1
      val name = s"orders_$opNo"
      val table = s"bronze.db.$name"
      def call() = BronzeIngest.batchJobToTable(spark, root, Topic, "earliest", "latest", table)
      BronzeIngest.ensureBronzeTable(spark, table)
      val before = TableFiles.of(Orders.tableDir(spark, name))
      val t0 = System.currentTimeMillis()
      val res =
        try Right(timeMs(if (traced) spans("batchJobToTable")(call()) else call()))
        catch { case e: Exception => Left(e) }
      val t1 = System.currentTimeMillis()
      res match {
        case Left(e) =>
          failed += 1
          System.err.println(s"[perfbench] backfill op $opNo failed: $e")
        case Right((n, ms)) => done += Op(name, n, ms, t0, t1, traced, before)
      }
    }

    def window(secs: Double, minOps: Int, traced: Int => Boolean): Unit = {
      val end = System.nanoTime() + (secs * 1e9).toLong
      var n = 0
      while (n < minOps || System.nanoTime() < end) { op(traced(n)); n += 1 }
    }

    (1 to WarmupOps).foreach(_ => op(traced = false))
    val warmups = done.size
    phase("warmup")
    resetHeapPeak()
    var layer = Map.empty[String, Double]
    def ops = done.drop(warmups).toSeq
    if (!ctx.traced) window(seconds, 3, _ => false)
    else {
      // untraced and traced ops alternate ABBA, so that warm-up drift
      // cancels out of the tracing overhead
      val engine = new EngineTrace(spark)
      window(seconds, 4, { n =>
        val traced = n % 4 == 1 || n % 4 == 2
        engine.attach(traced)
        traced
      })
      engine.attach(true)
      layer = traceLayers(ctx, engine, root, ops.filter(_.traced), expected._1)
      engine.attach(false)
      val plain = ops.filterNot(_.traced).map(_.ms)
      val withTrace = ops.filter(_.traced).map(_.ms)
      if (plain.nonEmpty && withTrace.nonEmpty)
        layer += "trace.overhead_ms" -> (Stats.median(withTrace) - Stats.median(plain))
    }
    val peakMb = heapPeakMb()
    phase("measured")

    // the gate, untimed and in one query over every table: a call that
    // returned or committed the wrong rows contributes no timing
    val got = Orders.ledgers(spark, done.map(o => s"bronze.db.${o.table}").toSeq)
    val wrong = done.toSeq.collect { case o
        if o.returned != expected._1 || got(s"bronze.db.${o.table}") != expected =>
      o.table -> (s"${o.table}: returned ${o.returned}, (rows, ids, cents) " +
        s"${got(s"bronze.db.${o.table}")}, expected $expected") }.toMap
    val untraced = ops.filter(o => !o.traced && !wrong.contains(o.table)).map(_.ms)
    phase("gated")
    val e2e =
      if (untraced.isEmpty) Map.empty[String, Double]
      else Map("setup_s" -> setupS,
        "throughput_records_per_s" -> Stats.median(untraced.map(ms => expected._1 * 1e3 / ms)))
    Outcome(opNo, failed, wrong.isEmpty && untraced.nonEmpty, e2e,
      Metrics.layer(layer + ("jvm.peak_heap_mb" -> peakMb)),
      Map("peak_heap_mb" -> peakMb, "records_per_op" -> expected._1, "partitions" -> Partitions,
        "segments_per_partition" -> 1, "measured_ops" -> ops.size,
        "op_ms" -> ops.map(_.ms), "warmup_ms" -> done.take(warmups).map(_.ms).toSeq,
        "gate_failures" -> wrong.values.toSeq))
  }

  /** Per-layer costs of the traced operations, plus the read-path probes. */
  private def traceLayers(ctx: Ctx, engine: EngineTrace, root: String,
      tracedOps: Seq[Op], perOp: Long): Map[String, Double] = {
    engine.drain()
    val jobs = tracedOps.map(o => o -> engine.jobsIn(o.startMs, o.endMs))
    val files = tracedOps.map(o => TableFiles.of(Orders.tableDir(ctx.spark, o.table))
      .minus(o.filesBefore)).foldLeft(TableFiles.Empty)(_ plus _)
    val commitS = jobs.collect { case (o, js) if js.nonEmpty =>
      (o.endMs - js.map(_.endMs).max) / 1e3 }
    EngineTotals.of(jobs.flatMap(_._2)).perOp(tracedOps.size) ++
      Metrics.catalog(files, tracedOps.size, perOp * tracedOps.size,
        if (commitS.isEmpty) 0.0 else Stats.median(commitS)) ++
      readPath(ctx, engine, root, perOp)
  }

  /** The read path over a topic of `records` records, from outside:
    * `SimBroker.latest` per call, the whole topic scanned to a `noop`
    * sink, the same scan with `avro_decode`, and Spark input records per
    * committed record of one `batchJobToTable` call. */
  def readPath(ctx: Ctx, engine: EngineTrace, root: String,
      records: Long): Map[String, Double] = {
    import ctx.{spans, spark, timeMs}
    import Orders.{Partitions, Topic}
    val latestMs = (1 to 3).flatMap(_ => (0 until Partitions).map { p =>
      timeMs(spans("SimBroker.latest")(SimBroker.latest(root, Topic, p)))._2 })
    def wire() = spark.read.format("kafkasim").option("path", root)
      .option("subscribe", Topic).option("startingOffsets", "earliest")
      .option("endingOffsets", "latest").load()
    val scanMs = (1 to 3).map(_ => timeMs(spans("kafkasim.scan")(
      wire().write.format("noop").mode("overwrite").save()))._2)
    val decodeMs = (1 to 3).map(_ => timeMs(spans("avro_decode.scan")(
      BronzeIngest.decode(spark, wire()).write.format("noop").mode("overwrite").save()))._2)
    val t0 = System.currentTimeMillis()
    val committed = spans("batchJobToTable")(BronzeIngest.batchJobToTable(
      spark, root, Topic, "earliest", "latest", "bronze.db.read_path_probe"))
    engine.drain()
    val read = engine.jobsIn(t0, System.currentTimeMillis()).map(_.recordsRead).sum
    Map(
      "kafkasim.latest_ms" -> Stats.median(latestMs),
      "kafkasim.scan_records_per_s" -> records * 1e3 / Stats.median(scanMs),
      "avro.decode_s" -> (Stats.median(decodeMs) - Stats.median(scanMs)) / 1e3,
      "backfill.input_records_per_committed" -> read.toDouble / committed)
  }
}
