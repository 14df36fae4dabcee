package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One Spark job as the listener saw it, with the task metrics of all
  * its stages summed. */
final class JobRec(val id: Int, val startMs: Long, val batchId: Option[Long]) {
  var endMs: Long = -1L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  val stageTaskMs: mutable.Map[Int, mutable.ArrayBuffer[Long]] = mutable.Map.empty
}

/** Engine counters from Spark's public `SparkListener` events: jobs,
  * tasks, executor run/CPU/GC time, shuffle-write and spill bytes,
  * records read and per-stage task times. Events arrive on the
  * listener-bus thread; readers call [[drain]] first. */
final class EngineTrace(spark: SparkSession) extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val batch = Option(e.properties)
      .flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .map(_.toLong)
    jobs(e.jobId) = new JobRec(e.jobId, e.time, batch)
    e.stageIds.foreach(stageToJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageToJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      j.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
        j.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  private var attached = false

  /** Adds this listener to the bus, or removes it once every event
    * posted so far has been delivered. */
  def attach(on: Boolean): Unit = if (on != attached) {
    if (on) spark.sparkContext.addSparkListener(this)
    else { drain(); spark.sparkContext.removeSparkListener(this) }
    attached = on
  }

  /** Waits until every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Finished jobs that started inside [t0, t1]. */
  def jobsIn(t0: Long, t1: Long): Seq[JobRec] = synchronized {
    jobs.values.filter(j => j.startMs >= t0 && j.startMs <= t1 && j.endMs >= 0).toSeq
  }

  def all: Seq[JobRec] = synchronized(jobs.values.toSeq)
}

/** Sums over a set of jobs: the `spark.*` per-layer counters. */
final case class EngineTotals(jobs: Int, tasks: Long, runS: Double, cpuS: Double,
    gcS: Double, shuffleWriteBytes: Long, spillBytes: Long, taskSkew: Double) {

  /** The counters per operation, over `ops` operations (skew stays the
    * worst stage's). */
  def perOp(ops: Int): Map[String, Double] = {
    val n = math.max(ops, 1).toDouble
    Map("spark.jobs" -> jobs / n, "spark.tasks" -> tasks / n,
      "spark.executor_run_s" -> runS / n, "spark.executor_cpu_s" -> cpuS / n,
      "spark.gc_s" -> gcS / n, "spark.shuffle_write_bytes" -> shuffleWriteBytes / n,
      "spark.spill_bytes" -> spillBytes / n, "spark.task_skew" -> taskSkew)
  }
}

object EngineTotals {
  def of(js: Seq[JobRec]): EngineTotals = {
    val stages = js.flatMap(_.stageTaskMs.values).filter(_.size >= 2)
    EngineTotals(js.size, js.map(_.tasks).sum, js.map(_.runMs).sum / 1e3,
      js.map(_.cpuNs).sum / 1e9, js.map(_.gcMs).sum / 1e3,
      js.map(_.shuffleWriteBytes).sum, js.map(_.spillBytes).sum,
      if (stages.isEmpty) 1.0 else stages.map(s => Stats.skew(s.toSeq)).max)
  }
}

/** A timed call into one of the library's public functions. */
final case class Span(name: String, startMs: Long, endMs: Long, ok: Boolean)

/** In-memory span recorder, written out once at the end of a run. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]

  def apply[T](name: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    var ok = false
    try { val r = body; ok = true; r }
    finally synchronized { buf += Span(name, t0, System.currentTimeMillis(), ok) }
  }

  def all: Seq[Span] = synchronized(buf.toSeq)
}
