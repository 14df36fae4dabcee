package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one workload run measured. `e2e` holds the end-to-end metrics,
  * `layer` the per-layer ones (traced runs only); `info` is stamped
  * into the run's result file next to the configuration. */
final case class Outcome(attempted: Int, failed: Int, correct: Boolean,
    e2e: Map[String, Double], layer: Map[String, Double],
    info: Map[String, Any])

/** Shared run state: the session, the run's private directory, the
  * command-line knobs and, when tracing, the span recorder. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
    val seconds: Double, val traced: Boolean) {
  val spans = new Spans

  /** Seconds since JVM start at which each phase of the run ended. */
  val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  def phase(name: String): Unit =
    phases(name) = (System.currentTimeMillis() - jvmStartMs) / 1e3

  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p.toString
  }

  /** Reads how long `body` takes, in milliseconds. */
  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Run `setup` `reps` times and report the median wall time in
    * seconds together with the last repetition's result. */
  def setupReps[T](reps: Int)(setup: Int => T): (T, Double) = {
    var last: Option[T] = None
    val secs = (1 to reps).map { i =>
      val (r, ms) = timeMs(setup(i))
      last = Some(r)
      ms / 1e3
    }
    (last.get, Stats.median(secs))
  }

  /** Largest heap in use right after a garbage collection since the
    * last [[resetHeapPeak]], in MiB: the peak live set, which unlike raw
    * pool peaks does not depend on when the collector happened to run. */
  def heapPeakMb(): Double = {
    System.gc()
    Thread.sleep(200) // GC notifications arrive asynchronously
    gcPeak.get / (1024.0 * 1024.0)
  }

  def resetHeapPeak(): Unit = {
    System.gc()
    Thread.sleep(200)
    gcPeak.set(0L)
  }

  private val gcPeak = new java.util.concurrent.atomic.AtomicLong(0L)
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          gcPeak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
        }, null, null)
    case _ => ()
  }
}

object Main {

  private def usage(): Nothing = {
    System.err.println("usage: perfbench.Main --workload backfill|stream|curation " +
      "--seed N --seconds S --trace 0|1 --work DIR")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val workload = opts.getOrElse("--workload", usage())
    val seed = opts.get("--seed").map(_.toLong).getOrElse(usage())
    val seconds = opts.get("--seconds").map(_.toDouble).getOrElse(usage())
    val traced = opts.getOrElse("--trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("--work", usage())).toAbsolutePath
    if (!Set("backfill", "stream", "curation").contains(workload)) usage()

    SelfTest.run()
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors()
    val confs = Seq(
      "spark.master" -> s"local[$cores]",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.sql.catalog.bronze" -> "graft.catalog.BronzeCatalog",
      "spark.sql.catalog.bronze.warehouse" -> work.resolve("warehouse").toString,
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.warehouse.dir" -> work.resolve("spark-warehouse").toString,
      "spark.local.dir" -> work.resolve("local").toString,
      "spark.ui.enabled" -> "false")
    val t0 = System.nanoTime()
    val spark = confs.foldLeft(SparkSession.builder().appName("perfbench")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    val sessionS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")

    val ctx = new Ctx(spark, work, seed, seconds, traced)
    ctx.phase("session")
    val out =
      try workload match {
        case "backfill" => Backfill.run(ctx)
        case "stream"   => StreamIngest.run(ctx)
        case "curation" => Curation.run(ctx)
      } finally spark.stop()
    ctx.phase("stopped")

    val config = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "traced" -> traced, "nproc" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version, "session_start_s" -> sessionS,
      "phases_s" -> ctx.phases.toSeq.map { case (k, v) => Map(k -> v) },
      "spark_confs" -> confs.toMap)
    val result = Map(
      "correct" -> out.correct, "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> (if (traced) out.layer else out.e2e),
      "config" -> config, "info" -> out.info)
    if (traced) {
      val trace = Map("config" -> config,
        "spans" -> ctx.spans.all.map(s => Map("name" -> s.name,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "ok" -> s.ok)),
        "metrics" -> out.layer, "info" -> out.info)
      Files.writeString(work.resolve("trace.json"), Json(trace))
    }
    println("PERFBENCH_RESULT " + Json(result))
  }
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def apply(v: Any): String = v match {
    case null                    => "null"
    case s: String               => quote(s)
    case b: Boolean              => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double               => d.toString
    case n: Int                  => n.toString
    case n: Long                 => n.toString
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_]         => xs.map(apply).mkString("[", ",", "]")
    case o: Option[_]            => o.map(apply).getOrElse("null")
    case other                   => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    b += '"'
    b.toString
  }
}
