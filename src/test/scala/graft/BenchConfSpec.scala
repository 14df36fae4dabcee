package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SPARK_GRAFT_CONF dial parser (the r15 ADVICE low): the old
  * bare-comma split truncated any comma-VALUED conf. The parser now
  * honors `;` as an explicit separator and, without one, splits on
  * commas only when the next token is another `key=`. */
class BenchConfSpec extends AnyFunSuite {

  test("plain comma-separated k=v pairs (the documented shape)") {
    assert(Bench.parseConf(
      "spark.graft.ivfNprobe=7,spark.graft.pqShortlist=96") ===
      Seq("spark.graft.ivfNprobe" -> "7",
        "spark.graft.pqShortlist" -> "96"))
  }

  test("a comma-valued conf round-trips when ; separates") {
    assert(Bench.parseConf(
      "spark.sql.files.ignoreCorruptFiles=true;" +
        "spark.executor.extraJavaOptions=-XX:+UseG1GC,-Xss4m") ===
      Seq("spark.sql.files.ignoreCorruptFiles" -> "true",
        "spark.executor.extraJavaOptions" -> "-XX:+UseG1GC,-Xss4m"))
  }

  test("a TRAILING comma-valued conf survives even comma separation") {
    // the comma inside the value is not followed by key=, so it does
    // not split — the old parser truncated the value at the comma
    assert(Bench.parseConf(
      "spark.graft.ivfNprobe=7,spark.x.list=a,b,c") ===
      Seq("spark.graft.ivfNprobe" -> "7",
        "spark.x.list" -> "a,b,c"))
  }

  test("whitespace around ;-separated entries is trimmed") {
    assert(Bench.parseConf(" a.b=1 ; c.d=2 ") ===
      Seq("a.b" -> "1", "c.d" -> "2"))
  }

  test("entries without = are dropped, empty input yields nothing") {
    assert(Bench.parseConf("noequals;a.b=1") === Seq("a.b" -> "1"))
    assert(Bench.parseConf("") === Nil)
  }

  test("key and value are trimmed INDIVIDUALLY (r16 ADVICE: 'a = b' " +
      "used to produce key 'a ', which silently never took effect)") {
    assert(Bench.parseConf("a.b = 1") === Seq("a.b" -> "1"))
    assert(Bench.parseConf("a.b = 1 ; c.d= 2") ===
      Seq("a.b" -> "1", "c.d" -> "2"))
  }

  test("keys containing '-' are recognized as comma split points") {
    // the old lookahead charset had no '-', so the second conf glued
    // into the first value
    assert(Bench.parseConf("a.b=1,spark.my-dialed.conf=2") ===
      Seq("a.b" -> "1", "spark.my-dialed.conf" -> "2"))
  }

  // the pin guard: a total only replaces the pin when it was measured
  // on the pin's own (sf, cpus) — ROADMAP aim 3
  private val pinLine = """{"metric":"total","value":15.1,"unit":"sec",""" +
    """"host_loaded":false,"sf":"/data/sf0.1","cpus":32}"""
  private def out(total: Double, sf: String = "/data/sf0.1",
      cpus: Int = 32, force: Boolean = false,
      pin: Option[String] = Some(pinLine)): String =
    Bench.outFile(pin, total, sf, cpus, partial = false,
      hostLoaded = false, force = force)

  test("a smaller-SF total never replaces the pin, even when forced") {
    assert(out(3.2, sf = "/data/sf0.01") === "bench_out.loaded.json")
    assert(out(3.2, sf = "/data/sf0.01", force = true) ===
      "bench_out.loaded.json")
  }

  test("a run on another core count never replaces the pin") {
    assert(out(9.0, cpus = 4) === "bench_out.loaded.json")
    assert(out(9.0, cpus = 4, force = true) === "bench_out.loaded.json")
    // a pin written before cpus was recorded matches no run
    val legacy = pinLine.replace(""","cpus":32""", "")
    assert(out(9.0, pin = Some(legacy)) === "bench_out.loaded.json")
  }

  test("a same-(SF, cpus) faster total replaces the pin; a slower one " +
      "only when forced; no pin yet takes any quiet run") {
    assert(out(14.9) === "bench_out.json")
    assert(out(15.3) === "bench_out.loaded.json")
    assert(out(15.3, force = true) === "bench_out.json")
    assert(out(99.0, pin = None) === "bench_out.json")
  }

  test("partial and loaded runs divert before any pin comparison") {
    assert(Bench.outFile(Some(pinLine), 1.0, "/data/sf0.1", 32, partial = true,
      hostLoaded = false, force = true) === "bench_out.partial.json")
    assert(Bench.outFile(Some(pinLine), 1.0, "/data/sf0.1", 32, partial = false,
      hostLoaded = true, force = true) === "bench_out.loaded.json")
  }
}
