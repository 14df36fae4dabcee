package perfbench

/** Self-tests of the metric math. Every benchmark run executes them
  * first and refuses to report when one fails; `run.py --selftest`
  * runs them alone. */
object SelfTest {

  private def check(name: String, cond: Boolean): Unit =
    if (!cond) throw new AssertionError(s"self-test failed: $name")

  def run(): Int = {
    import Stats._
    var n = 0
    def t(name: String)(cond: => Boolean): Unit = { check(name, cond); n += 1 }

    // attribution: the FIRST batch whose end offsets cover the append
    val batches = Seq(Map(0 -> 5L, 1 -> 0L), Map(0 -> 5L, 1 -> 4L),
      Map(0 -> 9L, 1 -> 4L))
    t("covered by first batch") {
      attribute(Seq(Map(0 -> 5L)), batches) == Seq(Some(0)) }
    t("needs every partition it wrote") {
      attribute(Seq(Map(0 -> 3L, 1 -> 2L)), batches) == Seq(Some(1)) }
    t("a later batch is not chosen over an earlier one") {
      attribute(Seq(Map(1 -> 4L)), batches) == Seq(Some(1)) }
    t("offsets past every batch stay unattributed") {
      attribute(Seq(Map(0 -> 10L)), batches) == Seq(None) }
    t("a partition a batch never saw reads as offset 0") {
      attribute(Seq(Map(2 -> 1L)), batches) == Seq(None) }

    // percentiles only where at least ten samples lie beyond
    val xs = (1 to 200).map(_.toDouble)
    t("p95 of 1..200 is the 190th sample") { percentile(xs, 95) == Some(190.0) }
    t("p95 of 1..199 leaves only 9 beyond") { percentile(xs.take(199), 95).isEmpty }
    t("p50 of 1..20 is the 10th sample") {
      percentile(xs.take(20), 50) == Some(10.0) }
    t("p50 of 1..19 leaves only 9 beyond") { percentile(xs.take(19), 50).isEmpty }
    t("no samples, no percentile") { percentile(Nil, 50).isEmpty }
    t("median interpolates an even count") { median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5 }
    t("median of an odd count") { median(Seq(3.0, 1.0, 2.0)) == 2.0 }

    // driver idle = wall minus the union of job intervals
    t("no jobs: all idle") { uncovered((0L, 100L), Nil) == 100L }
    t("overlapping jobs count once") {
      uncovered((0L, 100L), Seq((10L, 40L), (30L, 60L))) == 50L }
    t("nested jobs count once") {
      uncovered((0L, 100L), Seq((10L, 90L), (20L, 30L))) == 20L }
    t("jobs clip to the window") {
      uncovered((0L, 100L), Seq((-50L, 10L), (95L, 200L))) == 85L }
    t("disjoint jobs add up") {
      uncovered((0L, 100L), Seq((0L, 10L), (50L, 60L), (90L, 100L))) == 70L }
    t("touching jobs leave no gap") {
      uncovered((0L, 100L), Seq((0L, 50L), (50L, 100L))) == 0L }

    t("skew is max over median") { skew(Seq(10L, 10L, 40L)) == 4.0 }
    n
  }

  def main(args: Array[String]): Unit = {
    val n = run()
    println(s"perfbench self-tests: $n passed")
  }
}
