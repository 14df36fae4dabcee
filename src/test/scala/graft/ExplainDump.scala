package graft

import org.apache.spark.sql.execution.SimpleMode

/** Dev tool: dump physical plans for named queries (PLANS.md source). */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val s = Harness.session("graft-explaindump", 4)
    s.sparkContext.setLogLevel("ERROR")
    val d = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    args(0).split(",").foreach { n =>
      println(s"===== $n =====")
      println(SparkEntry.queries(n)(s, d)
        .queryExecution.explainString(SimpleMode))
    }
    s.stop()
  }
}
