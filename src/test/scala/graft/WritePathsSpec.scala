package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** The write-path queries' scale claims, asserted on the actual plans:
  * w01's read-back scan prunes to the one matching partition
  * directory, and w02's bucketed join has no exchange on either side.
  */
class WritePathsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("w01 partitioned read prunes to the filtered partition") {
    val df = SparkEntry.queries("w01_partitioned_write_prune")(spark, sf)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("PartitionFilters"),
      s"expected a partition-pruned file scan:\n$formatted")
    assert(formatted.contains("event_type"),
      s"event_type should appear as a partition filter:\n$formatted")
    // the pruned scan must not surface event_type as a DATA filter —
    // it is a directory name, not a column read from parquet
    assert(!formatted.contains("PushedFilters: [IsNotNull(event_type)"),
      s"event_type should prune directories, not filter rows:\n$formatted")
    assert(df.count() > 0)
  }

  test("w04 z-order layout prunes z-file directories for a point predicate") {
    // run w04 to materialize the layout, then point-query it
    SparkEntry.queries("w04_zorder_layout")(spark, sf)
    val out = graft.operators.Writes.scratch("w04", sf)
    val layout = spark.read.parquet(out)
    val nFiles = layout.select("zfile").distinct().count()
    val probe = layout.filter(col("zfile") === 0)
    val formatted = probe.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // zfile is a partition directory: the predicate must prune at plan
    // time, not filter rows
    assert(formatted.contains("PartitionFilters"),
      s"expected partition pruning on zfile:\n$formatted")
    assert(probe.count() > 0)
    // and the z-property itself: with more than one file, each file's
    // bounding box is STRICTLY narrower than the global range on at
    // least one dimension (the dimension whose high bits the file id
    // fixed) — that's what makes min/max stats prune range predicates
    if (nFiles > 1) {
      val stats = SparkEntry.queries("w04_zorder_layout")(spark, sf)
        .collect()
      val globalUserSpan =
        stats.map(_.getLong(3)).max - stats.map(_.getLong(2)).min
      val globalHourSpan =
        stats.map(_.getLong(5)).max - stats.map(_.getLong(4)).min
      stats.foreach { r =>
        val userSpan = r.getLong(3) - r.getLong(2)
        val hourSpan = r.getLong(5) - r.getLong(4)
        assert(userSpan < globalUserSpan || hourSpan < globalHourSpan,
          s"zfile ${r.getLong(0)} box ($userSpan x $hourSpan) does not " +
            s"narrow the global ($globalUserSpan x $globalHourSpan)")
      }
    }
  }

  test("w02 bucketed join plans with zero exchanges") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("w02_bucketed_write_join")(spark, sf)
      // the final orderBy and the aggregation's own exchange are fine;
      // the JOIN itself must not shuffle — strip everything above it
      val plan = df.queryExecution.executedPlan
      def findJoin(p: org.apache.spark.sql.execution.SparkPlan): Option[
          org.apache.spark.sql.execution.SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => findJoin(a.executedPlan)
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
          Some(j)
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
          Some(j)
        case other => other.children.view.flatMap(findJoin).headOption
      }
      val join = findJoin(plan)
      assert(join.isDefined, s"expected a shuffle-family join:\n$plan")
      val shufflesUnderJoin = join.get.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(shufflesUnderJoin.isEmpty,
        s"bucketed join sides must not re-shuffle:\n${join.get}")
      assert(df.count() > 0)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS w02_orders_bkt")
      spark.sql("DROP TABLE IF EXISTS w02_customer_bkt")
    }
  }

  test("w03 shard export: one file per shard, rows key-ordered in-file") {
    val df = SparkEntry.queries("w03_shard_export")(spark, sf)
    assert(df.count() == 8, "eight shards expected")
    // the query's scratch layout
    val out = graft.operators.Writes.scratch("w03", sf)
    val shardDirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(shardDirs.length == 8, s"expected 8 shard dirs in $out")
    shardDirs.foreach { dir =>
      val parts = dir.listFiles().filter(_.getName.startsWith("part-"))
      assert(parts.length == 1,
        s"${dir.getName}: one file per shard, got ${parts.length}")
      // a single small file reads back as one split, preserving file
      // row order — assert the local sort landed in the layout
      val keys = spark.read.parquet(parts.head.getPath)
        .select(col("skey")).collect().map(_.getString(0)).toSeq
      assert(keys == keys.sorted, s"${dir.getName}: rows not key-ordered")
    }
  }
}
