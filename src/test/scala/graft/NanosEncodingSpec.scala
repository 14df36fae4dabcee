package graft

import org.apache.spark.sql.types.TimestampType

/** `Tables.events` must read BOTH ts encodings the driver has shipped
  * — parquet TIMESTAMP(NANOS) and timestamp[us]/NTZ — and must leave
  * the session conf untouched doing it (the r11 version set
  * `spark.sql.legacy.parquet.nanosAsLong` session-globally and never
  * restored it; the accessor now footer-sniffs the encoding and reads
  * nanos through an explicit LongType schema instead). */
class NanosEncodingSpec extends SparkSpec {

  private val LegacyKey = "spark.sql.legacy.parquet.nanosAsLong"

  test("nanos-encoded events read without touching the session conf") {
    val sfDir = tmpDir("nanos_sf")
    val base = 1500000000000000000L // 2017-07-14T02:40:00 UTC, in nanos
    NanosProbe.writeNanosEvents(s"$sfDir/events.parquet", Seq(
      (1L, base + 1500L, 10L, "click", 1.0, "{}"),
      (2L, base + 1000000000L + 999L, 11L, "view", 2.0, "{}")))
    val before = spark.conf.getOption(LegacyKey)
    val df = new Tables(spark, sfDir).events
    assert(df.schema("ts").dataType == TimestampType)
    val rows = df.orderBy("event_id")
      .selectExpr("event_id", "CAST(ts AS STRING)", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // nanos truncate to micros: +1500ns -> +1us, +...999ns -> floor
    assert(rows.toSeq == Seq(
      (1L, "2017-07-14 02:40:00.000001", "click"),
      (2L, "2017-07-14 02:40:01", "view")), rows.mkString(", "))
    assert(spark.conf.getOption(LegacyKey) == before,
      "events accessor mutated the session conf")
  }

  test("a nanos events file rewritten as micros reads as micros") {
    import spark.implicits._
    val sfDir = tmpDir("nanos_rewrite_sf")
    val path = s"$sfDir/events.parquet"
    NanosProbe.writeNanosEvents(path, Seq(
      (1L, 1500000000000000000L + 1500L, 10L, "click", 1.0, "{}")))
    assert(new Tables(spark, sfDir).events.selectExpr("CAST(ts AS STRING)")
      .head().getString(0) == "2017-07-14 02:40:00.000001")
    // the same path rewritten by Spark: TIMESTAMP_NTZ is INT64 micros
    Seq((2L, java.time.LocalDateTime.parse("2020-01-02T03:04:05.123456"),
        11L, "view", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(path)
    val rows = new Tables(spark, sfDir).events
      .selectExpr("event_id", "CAST(ts AS STRING)").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((2L, "2020-01-02 03:04:05.123456")),
      rows.mkString(", "))
  }

  test("micros/NTZ-encoded events read without touching the session conf") {
    val before = spark.conf.getOption(LegacyKey)
    val df = new Tables(spark, "/root/testdata/sf0.001").events
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.limit(5).count() > 0)
    assert(spark.conf.getOption(LegacyKey) == before,
      "events accessor mutated the session conf")
  }
}
