package graft

import org.apache.spark.sql.functions._

/** w24/w25/w26 source-format breadth: the EDGE formats (JSONL, CSV)
  * must round-trip the corpus byte-faithfully, and the columnar
  * alternative (ORC) must keep its analytical properties — predicate
  * pushdown surviving the re-read the way q02 pins it for parquet. */
class FormatsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("JSONL round-trip is row- and content-exact (including newline-bearing text)") {
    val docs = new Tables(spark, sf).documents
    val out = tmpDir("graft_fmt_json")
    // plant a pathological row: newlines, quotes, unicode, backslash
    val nasty = docs.limit(0).union(spark.sql(
      """SELECT 9999999L AS doc_id,
        'line1\nline2\t"quoted" \\ end é中' AS text,
        'xx' AS lang, 'synthetic' AS source, 42L AS n_chars"""))
    val full = docs.union(nasty)
    full.repartition(3, col("doc_id")).write.mode("overwrite").json(out)
    val back = spark.read.schema(docs.schema).json(out)

    assert(back.count() == full.count())
    val diff = back.exceptAll(full).count() + full.exceptAll(back).count()
    assert(diff == 0, s"JSONL round-trip diverged on $diff rows")
  }

  test("CSV round-trip preserves doubles bit-exactly and quoted strings") {
    val out = tmpDir("graft_fmt_csv")
    import spark.implicits._
    val src = Seq(
      (1L, "plain", 1.0),
      (2L, "comma, inside", 0.1 + 0.2), // 0.30000000000000004
      (3L, "\"quoted\"", Double.MinPositiveValue),
      (4L, "trailing space ", 1.7976931348623157e308),
      (5L, "unicode é中", -0.0)).toDF("id", "s", "x")
    // Spark's CSV WRITER trims leading/trailing whitespace by default
    // (ignoreLeading/TrailingWhiteSpace default TRUE on write, FALSE
    // on read) — silently lossy for text payloads; disable for a
    // faithful export (w25 does the same)
    src.write.mode("overwrite").option("header", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(out)
    val back = spark.read.schema(src.schema)
      .option("header", "true").csv(out)
      .collect().map(r => (r.getLong(0), r.getString(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSet
    val want = src.collect().map(r => (r.getLong(0), r.getString(1),
      java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSet
    assert(back == want, s"CSV diverged: ${back.diff(want)} vs ${want.diff(back)}")
  }

  test("dirty JSONL: PERMISSIVE quarantines corrupt lines, FAILFAST refuses") {
    val dir = tmpDir("graft_fmt_dirty")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-0.json"),
      ("""{"doc_id": 1, "text": "ok one"}""" + "\n" +
        """{"doc_id": 2 "text": "missing comma"}""" + "\n" +
        """{"doc_id": 3, "text": "ok three"}""" + "\n").getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_bad",
        org.apache.spark.sql.types.StringType)))

    // PERMISSIVE (the 100 TB default): good rows load, bad rows land
    // whole in the quarantine column for a side-channel audit table
    // caching is REQUIRED before filtering on only the corrupt-record
    // column (Spark refuses corrupt-column-only projections over the
    // raw scan: UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    val perm = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .json(dir)
      .cache()
    assert(perm.filter(col("_bad").isNull).count() == 2)
    assert(perm.filter(col("_bad").isNotNull).count() == 1)

    // DROPMALFORMED: bad rows vanish
    assert(spark.read.schema(
        org.apache.spark.sql.types.StructType(schema.fields.dropRight(1)))
      .option("mode", "DROPMALFORMED").json(dir).count() == 2)

    // FAILFAST: the job refuses — the right call when silence is worse
    val ff = intercept[org.apache.spark.SparkException] {
      spark.read.schema(
          org.apache.spark.sql.types.StructType(schema.fields.dropRight(1)))
        .option("mode", "FAILFAST").json(dir).count()
    }
    assert(ff.getMessage != null)
  }

  test("ORC re-read pushes predicates and prunes columns") {
    val out = tmpDir("graft_fmt_orc")
    new Tables(spark, sf).lineitem.write.mode("overwrite").orc(out)
    val q = spark.read.orc(out)
      .filter(col("l_quantity") >= 30.0)
      .select(col("l_returnflag"), col("l_quantity"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("l_quantity"),
      s"ORC scan did not push the filter:\n$plan")
    // pruned read schema: 2 of 16 columns
    assert(!plan.contains("l_extendedprice"),
      "ORC scan read columns the query never referenced")
    // and the values agree with the parquet original
    val orig = new Tables(spark, sf).lineitem
      .filter(col("l_quantity") >= 30.0)
      .agg(count(lit(1)), sum(col("l_quantity"))).collect()(0)
    val got = q.agg(count(lit(1)), sum(col("l_quantity"))).collect()(0)
    assert(orig == got)
  }
}
