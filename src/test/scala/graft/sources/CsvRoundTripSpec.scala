package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.store.Scratch

class CsvRoundTripSpec extends AnyFunSuite with SparkSuite {

  private def roundTrip(df: org.apache.spark.sql.DataFrame) = {
    val dir = Scratch.dir(spark, "csv") + "/out"
    CsvRoundTrip.write(df, dir)
    CsvRoundTrip.read(spark, dir, df.schema)
  }

  test("separators, quotes, newlines, CRLF, and backslashes survive verbatim") {
    import spark.implicits._
    val nasty = Seq(
      (1L, "plain"),
      (2L, "comma,inside"),
      (3L, "quote\"inside"),
      (4L, "new\nline"),
      (5L, "crlf\r\nline"),
      (6L, "back\\slash"),
      (7L, "\"leading and trailing\""),
      (8L, "all,of\"it\n\\,\"together\"")
    ).toDF("id", "s")
    val got = roundTrip(nasty).orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    val want = nasty.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == want.toSeq)
  }

  test("NULL and empty string stay distinct") {
    import spark.implicits._
    val df = Seq((1L, Some("x")), (2L, None), (3L, Some(""))).toDF("id", "s")
    val got = roundTrip(df).orderBy("id").collect()
    assert(got(0).getString(1) == "x")
    assert(got(1).isNullAt(1))
    assert(got(2).getString(1) == "")
  }

  test("types round trip through the pinned schema (long, double, timestamp)") {
    import spark.implicits._
    val df = Seq((1L, 1.5, java.sql.Timestamp.valueOf("2024-02-29 23:59:59")))
      .toDF("id", "v", "ts")
    val got = roundTrip(df).collect()(0)
    assert(got.getLong(0) == 1L && got.getDouble(1) == 1.5)
    assert(got.getTimestamp(2) == java.sql.Timestamp.valueOf("2024-02-29 23:59:59"))
  }

  test("newline-free data takes the splittable fast path: task count > file count") {
    import spark.implicits._
    val df = (1L to 5000L).map(i => (i, s"row-$i-" + ("x" * 40))).toDF("id", "s")
    val dir = Scratch.dir(spark, "csv-split") + "/out"
    CsvRoundTrip.write(df.coalesce(1), dir)   // ONE csv file
    val files = new java.io.File(dir).listFiles.count(_.getName.endsWith(".csv"))
    assert(files == 1)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
      val got = CsvRoundTrip.read(spark, dir, df.schema, requireSplittable = true)
      // the single file splits into many tasks — impossible under multiLine
      assert(got.rdd.getNumPartitions > files)
      assert(got.count() == 5000L)
      // and the fast path is still lossless
      assert(got.agg(sum("id")).collect()(0).getLong(0) == 5000L * 5001L / 2)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("embedded newlines: auto-read falls back to multiLine; requireSplittable fails loudly") {
    import spark.implicits._
    val df = Seq((1L, "new\nline"), (2L, "plain")).toDF("id", "s")
    val dir = Scratch.dir(spark, "csv-nl") + "/out"
    CsvRoundTrip.write(df, dir)
    // auto path: correct (multiLine) read
    val got = CsvRoundTrip.read(spark, dir, df.schema).orderBy("id").collect()
    assert(got(0).getString(1) == "new\nline" && got(1).getString(1) == "plain")
    // loud refusal instead of a silent one-task-per-file plan
    val e = intercept[IllegalStateException] {
      CsvRoundTrip.read(spark, dir, df.schema, requireSplittable = true)
    }
    assert(e.getMessage.contains("newlines"))
  }

  test("foreign data (no sidecar) is assumed unsplittable") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("id", "s")
    val dir = Scratch.dir(spark, "csv-foreign") + "/out"
    CsvRoundTrip.write(df, dir)
    assert(new java.io.File(dir, CsvRoundTrip.MetaFile).delete())
    assert(CsvRoundTrip.read(spark, dir, df.schema).count() == 1) // safe path works
    intercept[IllegalStateException] {
      CsvRoundTrip.read(spark, dir, df.schema, requireSplittable = true)
    }
  }

  test("the null sentinel as DATA survives (it gets quoted away? no — documented collision)") {
    import spark.implicits._
    // The documented contract: data equal to the sentinel is the one
    // ambiguity; it reads back as NULL. Assert the documented behavior
    // so a silent change is caught.
    val df = Seq((1L, CsvRoundTrip.NullSentinel)).toDF("id", "s")
    val got = roundTrip(df).collect()(0)
    assert(got.isNullAt(1))
  }
}
