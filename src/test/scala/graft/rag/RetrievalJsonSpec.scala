package graft.rag

import java.sql.{Date, Timestamp}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.store.{DocumentStore, Scratch}

/** The retrieval JSON ([[ChatEngine.jsonRows]], a `to_json(struct(*))`
  * projection) against its twin `Dataset.toJSON`, byte for byte, on
  * hostile rows: the prompt the completion model sees must not change
  * with the plan shape that serializes it. */
class RetrievalJsonSpec extends AnyFunSuite with SparkSuite {

  private val schema = StructType.fromDDL(
    "id BIGINT, s STRING, d DOUBLE, f FLOAT, b BOOLEAN, dec DECIMAL(12,3), " +
      "ts TIMESTAMP, dt DATE, arr ARRAY<DOUBLE>, tags ARRAY<STRING>, " +
      "st STRUCT<x: INT, y: STRING>, m MAP<STRING, INT>, bin BINARY")
    .add("a.b", StringType).add("q\"uote\\", IntegerType)

  private val hostile: Seq[Row] = Seq(
    Row(1L, "plain", 1.5, 2.5f, true, BigDecimal("123.456").bigDecimal,
      Timestamp.valueOf("2024-02-29 23:59:59.123456"), Date.valueOf("2024-02-29"),
      Seq(1.0, -0.0, Double.NaN), Seq("a", null, "c"), Row(1, "y"),
      Map("k" -> 1), Array[Byte](0, 1, -1), "dot", 7),
    Row(2L, "quote \" backslash \\ slash /", -0.0, -0.0f, false, null,
      Timestamp.valueOf("1931-02-03 04:05:06.000001"), Date.valueOf("1500-01-01"),
      Seq(Double.PositiveInfinity, Double.NegativeInfinity), Seq.empty[String], Row(null, null),
      Map.empty[String, Int], Array.emptyByteArray, null, null),
    Row(3L, "ctl \u0000\u0001\b\f\n\r\t\u001f\u007f  end", Double.NaN, Float.NaN, null,
      BigDecimal("-0.001").bigDecimal, null, null, null, null, null,
      Map("q\"k" -> 2, "\\" -> 3), null, "\u0000", -1),
    Row(4L, "non-BMP 😀 𝄞 é中", Double.PositiveInfinity,
      Float.NegativeInfinity, true, null, new Timestamp(0L), new Date(0L),
      Seq(null, 1e-300, Double.MaxValue), Seq("\"", "\\", "\n"), Row(Int.MinValue, "😀"),
      null, null, "", Int.MaxValue),
    Row(5L, null, Double.NegativeInfinity, Float.PositiveInfinity, null, null, null, null,
      null, null, null, null, null, null, null))

  private def frame(partitions: Int): DataFrame =
    if (partitions == 0)
      spark.createDataFrame(java.util.Arrays.asList(hostile: _*), schema)
    else spark.createDataFrame(spark.sparkContext.parallelize(hostile, partitions), schema)

  test("to_json(struct(*)) equals toJSON byte for byte on hostile rows") {
    for (parts <- Seq(0, 3)) {
      val df = frame(parts)
      val got = ChatEngine.jsonRows(df).toSeq
      assert(got == df.toJSON.collect().toSeq, s"$parts partitions")
      assert(got.size == hostile.size)
    }
  }

  test("the projection equals toJSON under a top-k (TakeOrderedAndProject)") {
    val topK = frame(3).withColumn("sim", -col("id").cast("double"))
      .orderBy(col("sim").desc, col("id")).limit(3).drop("sim")
    assert(ChatEngine.jsonRows(topK).toSeq == topK.toJSON.collect().toSeq)
  }

  test("vectorSearch serves the toJSON join over a top-k of the stored corpus") {
    import spark.implicits._
    val store = new DocumentStore(spark, Scratch.dir(spark, "rag-json"))
    val eng = new ChatEngine(spark, store, maxSearchResults = 3)
    try {
      val docs = Seq((1L, "red \"racing\" socks \\ road"), (2L, "warm\tmountain socks"),
        (3L, "helmet 😀 aero"), (4L, "carbon road bike")).toDF("id", "text")
      eng.ingest("docs", docs, "text")
      val question = "racing socks"
      val qv = graft.embed.HashProjectionEmbedder(dims = 64).embedOne(question)
      val expected = graft.search.ExactSearcher
        .topK(store.read("docs"), "vector", "id", qv, 3)
        .drop("vector", "sim", "id").toJSON.collect().mkString(" ")
      assert(eng.vectorSearch("docs", question) == expected)
    } finally eng.close()
  }
}
