package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.store.Scratch

/** Raw ORC interchange assertions backing the q184 gate: the gated
  * projection hashes the payload (length + polynomial key) because raw
  * embedded newlines/backslashes defeat external row-serialization
  * comparators — but the round trip itself must be BYTE-verbatim, and
  * that is asserted here, where equality is in-JVM string equality with
  * no serialization boundary in between. */
class OrcRoundTripSpec extends AnyFunSuite with SparkSuite {

  private def roundTrip(df: org.apache.spark.sql.DataFrame) = {
    val dir = Scratch.dir(spark, "orc") + "/out"
    df.write.mode("overwrite").orc(dir)
    spark.read.orc(dir)
  }

  test("adversarial payloads survive ORC verbatim: newline, quote, comma, trailing backslash") {
    import spark.implicits._
    val nasty = Seq(
      (1L, "plain"),
      (2L, "comma,inside"),
      (3L, "quote\"inside"),
      (4L, "new\nline"),
      (5L, "crlf\r\nline"),
      (6L, "back\\slash and trailing\\"),
      (7L, "name,\"\nBUILDING\\"),  // the q184 payload shape (pre-witness)
      (8L, "emoji" + new String(Character.toChars(0x1F600))) // supplementary plane
    ).toDF("id", "s")
    val got = roundTrip(nasty).orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    val want = nasty.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == want.toSeq)
  }

  test("NULL and empty string stay distinct through ORC") {
    import spark.implicits._
    val df = Seq((1L, Some("x")), (2L, None), (3L, Some(""))).toDF("id", "s")
    val got = roundTrip(df).orderBy("id").collect()
    assert(got(0).getString(1) == "x")
    assert(got(1).isNullAt(1))
    assert(got(2).getString(1) == "")
  }

  test("decimal(12,2) and timestamp round trip exactly") {
    import spark.implicits._
    val df = Seq((1L, "3.14", java.sql.Timestamp.valueOf("2024-02-29 23:59:59")))
      .toDF("id", "d", "ts")
      .select(col("id"), col("d").cast("decimal(12,2)").as("d"), col("ts"))
    val got = roundTrip(df).collect()(0)
    assert(got.getDecimal(1) == new java.math.BigDecimal("3.14"))
    assert(got.getTimestamp(2) == java.sql.Timestamp.valueOf("2024-02-29 23:59:59"))
  }

  test("gate witnesses agree with the raw payload: length + stringKey are lossless enough") {
    import spark.implicits._
    // The q184 gate projects (len, key) instead of the payload; this
    // pins the witness pair to the raw column so a round-trip corruption
    // the gate could see is exactly a corruption these witnesses see.
    val df = Seq((1L, Some("name,\"\nBUILDING\\")), (2L, None), (3L, Some("")))
      .toDF("id", "s")
    val back = roundTrip(df)
      .select(col("id"), length(col("s")).cast("long").as("len"),
        graft.operators.Splits.stringKey(col("s")).as("key"))
      .orderBy("id").collect()
    assert(back(0).getLong(1) == 16L && !back(0).isNullAt(2))
    assert(back(1).isNullAt(1) && back(1).isNullAt(2))       // NULL -> NULL witnesses
    assert(back(2).getLong(1) == 0L && back(2).getLong(2) == 0L) // '' -> (0, 0)
  }
}
