package graft.store

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

class ChangeFeedSpec extends AnyFunSuite with SparkSuite {

  private def newStore = new DocumentStore(
    spark, Scratch.dir(spark, "cf"))

  test("classifies insert/update/delete and silences identical restatements") {
    import spark.implicits._
    val store = newStore
    store.create("t", Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("id", "name", "v"))                                     // v1
    store.delete("t", col("id") === 3)                              // v2
    store.upsert("t",
      Seq((1L, "a2", 10),   // update
          (2L, "b", 20),    // identical restatement -> must emit nothing
          (4L, "d", 40))    // insert
        .toDF("id", "name", "v"), Seq("id"))                        // v3
    val feed = store.changeFeed("t", 1, 3, Seq("id"))
      .collect().map(r => r.getLong(0) -> (r.getString(3), r.getString(1))).toMap
    assert(feed.keySet == Set(1L, 3L, 4L))
    assert(feed(1L) == ("update", "a2"))
    assert(feed(3L)._1 == "delete")
    assert(feed(4L) == ("insert", "d"))
  }

  test("delete rows carry null after-images") {
    import spark.implicits._
    val store = newStore
    store.create("t", Seq((1L, "a")).toDF("id", "name"))
    store.delete("t", col("id") === 1)
    val row = store.changeFeed("t", 1, 2, Seq("id")).collect().head
    assert(row.getString(row.fieldIndex("change")) == "delete")
    assert(row.isNullAt(row.fieldIndex("name")))
  }

  test("a column added between versions classifies backfilled rows as updates") {
    import spark.implicits._
    val store = newStore
    store.create("t", Seq((1L, "a"), (2L, "b")).toDF("id", "name"))  // v1
    // schema-evolving upsert: row 1 gains a new column value; row 2 untouched
    store.upsert("t", Seq((1L, "a", 7)).toDF("id", "name", "extra"), Seq("id")) // v2
    val feed = store.changeFeed("t", 1, 2, Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getString(r.fieldIndex("change"))).toMap
    // row 1: extra null -> 7 = update (consumer must reprocess);
    // row 2: extra null on both sides = unchanged
    assert(feed == Map(1L -> "update"))
  }

  test("adjacent-version feeds compose to the end-to-end feed's net effect") {
    import spark.implicits._
    val store = newStore
    store.create("t", Seq((1L, 1), (2L, 2)).toDF("id", "v"))  // v1
    store.upsert("t", Seq((1L, 5)).toDF("id", "v"), Seq("id")) // v2
    store.delete("t", col("id") === 1)                         // v3
    val net = store.changeFeed("t", 1, 3, Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getString(r.fieldIndex("change"))).toMap
    assert(net == Map(1L -> "delete")) // update then delete nets to delete
    val hops = store.changeFeed("t", 1, 2, Seq("id")).count() +
      store.changeFeed("t", 2, 3, Seq("id")).count()
    assert(hops == 2) // the per-epoch consumer sees both steps
  }
}
