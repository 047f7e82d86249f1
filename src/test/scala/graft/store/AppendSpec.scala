package graft.store

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** The append-only commit's contract: O(batch) physical cost (no carried
  * segment is rewritten — its manifest dir survives verbatim inside the
  * grown list), snapshot reads see the union, rewriting mutations and
  * compaction collapse the segment lists, and time travel/vacuum keep
  * every referenced segment live. */
class AppendSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def freshStore() =
    new DocumentStore(spark, Scratch.dir(spark, "append"))

  test("append adds segments without rewriting carried ones") {
    val s = freshStore()
    s.create("t", Seq((1L, "a"), (2L, "b")).toDF("id", "x"),
      partitionCol = Some("id"))
    val before = s.layout("t")
    s.append("t", Seq((3L, "c"), (1L, "a2")).toDF("id", "x"))
    val after = s.layout("t")
    // partition 2 untouched: same single dir, byte-for-byte entry
    assert(after("2") == before("2"))
    // partition 1 grew a second segment and kept its original first
    assert(after("1").startsWith(before("1") + ","))
    // partition 3 is new, single segment
    assert(!after("3").contains(","))
    assert(s.read("t").orderBy("id", "x").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (1L, "a2"), (2L, "b"), (3L, "c")))
    assert(s.version("t") == 2)
  }

  test("time travel and keyed reads see the right snapshots") {
    val s = freshStore()
    s.create("t", Seq((1L, "a")).toDF("id", "x"), partitionCol = Some("id"))
    s.append("t", Seq((2L, "b")).toDF("id", "x"))
    assert(s.readVersion("t", 1).count() == 1)
    assert(s.readVersion("t", 2).count() == 2)
    assert(s.readPartitions("t", Seq("2")).as[(Long, String)]
      .collect().toSeq == Seq((2L, "b")))
  }

  test("upsert after append collapses the partition back to one segment") {
    val s = freshStore()
    s.create("t", Seq((1L, "a"), (2L, "b")).toDF("id", "x"),
      partitionCol = Some("id"))
    s.append("t", Seq((1L, "a2")).toDF("id", "x"))
    assert(s.layout("t")("1").contains(","))
    s.upsert("t", Seq((1L, "A")).toDF("id", "x"), Seq("id"))
    assert(!s.layout("t")("1").contains(","))
    assert(s.read("t").orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "A"), (2L, "b")))
  }

  test("delete reads all segments of the touched partition") {
    val s = freshStore()
    s.create("t", Seq((1L, "a"), (2L, "b")).toDF("id", "x"),
      partitionCol = Some("id"))
    s.append("t", Seq((1L, "a2"), (1L, "drop")).toDF("id", "x"))
    s.delete("t", col("x") === "drop", touchedParts = Some(Seq("1")))
    assert(s.read("t").orderBy("id", "x").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (1L, "a2"), (2L, "b")))
  }

  test("a multi-segment partition qualifies for compaction and collapses") {
    val s = freshStore()
    s.create("t", Seq((1L, "a")).toDF("id", "x"), partitionCol = Some("id"))
    s.append("t", Seq((1L, "b")).toDF("id", "x"))
    s.append("t", Seq((1L, "c")).toDF("id", "x"))
    assert(s.layout("t")("1").split(",").length == 3)
    assert(s.compact("t"))
    assert(!s.layout("t")("1").contains(","))
    assert(s.read("t").orderBy("x").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (1L, "b"), (1L, "c")))
  }

  test("vacuum keeps appended segments referenced by retained manifests") {
    val s = freshStore()
    s.create("t", Seq((1L, "a")).toDF("id", "x"), partitionCol = Some("id"))
    s.append("t", Seq((1L, "b")).toDF("id", "x"))
    s.upsert("t", Seq((2L, "c")).toDF("id", "x"), Seq("id"))
    s.vacuum("t", keepVersions = 1)
    assert(s.read("t").orderBy("id", "x").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (1L, "b"), (2L, "c")))
    // the dropped manifests are gone: time travel past the horizon fails
    intercept[IllegalStateException] { s.readVersion("t", 1).count() }
  }

  test("stats sidecars refresh over appended partitions (range reads stay exact)") {
    val s = freshStore()
    s.create("t", Seq((1L, 10L), (2L, 100L)).toDF("id", "v"),
      partitionCol = Some("id"))
    s.analyze("t", Seq("v"))
    s.append("t", Seq((1L, 50L)).toDF("id", "v"))
    assert(s.readRange("t", "v", 40L, 60L).as[(Long, Long)]
      .collect().toSeq == Seq((1L, 50L)))
    // the untouched partition's stats still prune it
    assert(s.statsPrunedParts("t", "v", 40L, 60L)._1 == Seq("1"))
  }

  test("append to a new column follows add-only schema evolution") {
    val s = freshStore()
    s.create("t", Seq((1L, "a")).toDF("id", "x"), partitionCol = Some("id"))
    s.append("t", Seq((2L, "b", 9L)).toDF("id", "x", "extra"))
    val rows = s.read("t").orderBy("id")
      .select(col("id"), col("x"), col("extra")).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(rows(0).isNullAt(2) && rows(1).getLong(2) == 9L)
  }
}
