package graft.store

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

class DocumentStoreSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def freshStore() =
    new DocumentStore(spark, Scratch.dir(spark, "store"))

  test("create + read round trip") {
    val s = freshStore()
    s.create("t", Seq((1L, "a"), (2L, "b")).toDF("id", "x"))
    assert(s.read("t").orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("upsert replaces matching keys and inserts new ones (S5)") {
    val s = freshStore()
    s.create("t", Seq((1L, "a"), (2L, "b")).toDF("id", "x"))
    s.upsert("t", Seq((2L, "B2"), (3L, "c")).toDF("id", "x"), Seq("id"))
    assert(s.read("t").orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "B2"), (3L, "c")))
    assert(s.version("t") == 2)
  }

  test("upsert is idempotent") {
    val s = freshStore()
    s.create("t", Seq((1L, "a")).toDF("id", "x"))
    s.upsert("t", Seq((1L, "A")).toDF("id", "x"), Seq("id"))
    s.upsert("t", Seq((1L, "A")).toDF("id", "x"), Seq("id"))
    assert(s.read("t").as[(Long, String)].collect().toSeq == Seq((1L, "A")))
  }

  test("compound keys (categoryId,id) semantics of the reference upsert") {
    val s = freshStore()
    s.create("t", Seq(("c1", "p1", 1.0), ("c1", "p2", 2.0)).toDF("categoryId", "id", "price"))
    // same id under a DIFFERENT category: inserts, does not replace
    s.upsert("t", Seq(("c2", "p1", 9.0)).toDF("categoryId", "id", "price"),
      Seq("categoryId", "id"))
    assert(s.read("t").count() == 3)
    s.upsert("t", Seq(("c1", "p1", 5.0)).toDF("categoryId", "id", "price"),
      Seq("categoryId", "id"))
    val p = s.read("t").filter($"categoryId" === "c1" && $"id" === "p1")
      .select("price").as[Double].collect()
    assert(p.toSeq == Seq(5.0))
  }

  test("delete point + bulk (S6/S7)") {
    val s = freshStore()
    s.create("t", Seq((1L, "s1"), (2L, "s1"), (3L, "s2")).toDF("id", "sess"))
    s.delete("t", col("id") === 1L)
    assert(s.read("t").count() == 2)
    s.delete("t", col("sess") === "s1") // cascade-style bulk
    assert(s.read("t").as[(Long, String)].collect().toSeq == Seq((3L, "s2")))
  }

  test("keyed delete: compound keys, anti-join semantics (CDC delete shape)") {
    val s = freshStore()
    s.create("t", Seq(("Message", 1L, 10L, "a"), ("Message", 1L, 11L, "b"),
      ("Message", 2L, 10L, "c"), ("Session", 1L, 10L, "d"))
      .toDF("typ", "session_id", "id", "payload"))
    // the reference's own mutation key shape: (Type, SessionId, Id)
    s.delete("t",
      Seq(("Message", 1L, 10L), ("Session", 1L, 10L)).toDF("typ", "session_id", "id"),
      Seq("typ", "session_id", "id"))
    assert(s.read("t").orderBy("id", "session_id").as[(String, Long, Long, String)]
      .collect().toSeq ==
      Seq(("Message", 2L, 10L, "c"), ("Message", 1L, 11L, "b")))
    // keys with no match: version still advances only when partitions touched
    val v = s.version("t")
    s.delete("t", Seq(("Nope", 9L, 9L)).toDF("typ", "session_id", "id"),
      Seq("typ", "session_id", "id"))
    assert(s.read("t").count() == 2)
    assert(s.version("t") >= v) // unpartitioned table: single partition rewritten
  }

  test("keyed delete prunes to the key's partitions when partition col is in the key") {
    val s = freshStore()
    s.create("t", Seq((1L, "pa", "x"), (2L, "pb", "y"), (3L, "pc", "z"))
      .toDF("id", "part", "v"), partitionCol = Some("part"))
    val m1 = s.snapshot("t", 1).parts
    s.delete("t", Seq((2L, "pb")).toDF("id", "part"), Seq("part", "id"))
    val m2 = s.snapshot("t", 2).parts
    // untouched partitions carried by manifest reference, not rewritten
    assert(m2("pa") == m1("pa") && m2("pc") == m1("pc"))
    assert(m2.get("pb") != m1.get("pb"))
    assert(s.read("t").select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("keyed delete: null key values never match (SQL equi-join semantics)") {
    val s = freshStore()
    s.create("t", Seq((Some(1L), "a"), (None, "b")).toDF("id", "x"))
    s.delete("t", Seq[Option[Long]](None, Some(1L)).toDF("id"), Seq("id"))
    // the null-keyed row survives: null = null is not TRUE
    assert(s.read("t").select("x").as[String].collect().toSeq == Seq("b"))
  }

  test("delete keeps rows where the predicate evaluates to NULL (SQL semantics)") {
    val s = freshStore()
    s.create("t", Seq((1L, Some(50.0)), (2L, Some(200.0)), (3L, None))
      .toDF("id", "price"))
    s.delete("t", col("price") > 100.0)
    // row 3 (NULL price): predicate is NULL, not TRUE — must survive
    assert(s.read("t").select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("partition pruning: upsert rewrites only touched partitions") {
    val s = freshStore()
    s.create("t", Seq((1L, "pa", "x"), (2L, "pb", "y")).toDF("id", "part", "v"),
      partitionCol = Some("part"))
    s.upsert("t", Seq((2L, "pb", "Y2")).toDF("id", "part", "v"), Seq("id"))
    // version advanced, and the pa segment from v1 is still referenced
    assert(s.version("t") == 2)
    assert(s.read("t").orderBy("id").as[(Long, String, String)].collect().toSeq ==
      Seq((1L, "pa", "x"), (2L, "pb", "Y2")))
  }

  test("upsert that moves a row across partitions removes the stale copy") {
    val s = freshStore()
    s.create("t", Seq((1L, "pa", "x"), (2L, "pb", "y")).toDF("id", "part", "v"),
      partitionCol = Some("part"))
    // key does NOT include the partition column; row 1 migrates pa -> pc
    s.upsert("t", Seq((1L, "pc", "X9")).toDF("id", "part", "v"), Seq("id"))
    val rows = s.read("t").orderBy("id").as[(Long, String, String)].collect().toSeq
    assert(rows == Seq((1L, "pc", "X9"), (2L, "pb", "y")))
  }

  test("time travel: readVersion serves each retained snapshot exactly") {
    val s = freshStore()
    s.create("t", Seq((1L, "a"), (2L, "b")).toDF("id", "x"))          // v1
    s.upsert("t", Seq((2L, "B2"), (3L, "c")).toDF("id", "x"), Seq("id")) // v2
    s.delete("t", col("id") === 1L)                                   // v3
    assert(s.versions("t") == Seq(1, 2, 3))
    assert(s.readVersion("t", 1).orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
    assert(s.readVersion("t", 2).orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "B2"), (3L, "c")))
    assert(s.readVersion("t", 3).orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((2L, "B2"), (3L, "c")))
    intercept[IllegalArgumentException](s.readVersion("t", 4))
    // past the vacuum horizon: reclaimed versions fail loudly
    s.vacuum("t", keepVersions = 1)
    assert(s.versions("t") == Seq(3))
    intercept[IllegalStateException](s.readVersion("t", 1))
    assert(s.readVersion("t", 3).count() == 2) // current snapshot intact
  }

  test("vacuum reclaims unreferenced segments, keeps current snapshot intact") {
    val root = Scratch.dir(spark, "store")
    val s = new DocumentStore(spark, root)
    s.create("t", Seq((1L, "pa", "a"), (2L, "pb", "b")).toDF("id", "part", "v"),
      partitionCol = Some("part"))
    s.upsert("t", Seq((1L, "pa", "A2")).toDF("id", "part", "v"), Seq("id"))
    s.upsert("t", Seq((1L, "pa", "A3")).toDF("id", "part", "v"), Seq("id"))
    def segDirs() = {
      import scala.jdk.CollectionConverters._
      Files.walk(java.nio.file.Paths.get(root, "t", "data")).iterator().asScala
        .count(_.getFileName.toString.startsWith("__part="))
    }
    val before = segDirs()
    s.vacuum("t", keepVersions = 1)
    val after = segDirs()
    assert(after < before, s"vacuum freed nothing ($before -> $after)")
    // current snapshot unchanged: pa's latest + pb's original (shared
    // across manifests, so it must have survived the GC)
    assert(s.read("t").orderBy("id").as[(Long, String, String)].collect().toSeq ==
      Seq((1L, "pa", "A3"), (2L, "pb", "b")))
    // old manifests gone, current still readable by version
    assert(s.version("t") == 3)
    // idempotent
    s.vacuum("t", keepVersions = 1)
    assert(s.read("t").count() == 2)
  }

  test("vacuum sweeps crash garbage: segment dirs with no manifest") {
    val root = Scratch.dir(spark, "store")
    val s = new DocumentStore(spark, root)
    s.create("t", Seq((1L, "a"), (2L, "b")).toDF("id", "x"))
    // simulate a mutation that died between writeSegments and commit:
    // a data/v99 dir exists but no manifest references it
    val orphan = java.nio.file.Paths.get(root, "t", "data", "v99")
    Seq((9L, "junk")).toDF("id", "x").withColumn("__part", lit("all"))
      .write.partitionBy("__part").parquet(orphan.toString)
    assert(java.nio.file.Files.exists(orphan))
    s.vacuum("t", keepVersions = 1)
    assert(!java.nio.file.Files.exists(orphan), "orphan segment dir not collected")
    // table intact
    assert(s.read("t").orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("a committed version with a missing manifest fails loudly, not as empty") {
    val root = Scratch.dir(spark, "store")
    val s = new DocumentStore(spark, root)
    s.create("t", Seq((1L, "a")).toDF("id", "x"))
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(root, "t", "_versions", "v1.manifest"))
    val e = intercept[IllegalStateException] { s.read("t").count() }
    assert(e.getMessage.contains("corrupted"))
  }

  test("full lifecycle against an explicit file:///-scheme Hadoop path") {
    // The store must run on cluster storage (HDFS/S3) — all metadata IO
    // goes through the Hadoop FS API, exercised here via a qualified URI
    // root rather than a bare local path.
    val root = "file://" + Scratch.dir(spark, "store-hfs")
    val s = new DocumentStore(spark, root)
    s.create("t", Seq((1L, "pa", "x"), (2L, "pb", "y")).toDF("id", "part", "v"),
      partitionCol = Some("part"))
    assert(s.exists("t"))
    s.upsert("t", Seq((1L, "pa", "X2"), (3L, "pc", "z")).toDF("id", "part", "v"),
      Seq("id", "part"))
    s.delete("t", col("id") === 2L, touchedParts = Some(Seq("pb")))
    assert(s.read("t").orderBy("id").as[(Long, String, String)].collect().toSeq ==
      Seq((1L, "pa", "X2"), (3L, "pc", "z")))
    assert(s.readPartitions("t", Seq("pc")).as[(Long, String, String)]
      .collect().toSeq == Seq((3L, "pc", "z")))
    s.vacuum("t", keepVersions = 1)
    assert(s.read("t").count() == 2)
    assert(s.version("t") == 3)
  }

  test("snapshot isolation: reader sees old version until commit") {
    val s = freshStore()
    s.create("t", Seq((1L, "a")).toDF("id", "x"))
    val before = s.read("t").collect()
    s.upsert("t", Seq((1L, "B")).toDF("id", "x"), Seq("id"))
    // the pre-commit collected snapshot is unchanged; a fresh read sees v2
    assert(before.map(_.getString(1)).toSeq == Seq("a"))
    assert(s.read("t").collect().map(_.getString(1)).toSeq == Seq("B"))
  }

  test("repartitionBy changes the physical layout, rows survive, pruning follows the new column") {
    val s = freshStore()
    val df = (1L to 60L).map(i => (i, s"p${i % 3}", s"q${i % 4}")).toDF("id", "pa", "pb")
    s.create("t", df, partitionCol = Some("pa"))
    assert(s.fileStats("t").map(_._1).toSet == Set("p0", "p1", "p2"))
    s.repartitionBy("t", Some("pb"))
    assert(s.fileStats("t").map(_._1).toSet == Set("q0", "q1", "q2", "q3"))
    assert(s.read("t").orderBy("id").as[(Long, String, String)].collect().toSeq ==
      df.orderBy("id").as[(Long, String, String)].collect().toSeq)
    // pruned read on the NEW column serves exactly its rows
    val q1 = s.readPartitions("t", Seq("q1")).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(q1 == (1L to 60L).filter(_ % 4 == 1).toSet)
  }

  test("time travel serves the pre-change snapshot under its own layout") {
    val s = freshStore()
    val df = (1L to 30L).map(i => (i, s"p${i % 2}", s"q${i % 3}")).toDF("id", "pa", "pb")
    s.create("t", df, partitionCol = Some("pa"))
    s.repartitionBy("t", Some("pb"))
    val v1 = s.readVersion("t", 1).orderBy("id").as[(Long, String, String)].collect().toSeq
    assert(v1 == df.orderBy("id").as[(Long, String, String)].collect().toSeq)
  }

  test("mutations after a layout change inherit the new partition column") {
    val s = freshStore()
    val df = (1L to 40L).map(i => (i, s"p${i % 2}", s"q${i % 4}")).toDF("id", "pa", "pb")
    s.create("t", df, partitionCol = Some("pa"))
    s.repartitionBy("t", Some("pb"))
    val before = s.snapshot("t", 2).parts // new-layout manifest (private[store])
    s.upsert("t", Seq((2L, "p0", "q2")).toDF("id", "pa", "pb"), keys = Seq("id"))
    val after = s.snapshot("t", 3).parts
    // only the touched NEW-column partition (q2) was rewritten
    assert(after.keySet == before.keySet)
    assert(after.filter { case (k, d) => before(k) != d }.keySet == Set("q2"))
    assert(s.read("t").filter(col("id") === 2L).select("pb").head().getString(0) == "q2")
  }

  test("repartitionBy to unpartitioned and back") {
    val s = freshStore()
    val df = (1L to 20L).map(i => (i, s"p${i % 2}")).toDF("id", "pa")
    s.create("t", df, partitionCol = Some("pa"))
    s.repartitionBy("t", None)
    assert(s.fileStats("t").map(_._1).toSet == Set("all"))
    s.repartitionBy("t", Some("pa"))
    assert(s.fileStats("t").map(_._1).toSet == Set("p0", "p1"))
    assert(s.read("t").count() == 20L)
  }
}
