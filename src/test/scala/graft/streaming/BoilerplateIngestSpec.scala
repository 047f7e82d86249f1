package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.store.DocumentStore
import graft.store.Scratch

class BoilerplateIngestSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  private val banner = (1 to 10).map(_ => "nav").mkString(" ")

  private def mkStore() = new DocumentStore(spark,
    Scratch.dir(spark, "bpingest"))

  private def apply(store: DocumentStore, batch: org.apache.spark.sql.DataFrame): Unit =
    BoilerplateIngest.applyBatch(batch, store, "segdf", "segdocs", "clean",
      "id", "text", 10, 5L)

  test("a template crossing minDf mid-stream strips from THAT batch on; ledger honest") {
    val store = mkStore()
    // batch 0: banner df reaches 3 (< 5) -> batch 0 keeps its banners
    apply(store, (1L to 3L).map(i => (i, banner + s" body$i")).toDF("id", "text"))
    // batch 1: +3 more -> df 6 >= 5 -> batch 1 strips
    apply(store, (4L to 6L).map(i => (i, banner + s" body$i")).toDF("id", "text"))
    val m = store.read("clean").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3)))).toMap
    (1L to 3L).foreach(i => assert(m(i) == ((banner + s" body$i", 0L)), s"doc $i"))
    (4L to 6L).foreach(i => assert(m(i) == ((s"body$i", 1L)), s"doc $i"))
  }

  test("incremental df state equals the batch recompute") {
    val store = mkStore()
    val all = (1L to 20L).map(i => (i, banner + s" t${i % 4} u$i"))
    apply(store, all.take(8).toDF("id", "text"))
    apply(store, all.drop(8).toDF("id", "text"))
    val inc = store.read("segdf").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = graft.operators.Boilerplate
      .repeatedSegments(all.toDF("id", "text"), "id", "text", 10, 1L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(inc == full)
  }

  test("replaying a batch is a no-op on df and cleaning (doc ledger)") {
    val store = mkStore()
    val b0 = (1L to 6L).map(i => (i, banner + s" body$i")).toDF("id", "text")
    apply(store, b0)
    val df1 = store.read("segdf").collect().map(_.toSeq).toSet
    val clean1 = store.read("clean").orderBy("id").collect().map(_.toSeq).toSeq
    apply(store, b0) // crash replay
    assert(store.read("segdf").collect().map(_.toSeq).toSet == df1)
    assert(store.read("clean").orderBy("id").collect().map(_.toSeq).toSeq == clean1)
  }

  test("end to end through a real file-source stream") {
    val store = mkStore()
    val srcDir = new java.io.File(Scratch.dir(spark, "bpingest-src"))
    val base = System.currentTimeMillis()
    Seq((1L to 5L), (6L to 10L)).zipWithIndex.foreach { case (ids, i) =>
      val tmp = new java.io.File(Scratch.dir(spark, "bpingest-st"))
      ids.map(j => (j, banner + s" body$j")).toDF("id", "text")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      tmp.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        val dst = new java.io.File(srcDir, s"b$i.parquet")
        java.nio.file.Files.move(f.toPath, dst.toPath)
        dst.setLastModified(base + i * 1000L)
      }
    }
    val feed = spark.readStream
      .schema(Seq((1L, "x")).toDF("id", "text").schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    val qy = BoilerplateIngest.start(feed, store, "segdf", "segdocs", "clean",
      "id", "text", Scratch.dir(spark, "bpingest-ckpt"),
      segWords = 10, minDf = 5L)
    try qy.processAllAvailable() finally qy.stop()
    val m = store.read("clean").collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    // batch 0 reaches df 5 at its LAST doc -> whole batch 0 already strips
    // (cleaning runs against the post-batch state)
    assert((1L to 10L).forall(i => m(i) == 1L))
  }
}
