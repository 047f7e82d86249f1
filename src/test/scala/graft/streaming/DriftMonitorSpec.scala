package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.store.DocumentStore
import graft.store.Scratch

class DriftMonitorSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  test("planted drift alerts exactly its batch; clean batches stay quiet") {
    val store = new DocumentStore(spark,
      Scratch.dir(spark, "driftmon"))
    val ref = (1 to 160).map(i => i % 40 + 10).toDF("v") // uniform on 40 values
    // batch 0 is distribution-identical (each value exactly twice);
    // batch 1 is shifted onto a disjoint range
    DriftMonitor.applyBatch((1 to 80).map(i => i % 40 + 10).toDF("v"), 0L,
      store, "drift", ref, "v", 1L, 4L)
    DriftMonitor.applyBatch((1 to 80).map(i => i % 40 + 500).toDF("v"), 1L,
      store, "drift", ref, "v", 1L, 4L)
    val m = store.read("drift").collect()
      .map(r => r.getAs[Long]("batch_id") ->
        (r.getAs[Long]("ks_num"), r.getAs[Double]("ks"), r.getAs[Boolean]("alert")))
      .toMap
    assert(m(0L)._2 == 0.0 && !m(0L)._3, s"identical-shape batch alerted: ${m(0L)}")
    assert(m(1L)._2 == 1.0 && m(1L)._3, s"disjoint batch must alert: ${m(1L)}")
  }

  test("alert boundary is integer-exact: ks exactly at threshold alerts") {
    val store = new DocumentStore(spark,
      Scratch.dir(spark, "driftmon2"))
    // batch [1,2,3,4], ref [1,2,3,4] shifted so sup gap = exactly 1/4:
    // ref = [2,3,4,5] -> EDFs differ by 1/4 at v=1 (and v=4)
    DriftMonitor.applyBatch(Seq(1, 2, 3, 4).toDF("v"), 0L,
      store, "drift", Seq(2, 3, 4, 5).toDF("v"), "v", 1L, 4L)
    val r = store.read("drift").collect().head
    assert(r.getAs[Long]("ks_num") == 4L) // 1 * 4
    assert(r.getAs[Boolean]("alert"), "ks == thr must alert (>= rule)")
  }

  test("replaying a batch is idempotent (keyed upsert)") {
    val store = new DocumentStore(spark,
      Scratch.dir(spark, "driftmon3"))
    val ref = (1 to 50).map(_ % 7).toDF("v")
    val batch = (1 to 30).map(_ % 5).toDF("v")
    DriftMonitor.applyBatch(batch, 0L, store, "drift", ref, "v", 1L, 4L)
    val first = store.read("drift").orderBy("batch_id").collect().toSeq
    DriftMonitor.applyBatch(batch, 0L, store, "drift", ref, "v", 1L, 4L)
    val second = store.read("drift").orderBy("batch_id").collect().toSeq
    assert(first == second && first.size == 1)
  }

  test("end to end through a real file-source stream") {
    val store = new DocumentStore(spark,
      Scratch.dir(spark, "driftmon4"))
    val srcDir = new java.io.File(Scratch.dir(spark, "driftmon4-src"))
    val ref = (1 to 100).map(i => i % 20).toDF("v")
    val base = System.currentTimeMillis()
    Seq(0, 900).zipWithIndex.foreach { case (shift, i) =>
      val tmp = new java.io.File(Scratch.dir(spark, "driftmon4-st"))
      (1 to 60).map(j => j % 20 + shift).toDF("v").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      tmp.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        val dst = new java.io.File(srcDir, s"b$i.parquet")
        java.nio.file.Files.move(f.toPath, dst.toPath)
        dst.setLastModified(base + i * 1000L)
      }
    }
    val feed = spark.readStream.schema(ref.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    val qy = DriftMonitor.start(feed, store, "drift", ref, "v",
      Scratch.dir(spark, "driftmon4-ckpt"), 1L, 4L)
    try qy.processAllAvailable() finally qy.stop()
    val m = store.read("drift").collect()
      .map(r => r.getAs[Long]("batch_id") -> r.getAs[Boolean]("alert")).toMap
    assert(m == Map(0L -> false, 1L -> true))
  }
}
