package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.store.DocumentStore
import graft.store.Scratch

class SeasonalMonitorSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  private def ts(day: Int, h: Int, m: Int = 30) =
    Timestamp.valueOf(f"2024-02-$day%02d $h%02d:$m%02d:00")

  // baseline: position h carries sn = 2 hours × total 100.00 each
  private def baseline = (0 to 23)
    .map(h => (h, BigDecimal("200.00"), 2L)).toDF("pos", "sn", "sc")

  test("a doubled hour alerts at ratio 1/1; an on-baseline hour stays quiet") {
    val store = new DocumentStore(spark,
      Scratch.dir(spark, "seasmon"))
    val batch = Seq(
      (ts(1, 0), 50.0), (ts(1, 0, 40), 50.0),             // hour 0: v=100 = baseline
      (ts(1, 1), 150.0), (ts(1, 1, 40), 150.0))           // hour 1: v=300 = 3x
    SeasonalMonitor.applyBatch(batch.toDF("ts", "value"), 0L, store, "t",
      baseline, "ts", "value", 1L, 1L)
    val m = store.read("t").collect()
      .map(r => r.getAs[Int]("pos") -> r.getAs[Boolean]("alert")).toMap
    assert(!m(0) && m(1))
  }

  test("the boundary is exact: deviation exactly equal to the baseline alerts") {
    val store = new DocumentStore(spark,
      Scratch.dir(spark, "seasmon2"))
    // baseline mean = 100; v = 200 -> |dev| = 100 = 1x baseline -> >= rule alerts
    SeasonalMonitor.applyBatch(Seq((ts(2, 5), 200.0)).toDF("ts", "value"),
      0L, store, "t", baseline, "ts", "value", 1L, 1L)
    assert(store.read("t").head().getAs[Boolean]("alert"))
    // and v = 199.99 (just inside) does not
    SeasonalMonitor.applyBatch(Seq((ts(3, 5), 199.99)).toDF("ts", "value"),
      1L, store, "t", baseline, "ts", "value", 1L, 1L)
    val rows = store.read("t").collect()
      .map(r => r.getAs[Long]("batch_id") -> r.getAs[Boolean]("alert")).toMap
    assert(rows(0L) && !rows(1L))
  }

  test("replaying a batch is idempotent (keyed upsert on batch_id + hour)") {
    val store = new DocumentStore(spark,
      Scratch.dir(spark, "seasmon3"))
    val batch = Seq((ts(1, 0), 80.0), (ts(1, 1), 310.0)).toDF("ts", "value")
    SeasonalMonitor.applyBatch(batch, 0L, store, "t", baseline, "ts", "value", 1L, 1L)
    val first = store.read("t").orderBy("hour").collect().toSeq
    SeasonalMonitor.applyBatch(batch, 0L, store, "t", baseline, "ts", "value", 1L, 1L)
    assert(store.read("t").orderBy("hour").collect().toSeq == first)
  }

  test("empty or malformed baselines fail loudly at start()") {
    val store = new DocumentStore(spark,
      Scratch.dir(spark, "seasmon4"))
    val srcDir = Scratch.dir(spark, "seasmon4-src")
    val feed = spark.readStream
      .schema(Seq((ts(1, 0), 1.0)).toDF("ts", "value").schema).parquet(srcDir)
    def tryStart(b: org.apache.spark.sql.DataFrame) = intercept[IllegalArgumentException] {
      SeasonalMonitor.start(feed, store, "t", b, "ts", "value",
        Scratch.dir(spark, "seasmon4-ckpt"), 1L, 1L)
    }
    tryStart(Seq.empty[(Int, BigDecimal, Long)].toDF("pos", "sn", "sc"))
    tryStart(Seq((1, BigDecimal(1), 2L), (1, BigDecimal(2), 2L)).toDF("pos", "sn", "sc"))
    tryStart(Seq((1, BigDecimal(1), 0L)).toDF("pos", "sn", "sc"))
  }

  test("end to end through a real file-source stream") {
    val store = new DocumentStore(spark,
      Scratch.dir(spark, "seasmon5"))
    val srcDir = new java.io.File(Scratch.dir(spark, "seasmon5-src"))
    val base = System.currentTimeMillis()
    Seq(Seq((ts(1, 0), 100.0)), Seq((ts(2, 0), 900.0))).zipWithIndex.foreach {
      case (rows, i) =>
        val tmp = new java.io.File(Scratch.dir(spark, "seasmon5-st"))
        rows.toDF("ts", "value").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        tmp.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
          val dst = new java.io.File(srcDir, s"b$i.parquet")
          java.nio.file.Files.move(f.toPath, dst.toPath)
          dst.setLastModified(base + i * 1000L)
        }
    }
    val feed = spark.readStream
      .schema(Seq((ts(1, 0), 1.0)).toDF("ts", "value").schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    val qy = SeasonalMonitor.start(feed, store, "t", baseline, "ts", "value",
      Scratch.dir(spark, "seasmon5-ckpt"), 1L, 1L)
    try qy.processAllAvailable() finally qy.stop()
    val m = store.read("t").collect()
      .map(r => r.getAs[Long]("batch_id") -> r.getAs[Boolean]("alert")).toMap
    assert(!m(0L) && m(1L))
  }
}
