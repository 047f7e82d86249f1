package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.store.DocumentStore
import graft.store.Scratch

/** [[CacheIngest]] — micro-batch boundary semantics: a batch's probes
  * see only the pre-batch cache (an in-batch near-duplicate pair both
  * miss), admits are visible from the NEXT trigger (the same vector
  * re-asked one batch later hits its admitted twin), and the result
  * sink carries per-batch rows. */
class CacheIngestSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)

  private def stageOne(df: org.apache.spark.sql.DataFrame,
      dir: java.io.File, modTime: Long): Unit = {
    val tmp = new java.io.File(Scratch.dir(spark, "cis-stage"))
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    tmp.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      val dst = new java.io.File(dir, f.getName)
      java.nio.file.Files.move(f.toPath, dst.toPath)
      dst.setLastModified(modTime)
    }
  }

  test("admits cross batch boundaries, never leak into their own batch") {
    val dir = new java.io.File(Scratch.dir(spark, "cis-src"))
    val base = System.currentTimeMillis()
    // batch 0: two IDENTICAL orthogonal-to-seed vectors (ids 10, 11)
    stageOne(Seq((10L, v(0, 0, 1, 0)), (11L, v(0, 0, 1, 0)))
      .toDF("vec_id", "embedding"), dir, base)
    // batch 1: the same vector again (id 20) + a fresh direction (21)
    stageOne(Seq((20L, v(0, 0, 1, 0)), (21L, v(0, 0, 0, 1)))
      .toDF("vec_id", "embedding"), dir, base + 60000L)
    val store = new DocumentStore(
      spark, Scratch.dir(spark, "cis-store"))
    store.create("cache",
      Seq((1L, v(1, 0, 0, 0))).toDF("vec_id", "embedding"))
    val outDir = Scratch.dir(spark, "cis-out")
    val src = spark.readStream
      .schema(Seq((1L, v(1.0))).toDF("vec_id", "embedding").schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val qy = CacheIngest.start(src, store, "cache", "vec_id", "embedding",
      threshold = 0.9, resultDir = outDir,
      checkpointDir = Scratch.dir(spark, "cis-ck"))
    try qy.processAllAvailable() finally qy.stop()
    val out = spark.read.parquet(outDir).collect()
      .map(r => r.getAs[Long]("probe_id") -> r).toMap
    // batch 0: 10 and 11 are identical to each other but the admit
    // lands AFTER the batch — both miss against the seed-only cache
    assert(!out(10L).getAs[Boolean]("hit"))
    assert(!out(11L).getAs[Boolean]("hit"))
    // batch 1: the re-asked vector hits its admitted twin (lower id 10)
    assert(out(20L).getAs[Boolean]("hit"))
    assert(out(20L).getAs[Long]("served_id") == 10L)
    assert(out(20L).getAs[Double]("sim") == 1.0)
    // the fresh direction still misses (nothing similar admitted)
    assert(!out(21L).getAs[Boolean]("hit"))
    // batch ids recorded per trigger
    assert(out(10L).getAs[Long]("batch") == 0L)
    assert(out(20L).getAs[Long]("batch") == 1L)
    // cache ended with seed + the three admitted misses
    assert(store.read("cache").count() == 4L)
  }
}
