package graft.search

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.Tables.t
import graft.functions.VectorFunctions.cosine_sim
import graft.store.Scratch

class IvfRewriteSpec extends AnyFunSuite with SparkSuite {

  private lazy val emb = t(spark, sf, "embeddings").cache()
  private lazy val probe = emb.filter(col("vec_id") === 0).head().getSeq[Float](1).toArray

  private lazy val indexPath = {
    val idx = IvfIndex.train(emb, "embedding", "vec_id", numLists = 8, iters = 2)
    val p = Scratch.keep(Scratch.dir(spark, "ivf-rw")) // shared by the suite
    idx.write(emb, "embedding", p)
    p
  }

  /** The plain exact-search query a user writes, with no IVF knowledge. */
  private def topK(k: Int) =
    spark.read.parquet(indexPath)
      .withColumn("sim", cosine_sim(col("embedding"), typedlit(probe)))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)

  /** The session already carries the rule (GraftSession installs
    * GraftExtensions); this only switches it on. */
  private def withRule[A](nprobe: Int)(f: => A): A = {
    spark.conf.set("spark.graft.ivf.rewrite.enabled", "true")
    spark.conf.set("spark.graft.ivf.nprobe", nprobe.toString)
    try f
    finally {
      spark.conf.set("spark.graft.ivf.rewrite.enabled", "false")
      spark.conf.unset("spark.graft.ivf.nprobe")
    }
  }

  test("disabled by default: plan untouched, exact answer") {
    val got = topK(10).collect().map(_.getAs[Long]("vec_id")).toSeq
    val exact = VectorSearch.exactTopK(emb, "embedding", "vec_id", probe, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got == exact)
  }

  test("enabled: centroid filter injected, becomes partition pruning") {
    withRule(nprobe = 2) {
      val q = topK(10)
      val optimized = q.queryExecution.optimizedPlan.toString
      assert(optimized.contains("centroid_id"), s"no centroid filter:\n$optimized")
      val scan = q.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
      assert(scan.contains("PartitionFilters") && scan.contains("centroid_id"))
      // answer == the explicit IVF search with the same nprobe
      val idx = IvfIndex.readSidecar(spark, indexPath).get
      val expect = idx.search(spark.read.parquet(indexPath), "embedding", "vec_id",
        probe, 10, nprobe = 2).collect().map(_.getLong(0)).toSeq
      assert(q.collect().map(_.getAs[Long]("vec_id")).toSeq == expect)
    }
  }

  test("enabled with full probe width: ANN answer == exact answer") {
    withRule(nprobe = 8) {
      val got = topK(10).collect().map(_.getAs[Long]("vec_id")).toSeq
      val exact = VectorSearch.exactTopK(emb, "embedding", "vec_id", probe, 10)
        .collect().map(_.getLong(0)).toSeq
      assert(got == exact)
    }
  }

  test("paths without a sidecar are never rewritten") {
    withRule(nprobe = 2) {
      val plainPath = Scratch.dir(spark, "plain")
      emb.write.mode("overwrite").parquet(plainPath)
      val q = spark.read.parquet(plainPath)
        .withColumn("sim", cosine_sim(col("embedding"), typedlit(probe)))
        .orderBy(col("sim").desc, col("vec_id")).limit(10)
      assert(!q.queryExecution.optimizedPlan.toString.contains("centroid_id"))
      val exact = VectorSearch.exactTopK(emb, "embedding", "vec_id", probe, 10)
        .collect().map(_.getLong(0)).toSeq
      assert(q.collect().map(_.getAs[Long]("vec_id")).toSeq == exact)
    }
  }
}
