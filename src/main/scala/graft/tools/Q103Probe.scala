package graft.tools

import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.search.{IvfIndex, IvfPq, PqIndex, VectorSearch}
import graft.store.DocumentStore

/** Throwaway stage-timing probe for q103 (not part of the surface). */
object Q103Probe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("32", "q103-probe")
    val d = "/root/testdata/sf0.1"
    def time[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe] $tag: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val e = spark.read.parquet(s"$d/embeddings.parquet").cache()
    println("[probe] n=" + e.count() + " parts=" + e.rdd.getNumPartitions)
    val dims = e.head().getSeq[Float](1).length
    println("[probe] dims=" + dims)
    for (round <- 1 to 2) {
      val cb = time(s"r$round pq train")(
        PqIndex.train(e, "embedding", "vec_id", m = dims / 4, ks = 16, iters = 5))
      val ivf = time(s"r$round ivf train")(
        IvfIndex.train(e, "embedding", "vec_id", numLists = 16, iters = 3, multiAssign = 4))
      val store = new DocumentStore(spark,
        graft.store.Scratch.dir(spark, "q103-probe"))
      val idx = new IvfPq(ivf, cb, store, "ivfpq", "embedding", "vec_id")
      time(s"r$round build")(idx.build(e))
      val probe = e.filter(col("vec_id") === 0L).head().getSeq[Float](1).toArray
      val ann = time(s"r$round search")(
        idx.search(e, probe, 10, nprobe = 4, shortlist = 100).collect())
      println("[probe] ann rows: " + ann.length)
      time(s"r$round exact topk")(
        VectorSearch.exactTopK(e, "embedding", "vec_id", probe, 10).collect())
    }
    spark.stop()
  }
}
