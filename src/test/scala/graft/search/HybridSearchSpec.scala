package graft.search

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.store.Scratch

class HybridSearchSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("rrf fuses two lists: shared docs sum both contributions") {
    val a = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("id", "rnk")
    val b = Seq((20L, 1), (10L, 2), (40L, 3)).toDF("id", "rnk")
    val out = HybridSearch.rrf(Seq(a, b), "id", "rnk", k = 60)
      .as[(Long, Double, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(10L) == (1.0 / 61 + 1.0 / 62, 2L))
    assert(out(20L) == (1.0 / 62 + 1.0 / 61, 2L))
    assert(out(30L) == (1.0 / 63, 1L)) // only in list a
    assert(out(40L) == (1.0 / 63, 1L)) // only in list b
  }

  test("rrf ordering: agreement across lists beats a single first place") {
    val a = Seq((1L, 1), (2L, 2)).toDF("id", "rnk")
    val b = Seq((2L, 1), (3L, 2)).toDF("id", "rnk")
    val top = HybridSearch.rrf(Seq(a, b), "id", "rnk")
      .orderBy($"rrf_score".desc, $"id").as[(Long, Double, Long)].head()
    assert(top._1 == 2L) // ranked in both lists
  }

  test("rrf single list is a monotone transform of rank") {
    val a = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("id", "rnk")
    val out = HybridSearch.rrf(Seq(a), "id", "rnk")
      .orderBy($"rrf_score".desc).as[(Long, Double, Long)].collect().map(_._1).toSeq
    assert(out == Seq(1L, 2L, 3L))
  }

  test("hybrid fusion agrees across vector-leg strategies (exact|ivf|hnsw|quantized|pq|ivfpq)") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    import graft.Tables.t
    import graft.operators.KeywordRank
    import graft.store.DocumentStore

    val emb = t(spark, sf, "embeddings")
      .select($"vec_id".as("doc_id"), $"embedding").cache()
    val docs = t(spark, sf, "documents")
    val probe = emb.filter($"doc_id" === 0L).head().getSeq[Float](1).toArray
    val kwRank = KeywordRank.bm25Direct(docs, "doc_id", "text", Seq("vector", "join", "spark"))
      .orderBy($"score".desc, $"doc_id").limit(50)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id" * lit(0)).orderBy($"score".desc, $"doc_id")))
      .select($"doc_id", $"rnk").cache()

    val ivfIdx = IvfIndex.train(emb, "embedding", "doc_id", numLists = 8, iters = 2, multiAssign = 2)
    val store = new DocumentStore(spark, Scratch.dir(spark, "hybrid"))
    val ivf = new IvfStore(store, "vecs", ivfIdx, "embedding", "doc_id")
    ivf.build(emb)
    val graphs = HnswIndex.build(emb, "embedding", "doc_id").cache()
    val cb = PqIndex.train(emb, "embedding", "doc_id", m = 16, ks = 16)
    val encoded = PqIndex.encode(cb, emb, "embedding")
      .select($"doc_id", $"pq_codes", $"norm").cache()
    val ivfpq = new IvfPq(ivfIdx, cb,
      new DocumentStore(spark, Scratch.dir(spark, "hybrid-ivfpq")),
      "ivfpq", "embedding", "doc_id")
    ivfpq.build(emb)

    def fusedTop10(s: VectorSearcher): Set[Long] = {
      val vecRank = HybridSearch.vectorLeg(s, emb, "embedding", "doc_id", probe, 50)
      HybridSearch.rrf(Seq(kwRank, vecRank), "doc_id", "rnk")
        .orderBy($"rrf_score".desc, $"doc_id").limit(10)
        .select("doc_id").as[Long].collect().toSet
    }
    val exact = fusedTop10(ExactSearcher)
    for ((kind, s) <- Seq("ivf" -> new IvfSearcher(ivf, nprobe = 4),
                          "hnsw" -> new HnswSearcher(graphs),
                          "quantized" -> QuantizedSearcher,
                          "pq" -> new PqSearcher(cb, encoded),
                          "ivfpq" -> new IvfPqSearcher(ivfpq, nprobe = 6))) {
      val fused = fusedTop10(s)
      val hits = (fused intersect exact).size
      assert(hits >= math.floor(0.9 * 10).toInt, s"$kind fused agreement: $hits/10")
    }
    kwRank.unpersist(); graphs.unpersist(); encoded.unpersist(); emb.unpersist()
  }
}
