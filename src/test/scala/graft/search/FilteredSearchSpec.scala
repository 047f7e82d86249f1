package graft.search

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.Tables.t
import graft.store.DocumentStore
import graft.store.Scratch

/** Filtered (metadata predicate + top-k) search across every
  * [[VectorSearcher]] strategy: results must all satisfy the predicate,
  * and each index-backed strategy must agree with the filtered exact
  * scan at recall >= 0.9 — the same bar the unfiltered seam holds. */
class FilteredSearchSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private lazy val emb = t(spark, sf, "embeddings").cache()
  private lazy val probe = emb.filter($"vec_id" === 0L).head().getSeq[Float](1).toArray
  private val pred = col("label") === 2

  private lazy val searchers: Seq[(String, VectorSearcher)] = {
    val ivfIdx = IvfIndex.train(emb, "embedding", "vec_id", numLists = 8, iters = 2,
      multiAssign = 2)
    val store = new DocumentStore(spark,
      Scratch.dir(spark, "filtered"))
    val ivf = new IvfStore(store, "vecs", ivfIdx, "embedding", "vec_id")
    ivf.build(emb)
    val graphs = HnswIndex.build(emb, "embedding", "vec_id").cache()
    val cb = PqIndex.train(emb, "embedding", "vec_id", m = 16, ks = 16)
    val encoded = PqIndex.encode(cb, emb, "embedding")
      .select($"vec_id", $"pq_codes", $"norm").cache()
    val ivfpq = new IvfPq(ivfIdx, cb,
      new DocumentStore(spark, Scratch.dir(spark, "filtered-pq")),
      "ivfpq", "embedding", "vec_id")
    ivfpq.build(emb)
    Seq(
      "ivf" -> new IvfSearcher(ivf, nprobe = 6),
      "hnsw" -> new HnswSearcher(graphs),
      "quantized" -> QuantizedSearcher,
      "pq" -> new PqSearcher(cb, encoded),
      "ivfpq" -> new IvfPqSearcher(ivfpq, nprobe = 6))
  }

  test("filtered exact == brute force over the predicate's survivors") {
    val got = ExactSearcher.topKWhere(emb, "embedding", "vec_id", probe, 10, pred)
      .select($"vec_id").as[Long].collect().toSeq
    val want = VectorSearch.exactTopK(emb.filter(pred), "embedding", "vec_id", probe, 10)
      .select($"vec_id").as[Long].collect().toSeq
    assert(got == want && got.size == 10)
  }

  test("batched filtered IVF agrees with per-probe topKWhere (same index, same nprobe)") {
    val ivfIdx = IvfIndex.train(emb, "embedding", "vec_id", numLists = 8, iters = 2)
    val indexed = ivfIdx.assign(emb, "embedding").cache()
    val probes = emb.filter($"vec_id" < 5)
    val batched = ivfIdx.searchMany(indexed, "embedding", "vec_id",
        probes, "vec_id", "embedding", k = 5, nprobe = 6, pred = Some(pred))
      .select($"probe_id", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val allowed = emb.filter(pred).select($"vec_id").as[Long].collect().toSet
    for (pid <- 0L until 5L) {
      val pv = emb.filter($"vec_id" === pid).head().getSeq[Float](1).toArray
      // the batched candidate stream filters BEFORE the heap, so it must
      // agree EXACTLY with predicate-then-topK over the same pruned lists
      val want = VectorSearch.exactTopK(
        indexed.filter($"centroid_id".isin(ivfIdx.nearestLists(pv, 6): _*))
          .dropDuplicates("vec_id").filter(pred),
        "embedding", "vec_id", pv, 5)
        .select($"vec_id").as[Long].collect().toSet
      assert(batched(pid) == want, s"probe $pid")
      assert(batched(pid).forall(allowed), s"probe $pid returned excluded rows")
    }
    indexed.unpersist()
  }

  test("batched filtered HNSW agrees with the per-probe adaptive topKWhere") {
    val graphs = HnswIndex.build(emb, "embedding", "vec_id").cache()
    val probes = emb.filter($"vec_id" < 5)
    val batched = HnswIndex.searchManyWhere(graphs, probes, "vec_id", "embedding",
        k = 5, ef = 64, corpus = emb, idCol = "vec_id", pred = pred)
      .select($"probe_id", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val allowed = emb.filter(pred).select($"vec_id").as[Long].collect().toSet
    val perProbe = new HnswSearcher(graphs)
    for (pid <- 0L until 5L) {
      val pv = emb.filter($"vec_id" === pid).head().getSeq[Float](1).toArray
      val single = perProbe.topKWhere(emb, "embedding", "vec_id", pv, 5, pred)
        .select($"vec_id").as[Long].collect().toSet
      assert(batched(pid).forall(allowed), s"probe $pid returned excluded rows")
      val overlap = (batched(pid) intersect single).size / 5.0
      assert(overlap >= 0.8, s"probe $pid batched/per-probe overlap $overlap")
    }
    graphs.unpersist()
  }

  test("batched filtered HNSW terminates on an empty graph (zero-hit probes retire)") {
    // an empty segment set walks zero rows for every probe; the retire
    // logic must see those probes (walked=0 < fetch) and settle them
    // with no hits instead of widening fetch forever
    val graphs = HnswIndex.build(emb.filter($"vec_id" < 0), "embedding", "vec_id")
    val probes = emb.filter($"vec_id" < 3)
    val out = HnswIndex.searchManyWhere(graphs, probes, "vec_id", "embedding",
      k = 5, ef = 64, corpus = emb, idCol = "vec_id", pred = pred)
    assert(out.isEmpty)
  }

  test("every strategy: all hits satisfy the predicate; recall >= 0.9 vs filtered exact") {
    val exact = ExactSearcher.topKWhere(emb, "embedding", "vec_id", probe, 10, pred)
      .select($"vec_id").as[Long].collect().toSet
    val allowed = emb.filter(pred).select($"vec_id").as[Long].collect().toSet
    for ((kind, s) <- searchers) {
      val hits = s.topKWhere(emb, "embedding", "vec_id", probe, 10, pred)
        .select($"vec_id").as[Long].collect().toSeq
      assert(hits.nonEmpty && hits.forall(allowed), s"$kind returned excluded rows")
      val recall = (hits.toSet intersect exact).size / 10.0
      assert(recall >= 0.9, s"$kind filtered recall $recall")
    }
  }
}
