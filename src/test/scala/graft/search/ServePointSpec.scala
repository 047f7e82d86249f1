package graft.search

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.store.Scratch

class ServePointSpec extends AnyFunSuite with SparkSuite {

  test("scaledTo grows the shortlist linearly (ceil) and never shrinks") {
    val sp = ServePoint(4, 100, 10, 0.9, 0.92, 2000L)
    assert(sp.scaledTo(20000L).shortlist == 1000)
    assert(sp.scaledTo(20000L).nprobe == 4)      // scale-free knob carries over
    assert(sp.scaledTo(2001L).shortlist == 101)  // ceil, not floor
    assert(sp.scaledTo(500L) == sp)              // never shrinks
    // overflow-safe: a absurd corpus clamps instead of wrapping
    assert(ServePoint(1, Int.MaxValue, 10, 0.9, 0.9, 1L)
      .scaledTo(Long.MaxValue / 4).shortlist == Int.MaxValue)
  }

  test("heuristicShortlist: 4k and 100 floors, N/16 growth") {
    assert(ServePoint.heuristicShortlist(100L, 10) == 100)   // floor
    assert(ServePoint.heuristicShortlist(100L, 50) == 200)   // 4k floor
    assert(ServePoint.heuristicShortlist(20000L, 10) == 1250) // N/16
    assert(ServePoint.heuristicShortlist(20001L, 10) == 1251) // ceil
  }

  test("sidecar round-trips through any hadoop path") {
    val dir = Scratch.dir(spark, "servepoint")
    val sp = ServePoint(2, 320, 10, 0.9, 0.9375, 20000L)
    ServePoint.write(spark, dir, sp)
    assert(ServePoint.read(spark, dir).contains(sp))
    assert(ServePoint.read(spark, dir + "/nope").isEmpty)
  }

  test("tuneServe measures, persists, and a default searcher serves it; " +
       "flat-PQ heuristic default also clears the recall target") {
    val e = graft.Tables.t(spark, sf, "embeddings").cache()
    val dims = e.head().getSeq[Float](1).length
    val cb = PqIndex.train(e, "embedding", "vec_id", m = dims / 4, ks = 16, iters = 5)
    val ivf = IvfIndex.train(e, "embedding", "vec_id", numLists = 16, iters = 3,
      multiAssign = 4)
    val store = new graft.store.DocumentStore(spark,
      Scratch.dir(spark, "sp-ivfpq"))
    val idx = new IvfPq(ivf, cb, store, "ivfpq", "embedding", "vec_id")
    idx.build(e)

    assert(idx.servePoint.isEmpty) // untuned index has no sidecar
    val sp = idx.tuneServe(e, k = 10, target = 0.9)
    assert(sp.recall >= 0.9 && sp.corpusN == e.count())
    assert(idx.servePoint.contains(sp)) // persisted beside the coded table

    // a DEFAULT-config searcher reads the sidecar and clears the target
    // on a fresh probe (vec 7 is not in the tuning sample necessarily —
    // the point is measured mean recall transfers, spot-checked here)
    val probe = e.filter(col("vec_id") === 7L).head().getSeq[Float](1).toArray
    val exact = VectorSearch.exactTopK(e, "embedding", "vec_id", probe, 10)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val got = new IvfPqSearcher(idx).topK(e, "embedding", "vec_id", probe, 10)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(got.nonEmpty)
    assert(exact.intersect(got).size >= 9, s"ivfpq default recall too low: " +
      s"${exact.intersect(got).size}/10")

    // flat-PQ heuristic default (no sidecar, corpus-size rule)
    val encoded = PqIndex.encode(cb, e, "embedding")
      .select(col("vec_id"), col("pq_codes"), col("norm"))
    val gotPq = new PqSearcher(cb, encoded).topK(e, "embedding", "vec_id", probe, 10)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(exact.intersect(gotPq).size >= 9, s"pq heuristic recall too low: " +
      s"${exact.intersect(gotPq).size}/10")
    e.unpersist()
  }

  test("HNSW tuneServe persists ef and a parameterless fromPath searcher " +
       "serves it; explicit ef still wins; untuned falls back to 64") {
    val e = graft.Tables.t(spark, sf, "embeddings").cache()
    val root = Scratch.dir(spark, "sp-hnsw")
    val params = HnswIndex.Params(m = 8, efConstruction = 32, numSegments = 4)
    HnswIndex.write(HnswIndex.build(e, "embedding", "vec_id", params),
      root, params)
    assert(HnswIndex.readServePoint(spark, root).isEmpty)
    // untuned fromPath still serves (the 64 fallback)
    val probe = e.filter(col("vec_id") === 7L).head().getSeq[Float](1).toArray
    assert(HnswSearcher.fromPath(spark, root)
      .topK(e, "embedding", "vec_id", probe, 10).count() == 10)
    val sp = HnswIndex.tuneServe(spark, root, e, "embedding", "vec_id",
      k = 10, target = 0.9)
    assert(sp.recall >= 0.9 && sp.nprobe == sp.shortlist) // ef in both fields
    assert(HnswIndex.readServePoint(spark, root).contains(sp))
    // the sidecar does not break the parquet read of the graph dir
    assert(HnswIndex.read(spark, root).count() > 0)
    val exact = VectorSearch.exactTopK(e, "embedding", "vec_id", probe, 10)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val got = HnswSearcher.fromPath(spark, root)
      .topK(e, "embedding", "vec_id", probe, 10)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(exact.intersect(got).size >= 9,
      s"tuned hnsw recall ${exact.intersect(got).size}/10 at ef=${sp.nprobe}")
    // explicit ef overrides the sidecar (tiny ef → possibly fewer hits,
    // but the construction must USE it — assert via the resolved walk
    // returning exactly k rows still, with ef floored by the walk)
    assert(new HnswSearcher(HnswIndex.read(spark, root), ef = 16)
      .topK(e, "embedding", "vec_id", probe, 10).count() == 10)
    e.unpersist()
  }
}
