package graft.search

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.Tables.t
import graft.store.Scratch

/** [[RecallTuner]]: minimality (every candidate below the chosen one
  * measured under target), target satisfaction, IVF recall monotonicity
  * in nprobe, exactness at full probe, and loud failure when the target
  * is unreachable on the grid. */
class RecallTunerSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private lazy val emb = t(spark, sf, "embeddings").cache()
  private lazy val probes = emb.filter($"vec_id" < 8)
  private val k = 5

  private lazy val truth = VectorSearch.knnJoinWindow(
    probes, "vec_id", "embedding", emb, "vec_id", "embedding", k)
    .select($"probe_id", $"vec_id")
    .cache()

  private lazy val idx = IvfIndex.train(emb, "embedding", "vec_id",
    numLists = 8, iters = 2)
  private lazy val indexed = idx.assign(emb, "embedding").cache()

  test("IVF: tuned nprobe is minimal, hits the target, and the curve is monotone") {
    val tuned = RecallTuner.tuneIvfNprobe(idx, indexed, "embedding", "vec_id",
      probes, "vec_id", "embedding", k, target = 0.9, truth)
    assert(tuned.recall >= 0.9)
    assert(tuned.curve.last._1 == tuned.param)
    // minimality: every measured candidate BELOW the chosen one fell short
    tuned.curve.init.foreach { case (p, r) =>
      assert(r < 0.9, s"nprobe=$p already reached ${r} — tuner not minimal")
    }
    // monotonicity: more probed lists never lose recall (candidate sets grow)
    val curve = (1 to 8).map { np =>
      RecallTuner.meanRecall(
        idx.searchMany(indexed, "embedding", "vec_id",
          probes, "vec_id", "embedding", k, np), truth, k)
    }
    curve.sliding(2).foreach { case Seq(a, b) => assert(b >= a, s"curve $curve") }
    // full probe = exact: recall is exactly 1.0, by construction
    assert(curve.last == 1.0)
  }

  test("HNSW: tuned ef hits the target; endpoints are weakly monotone") {
    val graphs = HnswIndex.build(emb, "embedding", "vec_id").cache()
    val grid = Seq(4, 16, 64, 128)
    val tuned = RecallTuner.tuneHnswEf(graphs, probes, "vec_id", "embedding",
      k, target = 0.9, truth, grid)
    assert(tuned.recall >= 0.9)
    tuned.curve.init.foreach { case (_, r) => assert(r < 0.9) }
    val lo = RecallTuner.meanRecall(
      HnswIndex.searchMany(graphs, probes, "vec_id", "embedding", k, grid.head),
      truth, k)
    val hi = RecallTuner.meanRecall(
      HnswIndex.searchMany(graphs, probes, "vec_id", "embedding", k, grid.last),
      truth, k)
    assert(hi >= lo, s"ef widening lost recall: $lo -> $hi")
    graphs.unpersist()
  }

  test("HNSW ef tuning works over the PERSISTED store segments (q148 shape)") {
    val store = new HnswStore(spark,
      Scratch.dir(spark, "rt-hnsw"))
    store.build(emb.filter($"vec_id" % 5 =!= 0), "embedding", "vec_id")
    store.add(emb.filter($"vec_id" % 5 === 0), "embedding", "vec_id")
    assert(store.tombstoneCount == 0L) // disjoint generations: raw segments valid
    val tuned = RecallTuner.tuneHnswEf(store.graphs, probes, "vec_id", "embedding",
      k, target = 0.9, truth, candidates = Seq(4, 16, 64, 128))
    assert(tuned.recall >= 0.9)
    tuned.curve.init.foreach { case (ef, r) =>
      assert(r < 0.9, s"ef=$ef already reached $r — tuner not minimal") }
  }

  test("an unreachable target fails loudly with the measured curve") {
    val empty = idx.searchMany(indexed, "embedding", "vec_id",
      probes, "vec_id", "embedding", k, 1).limit(0)
    val e = intercept[IllegalStateException] {
      RecallTuner.tune(Seq(1, 2), target = 0.5, k, truth, _ => empty)
    }
    assert(e.getMessage.contains("measured curve"))
  }

  test("a probe set absent from results scores 0, not dropped (no silent recall lift)") {
    // results covering only half the probes: recall averages over ALL
    // truth probes, so the mean must drop accordingly
    val full = idx.searchMany(indexed, "embedding", "vec_id",
      probes, "vec_id", "embedding", k, 8)
    val half = full.filter($"probe_id" < 4)
    val rFull = RecallTuner.meanRecall(full, truth, k)
    val rHalf = RecallTuner.meanRecall(half, truth, k)
    assert(rFull == 1.0 && math.abs(rHalf - 0.5) < 1e-9)
  }
}
