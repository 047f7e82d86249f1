package graft.search

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.Tables.t
import graft.store.Scratch

class KnnSpec extends AnyFunSuite with SparkSuite {

  private lazy val emb = t(spark, sf, "embeddings").cache()
  private lazy val probe = emb.filter(col("vec_id") === 0).head().getSeq[Float](1).toArray

  test("exactTopK: self is rank 1, k rows, descending sims") {
    val hits = VectorSearch.exactTopK(emb, "embedding", "vec_id", probe, 10).collect()
    assert(hits.length == 10)
    assert(hits.head.getLong(0) == 0L) // probe row itself
    val sims = hits.map(_.getAs[Double]("sim"))
    assert(sims.sameElements(sims.sortBy(-_)))
  }

  test("top-k is a prefix of top-(k+5)") {
    val k10 = VectorSearch.exactTopK(emb, "embedding", "vec_id", probe, 10)
      .collect().map(_.getLong(0)).toSeq
    val k15 = VectorSearch.exactTopK(emb, "embedding", "vec_id", probe, 15)
      .collect().map(_.getLong(0)).toSeq
    assert(k15.take(10) == k10)
  }

  test("knnJoinAgg matches knnJoinWindow exactly") {
    val probes = emb.filter(col("vec_id") < 8)
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(col("probe_id"), col("vec_id").cast("long"), col("rn"), round(col("sim"), 9))
      .orderBy(col("probe_id"), col("rn"))
      .collect().toSeq
    val w = norm(VectorSearch.knnJoinWindow(probes, "vec_id", "embedding", emb, "vec_id", "embedding", 5))
    val a = norm(VectorSearch.knnJoinAgg(probes, "vec_id", "embedding", emb, "vec_id", "embedding", 5))
    assert(w == a)
  }

  test("IVF (multi-assign) recall@10 >= 0.95 vs brute force (reference target)") {
    // TESTDATA embeddings are near-uniform on the sphere: hard IVF recall
    // ≈ scan fraction, so the index uses soft assignment (storage ×4)
    val idx = IvfIndex.train(emb, "embedding", "vec_id",
      numLists = 16, iters = 3, multiAssign = 4)
    val indexed = idx.assign(emb, "embedding").cache()
    val probes = emb.filter(col("vec_id") < 20).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val recalls = probes.map { case (_, p) =>
      val exact = VectorSearch.exactTopK(emb, "embedding", "vec_id", p, 10)
        .collect().map(_.getLong(0)).toSet
      val ann = idx.search(indexed, "embedding", "vec_id", p, 10, nprobe = 4)
        .collect().map(_.getLong(0)).toSet
      (exact intersect ann).size / 10.0
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.95, s"mean recall $mean")
  }

  test("searchMany at nprobe=numLists equals the exact multi-probe join") {
    val idx = IvfIndex.train(emb, "embedding", "vec_id", numLists = 4, iters = 2)
    val indexed = idx.assign(emb, "embedding")
    val probes = emb.filter(col("vec_id") < 8)
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(col("probe_id"), col("vec_id").cast("long"), col("rn"), round(col("sim"), 9))
      .orderBy(col("probe_id"), col("rn"))
      .collect().toSeq
    val exact = norm(VectorSearch.knnJoinWindow(
      probes, "vec_id", "embedding", emb, "vec_id", "embedding", 5))
    val full = norm(idx.searchMany(indexed, "embedding", "vec_id",
      probes, "vec_id", "embedding", k = 5, nprobe = 4))
    assert(full == exact) // all lists probed => no approximation
  }

  test("searchMany (multi-assign) batched recall@10 >= 0.95 vs brute force") {
    val idx = IvfIndex.train(emb, "embedding", "vec_id",
      numLists = 16, iters = 3, multiAssign = 4)
    val indexed = idx.assign(emb, "embedding").cache()
    val probes = emb.filter(col("vec_id") < 20)
    val ann = idx.searchMany(indexed, "embedding", "vec_id",
        probes, "vec_id", "embedding", k = 10, nprobe = 4)
      .select("probe_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = probes.collect().map { r =>
      val (pid, p) = (r.getLong(0), r.getSeq[Float](1).toArray)
      val exact = VectorSearch.exactTopK(emb, "embedding", "vec_id", p, 10)
        .collect().map(_.getLong(0)).toSet
      (exact intersect ann.getOrElse(pid, Set.empty)).size / 10.0
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.95, s"mean recall $mean")
    indexed.unpersist()
  }

  test("IVF written index: plan-time partition pruning on centroid_id dirs") {
    val idx = IvfIndex.train(emb, "embedding", "vec_id",
      numLists = 8, iters = 2, multiAssign = 2)
    val path = Scratch.dir(spark, "ivf")
    idx.write(emb, "embedding", path)
    val indexed = idx.read(spark, path)
    val hits = idx.search(indexed, "embedding", "vec_id", probe, 10, nprobe = 2)
    assert(hits.count() == 10)
    // the physical scan must carry the centroid_id partition filter, so
    // unprobed list directories are never opened
    val scan = hits.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scan.contains("PartitionFilters") && scan.contains("centroid_id"),
      s"no partition filter in scan:\n$scan")
    // and ANN answer == exact answer restricted to the probed lists
    val lists = idx.nearestLists(probe, 2)
    val pruned = indexed.filter(col("centroid_id").isin(lists: _*)).dropDuplicates("vec_id")
    val expect = VectorSearch.exactTopK(pruned, "embedding", "vec_id", probe, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(hits.collect().map(_.getLong(0)).toSeq == expect)
  }

  test("IVF partition pruning: searched rows < index rows") {
    val idx = IvfIndex.train(emb, "embedding", "vec_id",
      numLists = 16, iters = 3, multiAssign = 4)
    val indexed = idx.assign(emb, "embedding").cache()
    val lists = idx.nearestLists(probe, 4)
    val scanned = indexed.filter(col("centroid_id").isin(lists: _*)).count()
    assert(scanned < indexed.count())
  }
}
