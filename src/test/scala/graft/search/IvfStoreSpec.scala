package graft.search

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.Tables.t
import graft.store.DocumentStore
import graft.store.Scratch

/** The reference's add/remove lifecycle (AddRemoveData.cs:64-105,
  * README.md:182-194) over the IVF-partitioned versioned store: a new
  * vector is searchable immediately after its (atomic) commit, and gone
  * immediately after remove — with only touched centroid partitions
  * rewritten. */
class IvfStoreSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def freshIvf() = {
    val emb = t(spark, sf, "embeddings")
    val idx = IvfIndex.train(emb, "embedding", "vec_id", numLists = 4, iters = 2)
    val store = new DocumentStore(spark, Scratch.dir(spark, "ivf"))
    val ivf = new IvfStore(store, "vecs", idx, "embedding", "vec_id")
    ivf.build(emb)
    (ivf, store, emb)
  }

  test("add: new vector searchable immediately; only its partition rewritten") {
    val (ivf, store, emb) = freshIvf()
    val v0 = store.version("vecs")
    val probe = emb.filter($"vec_id" === 0L).head().getSeq[Float](1).toArray
    val before = ivf.search(probe, 10, nprobe = 4).select("vec_id").as[Long].collect()
    assert(before.contains(0L)) // self-hit: sanity

    // a near-duplicate of the probe must rank at the top after add
    val dup = Seq((999999L, probe.toSeq, 42)).toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    ivf.add(dup)
    assert(store.version("vecs") == v0 + 1) // one atomic commit
    val after = ivf.search(probe, 10, nprobe = 4)
      .select("vec_id").as[Long].collect()
    assert(after.contains(999999L))

    ivf.remove(Seq(999999L))
    val removed = ivf.search(probe, 10, nprobe = 4)
      .select("vec_id").as[Long].collect()
    assert(!removed.contains(999999L))
    assert(removed.toSet == before.toSet) // back to the original answer
  }

  test("search reads only probed centroid partitions (manifest pruning)") {
    val (ivf, store, emb) = freshIvf()
    val probe = emb.filter($"vec_id" === 1L).head().getSeq[Float](1).toArray
    val one = ivf.search(probe, 10, nprobe = 1)
    // nprobe=1 scan must touch at most 1/4 of a 4-list corpus (soft
    // bound: lists are uneven on near-uniform data)
    val scanned = one.queryExecution.analyzed.collectLeaves()
    assert(one.count() == 10)
    val total = emb.count()
    val prunedRows = store.readPartitions("vecs",
      ivf.index.nearestLists(probe, 1).map(_.toString)).count()
    assert(prunedRows < total, s"pruned $prunedRows of $total")
    assert(scanned.nonEmpty)
  }

  test("compaction after incremental churn: fewer files, identical search") {
    val (ivf, store, emb) = freshIvf()
    val probe = emb.filter($"vec_id" === 1L).head().getSeq[Float](1).toArray
    // churn: many small add batches fragment the touched partitions
    (0 until 6).foreach { i =>
      val batch = Seq((100000L + i, probe.map(_ + i * 0.01f).toSeq, 7))
        .toDF("vec_id", "embedding", "label")
        .withColumn("embedding", col("embedding").cast("array<float>"))
      ivf.add(batch)
    }
    val before = ivf.search(probe, 10, nprobe = 4)
      .select("vec_id").as[Long].collect().toSeq
    val filesBefore = store.fileStats("vecs").map(_._2).sum
    // the index table is a normal store table: OPTIMIZE applies directly
    assert(store.compact("vecs"))
    val filesAfter = store.fileStats("vecs").map(_._2).sum
    assert(filesAfter < filesBefore, s"$filesBefore -> $filesAfter")
    val after = ivf.search(probe, 10, nprobe = 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(after == before) // serve answer unchanged by layout
  }

  test("retrain-rebuild recovers assignment quality after distribution drift") {
    val (ivf, _, emb) = freshIvf()
    val dims = emb.head().getSeq[Float](1).length
    val q0 = ivf.assignmentQuality
    assert(q0 > 0.0 && q0 <= 1.0)
    // drift: a TIGHT new cluster (basis direction e7 + jitter) the
    // frozen centroids never trained on — the stale index scatters it
    // across whatever list is least-far, the retrained one gives it a
    // centroid of its own
    val batch = (0 until 150).map { i =>
      val v = Array.fill(dims)(0f)
      v(7) = 1f; v(i % dims) += 0.01f
      (70000L + i, v.toSeq, 3)
    }.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    ivf.add(batch)
    val qDrift = ivf.assignmentQuality
    info(s"quality: built $q0 -> drifted $qDrift")
    // retrain on the current corpus: the planted cluster earns a
    // centroid, so mean assignment similarity must rise clearly
    val fresh = ivf.rebuilt(iters = 3)
    val qNew = fresh.assignmentQuality
    assert(qNew > qDrift + 0.05, s"rebuild did not recover: $qDrift -> $qNew")
    // the fresh index still serves (old wrapper valid until dropped)
    val probe = emb.filter($"vec_id" === 0L).head().getSeq[Float](1).toArray
    val hits = fresh.search(probe, 10, nprobe = 4).select("vec_id").as[Long].collect()
    assert(hits.length == 10 && hits.contains(0L))
  }

  test("remove on a missing or empty table is a no-op") {
    val emb = t(spark, sf, "embeddings")
    val idx = IvfIndex.train(emb, "embedding", "vec_id", numLists = 2, iters = 1)
    val store = new DocumentStore(spark, Scratch.dir(spark, "ivf-empty"))
    val ivf = new IvfStore(store, "nope", idx, "embedding", "vec_id")
    ivf.remove(Seq(1L, 2L)) // must not throw on the absent table
    assert(!store.exists("nope"))
  }

  test("upsert moving a vector across centroids leaves no stale copy") {
    val (ivf, store, emb) = freshIvf()
    // re-embed vec 5 as the opposite of its current vector: guaranteed
    // different nearest centroid (cosine flips sign)
    val cur = emb.filter($"vec_id" === 5L).head().getSeq[Float](1).toArray
    val flipped = cur.map(x => -x)
    val upd = Seq((5L, flipped.toSeq, 7)).toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    ivf.add(upd)
    val copies = store.read("vecs").filter($"vec_id" === 5L).count()
    assert(copies == 1L)
  }
}
