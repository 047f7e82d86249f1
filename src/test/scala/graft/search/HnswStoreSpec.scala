package graft.search

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.Tables.t
import graft.store.Scratch

/** The reference's add/remove lifecycle (AddRemoveData.cs:64-105 — a new
  * product searchable in near-real-time; upsert MongoDbService.cs:241-269,
  * delete :271-293) over the SEGMENTED HNSW graph index: adds append
  * generation-stamped segments, removes are generation-stamped id
  * tombstones, and the tombstone-fraction threshold triggers a compacting
  * rebuild. */
class HnswStoreSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private lazy val emb = t(spark, sf, "embeddings")

  private def vecOf(id: Long): Array[Float] =
    emb.filter($"vec_id" === id).head().getAs[scala.collection.Seq[Float]]("embedding").toArray

  private def fresh(frac: Double = 0.5) = {
    val store = new HnswStore(spark,
      Scratch.dir(spark, "hnsw-store"),
      HnswIndex.Params(m = 8, efConstruction = 48, numSegments = 4),
      maxTombstoneFrac = frac)
    store.build(emb, "embedding", "vec_id")
    store
  }

  private def hits(store: HnswStore, probe: Array[Float], k: Int): Seq[Long] =
    store.search(probe, k, ef = 96).select("vec_id").as[Long].collect().toSeq

  test("add -> immediately searchable; remove -> gone; re-add resurrects") {
    val store = fresh()
    val probe = vecOf(3L)
    val before = hits(store, probe, 10)
    assert(before.contains(3L)) // self-hit sanity

    val dup = Seq((999999L, probe.toSeq)).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    store.add(dup, "embedding", "vec_id")
    assert(hits(store, probe, 10).contains(999999L), "added vector must be searchable")

    store.remove(Seq(999999L))
    val afterRemove = hits(store, probe, 10)
    assert(!afterRemove.contains(999999L), "removed vector must be gone")
    assert(afterRemove.toSet == before.toSet, "original answer restored")

    store.add(dup, "embedding", "vec_id") // tombstone is older than the new gen
    assert(hits(store, probe, 10).contains(999999L), "re-added id must resurrect")
  }

  test("update replaces the stale copy: old vector no longer reachable") {
    val store = fresh()
    val old = vecOf(7L)
    val flipped = old.map(x => -x)
    val upd = Seq((7L, flipped.toSeq)).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    store.add(upd, "embedding", "vec_id")
    // probing with the OLD vector: the stale gen-0 copy would score ~1.0;
    // it must be masked by the tombstone even though the id stays live
    val rows = store.search(old, 10, ef = 96)
      .select("vec_id", "sim").as[(Long, Double)].collect()
    assert(!rows.exists { case (id, s) => id == 7L && s > 0.999 },
      "stale copy surfaced for the old vector")
    // probing with the NEW vector: id 7 is the exact match
    assert(hits(store, flipped, 3).contains(7L))
    // and exactly one live copy exists
    assert(store.liveVectors.filter($"vec_id" === 7L).count() == 1L)
  }

  test("recall >= 0.95 vs exact over live rows after add/remove cycles") {
    val store = fresh()
    // 5 cycles: remove 10 ids, add 10 fresh vectors (perturbed copies)
    var live = emb.select($"vec_id", $"embedding")
    for (c <- 0 until 5) {
      val victims = (c * 10L) until (c * 10L + 10L)
      store.remove(victims)
      live = live.filter(!$"vec_id".isin(victims: _*))
      val adds = victims.map { id =>
        val v = vecOf(id).zipWithIndex.map { case (x, i) =>
          if (i % 7 == c) -x else x }
        (id + 5000L, v.toSeq)
      }
      val addDf = adds.toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>"))
      store.add(addDf, "embedding", "vec_id")
      live = live.union(addDf)
    }
    val k = 20
    var recallSum = 0.0
    for (pid <- Seq(100L, 200L, 300L)) {
      val probe = vecOf(pid)
      val exact = VectorSearch.exactTopK(live, "embedding", "vec_id", probe, k)
        .select("vec_id").as[Long].collect().toSet
      val ann = hits(store, probe, k).toSet
      recallSum += ann.intersect(exact).size.toDouble / k
    }
    assert(recallSum / 3 >= 0.95, s"mean recall ${recallSum / 3} < 0.95 after cycles")
  }

  test("segment count past threshold triggers a merging rebuild (insert-only churn)") {
    val store = new HnswStore(spark,
      Scratch.dir(spark, "hnsw-segs"),
      HnswIndex.Params(m = 8, efConstruction = 48, numSegments = 4),
      maxSegments = 6)
    store.build(emb, "embedding", "vec_id")
    val base = vecOf(5L)
    // pure inserts: no tombstones, yet segments accumulate per batch
    (0 until 5).foreach { i =>
      val batch = Seq((50000L + i, base.map(_ + (i + 1) * 0.01f).toSeq, 9))
        .toDF("vec_id", "embedding", "label")
        .withColumn("embedding", col("embedding").cast("array<float>"))
      store.add(batch, "embedding", "vec_id")
    }
    assert(store.segmentCount <= 6, s"merge never fired: ${store.segmentCount} segments")
    assert(store.tombstoneCount == 0)
    // every inserted id survives the merge and stays searchable
    val got = hits(store, base, 10).toSet
    (0 until 5).foreach(i => assert(got.contains(50000L + i), s"lost id ${50000 + i}"))
  }

  test("tombstone fraction past threshold triggers a compacting rebuild") {
    val store = fresh(frac = 0.05)
    val victims = (0L until 50L).toSeq // 10% of 500 >> 5% threshold
    store.remove(victims)
    assert(store.tombstoneCount == 0L, "rebuild must truncate tombstones")
    assert(store.segmentCount == 4L, "rebuild compacts to the configured segments")
    val probe = vecOf(300L)
    val got = hits(store, probe, 10)
    assert(victims.toSet.intersect(got.toSet).isEmpty, "victims gone after rebuild")
    assert(got.contains(300L), "live self-hit survives the rebuild")
  }

  private def batch(rows: (Long, Array[Float])*) =
    rows.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))

  test("a failed add loses no id: the copies it was replacing stay live") {
    val store = fresh()
    val ids = Seq(3L, 7L)
    // the vector column fails only when the segment build reads it, after
    // the lookup of the ids the batch replaces (which reads ids alone)
    val broken = udf { (v: Seq[Float]) =>
      if (v.nonEmpty) throw new IllegalStateException("vector source failed"); v }
    val bad = emb.filter($"vec_id".isin(ids: _*))
      .select($"vec_id", broken($"embedding").as("embedding"))
    intercept[Exception](store.add(bad, "embedding", "vec_id"))
    ids.foreach(id => assert(hits(store, vecOf(id), 10).contains(id), s"id $id lost"))
    assert(store.liveVectors.filter($"vec_id".isin(ids: _*)).count() == 2L)
    assert(store.tombstoneCount == 0L)
  }

  test("a search during a rebuild sees the whole old index or the whole new one") {
    val probe = vecOf(300L)
    // ef above every segment's size makes each beam exhaustive, so an
    // answer depends only on which version a search read
    def answer(s: HnswStore) = s.search(probe, 10, ef = 512)
      .select("vec_id").as[Long].collect().toSet
    val store = fresh(frac = 0.05)
    val before = answer(store)
    // 50 of 500 ids (past the 5% trigger), five of them current hits
    val victims = (before.toSeq.filter(_ != 300L).take(5) ++ (0L until 100L))
      .distinct.take(50)
    // the tombstoned old index answers as the rebuilt one will
    val untriggered = fresh(frac = 1.0)
    untriggered.remove(victims)
    val after = answer(untriggered)
    assert(after != before && after.intersect(victims.toSet).isEmpty)

    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Set[Long]]]()
    val searcher = new Thread(() => while (!done.get()) {
      seen.add(try Right(answer(store)) catch { case e: Throwable => Left(e) })
    })
    searcher.start()
    try store.remove(victims) finally { done.set(true); searcher.join() }
    assert(store.tombstoneCount == 0L, "the removal must trigger the rebuild")
    assert(answer(store) == after)
    val results = seen.asScala.toSeq
    assert(results.nonEmpty)
    results.foreach {
      case Left(e) => fail(s"a search during the rebuild threw: $e", e)
      case Right(got) => assert(got == before || got == after, s"mixed answer $got")
    }
  }

  test("two racing adds never share a generation") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val store = fresh()
    val base = vecOf(11L)
    def near(d: Float) = base.map(_ * (1f + d)) // the probe's direction
    // both batches carry id 800000; each also carries one id of its own
    val batches = Seq(
      800001L -> batch(800000L -> near(0.01f), 800001L -> near(0.02f)),
      800002L -> batch(800000L -> near(0.03f), 800002L -> near(0.04f)))
    val gate = new java.util.concurrent.CountDownLatch(2)
    val outcomes = Await.result(Future.sequence(batches.map { case (own, df) =>
      Future {
        gate.countDown(); gate.await()
        try { store.add(df, "embedding", "vec_id"); Some(own) }
        catch { case _: java.util.ConcurrentModificationException => None }
      }
    }), 5.minutes)
    val landed = outcomes.flatten
    assert(landed.nonEmpty, "at least one add lands")
    val gens = landed.map { own =>
      val g = store.graphs.filter(array_contains($"ids", own)).select("gen").as[Long].collect()
      assert(g.length == 1, s"id $own is in ${g.length} segments")
      g.head
    }
    assert(gens.distinct.size == gens.size, s"racing adds shared a generation: $gens")
    // every landed id has exactly one live copy; a lost batch's own id none
    val got = store.search(base, 20, ef = 96).select("vec_id").as[Long].collect().toSeq
    (800000L +: landed).foreach(id => assert(got.count(_ == id) == 1, s"id $id: $got"))
    batches.map(_._1).filterNot(landed.contains).foreach(id => assert(!got.contains(id)))
  }
}
