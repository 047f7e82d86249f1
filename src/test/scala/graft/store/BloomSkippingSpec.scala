package graft.store

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Bloom-sidecar point-lookup skipping: per-partition sketches built by
  * [[DocumentStore.analyzeBloom]], pruned reads via
  * [[DocumentStore.readByKeys]] — the high-cardinality companion to the
  * min/max stats sidecar (a scattered key's [min,max] spans every
  * partition; its Bloom does not). */
class BloomSkippingSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def freshStore() =
    new DocumentStore(spark, Scratch.dir(spark, "bloom"))

  // 400 rows in 8 partitions; id is high-cardinality and UNcorrelated
  // with the partition key (id mod 8 scrambled by a multiplier)
  private def fixture(s: DocumentStore): Unit = {
    val df = (0L until 400L).map(i => (i, (i * 131) % 8, s"doc$i"))
      .toDF("id", "bucket", "body")
    s.create("t", df, partitionCol = Some("bucket"))
    s.analyzeBloom("t", "id", expectedItemsPerPartition = 1000)
  }

  test("readByKeys returns exactly the matching rows") {
    val s = freshStore(); fixture(s)
    val got = s.readByKeys("t", "id", Seq(5L, 77L, 311L))
      .select("id", "body").as[(Long, String)].collect().toSet
    assert(got == Set((5L, "doc5"), (77L, "doc77"), (311L, "doc311")))
  }

  test("bloom pruning skips partitions that cannot hold the keys") {
    val s = freshStore(); fixture(s)
    // one key lives in exactly one partition: pruning must not keep all 8
    val (kept, total) = s.bloomPrunedParts("t", "id", Seq(5L))
    assert(total == 8)
    assert(kept.size < total, s"no pruning: kept=$kept")
    // the true home partition (5*131 % 8) must survive — no false negative
    assert(kept.contains(((5L * 131) % 8).toString))
  }

  test("string key columns prune and match") {
    val s = freshStore()
    val df = (0L until 100L).map(i => (s"k$i", i % 4, i)).toDF("key", "bucket", "v")
    s.create("t", df, partitionCol = Some("bucket"))
    s.analyzeBloom("t", "key")
    val got = s.readByKeys("t", "key", Seq("k7", "k42"))
      .select("key", "v").as[(String, Long)].collect().toSet
    assert(got == Set(("k7", 7L), ("k42", 42L)))
    val (kept, total) = s.bloomPrunedParts("t", "key", Seq("k7"))
    assert(kept.size < total)
  }

  test("no sidecar: falls back to full partition set, still correct") {
    val s = freshStore()
    s.create("t", Seq((1L, "a"), (2L, "b")).toDF("id", "x"))
    val (kept, total) = s.bloomPrunedParts("t", "id", Seq(1L))
    assert(kept.size == total)
    assert(s.readByKeys("t", "id", Seq(1L)).select("x").as[String].collect().toSeq
      == Seq("a"))
  }

  test("missing keys yield empty result even when every partition is pruned") {
    val s = freshStore(); fixture(s)
    val got = s.readByKeys("t", "id", Seq(100000L))
    assert(got.count() == 0)
    assert(got.columns.contains("body")) // schema survives the empty path
  }

  test("sidecar is carried and refreshed across an upsert epoch") {
    val s = freshStore(); fixture(s)
    // new row 9999 lands in partition (9999*131)%8; pre-upsert the sketch
    // cannot contain it anywhere
    val (before, _) = s.bloomPrunedParts("t", "id", Seq(9999L))
    s.upsert("t",
      Seq((9999L, (9999L * 131) % 8, "new")).toDF("id", "bucket", "body"), Seq("id"))
    val (after, total) = s.bloomPrunedParts("t", "id", Seq(9999L))
    assert(after.contains(((9999L * 131) % 8).toString),
      s"refreshed sketch lost the new key: $after")
    assert(after.size < total, "refresh degraded to no pruning")
    // untouched keys still found after the epoch (carried lines intact)
    assert(s.readByKeys("t", "id", Seq(5L)).count() == 1)
    // and pre-upsert pruning evidence was version-consistent
    assert(before.size <= total)
  }

  test("vacuum drops old-version bloom sidecars, keeps the current one") {
    val s = freshStore(); fixture(s)
    s.upsert("t", Seq((1L, 131L % 8, "upd")).toDF("id", "bucket", "body"), Seq("id"))
    s.vacuum("t", keepVersions = 1)
    val (kept, total) = s.bloomPrunedParts("t", "id", Seq(5L))
    assert(kept.size < total, "current-version sidecar must survive vacuum")
  }
}
