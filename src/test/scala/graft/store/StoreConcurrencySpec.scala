package graft.store

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Optimistic-concurrency contract of [[DocumentStore.commit]]: of two
  * committers that read the same base version, exactly one owns the next
  * epoch; the loser fails LOUDLY (ConcurrentModificationException) and
  * leaves no orphan segments behind that [[DocumentStore.vacuum]] cannot
  * reclaim. The reference's TX1 is a real transaction
  * (MongoDbService.cs:563-592); this is its CAS analog on immutable
  * files. */
class StoreConcurrencySpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def freshStore(): (DocumentStore, String) = {
    val dir = Files.createTempDirectory("graft-cas").toString
    (new DocumentStore(spark, dir), dir)
  }

  private def dataDirs(root: String, table: String): Seq[String] = {
    val d = new java.io.File(s"$root/$table/data")
    if (!d.exists) Seq.empty else d.listFiles.filter(_.isDirectory).map(_.getName).toSeq
  }

  test("a stale committer loses the CAS, fails loudly, and cleans its segments") {
    val (s, root) = freshStore()
    s.create("t", Seq((1L, "a"), (2L, "b")).toDF("id", "x"))
    // writer B reads base = 1 and prepares its segments...
    val base = s.snapshot("t")
    val written = s.writeSegments("t",
      Seq((3L, "stale")).toDF("id", "x"), base.version + 1, None)
    // ...but writer A commits epoch 2 first
    s.upsert("t", Seq((2L, "B2"), (3L, "fresh")).toDF("id", "x"), Seq("id"))
    assert(s.version("t") == 2)
    // B's commit must fail loudly, not silently drop A's epoch
    intercept[java.util.ConcurrentModificationException] {
      s.commit("t", base, base.copy(version = base.version + 1, parts = base.parts ++ written))
    }
    // A's mutation survives untouched; B's rows never appear
    assert(s.read("t").orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "B2"), (3L, "fresh")))
    // B's orphan segment dirs were deleted by the failed commit itself
    val live = s.snapshot("t", 1).parts.values.toSet ++ s.snapshot("t", 2).parts.values.toSet
    written.values.foreach(dir => assert(!new java.io.File(new java.net.URI(dir)).exists
      || live.contains(dir), s"orphan segment survived: $dir"))
  }

  test("two genuinely concurrent upserts: one wins or both serialize; no lost rows") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val (s, _) = freshStore()
    s.create("t", (1L to 20L).map(i => (i, "v0")).toDF("id", "x"))
    val gate = new java.util.concurrent.CountDownLatch(2)
    def writer(tag: String, ids: Seq[Long]): Future[Option[Throwable]] = Future {
      gate.countDown(); gate.await()
      try { s.upsert("t", ids.map(i => (i, tag)).toDF("id", "x"), Seq("id")); None }
      catch { case e: java.util.ConcurrentModificationException => Some(e) }
    }
    val outcomes = Await.result(
      Future.sequence(Seq(writer("A", Seq(1L, 2L)), writer("B", Seq(3L, 4L)))), 5.minutes)
    val failures = outcomes.flatten
    // at least one writer commits; a loser fails loudly, never silently
    assert(failures.size <= 1)
    val rows = s.read("t").as[(Long, String)].collect().toMap
    assert(rows.size == 20) // no rows lost or duplicated either way
    val aApplied = rows(1L) == "A"; val bApplied = rows(3L) == "B"
    // applied mutations = successful upserts, atomically (both keys or none)
    assert(aApplied == (rows(2L) == "A") && bApplied == (rows(4L) == "B"))
    assert((if (aApplied) 1 else 0) + (if (bApplied) 1 else 0) == 2 - failures.size)
  }

  test("crash debris blocks the epoch loudly; vacuum clears it, never commit") {
    val (s, root) = freshStore()
    s.create("t", Seq((1L, "a")).toDF("id", "x"))
    // simulate a committer that died between claim and swap: the claim
    // dir and a manifest exist, but _CURRENT still says 1
    val claim = new java.io.File(s"$root/t/_versions/v2.claim")
    assert(claim.mkdirs())
    java.nio.file.Files.writeString(new java.io.File(claim, "owner").toPath, "dead")
    java.nio.file.Files.writeString(
      new java.io.File(s"$root/t/_versions/v2.manifest").toPath,
      "all\tfile:/nonexistent/dir")
    assert(s.version("t") == 1)
    // commit must NOT guess "debris" and clear it (a live committer's
    // claim looks identical) — it fails loudly instead
    intercept[java.util.ConcurrentModificationException] {
      s.upsert("t", Seq((2L, "b")).toDF("id", "x"), Seq("id"))
    }
    assert(s.version("t") == 1)
    // vacuum (no writers in flight by contract) clears the debris...
    s.vacuum("t", keepVersions = 1)
    assert(!claim.exists)
    // ...and the epoch commits normally afterwards
    s.upsert("t", Seq((2L, "b")).toDF("id", "x"), Seq("id"))
    assert(s.version("t") == 2)
    assert(s.read("t").orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("vacuum reclaims a loser's orphans even if its cleanup never ran") {
    val (s, root) = freshStore()
    s.create("t", Seq((1L, "a")).toDF("id", "x"))
    // segments written by an attempt that never committed (crash before
    // claim — cleanup code never ran)
    s.writeSegments("t", Seq((9L, "ghost")).toDF("id", "x"), 2, None)
    assert(dataDirs(root, "t").size == 2)
    s.vacuum("t", keepVersions = 1)
    // only the committed version's dir survives, table intact
    assert(dataDirs(root, "t").size == 1)
    assert(s.read("t").as[(Long, String)].collect().toSeq == Seq((1L, "a")))
  }

  test("stats survive a commit: readRange prunes immediately after an upsert") {
    val (s, _) = freshStore()
    // score clusters by partition: g0 ∈ [4,100], g1 ∈ ~[1001,1097], ...
    val df = (1L to 100L).map(i => (i, s"g${i % 4}", (i % 4) * 1000 + i))
      .toDF("id", "grp", "score")
    s.create("t", df, partitionCol = Some("grp"))
    s.analyze("t", Seq("score"))
    val (kept0, total0) = s.statsPrunedParts("t", "score", 10, 40)
    assert(kept0.size < total0) // stats exist and prune
    // a mutation epoch: stats must refresh inside the commit, not decay
    s.upsert("t", Seq((101L, "g0", 5000L)).toDF("id", "grp", "score"), Seq("id", "grp"))
    val (kept, total) = s.statsPrunedParts("t", "score", 4000, 6000)
    assert(kept == Seq("g0"), s"expected refreshed stats to isolate g0, got $kept/$total")
    assert(s.readRange("t", "score", 4000, 6000).count() == 1)
    // untouched partitions carried their stats; low range still prunes
    val (keptLow, _) = s.statsPrunedParts("t", "score", 10, 40)
    assert(keptLow.size < total)
  }
}
