package graft.streaming

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.embed.HashProjectionEmbedder
import graft.store.DocumentStore
import graft.store.Scratch

/** Crash-recovery half of exactly-once: a query killed between applying
  * a micro-batch to the store and recording its commit marker must,
  * on restart from the same checkpoint, REPLAY that batch — and the
  * keyed sinks must converge with no duplicate or lost rows.
  *
  * The crash window is simulated authentically: after a completed run,
  * the checkpoint's `commits/0` marker is deleted while `offsets/0`
  * stays — exactly the on-disk state a crash between sink apply and
  * commit leaves behind. Spark then re-runs batch 0 with the same
  * recorded offsets through the real recovery machinery. */
class StreamingRecoverySpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val embedder = HashProjectionEmbedder(dims = 16)

  /** Remove batch 0's commit marker (and its local-FS checksum sibling,
    * which would otherwise make the re-write look like a concurrent
    * query), leaving offsets/0 intact — the crash-window disk state. */
  private def dropCommit0(ckpt: String): Unit = {
    Files.delete(Paths.get(ckpt, "commits", "0"))
    Files.deleteIfExists(Paths.get(ckpt, "commits", ".0.crc"))
  }

  test("VectorIngest: crash between apply and commit replays batch 0 idempotently") {
    val srcDir = Scratch.dir(spark, "rec-src")
    val ckpt = Scratch.dir(spark, "rec-ckpt")
    val store = new DocumentStore(spark, Scratch.dir(spark, "rec"))
    def append(rows: (Long, String)*): Unit =
      rows.toSeq.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(srcDir)
    def source = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(srcDir)
    def run(): Unit = {
      val q = VectorIngest.start(source, store, "docs", embedder,
        "doc_id", "text", ckpt)
      q.processAllAvailable(); q.stop()
    }
    append((1L, "a"), (2L, "b"))
    run()
    assert(store.read("docs").count() == 2)
    val vAfterFirst = store.version("docs")
    // the crash window: batch 0 applied, its commit marker never recorded
    dropCommit0(ckpt)
    append((2L, "b2"), (3L, "c"))
    run()
    val rows = store.read("docs").orderBy("doc_id")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    // batch 0 replayed (extra store versions), then batch 1 — and the
    // keyed upsert converged: every id exactly once, latest text wins
    assert(store.version("docs") >= vAfterFirst + 2,
      s"batch 0 was not replayed (version ${store.version("docs")} vs $vAfterFirst)")
    assert(rows == Seq((1L, "a"), (2L, "b2"), (3L, "c")))
    // replayed embed matches the stored vector contract too
    val v2 = store.read("docs").filter(col("doc_id") === 2L)
      .select("vector").head().getSeq[Float](0)
    assert(v2 == embedder.embedOne("b2").toSeq)
  }

  test("cdcApplySink: crash between apply and commit replays batch 0 idempotently") {
    val srcDir = Scratch.dir(spark, "rec2-src")
    val ckpt = Scratch.dir(spark, "rec2-ckpt")
    val store = new DocumentStore(spark, Scratch.dir(spark, "rec2"))
    def append(rows: (Long, String, String, Long)*): Unit =
      rows.toSeq.toDF("id", "payload", "op", "seq").coalesce(1)
        .write.mode("append").parquet(srcDir)
    def source = spark.readStream
      .schema("id LONG, payload STRING, op STRING, seq LONG").parquet(srcDir)
    def run(): Unit =
      EventStream.cdcApplySink(source, store, "t",
        keys = Seq("id"), opCol = "op", seqCol = "seq",
        checkpoint = ckpt).awaitTermination()
    append((1L, "a", "upsert", 1L), (2L, "b", "upsert", 2L),
      (3L, "c", "upsert", 3L), (4L, "d", "upsert", 4L))
    run()
    assert(store.read("t").count() == 4)
    dropCommit0(ckpt)
    append((2L, "", "delete", 5L), (5L, "e", "upsert", 6L))
    run()
    // replayed upserts of batch 0 must not resurrect key 2 (its delete
    // applies in batch 1, after the replay) and nothing duplicates
    val got = store.read("t").select("id", "payload")
      .as[(Long, String)].collect().sorted.toSeq
    assert(got == Seq((1L, "a"), (3L, "c"), (4L, "d"), (5L, "e")))
  }
}
