package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import graft.SparkSuite
import graft.embed.HashProjectionEmbedder
import graft.store.DocumentStore
import graft.store.Scratch

/** Streaming vectorize-on-write: documents arriving on a stream land in
  * the store embedded; re-delivery of a key upserts (no duplicates);
  * in-batch duplicates collapse to the highest version. */
class VectorIngestSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val embedder = HashProjectionEmbedder(dims = 16)

  test("two micro-batches: insert, then update + insert — store converges") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val store = new DocumentStore(spark, Scratch.dir(spark, "vi"))
    val q = VectorIngest.start(in.toDF().toDF("doc_id", "text"), store, "docs",
      embedder, "doc_id", "text",
      Scratch.dir(spark, "vi-ckpt"))
    try {
      in.addData((1L, "first doc"), (2L, "second doc"))
      q.processAllAvailable()
      assert(store.read("docs").count() == 2)

      in.addData((2L, "second doc revised"), (3L, "third doc"))
      q.processAllAvailable()
      val rows = store.read("docs").orderBy("doc_id")
        .select("doc_id", "text", "vector").collect()
      assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
      assert(rows(1).getString(1) == "second doc revised")
      // the stored vector is the embedding of the REVISED text
      val want = embedder.embedOne("second doc revised").toSeq
      assert(rows(1).getSeq[Float](2) == want)
    } finally q.stop()
  }

  test("in-batch duplicates: highest version wins under versionCol") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String, Long)]
    val store = new DocumentStore(spark, Scratch.dir(spark, "vi2"))
    val q = VectorIngest.start(in.toDF().toDF("doc_id", "text", "ver"), store, "docs",
      embedder, "doc_id", "text",
      Scratch.dir(spark, "vi2-ckpt"),
      versionCol = Some("ver"))
    try {
      in.addData((1L, "stale", 1L), (1L, "fresh", 2L), (2L, "only", 1L))
      q.processAllAvailable()
      val rows = store.read("docs").orderBy("doc_id").select("doc_id", "text").collect()
      assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((1L, "fresh"), (2L, "only")))
    } finally q.stop()
  }

  test("compactEvery folds OPTIMIZE into the stream: files bounded, rows intact") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val store = new DocumentStore(spark, Scratch.dir(spark, "vi4"))
    val q = VectorIngest.start(in.toDF().toDF("doc_id", "text"), store, "docs",
      embedder, "doc_id", "text",
      Scratch.dir(spark, "vi4-ckpt"),
      compactEvery = 3)
    try {
      // 6 micro-batches of small upserts -> two compaction points
      (0 until 6).foreach { b =>
        in.addData((100L + b, s"doc $b"), (200L + b, s"other $b"))
        q.processAllAvailable()
      }
      assert(store.read("docs").count() == 12)
      // batch ids 2 and 5 compacted; the unpartitioned table is one
      // partition, so its file count is back at the ideal single file
      val files = store.fileStats("docs").map(_._2).sum
      assert(files == 1, s"expected compacted layout, got $files files")
    } finally q.stop()
  }

  test("replaying the same payload converges (idempotent keyed sink)") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val store = new DocumentStore(spark, Scratch.dir(spark, "vi3"))
    val q = VectorIngest.start(in.toDF().toDF("doc_id", "text"), store, "docs",
      embedder, "doc_id", "text",
      Scratch.dir(spark, "vi3-ckpt"))
    try {
      in.addData((7L, "payload"))
      q.processAllAvailable()
      in.addData((7L, "payload")) // same state re-delivered in a later batch
      q.processAllAvailable()
      val docs = store.read("docs")
      assert(docs.count() == 1)
      assert(docs.filter(col("doc_id") === 7L).count() == 1)
    } finally q.stop()
  }
}
