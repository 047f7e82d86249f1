package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.store.DocumentStore
import graft.store.Scratch

/** Streaming near-dup admission: decision rule, cross-batch dependence,
  * corpus-weighted in-batch scoring, and replay idempotence. */
class AdmissionIngestSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  private def freshStore() =
    new DocumentStore(spark, Scratch.dir(spark, "adm"))

  private def apply1(store: DocumentStore, rows: (Long, String)*): Unit =
    AdmissionIngest.applyBatch(rows.toDF("doc_id", "text"), store,
      "corpus", "quarantine", "doc_id", "text", threshold = 0.8, maxDf = None)

  private def ids(store: DocumentStore, table: String): Set[Long] =
    if (!store.exists(table)) Set.empty
    else {
      val df = store.read(table) // fully-emptied table reads column-less
      if (df.columns.isEmpty) Set.empty
      else df.select("doc_id").collect().map(_.getLong(0)).toSet
    }

  test("near-copies quarantine with evidence; fresh docs admit") {
    val store = freshStore()
    store.create("corpus", Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"),
      (3L, "filler tokens here now then soon")).toDF("doc_id", "text"))
    apply1(store,
      10L -> "alpha beta gamma delta epsilon zeta", // exact copy of 1
      11L -> "completely fresh unique wording indeed")
    assert(ids(store, "corpus") == Set(1L, 2L, 3L, 11L))
    assert(ids(store, "quarantine") == Set(10L))
    val ev = store.read("quarantine")
      .select("doc_id", "matched_id", "cos").head()
    assert(ev.getLong(1) == 1L && ev.getDouble(2) == 1.0)
  }

  test("in-batch duplicates: first (smallest id) wins, scored with corpus-wide weights") {
    val store = freshStore()
    store.create("corpus", Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "one two three four"),
      (3L, "more corpus filler text"),
      (4L, "yet another corpus document")).toDF("doc_id", "text"))
    apply1(store,
      20L -> "p q r s t u",
      21L -> "p q r s t u") // identical pair inside one batch
    assert(ids(store, "corpus").contains(20L))
    assert(ids(store, "quarantine") == Set(21L))
    val ev = store.read("quarantine").select("matched_id").head().getLong(0)
    assert(ev == 20L)
  }

  test("cross-batch: a copy of an ADMITTED doc rejects in the next batch") {
    val store = freshStore()
    store.create("corpus", Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "one two three four")).toDF("doc_id", "text"))
    apply1(store, 30L -> "fresh wording streaming in")
    assert(ids(store, "corpus").contains(30L))
    apply1(store, 40L -> "fresh wording streaming in") // copy of 30
    assert(ids(store, "quarantine") == Set(40L))
    assert(store.read("quarantine").select("matched_id").head().getLong(0) == 30L)
  }

  test("replay idempotence: re-applying a batch reproduces identical tables") {
    val store = freshStore()
    store.create("corpus", Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five")).toDF("doc_id", "text"))
    val batch = Seq(
      50L -> "alpha beta gamma delta epsilon", // near-copy → quarantine
      51L -> "novel material for the corpus")
    apply1(store, batch: _*)
    val corpus1 = store.read("corpus").collect().map(_.toSeq).toSet
    val quar1 = store.read("quarantine").collect().map(_.toSeq).toSet
    apply1(store, batch: _*) // crash-replay of the same micro-batch
    assert(store.read("corpus").collect().map(_.toSeq).toSet == corpus1)
    assert(store.read("quarantine").collect().map(_.toSeq).toSet == quar1)
  }

  test("re-admission after the conflict is removed clears the stale quarantine row") {
    val store = freshStore()
    // 3 corpus docs so the bit-idf weights stay positive (bits(4) > bits(2))
    store.create("corpus", Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five"),
      (3L, "filler corpus tokens right here")).toDF("doc_id", "text"))
    apply1(store, 70L -> "alpha beta gamma delta epsilon") // near-copy of 1
    assert(ids(store, "quarantine") == Set(70L))
    store.delete("corpus", col("doc_id") === 1L) // the conflict goes away
    apply1(store, 70L -> "alpha beta gamma delta epsilon") // legit resubmission
    assert(ids(store, "corpus").contains(70L))
    // corpus ∪ quarantine must PARTITION the input: the stale row is gone
    assert(ids(store, "quarantine").isEmpty)
  }

  test("streaming end-to-end: two file-source micro-batches honor batch order") {
    val store = freshStore()
    store.create("corpus", Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "one two three four")).toDF("doc_id", "text"))
    val srcDir = new java.io.File(Scratch.dir(spark, "adm-src"))
    val base = System.currentTimeMillis()
    def stage(rows: Seq[(Long, String)], t: Long): Unit = {
      val tmp = new java.io.File(Scratch.dir(spark, "adm-stage"))
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      tmp.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        val dst = new java.io.File(srcDir, f.getName)
        java.nio.file.Files.move(f.toPath, dst.toPath)
        dst.setLastModified(t)
      }
    }
    stage(Seq(60L -> "streamed novel text body"), base)
    stage(Seq(61L -> "streamed novel text body"), base + 60000) // copy of 60
    val feed = spark.readStream
      .schema(Seq((0L, "")).toDF("doc_id", "text").schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    val q = AdmissionIngest.start(feed, store, "corpus", "quarantine",
      "doc_id", "text",
      Scratch.dir(spark, "adm-ckpt"), threshold = 0.8)
    try q.processAllAvailable() finally q.stop()
    assert(ids(store, "corpus").contains(60L))
    assert(ids(store, "quarantine") == Set(61L))
  }
}
