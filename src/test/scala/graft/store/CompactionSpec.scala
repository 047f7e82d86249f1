package graft.store

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Compaction (OPTIMIZE analog) + min/max data-skipping reads. */
class CompactionSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def freshStore() =
    new DocumentStore(spark, Scratch.dir(spark, "compact"))

  // 600 rows, partition = bucket (3 values), id clustered by bucket so
  // min/max stats carve the id space cleanly per partition
  private def fragmented(s: DocumentStore): Unit = {
    val df = spark.range(600)
      .select($"id", ($"id" / 200).cast("long").as("bucket"),
        concat(lit("row"), $"id").as("payload"))
      .repartition(8) // each partition dir lands ~8 files
    s.create("t", df, partitionCol = Some("bucket"))
  }

  test("compact merges fragmented partitions and preserves every row") {
    val s = freshStore()
    fragmented(s)
    val before = s.fileStats("t")
    assert(before.forall(_._2 > 1), s"fixture not fragmented: $before")
    val rowsBefore = s.read("t").orderBy("id").as[(Long, Long, String)].collect().toSeq

    assert(s.compact("t"))
    val after = s.fileStats("t")
    // tiny partitions, huge maxFileBytes => exactly one file each
    assert(after.forall(_._2 == 1), s"still fragmented: $after")
    assert(s.read("t").orderBy("id").as[(Long, Long, String)].collect().toSeq == rowsBefore)
    assert(s.version("t") == 2) // compaction is a committed version
    // pre-compaction layout stays time-travelable
    assert(s.readVersion("t", 1).count() == 600)
  }

  test("compact is a no-op when nothing is fragmented") {
    val s = freshStore()
    fragmented(s)
    assert(s.compact("t"))
    val v = s.version("t")
    assert(!s.compact("t")) // already ideal: no new version
    assert(s.version("t") == v)
  }

  test("compact splits by slot when a partition exceeds maxFileBytes") {
    val s = freshStore()
    fragmented(s)
    val before = s.fileStats("t").map { case (k, _, bytes) => k -> bytes }.toMap
    // target ~4 files per partition: ideal (≈4) < current (≈8) so every
    // partition is a victim, yet > 1 so the rewrite must salt into slots
    val mfb = before.values.min / 4
    assert(s.compact("t", maxFileBytes = mfb))
    s.fileStats("t").foreach { case (part, n, _) =>
      val slots = math.max(1, math.ceil(before(part).toDouble / mfb).toInt)
      assert(n > 1, s"$part should be salted into multiple files")
      assert(n <= slots, s"$part: $n files vs $slots slots")
    }
    assert(s.read("t").count() == 600)
  }

  test("sorted compaction clusters rows within every rewritten file") {
    val s = freshStore()
    // payload shuffled so pre-compaction files are NOT id-clustered
    val df = spark.range(600)
      .select($"id", ($"id" / 200).cast("long").as("bucket"),
        concat(lit("row"), $"id").as("payload"))
      .repartition(8)
    s.create("t", df, partitionCol = Some("bucket"))
    assert(s.compact("t", sortBy = Seq("id")))
    val perFile = s.read("t")
      .select($"id", input_file_name().as("f"))
      .collect().groupBy(_.getString(1))
      .map { case (_, rows) => rows.map(_.getLong(0)).toSeq }
    assert(perFile.nonEmpty)
    perFile.foreach(ids => assert(ids == ids.sorted, "file not id-clustered"))
  }

  test("upsert evolves the schema: added column reads as null on old rows") {
    val s = freshStore()
    fragmented(s)
    import org.apache.spark.sql.functions.{col => c}
    // new column `score` arrives with an update batch
    s.upsert("t",
      Seq((9999L, 2L, "fresh", 0.5)).toDF("id", "bucket", "payload", "score"),
      keys = Seq("id"))
    val out = s.read("t")
    assert(out.columns.contains("score"))
    assert(out.filter(c("id") === 9999L).select("score").head().getDouble(0) == 0.5)
    // untouched partitions (bucket 0/1) were never rewritten, yet read
    // back under the evolved schema with nulls
    assert(out.filter(c("bucket") === 0L && c("score").isNull).count() == 200)
    // time travel still serves v1 under ITS schema — no score column
    assert(!s.readVersion("t", 1).columns.contains("score"))
    // updates omitting an existing column null-fill the inserted row
    s.upsert("t", Seq((10000L, 2L)).toDF("id", "bucket"), keys = Seq("id"))
    val r = s.read("t").filter(c("id") === 10000L).select("payload", "score").head()
    assert(r.isNullAt(0) && r.isNullAt(1))
    assert(s.read("t").count() == 602)
  }

  test("insert into a fresh partition cannot narrow the committed schema") {
    val s = freshStore()
    fragmented(s)
    // no existing partition is touched (bucket 9 is new) and the batch
    // lacks `payload` — the table schema must keep it anyway
    s.upsert("t", Seq((7777L, 9L)).toDF("id", "bucket"), keys = Seq("id"))
    val out = s.read("t")
    assert(out.columns.toSet == Set("id", "bucket", "payload"))
    assert(out.count() == 601)
    assert(out.filter($"id" === 7777L).select("payload").head().isNullAt(0))
  }

  test("mergeSet overwrites only the named columns on matched rows ($set)") {
    val s = freshStore()
    fragmented(s)
    import org.apache.spark.sql.functions.{col => c}
    val before = s.read("t").filter(c("id") === 5L).select("payload").head().getString(0)
    s.mergeSet("t",
      Seq((10L, "SET10"), (250L, "SET250"), (123456L, "ghost"))
        .toDF("id", "payload"),
      keys = Seq("id"), setCols = Seq("payload"))
    val out = s.read("t")
    assert(out.count() == 600) // no inserts (upsert=false), no deletes
    assert(out.filter(c("id") === 10L).select("payload").head().getString(0) == "SET10")
    assert(out.filter(c("id") === 250L).select("payload").head().getString(0) == "SET250")
    // untouched rows keep their values; unmatched update keys are ignored
    assert(out.filter(c("id") === 5L).select("payload").head().getString(0) == before)
    assert(out.filter(c("payload") === "ghost").count() == 0)
    // $set semantics: an explicit null SETS null, it doesn't coalesce
    s.mergeSet("t", Seq((10L, null.asInstanceOf[String])).toDF("id", "payload"),
      keys = Seq("id"), setCols = Seq("payload"))
    assert(s.read("t").filter(c("id") === 10L).select("payload").head().isNullAt(0))
    // only the matched partitions were rewritten
    assert(s.version("t") == 3)
  }

  test("analyze + readRange prunes partitions and matches the full-scan filter") {
    val s = freshStore()
    fragmented(s)
    s.analyze("t", Seq("id"))
    val (kept, total) = s.statsPrunedParts("t", "id", 50L, 250L)
    assert(total == 3 && kept.size == 2, s"kept $kept of $total") // buckets 0,1 only
    val got = s.readRange("t", "id", 50L, 250L)
      .orderBy("id").as[(Long, Long, String)].collect().toSeq
    val want = s.read("t").filter($"id" >= 50 && $"id" <= 250)
      .orderBy("id").as[(Long, Long, String)].collect().toSeq
    assert(got == want && got.size == 201)
  }

  test("readWhere: conjunctive ranges intersect their pruned sets, rows exact") {
    val s = freshStore()
    fragmented(s) // id 0..599, bucket = id/200; id and bucket co-clustered
    s.analyze("t", Seq("id", "bucket"))
    // id in [50,250] keeps buckets {0,1}; bucket in [1,2] keeps {1,2};
    // the conjunction must touch ONLY bucket 1
    val got = s.readWhere("t", Seq(("id", 50L, 250L), ("bucket", 1L, 2L)))
      .orderBy("id").as[(Long, Long, String)].collect().toSeq
    val want = s.read("t")
      .filter($"id" >= 50 && $"id" <= 250 && $"bucket" >= 1 && $"bucket" <= 2)
      .orderBy("id").as[(Long, Long, String)].collect().toSeq
    assert(got == want && got.size == 51) // ids 200..250
    // pruning really intersected: a column with no stats keeps all, so
    // dropping the analyze for one column must not lose rows either
    val s2 = freshStore()
    fragmented(s2)
    s2.analyze("t", Seq("id")) // bucket un-analyzed: its prune keeps all
    val got2 = s2.readWhere("t", Seq(("id", 50L, 250L), ("bucket", 1L, 2L)))
      .orderBy("id").as[(Long, Long, String)].collect().toSeq
    assert(got2 == want)
  }

  test("readRange without stats falls back to the full partition set, still exact") {
    val s = freshStore()
    fragmented(s) // no analyze
    val (kept, total) = s.statsPrunedParts("t", "id", 50L, 250L)
    assert(kept.size == total) // no evidence -> no pruning
    assert(s.readRange("t", "id", 50L, 250L).count() == 201)
  }

  test("stats auto-refresh across a mutation: pruning holds, never lies") {
    val s = freshStore()
    fragmented(s)
    s.analyze("t", Seq("id"))
    val (kept0, total) = s.statsPrunedParts("t", "id", 50L, 250L)
    assert(kept0.size < total)
    // move a row's id ACROSS the range boundary: the commit refreshes the
    // rewritten partition's stats, so pruning stays BOTH live and correct
    // (stale stats would lie; dropped stats would degrade to full listing)
    s.upsert("t", Seq((1000L, 2L, "moved")).toDF("id", "bucket", "payload"), Seq("payload"))
    val (kept, totalAfter) = s.statsPrunedParts("t", "id", 50L, 250L)
    assert(kept.size < totalAfter) // still pruning immediately, no re-analyze
    assert(s.readRange("t", "id", 50L, 250L).count() == 201) // and still exact
    // the rewritten partition's refreshed max now excludes it from a range
    // it used to match only via the moved row's OLD value... and includes
    // it for the moved row's NEW value
    assert(s.readRange("t", "id", 999L, 1001L).count() == 1)
  }
}
