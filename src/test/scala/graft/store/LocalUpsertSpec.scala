package graft.store

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** The r20 driver-local keyed-upsert fast path must be semantically
  * invisible: same merged content as the generic Spark path (SQL
  * anti-join semantics, null keys never matching, batch duplicates
  * surviving), same COW locality (untouched partitions carried by
  * manifest reference), and a clean fall-back whenever any gate fails
  * (schema evolution, distributed updates, oversized partitions,
  * floating-point keys). */
class LocalUpsertSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def newStore() = new DocumentStore(spark,
    java.nio.file.Files.createTempDirectory("lu-spec").toString)

  private def localFiles(store: DocumentStore, table: String): Seq[String] =
    store.layout(table).values.flatMap { d =>
      new java.io.File(new java.net.URI(d).getPath).listFiles()
        .map(_.getName).filter(_.endsWith(".parquet"))
    }.toSeq

  test("tiny keyed upsert takes the driver-local path and merges exactly") {
    val store = newStore()
    val df = Seq(("s1", "m1", 1L), ("s1", "m2", 2L), ("s2", "m3", 3L))
      .toDF("sid", "id", "v")
    store.create("t", df, partitionCol = Some("sid"))
    val v1Layout = store.layout("t")
    store.upsert("t", Seq(("s1", "m2", 20L), ("s1", "m4", 4L)).toDF("sid", "id", "v"),
      keys = Seq("sid", "id"))
    // merged content: m2 replaced, m4 inserted, everything else intact
    val got = store.read("t").orderBy(col("id"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq(("s1", "m1", 1L), ("s1", "m2", 20L),
      ("s2", "m3", 3L), ("s1", "m4", 4L)).sortBy(_._2))
    // COW locality: the untouched partition's segment dir is CARRIED
    assert(store.layout("t")("s2") == v1Layout("s2"))
    assert(store.layout("t")("s1") != v1Layout("s1"))
    // the rewritten partition holds exactly one driver-written file
    // (LocalParquet naming: part-00000-<token>.parquet, no Spark suffix)
    val f = localFiles(store, "t")
    assert(f.forall(_.matches("part-00000-[0-9a-f]{8}\\.parquet")), f.toString)
  }

  test("null key components never match; update duplicates all survive") {
    val store = newStore()
    store.create("t", Seq((Some("k1"), "a", 1L), (None, "b", 2L))
      .toDF("k", "part", "v"), partitionCol = Some("part"))
    // an update keyed on a NULL k must not drop the null-keyed row;
    // two update rows with the same key both land (generic-path parity)
    val upd = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(Seq(Row(null, "b", 20L), Row("k2", "b", 30L),
          Row("k2", "b", 31L))).asJava),
      store.read("t").schema)
    store.upsert("t", upd, keys = Seq("part", "k"))
    val got = store.read("t").orderBy(col("v")).collect()
      .map(r => (Option(r.getString(0)), r.getLong(2))).toSeq
    // null-keyed kept row (2) survives; null-keyed update row (20) lands;
    // both k2 duplicates land
    assert(got == Seq((Some("k1"), 1L), (None, 2L), (None, 20L),
      (Some("k2"), 30L), (Some("k2"), 31L)))
  }

  test("schema-evolution upsert falls back to the generic path and still merges") {
    val store = newStore()
    store.create("t", Seq(("s1", "m1", 1L)).toDF("sid", "id", "v"),
      partitionCol = Some("sid"))
    store.upsert("t", Seq(("s1", "m2", 2L, "extra")).toDF("sid", "id", "v", "note"),
      keys = Seq("sid", "id"))
    val got = store.read("t").orderBy(col("id")).collect()
      .map(r => (r.getString(1), Option(r.getAs[String]("note")))).toSeq
    assert(got == Seq(("m1", None), ("m2", Some("extra"))))
  }

  test("oversized touched partitions decline the fast path (byte gate)") {
    val store = newStore()
    // incompressible ~1 KB payloads, enough rows for the partition's
    // bytes to land just over the cap
    val rnd = new scala.util.Random(7)
    val n = (DocumentStore.LocalMaxBytes / 1000).toInt + 500
    store.create("t", (1 to n).map(i => ("p", s"id$i", rnd.alphanumeric.take(1000).mkString))
      .toDF("sid", "id", "payload"), partitionCol = Some("sid"))
    val bytes = store.fileStats("t").map(_._3).sum
    assert(bytes > DocumentStore.LocalMaxBytes && bytes < DocumentStore.LocalMaxBytes * 5 / 4,
      s"partition bytes $bytes not just over the cap")
    store.upsert("t", Seq(("p", "id1", "new")).toDF("sid", "id", "payload"),
      keys = Seq("sid", "id"))
    // merged correctly through the generic path (Spark writer naming)
    assert(store.read("t").count() == n)
    assert(store.read("t").filter(col("id") === "id1").head().getString(2) == "new")
    val f = localFiles(store, "t")
    assert(f.exists(!_.matches("part-00000-[0-9a-f]{8}\\.parquet")), f.toString)
  }

  test("double keys: NaN, -0.0 and 0.0 match exactly as in the distributed upsert") {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(StructField("sid", StringType),
      StructField("k", DoubleType), StructField("v", LongType)))
    val stored = Seq(Row("s", Double.NaN, 1L), Row("s", -0.0, 2L), Row("s", 0.0, 3L),
      Row("s", 1.5, 4L))
    val upd = Seq(Row("s", Double.NaN, 10L), Row("s", 0.0, 30L))
    def upserted(updates: DataFrame): Seq[(String, Long)] = {
      val store = newStore()
      store.create("t", spark.createDataFrame(stored.asJava, schema), partitionCol = Some("sid"))
      store.upsert("t", updates, keys = Seq("sid", "k"))
      // keys compared as strings: NaN != NaN under tuple equality
      store.read("t").collect().map(r => (r.getDouble(1).toString, r.getLong(2))).toSeq.sortBy(_._2)
    }
    val local = upserted(spark.createDataFrame(upd.asJava, schema))
    val distributed = upserted(spark.createDataFrame(spark.sparkContext.parallelize(upd), schema))
    assert(local == distributed)
    // Spark join keys normalize NaN = NaN and -0.0 = 0.0
    assert(distributed == Seq(("1.5", 4L), ("NaN", 10L), ("0.0", 30L)))
  }

  test("fast path composes with time travel, changeFeed and vacuum") {
    val store = newStore()
    store.create("t", Seq(("s1", "m1", 1L)).toDF("sid", "id", "v"),
      partitionCol = Some("sid"))
    store.upsert("t", Seq(("s1", "m1", 2L)).toDF("sid", "id", "v"),
      keys = Seq("sid", "id"))
    store.upsert("t", Seq(("s1", "m2", 3L)).toDF("sid", "id", "v"),
      keys = Seq("sid", "id"))
    assert(store.version("t") == 3)
    assert(store.readVersion("t", 1).head().getLong(2) == 1L)
    val feed = store.changeFeed("t", 1, 2, keys = Seq("sid", "id")).collect()
    assert(feed.length == 1 && feed.head.getAs[String]("change") == "update")
    store.vacuum("t", keepVersions = 1)
    assert(store.read("t").count() == 2)
  }
}
