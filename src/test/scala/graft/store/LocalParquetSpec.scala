package graft.store

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** The driver-local tiny-commit fast path must be indistinguishable from
  * the Spark write path to every reader: same values for every supported
  * atomic type (nulls, timestamps at micro precision, dates), same
  * partition-dir layout, and seamless coexistence with Spark-written
  * segments in later mutations of the same table. */
class LocalParquetSpec extends AnyFunSuite with SparkSuite {

  test("local fast path round-trips all supported atomic types incl. nulls") {
    import java.sql.{Date, Timestamp}
    val ts = Timestamp.valueOf("2026-02-03 04:05:06.123456")
    val rows = Seq(
      Row(1, 10L, 1.5f, 2.5, true, "alpha beta", ts, Date.valueOf("2026-02-03")),
      Row(2, null, null, null, null, null, null, null))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "i INT, l BIGINT, f FLOAT, d DOUBLE, b BOOLEAN, s STRING, t TIMESTAMP, dt DATE")
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
    val store = new DocumentStore(spark,
      Scratch.dir(spark, "lp-spec"))
    store.create("t", df) // LocalRelation + supported types => fast path
    val back = store.read("t").orderBy(col("i")).collect().toSeq
    assert(back == rows.sortBy(_.getInt(0)))
  }

  test("fast-path partitioned create prunes and coexists with Spark-path upsert") {
    import spark.implicits._
    val df = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L))
      .toDF("id", "part", "v")
    val store = new DocumentStore(spark,
      Scratch.dir(spark, "lp-spec2"))
    store.create("t", df, partitionCol = Some("part"))
    // partition layout identical to the Spark path: one dir per value
    assert(store.layout("t").keySet == Set("a", "b"))
    assert(store.readPartitions("t", Seq("a")).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // a DISTRIBUTED upsert (falls back to the Spark write) over the
    // fast-path segments must merge cleanly
    val upd = spark.range(4, 6).select(col("id"),
      lit("b").as("part"), (col("id") * 10).as("v"))
    store.upsert("t", upd, keys = Seq("part", "id"))
    assert(store.read("t").count() == 5)
    assert(store.read("t").filter(col("part") === "b").count() == 3)
  }

  test("null partition value routes to __null like the Spark path") {
    import spark.implicits._
    val df = Seq((1L, Some("x")), (2L, None)).toDF("id", "part")
    val store = new DocumentStore(spark,
      Scratch.dir(spark, "lp-spec3"))
    store.create("t", df, partitionCol = Some("part"))
    assert(store.layout("t").keySet == Set("x", "__null"))
    assert(store.read("t").count() == 2)
  }

  test("readIfExact round-trips write's encoding and rejects foreign layouts") {
    import java.sql.{Date, Timestamp}
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "i INT, l BIGINT, f FLOAT, d DOUBLE, b BOOLEAN, s STRING, t TIMESTAMP, dt DATE")
    val ts = Timestamp.valueOf("1931-02-03 04:05:06.123456") // pre-epoch micros
    val rows = Seq(
      Row(1, 10L, 1.5f, 2.5, true, "alpha", ts, Date.valueOf("2026-02-03")),
      Row(2, null, null, null, null, null, null, null))
    val conf = spark.sessionState.newHadoopConf()
    val dir = Scratch.dir(spark, "lp-read")
    val f = new org.apache.hadoop.fs.Path(dir, "a.parquet")
    LocalParquet.write(conf, f, schema, rows)
    val back = LocalParquet.readIfExact(conf, f, schema)
    assert(back.contains(rows))
    // a footer whose physical layout differs from the requested schema
    // must decline (the caller then falls back to the Spark reader)
    val narrower = org.apache.spark.sql.types.StructType.fromDDL(
      "i INT, l INT, f FLOAT, d DOUBLE, b BOOLEAN, s STRING, t TIMESTAMP, dt DATE")
    assert(LocalParquet.readIfExact(conf, f, narrower).isEmpty)
  }

  test("write accepts java.time Instant/LocalDate rows (java8API parity)") {
    val schema = org.apache.spark.sql.types.StructType.fromDDL("t TIMESTAMP, dt DATE")
    val ins = java.time.Instant.parse("2026-02-03T04:05:06.123456Z")
    val conf = spark.sessionState.newHadoopConf()
    val dir = Scratch.dir(spark, "lp-java8")
    val f = new org.apache.hadoop.fs.Path(dir, "a.parquet")
    LocalParquet.write(conf, f, schema,
      Seq(Row(ins, java.time.LocalDate.of(2026, 2, 3))))
    val back = LocalParquet.readIfExact(conf, f, schema).get.head
    assert(back.get(0) == java.sql.Timestamp.from(ins))
    assert(back.get(1) == java.sql.Date.valueOf("2026-02-03"))
  }

  test("readIfExact reads every row group of a multi-group file, and declines a foreign footer") {
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.types.{StructField, StructType}
    val src = spark.range(0, 20000, 1, 1)
      .select(col("id").cast("int").as("i"), sha2(col("id").cast("string"), 256).as("s"))
    val schema = StructType(src.schema.map(_.copy(nullable = true)))
    val dir = Scratch.dir(spark, "lp-groups")
    // 64 KB row groups: the ~1.5 MB file holds many
    spark.createDataFrame(src.rdd, schema).write.option("parquet.block.size", 64 << 10)
      .mode("overwrite").parquet(dir)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val Seq(f) = fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf),
      HadoopReadOptions.builder(conf, f).build())
    val groups = try reader.getFooter.getBlocks.size finally reader.close()
    assert(groups >= 2, s"row groups: $groups")
    val back = LocalParquet.readIfExact(conf, f, schema).get
    assert(back.map(r => (r.getInt(0), r.getString(1))) ==
      spark.read.parquet(dir).collect().toSeq.map(r => (r.getInt(0), r.getString(1))))
    assert(back.map(_.getAs[Int]("i")) == (0 until 20000))
    assert(LocalParquet.readIfExact(conf, f,
      StructType(Seq(StructField("i", org.apache.spark.sql.types.LongType),
        StructField("s", org.apache.spark.sql.types.StringType)))).isEmpty)
  }
}
