package e2ebench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic tables with the testdata schema (TESTDATA.md):
  * every value is a hash of its row id, so the tables are the same
  * whatever the run's seed. Sizes and shapes follow the sf0.01 tables
  * (key fan-outs, value ranges, 5 languages, 64-dim embeddings). */
object AnalyticsData {

  private def u(id: Column, salt: Int, n: Long): Column =
    pmod(xxhash64(id, lit(salt)), lit(n))

  private def frac(id: Column, salt: Int): Column =
    u(id, salt, 1000000L).cast("double") / 1e6

  private def pick(id: Column, salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (u(id, salt, xs.size.toLong) + 1).cast("int"))

  private def days(base: String, id: Column, salt: Int, span: Long): Column =
    timestamp_seconds(unix_timestamp(lit(base)) + u(id, salt, span) * 86400L)

  private val Vocab = Seq("key", "agg", "row", "scan", "slow", "fast", "table", "value",
    "part", "hash", "merge", "batch", "spark", "the", "a", "line", "sort", "window",
    "order", "data", "column", "join", "small", "big", "query", "customer", "stream",
    "group", "filter", "vector")

  def tables(spark: SparkSession): Seq[(String, DataFrame)] = {
    def rows(n: Long): DataFrame = spark.range(0L, n, 1L, 1).toDF()
    val id = col("id")
    val nCust = 1500L; val nSupp = 100L; val nPart = 2000L; val nOrd = 15000L
    val nLine = 60000L; val nEvents = 10000L; val nDocs = 500L; val nVecs = 500L
    Seq(
      "region" -> rows(5).select(id.cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
          (id + 1).cast("int")).as("r_name")),
      "nation" -> rows(25).select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey")),
      "customer" -> rows(nCust).select(id.as("c_custkey"),
        concat(lit("Customer#"), id).as("c_name"), u(id, 1, 25).cast("int").as("c_nationkey"),
        round(frac(id, 2) * 11000 - 1000, 2).as("c_acctbal"),
        pick(id, 3, Seq("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"))
          .as("c_mktsegment")),
      "supplier" -> rows(nSupp).select(id.as("s_suppkey"),
        concat(lit("Supplier#"), id).as("s_name"), u(id, 4, 25).cast("int").as("s_nationkey"),
        round(frac(id, 5) * 11000 - 1000, 2).as("s_acctbal")),
      "part" -> rows(nPart).select(id.as("p_partkey"),
        concat(lit("part "), id).as("p_name"),
        concat(lit("Brand#"), u(id, 6, 5) + 1, u(id, 7, 5) + 1).as("p_brand"),
        pick(id, 8, Seq("STANDARD BRASS", "SMALL PLATED", "LARGE STEEL", "ECONOMY TIN"))
          .as("p_type"),
        (u(id, 9, 50) + 1).cast("int").as("p_size"),
        round(frac(id, 10) * 1100 + 900, 2).as("p_retailprice")),
      "orders" -> rows(nOrd).select(id.as("o_orderkey"), u(id, 11, nCust).as("o_custkey"),
        pick(id, 12, Seq("F", "O", "P")).as("o_orderstatus"),
        round(frac(id, 13) * 500000 + 1000, 2).as("o_totalprice"),
        days("1992-01-01 00:00:00", id, 14, 2400).as("o_orderdate"),
        pick(id, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .as("o_orderpriority")),
      "lineitem" -> rows(nLine).select(u(id, 16, nOrd).as("l_orderkey"),
        u(id, 17, nPart).as("l_partkey"), u(id, 18, nSupp).as("l_suppkey"),
        (id % 7 + 1).cast("int").as("l_linenumber"),
        (u(id, 19, 50) + 1).cast("double").as("l_quantity"),
        round((u(id, 19, 50) + 1) * (frac(id, 20) * 1100 + 900), 2).as("l_extendedprice"),
        (u(id, 21, 11).cast("double") / 100).as("l_discount"),
        (u(id, 22, 9).cast("double") / 100).as("l_tax"),
        pick(id, 23, Seq("A", "N", "R")).as("l_returnflag"),
        pick(id, 24, Seq("F", "O")).as("l_linestatus"),
        days("1992-01-02 00:00:00", id, 25, 2500).as("l_shipdate")),
      "events" -> rows(nEvents).select(id.as("event_id"),
        timestamp_micros(unix_micros(lit("2024-01-01 00:00:00").cast("timestamp")) +
          id * 180000000L + u(id, 26, 60000000L)).as("ts"),
        u(id, 27, 100).as("user_id"),
        pick(id, 28, Seq("view", "click", "purchase", "error")).as("event_type"),
        round(frac(id, 29) * 20, 2).as("value"),
        concat(lit("{\"k\": "), u(id, 30, 100), lit("}")).as("props")),
      "documents" -> {
        val words = transform(sequence(lit(1), (u(id, 31, 60) + 10).cast("int")),
          i => element_at(array(Vocab.map(lit): _*),
            (pmod(xxhash64(id, i), lit(Vocab.size.toLong)) + 1).cast("int")))
        rows(nDocs).select(id.as("doc_id"), concat_ws(" ", words).as("text"),
          when(u(id, 32, 100) < 44, lit("en"))
            .otherwise(pick(id, 33, Seq("zh", "es", "de", "fr"))).as("lang"),
          concat(lit("src"), id % 5).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      },
      "embeddings" -> rows(nVecs).select(id.as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          i => ((pmod(xxhash64(id, i, lit(34)), lit(2000001L)) - 1000000L) / 4e6)
            .cast("float")).as("embedding"),
        u(id, 35, 5).cast("int").as("label")))
  }

  /** Writes the tables into `dir` unless they are there already for this
    * `stamp`. They go to a sibling directory first and are renamed into
    * place with the stamp file, so a killed run leaves no partial set. */
  def ensure(spark: SparkSession, dir: String, stamp: String): Unit = {
    val stampFile = Paths.get(dir, "STAMP")
    if (Files.exists(stampFile) && new String(Files.readAllBytes(stampFile), "UTF-8") == stamp)
      return
    val tmp = Paths.get(dir + ".tmp")
    Seq(tmp, Paths.get(dir)).foreach(Main.deleteTree)
    tables(spark).foreach { case (name, df) =>
      df.write.parquet(tmp.resolve(s"$name.parquet").toString)
    }
    Files.write(tmp.resolve("STAMP"), stamp.getBytes("UTF-8"))
    Files.move(tmp, Paths.get(dir))
  }
}
