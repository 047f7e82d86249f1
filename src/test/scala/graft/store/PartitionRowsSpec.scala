package graft.store

import java.sql.{Date, Timestamp}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** `readPartitionRows` against its Spark twin (`readPartitions` +
  * collect), compared as multisets on hostile inputs. A job listener
  * names the path that served each case: footer-exact files read on the
  * driver with no Spark job; every decline (evolved footer, INT96
  * timestamps, a partition over [[DocumentStore.LocalMaxBytes]]) reads
  * through the twin in one job. */
class PartitionRowsSpec extends AnyFunSuite with SparkSuite {

  private val schema = StructType.fromDDL(
    "sid STRING, id STRING, n INT, l BIGINT, f FLOAT, d DOUBLE, b BOOLEAN, " +
      "s STRING, t TIMESTAMP, dt DATE")

  private def frame(rows: Seq[Row], sc: StructType = schema): DataFrame =
    spark.createDataFrame(rows.asJava, sc)

  /** `rows` as a Spark-written (distributed) frame: the writer takes it
    * through a job instead of the driver-local path. */
  private def distributed(rows: Seq[Row], sc: StructType = schema): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), sc)

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val hostile: Seq[Row] = {
    val full = Row("p", "full", 1, 2L, 1.5f, 2.5, true, "plain",
      ts("2026-02-03 04:05:06.123456"), Date.valueOf("2026-02-03"))
    // one row per optional column holding its null
    val nulls = (2 until schema.length).map(i => Row.fromSeq(
      full.toSeq.updated(1, s"null-${schema(i).name}").updated(i, null)))
    val odd = Seq(
      Row("p", "pre-epoch", -1, Long.MinValue, -0.0f, Double.NaN, false,
        "non-BMP 𝄞 😀", ts("1931-02-03 04:05:06.000001"),
        Date.valueOf("1931-02-03")),
      Row("p", "edge", Int.MaxValue, -1L, Float.NaN, -0.0, true,
        "quote \" ' ` and control \u0000\u0001\t\n\r", ts("1969-12-31 23:59:59.999999"),
        Date.valueOf("1969-12-31")))
    // two ids that sanitize to the one partition key `a_b`
    val twins = Seq("a.b", "a_b").map(sid => Row(sid, s"twin-$sid", 7, 7L, 7f, 7.0, true,
      s"session $sid", ts("2026-01-01 00:00:00.000007"), Date.valueOf("2026-01-01")))
    full +: (nulls ++ odd ++ twins)
  }

  private def multiset(rows: Seq[Row]): Map[Row, Int] = rows.groupMapReduce(identity)(_ => 1)(_ + _)

  /** `body`'s result and the Spark jobs it submitted. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.spec.rows") == "on"))
          jobs.incrementAndGet()
    }
    assert(GraftSqlBridge.drainListeners(sc))
    sc.addSparkListener(counter)
    sc.setLocalProperty("graft.spec.rows", "on")
    try {
      val r = body
      assert(GraftSqlBridge.drainListeners(sc))
      (r, jobs.get)
    } finally {
      sc.setLocalProperty("graft.spec.rows", null)
      sc.removeSparkListener(counter)
    }
  }

  /** The read of `keys` equals its twin's and was served by `jobs` jobs. */
  private def agrees(store: DocumentStore, table: String, keys: Seq[String],
                     jobs: Int): Seq[Row] = {
    val (rows, n) = jobsOf(store.readPartitionRows(table, keys))
    val twin = store.readPartitions(table, keys)
    val expected = if (twin.columns.isEmpty) Seq.empty else twin.collect().toSeq
    assert(multiset(rows) == multiset(expected), s"$table $keys")
    assert(n == jobs, s"$table $keys: Spark jobs")
    rows
  }

  test("footer-exact partitions read on the driver as their Spark twin, with no job") {
    val store = new DocumentStore(spark, Scratch.dir(spark, "rows-exact"))
    store.create("t", frame(hostile), partitionCol = Some("sid"))
    // a multi-segment partition: a driver-written and a Spark-written append
    store.append("t", frame(Seq(Row("m", "local", 1, 1L, 1f, 1.0, true, "x",
      ts("2000-01-01 00:00:00.5"), Date.valueOf("2000-01-01")))))
    store.append("t", distributed((1 to 20).map(i => Row("m", s"spark-$i", i, i.toLong,
      i.toFloat, i.toDouble, i % 2 == 0, null, ts("2001-02-03 04:05:06.000009"), null))))
    assert(store.layout("t")("m").split(',').length == 2)
    val p = agrees(store, "t", Seq("p"), jobs = 0)
    assert(p.size == hostile.count(_.getString(0) == "p"))
    assert(p.exists(r => r.getAs[String]("id") == "pre-epoch" &&
      r.getAs[Timestamp]("t") == ts("1931-02-03 04:05:06.000001")))
    // both ids of the key come back; an exact-id filter is the caller's
    assert(agrees(store, "t", Seq("a.b"), jobs = 0).map(_.getAs[String]("sid")).toSet ==
      Set("a.b", "a_b"))
    assert(agrees(store, "t", Seq("m"), jobs = 0).size == 21)
    assert(agrees(store, "t", Seq("absent"), jobs = 0).isEmpty)
    assert(agrees(store, "t", Seq("p", "m", "absent"), jobs = 0).size == p.size + 21)
    assert(agrees(store, "never-created", Seq("p"), jobs = 0).isEmpty)
  }

  test("an evolved footer declines to the Spark twin in one job") {
    val store = new DocumentStore(spark, Scratch.dir(spark, "rows-evolved"))
    store.create("t", frame(hostile), partitionCol = Some("sid"))
    // the add-column upsert rewrites `q` only: `p`'s file lacks `note`
    val wider = schema.add("note", StringType)
    store.upsert("t", frame(Seq(Row.fromSeq(hostile.head.toSeq.updated(0, "q") :+ "new")), wider),
      keys = Seq("sid", "id"))
    val p = agrees(store, "t", Seq("p"), jobs = 1)
    assert(p.nonEmpty && p.forall(_.isNullAt(wider.fieldIndex("note"))))
    assert(agrees(store, "t", Seq("q"), jobs = 0).map(_.getAs[String]("note")) == Seq("new"))
  }

  test("an INT96 timestamp file declines to the Spark twin in one job") {
    val store = new DocumentStore(spark, Scratch.dir(spark, "rows-int96"))
    val key = "spark.sql.parquet.outputTimestampType"
    val before = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try store.create("t", distributed(hostile), partitionCol = Some("sid"))
    finally spark.conf.set(key, before)
    agrees(store, "t", Seq("p"), jobs = 1)
    agrees(store, "t", Seq("a.b"), jobs = 1)
  }

  test("a partition over LocalMaxBytes declines to the Spark twin in one job") {
    val store = new DocumentStore(spark, Scratch.dir(spark, "rows-big"))
    // incompressible ~1 KB payloads, just over the bound
    val rnd = new scala.util.Random(11)
    val n = (DocumentStore.LocalMaxBytes / 1000).toInt + 500
    val sc = StructType.fromDDL("sid STRING, id STRING, payload STRING")
    store.create("t", frame((1 to n).map(i =>
      Row("big", s"id$i", rnd.alphanumeric.take(1000).mkString)) :+ Row("small", "s1", "x"), sc),
      partitionCol = Some("sid"))
    val bytes = store.fileStats("t").filter(_._1 == "big").map(_._3).sum
    assert(bytes > DocumentStore.LocalMaxBytes, s"partition bytes $bytes")
    assert(agrees(store, "t", Seq("big"), jobs = 1).size == n)
    assert(agrees(store, "t", Seq("small"), jobs = 0).size == 1)
  }
}
