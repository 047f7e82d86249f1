package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.Tables.t
import graft.store.DocumentStore
import graft.store.Scratch

class EventStreamSpec extends AnyFunSuite with SparkSuite {

  /** File-stream sources need a directory; stage the single parquet file
    * into one (this is also the natural shape of a landing zone). */
  private lazy val eventsDir: String = {
    // kept: shared by every test of the suite, so no sweep may take it
    val dir = java.nio.file.Paths.get(Scratch.keep(Scratch.dir(spark, "events")))
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("part-0.parquet"))
    dir.toString
  }

  test("windowed stats: streaming output equals the batch plan") {
    val stream = EventStream.windowedStats(EventStream.source(spark, eventsDir))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("win_out").start()
    q.processAllAvailable(); q.stop()
    // append mode only emits windows the watermark has passed; compare
    // those against the same batch aggregation
    val got = spark.table("win_out")
      .select("window_start", "event_type", "n", "total")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = t(spark, sf, "events")
      .groupBy(window(col("ts"), "1 hour").getField("start").as("ws"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got.nonEmpty)
    assert(got.subsetOf(batch))
    // all but the final (unclosed) windows must have been emitted
    assert(got.size >= batch.size - 5)
  }

  test("stateful running totals equal batch sums after draining (A1)") {
    val totals = EventStream.runningTotals(spark, EventStream.source(spark, eventsDir))
    val q = totals.writeStream.outputMode("update")
      .format("memory").queryName("tot_out").start()
    q.processAllAvailable(); q.stop()
    // last emitted state per user == batch sum
    val got = spark.table("tot_out").groupBy("user_id")
      .agg(last("running_total").as("rt"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val batch = t(spark, sf, "events").groupBy("user_id")
      .agg(sum("value").as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == batch.keySet)
    got.foreach { case (u, v) => assert(math.abs(v - batch(u)) < 1e-6, s"user $u") }
  }

  test("streaming sessionization: closed sessions match the batch answer") {
    val gapMin = 360 // 6h, matches q24_sessionize
    val stream = EventStream.sessionize(spark, EventStream.source(spark, eventsDir), gapMin)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("sess_out")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getInt(3)))
      .toSet
    // batch oracle: same lag/cumsum sessionization as q24
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val batch = t(spark, sf, "events")
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("new_s", when(col("prev").isNull ||
        unix_micros(col("ts")) - unix_micros(col("prev")) > gapMin * 60L * 1000000L, 1).otherwise(0))
      .withColumn("sid", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts")).as("s"), max(col("ts")).as("e"), count(lit(1)).cast("int").as("n"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(2), r.getTimestamp(3), r.getInt(4)))
      .toSet
    // streaming emits only sessions the watermark closed; they must all
    // be real sessions, and most sessions should have closed
    assert(got.nonEmpty)
    assert(got.subsetOf(batch), s"junk sessions: ${got.diff(batch).take(3)}")
    assert(got.size >= batch.size / 2)
  }

  test("stream-stream interval join equals the batch range join") {
    val src = EventStream.source(spark, eventsDir)
    val joined = EventStream.intervalJoin(
      src.filter(col("event_type") === "view"),
      src.filter(col("event_type") === "purchase"),
      "user_id")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("ssj_out").select("l_id", "r_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = t(spark, sf, "events")
    val bv = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("l_id"), col("ts").as("l_ts"))
    val bp = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("r_id"), col("ts").as("r_ts"))
    val batch = bv.join(bp, Seq("user_id"))
      .filter(col("l_ts") <= col("r_ts") &&
        col("l_ts") >= col("r_ts") - expr("INTERVAL 1 HOUR"))
      .select("l_id", "r_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty)
    assert(got == batch)
  }

  test("left-outer interval join: matches exact, negatives only for true non-converters") {
    val src = EventStream.source(spark, eventsDir)
    val joined = EventStream.intervalJoin(
      src.filter(col("event_type") === "view"),
      src.filter(col("event_type") === "purchase"),
      "user_id", joinType = "left_outer")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("soj_out").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("soj_out").select("l_id", "r_id").collect()
    val gotMatched = rows.filter(!_.isNullAt(1)).map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotNulls = rows.filter(_.isNullAt(1)).map(_.getLong(0)).toSet
    val e = t(spark, sf, "events")
    val bv = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("l_id"), col("ts").as("l_ts"))
    val bp = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("r_id"), col("ts").as("r_ts"))
    val batchMatched = bv.join(bp, Seq("user_id"))
      .filter(col("l_ts") <= col("r_ts") &&
        col("l_ts") >= col("r_ts") - expr("INTERVAL 1 HOUR"))
      .select("l_id", "r_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotMatched == batchMatched)
    // null-extended rows may be held back by the final watermark (no
    // sentinel here — q135 gates the full flush), but every one emitted
    // must be a TRUE non-converter
    val trueNulls = bv.select("l_id").collect().map(_.getLong(0)).toSet --
      batchMatched.map(_._1)
    assert(gotNulls.subsetOf(trueNulls),
      s"false negatives emitted: ${gotNulls.diff(trueNulls).take(3)}")
  }

  test("cdc apply collapses within-batch conflicts to the last op per key") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, String, Long)]
    val store = new DocumentStore(spark, Scratch.dir(spark, "cdc"))
    // ONE batch containing: plain insert; insert superseded by delete;
    // delete superseded by re-insert; update chain. Added BEFORE the
    // AvailableNow query starts: it fixes its end offset when its stream
    // thread initializes, so data added after start() may be missed.
    in.addData(
      (1L, "a", "upsert", 1L),
      (2L, "b", "upsert", 2L), (2L, "b2", "delete", 3L),
      (3L, "c", "delete", 4L), (3L, "c2", "upsert", 5L),
      (4L, "d", "upsert", 6L), (4L, "d2", "upsert", 7L))
    EventStream.cdcApplySink(
      in.toDF().toDF("id", "payload", "op", "seq"), store, "t",
      keys = Seq("id"), opCol = "op", seqCol = "seq",
      checkpoint = Scratch.dir(spark, "cdc-ckpt")).awaitTermination()
    val got = store.read("t").select("id", "payload")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 3L -> "c2", 4L -> "d2"))
  }

  test("cdc apply: compound keys and a delete-heavy batch stay distributed") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long, Long, String, String, Long)]
    val store = new DocumentStore(spark, Scratch.dir(spark, "cdc2"))
    val ckpt = Scratch.dir(spark, "cdc2-ckpt")
    def run(): Unit = EventStream.cdcApplySink(
      in.toDF().toDF("typ", "session_id", "id", "payload", "op", "seq"), store, "t",
      keys = Seq("typ", "session_id", "id"), opCol = "op", seqCol = "seq",
      checkpoint = ckpt).awaitTermination()
    // batch 1: 500 upserts under the reference's (Type, SessionId, Id) key
    in.addData((0 until 500).map(i =>
      ("Message", (i % 10).toLong, i.toLong, s"p$i", "upsert", i.toLong)))
    run()
    assert(store.read("t").count() == 500)
    // batch 2: delete-heavy (retention-purge shape) — 400 of 500 keys go
    in.addData((0 until 500).filterNot(_ % 5 == 0).map(i =>
      ("Message", (i % 10).toLong, i.toLong, "", "delete", 1000L + i)))
    run()
    val left = store.read("t").select("id").as[Long].collect().sorted.toSeq
    assert(left == (0 until 500).filter(_ % 5 == 0).map(_.toLong))
    // same-id different-session row must be untouched by a compound delete
    in.addData(Seq(
      ("Message", 99L, 0L, "other-session", "upsert", 2000L),
      ("Message", 0L, 0L, "", "delete", 2001L)))
    run()
    val ids0 = store.read("t").filter(col("id") === 0L)
      .select("session_id").as[Long].collect().toSet
    assert(ids0 == Set(99L))
  }

  test("foreachBatch upsert sink lands every event exactly once") {
    val store = new DocumentStore(spark, Scratch.dir(spark, "sink"))
    val ckpt = Scratch.dir(spark, "ckpt")
    val q = EventStream.upsertSink(
      EventStream.source(spark, eventsDir), store, "events_sink",
      keys = Seq("event_id"), checkpoint = ckpt)
    q.awaitTermination()
    val n = store.read("events_sink").count()
    assert(n == t(spark, sf, "events").count())
    // re-run with the same checkpoint: no new data, count unchanged
    val q2 = EventStream.upsertSink(
      EventStream.source(spark, eventsDir), store, "events_sink",
      keys = Seq("event_id"), checkpoint = ckpt)
    q2.awaitTermination()
    assert(store.read("events_sink").count() == n)
  }

  test("streaming dedup drops duplicate event ids within the watermark") {
    // stage the events file TWICE: every event arrives duplicated
    val dir = java.nio.file.Paths.get(Scratch.dir(spark, "dup"))
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("a.parquet"))
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("b.parquet"))
    val deduped = EventStream.dedup(
      EventStream.source(spark, dir.toString), Seq("event_id"))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("dedup_out")
    val expected = t(spark, sf, "events").count()
    assert(got.count() == expected) // 2x input, each id exactly once
    assert(got.select("event_id").distinct().count() == expected)
  }

  test("stream-static enrichment join matches the batch join") {
    val dim = t(spark, sf, "events")
      .select(col("user_id")).distinct()
      .withColumn("segment", concat(lit("seg_"), col("user_id") % 4))
    val enriched = EventStream.enrich(
      EventStream.source(spark, eventsDir).select("event_id", "user_id"),
      dim, Seq("user_id"))
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("enrich_out")
    assert(got.count() == t(spark, sf, "events").count()) // 1:1 join, no loss
    assert(got.filter(col("segment").isNull).count() == 0)
    val sample = got.filter(col("user_id") === 7L).select("segment").head().getString(0)
    assert(sample == "seg_3")
  }

  test("threshold alerts fire exactly once, at the crossing event, across batches") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, java.sql.Timestamp)]
    def ts(s: Int) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    val alerts = EventStream.thresholdAlerts(
      spark, in.toDF().toDF("user_id", "event_id", "ts"), threshold = 3)
    val q = alerts.writeStream.outputMode("append")
      .format("memory").queryName("thresh_out").start()
    // batch 1: user 1 gets 2 events (below), user 2 gets 4 (crosses at
    // its 3rd-by-(ts,id) — out-of-order within the batch on purpose)
    in.addData((1L, 10L, ts(1)), (1L, 11L, ts(2)),
      (2L, 23L, ts(4)), (2L, 21L, ts(2)), (2L, 22L, ts(3)), (2L, 20L, ts(1)))
    q.processAllAvailable()
    // batch 2: user 1 crosses with its 3rd event; user 2 adds more
    // events and must NOT re-fire
    in.addData((1L, 12L, ts(5)), (2L, 24L, ts(6)), (2L, 25L, ts(7)))
    q.processAllAvailable()
    // batch 3: user 3 never reaches the threshold
    in.addData((3L, 30L, ts(8)))
    q.processAllAvailable(); q.stop()
    val got = spark.table("thresh_out")
      .select("user_id", "event_id", "n_at")
      .as[(Long, Long, Int)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 12L, 3), (2L, 22L, 3)))
  }
}
