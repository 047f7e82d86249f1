package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.store.DocumentStore
import graft.store.Scratch

class LivenessMonitorSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def store() = new DocumentStore(spark,
    Scratch.dir(spark, "live-mon"))

  private def verdictAt(st: DocumentStore, bid: Long) =
    st.read("ver").filter(col("batch_id") === bid)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("quiet_batches"), r.getAs[Boolean]("alert"))).toMap

  test("a source going quiet alerts after quietBatches, clears on return") {
    val st = store()
    val m = new LivenessMonitor(st, "led", "ver", "src", quietBatches = 2)
    m.applyBatch(Seq("a", "b", "b").toDF("src"), 0L)
    m.applyBatch(Seq("a").toDF("src"), 1L)          // b quiet 1
    m.applyBatch(Seq("a").toDF("src"), 2L)          // b quiet 2 -> alert
    m.applyBatch(Seq("a", "b").toDF("src"), 3L)     // b returns
    assert(verdictAt(st, 0L) == Map("a" -> ((0L, false)),
      "b" -> ((0L, false))))
    assert(verdictAt(st, 1L)("b") == ((1L, false)))
    assert(verdictAt(st, 2L)("b") == ((2L, true)))
    assert(verdictAt(st, 3L)("b") == ((0L, false)))
    assert(st.read("ver").filter(col("source") === "a")
      .collect().forall(!_.getAs[Boolean]("alert")))
  }

  test("a brand-new source cannot alert; unseen source emits no row") {
    val st = store()
    val m = new LivenessMonitor(st, "led", "ver", "src", quietBatches = 1)
    m.applyBatch(Seq("a").toDF("src"), 0L)
    m.applyBatch(Seq("a", "c").toDF("src"), 1L) // c first appears
    val v1 = verdictAt(st, 1L)
    assert(v1("c") == ((0L, false)))
    assert(!v1.contains("z"))
    // before c existed there must be no batch-0 row for it
    assert(!verdictAt(st, 0L).contains("c"))
  }

  test("an all-NULL trigger accrues no silence (observed-batch units)") {
    val st = store(); val ctl = store()
    val m = new LivenessMonitor(st, "led", "ver", "src", quietBatches = 2)
    val mc = new LivenessMonitor(ctl, "led", "ver", "src",
      quietBatches = 2)
    m.applyBatch(Seq("a", "b").toDF("src"), 0L)
    mc.applyBatch(Seq("a", "b").toDF("src"), 0L)
    m.applyBatch(Seq[Option[String]](None).toDF("src"), 1L) // skipped
    m.applyBatch(Seq("a").toDF("src"), 2L)
    mc.applyBatch(Seq("a").toDF("src"), 2L)
    // b's quiet run counts OBSERVED batches only: 1, not 2 — no alert
    assert(verdictAt(st, 2L)("b") == ((1L, false)))
    assert(verdictAt(st, 2L) == verdictAt(ctl, 2L))
  }
}
