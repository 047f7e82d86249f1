package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.store.DocumentStore
import graft.store.Scratch

/** Behavior obligations for the reconciliation monitor beyond the
  * base contract (LedgerMonitorSpec): exact band boundaries by integer
  * cross-multiplication, conflict surfacing, and the cumulative
  * integrity debt reading from the persisted ledger. */
class ReconcileMonitorSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def store() = new DocumentStore(spark,
    Scratch.dir(spark, "reconcile"))

  test("band boundaries land exactly (integer cross-multiplication)") {
    val st = store()
    val m = new ReconcileMonitor(st, "led", "ver", "k", "c", "p")
    // child sums: k1 = 1000 vs 1000 (exact); k2 = 999 vs 1000
    // (d*1000 = 1000 <= 1000 → within 0.1%, ON the boundary);
    // k3 = 990 vs 1000 (d*100 = 1000 <= 1000 → within 1%, boundary);
    // k4 = 900 vs 1000 (within 10%, boundary); k5 = 899 vs 1000
    // (d*10 = 1010 > 1000 → beyond)
    val batch = Seq((1L, 1000L, 1000L), (2L, 999L, 1000L),
      (3L, 990L, 1000L), (4L, 900L, 1000L), (5L, 899L, 1000L))
      .toDF("k", "c", "p")
    m.applyBatch(batch, 0L)
    val r = st.read("ver").head()
    assert(r.getAs[Long]("n_exact") == 1L)
    assert(r.getAs[Long]("n_within_0_1") == 1L)
    assert(r.getAs[Long]("n_within_1") == 1L)
    assert(r.getAs[Long]("n_within_10") == 1L)
    assert(r.getAs[Long]("n_beyond") == 1L)
    assert(r.getAs[Boolean]("alert"))
  }

  test("a key stated two ways in one batch surfaces as conflict and alerts") {
    val st = store()
    val m = new ReconcileMonitor(st, "led", "ver", "k", "c", "p")
    val batch = Seq((1L, 500L, 1000L), (1L, 500L, 999L))
      .toDF("k", "c", "p")
    m.applyBatch(batch, 0L)
    val r = st.read("ver").head()
    assert(r.getAs[Long]("n_conflict") == 1L)
    assert(r.getAs[Boolean]("alert"))
  }

  test("string keys group as-is — no numeric-cast blinding") {
    val st = store()
    val m = new ReconcileMonitor(st, "led", "ver", "k", "c", "p")
    // string invoice ids: pre-r17 the long cast nulled every row and
    // the monitor wrote a clean zero verdict instead of alerting
    val batch = Seq(("INV-1", 1000L, 1000L), ("INV-2", 100L, 1000L))
      .toDF("k", "c", "p")
    m.applyBatch(batch, 0L)
    val r = st.read("ver").head()
    assert(r.getAs[Long]("n_keys") == 2L)
    assert(r.getAs[Long]("n_exact") == 1L)
    assert(r.getAs[Long]("n_beyond") == 1L)
    assert(r.getAs[Boolean]("alert"))
  }

  test("non-integer cents refuse loudly instead of blinding the monitor") {
    val st = store()
    val m = new ReconcileMonitor(st, "led", "ver", "k", "c", "p")
    val batch = Seq(("INV-1", "not-a-number", "1000"))
      .toDF("k", "c", "p")
    val ex = intercept[IllegalArgumentException](m.applyBatch(batch, 0L))
    assert(ex.getMessage.contains("cast to NULL long"))
  }

  test("the streaming start path lands verdicts through foreachBatch") {
    val st = store()
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long)]
    val qy = ReconcileMonitor.start(mem.toDF().toDF("k", "c", "p"), st,
      "led", "ver", "k", "c", "p",
      Scratch.dir(spark, "rec-ckpt"))
    try {
      mem.addData((1L, 1000L, 1000L), (2L, 100L, 1000L))
      qy.processAllAvailable()
    } finally qy.stop()
    val r = st.read("ver").head()
    assert(r.getAs[Long]("n_exact") == 1L)
    assert(r.getAs[Long]("n_beyond") == 1L)
    assert(r.getAs[Boolean]("alert"))
  }

  test("cumulative beyond count ledgers across batches") {
    val st = store()
    val m = new ReconcileMonitor(st, "led", "ver", "k", "c", "p")
    m.applyBatch(Seq((1L, 100L, 1000L)).toDF("k", "c", "p"), 0L) // beyond
    m.applyBatch(Seq((2L, 1000L, 1000L)).toDF("k", "c", "p"), 1L) // exact
    m.applyBatch(Seq((3L, 100L, 1000L)).toDF("k", "c", "p"), 2L) // beyond
    val rows = st.read("ver").orderBy(col("batch_id")).collect()
    assert(rows.map(_.getAs[Long]("cum_beyond")).toSeq == Seq(1L, 1L, 2L))
    assert(rows.map(_.getAs[Boolean]("alert")).toSeq ==
      Seq(true, false, true))
  }
}
