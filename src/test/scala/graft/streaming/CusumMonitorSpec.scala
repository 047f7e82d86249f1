package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.store.DocumentStore
import graft.store.Scratch

/** Proof obligations for the streaming CUSUM monitor: accumulation
  * across batches (the thing a per-batch threshold cannot see),
  * two-sidedness, crash-replay idempotence, and the all-NULL-batch
  * guard. */
class CusumMonitorSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def store() = new DocumentStore(spark,
    Scratch.dir(spark, "cusum-mon"))

  private def batchOf(vs: Seq[Double]) = vs.toDF("v")

  test("a sustained small shift accumulates past h; a spike batch alone does not") {
    val st = store()
    // target 10, k 1, h 5: batches at mean 13 drift +2/batch
    val b = Seq.fill(50)(13.0)
    for (i <- 0 until 4)
      CusumMonitor.applyBatch(batchOf(b), i.toLong, st, "led", "ver", "v",
        target = 10.0, k = 1.0, h = 5.0)
    val v = st.read("ver").orderBy($"batch_id").collect()
    val pos = v.map(_.getAs[Double]("cusum_pos"))
    assert(pos.toSeq == Seq(2.0, 4.0, 6.0, 8.0))
    assert(v.map(_.getAs[Boolean]("alert")).toSeq ==
      Seq(false, false, true, true))
  }

  test("downward shifts trip the negative side") {
    val st = store()
    for (i <- 0 until 3)
      CusumMonitor.applyBatch(batchOf(Seq.fill(20)(4.0)), i.toLong, st,
        "led", "ver", "v", target = 10.0, k = 1.0, h = 8.0)
    val v = st.read("ver").orderBy($"batch_id").collect()
    assert(v.map(_.getAs[Double]("cusum_neg")).toSeq == Seq(5.0, 10.0, 15.0))
    assert(v.map(_.getAs[Double]("cusum_pos")).forall(_ == 0.0))
    assert(v.map(_.getAs[Boolean]("alert")).toSeq ==
      Seq(false, true, true))
  }

  test("replaying a batch is a no-op, even after later batches landed") {
    val st = store()
    CusumMonitor.applyBatch(batchOf(Seq(12.0, 14.0)), 0L, st, "led", "ver",
      "v", 10.0, 1.0, 5.0)
    CusumMonitor.applyBatch(batchOf(Seq(13.0)), 1L, st, "led", "ver",
      "v", 10.0, 1.0, 5.0)
    val before = st.read("ver").orderBy($"batch_id")
      .collect().map(_.toString).toSeq
    CusumMonitor.applyBatch(batchOf(Seq(12.0, 14.0)), 0L, st, "led", "ver",
      "v", 10.0, 1.0, 5.0)
    val after = st.read("ver").orderBy($"batch_id")
      .collect().map(_.toString).toSeq
    assert(before == after)
  }

  test("an all-NULL batch records n=0 and does not wedge or alert") {
    val st = store()
    CusumMonitor.applyBatch(batchOf(Seq(13.0)), 0L, st, "led", "ver",
      "v", 10.0, 1.0, 5.0)
    CusumMonitor.applyBatch(
      Seq.empty[Option[Double]].toDF("v")
        .union(Seq(Option.empty[Double]).toDF("v")),
      1L, st, "led", "ver", "v", 10.0, 1.0, 5.0)
    CusumMonitor.applyBatch(batchOf(Seq(13.0)), 2L, st, "led", "ver",
      "v", 10.0, 1.0, 5.0)
    val v = st.read("ver").orderBy($"batch_id").collect()
    assert(v(1).getAs[Long]("n_batch") == 0L &&
      !v(1).getAs[Boolean]("alert"))
    // the empty batch contributes nothing: batch 2 continues from batch 0
    assert(v(2).getAs[Double]("cusum_pos") == 4.0)
  }
}
