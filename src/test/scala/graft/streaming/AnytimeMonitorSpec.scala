package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.store.DocumentStore
import graft.store.Scratch

/** Proof obligations for the streaming anytime monitor: evidence
  * accumulates across batches, the boundary crosses exactly when the
  * cumulative trajectory justifies it, p is monotone, replays are
  * no-ops, and one-armed batches carry p forward instead of wedging. */
class AnytimeMonitorSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def store() = new DocumentStore(spark,
    Scratch.dir(spark, "anytime-mon"))

  private def batchOf(rows: Seq[(Int, Boolean)]) = rows.toDF("arm", "y")

  private val lifted = (0 until 200).flatMap(i =>
    Seq((0, i % 10 < 3), (1, i % 10 < 6)))
  private val nullish = (0 until 200).flatMap(i =>
    Seq((0, i % 10 < 3), (1, i % 10 < 3)))

  test("a sustained lift accumulates to significance; p is monotone") {
    val st = store()
    for (i <- 0 until 5)
      AnytimeMonitor.applyBatch(batchOf(lifted), i.toLong, st, "led",
        "ver", "arm", "y", tau = 1e-4, alpha = 0.05)
    val v = st.read("ver").orderBy($"batch_id").collect()
    val ps = v.map(_.getAs[Double]("p_anytime"))
    assert(ps.zip(ps.tail).forall { case (a, b) => b <= a })
    assert(v.last.getAs[Boolean]("significant"))
  }

  test("a null effect never crosses; replays are no-ops") {
    val st = store()
    for (i <- 0 until 4)
      AnytimeMonitor.applyBatch(batchOf(nullish), i.toLong, st, "led",
        "ver", "arm", "y", 1e-4, 0.05)
    val before = st.read("ver").orderBy($"batch_id")
      .collect().map(_.toString).toSeq
    assert(before.forall(_.contains("false")))
    AnytimeMonitor.applyBatch(batchOf(nullish), 1L, st, "led", "ver",
      "arm", "y", 1e-4, 0.05)
    val after = st.read("ver").orderBy($"batch_id")
      .collect().map(_.toString).toSeq
    assert(before == after)
  }

  test("a one-armed batch carries p forward instead of wedging") {
    val st = store()
    AnytimeMonitor.applyBatch(batchOf(lifted), 0L, st, "led", "ver",
      "arm", "y", 1e-4, 0.05)
    val p0 = st.read("ver").filter($"batch_id" === 0)
      .head().getAs[Double]("p_anytime")
    AnytimeMonitor.applyBatch(
      batchOf(Seq.fill(50)((0, true))), 1L, st, "led", "ver",
      "arm", "y", 1e-4, 0.05)
    val p1 = st.read("ver").filter($"batch_id" === 1)
      .head().getAs[Double]("p_anytime")
    assert(p1 <= p0 + 1e-12, "running min never rises")
  }
}
