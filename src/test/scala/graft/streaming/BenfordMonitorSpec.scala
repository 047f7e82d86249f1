package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.store.DocumentStore
import graft.store.Scratch

/** Proof obligations for the streaming Benford monitor: batch-vs-
  * cumulative attribution, crash-replay idempotence (including replay
  * AFTER later batches landed), and agreement with the batch audit. */
class BenfordMonitorSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def store() = new DocumentStore(spark,
    Scratch.dir(spark, "benford-mon"))

  private def batchOf(vs: Seq[Double]) =
    vs.map(v => ("feed", v)).toDF("src", "v")

  private val benfordish = (0 until 100).map(i => math.pow(1.1, i / 3.0))
  private val uniform = (0 until 100).map(i => (1 + i % 9) * 111.0)

  test("the fabricated batch alerts on ITS chi2; cumulative dampens") {
    val st = store()
    BenfordMonitor.applyBatch(batchOf(benfordish), 0L, st, "led", "ver",
      "src", "v", chiThreshold = 30.0, minN = 50L)
    BenfordMonitor.applyBatch(batchOf(uniform), 1L, st, "led", "ver",
      "src", "v", chiThreshold = 30.0, minN = 50L)
    val v = st.read("ver").orderBy($"batch_id").collect()
    assert(!v(0).getAs[Boolean]("alert") && v(1).getAs[Boolean]("alert"))
    assert(v(1).getAs[Double]("chi2_cum") < v(1).getAs[Double]("chi2_batch"))
    assert(v(1).getAs[Long]("n_cum") == 200L)
    // batch chi2 agrees with the batch-mode audit operator
    val audit = graft.operators.Benford.firstDigitAudit(
      batchOf(uniform), "src", "v").head().getAs[Double]("chi2")
    assert(v(1).getAs[Double]("chi2_batch") == audit)
  }

  test("replaying a batch is a no-op, even after later batches landed") {
    val st = store()
    BenfordMonitor.applyBatch(batchOf(benfordish), 0L, st, "led", "ver",
      "src", "v", 30.0, 50L)
    BenfordMonitor.applyBatch(batchOf(uniform), 1L, st, "led", "ver",
      "src", "v", 30.0, 50L)
    val before = st.read("ver").orderBy($"batch_id", $"src")
      .collect().map(_.toString).toSeq
    val ledBefore = st.read("led").orderBy($"batch_id", $"src", $"d")
      .collect().map(_.toString).toSeq
    // crash-replay of batch 0 with batch 1 already present: the
    // cumulative read is bounded at batch_id <= 0, so the verdict row
    // recomputes identically and both upserts are no-ops
    BenfordMonitor.applyBatch(batchOf(benfordish), 0L, st, "led", "ver",
      "src", "v", 30.0, 50L)
    assert(st.read("ver").orderBy($"batch_id", $"src")
      .collect().map(_.toString).toSeq == before)
    assert(st.read("led").orderBy($"batch_id", $"src", $"d")
      .collect().map(_.toString).toSeq == ledBefore)
  }
}
