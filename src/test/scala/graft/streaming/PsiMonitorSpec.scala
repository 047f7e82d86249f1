package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.store.DocumentStore
import graft.store.Scratch

/** Proof obligations for the streaming PSI monitor: the shifted batch
  * alerts on its own PSI, agreement with the batch-mode audit, and
  * crash-replay idempotence after later batches landed. */
class PsiMonitorSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def store() = new DocumentStore(spark,
    Scratch.dir(spark, "psi-mon"))

  private val refVals = (0 until 400).map(i => (i % 100).toLong)
  private def ref = refVals.map(Tuple1(_)).toDF("v")
  private val clean = (0 until 200).map(i => Tuple1(((i * 7) % 100).toLong))
  private val shifted = (0 until 200).map(i => Tuple1((i % 100 + 70).toLong))

  private def run(st: DocumentStore): Unit = {
    val (edges, rv) = graft.operators.Drift.psiEdges(ref, "v", 10)
    val refCells = rv.select(graft.operators.Drift.psiBin(edges).as("bin"))
      .groupBy($"bin").agg(count(lit(1)).as("n_ref"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    PsiMonitor.applyBatch(clean.toDF("v"), 0L, st, "led", "ver", edges,
      refCells, "v", alertAbove = 0.25)
    PsiMonitor.applyBatch(shifted.toDF("v"), 1L, st, "led", "ver", edges,
      refCells, "v", alertAbove = 0.25)
  }

  test("the shifted batch alerts on its own PSI; batch == batch-mode audit") {
    val st = store()
    run(st)
    val v = st.read("ver").orderBy($"batch_id").collect()
    assert(!v(0).getAs[Boolean]("alert") && v(1).getAs[Boolean]("alert"))
    val batchMode = graft.operators.Drift.psi(ref, shifted.toDF("v"), "v")
      .head().getAs[Double]("psi")
    assert(v(1).getAs[Double]("psi_batch") == batchMode)
  }

  test("replaying a batch is a no-op, even after later batches landed") {
    val st = store()
    run(st)
    val before = st.read("ver").orderBy($"batch_id").collect()
      .map(_.toString).toSeq
    val (edges, rv) = graft.operators.Drift.psiEdges(ref, "v", 10)
    val refCells = rv.select(graft.operators.Drift.psiBin(edges).as("bin"))
      .groupBy($"bin").agg(count(lit(1)).as("n_ref"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    PsiMonitor.applyBatch(clean.toDF("v"), 0L, st, "led", "ver", edges,
      refCells, "v", alertAbove = 0.25)
    assert(st.read("ver").orderBy($"batch_id").collect()
      .map(_.toString).toSeq == before)
  }
}
