package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{KeywordRank, Spectral, TrendTests}

/** Pinned-block hygiene — the r13 finding: one operator leaking its
  * `localCheckpoint` blocks inflated every OTHER query sharing the JVM
  * by 18-31% (the entire apparent BENCH_r13 regression). Operators that
  * pin intermediates and return driver-materialized results must release
  * their blocks before returning; index builders must release on
  * `close()`. These tests are the tripwire: a future checkpoint added
  * without a try/finally fails here, not in the round's bench artifact. */
class LeakHygieneSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  private def sweep(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }
  private def pinned: Int = spark.sparkContext.getPersistentRDDs.size

  test("Spectral.topComponent releases its checkpointed projection") {
    sweep()
    val df = (0 until 64)
      .map(i => Tuple1(Array(i.toFloat, (i % 7).toFloat, 1.0f).toSeq))
      .toDF("vec")
    val res = Spectral.topComponent(df, "vec", iters = 3)
    assert(res.count() == 3)
    assert(pinned == 0, "topComponent left persistent RDDs pinned")
  }

  test("TrendTests.theilSen releases its checkpointed grid + histogram") {
    sweep()
    val df = (1 to 40).map(i => (i.toLong, i * 2.0 + (i % 3))).toDF("t", "v")
    val res = TrendTests.theilSen(df, "t", "v")
    assert(res.count() == 1)
    assert(pinned == 0, "theilSen left persistent RDDs pinned")
  }

  test("KeywordRank index close() releases tf+lens; gate pattern leaves only the result") {
    sweep()
    val docs = Seq((1L, "alpha beta beta"), (2L, "beta gamma"), (3L, "alpha"))
      .toDF("doc_id", "text")
    val idx = KeywordRank.buildIndex(docs, "doc_id", "text")
    assert(KeywordRank.tfidfIndexed(idx, topK = 2).count() > 0)
    assert(pinned > 0, "index should pin tf/lens while open")
    idx.close()
    assert(pinned == 0, "close() must release the index blocks")
  }

  test("the q65/q66 gate shape pins NOTHING after evaluation") {
    sweep()
    val res = SparkEntry.queries("q65_tfidf")(spark, sf)
    assert(res.count() > 0)
    // the index (tf + lens = 2 blocks) must be closed, and as of r18 the
    // gate's own result goes through Scratch.rematerialize — a parquet
    // scan, not a checkpoint — so zero blocks survive the call
    assert(pinned == 0,
      s"q65 gate left $pinned persistent RDDs — index not closed or " +
        "result checkpointed instead of rematerialized")
  }

  test("the four r17-flagged gates leave zero pinned RDDs " +
      "(pagerank, tfidf, pack_sequences, semantic_dedup)") {
    for (q <- Seq("q155_pagerank", "q65_tfidf", "q86_pack_sequences",
        "q94_semantic_dedup")) {
      sweep()
      assert(SparkEntry.queries(q)(spark, sf).count() > 0, q)
      assert(pinned == 0, s"$q left $pinned persistent RDDs pinned")
    }
  }

  test("the q398 chat-turn gate leaves zero pinned RDDs (its engine closes " +
      "the pinned corpus)") {
    sweep()
    assert(SparkEntry.queries("q398_chat_turn")(spark, sf).count() > 0)
    assert(pinned == 0, s"q398_chat_turn left $pinned persistent RDDs pinned")
  }

  test("every iterative graph gate leaves zero pinned RDDs " +
      "(kcore, label_prop, bfs, harmonic, hits)") {
    for (q <- Seq("q190_kcore", "q191_label_propagation", "q194_bfs_hops",
        "q217_harmonic_centrality", "q317_hits")) {
      sweep()
      // evaluate fully (q190's k=80 core is legitimately EMPTY at this
      // sf — the pinned check is the assertion, not the row count)
      assert(SparkEntry.queries(q)(spark, sf).count() >= 0, q)
      assert(pinned == 0, s"$q left $pinned persistent RDDs pinned")
    }
  }

  test("Clusters.dropNearDuplicates leaves zero pinned RDDs") {
    sweep()
    val docs = (0 until 40).map(i =>
      (i.toLong, s"tok${i % 7} alpha beta gamma delta tok${i % 7} " * 3))
      .toDF("doc_id", "text")
    assert(graft.operators.Clusters
      .dropNearDuplicates(docs, "doc_id", "text", threshold = 0.5)
      .count() > 0)
    assert(pinned == 0, "dropNearDuplicates left persistent RDDs pinned")
  }

  test("Drift.wasserstein1 releases its pinned value grid") {
    sweep()
    val a = (1 to 200).map(i => Tuple1((i % 23).toLong)).toDF("v")
    val b = (1 to 150).map(i => Tuple1((i % 31).toLong)).toDF("v")
    val res = graft.operators.Drift.wasserstein1(a, b, "v")
    assert(res.count() == 1)
    assert(pinned == 0, "wasserstein1 left persistent RDDs pinned")
  }

  test("retention / fano / levene release their pinned grids") {
    sweep()
    import java.sql.Timestamp
    val ev = (1 to 200).map(i => (i.toLong % 20,
      Timestamp.valueOf(f"2024-01-${i % 28 + 1}%02d 12:00:00")))
      .toDF("u", "ts")
    assert(graft.operators.Cohorts.retention(ev, "u", "ts",
      "2024-01-01").count() > 0)
    assert(pinned == 0, "retention left persistent RDDs pinned")
    val grid = (1 to 200).map(i => (s"g${i % 3}", (i % 24).toLong))
      .toDF("g", "h")
    assert(graft.operators.Dispersion.fano(grid, "g", "h").count() > 0)
    assert(graft.operators.Dispersion.zeroInflation(grid, "g", "h")
      .count() > 0)
    assert(pinned == 0, "dispersion left persistent RDDs pinned")
    val lv = (1 to 100).map(i => (s"g${i % 3}", (i % 17).toLong))
      .toDF("g", "x")
    assert(graft.operators.Variance.levene(lv, "g", "x").count() > 0)
    assert(pinned == 0, "levene left persistent RDDs pinned")
  }
}
