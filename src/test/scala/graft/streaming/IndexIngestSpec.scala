package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.search.InvertedIndex
import graft.store.DocumentStore
import graft.store.Scratch

class IndexIngestSpec extends AnyFunSuite with SparkSuite {

  private def corpus(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def indexEquals(dirA: String, dirB: String): Boolean = {
    val a = new DocumentStore(spark, dirA)
    val b = new DocumentStore(spark, dirB)
    Seq("postings", "docmap", "meta").forall { t =>
      val x = a.read(t); val y = b.read(t)
      x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
    }
  }

  test("micro-batched changes converge to the full rebuild, batch boundaries anywhere") {
    import spark.implicits._
    val dir = Scratch.dir(spark, "iis")
    InvertedIndex.build(corpus((1L, "alpha beta"), (2L, "beta gamma"),
      (3L, "gamma delta")), "doc_id", "text", dir)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Long, String)]
    val qy = IndexIngest.start(
      mem.toDF().toDF("change", "doc_id", "text"), dir,
      "doc_id", "text", "change",
      Scratch.dir(spark, "iis-ckpt"))
    try {
      mem.addData(("delete", 2L, ""), ("update", 1L, "alpha beta epsilon"))
      qy.processAllAvailable()
      mem.addData(("insert", 9L, "epsilon zeta"))
      qy.processAllAvailable()
    } finally qy.stop()
    val dir2 = Scratch.dir(spark, "iis-rebuild")
    InvertedIndex.build(corpus((1L, "alpha beta epsilon"), (3L, "gamma delta"),
      (9L, "epsilon zeta")), "doc_id", "text", dir2)
    assert(indexEquals(dir, dir2))
    // the post-stream term is immediately searchable
    val hits = InvertedIndex.search(spark, dir, Seq("epsilon"), k = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hits == Set(1L, 9L))
  }

  test("replayed batch is idempotent: re-applying the same delta changes nothing") {
    import spark.implicits._
    val dir = Scratch.dir(spark, "iis-r")
    InvertedIndex.build(corpus((1L, "a b"), (2L, "b c")), "doc_id", "text", dir)
    val delta = corpus((2L, "b c d"), (5L, "d e"))
    InvertedIndex.add(spark, dir, delta, "doc_id", "text")
    val snap = Scratch.dir(spark, "iis-snap")
    InvertedIndex.build(corpus((1L, "a b"), (2L, "b c d"), (5L, "d e")),
      "doc_id", "text", snap)
    assert(indexEquals(dir, snap))
    // crash-replay: the sink re-applies the SAME batch — state unchanged
    InvertedIndex.add(spark, dir, delta, "doc_id", "text")
    InvertedIndex.remove(spark, dir, Seq(999L)) // absent id: no-op
    assert(indexEquals(dir, snap))
  }

  test("mixed delete/update/insert trigger converges to the rebuild") {
    import spark.implicits._
    val dir = Scratch.dir(spark, "iis-big")
    InvertedIndex.build(corpus((1L, "alpha beta"), (2L, "beta gamma"),
      (3L, "gamma delta"), (4L, "delta rho")), "doc_id", "text", dir)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Long, String)]
    val qy = IndexIngest.start(
      mem.toDF().toDF("change", "doc_id", "text"), dir,
      "doc_id", "text", "change",
      Scratch.dir(spark, "iis-big-ckpt"))
    try {
      mem.addData(("delete", 2L, ""), ("update", 1L, "alpha beta epsilon"),
        ("insert", 9L, "epsilon zeta"), ("insert", 10L, "zeta iota"),
        ("insert", 11L, "iota kappa"), ("delete", 4L, ""))
      qy.processAllAvailable()
    } finally qy.stop()
    val dir2 = Scratch.dir(spark, "iis-big-rebuild")
    InvertedIndex.build(corpus((1L, "alpha beta epsilon"), (3L, "gamma delta"),
      (9L, "epsilon zeta"), (10L, "zeta iota"), (11L, "iota kappa")),
      "doc_id", "text", dir2,
      buckets = InvertedIndex.layoutBuckets(spark, dir))
    assert(indexEquals(dir, dir2))
    val hits = InvertedIndex.search(spark, dir, Seq("iota"), k = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hits == Set(10L, 11L))
  }

  test("pure-insert trigger appends and converges to the rebuild") {
    import spark.implicits._
    val dir = Scratch.dir(spark, "iis-bi")
    InvertedIndex.build(corpus((1L, "alpha beta"), (2L, "beta gamma")),
      "doc_id", "text", dir)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Long, String)]
    val qy = IndexIngest.start(
      mem.toDF().toDF("change", "doc_id", "text"), dir,
      "doc_id", "text", "change",
      Scratch.dir(spark, "iis-bi-ckpt"))
    try {
      mem.addData(("insert", 7L, "mu nu"), ("insert", 8L, "nu xi"),
        ("insert", 9L, "xi omicron"))
      qy.processAllAvailable()
    } finally qy.stop()
    val dir2 = Scratch.dir(spark, "iis-bi-rebuild")
    InvertedIndex.build(corpus((1L, "alpha beta"), (2L, "beta gamma"),
      (7L, "mu nu"), (8L, "nu xi"), (9L, "xi omicron")),
      "doc_id", "text", dir2,
      buckets = InvertedIndex.layoutBuckets(spark, dir))
    assert(indexEquals(dir, dir2))
  }

  test("in-batch delete+reinsert of one key lands as the reinsert (last wins)") {
    import spark.implicits._
    val dir = Scratch.dir(spark, "iis-lw")
    InvertedIndex.build(corpus((1L, "a b"), (2L, "b c")), "doc_id", "text", dir)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Long, String, Long)]
    val qy = IndexIngest.start(
      mem.toDF().toDF("change", "doc_id", "text", "v"), dir,
      "doc_id", "text", "change",
      Scratch.dir(spark, "iis-lw-ckpt"),
      versionCol = Some("v"))
    try {
      mem.addData(("delete", 2L, "", 1L), ("insert", 2L, "b c reborn", 2L))
      qy.processAllAvailable()
    } finally qy.stop()
    val hits = InvertedIndex.search(spark, dir, Seq("reborn"), k = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hits == Set(2L))
  }

  /** Rows each data-returning action handed the driver: the output rows
    * of the topmost plan node that counts them (an upper bound under a
    * limit). Writes are skipped — they return no rows. */
  private def rowsReturned(p: org.apache.spark.sql.execution.SparkPlan): Option[Long] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => rowsReturned(a.executedPlan)
      case q: QueryStageExec => rowsReturned(q.plan)
      case _ if p.metrics.contains("numOutputRows") => Some(p.metrics("numOutputRows").value)
      case _ => p.children.iterator.map(rowsReturned).collectFirst { case Some(n) => n }
    }
  }

  test("bounded driver: no action returns more rows than buckets") {
    import spark.implicits._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val buckets = 8
    val base = (1L to 120L).map(i => (i, s"w${i % 13} common t$i"))
    val dir = Scratch.dir(spark, "iis-bound")
    InvertedIndex.build(corpus(base: _*), "doc_id", "text", dir, buckets = buckets)
    // 60 deletes, 60 updates, 60 inserts: 180 changed ids over 8 buckets
    val changes = (1L to 60L).map(i => ("delete", i, "")) ++
      (61L to 120L).map(i => ("update", i, s"w${i % 7} fresh u$i")) ++
      (1001L to 1060L).map(i => ("insert", i, s"w${i % 5} new n$i"))
    assert(changes.size >= 20 * buckets)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName != "command" && funcName != "save")
          rowsReturned(qe.executedPlan).foreach(n => seen.add((funcName, n)))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Long, String)]
    // registered before the start: the stream runs on a clone of the
    // session, which copies the listeners it has at that moment
    spark.listenerManager.register(listener)
    try {
      val qy = IndexIngest.start(mem.toDF().toDF("change", "doc_id", "text"), dir,
        "doc_id", "text", "change", Scratch.dir(spark, "iis-bound-ckpt"))
      try {
        mem.addData(changes: _*)
        qy.processAllAvailable()
      } finally qy.stop()
      assert(org.apache.spark.sql.GraftSqlBridge.drainListeners(spark.sparkContext))
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val actions = seen.asScala.toSeq
    assert(actions.nonEmpty, "no action observed")
    assert(actions.forall(_._2 <= buckets), s"an action returned more than $buckets rows: $actions")
    val rebuilt = Scratch.dir(spark, "iis-bound-rebuild")
    val kept = base.filter(_._1 > 60L).map { case (i, _) => (i, s"w${i % 7} fresh u$i") } ++
      (1001L to 1060L).map(i => (i, s"w${i % 5} new n$i"))
    InvertedIndex.build(corpus(kept: _*), "doc_id", "text", rebuilt, buckets = buckets)
    assert(indexEquals(dir, rebuilt))
  }
}
