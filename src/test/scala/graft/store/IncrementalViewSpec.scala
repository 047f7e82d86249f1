package graft.store

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

class IncrementalViewSpec extends AnyFunSuite with SparkSuite {

  private def stores() = (
    new DocumentStore(spark, Scratch.dir(spark, "iv-src")),
    new DocumentStore(spark, Scratch.dir(spark, "iv-st")))

  private def state(st: DocumentStore) =
    st.read("agg").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2).doubleValue())).toMap

  test("insert/update/delete deltas including a group MOVE keep the view exact") {
    import spark.implicits._
    val (src, st) = stores()
    src.create("t", Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
      .toDF("id", "g", "v"))                                          // v1
    IncrementalView.initialize(src, "t", st, "agg", "g", "v")
    src.delete("t", col("id") === 2)                                  // v2
    src.upsert("t", Seq(
        (1L, "b", 15.0),  // update that MOVES group a -> b
        (4L, "c", 40.0))  // insert creating a new group
      .toDF("id", "g", "v"), Seq("id"))                               // v3
    IncrementalView.maintain(src, "t", 1, 3, "id", "g", "v", st, "agg")
    // group a emptied (row1 moved, row2 deleted) -> must LEAVE the view
    assert(state(st) == Map("b" -> (2L, 45.0), "c" -> (1L, 40.0)))
  }

  test("maintained state always equals a from-scratch recompute") {
    import spark.implicits._
    val (src, st) = stores()
    val base = (1L to 60L).map(i => (i, s"g${i % 4}", i * 1.5))
    src.create("t", base.toDF("id", "g", "v"))
    IncrementalView.initialize(src, "t", st, "agg", "g", "v")
    src.delete("t", col("id") % 7 === 0)
    src.upsert("t", (1L to 10L).map(i => (i, s"g${(i + 1) % 4}", i * 2.0))
      .toDF("id", "g", "v"), Seq("id"))
    IncrementalView.maintain(src, "t", 1, 3, "id", "g", "v", st, "agg")
    val recomputed = src.read("t").groupBy(col("g"))
      .agg(count(lit(1)).as("cnt"), sum(col("v").cast("decimal(18,2)")).as("sum_val"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2).doubleValue())).toMap
    assert(state(st) == recomputed)
  }

  private def fullState(st: DocumentStore) =
    IncrementalView.derived(st.read("agg")).collect().map { r =>
      r.getAs[String]("g") -> ((r.getAs[Long]("cnt"),
        r.getAs[java.math.BigDecimal]("sum_val").doubleValue(),
        r.getAs[java.math.BigDecimal]("min_val").doubleValue(),
        r.getAs[java.math.BigDecimal]("max_val").doubleValue(),
        r.getAs[Double]("avg_val")))
    }.toMap

  test("delete of the max triggers the recount fallback and stays exact") {
    import spark.implicits._
    val (src, st) = stores()
    src.create("t", Seq((1L, "a", 10.0), (2L, "a", 50.0), (3L, "a", 30.0),
      (4L, "b", 5.0)).toDF("id", "g", "v"))
    IncrementalView.initialize(src, "t", st, "agg", "g", "v")
    src.delete("t", col("id") === 2) // removes a's MAX
    IncrementalView.maintain(src, "t", 1, 2, "id", "g", "v", st, "agg")
    assert(fullState(st) == Map(
      "a" -> ((2L, 40.0, 10.0, 30.0, 20.0)),
      "b" -> ((1L, 5.0, 5.0, 5.0, 5.0))))
  }

  test("insert-only epoch maintains min/max incrementally, avg derives") {
    import spark.implicits._
    val (src, st) = stores()
    src.create("t", Seq((1L, "a", 10.0), (2L, "a", 30.0)).toDF("id", "g", "v"))
    IncrementalView.initialize(src, "t", st, "agg", "g", "v")
    src.upsert("t", Seq((3L, "a", 5.0), (4L, "a", 99.0)).toDF("id", "g", "v"),
      Seq("id")) // both new extremes arrive by insert: no recount needed
    IncrementalView.maintain(src, "t", 1, 2, "id", "g", "v", st, "agg")
    assert(fullState(st) == Map("a" -> ((4L, 144.0, 5.0, 99.0, 36.0))))
  }

  test("distinct sketch: insert-only epochs union; a removal rebuilds") {
    import spark.implicits._
    val (src, st) = stores()
    src.create("t", Seq((1L, "a", 1.0, 100L), (2L, "a", 2.0, 200L))
      .toDF("id", "g", "v", "d"))
    IncrementalView.initialize(src, "t", st, "agg", "g", "v", Some("d"))
    def nd(): Long = IncrementalView.derived(st.read("agg"))
      .select("nd").head().getLong(0)
    assert(nd() == 2L)
    // insert-only: a new distinct value and a duplicate of an existing one
    src.upsert("t", Seq((3L, "a", 3.0, 300L), (4L, "a", 4.0, 200L))
      .toDF("id", "g", "v", "d"), Seq("id"))
    IncrementalView.maintain(src, "t", 1, 2, "id", "g", "v", st, "agg", Some("d"))
    assert(nd() == 3L) // HLL exact at tiny cardinalities; union caught the dup
    // a removal forces the sketch rebuild (HLL cannot forget): the only
    // row carrying d=100 leaves, and the estimate must follow
    src.delete("t", col("id") === 1)
    IncrementalView.maintain(src, "t", 2, 3, "id", "g", "v", st, "agg", Some("d"))
    assert(nd() == 2L)
  }

  test("an epoch with a no-op restatement leaves the view untouched") {
    import spark.implicits._
    val (src, st) = stores()
    src.create("t", Seq((1L, "a", 10.0)).toDF("id", "g", "v"))
    IncrementalView.initialize(src, "t", st, "agg", "g", "v")
    src.upsert("t", Seq((1L, "a", 10.0)).toDF("id", "g", "v"), Seq("id")) // identical
    IncrementalView.maintain(src, "t", 1, 2, "id", "g", "v", st, "agg")
    assert(state(st) == Map("a" -> (1L, 10.0)))
  }
}
