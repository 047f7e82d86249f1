package graft.store

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.Tables.t

class ZOrderSpec extends AnyFunSuite with SparkSuite {

  test("zval is the exact Morton interleave of the two ranks") {
    import spark.implicits._
    // corners of the value space: rank 0 and rank 65535 each axis
    val df = Seq((0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (1.0, 1.0)).toDF("a", "b")
    val z = ZOrder.withZBucket(df, "a", "b", log2Buckets = 2)
      .select("a", "b", "zval").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getLong(2)).toMap
    assert(z((0.0, 0.0)) == 0L)
    assert(z((1.0, 0.0)) == 0x55555555L)         // all even bits
    assert(z((0.0, 1.0)) == 0xAAAAAAAAL)         // all odd bits
    assert(z((1.0, 1.0)) == 0xFFFFFFFFL)
  }

  test("3-column zval: corner interleaves land on round-robin bit lanes") {
    import spark.implicits._
    // all 8 corners of the cube: each column contributes rank 0 or 65535,
    // and column i's bits occupy z positions j*3 + i
    val corners = for (a <- Seq(0.0, 1.0); b <- Seq(0.0, 1.0); c <- Seq(0.0, 1.0))
      yield (a, b, c)
    val z = ZOrder.withZBucket(corners.toDF("a", "b", "c"), Seq("a", "b", "c"), 3)
      .select("a", "b", "c", "zval").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)) -> r.getLong(3)).toMap
    def lane(i: Int): Long = (0 until 16).map(j => 1L << (j * 3 + i)).sum
    for (a <- Seq(0.0, 1.0); b <- Seq(0.0, 1.0); c <- Seq(0.0, 1.0)) {
      val want = (if (a == 1.0) lane(0) else 0L) |
        (if (b == 1.0) lane(1) else 0L) | (if (c == 1.0) lane(2) else 0L)
      assert(z((a, b, c)) == want, s"corner ($a,$b,$c)")
    }
    // lanes are disjoint and fill exactly 48 bits
    assert((lane(0) | lane(1) | lane(2)) == (1L << 48) - 1)
  }

  test("2-column list form is bit-identical to the classic pairwise Morton code") {
    import spark.implicits._
    val df = (0 until 64).map(i => (i.toDouble / 63, (i * 37 % 64).toDouble / 63))
      .toDF("a", "b")
    val viaPair = ZOrder.withZBucket(df, "a", "b", 4)
      .select("a", "b", "zval", "zbucket")
    val viaList = ZOrder.withZBucket(df, Seq("a", "b"), 4)
      .select("a", "b", "zval", "zbucket")
    assert(viaPair.exceptAll(viaList).isEmpty && viaList.exceptAll(viaPair).isEmpty)
  }

  test("3-column layout prunes on each of the three columns") {
    val orders = t(spark, sf, "orders")
    val store = new DocumentStore(spark, Scratch.dir(spark, "zo3"))
    val z = ZOrder.withZBucket(orders,
      Seq("o_custkey", "o_totalprice", "o_orderkey"), log2Buckets = 4)
    store.create("oz3", z, partitionCol = Some("zbucket"))
    store.analyze("oz3", Seq("o_custkey", "o_totalprice", "o_orderkey"))
    val hiKey = orders.agg(max(col("o_orderkey"))).head().getLong(0) / 2
    // custkey hi=60: stays below the rank midpoint even at sf0.001 (150
    // customers), so the single top custkey bit in the bucket id can prune
    for ((c, lo, hi) <- Seq[(String, Any, Any)](("o_custkey", 10L, 60L),
        ("o_totalprice", 1000.0, 20000.0), ("o_orderkey", 0L, hiKey))) {
      val (kept, total) = store.statsPrunedParts("oz3", c, lo, hi)
      assert(kept.size < total, s"$c pruned nothing (${kept.size}/$total)")
    }
    // and the skipping read stays exact on the triple range
    val got = store.readWhere("oz3",
        Seq(("o_custkey", 10L, 60L), ("o_totalprice", 1000.0, 20000.0),
          ("o_orderkey", 0L, hiKey)))
      .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    val want = orders.filter(col("o_custkey").between(10, 60) &&
        col("o_totalprice").between(1000.0, 20000.0) &&
        col("o_orderkey").between(0L, hiKey))
      .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want)
  }

  test("z-order layout prunes on BOTH columns; linear layout only on its own") {
    val orders = t(spark, sf, "orders")
    val store = new DocumentStore(spark, Scratch.dir(spark, "zo"))
    val z = ZOrder.withZBucket(orders, "o_custkey", "o_totalprice", log2Buckets = 4)
    store.create("oz", z, partitionCol = Some("zbucket"))
    store.analyze("oz", Seq("o_custkey", "o_totalprice"))
    val (kc, tc) = store.statsPrunedParts("oz", "o_custkey", 10L, 80L)
    val (kp, tp) = store.statsPrunedParts("oz", "o_totalprice", 1000.0, 20000.0)
    assert(kc.size < tc, s"custkey pruned nothing (${kc.size}/$tc)")
    assert(kp.size < tp, s"totalprice pruned nothing (${kp.size}/$tp)")

    // the q105-style single-column layout cannot prune the OTHER column
    val width = math.max(100L, orders.agg(max(col("o_custkey"))).head().getLong(0) / 10)
    val linear = orders.withColumn("ck_bucket",
      floor(col("o_custkey") / width).cast("long"))
    store.create("olin", linear, partitionCol = Some("ck_bucket"))
    store.analyze("olin", Seq("o_totalprice"))
    val (kl, tl) = store.statsPrunedParts("olin", "o_totalprice", 1000.0, 20000.0)
    assert(kl.size == tl, "linear layout unexpectedly pruned the unclustered column")
  }

  test("readWhere over the z-layout returns exactly the filtered rows") {
    val orders = t(spark, sf, "orders")
    val store = new DocumentStore(spark, Scratch.dir(spark, "zo2"))
    store.create("oz",
      ZOrder.withZBucket(orders, "o_custkey", "o_totalprice", 4),
      partitionCol = Some("zbucket"))
    store.analyze("oz", Seq("o_custkey", "o_totalprice"))
    val got = store.readWhere("oz",
        Seq(("o_custkey", 10L, 80L), ("o_totalprice", 1000.0, 20000.0)))
      .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    val want = orders.filter(col("o_custkey").between(10, 80) &&
        col("o_totalprice").between(1000.0, 20000.0))
      .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want)
  }
}
