package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Proof obligations for stump training: the perfectly-separating
  * split is found with exact cell counts, the better of two features
  * wins, the h criterion matches the naive weighted-Gini argmin, and
  * training is partitioning-invariant. */
class StumpSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("finds the perfectly separating threshold with exact cells") {
    // x clustered on 10 values so the quantile grid contains the
    // boundary value 5; y = x > 5 is perfectly separable there
    val rows = (0L until 1000L).map(i => (i % 10 + 1, i * 7 % 1000, i % 10 + 1 > 5))
    val r = Stump.train(rows.toDF("x", "noise", "y"), Seq("x", "noise"), "y")
      .head()
    assert(r.getAs[String]("feature") == "x")
    assert(r.getAs[Long]("threshold") == 5L)
    assert(r.getAs[Long]("pos_left") == 0L)
    assert(r.getAs[Long]("pos_right") == r.getAs[Long]("n_right"))
    assert(r.getAs[Double]("gini") == 0.0)
  }

  test("h-argmax equals the naive weighted-Gini argmin over the same grid") {
    val rows = (1L to 200L).map(x => (x, (x * 37 % 200 > 120) ^ (x > 88)))
    val df = rows.toDF("x", "y")
    val got = Stump.train(df, Seq("x"), "y", thresholds = 16).head()
    // naive: same candidate grid (exact ranks), exhaustive weighted gini
    val xs = rows.map(_._1).sorted
    val n = xs.length
    val cands = (1 to 16).map(k => xs((k * n + 16) / 17 - 1)).distinct
    val best = cands.map { t =>
      val (l, r) = rows.partition(_._1 <= t)
      def gini(s: Seq[(Long, Boolean)]) = {
        val p = s.count(_._2).toDouble; val m = s.length
        1.0 - (p * p + (m - p) * (m - p)) / (m * m)
      }
      val g = (l.length * gini(l) + r.length * gini(r)) / n
      (g, t)
    }.filter { case (_, t) => t < xs.max }.minBy { case (g, t) => (g, t) }
    assert(got.getAs[Long]("threshold") == best._2)
    assert(got.getAs[Double]("gini") ==
      BigDecimal(best._1).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
  }

  test("training is partitioning-invariant on the real corpus") {
    import org.apache.spark.sql.functions._
    val base = graft.Tables.t(spark, sf, "documents").select(
      col("n_chars"),
      size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
        .cast("long").as("n_tokens"),
      (col("lang") === "en").as("is_en"))
    val a = Stump.train(base.repartition(3), Seq("n_chars", "n_tokens"),
      "is_en").head().toString
    val b = Stump.train(base.repartition(13, col("n_chars")),
      Seq("n_chars", "n_tokens"), "is_en").head().toString
    assert(a == b)
  }

  test("a feature spanning more than MaxSuperBuckets super-buckets fails loudly") {
    val width = Stump.MaxSuperBuckets << Stump.SuperBits
    def rows(hi: Long) = (0L until 40L).map(i => (if (i % 2 == 0) -1L else hi, i % 3 == 0))
    // at the bound: -1 and width - 1 - 2^16 sit MaxSuperBuckets buckets apart
    val atBound = width - 1L - (1L << Stump.SuperBits)
    assert(Stump.train(rows(atBound).toDF("x", "y"), Seq("x"), "y").count() == 1)
    val e = intercept[IllegalArgumentException](
      Stump.train(rows(atBound + (1L << Stump.SuperBits)).toDF("x", "y"), Seq("x"), "y"))
    assert(e.getMessage.contains("Stump.MaxSuperBuckets"), e.getMessage)
    assert(e.getMessage.contains(s"needs ${Stump.MaxSuperBuckets + 1} super-buckets"), e.getMessage)
  }
}
