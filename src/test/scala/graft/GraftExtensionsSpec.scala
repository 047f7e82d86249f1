package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite with SparkSuite {

  private val functions = Seq("vec_dot", "cosine_sim", "l2_dist_sq", "l2_norm",
    "vec_quantize_i8", "cosine_sim_i8", "vec_dequantize_i8", "pq_adc_dot")

  test("SparkSessionExtensions path registers the vector functions") {
    // Force a genuinely new session (getOrCreate would silently reuse the
    // shared suite session and skip the extensions); the JVM-wide
    // SparkContext is still reused underneath. `withExtensions` drives the
    // same injection as `spark.sql.extensions=graft.GraftExtensions` in
    // spark-defaults — the config form only loads at SparkContext
    // creation, which an earlier suite already did here.
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-test")
        .withExtensions(new GraftExtensions)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val r = s.sql(
        """SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
          |                  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c,
          |       vec_dot(array(CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT))) AS d,
          |       l2_norm(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS n,
          |       l2_dist_sq(array(CAST(0.0 AS FLOAT)), array(CAST(2.0 AS FLOAT))) AS e
          |""".stripMargin).head()
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
      assert(math.abs(r.getDouble(1) - 6.0) < 1e-12)
      assert(math.abs(r.getDouble(2) - 5.0) < 1e-12)
      assert(math.abs(r.getDouble(3) - 4.0) < 1e-12)
      // wrong arity => proper AnalysisException, not IndexOutOfBounds
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        s.sql("SELECT cosine_sim(array(CAST(1.0 AS FLOAT)))").head()
      }
      assert(e.getMessage.contains("cosine_sim"))
      // the quantized and PQ kernels install through the same path
      for (f <- functions)
        assert(s.catalog.functionExists(f), s"$f not installed by GraftExtensions")
      val q = s.sql(
        """SELECT cosine_sim_i8(vec_quantize_i8(v).q, vec_quantize_i8(v).q) AS c,
          |       vec_dequantize_i8(vec_quantize_i8(v).q, vec_quantize_i8(v).scale) AS dq,
          |       pq_adc_dot(unhex('0001'), array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT),
          |                                       CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS adc
          |FROM (SELECT array(CAST(3.0 AS FLOAT), CAST(-1.0 AS FLOAT)) AS v)
          |""".stripMargin).head()
      assert(math.abs(q.getDouble(0) - 1.0) < 1e-12)
      val dq = q.getSeq[Float](1)
      assert(math.abs(dq(0) - 3.0) < 1e-5 && math.abs(dq(1) + 1.0) < 3.0 / 127)
      assert(q.getDouble(2) == 5.0) // lut[0*2 + 0] + lut[1*2 + 1]
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("GraftSession.local installs all eight functions through the extensions") {
    for (f <- functions)
      assert(spark.catalog.functionExists(f), s"$f not installed by GraftSession.local")
    val r = spark.sql(
      """SELECT vec_dot(array(CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT))) AS d,
        |       cosine_sim_i8(vec_quantize_i8(v).q, vec_quantize_i8(v).q) AS c
        |FROM (SELECT array(CAST(3.0 AS FLOAT), CAST(-1.0 AS FLOAT)) AS v)
        |""".stripMargin).head()
    assert(r.getDouble(0) == 6.0 && math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }
}
