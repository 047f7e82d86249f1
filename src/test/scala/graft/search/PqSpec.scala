package graft.search

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.Tables.t
import graft.functions.VectorFunctions.pq_adc_dot
import graft.store.Scratch

class PqSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private lazy val emb = t(spark, sf, "embeddings").cache()
  // dsub=4: 64-d testdata vectors -> m=16 one-byte codes (16x compression)
  private lazy val cb = {
    val dims = emb.head().getSeq[Float](1).length
    PqIndex.train(emb, "embedding", "vec_id", m = dims / 4, ks = 16, iters = 5)
  }
  private lazy val encoded = PqIndex.encode(cb, emb, "embedding")
    .select($"vec_id", $"pq_codes", $"norm").cache()

  private def probe(id: Long): Array[Float] =
    emb.filter($"vec_id" === id).head().getSeq[Float](1).toArray

  test("ADC expression equals the per-row lookup sum (codegen path)") {
    val q = probe(3L)
    val lut = cb.lookupTable(q)
    val viaExpr = encoded.orderBy($"vec_id").limit(20)
      .select($"vec_id", pq_adc_dot($"pq_codes", typedlit(lut)).as("adc"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rows = encoded.orderBy($"vec_id").limit(20)
      .select($"vec_id", $"pq_codes").collect()
    rows.foreach { r =>
      val codes = r.getAs[Array[Byte]](1)
      val expect = codes.zipWithIndex.map { case (c, s) => lut(s * cb.ks + (c & 0xFF)).toDouble }.sum
      assert(math.abs(viaExpr(r.getLong(0)) - expect) < 1e-9)
    }
  }

  test("distributed encode matches driver encodeOne") {
    val sample = emb.filter($"vec_id" < 20).select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val enc = encoded.filter($"vec_id" < 20).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    sample.foreach { case (id, v) =>
      assert(java.util.Arrays.equals(enc(id), cb.encodeOne(v)), s"vec $id")
    }
  }

  test("encode plan is UDF-free and the interpreted expression agrees") {
    // the ingest pass that touches every corpus float must stay in
    // whole-stage codegen: no ScalaUDF node anywhere in the plan
    val plan = PqIndex.encode(cb, emb, "embedding").queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
    // interpreted eval (the non-codegen fallback) == driver encodeOne
    val v = probe(7L)
    val expr = graft.functions.PqEncode(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      cb.flat, cb.m, cb.ks, cb.dsub)
    val got = expr.eval(null).asInstanceOf[Array[Byte]]
    assert(java.util.Arrays.equals(got, cb.encodeOne(v)))
  }

  test("reconstruction error: finer codebooks reconstruct better; drift raises it") {
    val dims = emb.head().getSeq[Float](1).length
    val coarse = PqIndex.train(emb, "embedding", "vec_id", m = dims / 16, ks = 4, iters = 3)
    val err = PqIndex.reconstructionError(cb, emb, "embedding", "vec_id")
    val errCoarse = PqIndex.reconstructionError(coarse, emb, "embedding", "vec_id")
    assert(err > 0.0 && errCoarse > err,
      s"coarser codebook should reconstruct worse: $errCoarse vs $err")
    // a corpus the codebook never saw reconstructs worse than its own
    import spark.implicits._
    val alien = (0 until 256).map { i =>
      val v = Array.fill(dims)(0f); v(i % dims) = 5f; (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
      .withColumn("embedding", $"embedding".cast("array<float>"))
    val errAlien = PqIndex.reconstructionError(cb, alien, "embedding", "vec_id")
    assert(errAlien > err, s"drift not visible: $errAlien vs $err")
  }

  test("codebook sidecar round-trips") {
    val dir = Scratch.dir(spark, "pq")
    PqIndex.writeSidecar(spark, dir, cb)
    val back = PqIndex.readSidecar(spark, dir).get
    assert(back.dsub == cb.dsub && back.m == cb.m && back.ks == cb.ks)
    (0 until cb.m).foreach { s =>
      (0 until cb.ks).foreach { j =>
        assert(back.centroids(s)(j).toSeq == cb.centroids(s)(j).toSeq)
      }
    }
  }

  test("shortlist = corpus makes rerank identical to exact top-k") {
    val q = probe(0L)
    val n = emb.count().toInt
    val got = PqIndex.searchRerank(cb, encoded, emb, "embedding", "vec_id", q, 10, n)
      .select($"vec_id").collect().map(_.getLong(0)).toSeq
    val exact = VectorSearch.exactTopK(emb, "embedding", "vec_id", q, 10)
      .select($"vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == exact)
  }

  test("IVF+PQ: exact at full probe + full shortlist; recall holds pruned") {
    import graft.store.DocumentStore
    val ivf = IvfIndex.train(emb, "embedding", "vec_id",
      numLists = 8, iters = 2, multiAssign = 2)
    val store = new DocumentStore(spark,
      Scratch.dir(spark, "ivfpq"))
    val idx = new IvfPq(ivf, cb, store, "ivfpq", "embedding", "vec_id")
    idx.build(emb)
    val q = probe(0L)
    val n = emb.count().toInt
    val exact = VectorSearch.exactTopK(emb, "embedding", "vec_id", q, 10)
      .select($"vec_id").collect().map(_.getLong(0)).toSeq
    // every list probed + corpus-wide shortlist => rerank sees every
    // candidate => exactly the brute-force answer
    val full = idx.search(emb, q, 10, nprobe = 8, shortlist = n)
      .select($"vec_id").collect().map(_.getLong(0)).toSeq
    assert(full == exact)
    // the pruned production shape keeps recall
    val pruned = idx.search(emb, q, 10, nprobe = 4, shortlist = 100)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(pruned.intersect(exact.toSet).size >= 9)
  }

  test("recall@10 over 5 probes >= 0.9 with a 100-wide shortlist") {
    val recalls = (0L until 5L).map { pid =>
      val q = probe(pid)
      val ann = PqIndex.searchRerank(cb, encoded, emb, "embedding", "vec_id", q, 10, 100)
        .select($"vec_id").collect().map(_.getLong(0)).toSet
      val exact = VectorSearch.exactTopK(emb, "embedding", "vec_id", q, 10)
        .select($"vec_id").collect().map(_.getLong(0)).toSet
      ann.intersect(exact).size / 10.0
    }
    info(s"per-probe recall@10: ${recalls.mkString(", ")}")
    assert(recalls.sum / recalls.size >= 0.9, s"mean recall ${recalls.sum / recalls.size}")
  }
}
