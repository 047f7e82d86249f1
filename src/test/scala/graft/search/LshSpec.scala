package graft.search

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.Tables.t
import graft.store.Scratch

class LshSpec extends AnyFunSuite with SparkSuite {

  private lazy val emb = t(spark, sf, "embeddings").cache()

  test("hyperplane LSH recall@10 >= 0.9 vs brute force") {
    val lsh = HyperplaneLsh(dims = 64, bits = 8, numTables = 8)
    val indexed = lsh.assign(emb, "embedding").cache()
    val probes = emb.filter(col("vec_id") < 20).collect()
      .map(r => r.getSeq[Float](1).toArray)
    val recalls = probes.map { p =>
      val exact = VectorSearch.exactTopK(emb, "embedding", "vec_id", p, 10)
        .collect().map(_.getLong(0)).toSet
      val ann = lsh.search(indexed, "embedding", "vec_id", p, 10)
        .collect().map(_.getLong(0)).toSet
      (exact intersect ann).size / 10.0
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.9, s"mean recall $mean")
  }

  test("bucket filter actually prunes the corpus") {
    val lsh = HyperplaneLsh(dims = 64, bits = 8, numTables = 2)
    val indexed = lsh.assign(emb, "embedding").cache()
    val probe = emb.filter(col("vec_id") === 0).head().getSeq[Float](1).toArray
    val keys = lsh.keysOf(probe)
    val pred = keys.zipWithIndex.map { case (k, i) => col(s"lsh_k$i") === lit(k) }
      .reduce(_ || _)
    assert(indexed.filter(pred).count() < indexed.count())
  }

  test("driver-side keysOf matches the column expression") {
    val lsh = HyperplaneLsh(dims = 64, bits = 8, numTables = 4)
    val indexed = lsh.assign(emb, "embedding")
    val row = indexed.filter(col("vec_id") === 7).head()
    val probe = row.getSeq[Float](row.fieldIndex("embedding")).toArray
    val expect = lsh.keysOf(probe)
    (0 until 4).foreach { i =>
      assert(row.getAs[Int](s"lsh_k$i") == expect(i), s"table $i")
    }
  }

  test("hyperplane-bank sidecar round-trips bit-exactly") {
    val lsh = HyperplaneLsh(dims = 64, bits = 8, numTables = 4, seed = 9L)
    val dir = Scratch.dir(spark, "lsh-sc")
    HyperplaneLsh.writeSidecar(spark, dir, lsh)
    val back = HyperplaneLsh.readSidecar(spark, dir).get
    assert(back.numTables == lsh.numTables && back.bits == lsh.bits)
    for (t <- 0 until lsh.numTables; b <- 0 until lsh.bits)
      assert(back.planes(t)(b).toSeq == lsh.planes(t)(b).toSeq, s"plane ($t,$b)")
    // and the reloaded bank keys a probe identically
    val probe = emb.filter(col("vec_id") === 3).head().getSeq[Float](1).toArray
    assert(back.keysOf(probe).toSeq == lsh.keysOf(probe).toSeq)
  }
}
