package graft.search

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.Tables.t
import graft.store.Scratch

/** Proof obligations for the segmented HNSW index (the engine's analog of
  * the reference's `kind: vector-hnsw`, MongoDbService.cs:119-143):
  * recall against exact top-k at the reference defaults m=16/efC=64,
  * build determinism under different input partition layouts, sidecar
  * persistence round-trip, and searchMany == per-probe search. */
class HnswSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private lazy val emb = t(spark, sf, "embeddings").cache()

  private def probe(id: Long): Array[Float] =
    emb.filter($"vec_id" === id).head().getSeq[Float](1).toArray

  private lazy val graphs =
    HnswIndex.build(emb, "embedding", "vec_id", HnswIndex.Params(m = 16, efConstruction = 64, numSegments = 4))
      .cache()

  test("recall@10 >= 0.95 vs exact top-k at reference defaults m=16/efC=64") {
    val probes = (0L until 20L).toSeq
    val recalls = probes.map { pid =>
      val q = probe(pid)
      val ann = HnswIndex.search(graphs, q, 10, ef = 64)
        .select("vec_id").as[Long].collect().toSet
      val exact = VectorSearch.exactTopK(emb, "embedding", "vec_id", q, 10)
        .select("vec_id").as[Long].collect().toSet
      (ann intersect exact).size.toDouble / 10.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.95, s"mean recall@10 = $mean over ${probes.size} probes ($recalls)")
  }

  test("build is deterministic across input partition layouts") {
    val p = HnswIndex.Params(m = 8, efConstruction = 32, numSegments = 4)
    val a = HnswIndex.build(emb.repartition(3), "embedding", "vec_id", p)
    val b = HnswIndex.build(emb.repartition(13, $"label"), "embedding", "vec_id", p)
    val rows = (g: org.apache.spark.sql.DataFrame) =>
      g.orderBy("segment").collect().map(_.toString).toSeq
    assert(rows(a) == rows(b))
  }

  test("sidecar write/read round-trip preserves params and answers") {
    val root = Scratch.dir(spark, "hnsw")
    val p = HnswIndex.Params(m = 16, efConstruction = 64, numSegments = 4)
    HnswIndex.write(graphs, root, p)
    assert(HnswIndex.readParams(spark, root).contains(p))
    val loaded = HnswIndex.read(spark, root)
    val q = probe(7L)
    val before = HnswIndex.search(graphs, q, 10).collect().map(_.toString).toSeq
    val after = HnswIndex.search(loaded, q, 10).collect().map(_.toString).toSeq
    assert(before == after)
  }

  test("searchMany matches per-probe search") {
    val probes = emb.filter($"vec_id" < 5)
    val many = HnswIndex.searchMany(graphs, probes, "vec_id", "embedding", k = 5, ef = 64)
      .select($"probe_id", $"vec_id", round($"sim", 9).as("sim"), $"rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val single = (0L until 5L).flatMap { pid =>
      HnswIndex.search(graphs, probe(pid), 5, ef = 64)
        .collect().zipWithIndex
        .map { case (r, i) =>
          (pid, r.getLong(0), BigDecimal(r.getDouble(1)).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble, i + 1)
        }
    }.toSet
    assert(many == single)
  }

  test("structuralAudit: clean invariants, and two builds give identical " +
       "fingerprints (the q82 build-regression tripwire)") {
    val p = HnswIndex.Params(m = 16, efConstruction = 64, numSegments = 4)
    val audit = HnswIndex.structuralAudit(graphs, p)
      .orderBy($"segment").collect()
    assert(audit.nonEmpty)
    audit.foreach { r =>
      assert(r.getAs[Long]("level_mismatch") == 0, r.toString)
      assert(r.getAs[Long]("degree_violations") == 0, r.toString)
      assert(r.getAs[Long]("bad_neighbors") == 0, r.toString)
      assert(r.getAs[Boolean]("entry_ok"), r.toString)
    }
    assert(audit.map(_.getAs[Long]("nodes")).sum == emb.count())
    // determinism is part of the artifact's definition: a rebuild over a
    // different partition layout must fingerprint IDENTICALLY
    val again = HnswIndex.build(emb.repartition(7), "embedding", "vec_id", p)
    val fp = (a: Array[org.apache.spark.sql.Row]) => a.map(r =>
      (r.getAs[Long]("degree_histo_hash"), r.getAs[Seq[Long]]("level_histo"))).toSeq
    assert(fp(HnswIndex.structuralAudit(again, p).orderBy($"segment").collect())
      == fp(audit))
    // the tripwire has teeth: auditing against the WRONG m flags the
    // degree bound (a silent prune break would look exactly like this)
    val wrong = HnswIndex.structuralAudit(graphs, p.copy(m = 4)).collect()
    assert(wrong.exists(_.getAs[Long]("degree_violations") > 0))
  }

  test("searchMany refuses corpus-sized probe batches loudly") {
    val ex = intercept[IllegalArgumentException] {
      // a probe set over the bound must fail BEFORE the driver collect;
      // crossJoin inflates past MaxProbeBatch without materializing much
      val big = emb.select($"vec_id", $"embedding")
        .crossJoin(spark.range((HnswIndex.MaxProbeBatch / emb.count()) + 1))
        .select((($"vec_id" + lit(1)) * ($"id" + 1)).as("vec_id"), $"embedding")
      HnswIndex.searchMany(graphs, big, "vec_id", "embedding", k = 5)
    }
    assert(ex.getMessage.contains("IvfIndex.searchMany"),
      s"guard must point at the distributed alternative: ${ex.getMessage}")
  }

  test("empty corpus builds an empty graph table; search returns no rows") {
    val empty = emb.filter($"vec_id" < 0)
    val g = HnswIndex.build(empty, "embedding", "vec_id")
    assert(g.count() == 0)
    assert(HnswIndex.search(g, probe(0L), 10).count() == 0)
  }
}
