package graft.search

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.store.{DocumentStore, Scratch}
import graft.streaming.IndexIngest

/** Differential property for the index's one maintenance path: random
  * sequences of change batches, applied through the streaming sink (one
  * trigger per batch, last change per key by version) and through the
  * `add`/`remove` wrappers, must both equal a rebuild over the final
  * corpus at the same bucket count — postings, docmap and meta, row for
  * row. Ids and texts come from small pools, so batches hold duplicate
  * ids, delete-then-reinsert, deletes of absent ids, token-less texts,
  * bucket-moving updates and non-BMP terms; the run asserts that each of
  * these occurred. ScalaCheck 1.18, fixed seed, no shrinking (every
  * case is several Spark commits). */
class IndexChangesPropertySpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private type Change = (String, Long, String)
  private val Buckets = 8
  private val texts = Seq("alpha beta", "beta gamma gamma", "", "   ", "delta 🦄 epsilon",
    "zeta eta theta iota", "alpha", "𝔘nicode kappa", " lambda  mu ")
  private val base: Map[Long, String] = (1L to 6L).zip(texts).toMap

  private val changeGen: Gen[Change] = for {
    kind <- Gen.oneOf("insert", "update", "delete")
    id <- Gen.chooseNum(1L, 9L)
    text <- Gen.oneOf(texts)
  } yield (kind, id, if (kind == "delete") "" else text)
  private val batchesGen: Gen[List[List[Change]]] = Gen.chooseNum(1, 3).flatMap(n =>
    Gen.listOfN(n, Gen.chooseNum(1, 6).flatMap(k => Gen.listOfN(k, changeGen))))

  /** Each id's last change in the batch. */
  private def winners(batch: Seq[Change]): Seq[Change] =
    batch.groupBy(_._2).values.map(_.last).toSeq

  private def applied(corpus: Map[Long, String], batch: Seq[Change]): Map[Long, String] =
    winners(batch).foldLeft(corpus) {
      case (c, ("delete", id, _)) => c - id
      case (c, (_, id, text)) => c.updated(id, text)
    }

  private def terms(text: String): Set[String] = text.split(" ").filter(_.nonEmpty).toSet
  private lazy val bucketOf = InvertedIndex.termBuckets(spark, texts.flatMap(terms), Buckets)

  /** The hostile shapes `batch` exercises against `corpus`. */
  private def shapes(corpus: Map[Long, String], batch: Seq[Change]): Set[String] = {
    val ids = batch.map(_._2)
    winners(batch).flatMap {
      case ("delete", id, _) => if (corpus.contains(id)) Nil else Seq("delete of an absent id")
      case (_, id, text) =>
        val reinsert = batch.take(batch.lastIndexWhere(_._2 == id))
          .exists(c => c._2 == id && c._1 == "delete")
        Seq("delete then reinsert" -> reinsert,
          "token-less text" -> terms(text).isEmpty,
          "non-BMP term" -> text.exists(_.isSurrogate),
          "bucket-moving update" -> corpus.get(id).exists(old =>
            terms(old).map(bucketOf) != terms(text).map(bucketOf))).collect { case (s, true) => s }
    }.toSet ++ (if (ids.distinct.size < ids.size) Set("duplicate id") else Set.empty)
  }

  private def build(corpus: Map[Long, String], dir: String): Unit =
    InvertedIndex.build(corpus.toSeq.sortBy(_._1).toDF("doc_id", "text"), "doc_id", "text",
      dir, buckets = Buckets)

  private def rows(dir: String, table: String): Seq[String] =
    new DocumentStore(spark, dir).read(table).collect().map(_.toString).toSeq.sorted

  private def sameIndex(a: String, b: String): Boolean =
    Seq("postings", "docmap", "meta").forall(t => rows(a, t) == rows(b, t))

  test("sink and add/remove both equal a pinned rebuild") {
    val seen = scala.collection.mutable.Set.empty[String]
    val prop = Prop.forAllNoShrink(batchesGen) { batches =>
      val viaSink = Scratch.dir(spark, "icp-sink"); build(base, viaSink)
      val viaCalls = Scratch.dir(spark, "icp-calls"); build(base, viaCalls)
      implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = MemoryStream[(String, Long, String, Long)]
      val qy = IndexIngest.start(mem.toDF().toDF("change", "doc_id", "text", "v"), viaSink,
        "doc_id", "text", "change", Scratch.dir(spark, "icp-ckpt"), versionCol = Some("v"))
      val last = try batches.foldLeft(base) { (corpus, batch) =>
        seen ++= shapes(corpus, batch)
        mem.addData(batch.zipWithIndex.map { case ((c, id, t), v) => (c, id, t, v.toLong) }: _*)
        qy.processAllAvailable()
        val (dels, ups) = winners(batch).partition(_._1 == "delete")
        InvertedIndex.remove(spark, viaCalls, dels.map(_._2))
        if (ups.nonEmpty)
          InvertedIndex.add(spark, viaCalls, ups.map(c => (c._2, c._3)).toDF("doc_id", "text"),
            "doc_id", "text")
        applied(corpus, batch)
      } finally qy.stop()
      val rebuilt = Scratch.dir(spark, "icp-rebuild"); build(last, rebuilt)
      (sameIndex(viaSink, rebuilt) :| s"sink diverged on $batches") &&
        (sameIndex(viaCalls, rebuilt) :| s"add/remove diverged on $batches")
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10)
      .withInitialSeed(Seed(161L)), prop)
    assert(res.passed, res.status.toString)
    assert(seen == Set("duplicate id", "delete then reinsert", "delete of an absent id",
      "token-less text", "bucket-moving update", "non-BMP term"), seen.toString)
  }
}
