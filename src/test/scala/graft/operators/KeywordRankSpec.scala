package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.store.Scratch

class KeywordRankSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "the quick brown fox"),
    (2L, "the lazy dog sleeps"),
    (3L, "quick quick fox runs")).toDF("id", "text")

  test("tokens lowercases and splits on non-alphanumerics") {
    val tok = KeywordRank.tokens(
        Seq((1L, "Hello, World! x2")).toDF("id", "text"), "id", "text")
      .as[(Long, String)].collect().map(_._2).toSeq
    assert(tok == Seq("hello", "world", "x2"))
  }

  test("tfidf matches hand computation") {
    // term "quick": df=2, N=3 -> idf = ln(1.5); doc 3 tf=2
    val out = KeywordRank.tfidf(corpus, "id", "text", topK = 10)
      .filter($"id" === 3L && $"term" === "quick")
      .select("tfidf").as[Double].head()
    assert(math.abs(out - math.round(2.0 * math.log(3.0 / 2.0) * 1e6) / 1e6) < 1e-9)
  }

  test("tfidf: corpus-wide terms score zero, rare terms rank first") {
    val top = KeywordRank.tfidf(corpus, "id", "text", topK = 1)
      .filter($"id" === 2L).select("term").as[String].head()
    // "the" appears in 2 docs; "lazy"/"dog"/"sleeps" are unique to doc 2
    assert(Set("dog", "lazy", "sleeps").contains(top))
  }

  test("bm25 matches hand formula on a single-term query") {
    val k1 = 1.25; val b = 0.75
    val out = KeywordRank.bm25(corpus, "id", "text", Seq("quick"), k1, b)
      .as[(Long, Double)].collect().toMap
    // lens: 4,4,4 -> avgLen 4; N=3; df(quick)=2 -> idf = ln(1 + 1.5/2.5)
    val idf = math.log(1.0 + (3.0 - 2.0 + 0.5) / (2.0 + 0.5))
    def score(tf: Double) = idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * 4.0 / 4.0))
    assert(out.keySet == Set(1L, 3L)) // only docs containing the term
    assert(math.abs(out(1L) - score(1)) < 1e-12)
    assert(math.abs(out(3L) - score(2)) < 1e-12)
    assert(out(3L) > out(1L)) // higher tf wins, all else equal
  }

  test("bm25 length normalization: same tf, shorter doc scores higher") {
    val docs = Seq(
      (1L, "alpha beta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("id", "text")
    val out = KeywordRank.bm25(docs, "id", "text", Seq("alpha"))
      .as[(Long, Double)].collect().toMap
    assert(out(1L) > out(2L))
  }

  test("bm25Direct is bit-identical to the indexed path on real docs") {
    val docs = graft.Tables.t(spark, sf, "documents")
    val terms = Seq("vector", "join", "spark", "spark") // dup: distinct-ness
    val direct = KeywordRank.bm25Direct(docs, "doc_id", "text", terms)
      .orderBy("doc_id").as[(Long, Double)].collect()
    val idx = KeywordRank.buildIndex(docs, "doc_id", "text")
    val indexed = KeywordRank.bm25Indexed(idx, terms)
      .orderBy("doc_id").as[(Long, Double)].collect()
    idx.close()
    assert(direct.nonEmpty)
    assert(direct.sameElements(indexed)) // ids AND raw double scores
    // third leg: the PERSISTED index serve path (bucket-pruned postings,
    // corpus stats from the maintained meta row) — same raw doubles
    val dir = Scratch.dir(spark, "kw-served")
    graft.search.InvertedIndex.build(docs, "doc_id", "text", dir,
      tok = graft.search.InvertedIndex.TokAlnum)
    val served = graft.search.InvertedIndex.searchBm25(spark, dir, terms)
      .orderBy("doc_id").as[(Long, Double)].collect()
    assert(direct.sameElements(served))
  }

  test("bm25Direct: docs containing no query term are absent") {
    val docs = Seq(
      (1L, "alpha beta"),
      (2L, "gamma delta")).toDF("id", "text")
    val out = KeywordRank.bm25Direct(docs, "id", "text", Seq("alpha"))
      .as[(Long, Double)].collect().toMap
    assert(out.keySet == Set(1L))
  }
}
