package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.store.Scratch
import graft.operators.KeywordRank
import graft.search.HybridSearch

/** Lexical relevance ranking + hybrid retrieval — the keyword complement
  * to the reference's vector-only search (MongoDbService.cs:194-227) and
  * the standard production pairing (BM25 + ANN + rank fusion).
  *
  * Oracle parity: TF-IDF/BM25 scores are deterministic by construction
  * (see [[KeywordRank]] — decimal-accumulated sums, rank keys rounded
  * before comparison); the vector leg reuses the double-cast
  * `list_cosine_similarity` trick from [[VectorQueries]] so raw sims are
  * bit-identical and RRF fuses identical ranks.
  */
object RankingQueries extends QuerySet {

  private val queryTerms = Seq("vector", "join", "spark")

  /** DuckDB: embedding list cast to double elements (bit-matches the
    * codegen'd cosine_sim). */
  private def dl(c: String) = s"list_transform($c, x -> CAST(x AS DOUBLE))"

  /** Evaluate a gate's result eagerly off a [[KeywordRank.KeywordIndex]]
    * and CLOSE the index before returning: a gate that drops the index
    * reference leaves its corpus-sized tf/lens checkpoint blocks pinned
    * in the shared harness JVM until GC (the r13 q250 pollution class).
    * The result itself goes through [[graft.store.Scratch]] — one
    * output-sized (topK-bounded) parquet write, zero pinned blocks in
    * the returned plan (r17's bench swept one result checkpoint per
    * call here). */
  private def closing(idx: KeywordRank.KeywordIndex)
                     (f: KeywordRank.KeywordIndex => DataFrame): DataFrame =
    try Scratch.rematerialize(f(idx), "tfidf-gate")
    finally idx.close()

  /** TF-IDF: top-3 characteristic terms per document. Uses the cached
    * keyword index (tf feeds both the df-counts and the score join and
    * ReuseExchange can't dedupe them — see KeywordRank.KeywordIndex);
    * result pinned + index closed via [[closing]]. */
  private def q65(s: SparkSession, d: String): DataFrame =
    closing(KeywordRank.buildIndex(t(s, d, "documents"), "doc_id", "text")) {
      idx => KeywordRank.tfidfIndexed(idx, topK = 3)
        .orderBy(col("doc_id"), col("rnk"))
    }

  private val q65Sql =
    s"""WITH ${KeywordRank.Sql.tokensCte("documents", "doc_id", "text")},
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM tok),
       |scored AS (
       |  SELECT doc_id, term,
       |    round(CAST(tf AS DOUBLE) *
       |      ln(n_docs / CAST(df AS DOUBLE)), 6) AS tfidf
       |  FROM tf JOIN dfreq USING (term), n)
       |SELECT doc_id, term, tfidf, rnk FROM (
       |  SELECT doc_id, term, tfidf,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY tfidf DESC, term) AS rnk
       |  FROM scored) x
       |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin

  /** BM25 top-20 documents for a 3-term keyword query (cached index —
    * the serve-path shape: index once, score many). */
  private def q66(s: SparkSession, d: String): DataFrame =
    closing(KeywordRank.buildIndex(t(s, d, "documents"), "doc_id", "text")) {
      idx => KeywordRank.bm25Indexed(idx, queryTerms)
        .select(col("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    }

  private val q66Sql =
    s"""SELECT doc_id, round(score, 6) AS score
       |FROM (${KeywordRank.Sql.bm25("documents", "doc_id", "text", queryTerms)}) b
       |ORDER BY round(score, 6) DESC, doc_id LIMIT 20""".stripMargin

  /** Hybrid retrieval: BM25 top-50 + cosine top-50 fused with RRF(k=60),
    * final top-10. The scalable shape: each leg is TakeOrdered (heap
    * top-N, no global sort), the window re-rank touches <= 50 rows, and
    * the fusion aggregates <= 100 short rows. */
  private def q67(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val emb = t(s, d, "embeddings")

    // one-shot hybrid query → cold-path BM25: one doc-keyed shuffle of
    // pivoted query-term tfs instead of the full (doc, term) index
    // (bit-identical scores — see KeywordRank.bm25Direct)
    val kwScores = KeywordRank.bm25Direct(docs, "doc_id", "text", queryTerms)
    val kwTop = kwScores.orderBy(col("score").desc, col("doc_id")).limit(50)
    // partitionBy(id*0): deliberate single partition over ≤ 50 rows —
    // suppresses the benign WindowExec warning without hiding real ones
    // (non-foldable on purpose; see HybridSearch.vectorLeg)
    val kwRank = kwTop.withColumn("rnk",
      row_number().over(
        Window.partitionBy(col("doc_id") * lit(0))
          .orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("rnk"))

    val probe = emb.filter(col("vec_id") === 0L)
      .head().getSeq[Float](1).toArray
    // vector leg through the strategy seam (ExactSearcher here; the
    // serve path swaps in IvfSearcher/HnswSearcher — HybridSearchSpec
    // asserts fused-answer agreement across all three)
    val vecRank = HybridSearch.vectorLeg(graft.search.ExactSearcher,
      emb.select(col("vec_id").as("doc_id"), col("embedding")),
      "embedding", "doc_id", probe, 50)

    HybridSearch.rrf(Seq(kwRank, vecRank), "doc_id", "rnk", k = 60)
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(10)
  }

  private val q67Sql =
    s"""WITH kw AS (SELECT * FROM (
       |  ${KeywordRank.Sql.bm25("documents", "doc_id", "text", queryTerms)}) b),
       |krank AS (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk
       |  FROM kw),
       |q AS (SELECT ${dl("embedding")} AS qv FROM embeddings WHERE vec_id = 0),
       |vsim AS (SELECT vec_id AS doc_id,
       |    list_cosine_similarity(${dl("embedding")}, qv) AS sim
       |  FROM embeddings, q),
       |vrank AS (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS rnk
       |  FROM vsim),
       |contrib AS (
       |  SELECT doc_id, 1.0 / (CAST(60 AS DOUBLE) + CAST(rnk AS DOUBLE)) AS c
       |  FROM krank WHERE rnk <= 50
       |  UNION ALL
       |  SELECT doc_id, 1.0 / (CAST(60 AS DOUBLE) + CAST(rnk AS DOUBLE)) AS c
       |  FROM vrank WHERE rnk <= 50)
       |SELECT doc_id, rrf_score, n_lists FROM (
       |  SELECT doc_id,
       |    SUM(c) AS rrf_score,
       |    COUNT(*) AS n_lists
       |  FROM contrib GROUP BY doc_id) f
       |ORDER BY rrf_score DESC, doc_id LIMIT 10""".stripMargin

  /** Index-served BM25 ([[graft.search.InvertedIndex.searchBm25]]): the
    * q66 ranking served from the persisted bucket-pruned postings instead
    * of a corpus rescan — doc lengths ride in the posting rows, df
    * aggregates over the in-flight posting lists, and the corpus stats
    * are two literals from the maintained meta row, so serving cost
    * tracks the query terms' posting lists, never the corpus. Built with
    * the alnum tokenizer (= [[KeywordRank.tokens]]) so scores are
    * BIT-IDENTICAL to the cold path on any corpus. In-query gate: the
    * served scores must equal [[KeywordRank.bm25Direct]]'s over the FULL
    * candidate set (both-ways exceptAll on the raw doubles) — any drift
    * in stats maintenance or expression shape zeroes the output. */
  private def q162(s: SparkSession, d: String): DataFrame = {
    import graft.search.InvertedIndex
    val dir = Scratch.dir(s, "q162")
    val docs = t(s, d, "documents")
    InvertedIndex.build(docs, "doc_id", "text", dir, tok = InvertedIndex.TokAlnum)
    val served = InvertedIndex.searchBm25(s, dir, queryTerms).cache()
    val cold = KeywordRank.bm25Direct(docs, "doc_id", "text", queryTerms)
    val equal = served.exceptAll(cold).isEmpty && cold.exceptAll(served).isEmpty
    val top = served
      .select(col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
    if (equal) top else top.limit(0)
  }

  private val q162Sql =
    s"""SELECT doc_id, round(score, 6) AS score
       |FROM (${KeywordRank.Sql.bm25("documents", "doc_id", "text", queryTerms)}) b
       |ORDER BY round(score, 6) DESC, doc_id LIMIT 20""".stripMargin

  override val queries: Seq[Q] = Seq(
    Q("q65_tfidf", q65, Some(q65Sql), headline = true),
    Q("q66_bm25", q66, Some(q66Sql)),
    Q("q67_hybrid_rrf", q67, Some(q67Sql), headline = true),
    Q("q162_bm25_index_served", q162, Some(q162Sql)))
}
