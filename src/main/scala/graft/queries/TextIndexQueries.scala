package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.store.Scratch
import graft.functions.TextFunctions._
import graft.operators.{Clusters, Decontaminate, Dedup, Packing, QualityFilters, Splits}

/** Text INDEX-AND-SEARCH operators, split out of [[TextQueries]] in
  * round 17 (the file had grown past 2400 lines): inverted-index
  * build/serve/sync, phrase and boolean search, PMI collocations,
  * sketches (count-min, HLL-style overlap), all-pairs similarity,
  * sampling, token statistics, and the audited end-to-end pipeline.
  * Same oracle discipline as the parent file.
  */
object TextIndexQueries extends QuerySet {

  /** Deterministic per-group bottom-k sample
    * ([[graft.operators.Splits.bottomKSample]]): exactly 25 uniform docs
    * per source, chosen by seeded stable-hash order — the mergeable
    * distributed reservoir (bottom-k of a union is the bottom-k of
    * merged bottom-ks), replayed exactly by the oracle's integer hash. */
  private def q157(s: SparkSession, d: String): DataFrame =
    Splits.bottomKSample(t(s, d, "documents").select(col("doc_id"), col("source")),
        "doc_id", "source", k = 25, seed = 11L)
      .select(col("doc_id"), col("source"), col("sample_key"),
        col("sample_rank").cast("long").as("sample_rank"))
      .orderBy(col("source"), col("sample_rank"))

  private val q157Sql =
    """WITH h AS (
      |  SELECT doc_id, source,
      |    (xor(doc_id % 2147483648, 11) * 2654435761) % 4294967296 AS sample_key
      |  FROM documents),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY sample_key, doc_id) AS sample_rank
      |  FROM h)
      |SELECT doc_id, source, sample_key, sample_rank FROM r
      |WHERE sample_rank <= 25 ORDER BY source, sample_rank""".stripMargin

  /** Persisted inverted index build + conjunctive keyword serve
    * ([[graft.search.InvertedIndex]]): postings partitioned by term
    * bucket, exact-integer TF·IDF (bits(N)−bits(df) weights — the rare
    * query term dominates, the stopword-common ones contribute tf·0),
    * AND semantics, top-10. The full persisted lifecycle runs inside
    * the timing, like the vector store gates. */
  private def q159(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.dir(s, "q159")
    graft.search.InvertedIndex.build(t(s, d, "documents"), "doc_id", "text", dir)
    graft.search.InvertedIndex.search(s, dir, Seq("dup", "vector", "merge"), k = 10)
  }

  private val q159Sql =
    """WITH occ AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
      |  FROM documents),
      |n AS (SELECT COUNT(*) AS nd FROM documents),
      |tfq AS (
      |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM occ
      |  WHERE term IN ('dup', 'vector', 'merge') GROUP BY 1, 2),
      |dfq AS (
      |  SELECT term, COUNT(DISTINCT doc_id) AS df FROM occ
      |  WHERE term IN ('dup', 'vector', 'merge') GROUP BY 1),
      |w AS (SELECT term, CAST(length(bin(nd)) - length(bin(df)) AS INTEGER) AS w
      |      FROM dfq CROSS JOIN n),
      |sc AS (
      |  SELECT doc_id, CAST(SUM(tf * w) AS BIGINT) AS score
      |  FROM tfq JOIN w USING (term) GROUP BY doc_id
      |  HAVING COUNT(DISTINCT term) = 3)
      |SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  /** BUILD half of the q159 lifecycle, benched separately so a build-side
    * cost (forward docmap, maintained corpus stats, term clustering)
    * can never hide a serve-side regression — or vice versa (the r10
    * lesson: one timing blended a build cost with a serve improvement).
    * Output verifies the PERSISTED artifacts: per-bucket posting
    * aggregates read back from the index, with the bucket routing
    * replayed relationally by the oracle (stringKey → Knuth → mod B);
    * the in-query gate cross-checks the maintained meta stats against a
    * recompute from the persisted docmap. */
  private def q159b(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.dir(s, "q159b")
    // buckets PINNED: this gate's output groups by bucket id and the
    // oracle replays the routing as `% 64` — the one layout-visible gate
    graft.search.InvertedIndex.build(t(s, d, "documents"), "doc_id", "text", dir,
      buckets = 64)
    val store = new graft.store.DocumentStore(s, dir)
    val meta = store.read("meta").head() // (buckets, n_docs, n_tokened, total_len, tok)
    val fromMap = store.read("docmap").agg(
      count(when(col("len") > 0, 1)).as("nt"),
      coalesce(sum(col("len")), lit(0L)).as("tl")).head()
    val statsOk = meta.getLong(1) == t(s, d, "documents").count() &&
      meta.getLong(2) == fromMap.getLong(0) && meta.getLong(3) == fromMap.getLong(1)
    store.read("postings")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_postings"),
        countDistinct(col("term")).as("n_terms"),
        sum(col("tf")).as("sum_tf"))
      .filter(lit(statsOk))
      .orderBy(col("bucket"))
  }

  private val q159bSql =
    """WITH occ AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM occ GROUP BY 1, 2),
      |b AS (
      |  SELECT term, doc_id, tf,
      |    CAST(((list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split(term, ''), c -> CAST(ascii(c) AS BIGINT))),
      |      (a, c) -> (a * 31 + c) % 1000000007) % 2147483648)
      |     * 2654435761) % 4294967296 % 64 AS INTEGER) AS bucket
      |  FROM tf)
      |SELECT bucket, COUNT(*) AS n_postings,
      |  COUNT(DISTINCT term) AS n_terms, CAST(SUM(tf) AS BIGINT) AS sum_tf
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  /** SERVE half of the q159 lifecycle: the index is built ONCE per
    * (process, sf) outside the timed query — bench passes after the
    * first time only the pruned-bucket read + rank (and the pass median
    * rejects the one build-carrying pass), giving serve its own
    * round-over-round trend. Results are identical to
    * q159_inverted_index, so the same oracle gates them. The cached
    * index dir is kept out of the between-queries sweep. */
  private val q159IdxCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def q159s(s: SparkSession, d: String): DataFrame = {
    val dir = q159IdxCache.computeIfAbsent(d, _ => {
      val dd = Scratch.dir(s, "q159-idx")
      graft.search.InvertedIndex.build(t(s, d, "documents"), "doc_id", "text", dd)
      Scratch.keep(dd)
    })
    graft.search.InvertedIndex.search(s, dir, Seq("dup", "vector", "merge"), k = 10)
  }

  /** Incremental inverted-index maintenance from the store change feed —
    * the reference's AddRemoveData near-real-time contract
    * (AddRemoveData.cs:64-105, README.md:182-194) applied to keyword
    * search, the q139 pattern: the source-of-truth corpus mutates
    * (delete + edit + insert epochs), [[graft.store.DocumentStore.changeFeed]]
    * emits exactly the touched keys, and
    * [[graft.search.InvertedIndex.remove]]/[[graft.search.InvertedIndex.add]]
    * rewrite only the touched term buckets (COW — untouched buckets are
    * carried by manifest reference). In-query gate: postings, docmap AND
    * meta must hash-equal a FULL REBUILD over the mutated corpus
    * (both-ways exceptAll), so a stale posting or drifted corpus stat
    * zeroes the output even when it isn't in the top-k. The ranked query
    * asks for a term that exists only post-sync ("graftnewterm"), so
    * adds are proven searchable; the oracle replays the mutations
    * relationally and re-derives the exact-integer tf·idf ranking. */
  private def q161(s: SparkSession, d: String): DataFrame = {
    import graft.search.InvertedIndex
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    val src = new graft.store.DocumentStore(s,
      Scratch.dir(s, "q161-src"))
    src.create("docs", docs)                                          // v1
    val dir = Scratch.dir(s, "q161-idx")
    InvertedIndex.build(docs, "doc_id", "text", dir)
    src.delete("docs", col("doc_id") % 17 === 3)                      // v2
    val changed = docs.filter(col("doc_id") % 13 === 1)
      .withColumn("text", concat(col("text"), lit(" graftnewterm")))
    val inserted = docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("graftnewterm table "), col("text")).as("text"))
    src.upsert("docs", changed.unionByName(inserted), keys = Seq("doc_id")) // v3
    val feed = src.changeFeed("docs", 1, 3, Seq("doc_id")).cache()
    InvertedIndex.remove(s, dir,
      feed.filter(col("change") === "delete").select("doc_id")
        .collect().map(_.getLong(0)).toSeq)
    InvertedIndex.add(s, dir,
      feed.filter(col("change").isin("insert", "update"))
        .select(col("doc_id"), col("text")), "doc_id", "text")
    feed.unpersist(blocking = false)
    val dir2 = Scratch.dir(s, "q161-rebuild")
    // parity rebuild: pin to the maintained index's committed layout
    InvertedIndex.build(src.read("docs"), "doc_id", "text", dir2,
      buckets = InvertedIndex.layoutBuckets(s, dir))
    val sA = new graft.store.DocumentStore(s, dir)
    val sB = new graft.store.DocumentStore(s, dir2)
    val synced = Seq("postings", "docmap", "meta").forall { tb =>
      val a = sA.read(tb); val b = sB.read(tb)
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    }
    val res = InvertedIndex.search(s, dir, Seq("graftnewterm", "table"), k = 10)
    if (synced) res else res.limit(0)
  }

  private val q161Sql =
    """WITH v3 AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE NOT (doc_id % 17 = 3) AND NOT (doc_id % 13 = 1)
      |  UNION ALL
      |  SELECT doc_id, text || ' graftnewterm' AS text FROM documents
      |  WHERE doc_id % 13 = 1
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, 'graftnewterm table ' || text AS text
      |  FROM documents WHERE doc_id < 20),
      |occ AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
      |  FROM v3),
      |n AS (SELECT COUNT(*) AS nd FROM v3),
      |tfq AS (
      |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM occ
      |  WHERE term IN ('graftnewterm', 'table') GROUP BY 1, 2),
      |dfq AS (
      |  SELECT term, COUNT(DISTINCT doc_id) AS df FROM occ
      |  WHERE term IN ('graftnewterm', 'table') GROUP BY 1),
      |w AS (SELECT term, CAST(length(bin(nd)) - length(bin(df)) AS INTEGER) AS w
      |      FROM dfq CROSS JOIN n),
      |sc AS (
      |  SELECT doc_id, CAST(SUM(tf * w) AS BIGINT) AS score
      |  FROM tfq JOIN w USING (term) GROUP BY doc_id
      |  HAVING COUNT(DISTINCT term) = 2)
      |SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  /** PMI bigram collocations ([[graft.operators.Collocations]]): two
    * narrow tokenize passes + vocab-bounded aggregates; the lift score
    * is a pinned IEEE double expression both engines evaluate
    * bit-identically (no transcendentals). Ordering ties broken on
    * (w1, w2) after 6-decimal rounding so the top-25 cut is stable. */
  private def q164(s: SparkSession, d: String): DataFrame =
    graft.operators.Collocations.pmiBigrams(t(s, d, "documents"), "text", minCount = 5)
      .select(col("w1"), col("w2"), col("n12"), round(col("lift"), 6).as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(25)

  private val q164Sql =
    """WITH w AS (
      |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents),
      |uni AS (SELECT unnest(w) AS t FROM w),
      |u AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n FROM uni GROUP BY t),
      |bi0 AS (SELECT unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2
      |        FROM w WHERE len(w) >= 2),
      |bi AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n12 FROM bi0 GROUP BY w1, w2),
      |tot AS (SELECT (SELECT SUM(n) FROM u) AS tot_t, (SELECT SUM(n12) FROM bi) AS tot_b)
      |SELECT w1, w2, n12,
      |  round((CAST(n12 AS DOUBLE) * tot_t * tot_t) /
      |        (CAST(tot_b AS DOUBLE) * u1.n * u2.n), 6) AS lift
      |FROM bi JOIN u u1 ON u1.t = w1 JOIN u u2 ON u2.t = w2 CROSS JOIN tot
      |WHERE n12 >= 5
      |ORDER BY lift DESC, w1, w2 LIMIT 25""".stripMargin

  /** Asymmetric containment dedup ([[Dedup.containmentPairs]]): the
    * quote/excerpt/boilerplate-wrapper relation Jaccard misses at
    * size mismatch. Threshold 4/5 as an exact integer cross-multiply. */
  private def q165(s: SparkSession, d: String): DataFrame =
    Dedup.containmentPairs(t(s, d, "documents"), "doc_id", "text",
        n = 3, thresholdNum = 4, thresholdDen = 5)
      .select(col("contained_id"), col("container_id"), col("inter"),
        col("size_contained"), round(col("containment"), 6).as("containment"))
      .orderBy(col("contained_id"), col("container_id"))

  private val q165Sql =
    """WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |           FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |         unnest(list_transform(range(len(w) - 2), i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS s
      |       FROM w WHERE len(w) >= 3),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS c
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |j AS (SELECT a_id, b_id, c, sa.n AS na, sb.n AS nb
      |      FROM inter JOIN sizes sa ON sa.doc_id = a_id
      |                 JOIN sizes sb ON sb.doc_id = b_id),
      |d AS (SELECT a_id AS contained_id, b_id AS container_id, c, na AS size_contained FROM j
      |      UNION ALL
      |      SELECT b_id, a_id, c, nb FROM j)
      |SELECT contained_id, container_id, CAST(c AS BIGINT) AS inter,
      |  CAST(size_contained AS BIGINT) AS size_contained,
      |  round(CAST(c AS DOUBLE) / CAST(size_contained AS DOUBLE), 6) AS containment
      |FROM d WHERE c * 5 >= 4 * size_contained
      |ORDER BY contained_id, container_id""".stripMargin

  /** Weighted πps sample ([[Splits.weightedBottomKSample]], sequential
    * Poisson): 25 docs per lang, inclusion ∝ n_chars — exact integer
    * priorities, SQL-replayed verbatim. */
  private def q166(s: SparkSession, d: String): DataFrame =
    Splits.weightedBottomKSample(
        t(s, d, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
        "doc_id", "n_chars", "lang", k = 25)
      .orderBy(col("lang"), col("sample_rank"))

  private val q166Sql =
    """WITH p AS (
      |  SELECT doc_id, lang, n_chars,
      |    (((doc_id % 2147483648) * 2654435761) % 4294967296) * 1048576
      |      // least(n_chars, 1073741824) AS sample_prio
      |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
      |r AS (
      |  SELECT doc_id, lang, n_chars, sample_prio,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY sample_prio, doc_id) AS INTEGER) AS sample_rank
      |  FROM p)
      |SELECT doc_id, lang, n_chars, sample_prio, sample_rank
      |FROM r WHERE sample_rank <= 25 ORDER BY lang, sample_rank""".stripMargin

  /** Exact all-pairs sparse cosine ([[graft.operators.AllPairs]],
    * Bayardo 2007): weighted-term-vector angle over integer tf·idf —
    * catches same-topic/template pairs whose wording diverged past
    * shingle overlap. Integer dots/norms + IEEE sqrt = deterministic
    * doubles, so the unrounded threshold filter agrees bit-for-bit with
    * the oracle. */
  private def q169(s: SparkSession, d: String): DataFrame =
    graft.operators.AllPairs.cosinePairs(t(s, d, "documents"), "doc_id", "text",
        threshold = 0.8)
      .select(col("a_id"), col("b_id"), col("dot"), round(col("cos"), 6).as("cos"))
      .orderBy(col("a_id"), col("b_id"))

  private val q169Sql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id AS doc, term, CAST(COUNT(*) AS BIGINT) AS tf
      |       FROM tok GROUP BY 1, 2),
      |nn AS (SELECT COUNT(DISTINCT doc) AS n FROM tf),
      |dfc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
      |w0 AS (SELECT doc, term,
      |         tf * (length(bin(nn.n)) - length(bin(df))) AS w
      |       FROM tf JOIN dfc USING (term) CROSS JOIN nn),
      |w AS (SELECT doc, term, w FROM w0 WHERE w > 0),
      |norms AS (SELECT doc, SUM(w * w) AS nrm FROM w GROUP BY doc),
      |dots AS (SELECT a.doc AS a_id, b.doc AS b_id, SUM(a.w * b.w) AS dot
      |         FROM w a JOIN w b ON a.term = b.term AND a.doc < b.doc
      |         GROUP BY 1, 2),
      |sc AS (SELECT a_id, b_id, CAST(dot AS BIGINT) AS dot,
      |         CAST(dot AS DOUBLE) /
      |           sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) AS cos
      |       FROM dots JOIN norms na ON na.doc = a_id
      |                 JOIN norms nb ON nb.doc = b_id)
      |SELECT a_id, b_id, dot, round(cos, 6) AS cos
      |FROM sc WHERE cos >= 0.8 ORDER BY a_id, b_id""".stripMargin

  /** Per-row importance resampling ([[Splits.resampleByRowWeight]]):
    * longer docs get proportionally more epochs — weight in basis
    * points = min(n_chars·10000/2000, 30000), i.e. chars/2000 capped at
    * 3.0×, all integer arithmetic replayed verbatim by the oracle. */
  private def q170(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("lang"),
      least(expr("(n_chars * 10000) div 2000"), lit(30000L)).as("w_bp"))
    Splits.resampleByRowWeight(docs, "doc_id", "w_bp")
      .orderBy(col("doc_id"), col("copy_id"))
  }

  private val q170Sql =
    """WITH w AS (
      |  SELECT doc_id, lang,
      |    least((n_chars * 10000) // 2000, 30000) AS w_bp,
      |    ((doc_id % 2147483648) * 2654435761) % 4294967296 % 10000 AS grid
      |  FROM documents WHERE n_chars > 0),
      |c AS (
      |  SELECT doc_id, lang, w_bp,
      |    w_bp // 10000 + CASE WHEN grid < w_bp % 10000 THEN 1 ELSE 0 END AS copies
      |  FROM w)
      |SELECT doc_id, lang, w_bp, CAST(unnest(range(copies)) AS BIGINT) AS copy_id
      |FROM c WHERE copies > 0 ORDER BY doc_id, copy_id""".stripMargin

  /** Exact phrase search over the persisted inverted index
    * ([[graft.search.InvertedIndex.phraseSearch]]): bucket-pruned
    * conjunctive candidates + adjacency verify on candidate texts only —
    * no positional postings. Oracle replays the phrase semantics over
    * the whole corpus relationally (the index is the optimization; the
    * answer must be corpus-truth). */
  private def q171(s: SparkSession, d: String): DataFrame = {
    import graft.search.InvertedIndex
    val docs = t(s, d, "documents")
    val dir = Scratch.dir(s, "q171")
    InvertedIndex.build(docs, "doc_id", "text", dir, tok = InvertedIndex.TokAlnum)
    InvertedIndex.phraseSearch(s, dir, docs, "doc_id", "text",
      Seq("table", "hash"), k = 20)
  }

  private val q171Sql =
    """WITH j AS (
      |  SELECT doc_id,
      |    chr(31) || array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), chr(31)) || chr(31) AS s
      |  FROM documents),
      |sc AS (
      |  SELECT doc_id,
      |    CAST((length(s) - length(replace(s, chr(31) || 'table' || chr(31) || 'hash' || chr(31), chr(31))))
      |      // (length('table hash') + 1) AS BIGINT) AS n_occ
      |  FROM j)
      |SELECT doc_id, n_occ FROM sc WHERE n_occ > 0
      |ORDER BY n_occ DESC, doc_id LIMIT 20""".stripMargin

  /** Chi-square association audit ([[graft.operators.Association]]):
    * lang vs source independence — corpus-metadata leak detection. One
    * corpus count aggregate; everything else runs on the bounded cell
    * grid; decimal term accumulation keeps χ² partitioning-invariant. */
  private def q174(s: SparkSession, d: String): DataFrame =
    graft.operators.Association.chiSquare(t(s, d, "documents"), "lang", "source")
      .select(col("n"), col("cells"), col("dof"),
        round(col("chi2"), 6).as("chi2"),
        round(col("cramers_v"), 6).as("cramers_v"))

  private val q174Sql =
    """WITH cells AS (
      |  SELECT lang AS a, source AS b, CAST(COUNT(*) AS BIGINT) AS nab
      |  FROM documents GROUP BY 1, 2),
      |rt AS (SELECT a, CAST(SUM(nab) AS BIGINT) AS na FROM cells GROUP BY a),
      |ct AS (SELECT b, CAST(SUM(nab) AS BIGINT) AS nb FROM cells GROUP BY b),
      |tot AS (SELECT CAST(SUM(nab) AS BIGINT) AS n,
      |          CAST(COUNT(*) AS BIGINT) AS cells,
      |          CAST(COUNT(DISTINCT a) AS BIGINT) AS r,
      |          CAST(COUNT(DISTINCT b) AS BIGINT) AS c FROM cells),
      |terms AS (
      |  SELECT n, cells, r, c,
      |    CAST((CAST(nab AS DOUBLE) - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / CAST(n AS DOUBLE))
      |       * (CAST(nab AS DOUBLE) - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / CAST(n AS DOUBLE))
      |       / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / CAST(n AS DOUBLE))
      |       - (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / CAST(n AS DOUBLE)) AS DECIMAL(38,12)) AS t
      |  FROM cells JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN tot),
      |agg AS (
      |  SELECT n, cells, r, c, SUM(t) AS s FROM terms GROUP BY n, cells, r, c)
      |SELECT n, cells, (r - 1) * (c - 1) AS dof,
      |  round(CAST(n AS DOUBLE) + CAST(s AS DOUBLE), 6) AS chi2,
      |  round(CASE WHEN r = 1 OR c = 1 THEN NULL
      |        ELSE sqrt((CAST(n AS DOUBLE) + CAST(s AS DOUBLE)) /
      |                  (CAST(n AS DOUBLE) * CAST(least(r, c) - 1 AS DOUBLE))) END, 6) AS cramers_v
      |FROM agg""".stripMargin

  /** Gini concentration audit ([[graft.operators.Inequality]]): how
    * lopsided is character mass across documents within each language —
    * exact rank-sum formulation, one closing division. */
  private def q175(s: SparkSession, d: String): DataFrame =
    graft.operators.Inequality.gini(t(s, d, "documents"), "lang", "n_chars", "doc_id")
      .select(col("lang"), col("n"), col("total"), round(col("gini"), 6).as("gini"))
      .orderBy(col("lang"))

  private val q175Sql =
    """WITH r AS (
      |  SELECT lang, CAST(n_chars AS BIGINT) AS x,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS BIGINT) AS rk
      |  FROM documents),
      |a AS (
      |  SELECT lang, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS total,
      |    CAST(SUM(rk * x) AS BIGINT) AS rx
      |  FROM r GROUP BY lang)
      |SELECT lang, n, total,
      |  round(CASE WHEN total = 0 THEN NULL
      |        ELSE (2.0 * CAST(rx AS DOUBLE) - CAST(n + 1 AS DOUBLE) * CAST(total AS DOUBLE)) /
      |             (CAST(n AS DOUBLE) * CAST(total AS DOUBLE)) END, 6) AS gini
      |FROM a ORDER BY lang""".stripMargin

  /** Hashing-trick featurizer ([[graft.operators.FeatureHash]]): fixed
    * 32-dim signed-hash features as exact-integer sparse triples — no
    * vocabulary table, no fitting pass; the oracle replays the full
    * polynomial→Knuth→sign hash stack. */
  private def q177(s: SparkSession, d: String): DataFrame =
    graft.operators.FeatureHash.featureHash(t(s, d, "documents"), "doc_id", "text",
        dims = 32)
      .orderBy(col("doc_id"), col("dim"))

  private val q177Sql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
      |k AS (SELECT doc_id, term, tf,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(term, ''), c -> CAST(ascii(c) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 1000000007) AS key
      |  FROM tf),
      |t2 AS (SELECT doc_id,
      |    CAST((((key % 2147483648) * 2654435761) % 4294967296) % 32 AS INTEGER) AS dim,
      |    tf * (key % 2 * 2 - 1) AS v
      |  FROM k)
      |SELECT doc_id, dim, CAST(SUM(v) AS BIGINT) AS value
      |FROM t2 GROUP BY doc_id, dim HAVING SUM(v) <> 0
      |ORDER BY doc_id, dim""".stripMargin

  /** Count-min sketch ([[graft.operators.Frequency.countMinBuild]]):
    * point token frequencies from a 4×1024 counter grid. In-query gate:
    * every estimate must satisfy the CMS guarantee est ≥ true (zero
    * rows otherwise); the oracle rebuilds the sketch bit-for-bit. */
  private def q178(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = t(s, d, "documents").select(
      explode(filter(split(col("text"), " "), w => w =!= "")).as("term"))
    val sketch = graft.operators.Frequency.countMinBuild(toks, "term").cache()
    val probes = Seq("table", "hash", "spark", "query", "join", "vector",
      "window", "scan", "nosuchtokenever").toDF("term")
    val est = graft.operators.Frequency.countMinEstimate(sketch, probes, "term")
    val counts = toks.groupBy(col("term")).agg(count(lit(1)).as("__n0"))
    val truth = probes.join(counts, Seq("term"), "left")
      .select(col("term"), coalesce(col("__n0"), lit(0L)).as("true_n"))
    val out = est.join(truth, "term")
      .select(col("term"), col("est"), col("true_n"))
    val ok = out.filter(col("est") < col("true_n")).isEmpty // CMS guarantee
    out.filter(lit(ok)).orderBy(col("term"))
  }

  private val q178Sql =
    """WITH tok AS (
      |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
      |  FROM documents),
      |k AS (SELECT term,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(term, ''), c -> CAST(ascii(c) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 1000000007) AS key
      |  FROM tok),
      |rows_ AS (SELECT unnest(range(4)) AS row_),
      |cells AS (
      |  SELECT row_, CAST((((((key + row_ * 1000003) % 1000000007) % 2147483648)
      |    * 2654435761) % 4294967296) % 1024 AS INTEGER) AS cell,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM k CROSS JOIN rows_ GROUP BY 1, 2),
      |q(term) AS (VALUES ('table'), ('hash'), ('spark'), ('query'), ('join'),
      |  ('vector'), ('window'), ('scan'), ('nosuchtokenever')),
      |qk AS (SELECT term,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(term, ''), c -> CAST(ascii(c) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 1000000007) AS key
      |  FROM q),
      |qc AS (
      |  SELECT term, row_, CAST((((((key + row_ * 1000003) % 1000000007) % 2147483648)
      |    * 2654435761) % 4294967296) % 1024 AS INTEGER) AS cell
      |  FROM qk CROSS JOIN rows_),
      |est AS (
      |  SELECT qc.term, CAST(MIN(COALESCE(cells.n, 0)) AS BIGINT) AS est
      |  FROM qc LEFT JOIN cells ON cells.row_ = qc.row_ AND cells.cell = qc.cell
      |  GROUP BY qc.term),
      |tru AS (
      |  SELECT q.term, CAST(COUNT(tok.term) AS BIGINT) AS true_n
      |  FROM q LEFT JOIN tok ON tok.term = q.term GROUP BY q.term)
      |SELECT term, est, true_n FROM est JOIN tru USING (term)
      |ORDER BY term""".stripMargin

  /** Cross-source contamination matrix ([[graft.operators.Overlap]]):
    * pairwise shared distinct word-trigrams between sources with the
    * Szymkiewicz–Simpson overlap coefficient — the q83 leakage check at
    * source granularity. */
  private def q180(s: SparkSession, d: String): DataFrame =
    graft.operators.Overlap.sourceOverlap(t(s, d, "documents"), "text", "source",
        n = 3)
      .select(col("source_a"), col("source_b"), col("shared"),
        col("na"), col("nb"), round(col("overlap"), 6).as("overlap"))
      .orderBy(col("source_a"), col("source_b"))

  private val q180Sql =
    """WITH w AS (
      |  SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |  FROM documents),
      |sh AS (SELECT DISTINCT source,
      |         unnest(list_transform(range(len(w) - 2), i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS s
      |       FROM w WHERE len(w) >= 3),
      |ps AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_distinct FROM sh GROUP BY source),
      |pr AS (SELECT a.source AS source_a, b.source AS source_b,
      |         CAST(COUNT(*) AS BIGINT) AS shared
      |       FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
      |       GROUP BY 1, 2)
      |SELECT source_a, source_b, shared, pa.n_distinct AS na, pb.n_distinct AS nb,
      |  round(CAST(shared AS DOUBLE) / CAST(least(pa.n_distinct, pb.n_distinct) AS DOUBLE), 6) AS overlap
      |FROM pr JOIN ps pa ON pa.source = source_a
      |        JOIN ps pb ON pb.source = source_b
      |ORDER BY source_a, source_b""".stripMargin

  /** Incremental all-pairs cosine against the standing corpus
    * ([[graft.operators.AllPairs.cosineAgainstCorpus]]): the per-ingest
    * near-copy gate — batch = every 10th document, corpus = the rest;
    * the corpus is never self-joined. */
  private def q181(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    val batch = docs.filter(col("doc_id") % 10 === 7)
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    graft.operators.AllPairs.cosineAgainstCorpus(batch, corpus,
        "doc_id", "text", threshold = 0.8)
      .select(col("batch_id"), col("corpus_id"), col("dot"),
        round(col("cos"), 6).as("cos"))
      .orderBy(col("batch_id"), col("corpus_id"))
  }

  private val q181Sql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id AS doc, term, CAST(COUNT(*) AS BIGINT) AS tf
      |       FROM tok GROUP BY 1, 2),
      |nn AS (SELECT COUNT(DISTINCT doc) AS n FROM tf),
      |dfc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
      |w0 AS (SELECT doc, term,
      |         tf * (length(bin(nn.n)) - length(bin(df))) AS w
      |       FROM tf JOIN dfc USING (term) CROSS JOIN nn),
      |w AS (SELECT doc, term, w FROM w0 WHERE w > 0),
      |norms AS (SELECT doc, SUM(w * w) AS nrm FROM w GROUP BY doc),
      |dots AS (SELECT a.doc AS batch_id, b.doc AS corpus_id, SUM(a.w * b.w) AS dot
      |         FROM w a JOIN w b ON a.term = b.term AND a.doc <> b.doc
      |         WHERE a.doc % 10 = 7 AND b.doc % 10 <> 7
      |         GROUP BY 1, 2),
      |sc AS (SELECT batch_id, corpus_id, CAST(dot AS BIGINT) AS dot,
      |         CAST(dot AS DOUBLE) /
      |           sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) AS cos
      |       FROM dots JOIN norms na ON na.doc = batch_id
      |                 JOIN norms nb ON nb.doc = corpus_id)
      |SELECT batch_id, corpus_id, dot, round(cos, 6) AS cos
      |FROM sc WHERE cos >= 0.8 ORDER BY batch_id, corpus_id""".stripMargin

  /** Per-source distribution drift ([[graft.operators.Drift]]): exact
    * integer Total-Variation distance of each source's token mix from
    * the corpus mix — no logarithms, absent terms folded in
    * algebraically, one pinned division. */
  private def q182(s: SparkSession, d: String): DataFrame =
    graft.operators.Drift.sourceTv(t(s, d, "documents"), "text", "source")
      .select(col("source"), col("n_tokens"), round(col("tv"), 6).as("tv"))
      .orderBy(col("source"))

  private val q182Sql =
    """WITH st AS (
      |  SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
      |  FROM documents),
      |c AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS cst FROM st GROUP BY 1, 2),
      |corp AS (SELECT t, CAST(SUM(cst) AS BIGINT) AS ct FROM c GROUP BY t),
      |tot AS (SELECT source, CAST(SUM(cst) AS BIGINT) AS ts FROM c GROUP BY source),
      |g AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt FROM corp),
      |a AS (
      |  SELECT c.source, tot.ts, g.tt,
      |    CAST(SUM(abs(cst * tt - ct * ts)) AS BIGINT) AS present,
      |    CAST(SUM(ct) AS BIGINT) AS covered
      |  FROM c JOIN corp USING (t) JOIN tot USING (source) CROSS JOIN g
      |  GROUP BY 1, 2, 3)
      |SELECT source, ts AS n_tokens,
      |  round(CAST(present + ts * (tt - covered) AS DOUBLE) /
      |        (2.0 * CAST(ts AS DOUBLE) * CAST(tt AS DOUBLE)), 6) AS tv
      |FROM a ORDER BY source""".stripMargin

  /** End-to-end corpus-release audit pipeline — the round-10 operators
    * composed as ONE DAG (the q122 pattern for the audit family):
    * TV-drift gate drops divergent feeds → contamination matrix drops
    * the duplicated side of high-overlap source pairs → per-lang
    * difficulty binning (NTILE) → bin-weighted πps sample (20/lang) →
    * per-(lang, bin) release accounting. Both audits run on the FULL
    * corpus, filters apply once; every stage is exact/pinned, so the
    * oracle replays the whole chain and a semantic change to ANY stage
    * breaks the hash. */
  private def q183(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val calm = graft.operators.Drift.sourceTv(docs, "text", "source")
      .filter(col("tv") <= 0.065).select(col("source"))
    val contaminated = graft.operators.Overlap
      .sourceOverlap(docs, "text", "source", n = 3)
      .filter(col("overlap") >= 0.115)
      .select(col("source_b").as("source")).distinct()
    val kept = docs.join(broadcast(calm), "source")
      .join(broadcast(contaminated), Seq("source"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val binned = graft.operators.Binning.equalFrequency(
      kept, "lang", "n_chars", "doc_id", bins = 10)
    Splits.weightedBottomKSample(binned, "doc_id", "bin", "lang", k = 20)
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("bin"))
  }

  private val q183Sql =
    """WITH dtok AS (
      |  SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
      |  FROM documents),
      |dc AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS cst FROM dtok GROUP BY 1, 2),
      |dcorp AS (SELECT t, CAST(SUM(cst) AS BIGINT) AS ct FROM dc GROUP BY t),
      |dtot AS (SELECT source, CAST(SUM(cst) AS BIGINT) AS ts FROM dc GROUP BY source),
      |dg AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt FROM dcorp),
      |da AS (
      |  SELECT dc.source, dtot.ts, dg.tt,
      |    CAST(SUM(abs(cst * tt - ct * ts)) AS BIGINT) AS present,
      |    CAST(SUM(ct) AS BIGINT) AS covered
      |  FROM dc JOIN dcorp USING (t) JOIN dtot USING (source) CROSS JOIN dg
      |  GROUP BY 1, 2, 3),
      |calm AS (
      |  SELECT source FROM da
      |  WHERE CAST(present + ts * (tt - covered) AS DOUBLE) /
      |        (2.0 * CAST(ts AS DOUBLE) * CAST(tt AS DOUBLE)) <= 0.065),
      |ow AS (SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |       FROM documents),
      |osh AS (SELECT DISTINCT source,
      |          unnest(list_transform(range(len(w) - 2), i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS s
      |        FROM ow WHERE len(w) >= 3),
      |ops AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_distinct FROM osh GROUP BY source),
      |opr AS (SELECT a.source AS source_a, b.source AS source_b,
      |          CAST(COUNT(*) AS BIGINT) AS shared
      |        FROM osh a JOIN osh b ON a.s = b.s AND a.source < b.source
      |        GROUP BY 1, 2),
      |contaminated AS (
      |  SELECT DISTINCT source_b AS source
      |  FROM opr JOIN ops pa ON pa.source = source_a
      |           JOIN ops pb ON pb.source = source_b
      |  WHERE CAST(shared AS DOUBLE) /
      |        CAST(least(pa.n_distinct, pb.n_distinct) AS DOUBLE) >= 0.115),
      |kept AS (
      |  SELECT doc_id, lang, n_chars FROM documents
      |  WHERE source IN (SELECT source FROM calm)
      |    AND source NOT IN (SELECT source FROM contaminated)),
      |b AS (
      |  SELECT doc_id, lang,
      |    NTILE(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS bin
      |  FROM kept),
      |p AS (
      |  SELECT doc_id, lang, bin,
      |    (((doc_id % 2147483648) * 2654435761) % 4294967296) * 1048576
      |      // least(bin, 1073741824) AS prio
      |  FROM b),
      |r AS (
      |  SELECT lang, bin,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY prio, doc_id) AS rn
      |  FROM p)
      |SELECT lang, bin, CAST(COUNT(*) AS BIGINT) AS n
      |FROM r WHERE rn <= 20 GROUP BY lang, bin ORDER BY lang, bin""".stripMargin

  /** Boolean AND-NOT serving + compaction on the persisted inverted
    * index ([[graft.search.InvertedIndex.searchNot]] / `compact`): after
    * an incremental mutation epoch (a corpus slice re-added with a new
    * term), the query asks for documents containing BOTH positives and
    * NEITHER negative — negation served from ≤ |mustNot| pruned posting
    * buckets and one anti-join, never a corpus scan. The gate then runs
    * [[graft.search.InvertedIndex.compact]] (the store OPTIMIZE with the
    * index's term clustering restored) and zeroes the output unless
    * serving is row-identical before and after — compaction must be
    * invisible to queries. */
  private def q186(s: SparkSession, d: String): DataFrame = {
    import graft.search.InvertedIndex
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    val dir = Scratch.dir(s, "q186")
    InvertedIndex.build(docs, "doc_id", "text", dir)
    InvertedIndex.add(s, dir,
      docs.filter(col("doc_id") % 11 === 2)
        .withColumn("text", concat(col("text"), lit(" graftneg"))),
      "doc_id", "text")
    val must = Seq("table", "vector"); val mustNot = Seq("graftneg", "merge")
    val before = InvertedIndex.searchNot(s, dir, must, mustNot, k = 15)
      .collect().toSeq
    InvertedIndex.compact(s, dir)
    val res = InvertedIndex.searchNot(s, dir, must, mustNot, k = 15)
    if (res.collect().toSeq == before) res else res.limit(0)
  }

  private val q186Sql =
    """WITH v AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 11 = 2 THEN text || ' graftneg' ELSE text END AS text
      |  FROM documents),
      |occ AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
      |  FROM v),
      |n AS (SELECT COUNT(*) AS nd FROM v),
      |tfq AS (
      |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM occ
      |  WHERE term IN ('table', 'vector') GROUP BY 1, 2),
      |dfq AS (
      |  SELECT term, COUNT(DISTINCT doc_id) AS df FROM occ
      |  WHERE term IN ('table', 'vector') GROUP BY 1),
      |w AS (SELECT term, CAST(length(bin(nd)) - length(bin(df)) AS INTEGER) AS w
      |      FROM dfq CROSS JOIN n),
      |neg AS (SELECT DISTINCT doc_id FROM occ WHERE term IN ('graftneg', 'merge')),
      |sc AS (
      |  SELECT doc_id, CAST(SUM(tf * w) AS BIGINT) AS score
      |  FROM tfq JOIN w USING (term)
      |  WHERE doc_id NOT IN (SELECT doc_id FROM neg)
      |  GROUP BY doc_id HAVING COUNT(DISTINCT term) = 2)
      |SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 15""".stripMargin

  /** Trainable bigram-LM surprisal ([[graft.operators.NgramLm]]) — the
    * CCNet train-on-reference / score-target quality signal: the model
    * trains on a trusted corpus slice (`doc_id % 3 = 0` stands in for
    * "curated reference"), scores EVERY document, and Laplace smoothing
    * keeps unseen contexts/transitions scoreable — which is the whole
    * point of the cross-corpus variant over q96's self-scoring (where an
    * unseen bigram cannot exist). Exact integer bits end to end; only
    * the final per-doc mean divides. */
  private def q185(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val model = graft.operators.NgramLm.train(
      docs.filter(col("doc_id") % 3 === 0), "text")
    graft.operators.NgramLm.score(docs, "doc_id", "text", model)
      .orderBy(col("doc_id"))
  }

  private val q185Sql =
    """WITH rw AS (
      |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w
      |  FROM documents WHERE doc_id % 3 = 0),
      |v AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS v
      |      FROM (SELECT unnest(w) AS t FROM rw)),
      |rbg AS (SELECT unnest(list_transform(range(len(w) - 1),
      |          i -> {'w1': w[i+1], 'w2': w[i+2]})) AS b
      |        FROM rw WHERE len(w) >= 2),
      |c2 AS (SELECT b.w1 AS w1, b.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS c12
      |       FROM rbg GROUP BY 1, 2),
      |c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
      |tw AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |       FROM documents),
      |tbg AS (SELECT doc_id, unnest(list_transform(range(len(w) - 1),
      |          i -> {'w1': w[i+1], 'w2': w[i+2]})) AS b
      |        FROM tw WHERE len(w) >= 2),
      |p AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM tbg),
      |sc AS (SELECT doc_id,
      |         CAST(length(bin(COALESCE(c1, 0) + v)) -
      |              length(bin(COALESCE(c12, 0) + 1)) AS BIGINT) AS s
      |       FROM p LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1)
      |            CROSS JOIN v),
      |agg AS (SELECT doc_id, COUNT(*) AS n_bigrams,
      |          CAST(SUM(s) AS BIGINT) AS surprisal_bits
      |        FROM sc GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |  CAST(COALESCE(surprisal_bits, 0) AS BIGINT) AS surprisal_bits,
      |  COALESCE(round(CAST(surprisal_bits AS DOUBLE) / n_bigrams, 6), 0.0) AS mean_bits
      |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin

  /** KMV-sketched source-contamination matrix
    * ([[graft.operators.Overlap.sketchOverlap]]): per-source bottom-64
    * signatures over deterministic 3-shingle hashes, pairwise Jaccard
    * estimated from the merged signatures — the bounded-state path for
    * q180's exact matrix (whose only corpus-scale stage is the distinct-
    * shingle shuffle). The replayable hash stack makes the ESTIMATE
    * itself oracle-exact: DuckDB rebuilds the signatures hash-for-hash
    * and must land on identical estimates, not merely close ones. */
  private def q189(s: SparkSession, d: String): DataFrame =
    graft.operators.Overlap.sketchOverlap(
      t(s, d, "documents"), "text", "source", n = 3, k = 64)
      .orderBy(col("source_a"), col("source_b"))

  private val q189Sql =
    """WITH w AS (
      |  SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |  FROM documents),
      |sh AS (
      |  SELECT source, unnest(list_transform(range(len(w) - 2),
      |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS s
      |  FROM w WHERE len(w) >= 3),
      |keyd AS (
      |  SELECT DISTINCT source,
      |    ((list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
      |        (a, b) -> (a * 31 + b) % 1000000007) % 2147483648)
      |      * 2654435761) % 4294967296 AS h
      |  FROM sh),
      |bk AS (
      |  SELECT source, h FROM (
      |    SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk
      |    FROM keyd) WHERE rk <= 64),
      |srcs AS (SELECT DISTINCT source FROM bk),
      |pairs AS (SELECT x.source AS sa, y.source AS sb
      |          FROM srcs x JOIN srcs y ON x.source < y.source),
      |u AS (
      |  SELECT sa, sb, h, MAX(ia) AS ia, MAX(ib) AS ib FROM (
      |    SELECT p.sa, p.sb, k.h, 1 AS ia, 0 AS ib
      |    FROM pairs p JOIN bk k ON k.source = p.sa
      |    UNION ALL
      |    SELECT p.sa, p.sb, k.h, 0 AS ia, 1 AS ib
      |    FROM pairs p JOIN bk k ON k.source = p.sb)
      |  GROUP BY sa, sb, h),
      |r AS (
      |  SELECT sa, sb, h, ia, ib,
      |    ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY h) AS rk
      |  FROM u)
      |SELECT sa AS source_a, sb AS source_b,
      |  CAST(COUNT(*) AS BIGINT) AS k_union,
      |  CAST(SUM(ia * ib) AS BIGINT) AS in_both,
      |  round(CAST(SUM(ia * ib) AS DOUBLE) / COUNT(*), 6) AS est_jaccard
      |FROM r WHERE rk <= 64
      |GROUP BY sa, sb ORDER BY sa, sb""".stripMargin

  override val queries: Seq[Q] = Seq(
    Q("q157_bottomk_sample", q157, Some(q157Sql)),
    Q("q159_inverted_index", q159, Some(q159Sql)),
    Q("q159_build", q159b, Some(q159bSql), headline = true),
    Q("q159_serve", q159s, Some(q159Sql), headline = true),
    Q("q161_inverted_index_sync", q161, Some(q161Sql)),
    Q("q164_pmi_collocations", q164, Some(q164Sql), headline = true),
    Q("q165_containment_dedup", q165, Some(q165Sql)),
    Q("q166_weighted_sample", q166, Some(q166Sql)),
    Q("q169_allpairs_cosine", q169, Some(q169Sql)),
    Q("q170_row_resample", q170, Some(q170Sql)),
    Q("q171_phrase_search", q171, Some(q171Sql)),
    Q("q174_chi_square", q174, Some(q174Sql)),
    Q("q175_gini", q175, Some(q175Sql)),
    Q("q177_feature_hash", q177, Some(q177Sql)),
    Q("q178_countmin", q178, Some(q178Sql)),
    Q("q180_source_overlap", q180, Some(q180Sql)),
    Q("q181_incremental_allpairs", q181, Some(q181Sql)),
    Q("q182_source_drift", q182, Some(q182Sql)),
    Q("q183_audit_pipeline", q183, Some(q183Sql), headline = true),
    Q("q185_ngram_lm", q185, Some(q185Sql)),
    Q("q186_boolean_search", q186, Some(q186Sql)),
    Q("q189_sketch_overlap", q189, Some(q189Sql)))
}
