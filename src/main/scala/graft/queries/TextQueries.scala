package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.TextFunctions._
import graft.operators.{Clusters, Decontaminate, Dedup, Packing, QualityFilters, Splits}

/** Training-data pipeline operators: dedup (exact / n-gram Jaccard /
  * MinHash-LSH / SimHash), language ID, quality scoring, token stats,
  * fingerprinting — all over the `documents` table.
  *
  * Oracle notes: Jaccard pair queries verify against exact SQL joins
  * (LSH's verified output equals the exact answer with p≈1 at the
  * thresholds used — see Dedup.minhashLshPairs). SimHash is seeded-hash-
  * dependent, hence rows-only + ScalaTest containment checks.
  */
object TextQueries extends QuerySet {

  private val bpePattern = " ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** Exact dedup by full text (hash groupBy, one shuffle). */
  private def q40(s: SparkSession, d: String): DataFrame =
    Dedup.exact(t(s, d, "documents"), "doc_id", Seq("text"))
      .select(col("keeper_id"), col("n_copies"))
      .orderBy(col("keeper_id"))

  private val q40Sql =
    """SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY text ORDER BY keeper_id""".stripMargin

  /** Exact word-3-gram Jaccard near-dup pairs (relational shingle join). */
  private def q41(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text", n = 3, threshold = 0.8,
        hashShingles = true)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("a_id"), col("b_id"))

  /** Shared CTE chain computing exact word-3-gram Jaccard pairs ≥ the
    * given threshold (used by q41/q42's oracle and, transitively, by
    * q85's connected-components oracle). */
  private def pairCtes(threshold: String) =
    s"""w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
       |           FROM documents),
       |sh AS (SELECT DISTINCT doc_id,
       |         unnest(list_transform(range(len(w) - 2), i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS s
       |       FROM w WHERE len(w) >= 3),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS c
       |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |pairs AS (SELECT a_id, b_id, c * 1.0 / (sa.n + sb.n - c) AS jac
       |          FROM inter
       |          JOIN sizes sa ON sa.doc_id = a_id
       |          JOIN sizes sb ON sb.doc_id = b_id
       |          WHERE c * 1.0 / (sa.n + sb.n - c) >= $threshold)""".stripMargin

  private def jaccardSql(threshold: String) =
    s"""WITH ${pairCtes(threshold)}
       |SELECT a_id, b_id, round(jac, 6) AS jaccard
       |FROM pairs ORDER BY a_id, b_id""".stripMargin

  /** MinHash+LSH near-dup pairs, exact-verified (oracle: the exact join —
    * see probability note on Dedup.minhashLshPairs). */
  private def q42(s: SparkSession, d: String): DataFrame =
    Dedup.minhashLshPairs(t(s, d, "documents"), "doc_id", "text",
        n = 3, numHashes = 24, bands = 8, threshold = 0.85)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("a_id"), col("b_id"))

  /** SimHash near-dup discovery made driver-checkable (q94 planted-dup
    * pattern): exact copies of docs 0-24 are planted under shifted ids —
    * identical text means identical simhash, so each planted pair MUST
    * surface at Hamming 0 (a 0-distance pair shares every 16-bit chunk,
    * so the blocked join cannot miss it). The in-query gate zeroes the
    * output unless all 25 planted pairs were discovered by the real
    * pipeline (signature → chunk block join → Hamming filter); the
    * emitted rows are the identical-text pair slice, which DuckDB
    * recomputes with a text self-join — no hash needed. Organic
    * near-dup pairs at Hamming 1-3 stay covered by DedupSpec's
    * containment-in-exact-Jaccard assertion. */
  private def q43(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") < 25)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val corpus = docs.union(planted)
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text", n = 3, maxHamming = 3)
    val plantedFound = pairs.filter(
      col("b_id") === col("a_id") + 1000000L &&
        col("a_id") < 25 && col("hamming") === 0).count()
    val gated = if (plantedFound == 25L) pairs else pairs.limit(0)
    val texts = corpus
    gated
      .join(texts.select(col("doc_id").as("a_id"), col("text").as("__ta")), Seq("a_id"))
      .join(texts.select(col("doc_id").as("b_id"), col("text").as("__tb")), Seq("b_id"))
      .filter(col("__ta") === col("__tb"))
      .select(col("a_id"), col("b_id"), col("hamming"))
      .orderBy(col("a_id"), col("b_id"))
  }

  private val q43Sql =
    """WITH c AS (SELECT doc_id, text FROM documents
      |           UNION ALL
      |           SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 25)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(0 AS INT) AS hamming
      |FROM c a JOIN c b ON a.text = b.text AND a.doc_id < b.doc_id
      |ORDER BY a_id, b_id""".stripMargin

  /** Language ID by stopword score, argmax with alphabetical tie-break. */
  private def q44(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), langId(col("text")).as("lang_pred"))
      .orderBy(col("doc_id"))

  private val q44Sql = {
    def sl(lang: String) =
      StopwordLists.toMap.apply(lang).map(w => s"'$w'").mkString("[", ", ", "]")
    val langs = StopwordLists.map(_._1) // already alphabetical
    val scores = langs.map(l => s"len(list_intersect(w, ${sl(l)})) AS s_$l").mkString(",\n  ")
    val g = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val cases = langs.map(l => s"WHEN s_$l = $g THEN '$l'").mkString("\n  ")
    s"""WITH w AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
       |           FROM documents),
       |sc AS (SELECT doc_id,
       |  $scores
       |FROM w)
       |SELECT doc_id, CASE WHEN $g = 0 THEN 'und'
       |  $cases
       |  END AS lang_pred
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  /** Quality features: word count, mean word length, alnum ratio,
    * stopword hits. */
  private def q45(s: SparkSession, d: String): DataFrame = {
    val feats = qualityFeatures(col("text"))
    t(s, d, "documents")
      .select(col("doc_id") +: feats.map { case (n, c) => c.as(n) }: _*)
      .select(col("doc_id"), col("n_words"),
        round(col("mean_word_len"), 6).as("mean_word_len"),
        round(col("alnum_ratio"), 6).as("alnum_ratio"), col("stopword_hits"))
      .orderBy(col("doc_id"))
  }

  private val q45Sql = {
    val en = StopwordLists.toMap.apply("en").map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH f AS (SELECT doc_id,
       |  len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_words,
       |  length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS n_alnum,
       |  length(text) AS n_chars,
       |  len(list_intersect(list_filter(string_split(lower(text), ' '), x -> x <> ''), $en)) AS stopword_hits
       |FROM documents)
       |SELECT doc_id, n_words,
       |  round(CASE WHEN n_words = 0 THEN 0.0 ELSE n_alnum * 1.0 / n_words END, 6) AS mean_word_len,
       |  round(CASE WHEN n_chars = 0 THEN 0.0 ELSE n_alnum * 1.0 / n_chars END, 6) AS alnum_ratio,
       |  stopword_hits
       |FROM f ORDER BY doc_id""".stripMargin
  }

  /** Token counting: whitespace words + BPE-ish regex lexer count. */
  private def q46(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"),
        size(words(col("text"))).as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit(bpePattern), lit(0))).as("bpe_tokens"))
      .orderBy(col("doc_id"))

  private val q46Sql =
    s"""SELECT doc_id,
       |  len(list_filter(string_split(text, ' '), x -> x <> '')) AS ws_tokens,
       |  len(regexp_extract_all(text, '$bpePattern')) AS bpe_tokens
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Tokenizer fertility audit per language (Rust et al. 2021's
    * multilingual-tokenizer metric): subword tokens per whitespace
    * word ("fertility" — how many pieces the tokenizer shatters a word
    * into) and characters per token (compression), rolled up by lang —
    * the audit that tells a multilingual curation run WHICH languages
    * a tokenizer serves badly (high fertility = the lang pays more
    * sequence length per word). Uses the q46 BPE-ish lexer; a
    * lang-count aggregate over narrow per-row counts. */
  private def q429(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("lang"),
        size(words(col("text"))).cast("long").as("ws"),
        size(regexp_extract_all(col("text"), lit(bpePattern), lit(0)))
          .cast("long").as("bt"),
        col("n_chars").cast("long").as("nc"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("sum_words"),
        sum(col("bt")).as("sum_bpe_tokens"), sum(col("nc")).as("sum_chars"))
      .select(col("lang"), col("n_docs"), col("sum_words"),
        col("sum_bpe_tokens"),
        when(col("sum_words") === 0, lit(0.0))
          .otherwise(round(col("sum_bpe_tokens").cast("double") /
            col("sum_words").cast("double"), 6)).as("fertility"),
        when(col("sum_bpe_tokens") === 0, lit(0.0))
          .otherwise(round(col("sum_chars").cast("double") /
            col("sum_bpe_tokens").cast("double"), 6)).as("chars_per_token"))
      .orderBy(col("lang"))

  private val q429Sql =
    s"""WITH f AS (SELECT lang,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
       |      AS BIGINT) AS ws,
       |    CAST(len(regexp_extract_all(text, '$bpePattern')) AS BIGINT) AS bt,
       |    CAST(n_chars AS BIGINT) AS nc
       |  FROM documents),
       |g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(ws) AS BIGINT) AS sum_words,
       |    CAST(SUM(bt) AS BIGINT) AS sum_bpe_tokens,
       |    CAST(SUM(nc) AS BIGINT) AS sum_chars
       |  FROM f GROUP BY lang)
       |SELECT lang, n_docs, sum_words, sum_bpe_tokens,
       |  CASE WHEN sum_words = 0 THEN 0.0
       |    ELSE round(sum_bpe_tokens * 1.0 / sum_words, 6) END AS fertility,
       |  CASE WHEN sum_bpe_tokens = 0 THEN 0.0
       |    ELSE round(sum_chars * 1.0 / sum_bpe_tokens, 6) END
       |    AS chars_per_token
       |FROM g ORDER BY lang""".stripMargin

  /** Rolling polynomial document fingerprint (exact integer fold). */
  private def q47(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  private val q47Sql =
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
      |    (a, b) -> (a * 31 + b) % 1000000007) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Corpus stats rollup by source over derived text features. */
  private def q48(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("source"), size(words(col("text"))).as("nw"), col("n_chars"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("sum_words"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("source"))

  private val q48Sql =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS sum_words,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** Pivot: doc counts per source × language (wide-format reshape; the
    * oracle states it as conditional aggregation, which is also exactly
    * the plan Spark compiles a pivot to). */
  private def q49(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .groupBy(col("source"))
      .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("source"))

  private val q49Sql =
    """SELECT source,
      |  COUNT(*) FILTER (WHERE lang = 'de') AS de,
      |  COUNT(*) FILTER (WHERE lang = 'en') AS en,
      |  COUNT(*) FILTER (WHERE lang = 'es') AS es,
      |  COUNT(*) FILTER (WHERE lang = 'fr') AS fr,
      |  COUNT(*) FILTER (WHERE lang = 'zh') AS zh
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** Deterministic hash train/val/test split — reproducible across
    * engines/partitionings (vs randomSplit), hence SQL-oracle-exact. */
  private def q51(s: SparkSession, d: String): DataFrame =
    Splits.withSplit(t(s, d, "documents"), "doc_id")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("split"))

  private val q51Sql =
    """SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
      |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM (SELECT n_chars,
      |        (doc_id % 2147483648) * 2654435761 % 4294967296 % 100 AS b
      |      FROM documents)
      |GROUP BY 1 ORDER BY split""".stripMargin

  /** Deterministic stratified sampling: rebalance the corpus by language
    * (downsample dominant en, keep most of the rest) with the stable id
    * hash — same rows selected on any partitioning or engine. */
  private def q69(s: SparkSession, d: String): DataFrame =
    Splits.stratifiedSample(t(s, d, "documents"), "doc_id", "lang",
        Map("en" -> 0.25, "zh" -> 0.4), defaultFraction = 0.6)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  private val q69Sql =
    """SELECT doc_id, lang FROM documents
      |WHERE (doc_id % 2147483648) * 2654435761 % 4294967296 % 10000 <
      |  CASE WHEN lang = 'en' THEN 2500 WHEN lang = 'zh' THEN 4000 ELSE 6000 END
      |ORDER BY doc_id""".stripMargin

  /** Benchmark decontamination: the deterministic test split is the
    * "benchmark"; training docs sharing any word-3-gram with it are
    * flagged with their shared-shingle count (n-gram overlap
    * decontamination — the GPT-3/Llama pre-training hygiene step). */
  private def q83(s: SparkSession, d: String): DataFrame = {
    val sp = Splits.withSplit(t(s, d, "documents"), "doc_id")
    Decontaminate.sharedNgrams(
        sp.filter(col("split") === "train"),
        sp.filter(col("split") === "test"),
        "doc_id", "text", n = 3)
      .orderBy(col("doc_id"))
  }

  private val q83Sql =
    """WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |           FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |         unnest(list_transform(range(len(w) - 2), i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS s
      |       FROM w WHERE len(w) >= 3),
      |b AS (SELECT doc_id, (doc_id % 2147483648) * 2654435761 % 4294967296 % 100 AS b
      |      FROM documents),
      |tr AS (SELECT sh.doc_id, s FROM sh JOIN b USING (doc_id) WHERE b.b < 80),
      |te AS (SELECT DISTINCT s FROM sh JOIN b USING (doc_id) WHERE b.b >= 90)
      |SELECT tr.doc_id, COUNT(*) AS shared_ngrams
      |FROM tr JOIN te USING (s)
      |GROUP BY tr.doc_id ORDER BY doc_id""".stripMargin

  /** Gopher-style repetition quality signals: duplicate-word fraction
    * and top-bigram coverage per document. */
  private def q84(s: SparkSession, d: String): DataFrame =
    QualityFilters.repetitionSignals(t(s, d, "documents"), "doc_id", "text")
      .select(col("doc_id"),
        round(col("dup_word_frac"), 6).as("dup_word_frac"),
        round(col("top_bigram_frac"), 6).as("top_bigram_frac"))
      .orderBy(col("doc_id"))

  private val q84Sql =
    """WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |           FROM documents),
      |ws AS (SELECT doc_id, len(w) AS n_words, len(list_distinct(w)) AS n_distinct FROM w),
      |bg AS (SELECT doc_id,
      |         unnest(list_transform(range(len(w) - 1), i -> w[i+1] || ' ' || w[i+2])) AS s
      |       FROM w WHERE len(w) >= 2),
      |bc AS (SELECT doc_id, s, COUNT(*) AS c FROM bg GROUP BY 1, 2),
      |bs AS (SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_bg FROM bc GROUP BY 1)
      |SELECT ws.doc_id,
      |  round(CASE WHEN n_words = 0 THEN 0.0
      |    ELSE 1.0 - CAST(n_distinct AS DOUBLE) / n_words END, 6) AS dup_word_frac,
      |  round(coalesce(CAST(top_c AS DOUBLE) / n_bg, 0.0), 6) AS top_bigram_frac
      |FROM ws LEFT JOIN bs USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Dedup CLUSTER resolution: near-dup pairs (the q41 set) → transitive
    * connected components via alternating large-star/small-star — the
    * step between pair generation and "keep one per cluster". Oracle:
    * transitive closure by recursive CTE, min reachable id per node. */
  private def q85(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.8, hashShingles = true)
    Clusters.connectedComponents(docs, "doc_id", pairs, "a_id", "b_id")
      .orderBy(col("doc_id"))
  }

  private val q85Sql =
    s"""WITH RECURSIVE ${pairCtes("0.8")},
       |e AS (SELECT a_id AS u, b_id AS v FROM pairs
       |      UNION ALL SELECT b_id, a_id FROM pairs),
       |r(u, v) AS (SELECT doc_id, doc_id FROM documents
       |            UNION SELECT r.u, e.v FROM r JOIN e ON r.v = e.u)
       |SELECT u AS doc_id, MIN(v) AS cluster_id
       |FROM r GROUP BY u ORDER BY doc_id""".stripMargin

  /** Dedup cluster REPRESENTATIVE selection — the keep-policy step after
    * q85's resolution: production dedup keeps the best member of each
    * near-dup cluster (here: most tokens, ties to the lower id — a total
    * order, so the choice is deterministic in both engines), not the
    * arbitrary min-id. Composition of existing ops: CC labels ⋈ token
    * counts → one groupBy with an argmax over a composite key; the
    * representative step adds a single doc-cardinality aggregation on
    * top of the audited q85 plan. */
  private def q109(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.8, hashShingles = true)
    val clusters = Clusters.connectedComponents(docs, "doc_id", pairs, "a_id", "b_id")
    val wc = docs.select(col("doc_id"),
      size(filter(split(col("text"), " "), x => x =!= "")).cast("long").as("n_tokens"))
    clusters.join(wc, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(
        max_by(col("doc_id"), struct(col("n_tokens"), (-col("doc_id")).as("nid"))).as("rep_id"),
        count(lit(1)).as("size"),
        max(col("n_tokens")).as("rep_tokens"))
      .orderBy(col("cluster_id"))
  }

  private val q109Sql =
    s"""WITH RECURSIVE ${pairCtes("0.8")},
       |e AS (SELECT a_id AS u, b_id AS v FROM pairs
       |      UNION ALL SELECT b_id, a_id FROM pairs),
       |r(u, v) AS (SELECT doc_id, doc_id FROM documents
       |            UNION SELECT r.u, e.v FROM r JOIN e ON r.v = e.u),
       |cl AS (SELECT u AS doc_id, MIN(v) AS cluster_id FROM r GROUP BY u),
       |wc AS (SELECT doc_id,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |rk AS (SELECT cluster_id, doc_id, n_tokens,
       |         ROW_NUMBER() OVER (PARTITION BY cluster_id
       |           ORDER BY n_tokens DESC, doc_id) AS rn,
       |         COUNT(*) OVER (PARTITION BY cluster_id) AS size
       |       FROM cl JOIN wc USING (doc_id))
       |SELECT cluster_id, doc_id AS rep_id, CAST(size AS BIGINT) AS size,
       |  n_tokens AS rep_tokens
       |FROM rk WHERE rn = 1 ORDER BY cluster_id""".stripMargin

  /** Degenerate-generation loop detection — the inference-output QA
    * filter (Holtzman et al. 2020's neural text degeneration shows up
    * as a repeating tail cycle): over the last 30 tokens, the smallest
    * period p ∈ [1, 10] such that tail[i] == tail[i+p] for every
    * aligned i, requiring at least two full cycles. Exact token
    * equality, CASE-chained smallest-p — integer/string logic end to
    * end, no floats. q84's dup-word fraction catches WORD-level
    * repetition; this catches the phrase-cycle shape ("the cat sat
    * the cat sat …") a sampler stuck in a loop emits. Narrow per-row
    * expressions over the tail slice only — no shuffle. */
  private def q435(s: SparkSession, d: String): DataFrame = {
    val w = words(col("text"))
    val tail = when(size(w) >= 30, slice(w, -30, 30)).otherwise(w)
    def periodic(p: Int) = {
      val n = size(col("__tl"))
      (n >= 2 * p) && forall(
        sequence(lit(1), n - lit(p), lit(1)),
        i => element_at(col("__tl"), i) === element_at(col("__tl"), i + p))
    }
    val period = (1 to 10).foldRight(lit(0)) { (p, acc) =>
      when(periodic(p), lit(p)).otherwise(acc)
    }
    t(s, d, "documents")
      .select(col("doc_id"), tail.as("__tl"))
      .filter(size(col("__tl")) >= 2)
      .select(col("doc_id"), size(col("__tl")).as("tail_len"),
        period.as("period"))
      .withColumn("is_degenerate", col("period") >= 1)
      .orderBy(col("doc_id"))
  }

  private val q435Sql = {
    def periodic(p: Int) =
      s"(len(tl) >= ${2 * p} AND len(list_filter(range(1, len(tl) - ${p - 1}), " +
        s"i -> tl[CAST(i AS INTEGER)] <> tl[CAST(i + $p AS INTEGER)])) = 0)"
    val chain = (1 to 10).foldRight("0") { (p, acc) =>
      s"CASE WHEN ${periodic(p)} THEN $p ELSE $acc END"
    }
    s"""WITH w AS (SELECT doc_id,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS w0
       |  FROM documents),
       |tl AS (SELECT doc_id,
       |    CASE WHEN len(w0) >= 30 THEN w0[-30:] ELSE w0 END AS tl
       |  FROM w),
       |p AS (SELECT doc_id, CAST(len(tl) AS INTEGER) AS tail_len,
       |    $chain AS period
       |  FROM tl WHERE len(tl) >= 2)
       |SELECT doc_id, tail_len, period, period >= 1 AS is_degenerate
       |FROM p ORDER BY doc_id""".stripMargin
  }

  /** Leakage-safe train/val/test splitting: a naive per-doc hash split
    * puts near-duplicates on opposite sides of the train/test fence —
    * the classic eval-inflation leak — so the split hash is taken on
    * the q85 CLUSTER id instead: every member of a near-dup cluster
    * lands in one split by construction. The gate emits BOTH
    * assignments (the naive one as the audit contrast); the oracle
    * replays the recursive cluster resolution plus both Knuth-hash
    * bucket maps, and LeakageSafeSplitSpec proves the invariant (no
    * ≥0.8-Jaccard pair straddles safe_split) and that the naive split
    * really does leak on planted twins. */
  private def q434(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.8, hashShingles = true)
    val cl = Clusters.connectedComponents(docs, "doc_id", pairs, "a_id", "b_id")
    val naive = Splits.withSplit(docs.select(col("doc_id")), "doc_id")
      .withColumnRenamed("split", "naive_split")
    val safe = Splits.withSplit(cl, "cluster_id")
      .withColumnRenamed("split", "safe_split")
    naive.join(safe, Seq("doc_id"))
      .select(col("doc_id"), col("cluster_id"),
        col("naive_split"), col("safe_split"))
      .orderBy(col("doc_id"))
  }

  private val q434Sql =
    s"""WITH RECURSIVE ${pairCtes("0.8")},
       |e AS (SELECT a_id AS u, b_id AS v FROM pairs
       |      UNION ALL SELECT b_id, a_id FROM pairs),
       |r(u, v) AS (SELECT doc_id, doc_id FROM documents
       |            UNION SELECT r.u, e.v FROM r JOIN e ON r.v = e.u),
       |cl AS (SELECT u AS doc_id, MIN(v) AS cluster_id FROM r GROUP BY u),
       |sp AS (SELECT doc_id, cluster_id,
       |    (doc_id % 2147483648) * 2654435761 % 4294967296 % 100 AS bd,
       |    (cluster_id % 2147483648) * 2654435761 % 4294967296 % 100 AS bc
       |  FROM cl)
       |SELECT doc_id, cluster_id,
       |  CASE WHEN bd < 80 THEN 'train' WHEN bd < 90 THEN 'val'
       |       ELSE 'test' END AS naive_split,
       |  CASE WHEN bc < 80 THEN 'train' WHEN bc < 90 THEN 'val'
       |       ELSE 'test' END AS safe_split
       |FROM sp ORDER BY doc_id""".stripMargin

  /** Sequence packing (concat-then-chunk, seqLen=512): distributed
    * two-phase global offset vs the oracle's single window cumsum —
    * identical layout row-for-row. */
  private def q86(s: SparkSession, d: String): DataFrame =
    Packing.concatChunk(t(s, d, "documents"), "doc_id", "text", seqLen = 512L)
      .orderBy(col("seq_id"), col("doc_id"))

  private val q86Sql =
    """WITH wc AS (SELECT doc_id,
      |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n
      |  FROM documents),
      |s AS (SELECT doc_id, n,
      |        CAST(SUM(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS start
      |      FROM wc WHERE n > 0),
      |x AS (SELECT doc_id, n, start,
      |        unnest(range(start // 512, (start + n - 1) // 512 + 1)) AS seq_id
      |      FROM s)
      |SELECT seq_id, doc_id,
      |  GREATEST(start - seq_id * 512, 0) AS begin_in_seq,
      |  LEAST(start + n, (seq_id + 1) * 512) - GREATEST(start, seq_id * 512) AS n_tokens
      |FROM x ORDER BY seq_id, doc_id""".stripMargin

  /** PII redaction over deterministic synthetic PII (the testdata corpus
    * carries none, so both engines derive the same email/IP/phone-bearing
    * text from customer columns, then redact + count). */
  private def q87(s: SparkSession, d: String): DataFrame = {
    import graft.functions.PiiFunctions._
    val raw = concat(
      col("c_name"), lit(" <user"), col("c_custkey"), lit("@example.com> ip 10.0."),
      col("c_nationkey"), lit("."), col("c_custkey") % 200, lit(" tel 555-"),
      lpad((col("c_custkey") % 10000).cast("string"), 4, "0"))
    val counts = piiCounts(raw).map { case (n, c) => c.cast("long").as(n) }
    t(s, d, "customer")
      .select(col("c_custkey") +: redactPii(raw).as("redacted") +: counts: _*)
      .orderBy(col("c_custkey"))
  }

  private val q87Sql = {
    import graft.functions.PiiFunctions._
    s"""WITH raw AS (SELECT c_custkey,
       |  c_name || ' <user' || c_custkey || '@example.com> ip 10.0.' || c_nationkey
       |    || '.' || (c_custkey % 200) || ' tel 555-'
       |    || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS t
       |  FROM customer),
       |steps AS (SELECT c_custkey, t,
       |    regexp_replace(t, '$EmailRe', '<EMAIL>', 'g') AS t1,
       |    regexp_replace(regexp_replace(t, '$EmailRe', '<EMAIL>', 'g'),
       |      '$Ipv4Re', '<IP>', 'g') AS t2
       |  FROM raw)
       |SELECT c_custkey,
       |  regexp_replace(t2, '$PhoneRe', '<PHONE>', 'g') AS redacted,
       |  CAST(len(regexp_extract_all(t, '$EmailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(t1, '$Ipv4Re')) AS BIGINT) AS n_ips,
       |  CAST(len(regexp_extract_all(t2, '$PhoneRe')) AS BIGINT) AS n_phones
       |FROM steps ORDER BY c_custkey""".stripMargin
  }

  /** Sliding word-window chunking for RAG ingestion (size=40, stride=30:
    * 10-word overlap), verified chunk-for-chunk against list slicing. */
  private def q88(s: SparkSession, d: String): DataFrame =
    graft.operators.Chunker.slidingWordChunks(
        t(s, d, "documents"), "doc_id", "text", size = 40, stride = 30)
      .orderBy(col("doc_id"), col("chunk_id"))

  private val q88Sql =
    """WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |           FROM documents),
      |n AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS len,
      |        1 + (GREATEST(CAST(len(w) AS BIGINT) - 40, 0) + 29) // 30 AS nc
      |      FROM w),
      |x AS (SELECT doc_id, w, unnest(range(0, nc)) AS chunk_id FROM n)
      |SELECT doc_id, chunk_id,
      |  array_to_string(w[(chunk_id * 30 + 1):(chunk_id * 30 + 40)], ' ') AS chunk_text,
      |  CAST(len(w[(chunk_id * 30 + 1):(chunk_id * 30 + 40)]) AS BIGINT) AS n_words
      |FROM x ORDER BY doc_id, chunk_id""".stripMargin

  /** Unigram rarity quality score (CCNet-style perplexity proxy) with
    * integer-exact floor(log2) bucketing via binary-string length — the
    * whole score is oracle-exact; only the final mean divides. */
  private def q90(s: SparkSession, d: String): DataFrame =
    QualityFilters.unigramRarity(t(s, d, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  private val q90Sql =
    """WITH occ AS (SELECT doc_id,
      |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      |  FROM documents),
      |cf AS (SELECT w, COUNT(*) AS cf FROM occ GROUP BY w),
      |tot AS (SELECT length(bin(COUNT(*))) AS tb FROM occ),
      |sc AS (SELECT doc_id, CAST(tb - length(bin(cf)) AS BIGINT) AS r
      |       FROM occ JOIN cf USING (w) CROSS JOIN tot),
      |agg AS (SELECT doc_id, COUNT(*) AS n_words, CAST(SUM(r) AS BIGINT) AS rarity_sum
      |        FROM sc GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(COALESCE(n_words, 0) AS BIGINT) AS n_words,
      |  CAST(COALESCE(rarity_sum, 0) AS BIGINT) AS rarity_sum,
      |  COALESCE(round(CAST(rarity_sum AS DOUBLE) / n_words, 6), 0.0) AS mean_rarity
      |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Reproducible global shuffle for training order: seeded stable-hash
    * sort, engine-reproducible (distributed range-partition sort). */
  private def q92(s: SparkSession, d: String): DataFrame =
    Splits.deterministicShuffle(
      t(s, d, "documents").select(col("doc_id"), col("lang")), "doc_id", seed = 7L)

  private val q92Sql =
    """SELECT doc_id, lang,
      |  (xor(doc_id % 2147483648, 7) * 2654435761) % 4294967296 AS shuffle_key
      |FROM documents ORDER BY shuffle_key, doc_id""".stripMargin

  /** Incremental near-dedup: a "new batch" (doc_id ≡ 0 mod 10) against
    * the persisted MinHash signature table of the standing corpus (the
    * other 90%). The corpus side is never shuffled — batch band keys
    * broadcast into the candidate join ([[Dedup.minhashLshPairsAgainst]]),
    * so ingest cost tracks the batch. Oracle: exact word-3-gram Jaccard
    * pairs crossing the split (LSH candidate recall ≈1 at 0.85 — the
    * same probability argument as q42). */
  private def q93(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val sig = Dedup.minhashSignatureTable(corpus, "doc_id", "text", 3, 24)
    Dedup.minhashLshPairsAgainst(batch, "doc_id", "text", sig,
        n = 3, numHashes = 24, bands = 8, threshold = 0.85)
      .select(col("b_id"), col("c_id"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("b_id"), col("c_id"))
  }

  private val q93Sql =
    s"""WITH ${pairCtes("0.85")}
       |SELECT CASE WHEN a_id % 10 = 0 THEN a_id ELSE b_id END AS b_id,
       |       CASE WHEN a_id % 10 = 0 THEN b_id ELSE a_id END AS c_id,
       |       round(jac, 6) AS jaccard
       |FROM pairs WHERE (a_id % 10 = 0) <> (b_id % 10 = 0)
       |ORDER BY b_id, c_id""".stripMargin

  /** Bigram-LM surprisal scoring (the KenLM-style quality signal, made
    * oracle-exact): P(w2|w1) estimated as c(w1,w2)/c(w1,·) over the
    * corpus itself, per-token surprisal bucketed to floor(log2(c1/c2))+1
    * via binary-string length — integer arithmetic end to end (the q90
    * trick), so the score is bit-identical across engines; only the
    * final mean divides. A real trained LM plugs into the same dataflow
    * (counts table → join → per-doc sum). */
  /** Per-doc bigram-LM surprisal (the q96 chain), reused by q431's
    * CCNet bucketing. */
  private def surprisalPerDoc(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val words = split(col("text"), " ")
    val w = docs.select(col("doc_id"),
      filter(words, x => x =!= "").as("w"))
    val bg = w.filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(
        zip_with(slice(col("w"), lit(1), size(col("w")) - 1),
                 slice(col("w"), lit(2), size(col("w")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy("w1").agg(sum(col("c2")).as("c1"))
    val scored = bg
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .select(col("doc_id"),
        length(bin((col("c1") / col("c2")).cast("long"))).cast("long").as("r"))
    val agg = scored.groupBy("doc_id").agg(
      count(lit(1)).as("n_bigrams"), sum(col("r")).as("surprisal_sum"))
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("surprisal_sum"), lit(0L)).as("surprisal_sum"),
        coalesce(round(col("surprisal_sum").cast("double") / col("n_bigrams"), 6),
          lit(0.0)).as("mean_surprisal"))
  }

  private def q96(s: SparkSession, d: String): DataFrame =
    surprisalPerDoc(s, d).orderBy(col("doc_id"))

  /** The q96 CTE chain through `agg` (per-doc bigram surprisal),
    * shared with q431's oracle. */
  private val surprisalCtes =
    """w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |           FROM documents),
      |bg AS (SELECT doc_id,
      |         unnest(list_transform(range(len(w) - 1),
      |           i -> {'w1': w[i+1], 'w2': w[i+2]})) AS b
      |       FROM w WHERE len(w) >= 2),
      |p AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
      |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM p GROUP BY 1, 2),
      |c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
      |sc AS (SELECT doc_id, CAST(length(bin(c1 // c2)) AS BIGINT) AS r
      |       FROM p JOIN c2 USING (w1, w2) JOIN c1 USING (w1)),
      |agg AS (SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(r) AS BIGINT) AS surprisal_sum
      |        FROM sc GROUP BY doc_id),
      |sdoc AS (SELECT d.doc_id,
      |  CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |  CAST(COALESCE(surprisal_sum, 0) AS BIGINT) AS surprisal_sum,
      |  COALESCE(round(CAST(surprisal_sum AS DOUBLE) / n_bigrams, 6), 0.0) AS mean_surprisal
      |FROM documents d LEFT JOIN agg USING (doc_id))""".stripMargin

  private val q96Sql =
    s"""WITH $surprisalCtes
       |SELECT doc_id, n_bigrams, surprisal_sum, mean_surprisal
       |FROM sdoc ORDER BY doc_id""".stripMargin

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): per
    * language, documents rank by mean bigram surprisal (the engine's
    * LM-score stand-in, q96) and split into head/middle/tail terciles
    * — head = most predictable (the slice CCNet keeps or upsamples),
    * tail = the gibberish end. NTILE is the standard rank split (group
    * sizes differ by ≤1, larger first) over a fully deterministic
    * order (mean, doc_id), so the assignment is engine-portable. One
    * window over doc-count rows per lang — the corpus-sized work is
    * the q96 counts join underneath. */
  private def q431(s: SparkSession, d: String): DataFrame = {
    val sd = surprisalPerDoc(s, d)
      .join(t(s, d, "documents").select(col("doc_id"), col("lang")), Seq("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("mean_surprisal"), col("doc_id"))
    sd.withColumn("t", ntile(3).over(w))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        col("mean_surprisal"),
        when(col("t") === 1, lit("head"))
          .when(col("t") === 2, lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
      .orderBy(col("doc_id"))
  }

  private val q431Sql =
    s"""WITH $surprisalCtes,
       |ranked AS (SELECT s.doc_id, d.lang, s.n_bigrams, s.mean_surprisal,
       |    NTILE(3) OVER (PARTITION BY d.lang
       |      ORDER BY s.mean_surprisal, s.doc_id) AS t
       |  FROM sdoc s JOIN documents d USING (doc_id))
       |SELECT doc_id, lang, n_bigrams, mean_surprisal,
       |  CASE WHEN t = 1 THEN 'head' WHEN t = 2 THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM ranked ORDER BY doc_id""".stripMargin

  /** Domain-mix sampling for training-data curation: per-source quotas
    * from log₂-bucketed counts (an integer-exact "temperature" that
    * flattens domain imbalance the way T>1 sampling does, without any
    * float in the quota math), filled deterministically by the q92
    * shuffle key so the draw is reproducible and oracle-checkable.
    * Executes through [[graft.operators.DomainMix.sampled]]: a
    * hash-threshold pre-filter bounds the rank window to ~4·quota
    * survivors per source (never the corpus), with a checked bit-exact
    * fallback — the oracle below is the direct full-window form, so the
    * driver verifies the sampled plan against the naive one. */
  private def q97(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("source"))
    val total = lit(200L)
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n"))
      .withColumn("w", length(bin(col("n"))).cast("long"))
    val sumW = counts.agg(sum(col("w"))).head().getLong(0)
    val quotas = counts.withColumn("quota", (total * col("w")).cast("long") / lit(sumW))
      .select(col("source"), col("quota").cast("long").as("quota"), col("n"))
    val key = pmod((col("doc_id") % lit(2147483648L)).bitwiseXOR(lit(7L)) * lit(2654435761L),
      lit(4294967296L))
    graft.operators.DomainMix.sampled(docs, quotas, key)
      .select(col("source"), col("doc_id"), col("rn").cast("long").as("rn"))
      .orderBy(col("source"), col("rn"))
  }

  private val q97Sql =
    """WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
      |w AS (SELECT source, CAST(length(bin(n)) AS BIGINT) AS w FROM c),
      |q AS (SELECT source, (200 * w) // (SELECT SUM(w) FROM w) AS quota FROM w),
      |r AS (SELECT source, doc_id,
      |        ROW_NUMBER() OVER (PARTITION BY source
      |          ORDER BY (xor(doc_id % 2147483648, 7) * 2654435761) % 4294967296, doc_id) AS rn
      |      FROM documents)
      |SELECT source, doc_id, CAST(rn AS BIGINT) AS rn
      |FROM r JOIN q USING (source)
      |WHERE rn <= quota ORDER BY source, rn""".stripMargin

  /** Leakage-safe group split: all documents of one source land in one
    * split (sklearn GroupShuffleSplit semantics) — row-level hashing
    * leaks correlated near-duplicates across train/val. The group key
    * is the engine-reproducible polynomial string hash, so the oracle
    * replays bucket assignment exactly; the per-(source, split) roll-up
    * makes the one-split-per-source invariant directly visible in the
    * compared rows. */
  private def q110(s: SparkSession, d: String): DataFrame =
    graft.operators.Splits.withGroupSplit(
        t(s, d, "documents").select(col("doc_id"), col("source")), "source")
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source"), col("split"))

  private val q110Sql =
    """WITH k AS (SELECT source,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(source, ''), c -> CAST(ascii(c) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 1000000007) AS key
      |  FROM documents),
      |b AS (SELECT source,
      |    (((key % 2147483648) * 2654435761) % 4294967296) % 100 AS bucket FROM k),
      |s AS (SELECT source,
      |    CASE WHEN bucket < 80 THEN 'train'
      |         WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
      |  FROM b)
      |SELECT source, split, COUNT(*) AS n_docs
      |FROM s GROUP BY source, split ORDER BY source, split""".stripMargin

  /** Token-budget domain mix — the training-mix primitive stated in
    * TOKENS rather than document counts ("30B web + 5B code"): each
    * source contributes its minimal deterministic-hash-order document
    * prefix whose token total reaches the source's budget. Executes
    * through [[graft.operators.DomainMix.tokenBudget]]: a
    * hash-threshold pre-filter sized by token mass bounds the
    * cumulative-sum window to ~4·budget survivor tokens per source
    * (never the corpus), with the same checked bit-exact fallback as
    * q97 — the oracle is the direct full-window form, so the driver
    * verifies the bounded plan against the naive one. */
  private def q106(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("source"),
        size(filter(split(col("text"), " "), x => x =!= "")).cast("long").as("n_tokens"))
    val budgets = docs.groupBy("source").agg(sum(col("n_tokens")).as("total_tokens"))
      .withColumn("budget_tokens", (col("total_tokens") / lit(8)).cast("long") + 100L)
    val key = pmod((col("doc_id") % lit(2147483648L)).bitwiseXOR(lit(7L)) * lit(2654435761L),
      lit(4294967296L))
    graft.operators.DomainMix.tokenBudget(docs, budgets, key, "n_tokens")
      .select(col("source"), col("doc_id"), col("n_tokens"))
      .orderBy(col("source"), col("doc_id"))
  }

  private val q106Sql =
    """WITH d AS (SELECT doc_id, source,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |t AS (SELECT source, SUM(n_tokens) AS total FROM d GROUP BY source),
      |b AS (SELECT source, total // 8 + 100 AS budget FROM t),
      |r AS (SELECT source, doc_id, n_tokens,
      |        COALESCE(SUM(n_tokens) OVER (PARTITION BY source
      |          ORDER BY (xor(doc_id % 2147483648, 7) * 2654435761) % 4294967296, doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      |      FROM d)
      |SELECT source, doc_id, n_tokens FROM r JOIN b USING (source)
      |WHERE cum_before < budget ORDER BY source, doc_id""".stripMargin

  /** End-to-end curation pipeline — the capstone composition: quality
    * filter → exact dedup (keep min-id copy) → leakage-safe group split
    * → per-(source, split) corpus accounting, all ONE Spark DAG built
    * from the engine's own operators. What it proves is that the
    * operators COMPOSE: every stage is narrow or single-shuffle, the
    * split assignment rides the dedup survivors without a second scan,
    * and the oracle replays the whole chain relationally — a semantic
    * change to ANY stage breaks the hash. */
  private def q122(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("source"), col("text"),
        size(filter(split(col("text"), " "), x => x =!= "")).cast("long").as("n_tokens"))
    // stage 1: quality floor (Gopher-style min length)
    val filtered = docs.filter(col("n_tokens") >= 20)
    // stage 2: exact dedup — survivors are the min-id copy per text
    val keepers = graft.operators.Dedup.exact(filtered, "doc_id", Seq("text"))
      .select(col("keeper_id").as("doc_id"))
    val deduped = filtered.join(keepers, "doc_id")
    // stage 3: leakage-safe split (whole sources stay together)
    val assigned = graft.operators.Splits.withGroupSplit(deduped, "source")
    // stage 4: corpus accounting per (source, split)
    assigned.groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("source"), col("split"))
  }

  private val q122Sql =
    """WITH d AS (SELECT doc_id, source, text,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |f AS (SELECT * FROM d WHERE n_tokens >= 20),
      |k AS (SELECT MIN(doc_id) AS doc_id FROM f GROUP BY text),
      |dd AS (SELECT f.* FROM f JOIN k USING (doc_id)),
      |h AS (SELECT *,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(source, ''), c -> CAST(ascii(c) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 1000000007) AS key
      |  FROM dd),
      |sp AS (SELECT source, n_tokens,
      |    CASE WHEN (((key % 2147483648) * 2654435761) % 4294967296) % 100 < 80
      |           THEN 'train'
      |         WHEN (((key % 2147483648) * 2654435761) % 4294967296) % 100 < 90
      |           THEN 'val' ELSE 'test' END AS split
      |  FROM h)
      |SELECT source, split, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      |FROM sp GROUP BY source, split ORDER BY source, split""".stripMargin

  /** Cross-document duplicated-span statistics — the substring-level
    * dedup signal (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better", at span granularity): every 20-word
    * window hashed, a span present in ≥2 documents is duplicated text.
    * Per doc: distinct spans, duplicated spans, duplicated fraction —
    * the removal decision is then a filter on `dup_frac`. The engine
    * joins 8-byte span hashes (the scale path: the df shuffle carries
    * longs, not 120-char strings); the oracle recomputes with string
    * spans — identical counts absent a 64-bit collision (the same
    * equivalence q41 rides). */
  private def q100(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val spans = graft.operators.Spread.byKey(docs, "doc_id")
      .select(col("doc_id"),
        explode(graft.functions.TextExpressions.shingle_hashes(col("text"), 20)).as("h"))
    val hot = spans.groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("h"))
    val tot = spans.groupBy(col("doc_id")).agg(count(lit(1)).as("n_spans"))
    val dup = spans.join(hot, Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
    docs.select(col("doc_id"))
      .join(tot, Seq("doc_id"), "left")
      .join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_spans"),
        coalesce(round(col("n_dup").cast("double") / col("n_spans"), 6), lit(0.0))
          .as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  private val q100Sql =
    """WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |           FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |         unnest(list_transform(range(len(w) - 19),
      |           i -> array_to_string(w[(i+1):(i+20)], ' '))) AS s
      |       FROM w WHERE len(w) >= 20),
      |df AS (SELECT s, COUNT(*) AS nd FROM sh GROUP BY s),
      |tot AS (SELECT doc_id, COUNT(*) AS n_spans FROM sh GROUP BY doc_id),
      |dup AS (SELECT doc_id, COUNT(*) AS n_dup
      |        FROM sh JOIN df USING (s) WHERE nd >= 2 GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(COALESCE(n_spans, 0) AS BIGINT) AS n_spans,
      |  CAST(COALESCE(n_dup, 0) AS BIGINT) AS n_dup_spans,
      |  COALESCE(round(CAST(n_dup AS DOUBLE) / n_spans, 6), 0.0) AS dup_frac
      |FROM documents d LEFT JOIN tot USING (doc_id) LEFT JOIN dup USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Span-level dedup REMOVAL — the execution half of q100's detection
    * (the missing step of Lee et al. 2022: after `dup_frac` flags
    * duplicated substrings, a curation run EXCISES them). Duplicated
    * 20-token windows merge into maximal contiguous removed regions
    * (lag→flag→cumsum islands over window offsets, the q24 shape) and
    * each document is rewritten with those regions cut out, plus
    * removed-token/run accounting. The engine rides positional 8-byte
    * span hashes; the oracle replays the whole
    * window→merge→cut chain with string spans — identical output absent
    * a 64-bit collision (the q41/q100 equivalence), so a wrong island
    * boundary, off-by-one cover, or mis-cut token anywhere breaks the
    * hash. */
  private def q422(s: SparkSession, d: String): DataFrame =
    Dedup.removeDuplicatedSpans(t(s, d, "documents"), "doc_id", "text", k = 20)
      .orderBy(col("doc_id"))

  private val q422Sql =
    """WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |           FROM documents),
      |sp AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
      |         array_to_string(w[(i+1):(i+20)], ' ') AS s
      |       FROM (SELECT doc_id, w, unnest(range(len(w) - 19)) AS i
      |             FROM w WHERE len(w) >= 20)),
      |hot AS (SELECT s FROM (SELECT s, COUNT(DISTINCT doc_id) AS nd
      |                       FROM sp GROUP BY s) WHERE nd >= 2),
      |dup AS (SELECT doc_id, i FROM sp WHERE s IN (SELECT s FROM hot)),
      |fl AS (SELECT doc_id, i,
      |         CASE WHEN i - LAG(i) OVER (PARTITION BY doc_id ORDER BY i) <= 20
      |              THEN 0 ELSE 1 END AS nw
      |       FROM dup),
      |isl AS (SELECT doc_id, i,
      |          SUM(nw) OVER (PARTITION BY doc_id ORDER BY i) AS run
      |        FROM fl),
      |runs AS (SELECT doc_id, MIN(i) AS lo, MAX(i) + 19 AS hi
      |         FROM isl GROUP BY doc_id, run),
      |tok AS (SELECT doc_id, CAST(i AS BIGINT) AS i, w[i+1] AS tk
      |        FROM (SELECT doc_id, w, unnest(range(len(w))) AS i FROM w)),
      |kept AS (SELECT t.doc_id, t.i, t.tk FROM tok t
      |         WHERE NOT EXISTS (SELECT 1 FROM runs r
      |           WHERE r.doc_id = t.doc_id AND t.i BETWEEN r.lo AND r.hi)),
      |rr AS (SELECT doc_id, CAST(SUM(hi - lo + 1) AS BIGINT) AS n_removed,
      |         CAST(COUNT(*) AS BIGINT) AS n_runs FROM runs GROUP BY doc_id),
      |kt AS (SELECT doc_id, string_agg(tk, ' ' ORDER BY i) AS new_text
      |       FROM kept GROUP BY doc_id)
      |SELECT d.doc_id, CAST(len(w.w) AS BIGINT) AS n_tokens,
      |  CAST(COALESCE(rr.n_removed, 0) AS BIGINT) AS n_removed,
      |  CAST(COALESCE(rr.n_runs, 0) AS BIGINT) AS n_runs,
      |  COALESCE(kt.new_text, '') AS new_text
      |FROM documents d JOIN w ON w.doc_id = d.doc_id
      |LEFT JOIN rr ON rr.doc_id = d.doc_id
      |LEFT JOIN kt ON kt.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** q422's KEEP-ONE form — the variant Lee et al.'s ExactSubstr dedup
    * actually ships: duplicated text survives in exactly one place
    * (each span's globally first occurrence by (doc, offset) is exempt;
    * every other occurrence is excised). The oracle replays the keeper
    * selection as a QUALIFY row_number over string spans, then the same
    * island-merge-cut chain — so a wrong keeper pick, tie-break, or
    * exemption leak anywhere breaks the hash. */
  private def q423(s: SparkSession, d: String): DataFrame =
    Dedup.removeDuplicatedSpans(t(s, d, "documents"), "doc_id", "text",
        k = 20, keepFirst = true)
      .orderBy(col("doc_id"))

  private val q423Sql =
    """WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |           FROM documents),
      |sp AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
      |         array_to_string(w[(i+1):(i+20)], ' ') AS s
      |       FROM (SELECT doc_id, w, unnest(range(len(w) - 19)) AS i
      |             FROM w WHERE len(w) >= 20)),
      |hot AS (SELECT s FROM (SELECT s, COUNT(DISTINCT doc_id) AS nd
      |                       FROM sp GROUP BY s) WHERE nd >= 2),
      |ha AS (SELECT doc_id, i, s FROM sp WHERE s IN (SELECT s FROM hot)),
      |dup AS (SELECT doc_id, i FROM ha
      |        QUALIFY ROW_NUMBER() OVER (PARTITION BY s ORDER BY doc_id, i) > 1),
      |fl AS (SELECT doc_id, i,
      |         CASE WHEN i - LAG(i) OVER (PARTITION BY doc_id ORDER BY i) <= 20
      |              THEN 0 ELSE 1 END AS nw
      |       FROM dup),
      |isl AS (SELECT doc_id, i,
      |          SUM(nw) OVER (PARTITION BY doc_id ORDER BY i) AS run
      |        FROM fl),
      |runs AS (SELECT doc_id, MIN(i) AS lo, MAX(i) + 19 AS hi
      |         FROM isl GROUP BY doc_id, run),
      |tok AS (SELECT doc_id, CAST(i AS BIGINT) AS i, w[i+1] AS tk
      |        FROM (SELECT doc_id, w, unnest(range(len(w))) AS i FROM w)),
      |kept AS (SELECT t.doc_id, t.i, t.tk FROM tok t
      |         WHERE NOT EXISTS (SELECT 1 FROM runs r
      |           WHERE r.doc_id = t.doc_id AND t.i BETWEEN r.lo AND r.hi)),
      |rr AS (SELECT doc_id, CAST(SUM(hi - lo + 1) AS BIGINT) AS n_removed,
      |         CAST(COUNT(*) AS BIGINT) AS n_runs FROM runs GROUP BY doc_id),
      |kt AS (SELECT doc_id, string_agg(tk, ' ' ORDER BY i) AS new_text
      |       FROM kept GROUP BY doc_id)
      |SELECT d.doc_id, CAST(len(w.w) AS BIGINT) AS n_tokens,
      |  CAST(COALESCE(rr.n_removed, 0) AS BIGINT) AS n_removed,
      |  CAST(COALESCE(rr.n_runs, 0) AS BIGINT) AS n_runs,
      |  COALESCE(kt.new_text, '') AS new_text
      |FROM documents d JOIN w ON w.doc_id = d.doc_id
      |LEFT JOIN rr ON rr.doc_id = d.doc_id
      |LEFT JOIN kt ON kt.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Competence-based curriculum pacing (Platanios et al. 2019): docs
    * rank by difficulty (mean bigram surprisal — the q96 chain — with
    * PERCENT_RANK over the deterministic (score, id) order) and the
    * competence function c(t) = min(1, √(t/T·(1−c0²)+c0²)) (c0 = 0.1,
    * T = 20) gates which difficulty prefix is trainable at each step —
    * the schedule a curriculum loader executes. Per step: competence,
    * eligible docs, eligible token mass. The eligibility compare uses
    * the UNROUNDED competence (identical doubles both engines — sqrt
    * is correctly rounded); the docs×steps fan is a constant ×T
    * broadcast, not a corpus shuffle. Honest cap: the PERCENT_RANK
    * here is a global one-partition window (oracle-parity form); at
    * corpus scale the percentile comes from
    * [[graft.operators.ExactQuantile.globalRanks]]' two-phase
    * bucket-select instead — the schedule needs only the T threshold
    * scores, not a ranked corpus. */
  private def q433(s: SparkSession, d: String): DataFrame = {
    val diff = surprisalPerDoc(s, d)
      .join(t(s, d, "documents")
        .select(col("doc_id"), size(words(col("text"))).cast("long").as("nw")),
        Seq("doc_id"))
      .withColumn("pr", percent_rank().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("mean_surprisal"), col("doc_id"))))
    val steps = s.range(1, 21).select(col("id").as("step"))
    val c = least(lit(1.0),
      sqrt(col("step").cast("double") / lit(20.0) * lit(0.99) + lit(0.01)))
    diff.crossJoin(broadcast(steps.withColumn("__c", c)))
      .filter(col("pr") <= col("__c"))
      .groupBy(col("step"))
      .agg(count(lit(1)).as("n_eligible"), sum(col("nw")).as("eligible_tokens"))
      .join(steps.withColumn("competence", round(c, 6)), Seq("step"))
      .select(col("step"), col("competence"), col("n_eligible"),
        col("eligible_tokens"))
      .orderBy(col("step"))
  }

  private val q433Sql =
    s"""WITH $surprisalCtes,
       |nw AS (SELECT doc_id,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
       |      AS BIGINT) AS nw
       |  FROM documents),
       |diff AS (SELECT s.doc_id, nw.nw,
       |    PERCENT_RANK() OVER (ORDER BY s.mean_surprisal, s.doc_id) AS pr
       |  FROM sdoc s JOIN nw USING (doc_id)),
       |steps AS (SELECT CAST(unnest(range(1, 21)) AS BIGINT) AS step),
       |comp AS (SELECT step,
       |    least(1.0, sqrt(step / 20.0 * 0.99 + 0.01)) AS c FROM steps)
       |SELECT comp.step, round(comp.c, 6) AS competence,
       |  CAST(COUNT(*) AS BIGINT) AS n_eligible,
       |  CAST(SUM(diff.nw) AS BIGINT) AS eligible_tokens
       |FROM comp JOIN diff ON diff.pr <= comp.c
       |GROUP BY comp.step, comp.c ORDER BY comp.step""".stripMargin

  /** No-split SFT bin packing — [[graft.operators.Packing.binPackDocs]]
    * (documents stay intact in their sequence; q86's concat-then-chunk
    * is the pretraining layout, this is the instruction-tuning one):
    * shard-local next-fit-decreasing over whitespace token counts,
    * seqLen 128, 8 shards. The oracle replays the stateful fold as a
    * recursive CTE advancing every shard's rank-r document per step —
    * sort order, shard hash, overflow rule, and fill transition are
    * all hash-load-bearing. */
  private def q432(s: SparkSession, d: String): DataFrame =
    graft.operators.Packing.binPackDocs(t(s, d, "documents"), "doc_id",
        size(words(col("text"))), seqLen = 128L, shards = 8)
      .orderBy(col("doc_id"))

  private val q432Sql =
    """WITH RECURSIVE
      |d AS (SELECT doc_id AS doc,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
      |      AS BIGINT) AS tok,
      |    doc_id % 8 AS shard
      |  FROM documents),
      |r AS (SELECT doc, tok, shard,
      |    ROW_NUMBER() OVER (PARTITION BY shard ORDER BY tok DESC, doc) AS rn
      |  FROM d WHERE tok > 0),
      |st AS (
      |  SELECT doc, tok, shard, rn,
      |    CAST(CASE WHEN tok > 128 THEN -1 ELSE 0 END AS BIGINT) AS bin,
      |    CAST(CASE WHEN tok > 128 THEN -1 ELSE 0 END AS BIGINT) AS cur_bin,
      |    CAST(CASE WHEN tok > 128 THEN 128 ELSE tok END AS BIGINT) AS fill
      |  FROM r WHERE rn = 1
      |  UNION ALL
      |  SELECT r.doc, r.tok, r.shard, r.rn,
      |    CASE WHEN r.tok > 128 THEN CAST(-1 AS BIGINT)
      |         WHEN st.fill + r.tok <= 128 THEN st.cur_bin
      |         ELSE st.cur_bin + 1 END AS bin,
      |    CASE WHEN r.tok > 128 THEN st.cur_bin
      |         WHEN st.fill + r.tok <= 128 THEN st.cur_bin
      |         ELSE st.cur_bin + 1 END AS cur_bin,
      |    CASE WHEN r.tok > 128 THEN st.fill
      |         WHEN st.fill + r.tok <= 128 THEN st.fill + r.tok
      |         ELSE r.tok END AS fill
      |  FROM st JOIN r ON r.shard = st.shard AND r.rn = st.rn + 1)
      |SELECT doc AS doc_id, tok AS n_tokens, shard, bin
      |FROM st ORDER BY doc""".stripMargin

  /** LSH design audit — the corpus' exact-Jaccard pair mass folded
    * through the production (b=8, r=3) S-curve,
    * [[graft.operators.Dedup.lshCaptureAudit]]: per similarity bin,
    * how many pairs exist and how many the band join would surface.
    * Pairs come from the exact join at a LOW threshold (0.05) so the
    * soft region of the curve is populated; the oracle replays the
    * q41 pair chain, the binning, and the power-curve fold. */
  private def q427(s: SparkSession, d: String): DataFrame =
    Dedup.lshCaptureAudit(
      Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
        n = 3, threshold = 0.05, hashShingles = true),
      bands = 8, rowsPerBand = 3)

  private val q427Sql =
    s"""WITH ${pairCtes("0.05")},
       |b AS (SELECT least(CAST(floor(jac * 20) AS BIGINT), 19) AS bin
       |      FROM pairs),
       |n AS (SELECT bin, COUNT(*) AS n_pairs FROM b GROUP BY bin)
       |SELECT bin, round(bin / 20.0, 6) AS s_lo, n_pairs,
       |  round(1.0 - power(1.0 - power((bin + 0.5) / 20.0, 3.0), 8.0), 6)
       |    AS capture_prob,
       |  round(n_pairs *
       |    (1.0 - power(1.0 - power((bin + 0.5) / 20.0, 3.0), 8.0)), 6)
       |    AS expected_caught
       |FROM n ORDER BY bin""".stripMargin

  /** Mixture resampling — the data-mixing step that turns corpus
    * proportions into training proportions, with oversampling expressed
    * as real row repetition the way a training loader consumes it:
    * floor(w) copies per row plus a deterministic fractional top-up on
    * the 0-9999 id-hash grid. Fixed literal weights here so the
    * distributed repetition machinery rides a hash oracle;
    * [[graft.operators.Splits.temperatureWeights]] (the driver-side
    * weight derivation) is spec-covered. */
  private def q101(s: SparkSession, d: String): DataFrame =
    Splits.resampleByWeight(
        t(s, d, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang",
        weights = Map("en" -> 0.25, "de" -> 1.5, "zh" -> 2.0),
        defaultWeight = 1.0)
      .select(col("doc_id"), col("lang"), col("copy_id"))
      .orderBy(col("doc_id"), col("copy_id"))

  private val q101Sql =
    """WITH x AS (SELECT doc_id, lang,
      |  (doc_id % 2147483648) * 2654435761 % 4294967296 % 10000 AS b FROM documents),
      |r AS (SELECT doc_id, lang,
      |  CASE WHEN lang = 'en' THEN 0 WHEN lang = 'de' THEN 1
      |       WHEN lang = 'zh' THEN 2 ELSE 1 END
      |  + CASE WHEN b < CASE WHEN lang = 'en' THEN 2500 WHEN lang = 'de' THEN 5000
      |                       WHEN lang = 'zh' THEN 0 ELSE 0 END
      |         THEN 1 ELSE 0 END AS reps
      |  FROM x)
      |SELECT doc_id, lang, CAST(unnest(range(reps)) AS BIGINT) AS copy_id
      |FROM r WHERE reps > 0 ORDER BY doc_id, copy_id""".stripMargin

  /** Exact top-20 corpus words via sketch-then-verify heavy hitters
    * ([[graft.operators.Frequency.heavyHitters]]) — no vocabulary-sized
    * shuffle: a bounded per-task frequent-items summary nominates
    * candidates (no false negatives above the support), exact counting
    * touches candidate rows only. Oracle: the full groupBy top-20. */
  private def q102(s: SparkSession, d: String): DataFrame = {
    val tokens = t(s, d, "documents")
      .select(explode(words(col("text"))).as("w"))
      .filter(col("w") =!= "")
    graft.operators.Frequency.heavyHitters(tokens, "w", k = 20, support = 0.01)
  }

  private val q102Sql =
    """WITH w AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      |           FROM documents)
      |SELECT w, COUNT(*) AS cnt FROM w GROUP BY w
      |ORDER BY cnt DESC, w LIMIT 20""".stripMargin

  /** Near-duplicate COMMUNITIES: the q41 Jaccard pair graph fed through
    * deterministic label propagation ([[graft.operators.LabelProp]]) —
    * where q85's connected components answer "which docs are
    * transitively linked", communities answer "which docs cluster
    * densely" (a long weak chain of borderline pairs splits instead of
    * collapsing into one mega-cluster). One composed DAG, the
    * q122/q183 composition discipline: a semantic change to either
    * stage breaks the oracle hash. */
  private def q195(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.ngramJaccardPairs(
      t(s, d, "documents"), "doc_id", "text", n = 3, threshold = 0.8)
    graft.operators.LabelProp.run(pairs, "a_id", "b_id", iterations = 3)
      .groupBy(col("label")).agg(count(lit(1)).as("n_members"))
      .orderBy(col("n_members").desc, col("label"))
      .limit(30)
  }

  private lazy val q195Sql =
    s"""WITH ${pairCtes("0.8")},
       |${graft.operators.LabelProp.oracleCtes(
            "SELECT a_id AS a, b_id AS b FROM pairs", iterations = 3)}
       |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members
       |FROM l3 GROUP BY label ORDER BY n_members DESC, label LIMIT 30""".stripMargin

  override val queries: Seq[Q] = Seq(
    Q("q40_dedup_exact", q40, Some(q40Sql)),
    Q("q41_dedup_ngram_jaccard", q41, Some(jaccardSql("0.8")), headline = true),
    Q("q42_dedup_minhash_lsh", q42, Some(jaccardSql("0.85")), headline = true),
    Q("q43_dedup_simhash", q43, Some(q43Sql)),
    Q("q44_lang_id", q44, Some(q44Sql)),
    Q("q45_quality_score", q45, Some(q45Sql)),
    Q("q46_token_stats", q46, Some(q46Sql)),
    Q("q47_fingerprint", q47, Some(q47Sql)),
    Q("q48_corpus_stats", q48, Some(q48Sql)),
    Q("q49_pivot_lang", q49, Some(q49Sql)),
    Q("q51_train_split", q51, Some(q51Sql)),
    Q("q69_stratified_sample", q69, Some(q69Sql)),
    Q("q83_decontaminate", q83, Some(q83Sql)),
    Q("q84_repetition_filter", q84, Some(q84Sql)),
    Q("q85_dedup_clusters", q85, Some(q85Sql), headline = true),
    Q("q86_pack_sequences", q86, Some(q86Sql), headline = true),
    Q("q87_pii_redact", q87, Some(q87Sql)),
    Q("q88_chunk_sliding", q88, Some(q88Sql)),
    Q("q90_rarity_score", q90, Some(q90Sql)),
    Q("q92_shuffle_order", q92, Some(q92Sql)),
    Q("q93_dedup_incremental", q93, Some(q93Sql), headline = true),
    Q("q96_lm_surprisal", q96, Some(q96Sql), headline = true),
    Q("q97_domain_mix", q97, Some(q97Sql), headline = true),
    Q("q100_span_dedup", q100, Some(q100Sql), headline = true),
    Q("q101_mixture_resample", q101, Some(q101Sql), headline = true),
    Q("q102_heavy_hitters", q102, Some(q102Sql), headline = true),
    Q("q106_token_budget_mix", q106, Some(q106Sql), headline = true),
    Q("q109_cluster_representative", q109, Some(q109Sql)),
    Q("q110_group_split", q110, Some(q110Sql)),
    Q("q122_pipeline_e2e", q122, Some(q122Sql), headline = true),
    Q("q137_bpe_train", q137, Some(q137Sql)),
    Q("q195_neardup_communities", q195, Some(q195Sql)),
    Q("q422_span_removal", q422, Some(q422Sql)),
    Q("q423_span_removal_keep_first", q423, Some(q423Sql)),
    Q("q427_lsh_design_audit", q427, Some(q427Sql)),
    Q("q429_tokenizer_fertility", q429, Some(q429Sql)),
    Q("q431_ccnet_buckets", q431, Some(q431Sql)),
    Q("q432_sft_packing", q432, Some(q432Sql)),
    Q("q433_curriculum_pacing", q433, Some(q433Sql)),
    Q("q434_leakage_safe_split", q434, Some(q434Sql)),
    Q("q435_loop_detection", q435, Some(q435Sql)))

  /** BPE vocabulary training via [[graft.functions.BpeTrainer]]: 12
    * merges induced from the documents corpus (one corpus pass for the
    * word-frequency table, a bounded collect, then the driver merge
    * loop). The merge table IS the output; the oracle replays training
    * verbatim as unrolled CTE steps (pair-count argmax + literal replace
    * per step), so a wrong count, tie-break, or merge application at ANY
    * step changes every later merge and breaks the hash. */
  private def q137(s: SparkSession, d: String): DataFrame = {
    val bpe = graft.functions.BpeTrainer.trainWords(t(s, d, "documents"), "text",
      numMerges = 12, site = "q137_bpe_train")
    import s.implicits._
    bpe.merges.zipWithIndex.map { case (pr, i) => (i + 1, pr) }.toDF("step", "pair")
  }

  // lazy: declared below the `queries` val, which captures it at init
  private lazy val q137Sql: String = {
    val steps = 12
    val ctes = scala.collection.mutable.ArrayBuffer(
      """words AS MATERIALIZED (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY w)""".stripMargin,
      """w0 AS MATERIALIZED (SELECT array_to_string(list_transform(range(length(w)), i -> w[i+1]), ' ') AS toks, cnt FROM words)""")
    val sel = scala.collection.mutable.ArrayBuffer.empty[String]
    for (s <- 1 to steps) {
      ctes += s"""p$s AS MATERIALIZED (
        |  SELECT z[1] || ' ' || z[2] AS pr, SUM(cnt) AS c
        |  FROM (SELECT unnest(list_zip(string_split(toks,' '), string_split(toks,' ')[2:])) AS z, cnt FROM w${s - 1})
        |  WHERE z[2] IS NOT NULL GROUP BY 1)""".stripMargin
      ctes += s"b$s AS (SELECT pr FROM p$s ORDER BY c DESC, pr LIMIT 1)"
      // boundary-anchored merge, the SQL form of BpeTrainer.mergeLoop's
      // left-to-right application: pad the word with sentinel spaces,
      // replace ' left right ' -> ' left~right ' twice (a left-to-right
      // replace consumes a match's trailing space, so it skips every
      // second occurrence in a run like 'l r l r'; two misses are never
      // adjacent, so the second pass catches them all), trim
      ctes += s"""b${s}x AS (SELECT ' ' || pr || ' ' AS pat, ' ' || replace(pr,' ','~') || ' ' AS rep FROM b$s)"""
      ctes += s"""w$s AS MATERIALIZED (SELECT trim(replace(replace(' ' || toks || ' ',
        |  (SELECT pat FROM b${s}x), (SELECT rep FROM b${s}x)),
        |  (SELECT pat FROM b${s}x), (SELECT rep FROM b${s}x))) AS toks, cnt FROM w${s - 1})""".stripMargin
      sel += s"SELECT $s AS step, (SELECT pr FROM b$s) AS pair"
    }
    "WITH " + ctes.mkString(",\n") + "\n" +
      sel.mkString(" UNION ALL ") + " ORDER BY step"
  }
}

